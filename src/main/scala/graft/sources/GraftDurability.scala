package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Durable backing of a [[GraftTable]]: parquet segment files plus a
  * JSON commit log on local disk — the transaction-log layout (Delta's
  * `_delta_log` + data files) that makes a table OUTLIVE the JVM and
  * exceed its heap. Everything the in-memory log carries persists:
  * per-commit schema (with field ids), the complete post-commit file
  * census with zone maps / sizes / group keys, the commit's CDC record
  * (added/removed files), delete vectors, CHECK constraints, and the
  * monotonic field-id counter. A fresh catalog instance pointed at the
  * same warehouse serves the table — data, time travel, CDF — written
  * before it.
  *
  * COMMIT PROTOCOL (multi-writer): each log entry lands by atomic
  * hard-link CAS (`Files.createLink` fails loudly when the version
  * already exists), under a per-table commit lease — an OS file lock
  * (cross-process) nested in a JVM-wide monitor (file locks are
  * per-process). A writer entering a commit first REPLAYS any log
  * entries it has not seen, so the existing optimistic conflict checks
  * (identity-prefix / lost-update, GraftMorSpec) fire exactly as they
  * do for in-JVM concurrency: concurrent appends both land; a COW/MOR
  * rewrite racing another writer aborts with
  * ConcurrentModificationException. That is the Delta commit protocol
  * (mutual exclusion on the log tail + optimistic semantic checks).
  * Both primitives live behind [[GraftLogStore]] — the protocol itself
  * uses nothing an object store cannot provide. */
private[sources] final class GraftTableDurability(val log: GraftTableLog) {
  /** ref string (as written in log entries) → the ONE file object per
    * segment, so identity-based structures (delete vectors, the
    * prefix-identity conflict check, CDC file sharing) survive decode. */
  val registry: TrieMap[String, GraftDataFile] = TrieMap.empty

  /** Versions this process knows to hold a FULL state snapshot — the
    * v0 creation entry plus every checkpoint — i.e. the versions a log
    * fold can start from. Log-entry reclaim may only delete entries
    * below the newest anchor ≤ the retained-history base (a delta
    * entry is unreadable without a preceding anchor). Foreign
    * processes' checkpoints may be missing from this set — that is
    * merely conservative (reclaim deletes less; reclaim re-reads the
    * `ckpt/` listing to pick them up). An AtomicReference where EVERY
    * mutation — single adds and the loader's seed alike — is a CAS
    * MERGE, so no interleaving can ever lose an anchor (a wholesale
    * `set` racing an add would; merging only ever widens, and a stale
    * extra anchor is harmless — reclaim's floor takes the NEWEST
    * anchor at or below the base, never a superseded older one). */
  private val anchorSet = new java.util.concurrent.atomic.AtomicReference(
    scala.collection.immutable.SortedSet(0))

  def anchors: scala.collection.immutable.SortedSet[Int] = anchorSet.get()
  def anchors_=(s: scala.collection.immutable.SortedSet[Int]): Unit = {
    anchorSet.updateAndGet(_ ++ s); ()
  }

  def addAnchor(v: Int): Unit = { anchorSet.updateAndGet(_ + v); () }

  /** Per-SIBLING-chain referenced-ref cache for tree-aware retention:
    * chain key ("" = main, else the branch name) → (chain identity
    * (first entry's version/mtime/size — a dropped-and-recreated chain
    * under the same name changes it), head version, dir-relative
    * refs). A cache hit costs one name listing + one stat instead of
    * re-parsing the sibling's whole retained log per retention slide;
    * staleness is SAFE by construction — entries are immutable and a
    * sibling's own reclaim only shrinks its set, so a stale entry is a
    * superset that merely retains more. */
  val siblingRefCache: TrieMap[String, ((Int, Long, Long), Int, Set[String])] =
    TrieMap.empty

  /** Tag ref/snapshot caches: a tag FILE is immutable once created, so
    * its decoded refs (for retention pinning) and its decoded snapshot
    * table (for `t@tag` reads) cache keyed by the file's (mtime, size)
    * IDENTITY — a hit is only served when the identity still matches
    * on disk, so a cross-process DROP + re-CREATE under the same name
    * can neither pin nor serve the wrong snapshot, and a dropped tag's
    * cached snapshot stops serving at the next read. */
  val tagRefCache: TrieMap[String, ((Long, Long), Set[String])] =
    TrieMap.empty
  val tagSnapshotCache: TrieMap[String, ((Long, Long), AnyRef)] =
    TrieMap.empty

  /** Tag EXPIRY cache (r18): (identity → the declared
    * (refAgeHours, createdMicros), None when the tag never expires).
    * The expiry check runs on EVERY `t@tag` read — without this it
    * would re-parse the tag's whole census JSON per read, defeating
    * the snapshot cache. Identity-keyed like the other tag caches. */
  val tagExpiryCache
      : TrieMap[String, ((Long, Long), Option[(Double, Long)])] =
    TrieMap.empty
}

/** One lazily-loadable parquet segment: the durable body of a
  * [[GraftDataFile]]. `reads` reports the JVM-global load census for
  * this segment's path — the surface specs use to prove untouched data
  * is never read (executor-side partition readers count too). */
final class GraftSegmentHandle(val path: Path, val schema: StructType) {
  def reads: Long = GraftSegmentIO.readsOf(path)
  def load(): Array[InternalRow] = GraftSegmentIO.readAll(path, schema)
}

/** The portability seam of the commit protocol — Delta's `LogStore`.
  * A durable commit needs exactly TWO primitives beyond plain reads:
  * an ATOMIC PUT-IF-ABSENT (the version CAS that decides which writer
  * owns commit N) and a MUTUAL-EXCLUSION LEASE around the
  * read-check-write window. Everything else in [[GraftTableLog]] is
  * plain object I/O. On a local filesystem the CAS is a hard link and
  * the lease an OS file lock; on an object store the same interface is
  * served by conditional puts (S3 `If-None-Match`, GCS preconditions,
  * ABFS ETags) and an external lock service — which neither hard links
  * nor `FileChannel.lock` can express, hence the seam. */
trait GraftLogStore {
  /** Atomically create `target` holding `bytes` iff absent. True when
    * this writer won; false when the name already existed. Losing MUST
    * leave no partial object behind. */
  def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean

  /** Run `body` holding the exclusive commit lease for `key`.
    * Reentrant per thread; mutually exclusive across threads (and,
    * where the backend can express it, across processes). */
  def withLease[T](key: Path)(body: => T): T

  /** Delete `target` (reclaim's half of the protocol). MUST free the
    * name for a future [[putIfAbsent]]: a CAS backend that remembers
    * deleted names would let a later checkpoint install "win" its
    * part CAS without rewriting the missing bytes — a live manifest
    * over absent parts. */
  def delete(target: Path): Unit = { Files.deleteIfExists(target); () }
}

object GraftLogStore {

  /** One JVM-shared conditional-put fake: the "object store service"
    * every catalog instance configured with
    * `warehouse.logstore=conditional-put` talks to — shared so a
    * restart (an isolated second catalog over the same warehouse)
    * sees the same CAS name-space, exactly as S3 would. Test surface;
    * production stays on [[LocalFs]]. */
  lazy val sharedConditionalPut: InMemoryCas = new InMemoryCas

  /** Resolve a catalog's `warehouse.logstore` option (null = default). */
  def byName(name: String): GraftLogStore = name match {
    case null | "" | "local-fs" => LocalFs
    case "conditional-put" => sharedConditionalPut
    case "file-cas" => FileCas
    case other => throw new IllegalArgumentException(
      s"unknown logstore '$other' (expected local-fs | conditional-put " +
        "| file-cas)")
  }

  /** Local-filesystem backend: hard-link CAS (atomic on POSIX; fails
    * loudly with FileAlreadyExists when the version is taken) + an OS
    * file lock for the cross-process lease, nested in a JVM-wide
    * monitor because file locks are held PER-PROCESS (a second lock
    * attempt from the same JVM throws instead of blocking). */
  object LocalFs extends GraftLogStore {
    override def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
      val tmp = target.resolveSibling(target.getFileName.toString +
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.write(tmp, bytes)
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    }

    override def withLease[T](key: Path)(body: => T): T = {
      val k = key.toAbsolutePath.normalize.toString
      val held = GraftTableLog.heldLocks.get()
      if (held.contains(k)) body
      else {
        val mon = GraftTableLog.monitors.computeIfAbsent(k, _ => new Object)
        mon.synchronized {
          val ch = java.nio.channels.FileChannel.open(key,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            val l = ch.lock()
            held += k
            try body finally { held -= k; l.release() }
          } finally ch.close()
        }
      }
    }
  }

  /** CROSS-PROCESS conditional-put backend shaped like an object store
    * — atomic CREATE-NEW semantics ONLY: no hard links, no OS file
    * locks (the two LocalFs primitives an object store lacks). The
    * version CAS is `open(O_CREAT|O_EXCL)` — the one atomic
    * name-claiming primitive every POSIX filesystem shares with a
    * conditional put — and the lease is a LOCK-SERVICE STAND-IN: a
    * spin on create-new of `<key>.owner`, released by delete, with an
    * age-gated crash-recovery takeover. This is the backend the REAL
    * multi-process soak runs against (ForkedWriterMain), proving the
    * commit protocol end-to-end across process boundaries on
    * conditional-put semantics alone.
    *
    * Documented gaps vs a real object store (test surface, like
    * [[InMemoryCas]]): (1) a true conditional put is all-or-nothing,
    * while here the content write FOLLOWS the atomic name claim — a
    * crash inside that window leaves a torn object behind a claimed
    * name (the fold fails LOUDLY on it, never silently); (2) the
    * stale-lease takeover (rename-to-tombstone, so exactly one
    * claimant wins the recovery) has a theoretical mis-takeover window
    * a lock service with fencing tokens closes. Production stays on
    * [[LocalFs]] locally; a real deployment binds S3/GCS conditional
    * puts plus a lock service behind this same seam. */
  object FileCas extends GraftLogStore {
    /** How long a held lease may sit untouched before a peer presumes
      * its holder crashed. Spin-held leases refresh nothing — the
      * window just needs to exceed any legitimate commit. */
    @volatile var leaseTtlMillis: Long = 5L * 60 * 1000

    override def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean =
      try {
        Files.write(target, bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }

    override def withLease[T](key: Path)(body: => T): T = {
      val k = key.toAbsolutePath.normalize.toString
      val held = GraftTableLog.heldLocks.get()
      if (held.contains(k)) return body
      val owner = key.resolveSibling(key.getFileName.toString + ".owner")
      // in-process threads serialize on a JVM monitor first (cheap);
      // processes contend on the owner-file create-new
      val mon = GraftTableLog.monitors.computeIfAbsent(
        k + "#filecas", _ => new Object)
      mon.synchronized {
        var acquired = false
        while (!acquired) {
          acquired =
            try {
              Files.write(owner,
                (java.lang.management.ManagementFactory.getRuntimeMXBean
                  .getName + "\n").getBytes(UTF_8),
                java.nio.file.StandardOpenOption.CREATE_NEW,
                java.nio.file.StandardOpenOption.WRITE)
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                // crash recovery: a lease older than the TTL is
                // presumed orphaned; the RENAME to a tombstone is the
                // atomic claim (exactly one recoverer wins — the
                // loser's rename throws), then both re-contend on
                // create-new
                try {
                  if (Files.getLastModifiedTime(owner).toMillis <
                      System.currentTimeMillis() - leaseTtlMillis) {
                    val tomb = owner.resolveSibling(
                      owner.getFileName.toString + ".stale-" +
                        java.util.UUID.randomUUID().toString.take(8))
                    Files.move(owner, tomb)
                    Files.deleteIfExists(tomb)
                  }
                } catch { case _: java.io.IOException => () }
                Thread.sleep(5L + scala.util.Random.nextInt(20))
                false
            }
        }
        held += k
        try body
        finally {
          held -= k
          Files.deleteIfExists(owner)
        }
      }
    }
  }

  /** Conditional-put fake: the CAS decides in a JVM-shared map — the
    * shape of an object store's `If-None-Match` put, where no hard
    * link or OS file lock exists — then materializes the winning bytes
    * with a plain write (reads stay ordinary object GETs). The lease is
    * a reentrant in-process lock standing in for an external lock
    * service. The commit-protocol spec runs against BOTH backends to
    * pin that the protocol uses nothing a real object store lacks. */
  final class InMemoryCas extends GraftLogStore {
    private val names = TrieMap.empty[String, Unit]
    private val leases =
      TrieMap.empty[String, java.util.concurrent.locks.ReentrantLock]

    override def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
      val k = target.toAbsolutePath.normalize.toString
      if (names.putIfAbsent(k, ()).isDefined) false
      else { Files.write(target, bytes); true }
    }

    override def delete(target: Path): Unit = {
      // free the CAS name too, or a later install at this name would
      // "win" without materializing bytes (see the trait contract)
      names.remove(target.toAbsolutePath.normalize.toString)
      Files.deleteIfExists(target)
      ()
    }

    override def withLease[T](key: Path)(body: => T): T = {
      val l = leases.getOrElseUpdate(key.toAbsolutePath.normalize.toString,
        new java.util.concurrent.locks.ReentrantLock)
      l.lock()
      try body finally l.unlock()
    }
  }
}

/** Filesystem surface of one durable table:
  * {{{
  *   <tableDir>/table.json            // identity + layout metadata
  *   <tableDir>/log/00000000001.json  // one entry per commit (CAS'd)
  *   <tableDir>/ckpt/00000000010.json // full-state checkpoints
  *   <tableDir>/data/seg-<v>-<n>.parquet  // state segments
  *   <tableDir>/data/cdc-<v>-<n>.parquet  // change-record-only segments
  * }}}
  * Log entries past v0 are DELTAS (added/removed state files + DV
  * changes, O(commit) bytes); checkpoints and the v0 creation entry
  * are FULL snapshots (O(files) bytes) a fold can start from —
  * Delta's delta-JSON + periodic-checkpoint layout, so a 1-row append
  * to a million-file table writes a KB-sized entry, and restart
  * replay reads one checkpoint plus the tail instead of re-paying
  * O(retained commits × files). A commit that does not decompose as
  * a delta (RESTORE swapping in an old census) legally writes the
  * FULL format — decode keys off the entry's own shape. A checkpoint
  * lands every [[GraftTable.checkpointInterval]] commits (and on
  * explicit VACUUM, anchoring the new retention base).
  *
  * At multi-million-file scale the checkpoint itself is the next
  * cost, so censuses past [[GraftTable.checkpointPartFiles]] split
  * into MULTI-PART PARQUET checkpoints (Delta's layout): sibling
  * `<v>.part-<i>-of-<n>.parquet` census slices
  * ([[GraftLogCodec.CheckpointPartSchema]]) written first, the JSON
  * manifest CAS'd last as the atomic visibility flip, and the fold
  * reads + decodes the parts concurrently. The anchor/fold/reclaim
  * contract is format-agnostic (a checkpoint is "any full snapshot a
  * fold can start from"); on a cluster the same parquet parts are
  * directly `spark.read`-able for executor-side decode. */
private[sources] final class GraftTableLog(val dir: Path,
    val store: GraftLogStore = GraftLogStore.LocalFs,
    val branch: Option[String] = None) {
  // a NAMED BRANCH (Iceberg's refs) is its own commit chain over the
  // SHARED segment store: entries under `log/<branch>/`, checkpoints
  // under `ckpt/<branch>/`, its own lease file — so two branches (or a
  // branch and main) commit concurrently without contending — while
  // `data/` (and table.json) stay one reclaim domain for the whole tree
  val logDir: Path = branch.map(b => dir.resolve("log").resolve(b))
    .getOrElse(dir.resolve("log"))
  val ckptDir: Path = branch.map(b => dir.resolve("ckpt").resolve(b))
    .getOrElse(dir.resolve("ckpt"))
  val dataDir: Path = dir.resolve("data")
  private val metaPath = dir.resolve("table.json")
  private val lockPath = branch.map(b => dir.resolve(s"_commit-$b.lock"))
    .getOrElse(dir.resolve("_commit.lock"))

  def init(): Unit = {
    Files.createDirectories(logDir)
    Files.createDirectories(ckptDir)
    Files.createDirectories(dataDir)
  }

  /** Branch chains present on disk: the subdirectories of the MAIN
    * `log/` dir (a name listing — branch discovery needs no metadata
    * record that two concurrent creators could lose updates on). */
  def listBranches: Seq[String] = {
    val base = dir.resolve("log")
    if (!Files.isDirectory(base)) return Nil
    val s = Files.list(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq.sorted
    } finally s.close()
  }

  /** `log/<branch>/_branch.json`: the branch's immutable identity (its
    * fork version), written at creation OUTSIDE the entry chain so it
    * survives branch-log retention (the creation entry itself may
    * retire behind a later branch checkpoint). The name can never
    * collide with entry names (11-digit pattern). */
  def branchMetaPath: Path = logDir.resolve("_branch.json")

  def writeBranchMeta(forkVersion: Int,
      retainSnapshots: Option[Int] = None,
      refAgeHours: Option[Double] = None,
      retainHoursSnapshots: Option[Double] = None): Unit = {
    // additive fields: a retention-less branch encodes byte-identically
    // to the r17 format, and old engines parse forkVersion regardless
    val extra =
      retainSnapshots.map(n => s""","retainSnapshots":$n""").getOrElse("") +
        refAgeHours.map(h => s""","refAgeHours":$h""").getOrElse("") +
        retainHoursSnapshots
          .map(h => s""","retainHoursSnapshots":$h""").getOrElse("")
    Files.write(branchMetaPath,
      s"""{"forkVersion":$forkVersion$extra}""".getBytes(UTF_8))
    ()
  }

  /** `ALTER BRANCH b RETAIN ...` (r19): replace the branch's declared
    * retention wholesale, preserving its fork identity. Atomic move —
    * unlike the CREATE-time write, a live chain (and any sibling's
    * leaseless expiry scan) may be mid-read of the old file. */
  def replaceBranchMeta(forkVersion: Int,
      retainSnapshots: Option[Int],
      refAgeHours: Option[Double],
      retainHoursSnapshots: Option[Double]): Unit = {
    val extra =
      retainSnapshots.map(n => s""","retainSnapshots":$n""").getOrElse("") +
        refAgeHours.map(h => s""","refAgeHours":$h""").getOrElse("") +
        retainHoursSnapshots
          .map(h => s""","retainHoursSnapshots":$h""").getOrElse("")
    val tmp = logDir.resolve("_branch.json.tmp")
    Files.write(tmp,
      s"""{"forkVersion":$forkVersion$extra}""".getBytes(UTF_8))
    Files.move(tmp, branchMetaPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The branch's full declarative identity: (fork version, declared
    * snapshot retention COUNT, declared ref age in hours, declared
    * snapshot retention TIME window in hours — r19, Iceberg's
    * maxSnapshotAgeMs analog; count and time compose as min). All
    * retention fields are absent on pre-r18/r19 branches. */
  def readBranchProps(): (Int, Option[Int], Option[Double], Option[Double]) = {
    val o = JsonMethods.parse(
      new String(Files.readAllBytes(branchMetaPath), UTF_8))
      .asInstanceOf[JObject].obj.toMap
    def num(k: String): Option[Double] = o.get(k).map {
      case JInt(b) => b.toDouble
      case JLong(l) => l.toDouble
      case JDouble(d) => d
      case other => throw new IllegalStateException(
        s"expected number for $k: $other")
    }
    (jsonNum(o("forkVersion")).toInt,
      num("retainSnapshots").map(_.toInt), num("refAgeHours"),
      num("retainHoursSnapshots"))
  }

  /** The one JSON-number extraction every shallow log/ref scan shares. */
  private def jsonNum(j: JValue): Long = j match {
    case JInt(b) => b.toLong
    case JLong(l) => l
    case other => throw new IllegalStateException(s"expected number: $other")
  }

  /** The `ts` field of entry `v` — one-entry introspection (the refs
    * metadata table's head timestamp), no fold. */
  def entryTs(v: Int): Long =
    jsonNum(JsonMethods.parse(
      new String(Files.readAllBytes(entryPath(v)), UTF_8))
      .asInstanceOf[JObject].obj.toMap.apply("ts"))

  def readBranchMeta(): Int =
    jsonNum(JsonMethods.parse(
      new String(Files.readAllBytes(branchMetaPath), UTF_8))
      .asInstanceOf[JObject].obj.toMap.apply("forkVersion")).toInt

  // ---- tags (Iceberg's immutable refs) ------------------------------
  /** `tags/<name>.json` — a TAG is a named, retention-pinned,
    * IMMUTABLE snapshot: one self-contained full-entry JSON (complete
    * census + embedded layout), so it outlives log retention of the
    * version it named and decodes without folding any chain. Tags are
    * TABLE-level (shared across chains — a tag may pin a branch's
    * state); creation is a CAS (duplicate names refuse). */
  /** Ref-lifecycle AUDIT events (r19 — `t$refs_log`): one immutable
    * JSON per CREATE/DROP/ALTER/EXPIRE/FAST FORWARD/CHERRY-PICK/MERGE
    * of a branch or tag, under the TABLE-level `refevents/` dir (one
    * audit domain for the whole tree — any chain serves the same
    * relation). Filenames lead with zero-padded epoch-micros so a
    * directory listing IS the timeline; a random suffix de-collides
    * same-instant writers across processes with no lock. DDL-frequency
    * writes, kilobyte-scale census — never on a data path. */
  def refEventsDir: Path = dir.resolve("refevents")

  def appendRefEvent(json: String, ts: Long): Unit = {
    Files.createDirectories(refEventsDir)
    val name = f"$ts%020d-" +
      java.util.UUID.randomUUID().toString.take(8) + ".json"
    store.putIfAbsent(refEventsDir.resolve(name), json.getBytes(UTF_8))
    ()
  }

  /** Cap the audit dir at `keep` newest events (r19 — called at the
    * head of MAIN-chain reclaims, the same place ref expiry runs):
    * DDL-frequency growth is kilobyte-scale but unbounded without
    * this. Returns the number of events trimmed. */
  def trimRefEvents(keep: Int): Int = {
    if (!Files.isDirectory(refEventsDir)) return 0
    val s = Files.list(refEventsDir)
    val names = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".json")).toSeq.sorted
    } finally s.close()
    val over = names.length - math.max(0, keep)
    if (over <= 0) 0
    else {
      names.take(over).foreach { n =>
        try Files.deleteIfExists(refEventsDir.resolve(n))
        catch { case _: java.io.IOException => () }
      }
      over
    }
  }

  /** Every recorded ref event, oldest first (filename order = time
    * order; unreadable files are skipped — a torn concurrent write
    * must not poison the audit read). */
  def listRefEvents(): Seq[String] = {
    if (!Files.isDirectory(refEventsDir)) return Nil
    val s = Files.list(refEventsDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .toSeq.sortBy(_.getFileName.toString)
        .flatMap { p =>
          try Some(new String(Files.readAllBytes(p), UTF_8))
          catch { case _: java.io.IOException => None }
        }
    } finally s.close()
  }

  def tagsDir: Path = dir.resolve("tags")
  def tagPath(name: String): Path = tagsDir.resolve(s"$name.json")

  def listTags: Seq[String] = {
    if (!Files.isDirectory(tagsDir)) return Nil
    val s = Files.list(tagsDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
        .toSeq.sorted
    } finally s.close()
  }

  def writeTag(name: String, json: String): Boolean = {
    Files.createDirectories(tagsDir)
    store.putIfAbsent(tagPath(name), json.getBytes(UTF_8))
  }

  def readTag(name: String): String =
    new String(Files.readAllBytes(tagPath(name)), UTF_8)

  def deleteTag(name: String): Unit = store.delete(tagPath(name))

  /** (tagged version, ts) off a tag's JSON — refs-table introspection. */
  def tagVersionTs(name: String): (Int, Long) = {
    val o = JsonMethods.parse(readTag(name))
      .asInstanceOf[JObject].obj.toMap
    (jsonNum(o("version")).toInt, jsonNum(o("ts")))
  }

  /** The tag's operationParameters ("version", and from r18 optionally
    * "refAgeHours" + "createdMicros" — the declarative tag-expiry
    * properties), off its self-contained JSON. */
  def tagParams(name: String): Map[String, String] =
    JsonMethods.parse(readTag(name)).asInstanceOf[JObject].obj.toMap
      .get("params") match {
      case Some(JArray(kvs)) => kvs.collect {
        case JArray(JString(k) :: JString(v) :: Nil) => k -> v
      }.toMap
      case _ => Map.empty
    }

  /** (mtime, size) of a ref file — the cheap identity the tag caches
    * key on: a DROP + re-CREATE under the same name changes it, so a
    * stale cache entry can never pin (or serve) the wrong snapshot. */
  def fileIdentity(p: Path): (Long, Long) =
    (Files.getLastModifiedTime(p).toMillis, Files.size(p))

  // ---- RETAIN-0 sweep intents (the CREATE TAG race fence) -----------
  /** `_sweep-<chain>.intent` — a marker a RETAIN-0 (minAge 0) data
    * sweep holds open across its candidate-list → recheck → delete
    * window. CREATE TAG re-validates AFTER its pin lands: an intent
    * present then means a sweep may have listed this tag's segments as
    * candidates before the pin existed — the tag deletes itself and
    * refuses loudly (retry once the vacuum finishes) instead of ever
    * dangling. Per-chain names: two chains' concurrent RETAIN-0 sweeps
    * never clobber each other's marker. Plain files, not CAS'd — a
    * stale marker (crashed sweep) is ignored once older than
    * [[GraftTableLog.SweepIntentStaleMs]] (a live sweep finishes in
    * seconds; a crashed one must not fence tags forever). */
  def sweepIntentPath: Path =
    dir.resolve(s"_sweep-${branch.getOrElse("main")}.intent")

  def writeSweepIntent(): Unit = {
    Files.write(sweepIntentPath,
      s"""{"chain":"${branch.getOrElse("main")}"}""".getBytes(UTF_8))
    ()
  }

  def clearSweepIntent(): Unit =
    Files.deleteIfExists(sweepIntentPath)

  /** Is any chain's RETAIN-0 sweep possibly in flight right now?
    * (fresh intent markers from ANY chain — including this one's own:
    * the tag fence cares about sweeps, whoever runs them). */
  def anySweepIntent(): Boolean = {
    if (!Files.isDirectory(dir)) return false
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      val now = System.currentTimeMillis()
      s.iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        n.startsWith("_sweep-") && n.endsWith(".intent") &&
          (try now - Files.getLastModifiedTime(p).toMillis <
            GraftTableLog.SweepIntentStaleMs
          catch { case _: java.io.IOException => false })
      }
    } finally s.close()
  }

  /** DROP BRANCH: delete THIS branch chain's log + checkpoint dirs and
    * lease (through the store, freeing CAS names). The branch's own
    * data segments stay behind as unreferenced files — the next
    * tree-aware reclaim sweeps them once no retained chain references
    * them. Must only be called on a branch-scoped log. */
  def destroyBranch(): Unit = {
    require(branch.isDefined, "destroyBranch on the main chain")
    import scala.jdk.CollectionConverters._
    // LOG FIRST: branch discovery and "does this branch exist" are both
    // entry-name listings under log/<b>/, so a crash mid-destroy leaves
    // at worst an undiscoverable chain remnant (orphan checkpoints /
    // lease file — pure garbage, re-swept by a later DROP of the same
    // name), never a discoverable chain whose anchors are already gone
    // (ckpt-first would brick the fold of a half-dead branch)
    Seq(logDir, ckptDir).foreach { p =>
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse.foreach(store.delete)
        finally walk.close()
      }
    }
    store.delete(lockPath)
  }

  /** Every data ref ANY retained entry or checkpoint of THIS chain may
    * reference — a SUPERSET of the chain's live set (full censuses plus
    * every delta's fadd/added/removed and DV refs; no fold needed,
    * because a delta's census is always `anchor ∪ later fadds` minus
    * removals), collected by a shallow LEASELESS scan of immutable
    * CAS'd files. Sibling chains' reclaims union this in (tree-aware
    * retention): over-reading refs only ever RETAINS more, and taking
    * no cross-chain lease means no lock-order cycle between two chains
    * reclaiming concurrently. */
  /** Every data ref ONE entry/checkpoint JSON references — the shallow
    * scan tree-aware retention and tag pinning share. */
  def refsOfEntryJson(json: String): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    val o = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
    Seq("files", "fadd", "added", "removed").foreach { k =>
      o.get(k) match {
        case Some(JArray(fs)) => fs.foreach {
          case JObject(ff) => ff.collectFirst {
            case ("path", JString(p)) => out += p
          }
          case _ => ()
        }
        case _ => ()
      }
    }
    Seq("dvs", "dvset").foreach { k =>
      o.get(k) match {
        case Some(JArray(es)) => es.foreach {
          case JArray(JString(ref) :: _) => out += ref
          case _ => ()
        }
        case _ => ()
      }
    }
    // multi-part checkpoint: the census lives in the parquet parts'
    // `path` column (CheckpointPartSchema field 0)
    o.get("fparts").foreach { nJ =>
      val n = jsonNum(nJ).toInt
      val v = jsonNum(o("version")).toInt
      (0 until n).foreach { i =>
        val p = ckptPartPath(v, i, n)
        if (Files.exists(p))
          GraftSegmentIO.read(p, GraftLogCodec.CheckpointPartSchema,
            Array(0)).foreach(r => out += r.getUTF8String(0).toString)
      }
    }
    out.toSet
  }

  def allReferencedRefs: Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    def scan(read: Int => String, vs: Seq[Int]): Unit = vs.foreach { v =>
      // a chain may be concurrently reclaimed or dropped under this
      // leaseless walk — a vanished file simply contributes nothing
      try out ++= refsOfEntryJson(read(v))
      catch { case _: java.io.IOException => () }
    }
    scan(v => new String(Files.readAllBytes(entryPath(v)), UTF_8),
      listEntryVersions)
    scan(readCheckpoint, listCheckpointVersions)
    out.toSet
  }

  def entryPath(v: Int): Path = logDir.resolve(f"$v%011d.json")
  def hasEntry(v: Int): Boolean = Files.exists(entryPath(v))

  /** Does ANY committed entry exist? A name listing only — no entry
    * contents are read (warehouse open uses this to skip aborted
    * half-created table dirs without paying the log twice). */
  def hasAnyEntry: Boolean = {
    if (!Files.isDirectory(logDir)) return false
    val s = Files.list(logDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && n.length == 16
      }
    } finally s.close()
  }

  /** CAS-install entry `v`: true when this writer won the version. */
  def writeEntry(v: Int, json: String): Boolean =
    store.putIfAbsent(entryPath(v), json.getBytes(UTF_8))

  private def listVersions(d: Path): Seq[Int] = {
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && n.length == 16)
        .map(n => n.stripSuffix(".json").toInt)
        .toSeq.sorted
    } finally s.close()
  }

  /** Committed entry versions, ascending — a NAME listing, no entry
    * contents are read. */
  def listEntryVersions: Seq[Int] = listVersions(logDir)

  /** (version, json) of every retained entry with version >= from,
    * ascending. */
  def readEntriesFrom(from: Int): Seq[(Int, String)] =
    listEntryVersions.filter(_ >= from)
      .map(v => (v, new String(Files.readAllBytes(entryPath(v)), UTF_8)))

  // ---- checkpoints ----------------------------------------------------
  def ckptPath(v: Int): Path = ckptDir.resolve(f"$v%011d.json")

  /** Checkpoint versions on disk, ascending (names only). */
  def listCheckpointVersions: Seq[Int] = listVersions(ckptDir)

  /** `ckpt/<v>.part-<i>-of-<n>.parquet` — one slice of a multi-part
    * checkpoint's census. The name never matches [[listVersions]]'s
    * 16-char manifest pattern, so parts are invisible to anchor
    * discovery: only the manifest CAS flips the checkpoint live. */
  def ckptPartPath(v: Int, i: Int, n: Int): Path =
    ckptDir.resolve(f"$v%011d.part-$i-of-$n.parquet")

  /** CAS-install checkpoint `v`: part payloads FIRST, the manifest
    * LAST, so [[listCheckpointVersions]] (manifest names only) flips
    * the whole checkpoint visible atomically — a crash mid-parts
    * leaves unreadable orphans the next VACUUM sweeps, never a
    * half-anchor a fold could start from. Losing any CAS race is fine:
    * checkpoint content is a pure function of the log state at `v`, so
    * the foreign copy is byte-equivalent. */
  def installCheckpoint(v: Int, manifest: String,
      parts: Seq[Array[Byte]] = Nil): Boolean = {
    Files.createDirectories(ckptDir)
    parts.zipWithIndex.foreach { case (p, i) =>
      store.putIfAbsent(ckptPartPath(v, i, parts.length), p)
    }
    store.putIfAbsent(ckptPath(v), manifest.getBytes(UTF_8))
  }

  def readCheckpoint(v: Int): String =
    new String(Files.readAllBytes(ckptPath(v)), UTF_8)

  def writeTableMeta(json: String): Unit = {
    val tmp = dir.resolve("table.json.tmp")
    Files.write(tmp, json.getBytes(UTF_8))
    Files.move(tmp, metaPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def readTableMeta(): String =
    new String(Files.readAllBytes(metaPath), UTF_8)

  /** Cross-process commit lease — delegated to the [[GraftLogStore]]
    * backend (file lock + JVM monitor on local FS; a lock service on an
    * object store). Reentrant per thread: a streaming-epoch install
    * calls a locked install mode inside its own lease. */
  def withCommitLock[T](body: => T): T = store.withLease(lockPath)(body)

  /** Physically reclaim: drop log entries AND checkpoints below
    * `oldestRetained` and delete every data segment not in `liveRefs`
    * (refs relative to this table's dir; foreign absolute refs — shared
    * clone segments — are never touched here). `oldestRetained` MUST be
    * an anchor (v0 or a checkpointed version): the caller gates it on
    * the anchor set, because the first surviving entry may be a DELTA
    * that is only readable on top of a full snapshot at or below it.
    * Crash-safe order: log entries first, so a
    * crash mid-reclaim can only leave unreferenced segments behind,
    * never a log entry pointing at a deleted segment.
    *
    * `minAgeMillis` spares unreferenced segments YOUNGER than the
    * window: executor-side writer tasks land segments BEFORE their
    * commit takes the lease, so the automatic (snap-time) reclaim must
    * not eat a concurrent in-flight write's files. Explicit VACUUM
    * passes 0 — the immediate orphan sweep, with Delta's RETAIN-0 sharp
    * edge (don't run it while a write is in flight). */
  def reclaim(oldestRetained: Int, liveRefs: Set[String],
              minAgeMillis: Long = 0L,
              recheckLive: Option[() => Set[String]] = None): Unit = {
    // CAS'd names (entries, manifests, parts) delete THROUGH the store
    // so a conditional-put backend frees them for future installs
    listEntryVersions.foreach { v =>
      if (v < oldestRetained) store.delete(entryPath(v))
    }
    // superseded checkpoints: anything below the retained anchor can
    // never be a fold start again (the anchor AT oldestRetained stays)
    listCheckpointVersions.foreach { v =>
      if (v < oldestRetained) store.delete(ckptPath(v))
    }
    // part payloads ride their manifest's fate; additionally, a part
    // whose manifest never landed (a checkpointer crashed mid-parts) is
    // unreadable by construction — explicit VACUUM (minAge 0, under the
    // commit lease, so no checkpoint install is concurrently mid-write)
    // sweeps those orphans at any version
    if (Files.isDirectory(ckptDir)) {
      val manifests = listCheckpointVersions.toSet
      val s = Files.list(ckptDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.foreach { p =>
          val name = p.getFileName.toString
          if (name.length > 16 && name.contains(".part-")) {
            val v = name.take(11).toInt
            if (v < oldestRetained ||
                (minAgeMillis <= 0L && !manifests.contains(v)))
              store.delete(p)
          }
        }
      } finally s.close()
    }
    // crashed REPLACE stages: an abandoned `stage-<uuid>/` subdir means
    // the staging process died between stage and commit/abort — the old
    // table kept serving throughout (the stage was invisible), and the
    // sweep is pure reclaim. Age-gated like data orphans so a LIVE
    // foreign process's in-flight stage is never eaten; explicit VACUUM
    // (minAge 0) sweeps immediately, with the same RETAIN-0 sharp edge.
    // MAIN-chain reclaims only: stages belong to main's REPLACE
    // protocol, and a branch's RETAIN-0 vacuum must not widen the sharp
    // edge to ops it does not own (a branch sweeping main's in-flight
    // stage would abort main's REPLACE from outside its lease).
    // Files delete THROUGH the store: the staged log's entries were
    // CAS'd under these names and a conditional-put backend must free
    // them.
    if (branch.isEmpty) {
      val cutoff = System.currentTimeMillis() - minAgeMillis
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.foreach { p =>
          def oldEnough: Boolean =
            try Files.getLastModifiedTime(p).toMillis <= cutoff
            catch { case _: java.io.IOException => false }
          if (Files.isDirectory(p) &&
              p.getFileName.toString.startsWith("stage-") &&
              (minAgeMillis <= 0L || oldEnough)) {
            val walk = Files.walk(p)
            try walk.iterator().asScala.toSeq.reverse.foreach(store.delete)
            finally walk.close()
          }
        }
      } finally s.close()
    }
    if (Files.isDirectory(dataDir)) {
      val cutoff = System.currentTimeMillis() - minAgeMillis
      val names: Seq[String] = {
        val s = Files.list(dataDir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSeq
        } finally s.close()
      }
      def youngEnough(name: String): Boolean =
        try Files.getLastModifiedTime(dataDir.resolve(name))
          .toMillis > cutoff
        catch { case _: java.io.IOException => true }
      def segRefOf(name: String): Option[String] =
        if (name.endsWith(".parquet")) Some(s"data/$name")
        else if (name.endsWith(".parquet" + GraftBloomSidecar.Suffix))
          Some(s"data/${name.stripSuffix(GraftBloomSidecar.Suffix)}")
        else if (name.endsWith(".parquet" + GraftRowIdSidecar.Suffix))
          Some(s"data/${name.stripSuffix(GraftRowIdSidecar.Suffix)}")
        else None
      def dead(name: String, ref: String, live: Set[String]): Boolean =
        !live.contains(ref) && (minAgeMillis <= 0L || !youngEnough(name))
      // a segment temp lives only while its encode runs, in this process
      // or another: it sweeps once past the orphan grace, even under
      // RETAIN-0 — a younger one may be a sibling's in-flight write
      val tempCutoff = System.currentTimeMillis() -
        math.max(minAgeMillis, GraftTable.orphanGraceMillis)
      def staleTemp(name: String): Boolean =
        (name.endsWith(".parquet.tmp") ||
          name.endsWith(".parquet.tmp.crc")) &&
        (try Files.getLastModifiedTime(dataDir.resolve(name))
          .toMillis <= tempCutoff
        catch { case _: java.io.IOException => false })
      // RETAIN-0 sweeps RE-VALIDATE their candidates against a FRESH
      // sibling/tag union (the caller's pinnedLiveRefs re-run): the
      // caller's union is a leaseless point-in-time scan, and a sibling
      // chain — which holds its OWN lease, not this sweep's — may land
      // a commit (segment persisted BEFORE its entry CAS) or a tag pin
      // between that scan and this sweep. Candidates were listed FIRST,
      // so a commit landing entirely after the listing is never a
      // candidate; one landing across it re-pins here. The residual
      // window is a sibling whose segment persisted before the listing
      // and whose entry CASes after this recheck — the same in-flight-
      // write sharp edge RETAIN-0 always had on its own chain.
      // Age-gated (automatic) slides skip the recheck: their window
      // already spares any file younger than the gate.
      val repinned: Set[String] =
        if (minAgeMillis > 0L) Set.empty
        else {
          val hasCandidate = names.exists(n =>
            segRefOf(n).exists(r => dead(n, r, liveRefs)))
          if (hasCandidate) recheckLive.map(_()).getOrElse(Set.empty)
          else Set.empty
        }
      val live = liveRefs ++ repinned
      names.foreach { name =>
        // a listed candidate may be deleted concurrently (another
        // process's reclaim, a task abort): a vanished file is simply
        // done — never an error that aborts a commit that already
        // landed its log entry
        val p = dataDir.resolve(name)
        segRefOf(name) match {
          // a bloom SIDECAR lives and dies with its segment: sweep it
          // when the segment's ref is no longer live (the segment file
          // itself may already be gone); crashed sidecar temps (never
          // referenced by anything) sweep age-gated like data orphans
          case Some(ref) =>
            if (dead(name, ref, live)) Files.deleteIfExists(p)
          case None =>
            if (staleTemp(name) ||
                ((name.contains(GraftBloomSidecar.Suffix + ".tmp-") ||
                  name.contains(GraftRowIdSidecar.Suffix + ".tmp-"))
                 && (minAgeMillis <= 0L || !youngEnough(name))))
              Files.deleteIfExists(p)
        }
        ()
      }
    }
  }

  /** Recursive delete of the whole table dir (DROP TABLE on a managed
    * durable table — Delta's managed-table drop removes data). */
  def destroy(): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(dir)) {
      val all = Files.walk(dir)
      // every delete goes through the store so a CAS backend frees the
      // names — else a table re-created at this dir would lose its v0
      // CAS to a remembered ghost
      try all.iterator().asScala.toSeq.reverse.foreach(store.delete)
      finally all.close()
    }
  }
}

private[sources] object GraftTableLog {
  /** Ref-event timestamp source: strictly increasing per JVM (the
    * commit-timestamp contract), so same-instant events — and events
    * under a frozen test clock — still order deterministically. */
  val refEventClock = new java.util.concurrent.atomic.AtomicLong(0)
  def nextRefEventMicros(): Long =
    refEventClock.updateAndGet(p => math.max(p + 1, GraftClock.nowMicros()))

  /** A `_sweep-*.intent` older than this is a crashed sweep's remnant:
    * CREATE TAG's fence ignores it (a live RETAIN-0 sweep holds its
    * marker for the data-dir pass only — seconds, not minutes). A sweep
    * genuinely running longer than this while a tag is created
    * concurrently re-opens the documented RETAIN-0 edge. */
  val SweepIntentStaleMs: Long = 15L * 60 * 1000

  val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  val heldLocks: ThreadLocal[scala.collection.mutable.Set[String]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.Set.empty[String])
}

/** JSON codecs for the commit log. Values serialize in their CATALYST
  * representation typed by the entry's schema (ints/longs as numbers,
  * strings/decimals/floats as strings — float text round-trips exactly
  * and dodges JSON's NaN hole), so decode needs no per-row conversion
  * machinery. */
private[sources] object GraftLogCodec {

  private def num(j: JValue): BigInt = j match {
    case JInt(b) => b
    case JLong(l) => BigInt(l)
    case JDouble(d) => BigInt(d.toLong)
    case JDecimal(d) => d.toBigInt
    case other => throw new IllegalStateException(s"expected number, got $other")
  }

  def encodeValue(dt: DataType, v: Any): JValue =
    if (v == null) JNull
    else dt match {
      case ByteType => JLong(v.asInstanceOf[Byte].toLong)
      case ShortType => JLong(v.asInstanceOf[Short].toLong)
      case IntegerType | DateType => JLong(v.asInstanceOf[Int].toLong)
      case LongType | TimestampType | TimestampNTZType =>
        JLong(v.asInstanceOf[Long])
      case FloatType | DoubleType => JString(v.toString)
      case BooleanType => JBool(v.asInstanceOf[Boolean])
      case StringType => JString(v.toString)
      case _: DecimalType =>
        JString(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case other => throw new UnsupportedOperationException(
        s"durable log cannot encode values of type $other")
    }

  def decodeValue(dt: DataType, j: JValue): Any = j match {
    case JNull => null
    case _ => dt match {
      case ByteType => num(j).toByte
      case ShortType => num(j).toShort
      case IntegerType | DateType => num(j).toInt
      case LongType | TimestampType | TimestampNTZType => num(j).toLong
      case FloatType => j.asInstanceOf[JString].s.toFloat
      case DoubleType => j.asInstanceOf[JString].s.toDouble
      case BooleanType => j.asInstanceOf[JBool].value
      case StringType => org.apache.spark.unsafe.types.UTF8String
        .fromString(j.asInstanceOf[JString].s)
      case d: DecimalType =>
        Decimal(BigDecimal(j.asInstanceOf[JString].s), d.precision, d.scale)
      case other => throw new UnsupportedOperationException(
        s"durable log cannot decode values of type $other")
    }
  }

  /** Group-key element types under `schema`: the identity partition
    * columns' types, or Int for a bucket id. */
  def keyTypes(schema: StructType, partitionCols: Seq[String],
               bucketSpec: Option[(Int, String)]): Seq[DataType] =
    bucketSpec match {
      case Some(_) => Seq(IntegerType)
      case None => partitionCols.map(c => schema(schema.fieldIndex(c)).dataType)
    }

  /** The ref string a file serializes as: relative when its segment
    * lives under `dir`, absolute otherwise (clone-shared segments). */
  def refOf(f: GraftDataFile, dir: Path): String = {
    val h = f.segment
    require(h != null, "file must be persisted before it is referenced")
    if (h.path.startsWith(dir)) dir.relativize(h.path).toString
    else h.path.toString
  }

  def resolveRef(ref: String, dir: Path): Path = {
    val p = Paths.get(ref)
    if (p.isAbsolute) p else dir.resolve(p)
  }

  private def encodeFile(f: GraftDataFile, schema: StructType,
                         kts: Seq[DataType], dir: Path): JValue = {
    val base = List(
      "path" -> (JString(refOf(f, dir)): JValue),
      "rows" -> (JLong(f.rowCount.toLong): JValue),
      "bytes" -> (JLong(f.sizeBytes): JValue),
      "group" -> f.groupKey.map(k => JArray(
        k.lazyZip(kts).map((v, t) => encodeValue(t, v)).toList): JValue)
        .getOrElse(JNull: JValue),
      "zones" -> (JArray(schema.fields.toList.zipWithIndex.map { case (fl, i) =>
        Option(f.zone(i)).map(z => JArray(List(encodeValue(fl.dataType, z.min),
          encodeValue(fl.dataType, z.max), JLong(z.nullCount))): JValue)
          .getOrElse(JNull)
      }): JValue))
    // position views (CDC records): positions, never rows — "sel" =
    // included positions, "xsel" = excluded (a DV's live complement)
    val selJ = f.viewSel.toList.map { case (bs, exclude) =>
      (if (exclude) "xsel" else "sel") ->
        (JArray(bs.toList.map(p => JLong(p.toLong))): JValue)
    }
    // per-file Bloom filters (bloom.columns): the log carries only the
    // COMPACT REFS [ordinal, k, nWords] — the filter words live in the
    // segment's sidecar (`<segment>.bloom`, GraftBloomSidecar), exactly
    // as Delta's bloom index and parquet's footer blooms are sidecar
    // bytes referenced by the metadata. Inlining the words would make a
    // bloom-indexed append's delta entry O(rows appended) and every
    // checkpoint re-carry ~1.3 bytes/row of table — data-sized metadata
    // on the driver and the log store. Refs never force the lazy load.
    val bloomJ = Option(f.bloomRefs).toList.map { refs =>
      "blx" -> (JArray(refs.toList.map(r =>
        JArray(List(JLong(r.ord.toLong), JLong(r.k.toLong),
          JLong(r.words.toLong))): JValue)): JValue)
    }
    // ROW TRACKING — O(1) per file, whatever the table size: "rid" =
    // [base, commitVersion] for arithmetic identity (id = base + pos);
    // "rvx" marks EXPLICIT per-row vectors, which live in the
    // segment's .rowids sidecar (GraftRowIdSidecar), never in the log
    val trackJ = Option(f.track).toList.flatMap { t =>
      ("rid" -> (JArray(List(JLong(t.base), JLong(t.ver))): JValue)) ::
        (if (t.explicit) List("rvx" -> (JBool(true): JValue)) else Nil)
    }
    JObject(base ++ selJ ++ bloomJ ++ trackJ)
  }

  private def decodeFile(j: JValue, schema: StructType, kts: Seq[DataType],
      dir: Path, registry: TrieMap[String, GraftDataFile]): GraftDataFile = {
    val o = j.asInstanceOf[JObject].obj.toMap
    val ref = o("path").asInstanceOf[JString].s
    def build(): GraftDataFile = {
      val zones = o("zones").asInstanceOf[JArray].arr.toArray.zipWithIndex
        .map {
          case (JNull, _) => null
          case (JArray(List(mn, mx, nc)), i) =>
            val dt = schema.fields(i).dataType
            ColZone(decodeValue(dt, mn), decodeValue(dt, mx), num(nc).toLong)
          case (other, i) =>
            throw new IllegalStateException(s"bad zone at $i: $other")
        }
      val group = o("group") match {
        case JNull => None
        case JArray(vs) => Some(vs.lazyZip(kts).map((v, t) => decodeValue(t, v)))
        case other => throw new IllegalStateException(s"bad group: $other")
      }
      val h = new GraftSegmentHandle(resolveRef(ref, dir), schema)
      val sel = o.get("sel").orElse(o.get("xsel")).map {
        case JArray(ps) =>
          scala.collection.immutable.BitSet(ps.map(num(_).toInt): _*)
        case other => throw new IllegalStateException(s"bad sel: $other")
      }
      // "blx": sidecar REFS (current format — words load lazily from
      // the segment's sidecar). "bl": the pre-sidecar inline words, kept
      // decodable so an old log's filters still serve (eagerly).
      val bloomRefs: Array[GraftBloomRef] = o.get("blx") match {
        case Some(JArray(entries)) =>
          entries.map {
            case JArray(List(i, k, w)) =>
              GraftBloomRef(num(i).toInt, num(k).toInt, num(w).toInt)
            case other =>
              throw new IllegalStateException(s"bad bloom ref: $other")
          }.toArray
        case _ => null
      }
      val blooms: Array[GraftBloom] = o.get("bl") match {
        case Some(JArray(entries)) =>
          val arr = new Array[GraftBloom](schema.length)
          entries.foreach {
            case JArray(List(i, k, JString(b64))) =>
              val ord = num(i).toInt
              if (ord < arr.length)
                arr(ord) = GraftBloom(GraftBloom.decodeWords(b64),
                  num(k).toInt)
            case other =>
              throw new IllegalStateException(s"bad bloom entry: $other")
          }
          // a pre-sidecar log inlined the words, so NO sidecar exists on
          // disk — but every downstream carrier (position views, deep
          // clones, REPLACE moves, checkpoint/full-entry re-encodes)
          // ships only REFS derived from these words and resolves them
          // against the sidecar. Materialize it beside the segment now
          // (idempotent: tmp + atomic rename), or the first view/clone
          // point-lookup throws "sidecar missing" and retention dropping
          // this legacy entry loses the filter words for good.
          if (bloomRefs == null)
            try {
              if (!java.nio.file.Files.exists(
                  GraftBloomSidecar.pathFor(h.path)))
                GraftBloomSidecar.write(h.path, arr)
            } catch {
              case _: java.io.IOException => () // read-only media: the
                // eager words still serve THIS object; refs from it may
                // dangle, which the pre-fix state already risked
            }
          arr
        case _ => null
      }
      val f = sel match {
        case Some(bs) => GraftDataFile.fromSegmentView(h, zones,
          num(o("bytes")).toLong, group, num(o("rows")).toInt, bs,
          exclude = o.contains("xsel"), blooms = blooms,
          bloomRefs = bloomRefs)
        case None => GraftDataFile.fromSegment(h, zones,
          num(o("bytes")).toLong, group, num(o("rows")).toInt, blooms,
          bloomRefs = bloomRefs)
      }
      // ROW TRACKING: arithmetic from "rid"; "rvx" re-points at the
      // segment's sidecar, loaded lazily on first identity read (a
      // view's sidecar is its BASE segment's — h.path names it)
      o.get("rid").foreach {
        case JArray(List(b, v)) =>
          val explicit = o.get("rvx").contains(JBool(true))
          val segPath = h.path
          f.track = new GraftRowTrack(num(b).toLong, num(v).toLong,
            null, null, explicit = explicit,
            loader = if (explicit)
              () => GraftRowIdSidecar.read(segPath) else null)
        case other => throw new IllegalStateException(s"bad rid: $other")
      }
      f
    }
    // views NEVER registry-share by ref: the bare ref names the BASE
    // file, and aliasing a view under it would hand the base's callers
    // a position-filtered impostor (and vice versa). View identity is
    // per-entry; nothing (DVs, prefix checks) requires sharing it.
    if (o.contains("sel") || o.contains("xsel")) build()
    else registry.get(ref) match {
      case Some(f0) =>
        // partition-spec EVOLUTION re-censuses the same refs with their
        // group keys CLEARED, and a type WIDEN re-censuses them under a
        // wider column type: when the decoded grouping disagrees with
        // the registered object's, or the registered handle's column
        // TYPES disagree with this entry's schema on the shared prefix,
        // the binding REPLACES (later entries then share the re-typed /
        // degrouped identity) — earlier entries keep their old objects,
        // which time travel serves under their own schema. Handle
        // LENGTH may lag (metadata-only ADD COLUMN re-points via
        // resegment); only a type flip forces the rebuild.
        val group = o("group") match {
          case JNull => None
          case JArray(vs) =>
            Some(vs.lazyZip(kts).map((v, t) => decodeValue(t, v)))
          case other =>
            throw new IllegalStateException(s"bad group: $other")
        }
        val hs = f0.segment.schema
        val shared = math.min(hs.length, schema.length)
        val typesAgree = (0 until shared).forall(i =>
          hs.fields(i).dataType == schema.fields(i).dataType)
        if (typesAgree && f0.groupKey == group) f0
        else { val nf = build(); registry.put(ref, nf); nf }
      case None => registry.getOrElseUpdate(ref, build())
    }
  }

  /** A commit's table LAYOUT as carried in the log: partition columns,
    * bucket spec, row-level mode. Embedded in REPLACE swap entries (the
    * layout-change record — table.json keeps only the CREATION layout,
    * Delta's per-version metaData model) and in every checkpoint of a
    * table that has ever been replaced (a fold starting there has no
    * earlier entry to thread the layout from). */
  type Layout = (Seq[String], Option[(Int, String)], String)

  private def layoutJson(l: Layout): JValue = JObject(
    "partitionCols" -> JArray(l._1.toList.map(JString(_))),
    "bucketSpec" -> l._2.map { case (n, c) =>
      JArray(List(JLong(n.toLong), JString(c))): JValue
    }.getOrElse(JNull),
    "rowLevelMode" -> JString(l._3))

  private def decodeLayout(j: JValue): Layout = {
    val o = j.asInstanceOf[JObject].obj.toMap
    (o("partitionCols").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JString].s),
      o("bucketSpec") match {
        case JNull => None
        case JArray(List(n, JString(c))) => Some((num(n).toInt, c))
        case other => throw new IllegalStateException(s"bad bucketSpec: $other")
      },
      o("rowLevelMode").asInstanceOf[JString].s)
  }

  /** Table-level COLUMN STATISTICS (ANALYZE TABLE's output: per column
    * [ndv, nullCount, avgLen, maxLen]) as an optional entry field —
    * O(columns) bytes riding every entry like the checks/epochs state,
    * so a restart (or a foreign reader) serves the same CBO inputs. */
  private def colStatsJson(colStats: Map[String, Array[Long]])
      : List[(String, JValue)] =
    if (colStats.isEmpty) Nil
    else List("colstats" -> JArray(
      colStats.toList.sortBy(_._1).map { case (c, vs) =>
        JArray(JString(c) :: vs.toList.map(JLong(_))): JValue
      }))

  /** Serialize one commit entry (plus the table's current constraint
    * texts and field-id counter — restart state the entry carries). */
  def encodeEntry(e: CommitEntry, partitionCols: Seq[String],
      bucketSpec: Option[(Int, String)], dir: Path,
      checksText: Map[String, String], nextFieldId: Long,
      epochs: Map[String, Long] = Map.empty,
      layout: Option[Layout] = None,
      colStats: Map[String, Array[Long]] = Map.empty): String = {
    val kts = keyTypes(e.schema, partitionCols, bucketSpec)
    fullEntryJson(e, kts, dir, checksText, nextFieldId, epochs,
      "files" -> JArray(e.files.toList.map(encodeFile(_, e.schema, kts, dir))),
      layout, colStats)
  }

  /** Column layout of one PARQUET checkpoint part — Delta's checkpoint
    * shape: typed identity/size columns (so a census scan prunes
    * columns and never parses JSON it doesn't need), the complete file
    * object (group key, zone maps, position view) as a JSON `meta`
    * column — Delta's stats-as-JSON-string pattern. */
  val CheckpointPartSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("meta", StringType, nullable = false)))

  /** Serialize a full-state CHECKPOINT, splitting the file census into
    * `ceil(files / partFiles)`-sized PARQUET part payloads once it
    * exceeds one part — Delta's multi-part parquet checkpoint: the JSON
    * manifest keeps every O(commit)-sized field (schema, CDC vectors,
    * DVs, checks, epochs) plus `"fparts": n`, and each part is an
    * independently decodable parquet file holding one in-order census
    * slice ([[CheckpointPartSchema]]), so a restart fold reads and
    * decodes the parts in parallel instead of paying one O(table) blob
    * on a single thread — and any parquet-reading engine can audit the
    * census without this codec. Censuses at or under `partFiles` stay
    * single-file (the manifest IS the full entry — byte-identical to
    * [[encodeEntry]]). */
  def encodeCheckpoint(e: CommitEntry, partitionCols: Seq[String],
      bucketSpec: Option[(Int, String)], dir: Path,
      checksText: Map[String, String], nextFieldId: Long,
      epochs: Map[String, Long], partFiles: Int,
      layout: Option[Layout] = None,
      colStats: Map[String, Array[Long]] = Map.empty)
      : (String, Seq[Array[Byte]]) = {
    if (partFiles <= 0 || e.files.length <= partFiles)
      return (encodeEntry(e, partitionCols, bucketSpec, dir, checksText,
        nextFieldId, epochs, layout, colStats), Nil)
    val kts = keyTypes(e.schema, partitionCols, bucketSpec)
    val parts = e.files.grouped(partFiles).map { slice =>
      val rows = slice.map { f =>
        val meta = JsonMethods.compact(JsonMethods.render(
          encodeFile(f, e.schema, kts, dir)))
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(refOf(f, dir)), f.rowCount.toLong,
          f.sizeBytes, UTF8String.fromString(meta))): InternalRow
      }.toArray
      // parquet-encode through the segment writer, hand the BYTES to
      // the caller: the part still lands through the LogStore's
      // put-if-absent, so the commit protocol seam stays intact
      val tmp = Files.createTempFile("graft-ckpt-part", ".parquet")
      try {
        GraftSegmentIO.write(tmp, CheckpointPartSchema, rows)
        Files.readAllBytes(tmp)
      } finally Files.deleteIfExists(tmp)
    }.toVector
    val manifest = fullEntryJson(e, kts, dir, checksText, nextFieldId,
      epochs, "fparts" -> JLong(parts.length.toLong), layout, colStats)
    (manifest, parts)
  }

  /** The FULL entry layout shared by log entries and checkpoint
    * manifests; `filesField` is the census — inline (`"files"`) or
    * sliced out into parts (`"fparts"`). */
  private def fullEntryJson(e: CommitEntry, kts: Seq[DataType], dir: Path,
      checksText: Map[String, String], nextFieldId: Long,
      epochs: Map[String, Long], filesField: (String, JValue),
      layout: Option[Layout] = None,
      colStats: Map[String, Array[Long]] = Map.empty): String = {
    val dvsJ = e.dvs.toList.map { case (f, bs) =>
      JArray(List(JString(refOf(f, dir)),
        JArray(bs.toList.map(p => JLong(p.toLong)))))
    }
    val json = JObject(
      List(
      "version" -> (JLong(e.version.toLong): JValue),
      "ts" -> (JLong(e.tsMicros): JValue),
      "op" -> (JString(e.operation): JValue),
      "schema" -> (JString(e.schema.json): JValue),
      "nextFieldId" -> (JLong(nextFieldId): JValue)) ++
      layout.map(l => "layout" -> layoutJson(l)).toList ++
      List(
      filesField,
      "added" -> JArray(e.added.toList.map(encodeFile(_, e.schema, kts, dir))),
      "removed" -> JArray(
        e.removed.toList.map(encodeFile(_, e.schema, kts, dir))),
      "dvs" -> JArray(dvsJ),
      "checks" -> JArray(checksText.toList.sortBy(_._1).map { case (n, t) =>
        JArray(List(JString(n), JString(t)))
      }),
      // streaming-sink exactly-once ledger (Delta's txn versions): a
      // restarted process must recognize an already-committed epoch
      "epochs" -> JArray(epochs.toList.sortBy(_._1).map { case (q, ep) =>
        JArray(List(JString(q), JLong(ep)))
      })) ++ paramsJson(e.params) ++ colStatsJson(colStats))
    JsonMethods.compact(JsonMethods.render(json))
  }

  /** Delta's operationParameters — absent when empty so old logs and
    * parameter-less commits encode byte-identically to before. */
  private def paramsJson(params: Map[String, String])
      : List[(String, JValue)] =
    if (params.isEmpty) Nil
    else List("params" -> JArray(params.toList.sortBy(_._1).map {
      case (k, v) => JArray(List(JString(k), JString(v)))
    }))

  /** Serialize one commit as a DELTA against the previous state —
    * O(commit) bytes, never O(table): removed state files as INDICES
    * into the previous census (indices are unambiguous where refs are
    * not — position views share their base's ref), appended state files
    * as full file objects, and only the delete vectors that changed.
    * Returns None when the commit does not decompose as
    * `prev minus removals, plus an appended suffix` (RESTORE installs
    * an arbitrary old census, for example) — the caller falls back to
    * the FULL format, which any entry may legally use. */
  def encodeDelta(e: CommitEntry, prev: CommitEntry,
      partitionCols: Seq[String], bucketSpec: Option[(Int, String)],
      dir: Path, checksText: Map[String, String], nextFieldId: Long,
      epochs: Map[String, Long],
      colStats: Map[String, Array[Long]] = Map.empty): Option[String] = {
    val kts = keyTypes(e.schema, partitionCols, bucketSpec)
    val inNew = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
    e.files.foreach(inNew.add)
    val kept = prev.files.filter(inNew.contains)
    // exact-reconstruction check: the new census must be the kept
    // prefix (in prior order) plus a brand-new suffix, element-wise by
    // identity — anything else (a reorder, a duplicate identity) goes
    // through the full format
    if (e.files.length < kept.length) return None
    var i = 0
    while (i < kept.length) {
      if (!(e.files(i) eq kept(i))) return None
      i += 1
    }
    val fadd = e.files.drop(kept.length)
    val inPrev = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
    prev.files.foreach(inPrev.add)
    if (fadd.exists(inPrev.contains)) return None
    val fremIdx = prev.files.zipWithIndex.collect {
      case (f, idx) if !inNew.contains(f) => idx
    }
    // delete-vector delta vs prev (identity-keyed maps, so lookups are
    // file-object identity)
    val dvset = e.dvs.toList.filter { case (f, bs) =>
      !prev.dvs.get(f).contains(bs)
    }
    val dvdel = prev.dvs.keysIterator.filterNot(e.dvs.contains).toList
    if (dvset.nonEmpty || dvdel.nonEmpty) {
      // DV deltas address files BY REF — bail to the full format if any
      // referenced ref is ambiguous or targets a file outside the state
      val ok = try {
        val newRefs = e.files.map(refOf(_, dir))
        val dup = newRefs.groupBy(identity).collect {
          case (r, g) if g.size > 1 => r
        }.toSet
        val prevDvRefs = prev.dvs.keysIterator.map(refOf(_, dir)).toList
        dvset.forall { case (f, _) =>
          e.files.exists(_ eq f) && !dup.contains(refOf(f, dir))
        } && prevDvRefs.distinct.length == prevDvRefs.length
      } catch { case _: RuntimeException => false }
      if (!ok) return None
    }
    val dvsetJ = dvset.map { case (f, bs) =>
      JArray(List(JString(refOf(f, dir)),
        JArray(bs.toList.map(p => JLong(p.toLong)))))
    }
    val json = JObject(List[(String, JValue)](
      "version" -> JLong(e.version.toLong),
      "ts" -> JLong(e.tsMicros),
      "op" -> JString(e.operation),
      "schema" -> JString(e.schema.json),
      "nextFieldId" -> JLong(nextFieldId),
      "frem" -> JArray(fremIdx.toList.map(idx => JLong(idx.toLong))),
      "fadd" -> JArray(fadd.toList.map(encodeFile(_, e.schema, kts, dir))),
      "dvset" -> JArray(dvsetJ),
      "dvdel" -> JArray(dvdel.map(f => JString(refOf(f, dir)): JValue)),
      "added" -> JArray(e.added.toList.map(encodeFile(_, e.schema, kts, dir))),
      "removed" -> JArray(
        e.removed.toList.map(encodeFile(_, e.schema, kts, dir))),
      "checks" -> JArray(checksText.toList.sortBy(_._1).map { case (n, t) =>
        JArray(List(JString(n), JString(t)))
      }),
      "epochs" -> JArray(epochs.toList.sortBy(_._1).map { case (q, ep) =>
        JArray(List(JString(q), JLong(ep)))
      })) ++ paramsJson(e.params) ++ colStatsJson(colStats))
    Some(JsonMethods.compact(JsonMethods.render(json)))
  }

  /** One decoded entry: the CommitEntry plus (checks texts, field-id
    * counter, streaming-epoch ledger, embedded layout — REPLACE swaps
    * and post-replace checkpoints carry one) the entry carried. */
  final case class DecodedEntry(entry: CommitEntry,
      checksText: Map[String, String], nextFieldId: Long,
      epochs: Map[String, Long], layout: Option[Layout] = None,
      colStats: Map[String, Array[Long]] = Map.empty)

  /** Decode one log entry. FULL entries (a `files` census — v0,
    * checkpoints, fallbacks) decode standalone; DELTA entries require
    * `prev`, the materialized previous state, and reconstruct the
    * census by carrying the prior FILE OBJECTS through — which is what
    * keeps identity-based structures (DV keys, the prefix-identity
    * conflict check) stable across a fold. */
  /** Default part resolver: FULL and DELTA entries never reference
    * checkpoint parts, so hitting this means a multi-part manifest was
    * decoded without handing it the table log's part files. */
  val noPartReader: (Int, Int) => Path = (i, n) =>
    throw new IllegalStateException(
      s"entry references checkpoint part $i of $n but no part reader " +
        "was supplied — multi-part manifests decode only via their log")

  def decodeEntry(json: String, partitionCols: Seq[String],
      bucketSpec: Option[(Int, String)], dir: Path,
      registry: TrieMap[String, GraftDataFile],
      prev: Option[CommitEntry] = None,
      partReader: (Int, Int) => Path = noPartReader): DecodedEntry = {
    val o = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
    val schema = DataType.fromJson(o("schema").asInstanceOf[JString].s)
      .asInstanceOf[StructType]
    // an entry with an EMBEDDED layout (a REPLACE swap, a post-replace
    // checkpoint) decodes its group keys under THAT layout — the passed
    // layout is only the fold's threaded state for ordinary entries
    val layoutOpt = o.get("layout").map(decodeLayout)
    val (pcEff, bsEff) = layoutOpt
      .map(l => (l._1, l._2)).getOrElse((partitionCols, bucketSpec))
    val kts = keyTypes(schema, pcEff, bsEff)
    def filesOf(key: String): Vector[GraftDataFile] =
      o(key).asInstanceOf[JArray].arr.toVector
        .map(decodeFile(_, schema, kts, dir, registry))
    // multi-part checkpoint manifest: the census lives in n sibling
    // PARQUET part files, each an independent in-order slice. With an
    // ACTIVE SparkSession (the normal restart — catalog resolution
    // runs on a session thread) the parts are read and parquet-decoded
    // INSIDE Spark tasks, one per part, and only the O(census) meta
    // JSON strings return to the driver — at million-file scale the
    // decode spreads across the cluster and the driver's part-read
    // census stays ZERO (GraftDeltaLogSpec pins it). Without a session
    // (codec unit tests, non-Spark processes) the parts decode on
    // concurrent driver threads as before. Either way the slices
    // splice back IN ORDER — census order is load-bearing (delta
    // entries' `frem` are indices into it). The `meta` column is the
    // file object's JSON (Delta's stats-as-JSON-string pattern), so
    // the final object build reuses the one codec; `decodeFile`
    // touches the thread-safe registry and stays driver-side.
    def filesFromParts(n: Int): Vector[GraftDataFile] = {
      val metas: Vector[String] =
        org.apache.spark.sql.SparkSession.getActiveSession match {
          case Some(sp) =>
            val paths = (0 until n).map(i => partReader(i, n).toString)
            sp.sparkContext
              .parallelize(paths.zipWithIndex.toSeq, n)
              .map { case (p, i) =>
                (i, GraftSegmentIO.read(java.nio.file.Paths.get(p),
                  CheckpointPartSchema, Array(3))
                  .map(_.getUTF8String(0).toString).toArray)
              }
              .collect().sortBy(_._1).iterator
              .flatMap(_._2).toVector
          case None =>
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            import scala.concurrent.ExecutionContext.Implicits.global
            val slices = (0 until n).map(i => Future {
              GraftSegmentIO.read(partReader(i, n), CheckpointPartSchema,
                Array(3)).map(_.getUTF8String(0).toString).toVector
            })
            // finite barrier: a hung part read fails the table load
            // after a generous bound instead of wedging it forever
            try Await.result(Future.sequence(slices), Duration(30, "min"))
              .toVector.flatten
            catch {
              case e: java.util.concurrent.TimeoutException =>
                throw new IllegalStateException(s"durable table at $dir: " +
                  s"decoding its $n checkpoint parts did not finish " +
                  "within 30 minutes", e)
            }
        }
      metas.map(m =>
        decodeFile(JsonMethods.parse(m), schema, kts, dir, registry))
    }
    val isDelta = !o.contains("files") && !o.contains("fparts")
    def prevState: CommitEntry = prev.getOrElse(
      throw new IllegalStateException(
        s"delta log entry v${num(o("version"))} requires the preceding " +
          "state — fold from an anchor (v0 or a checkpoint)"))
    val files =
      if (o.contains("fparts")) filesFromParts(num(o("fparts")).toInt)
      else if (!isDelta) filesOf("files")
      else {
        val p = prevState
        val rem = o("frem").asInstanceOf[JArray].arr
          .map(num(_).toInt).toSet
        p.files.zipWithIndex.collect {
          case (f, idx) if !rem.contains(idx) => f
        } ++ filesOf("fadd")
      }
    val added = filesOf("added")
    val removed = filesOf("removed")
    val dvs =
      if (!isDelta)
        o("dvs").asInstanceOf[JArray].arr.map {
          case JArray(List(JString(ref), JArray(ps))) =>
            val f = registry.getOrElse(ref, throw new IllegalStateException(
              s"delete vector references unknown segment $ref"))
            f -> scala.collection.immutable.BitSet(ps.map(num(_).toInt): _*)
          case other => throw new IllegalStateException(s"bad dv: $other")
        }.toMap
      else {
        val p = prevState
        val dels = o("dvdel").asInstanceOf[JArray].arr
          .map(_.asInstanceOf[JString].s).toSet
        val sets = o("dvset").asInstanceOf[JArray].arr.map {
          case JArray(List(JString(ref), JArray(ps))) =>
            ref -> scala.collection.immutable.BitSet(ps.map(num(_).toInt): _*)
          case other => throw new IllegalStateException(s"bad dvset: $other")
        }
        val byRef =
          if (sets.isEmpty) Map.empty[String, GraftDataFile]
          else files.iterator.map(f => refOf(f, dir) -> f).toMap
        val base =
          if (dels.isEmpty) p.dvs
          else p.dvs.filter { case (k, _) => !dels.contains(refOf(k, dir)) }
        base ++ sets.map { case (ref, bs) =>
          byRef.getOrElse(ref, registry.getOrElse(ref,
            throw new IllegalStateException(
              s"delete vector references unknown segment $ref"))) -> bs
        }
      }
    val checks = o("checks").asInstanceOf[JArray].arr.map {
      case JArray(List(JString(n), JString(t))) => n -> t
      case other => throw new IllegalStateException(s"bad check: $other")
    }.toMap
    val epochs = o.get("epochs").map(_.asInstanceOf[JArray].arr.map {
      case JArray(List(JString(q), ep)) => q -> num(ep).toLong
      case other => throw new IllegalStateException(s"bad epoch: $other")
    }.toMap).getOrElse(Map.empty[String, Long])
    val colStats = o.get("colstats").map(_.asInstanceOf[JArray].arr.map {
      case JArray(JString(c) :: vals) => c -> vals.map(num(_).toLong).toArray
      case other => throw new IllegalStateException(s"bad colstat: $other")
    }.toMap).getOrElse(Map.empty[String, Array[Long]])
    val params = o.get("params").map(_.asInstanceOf[JArray].arr.map {
      case JArray(List(JString(k), JString(v))) => k -> v
      case other => throw new IllegalStateException(s"bad param: $other")
    }.toMap).getOrElse(Map.empty[String, String])
    DecodedEntry(
      CommitEntry(num(o("version")).toInt, schema, files,
        num(o("ts")).toLong, o("op").asInstanceOf[JString].s,
        added, removed, dvs, params),
      checks, num(o("nextFieldId")).toLong, epochs, layoutOpt, colStats)
  }

  // ---- table.json -----------------------------------------------------

  /** On-disk format generation this engine reads AND writes (Delta's
    * minReader/minWriterVersion, collapsed to one number while every
    * feature so far is readable by every writer level).
    * 1 = full-census log entries; 2 = delta entries + (multi-part
    * parquet) checkpoints; 3 = named REFS exist — branches (sibling
    * commit chains under `log/<branch>/` sharing the `data/` reclaim
    * domain) AND tags (`tags/<name>.json` retention pins). Branches
    * and tags shipped as ONE generation: every engine that reads
    * format 3 honors both pin kinds, so there is no "knows branches
    * but not tags" build a tagged table could mislead.
    * Format 1/2 tables stay readable (a full entry is a
    * legal shape at every version); a table stamped ABOVE this refuses
    * to open — an older engine that half-understood a newer layout
    * could fold the wrong state or VACUUM segments the newer format
    * still references, and both failure modes are silent. Branch-less
    * tables keep WRITING format 2 ([[BaseFormat]]); the stamp moves to
    * 3 only when the first branch is created, so a pre-branch engine
    * refuses exactly the tables where a half-understood tree could
    * lose a branch's segments. */
  val CurrentFormat = 3
  val BaseFormat = 2
  val BranchFormat = 3

  def encodeTableMeta(namespace: Seq[String], name: String,
      displayName: String, partitionCols: Seq[String],
      rowLevelMode: String, bucketSpec: Option[(Int, String)],
      format: Int = BaseFormat): String = {
    val json = JObject(
      "format" -> JLong(format.toLong),
      "namespace" -> JArray(namespace.toList.map(JString(_))),
      "name" -> JString(name),
      "displayName" -> JString(displayName),
      "partitionCols" -> JArray(partitionCols.toList.map(JString(_))),
      "rowLevelMode" -> JString(rowLevelMode),
      "bucketSpec" -> bucketSpec.map { case (n, c) =>
        JArray(List(JLong(n.toLong), JString(c)))
      }.getOrElse(JNull))
    JsonMethods.compact(JsonMethods.render(json))
  }

  final case class TableMeta(namespace: Seq[String], name: String,
      displayName: String, partitionCols: Seq[String],
      rowLevelMode: String, bucketSpec: Option[(Int, String)],
      format: Int = 1)

  def decodeTableMeta(json: String): TableMeta = {
    val o = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
    val meta = TableMeta(
      o("namespace").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JString].s),
      o("name").asInstanceOf[JString].s,
      o("displayName").asInstanceOf[JString].s,
      o("partitionCols").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JString].s),
      o("rowLevelMode").asInstanceOf[JString].s,
      o("bucketSpec") match {
        case JNull => None
        case JArray(List(n, JString(c))) => Some((num(n).toInt, c))
        case other => throw new IllegalStateException(s"bad bucketSpec: $other")
      },
      // pre-versioning tables carry no field — format 1 by definition
      format = o.get("format").map(num(_).toInt).getOrElse(1))
    if (meta.format > CurrentFormat)
      throw new GraftFormatException(
        s"table '${meta.displayName}' was written by a NEWER engine " +
          s"(format ${meta.format}; this engine reads <= $CurrentFormat) " +
          "— refusing to open: folding or vacuuming a half-understood " +
          "layout silently corrupts it. Upgrade the engine instead.")
    meta
  }

  /** The format gate's refusal — its own type so warehouse open can
    * SKIP a too-new table (one table stamped by a newer engine must not
    * make every healthy sibling inaccessible — the same principle as
    * the aborted-create skip) while a direct load still fails loudly. */
  final class GraftFormatException(msg: String)
      extends IllegalStateException(msg)

  def encodeNamespaceMeta(parts: Seq[String],
      metadata: java.util.Map[String, String]): String = {
    import scala.jdk.CollectionConverters._
    val json = JObject(
      "namespace" -> JArray(parts.toList.map(JString(_))),
      "metadata" -> JObject(metadata.asScala.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) }))
    JsonMethods.compact(JsonMethods.render(json))
  }

  def decodeNamespaceMeta(json: String)
      : (Seq[String], java.util.Map[String, String]) = {
    val o = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
    val parts = o("namespace").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JString].s)
    val m = new java.util.HashMap[String, String]()
    o("metadata").asInstanceOf[JObject].obj.foreach { case (k, v) =>
      m.put(k, v.asInstanceOf[JString].s)
    }
    (parts, m)
  }
}

/** Warehouse open/create: discovers durable tables (any child dir with a
  * `table.json`) and declared namespaces (JSONs under `_ns`), replays each
  * table's retained commit log into a live [[GraftTable]]. Segment
  * payloads are NOT read here — only log JSONs — so opening a warehouse
  * of N tables costs O(total retained commits), never O(data). */
private[sources] object GraftDurableLoader {

  /** Path-safe encoding of one identifier part (alnum, dash and dot pass
    * through; everything else %-escapes). '_' escapes too — it is the
    * JOIN character for multi-part names, so it must be absent from
    * encoded output or Seq("a_b") and Seq("a","b") would collide on the
    * same durable path and silently overwrite each other's records. */
  def encodePart(s: String): String =
    s.map {
      case c if c.isLetterOrDigit || c == '-' || c == '.' =>
        c.toString
      case c => f"%%${c.toInt}%04x"
    }.mkString

  def open(warehouse: String,
      logStore: GraftLogStore = GraftLogStore.LocalFs): GraftStoreState = {
    val wh = Paths.get(warehouse).toAbsolutePath.normalize
    Files.createDirectories(wh)
    val store = new GraftStoreState(Some(wh), logStore)
    import scala.jdk.CollectionConverters._
    val nsDir = wh.resolve("_ns")
    if (Files.isDirectory(nsDir)) {
      val s = Files.list(nsDir)
      try s.iterator().asScala.filter(_.toString.endsWith(".json"))
        .foreach { p =>
          val (parts, meta) = GraftLogCodec.decodeNamespaceMeta(
            new String(Files.readAllBytes(p), UTF_8))
          store.namespaces.put(parts, meta)
        }
      finally s.close()
    }
    // crashed staged CREATEs: a top-level `_stage-<uuid>` dir whose
    // staging JVM died before its commit renamed it live. Never
    // discovered as a table (filtered below); swept here once old
    // enough that no live process can still be mid-stage on it.
    {
      val cutoff = System.currentTimeMillis() - GraftTable.orphanGraceMillis
      val s0 = Files.list(wh)
      try s0.iterator().asScala.toSeq
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("_stage-") &&
          (try Files.getLastModifiedTime(d).toMillis <= cutoff
           catch { case _: java.io.IOException => false }))
        .foreach { d =>
          val walk = Files.walk(d)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(logStore.delete)
          finally walk.close()
        }
      finally s0.close()
    }
    val s = Files.list(wh)
    try s.iterator().asScala.toSeq
      .filter(d => !d.getFileName.toString.startsWith("_stage-") &&
        Files.isRegularFile(d.resolve("table.json")))
      .foreach { dir =>
        // A dir with table.json but zero log entries is an ABORTED
        // CREATE (crash between writeTableMeta and the v0 CAS). Skip it
        // rather than failing the whole warehouse — one half-created
        // table must never make every healthy table inaccessible. Not
        // deleted here: a concurrent creator may be mid-commit between
        // the two writes right now.
        if (new GraftTableLog(dir, logStore).hasAnyEntry) {
          try {
            val t = loadTable(dir, logStore)
            val meta = GraftLogCodec.decodeTableMeta(
              new GraftTableLog(dir, logStore).readTableMeta())
            store.tables.put((meta.namespace, meta.name), t)
            // live branch chains load as their own table objects,
            // addressed `t@branch` through the store's branch map. A
            // half-created branch (crash between dir init and the
            // creation entry's CAS) has no entries and is skipped —
            // like an aborted table create, it must not fail the
            // healthy tree. A chain that HAS entries but cannot fold
            // (a crashed DROP BRANCH's remnant — gapped log, missing
            // anchors) skips PER BRANCH with the refusal recorded:
            // one broken branch must never take down the table, let
            // alone the warehouse.
            new GraftTableLog(dir, logStore).listBranches.foreach { b =>
              if (new GraftTableLog(dir, logStore, Some(b)).hasAnyEntry)
                try store.branchTables.put((meta.namespace, meta.name, b),
                  loadTable(dir, logStore, Some(b)))
                catch {
                  case scala.util.control.NonFatal(e) =>
                    store.skippedNewerFormat.put(
                      s"${dir.getFileName}@$b",
                      s"branch '$b' failed to load (likely a crashed " +
                        s"DROP BRANCH remnant): ${e.getMessage}")
                }
            }
          } catch {
            // a table stamped by a NEWER engine refuses per TABLE, not
            // per warehouse: healthy siblings stay served, the skip is
            // recorded, and any direct load of the dir still throws
            case e: GraftLogCodec.GraftFormatException =>
              store.skippedNewerFormat
                .put(dir.getFileName.toString, e.getMessage)
          }
        }
      }
    finally s.close()
    store
  }

  /** Replay one table dir's log into a live table: find the newest
    * ANCHOR (v0, or a checkpoint) at or below the retention base, seed
    * state from it, fold the delta tail on top. Restart cost is one
    * checkpoint plus O(retained tail) delta entries — never O(all
    * commits × files).
    *
    * `branch = Some(b)` folds the BRANCH chain (`log/<b>/`) instead:
    * its creation entry is a full census at the fork version — the
    * chain's own v0-style anchor — so a branch fold never touches the
    * main chain's entries. */
  def loadTable(dir: Path,
      logStore: GraftLogStore = GraftLogStore.LocalFs,
      branch: Option[String] = None): GraftTable = {
    val log = new GraftTableLog(dir, logStore, branch)
    val meta = GraftLogCodec.decodeTableMeta(log.readTableMeta())
    val d = new GraftTableDurability(log)
    val entryVs = log.listEntryVersions
    require(entryVs.nonEmpty, s"durable table at $dir has an empty log")
    val latest = entryVs.last
    val ckpts = log.listCheckpointVersions.filter(_ <= latest)
    // the chain's log-entry anchor: v0 for main, the retained creation
    // full entry for a branch (the fork snapshot). Branch props carry
    // the declarative retention (r18) alongside the fork identity.
    val branchProps = branch.map(_ => log.readBranchProps())
    val forkV = branchProps.map(_._1)
    val headIsAnchor =
      (branch.isEmpty && entryVs.head == 0) || forkV.contains(entryVs.head)
    d.anchors = scala.collection.immutable.SortedSet.empty[Int] ++
      (if (headIsAnchor) ckpts :+ entryVs.head else ckpts)
    // versions below this are unreadable after the in-memory retention
    // trim anyway, so the fold never starts below it
    val base = math.max(entryVs.head,
      latest - math.max(2, GraftTable.historyRetention) + 1)
    val start = ckpts.filter(_ <= base) match {
      case Nil =>
        require(headIsAnchor, s"durable table at $dir: log starts " +
          s"at v${entryVs.head} with no checkpoint at or below it — " +
          "the delta tail has no anchor to fold from")
        None
      case xs => Some(xs.max)
    }
    val buf = Vector.newBuilder[GraftLogCodec.DecodedEntry]
    var prev: Option[CommitEntry] = None
    // the LAYOUT threads through the fold: table.json records only the
    // CREATION layout; a REPLACE swap (and every checkpoint of a
    // replaced table) embeds the layout then in force, and ordinary
    // entries inherit the latest one seen — Delta's per-version
    // metaData model. Superseded layouts are kept so time travel /
    // clones of pre-replace versions bind the right group-key columns.
    var curLayout: GraftLogCodec.Layout =
      (meta.partitionCols, meta.bucketSpec, meta.rowLevelMode)
    var layouts = List.empty[(Int, Seq[String], Option[(Int, String)])]
    var sawReplace = false
    def absorb(dec: GraftLogCodec.DecodedEntry): Unit = {
      dec.layout.foreach { l =>
        if ((l._1, l._2) != (curLayout._1, curLayout._2))
          layouts = layouts :+
            ((dec.entry.version - 1, curLayout._1, curLayout._2))
        curLayout = l
      }
      if (dec.entry.operation == GraftTable.ReplaceOp) sawReplace = true
      buf += dec
      prev = Some(dec.entry)
    }
    start.foreach { c =>
      absorb(GraftLogCodec.decodeEntry(log.readCheckpoint(c),
        meta.partitionCols, meta.bucketSpec, dir, d.registry,
        partReader = (i, n) => log.ckptPartPath(c, i, n)))
    }
    val from = prev.map(_.version + 1).getOrElse(0)
    log.readEntriesFrom(from).foreach { case (v, json) =>
      require(prev.map(_.version + 1).getOrElse(entryVs.head) == v,
        s"durable table at $dir: gap in the commit log at v$v")
      absorb(GraftLogCodec.decodeEntry(json, curLayout._1,
        curLayout._2, dir, d.registry, prev))
    }
    val decoded = buf.result()
    val t = new GraftTable(
      branch.map(b => s"${meta.displayName}@$b").getOrElse(meta.displayName),
      decoded.last.entry.schema, curLayout._1, curLayout._3, curLayout._2)
    // the declared per-branch retention must govern the very replay
    // that follows (its trim window), not just later commits
    branchProps.foreach { p =>
      t.retainSnapshotsOverride = p._2
      t.refAgeHoursDeclared = p._3
      t.retainHoursOverride = p._4
    }
    t.bootstrapDurable(d, decoded)
    t.priorLayouts = layouts
    // a branch creation entry embeds its layout exactly when the parent
    // was ever replaced — the fold seeing one must keep embedding in
    // the branch's own checkpoints (same invariant as the main chain)
    t.everReplaced = sawReplace || layouts.nonEmpty ||
      (branch.isDefined && decoded.head.layout.isDefined)
    forkV.foreach(f => t.branchMeta = Some((branch.get, f)))
    t
  }

  /** Allocate a fresh table dir under the warehouse (encoded name;
    * suffixed when a renamed predecessor still owns the plain name). */
  def allocateTableDir(wh: Path, namespace: Seq[String],
                       name: String): Path = {
    val base = (namespace :+ name).map(encodePart).mkString("_")
    var candidate = wh.resolve(base)
    var i = 1
    while (Files.exists(candidate)) {
      candidate = wh.resolve(s"$base-$i")
      i += 1
    }
    candidate
  }
}
