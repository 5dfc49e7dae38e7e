package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec

/** The delta-shaped commit log (round 12): post-v0 entries carry only
  * the commit's file/DV DELTA — O(commit) bytes, never the O(table)
  * census — with periodic full-state checkpoints as fold anchors, so a
  * restart reads one checkpoint plus the tail and reclaim can retire
  * the delta entries below an anchor. Delta's delta-JSON + checkpoint
  * layout (the format the reference's platform gives its Delta tables,
  * Batch_Bronze_to_Silver notebook-content.py:200), re-expressed over
  * this engine's JSON log. */
class GraftDeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private def durableCatalog(name: String, dir: String,
                             isolated: Boolean = false): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    if (isolated)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
  }

  private def tableDir(wh: String): Path =
    Files.list(Paths.get(wh))
      .filter(p => Files.isRegularFile(p.resolve("table.json")))
      .findFirst().orElseThrow()

  private def entryJson(td: Path, v: Int): String =
    new String(Files.readAllBytes(
      td.resolve("log").resolve(f"$v%011d.json")), "UTF-8")

  private def listVersions(d: Path): Seq[Int] = {
    if (!Files.isDirectory(d)) return Nil
    import scala.jdk.CollectionConverters._
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && n.length == 16)
      .map(_.stripSuffix(".json").toInt).toSeq.sorted
    finally s.close()
  }

  test("a 1-row append to a many-file table writes an O(commit) delta " +
      "entry, not an O(files) census") {
    val wh = tmpDir("graft-dlog-size")
    durableCatalog("dlg", wh)
    spark.sql("CREATE TABLE dlg.ns.t_sz (id BIGINT, v STRING)")
    for (i <- 1 to 24)
      spark.sql(s"INSERT INTO dlg.ns.t_sz VALUES ($i, 'r$i')")
    val td = tableDir(wh)
    // every insert landed one new file — the table now holds 24
    val early = entryJson(td, 2)
    val late = entryJson(td, 24)
    assert(!late.contains("\"files\""),
      "a plain append must serialize as a DELTA entry (no state census)")
    assert(late.length < early.length * 2,
      s"entry bytes must not grow with the file count: " +
        s"v2=${early.length}B vs v24=${late.length}B")
    // the v0 creation entry stays FULL-format (it IS the fold anchor)
    assert(entryJson(td, 0).contains("\"files\""))
  }

  test("a bloom-indexed append's log entry stays O(1) in row count: " +
      "the filter words live in the segment sidecar, not the log") {
    val wh = tmpDir("graft-dlog-bloom")
    durableCatalog("dlb", wh)
    spark.sql("CREATE TABLE dlb.ns.t_bl (k STRING, v BIGINT) " +
      "TBLPROPERTIES ('bloom.columns'='k')")
    import spark.implicits._
    (0 until 100).map(i => (f"key$i%06d", i.toLong)).toDF("k", "v")
      .coalesce(1).writeTo("dlb.ns.t_bl").append()
    (0 until 20000).map(i => (f"big$i%06d", i.toLong)).toDF("k", "v")
      .coalesce(1).writeTo("dlb.ns.t_bl").append()
    val td = tableDir(wh)
    val small = entryJson(td, 1)
    val big = entryJson(td, 2)
    // 20k keys at 10 bits/key would be ~25 KB inlined; the ref form is
    // three integers per bloom'd column regardless of row count
    assert(big.contains("\"blx\""), "entries must carry bloom REFS")
    assert(!big.contains("\"bl\":"), "no inline filter words in the log")
    assert(big.length < small.length + 256,
      s"entry bytes must not scale with rows: " +
        s"100-row=${small.length}B vs 20000-row=${big.length}B")
    // the words live beside the segment, and the skip still works after
    // a cold fold (the restart reads the sidecar, not the entry)
    import scala.jdk.CollectionConverters._
    val sidecars = Files.list(td.resolve("data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".bloom")).toSeq
    assert(sidecars.size === 2, s"one sidecar per segment: $sidecars")
    durableCatalog("dlbr", wh, isolated = true)
    val n = spark.table("dlbr.ns.t_bl")
      .filter(org.apache.spark.sql.functions.col("k") === "big000007")
      .count()
    assert(n === 1L)
    val t = spark.sessionState.catalogManager.catalog("dlbr")
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), "t_bl"))
    val c = t.lastScanCensus.get
    assert(c.filesRead === 1,
      s"cold-fold bloom (from the sidecar) must skip the other file: $c")
    // OVERWRITE retires both files (they stay as the overwrite entry's
    // CDC preimages); once that entry itself retires, VACUUM sweeps the
    // orphaned segments AND their sidecars
    spark.sql("INSERT OVERWRITE dlb.ns.t_bl VALUES ('only', 1)")
    spark.sql("INSERT INTO dlb.ns.t_bl VALUES ('more', 2)")
    GraftMaintenance.sql(spark, "VACUUM dlb.ns.t_bl RETAIN 1 SNAPSHOTS")
      .collect()
    val left = Files.list(td.resolve("data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".bloom")).toSeq
    assert(left.size === 2,
      s"vacuum must sweep orphaned sidecars with their segments: $left")
  }

  test("a checkpoint lands every K commits; restart folds checkpoint + " +
      "tail after the pre-anchor entries are reclaimed") {
    val savedK = GraftTable.checkpointInterval
    try {
      GraftTable.checkpointInterval = 4
      val wh = tmpDir("graft-dlog-ckpt")
      durableCatalog("dck", wh)
      spark.sql("CREATE TABLE dck.ns.t_ck (id BIGINT, v STRING)")
      for (i <- 1 to 10)
        spark.sql(s"INSERT INTO dck.ns.t_ck VALUES ($i, 'r$i')")
      val td = tableDir(wh)
      assert(listVersions(td.resolve("ckpt")) === Seq(4, 8),
        "a full-state checkpoint must land every K-th commit")

      // retire history to the last 5 snapshots (base = v6). The floor
      // is anchor-gated: VACUUM installs a checkpoint AT the base, so
      // every delta entry below it is deletable
      GraftMaintenance.sql(spark, "VACUUM dck.ns.t_ck RETAIN 5 SNAPSHOTS")
        .collect()
      assert(listVersions(td.resolve("log")) === Seq(6, 7, 8, 9, 10),
        "entries below the anchored base must be physically gone")
      assert(listVersions(td.resolve("ckpt")).contains(6),
        "explicit VACUUM must anchor the new retention base")
      assert(!listVersions(td.resolve("ckpt")).contains(4),
        "superseded checkpoints below the anchor must be swept")

      // restart: the fold MUST start from the checkpoint (entry 6 on
      // disk is a delta — unreadable standalone) and serve data, time
      // travel and CDF within the retained window
      durableCatalog("dck2", wh, isolated = true)
      assert(spark.sql("SELECT count(*) FROM dck2.ns.t_ck").as[Long].head()
        === 10L)
      assert(spark.sql("SELECT id FROM dck2.ns.t_ck VERSION AS OF 7 ORDER BY id")
        .as[Long].collect().length === 7)
      val ch = spark.sql("SELECT _change_type, id FROM dck2.ns.`t_ck$changes` " +
        "WHERE _commit_version = 9").as[(String, Long)].collect().toSeq
      assert(ch === Seq(("insert", 9L)),
        "the change feed must reconstruct from checkpoint + delta tail")
    } finally GraftTable.checkpointInterval = savedK
  }

  test("RESTORE decomposes as a pure-removal delta; restart parity " +
      "holds across the mixed tail") {
    val wh = tmpDir("graft-dlog-restore")
    durableCatalog("drs", wh)
    spark.sql("CREATE TABLE drs.ns.t_rs (id BIGINT, v STRING)")
    spark.sql("INSERT INTO drs.ns.t_rs VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql("INSERT INTO drs.ns.t_rs VALUES (3, 'c')")           // v2
    spark.sql("INSERT INTO drs.ns.t_rs VALUES (4, 'd')")           // v3
    GraftMaintenance.sql(spark,
      "RESTORE TABLE drs.ns.t_rs TO VERSION AS OF 2").collect()    // v4
    val td = tableDir(wh)
    assert(!entryJson(td, 3).contains("\"files\""),
      "the plain append stays delta-shaped")
    // this RESTORE drops a suffix file — kept-prefix + empty suffix IS
    // a delta (frem only); its CDC preimage rides `removed` as usual
    assert(!entryJson(td, 4).contains("\"files\"") &&
      entryJson(td, 4).contains("\"frem\""),
      "a suffix-dropping RESTORE must still serialize as a delta")
    durableCatalog("drs2", wh, isolated = true)
    assert(spark.sql("SELECT id FROM drs2.ns.t_rs ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L),
      "a fold across the mixed tail must land on the restored state")
  }

  test("a commit that REORDERS the census cannot delta-encode: " +
      "encodeDelta declines and the caller falls back to full") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    def file(): GraftDataFile =
      new GraftDataFile(Array.empty, Array(null), 1L, None)
    val f1 = file(); val f2 = file()
    val prev = CommitEntry(1, schema, Vector(f1, f2), 1L)
    val reordered = CommitEntry(2, schema, Vector(f2, f1), 2L)
    assert(GraftLogCodec.encodeDelta(reordered, prev, Nil, None,
      Paths.get("/tmp"), Map.empty, 0L, Map.empty).isEmpty,
      "a reordered census must refuse the delta format (full fallback)")
    // sanity: the same census in the same order DOES delta-encode the
    // no-op commit
    val same = CommitEntry(2, schema, Vector(f1, f2), 2L)
    assert(GraftLogCodec.encodeDelta(same, prev, Nil, None,
      Paths.get("/tmp"), Map.empty, 0L, Map.empty).isDefined)
  }

  test("a stale writer whose base was VACUUMed away fails loudly " +
      "instead of forking the log at a freed version number") {
    val wh = tmpDir("graft-dlog-stale")
    durableCatalog("dsb", wh)
    spark.sql("CREATE TABLE dsb.ns.t_st (id BIGINT, v STRING)")
    spark.sql("INSERT INTO dsb.ns.t_st VALUES (1, 'a')")
    // writer A: an isolated second "process" pinned at v1
    durableCatalog("dsa", wh, isolated = true)
    assert(spark.sql("SELECT count(*) FROM dsa.ns.t_st").as[Long].head()
      === 1L)
    // writer B advances the table and vacuums the tail PAST writer A
    for (i <- 2 to 8)
      spark.sql(s"INSERT INTO dsb.ns.t_st VALUES ($i, 'x')")
    GraftMaintenance.sql(spark, "VACUUM dsb.ns.t_st RETAIN 2 SNAPSHOTS")
      .collect()
    // A's next commit would CAS into a version number reclaim just
    // freed — the resulting entry would be invisible to every fold
    // (a forked log). It must abort loudly instead.
    val e = intercept[Exception](
      spark.sql("INSERT INTO dsa.ns.t_st VALUES (99, 'z')"))
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a conflict abort, got: $e")
    // B's universe is intact and gapless
    assert(spark.sql("SELECT count(*) FROM dsb.ns.t_st").as[Long].head()
      === 8L)
  }

  test("aggregate pushdown declines on view-backed CDC records: MIN " +
      "over the feed is the emitted rows', not the base envelope") {
    val wh = tmpDir("graft-dlog-aggcdc")
    durableCatalog("dag", wh)
    spark.sql("CREATE TABLE dag.ns.t_ag (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
    spark.sql("INSERT INTO dag.ns.t_ag VALUES (10, 'a'), (20, 'b'), " +
      "(30, 'c')")
    spark.sql("DELETE FROM dag.ns.t_ag WHERE id = 20") // preimage = VIEW
    // retire the insert commit so the feed holds ONLY the delete's
    // position view, whose zone envelope still spans the whole base
    GraftMaintenance.sql(spark, "VACUUM dag.ns.t_ag RETAIN 1 SNAPSHOTS")
      .collect()
    val mn = spark.sql("SELECT MIN(id) FROM dag.ns.`t_ag$changes`")
      .as[Long].head()
    assert(mn === 20L,
      "stats over a view's superset envelope must not answer MIN " +
        "(the envelope says 10; the only emitted row is 20)")
    assert(spark.sql("SELECT count(*) FROM dag.ns.`t_ag$changes`")
      .as[Long].head() === 1L)
  }

  test("the durable catalog runs END-TO-END on the conditional-put " +
      "LogStore: DML, time travel, CDF and restart on the object-store " +
      "shape") {
    val wh = tmpDir("graft-dlog-cas")
    def cat(name: String): Unit = {
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
      spark.conf.set(s"spark.sql.catalog.$name.warehouse.logstore",
        "conditional-put")
    }
    cat("dcp")
    spark.sql("CREATE TABLE dcp.ns.t_cp (id BIGINT, v STRING)")
    spark.sql("INSERT INTO dcp.ns.t_cp VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO dcp.ns.t_cp VALUES (3, 'c')")
    spark.sql("UPDATE dcp.ns.t_cp SET v = 'B' WHERE id = 2")
    spark.sql("DELETE FROM dcp.ns.t_cp WHERE id = 1")
    assert(spark.sql("SELECT id, v FROM dcp.ns.t_cp ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((2L, "B"), (3L, "c")))
    // restart: a fresh isolated catalog against the SAME shared fake —
    // what a second container sees from the object store
    cat("dcp2")
    assert(spark.sql("SELECT id, v FROM dcp2.ns.t_cp ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((2L, "B"), (3L, "c")))
    assert(spark.sql("SELECT id FROM dcp2.ns.t_cp VERSION AS OF 2 " +
      "ORDER BY id").as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    val ch = spark.sql("SELECT _change_type, id FROM dcp2.ns.`t_cp$changes` " +
      "WHERE _commit_version = 3 ORDER BY _change_type, id")
      .as[(String, Long)].collect().toSeq
    assert(ch === Seq(("delete", 2L), ("insert", 2L)),
      "the UPDATE's minimal delta must survive the fake-store restart")
  }

  test("concurrent writers on the conditional-put LogStore: every " +
      "append lands exactly once through the fake's lease + CAS") {
    val wh = tmpDir("graft-dlog-casrace")
    def cat(name: String): Unit = {
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
      spark.conf.set(s"spark.sql.catalog.$name.warehouse.logstore",
        "conditional-put")
    }
    cat("dcr")
    spark.sql("CREATE TABLE dcr.ns.t_cr (id BIGINT, v STRING)")
    cat("dcr2") // second "process", same shared fake
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(("dcr", 1L to 20L), ("dcr2", 21L to 40L)).map {
      case (c, ids) => new Thread(() => {
        gate.await()
        try ids.foreach(i =>
          spark.sql(s"INSERT INTO $c.ns.t_cr VALUES ($i, 'w')"))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"appends must never conflict: ${errs.peek()}")
    cat("dcr3")
    assert(spark.sql("SELECT id FROM dcr3.ns.t_cr ORDER BY id")
      .as[Long].collect().toSeq === (1L to 40L),
      "all 40 appends land exactly once on the object-store-shaped " +
        "backend")
  }

  test("schema evolution and constraints survive a checkpoint-anchored " +
      "restart (the riskiest fold: schema changes mid-tail)") {
    val savedK = GraftTable.checkpointInterval
    try {
      GraftTable.checkpointInterval = 3
      val wh = tmpDir("graft-dlog-evo")
      durableCatalog("dev12", wh)
      spark.sql("CREATE TABLE dev12.ns.t_ev (id BIGINT, v STRING)")
      for (i <- 1 to 3)
        spark.sql(s"INSERT INTO dev12.ns.t_ev VALUES ($i, 'r$i')")
      // evolve AFTER the v3 checkpoint: the tail carries the wider
      // schema and the new constraint; the checkpoint the restart
      // folds from knows neither
      spark.sql("ALTER TABLE dev12.ns.t_ev ADD COLUMN w INT")       // v4
      spark.sql("ALTER TABLE dev12.ns.t_ev SET TBLPROPERTIES " +
        "('constraints.pos' = 'id > 0')")                           // v5
      spark.sql("INSERT INTO dev12.ns.t_ev VALUES (4, 'r4', 44)")   // v6
      spark.sql("INSERT INTO dev12.ns.t_ev VALUES (5, 'r5', 55)")   // v7
      GraftMaintenance.sql(spark, "VACUUM dev12.ns.t_ev RETAIN 4 " +
        "SNAPSHOTS").collect() // base v4: fold = ckpt(3?) — anchor ≤ 4
      durableCatalog("dev12b", wh, isolated = true)
      assert(spark.sql(
        "SELECT id, v, w FROM dev12b.ns.t_ev ORDER BY id")
        .as[(Long, String, Option[Int])].collect().toSeq ===
        Seq((1L, "r1", None), (2L, "r2", None), (3L, "r3", None),
          (4L, "r4", Some(44)), (5L, "r5", Some(55))),
        "pre-evolution rows must read NULL in the added column after " +
          "a checkpoint-anchored restart")
      // the constraint replayed from the tail still enforces
      val e = intercept[Exception](spark.sql(
        "INSERT INTO dev12b.ns.t_ev VALUES (-1, 'bad', 0)"))
      assert(e.getMessage != null)
      assert(spark.sql("SELECT count(*) FROM dev12b.ns.t_ev")
        .as[Long].head() === 5L, "the violating row must not land")
    } finally GraftTable.checkpointInterval = savedK
  }

  test("hash-sliced cancel components reassemble the exact diff " +
      "across multiple partitions") {
    val saved = GraftTable.cdcCancelSliceRows
    try {
      GraftTable.cdcCancelSliceRows = 2 // force ~4 slices on 8 rows
      val wh = tmpDir("graft-dlog-slice")
      durableCatalog("dsl", wh)
      spark.sql("CREATE TABLE dsl.ns.t_sl (id BIGINT, v STRING)")
      spark.sql("INSERT INTO dsl.ns.t_sl VALUES " +
        "(1,'a'),(2,'b'),(3,'c'),(4,'d')")
      // COW UPDATE carries rows 1-3 through unchanged: a genuine
      // cancel component (4 removed + 4 added = 8 claimed rows)
      spark.sql("UPDATE dsl.ns.t_sl SET v = 'Z' WHERE id = 4")
      val ch = spark.sql(
        "SELECT _change_type, id, v FROM dsl.ns.`t_sl$changes` " +
          "WHERE _commit_version = 2 ORDER BY _change_type, id")
        .as[(String, Long, String)].collect().toSeq
      assert(ch === Seq(("delete", 4L, "d"), ("insert", 4L, "Z")),
        "the sliced multisets must reassemble the minimal delta exactly")
    } finally GraftTable.cdcCancelSliceRows = saved
  }

  test("a census past the part threshold checkpoints MULTI-PART: the " +
      "manifest carries no inline files, the fold splices the parts, " +
      "and restart parity holds from the sliced anchor") {
    val savedK = GraftTable.checkpointInterval
    val savedP = GraftTable.checkpointPartFiles
    try {
      GraftTable.checkpointInterval = 6
      GraftTable.checkpointPartFiles = 4
      val wh = tmpDir("graft-dlog-mpart")
      durableCatalog("dmp", wh)
      spark.sql("CREATE TABLE dmp.ns.t_mp (id BIGINT, v STRING)")
      for (i <- 1 to 12) // 12 single-file commits → census of 12 files
        spark.sql(s"INSERT INTO dmp.ns.t_mp VALUES ($i, 'r$i')")
      val td = tableDir(wh)
      val manifest = new String(Files.readAllBytes(
        td.resolve("ckpt").resolve(f"${12}%011d.json")), "UTF-8")
      assert(!manifest.contains("\"files\"") &&
        manifest.contains("\"fparts\""),
        "a 12-file census over a 4-file part cap must slice out of the " +
          "manifest")
      val parts = (0 until 3).map(i =>
        td.resolve("ckpt").resolve(f"${12}%011d.part-$i-of-3.parquet"))
      assert(parts.forall(Files.isRegularFile(_)),
        s"expected 3 part payloads, found: ${Files.list(td.resolve("ckpt"))
          .toArray.mkString(", ")}")
      // the parts are PLAIN PARQUET (Delta's checkpoint shape): any
      // engine reads the census without this codec
      val census = spark.read.parquet(parts.map(_.toString): _*)
      assert(census.columns.toSeq === Seq("path", "rows", "bytes", "meta"))
      assert(census.count() === 12L &&
        census.selectExpr("sum(rows)").head().getLong(0) === 12L,
        "the sliced census must hold all 12 single-row files")
      // retire everything below the newest anchor: the restart fold has
      // ONLY the multi-part checkpoint to start from
      GraftMaintenance.sql(spark, "VACUUM dmp.ns.t_mp RETAIN 1 SNAPSHOTS")
        .collect()
      assert(listVersions(td.resolve("log")) === Seq(12))
      durableCatalog("dmp2", wh, isolated = true)
      assert(spark.sql("SELECT id FROM dmp2.ns.t_mp ORDER BY id")
        .as[Long].collect().toSeq === (1L to 12L),
        "the fold must reassemble the census from the part slices in " +
          "order")
      // and the reopened table keeps writing + zone-pruning normally
      spark.sql("INSERT INTO dmp2.ns.t_mp VALUES (13, 'r13')")
      assert(spark.sql("SELECT count(*) FROM dmp2.ns.t_mp WHERE id > 11")
        .as[Long].head() === 2L)
    } finally {
      GraftTable.checkpointInterval = savedK
      GraftTable.checkpointPartFiles = savedP
    }
  }

  test("the restart fold decodes multi-part checkpoint slices INSIDE " +
      "Spark tasks when a session is active: zero driver part-decodes") {
    val savedK = GraftTable.checkpointInterval
    val savedP = GraftTable.checkpointPartFiles
    try {
      GraftTable.checkpointInterval = 6
      GraftTable.checkpointPartFiles = 4
      val wh = tmpDir("graft-dlog-xdec")
      durableCatalog("dxd", wh)
      spark.sql("CREATE TABLE dxd.ns.t_xd (id BIGINT, v STRING)")
      for (i <- 1 to 12)
        spark.sql(s"INSERT INTO dxd.ns.t_xd VALUES ($i, 'r$i')")
      GraftMaintenance.sql(spark, "VACUUM dxd.ns.t_xd RETAIN 1 SNAPSHOTS")
        .collect()
      val td = tableDir(wh)
      val parts = (0 until 3).map(i =>
        td.resolve("ckpt").resolve(f"${12}%011d.part-$i-of-3.parquet"))
      assert(parts.forall(Files.isRegularFile(_)))
      val readsBefore = parts.map(GraftSegmentIO.readsOf)
      val driverBefore = parts.map(GraftSegmentIO.driverReadsOf)
      // the isolated reopen folds from the multi-part anchor; catalog
      // resolution runs on this session thread, so the parts must
      // parquet-decode inside Spark TASKS — the 100 TB restart shape
      // where a million-file census decodes cluster-side
      durableCatalog("dxd2", wh, isolated = true)
      assert(spark.sql("SELECT id FROM dxd2.ns.t_xd ORDER BY id")
        .as[Long].collect().toSeq === (1L to 12L))
      parts.zipWithIndex.foreach { case (p, i) =>
        assert(GraftSegmentIO.readsOf(p) > readsBefore(i),
          s"part $i must have been read by the fold")
        assert(GraftSegmentIO.driverReadsOf(p) === driverBefore(i),
          s"part $i must decode inside a task, never on the driver")
      }
    } finally {
      GraftTable.checkpointInterval = savedK
      GraftTable.checkpointPartFiles = savedP
    }
  }

  test("a checkpointer that crashes mid-parts leaves NO readable " +
      "anchor: the orphan parts are invisible to the fold and swept by " +
      "the next VACUUM") {
    val wh = tmpDir("graft-dlog-mpcrash")
    durableCatalog("dmc", wh)
    spark.sql("CREATE TABLE dmc.ns.t_mc (id BIGINT, v STRING)")
    spark.sql("INSERT INTO dmc.ns.t_mc VALUES (1, 'a')")
    spark.sql("INSERT INTO dmc.ns.t_mc VALUES (2, 'b')")
    val td = tableDir(wh)
    // simulate a foreign checkpointer that died between the part CAS
    // and the manifest CAS: parts on disk, no <v>.json
    val orphan0 = td.resolve("ckpt")
      .resolve(f"${2}%011d.part-0-of-2.parquet")
    val orphan1 = td.resolve("ckpt")
      .resolve(f"${2}%011d.part-1-of-2.parquet")
    Files.createDirectories(td.resolve("ckpt"))
    Files.write(orphan0, "[]".getBytes("UTF-8"))
    Files.write(orphan1, "[]".getBytes("UTF-8"))
    // restart: anchor discovery lists MANIFESTS only — the fold starts
    // from v0 as if the crashed checkpoint never happened
    durableCatalog("dmc2", wh, isolated = true)
    assert(spark.sql("SELECT id FROM dmc2.ns.t_mc ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L),
      "half-written checkpoint parts must never seed a fold")
    // explicit VACUUM (under the commit lease, no install in flight)
    // sweeps the unreadable orphans at ANY version
    GraftMaintenance.sql(spark, "VACUUM dmc2.ns.t_mc RETAIN 10 SNAPSHOTS")
      .collect()
    assert(!Files.exists(orphan0) && !Files.exists(orphan1),
      "manifest-less part payloads are dead bytes — VACUUM must sweep " +
        "them")
  }

  test("multi-part checkpoints land through the conditional-put " +
      "LogStore too: parquet parts + manifest CAS on the object-store " +
      "shape, restart folds from the sliced anchor") {
    val savedK = GraftTable.checkpointInterval
    val savedP = GraftTable.checkpointPartFiles
    try {
      GraftTable.checkpointInterval = 4
      GraftTable.checkpointPartFiles = 3
      val wh = tmpDir("graft-dlog-mpcas")
      def cat(name: String): Unit = {
        spark.conf.set(s"spark.sql.catalog.$name",
          classOf[GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
        spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
        spark.conf.set(s"spark.sql.catalog.$name.warehouse.logstore",
          "conditional-put")
      }
      cat("dmq")
      spark.sql("CREATE TABLE dmq.ns.t_mq (id BIGINT, v STRING)")
      for (i <- 1 to 8)
        spark.sql(s"INSERT INTO dmq.ns.t_mq VALUES ($i, 'r$i')")
      val td = tableDir(wh)
      assert(listVersions(td.resolve("ckpt")) === Seq(4, 8))
      assert(Files.isRegularFile(td.resolve("ckpt")
        .resolve(f"${8}%011d.part-0-of-3.parquet")),
        "the 8-file census over a 3-file cap must slice into parts " +
          "through the conditional-put backend")
      // fresh "process" against the same shared fake: the fold must
      // splice the parquet parts exactly as on the local-FS store
      cat("dmq2")
      assert(spark.sql("SELECT id FROM dmq2.ns.t_mq ORDER BY id")
        .as[Long].collect().toSeq === (1L to 8L))
    } finally {
      GraftTable.checkpointInterval = savedK
      GraftTable.checkpointPartFiles = savedP
    }
  }

  test("reclaim frees CAS names: parts swept as orphans can be " +
      "re-installed with real bytes on the conditional-put backend") {
    val store = new GraftLogStore.InMemoryCas
    val dir = java.nio.file.Paths.get(tmpDir("graft-casdel"))
    val log = new GraftTableLog(dir, store)
    Files.createDirectories(log.ckptDir)
    // a checkpointer lands its parts then dies before the manifest
    assert(store.putIfAbsent(log.ckptPartPath(3, 0, 2), "x".getBytes))
    assert(store.putIfAbsent(log.ckptPartPath(3, 1, 2), "y".getBytes))
    // VACUUM's orphan sweep removes them (no manifest at v3)
    log.reclaim(0, Set.empty, 0L)
    assert(!Files.exists(log.ckptPartPath(3, 0, 2)))
    // a LATER checkpoint install at the same version must materialize
    // real bytes again — a CAS backend remembering deleted names would
    // "win" the part CAS without writing, leaving a live manifest over
    // absent parts and an unfoldable anchor
    assert(log.installCheckpoint(3, "{}",
      Seq("a".getBytes, "b".getBytes)))
    assert(Files.exists(log.ckptPartPath(3, 0, 2)) &&
      Files.exists(log.ckptPartPath(3, 1, 2)),
      "putIfAbsent after store.delete must rewrite the freed name")
  }

  test("format gate: a table stamped by a NEWER engine refuses to open " +
      "loudly; a pre-versioning (format-1) table.json still opens") {
    val wh = tmpDir("graft-dlog-fmt")
    durableCatalog("dfm", wh)
    spark.sql("CREATE TABLE dfm.ns.t_fm (id BIGINT, v STRING)")
    spark.sql("INSERT INTO dfm.ns.t_fm VALUES (1, 'a')")
    val td = tableDir(wh)
    val metaPath = td.resolve("table.json")
    val orig = new String(Files.readAllBytes(metaPath), "UTF-8")
    assert(orig.contains("\"format\":2"),
      "new tables must stamp the current format generation")
    // forge a future generation: an old engine folding or vacuuming a
    // layout it half-understands corrupts it silently. The refusal is
    // PER TABLE: warehouse open SKIPS it (recording why) so healthy
    // siblings stay served; a direct load still throws
    Files.write(metaPath,
      orig.replace("\"format\":2", "\"format\":99").getBytes("UTF-8"))
    spark.sql("CREATE TABLE dfm.ns.t_ok (id BIGINT)") // healthy sibling
    val skippy = GraftTableStore.openIsolated(wh)
    assert(!skippy.tables.keys.exists(_._2 == "t_fm"),
      "the newer-format table must be invisible to this engine")
    assert(skippy.tables.keys.exists(_._2 == "t_ok"),
      "one newer-format table must not take the warehouse down")
    val why = skippy.skippedNewerFormat.values.mkString
    assert(why.contains("NEWER engine") && why.contains("99"), why)
    val e = intercept[IllegalStateException](
      GraftDurableLoader.loadTable(td))
    assert(e.getMessage.contains("NEWER engine"), e.getMessage)
    // a FORMAT-1 stamp (pre-versioning table.json without the field)
    // opens fine: every v1 shape is still legal in v2
    Files.write(metaPath, orig
      .replace("\"format\":2,", "").getBytes("UTF-8"))
    val st = GraftTableStore.openIsolated(wh)
    assert(st.tables.keys.exists(_._2 == "t_fm"),
      "a pre-versioning table must load as format 1")
    Files.write(metaPath, orig.getBytes("UTF-8"))
  }

  test("merge-on-read DELETE rides the delta as a DV change; the DV " +
      "survives a checkpoint-anchored restart") {
    val savedK = GraftTable.checkpointInterval
    try {
      GraftTable.checkpointInterval = 3
      val wh = tmpDir("graft-dlog-dv")
      durableCatalog("ddv", wh)
      spark.sql("CREATE TABLE ddv.ns.t_dv (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
      spark.sql("INSERT INTO ddv.ns.t_dv VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      spark.sql("INSERT INTO ddv.ns.t_dv VALUES (4, 'd')")         // v2
      spark.sql("DELETE FROM ddv.ns.t_dv WHERE id = 2")            // v3 (MOR)
      val td = tableDir(wh)
      val delEntry = entryJson(td, 3)
      assert(!delEntry.contains("\"files\"") &&
        delEntry.contains("\"dvset\""),
        "a MOR delete must serialize as a DV delta, not a census")
      spark.sql("INSERT INTO ddv.ns.t_dv VALUES (5, 'e')")         // v4
      // drop the pre-checkpoint entries; the restart must recover the
      // DV from the v3 checkpoint's full state
      GraftMaintenance.sql(spark, "VACUUM ddv.ns.t_dv RETAIN 2 SNAPSHOTS")
        .collect()
      durableCatalog("ddv2", wh, isolated = true)
      assert(spark.sql("SELECT id FROM ddv2.ns.t_dv ORDER BY id")
        .as[Long].collect().toSeq === Seq(1L, 3L, 4L, 5L),
        "the delete vector must survive the checkpoint-anchored restart")
    } finally GraftTable.checkpointInterval = savedK
  }
}
