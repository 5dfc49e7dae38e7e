package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, StructType}

/** The write path of every table, in-JVM or durable: one executor-side
  * writer ([[GraftSegmentDataWriter]]) strips Spark's row-operation
  * prefix, fills identity and generated columns, validates CHECK
  * constraints and captures row identity in the task. Storage differs
  * only at the task's commit. A durable table's task writes its own
  * parquet segment file(s) straight into the warehouse, and its commit
  * message carries ONLY metadata — (relative path, row count, byte
  * size, zone maps, partition-group key); the driver's commit adopts
  * the file references and writes a log entry, so table DATA never
  * funnels through the driver and a write is bounded by task partition
  * size, not driver heap — the Delta/Iceberg executor-write contract
  * (the reference's Delta writes are executor-side the same way:
  * Notebooks/Batch_Bronze_to_Silver.Notebook/notebook-content.py:200
  * `saveAsTable`). An in-JVM table keeps its data on the heap, so its
  * task ships the validated rows instead.
  *
  * The maintenance rewrites ([[GraftRewrite]]) are one code path for
  * both stores: every OPTIMIZE, ZORDER, REORG PURGE, auto-compaction,
  * DROP COLUMN and copy-on-write split runs the same kernels, whatever
  * its input files are (segments, position views or heap rows) — as
  * Spark tasks on a durable table, on the driver thread that holds an
  * in-JVM table's rows — and only [[GraftRewrite.write]] knows the
  * store: a durable table's kernel writes a segment and reports its
  * meta, an in-JVM table's hands back the rows.
  *
  * Crash/abort safety: segment names are unique per (write, epoch,
  * partition, task), [[GraftSegmentIO.write]] lands them by atomic
  * rename, and a task abort deletes its own files. A driver crash after
  * tasks committed leaves at worst UNREFERENCED segments (never a log
  * entry pointing at missing data); the retention reclaim sweeps those.
  */

/** Serializable recipe a table hands its writer factories and its
  * task-side rewrites: where segments land (`tableDir`, None on an
  * in-JVM table) and everything the task needs to reproduce the table's
  * write semantics (group split, zone maps, CHECK validation) without
  * the table object. */
final case class GraftWriteSpec(
    tableDir: Option[String],
    schemaJson: String,
    partitionCols: Seq[String],
    bucketSpec: Option[(Int, String)],
    // COMPILED checks, not text: compiling needs a SQL parser, and a
    // real executor JVM has no SparkSession — the bound expression
    // trees (BoundReference/Literal/arithmetic) are plain serializable
    // Catalyst nodes and evaluate session-free
    checks: Seq[(String, GraftConstraints.Check)],
    writeId: String,
    // fingerprint of the constraint set this write validates against;
    // the commit compares it with the table's CURRENT set and aborts on
    // drift (a concurrent ADD CONSTRAINT between write start and commit
    // must not let unvalidated rows slip in)
    checksFingerprint: String,
    // ROW TRACKING on: writers capture each written row's preserved
    // (_row_id, _row_commit_version) — from the trailing metadata
    // columns of a COW replace-data row, or via
    // [[GraftSegmentDataWriter.noteTrack]] for MOR update postimages —
    // and report them; unseen rows report the Mint sentinel and the
    // commit mints fresh ids
    rowTracking: Boolean = false) {
  @transient lazy val schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  @transient lazy val keyOf: Option[InternalRow => Seq[Any]] =
    GraftGroupKeys.keyOf(schema, partitionCols, bucketSpec)
}

/** One output chunk of a rewrite, as [[GraftRewrite.write]] hands it
  * to the driver: a segment the task wrote (durable tables) or the
  * chunk's rows (in-JVM tables). */
sealed trait GraftChunk extends Serializable

/** An in-JVM table's rewrite chunk: the rows with their identity
  * vectors (null = untracked; Mint sentinels where the commit mints). */
final case class GraftRowsChunk(rows: Array[InternalRow], ids: Array[Long],
    vers: Array[Long]) extends GraftChunk

/** One task-written segment, as its commit message reports it: stats
  * and identity only, zero rows. Zone values are catalyst-internal
  * (UTF8String / Decimal / primitives) — all Serializable, so the
  * message crosses a real executor→driver boundary unchanged. */
final case class GraftSegmentMeta(rel: String, rowCount: Int, bytes: Long,
    zones: Array[ColZone], groupKey: Option[Seq[Any]],
    // bloom REFS only — the filter words were written to the segment's
    // sidecar by this task (GraftBloomSidecar); shipping them here would
    // make the commit message O(rows), not O(stats)
    bloomRefs: Array[GraftBloomRef] = null,
    // ROW TRACKING (rewrite writes only): the preserved per-row id /
    // commit-version vectors, Mint-sentinel where the commit must mint.
    // CHURN-sized (8 B per REWRITTEN row — appends ship null and get
    // arithmetic ids), riding the message the way position-view "sel"
    // arrays ride the log; a cluster deployment would instead reserve
    // id blocks per task (the identity-column reservation pattern,
    // installIdentityReserved) and always write the sidecar task-side
    trackIds: Array[Long] = null,
    trackVers: Array[Long] = null,
    // the task already wrote the output's .rowids sidecar (every id and
    // version preserved — no driver minting needed): attach a
    // lazy-loading explicit track, ship nothing row-sized
    trackSidecar: Boolean = false) extends GraftChunk

/** Commit message of a segment-writing task: file references + stats.
  * `schemaJson` is the layout the segments were written with (the
  * driver rebuilds their [[GraftSegmentHandle]]s against it);
  * `checksFingerprint` names the constraint set the rows were validated
  * against (the commit aborts if the table's set drifted). */
final case class GraftSegmentsMessage(schemaJson: String,
    segs: Array[GraftSegmentMeta],
    checksFingerprint: String = "") extends WriterCommitMessage

/** Commit message of an in-JVM table's writer task: the task's rows,
  * already stripped, filled and CHECK-validated, with their row
  * identity (null vectors = all-Mint; see [[GraftSegmentMeta.trackIds]])
  * and the fingerprint of the constraint set they were validated
  * against. The driver splits them per partition group. */
final case class GraftRowsMessage(rows: Array[InternalRow],
    trackIds: Array[Long] = null,
    trackVers: Array[Long] = null,
    checksFingerprint: String = "") extends WriterCommitMessage

/** The partition-group key kernel, shared by the driver (buildFiles,
  * group predicates) and the executor-side writer — ONE implementation,
  * so a task-written file's group key can never disagree with the
  * catalog's. */
private[sources] object GraftGroupKeys {
  def keyOf(schema: StructType, partitionCols: Seq[String],
            bucketSpec: Option[(Int, String)])
      : Option[InternalRow => Seq[Any]] =
    bucketSpec match {
      case Some((n, c)) =>
        val i = schema.fieldIndex(c)
        val dt = schema.fields(i).dataType
        Some(r => Seq(GraftFunctionsV2.bucketOf(n,
          if (r.isNullAt(i)) null else r.get(i, dt))))
      case None if partitionCols.nonEmpty =>
        val ords = partitionCols.map(schema.fieldIndex)
        val dts = ords.map(schema.fields(_).dataType)
        Some(r => ords.lazyZip(dts).map((i, dt) => r.get(i, dt)))
      case None => None
    }
}

/** ROW-TRACKING view of a group-based (ReplaceData) write row. With
  * requiredMetadataAttributes set, Spark 4 routes the rewrite through
  * DataAndMetadataWritingSparkTask: the writer receives
  * `write(metadataRow, dataRow)` — projection views over one
  * underlying row — and marks EVERY carried row WRITE_WITH_METADATA
  * (original metadata rides along for updated rows too), so the plan
  * offers no copied-vs-updated signal. The engine's `_row_probe`
  * metadata column closes the gap: the SCAN serves a canonical hash of
  * each row's data columns, the writer re-hashes what it is about to
  * write, and a mismatch proves the row's value changed — preserve the
  * id, take the committing version (exactly Delta's row-tracking
  * update semantics, decided executor-side at O(1) per row). A write
  * that re-asserts the existing value hashes equal and counts as a
  * copy — the same no-op-update collapse the change feed's multiset
  * cancellation applies. */
private[sources] object GraftReplaceDataOps {
  /** Canonical data-row hash — ONE implementation for the scan's
    * `_row_probe` and the writer's recompute, so the two can never
    * drift: an UnsafeProjection materialization's byte hash. */
  def probeOf(proj: UnsafeProjection, row: InternalRow): Long =
    proj(row).hashCode().toLong

  /** The (id, ver) capture of one replace-data row: id preserved from
    * the metadata view [_row_id, _row_commit_version, _row_probe]
    * (Mint when the row has no source — a merge insert); version
    * preserved only when the written data hashes equal to the probe. */
  def captureOf(meta: InternalRow, record: InternalRow,
      proj: UnsafeProjection): (Long, Long) = {
    if (meta == null || meta.numFields < 3 || meta.isNullAt(0))
      return (GraftRowTrack.Mint, GraftRowTrack.Mint)
    val id = meta.getLong(0)
    val ver = meta.getLong(1)
    val probe = meta.getLong(2)
    val verOut =
      if (!meta.isNullAt(2) && probeOf(proj, record) == probe &&
          !meta.isNullAt(1)) ver
      else GraftRowTrack.Mint
    (id, verOut)
  }
}

/** The executor-side writer of every table. Buffers this TASK's rows
  * (bounded by the task's input split — `maxPartitionBytes`-sized, the
  * same bound a real parquet writer's row-group buffer has). CHECK
  * constraints validate PER ROW as they arrive (fail fast: a violating
  * row aborts the task before any segment lands, and abort removes
  * partials). At commit a durable table's rows split per partition
  * group ([[GraftRewrite.regroup]]) and land through the rewrites' one
  * segment writer ([[GraftRewrite.writeSegment]]), which reports
  * metadata; an in-JVM table's rows ride the message. */
private[sources] final class GraftSegmentDataWriter(
    spec: GraftWriteSpec, opPrefixed: Boolean,
    partitionId: Int, taskId: Long, epochId: Long,
    fill: Option[GraftFillSpec] = None)
    extends DataWriter[InternalRow] {
  private var filled = 0L
  // row-tracking capture: one (id, ver) per buffered row, Mint default
  private val trackBuf =
    if (spec.rowTracking) scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    else null
  private var pendingTrack: (Long, Long) = null

  /** Capture channel for a delta (MOR) write: called with the original
    * row's identity immediately before an update POSTIMAGE goes to
    * `write()` — the postimage keeps the preimage's `_row_id` (Delta's
    * row-tracking update semantics). Rows written without a note
    * default to the Mint sentinel. */
  def noteTrack(id: Long, ver: Long): Unit =
    pendingTrack = (id, ver)

  private val schema = spec.schema
  private val checks = spec.checks
  private lazy val stripOp = UnsafeProjection.create(
    schema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i + 1, f.dataType, f.nullable)
    }.toIndexedSeq)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
  private val written =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private def validate(r: InternalRow): Unit =
    checks.foreach { case (cname, chk) =>
      if (chk.violates(r))
        throw new IllegalStateException(
          s"CHECK constraint '$cname' (${chk.text}) violated by an " +
            "incoming row — commit refused")
    }

  private lazy val probeProj = UnsafeProjection.create(
    schema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }.toIndexedSeq)

  override def write(meta: InternalRow, record: InternalRow): Unit = {
    // group-based rewrite with metadata (row tracking): capture the
    // row's identity from the metadata view, then write the data row
    if (trackBuf != null) pendingTrack =
      GraftReplaceDataOps.captureOf(meta, record, probeProj)
    write(record)
  }

  override def write(record: InternalRow): Unit = {
    // row-level (replace-data) writes arrive prefixed with Spark's
    // __row_operation column; keep surviving rows, strip the prefix
    val stripped: InternalRow =
      if (opPrefixed && record.numFields != schema.length) {
        val op = record.getInt(0)
        if (op == RowDeltaUtils.WRITE_OPERATION ||
            op == RowDeltaUtils.WRITE_WITH_METADATA_OPERATION)
          stripOp(record).copy()
        else return
      } else record
    // identity/generated fill, task-side, BEFORE validation — a CHECK
    // over a generated column sees the generated value. Row-level
    // rewrites fill too (rowLevel mode): carried identity values pass,
    // merge-inserted ones mint, generated columns recompute
    val row: InternalRow = fill match {
      case Some(fs) =>
        // copy BEFORE filling: fill's materialized row holds value
        // references (UTF8String/arrays) into the input buffer, which
        // Spark reuses across write() calls — filling the live record
        // would let later rows overwrite earlier buffered rows' values
        val base = if (stripped eq record) record.copy() else stripped
        val out = fs.fill(base, partitionId, filled)
        filled += 1
        out
      case None => if (stripped eq record) record.copy() else stripped
    }
    validate(row)
    buf += row
    if (trackBuf != null) {
      trackBuf += (if (pendingTrack != null) pendingTrack
        else (GraftRowTrack.Mint, GraftRowTrack.Mint))
      pendingTrack = null
    }
  }

  /** The identity vectors of the rows at `idx`: null when no row
    * PRESERVES an id — an all-Mint batch (plain append) takes
    * arithmetic assignment at the commit. */
  private def trackOf(idx: Array[Int]): (Array[Long], Array[Long]) =
    if (trackBuf == null || idx.forall(trackBuf(_)._1 == GraftRowTrack.Mint))
      (null, null)
    else (idx.map(trackBuf(_)._1), idx.map(trackBuf(_)._2))

  override def commit(): WriterCommitMessage = {
    val rows = buf.toArray
    val msg = spec.tableDir match {
      case None =>
        val (ids, vers) = trackOf(rows.indices.toArray)
        GraftRowsMessage(rows, ids, vers, spec.checksFingerprint)
      case Some(dir) =>
        // group-split INDICES so the row-tracking capture splits with
        // its rows (a partitioned COW rewrite routes each row's identity
        // to the segment that row lands in)
        val metas = GraftRewrite.regroup(rows, schema, spec.keyOf, Nil,
          Int.MaxValue).zipWithIndex.map { case (idx, n) =>
          val rel = s"data/seg-${spec.writeId}-e$epochId-p$partitionId" +
            s"-t$taskId-$n.parquet"
          written += java.nio.file.Paths.get(dir).resolve(rel)
          val (ids, vers) = trackOf(idx)
          GraftRewrite.writeSegment(spec, rel, idx.map(rows(_)), ids, vers)
        }
        GraftSegmentsMessage(spec.schemaJson, metas.toArray,
          spec.checksFingerprint)
    }
    buf.clear()
    if (trackBuf != null) trackBuf.clear()
    msg
  }

  override def abort(): Unit = {
    written.foreach(GraftRewrite.delete)
    written.clear()
    buf.clear()
  }

  override def close(): Unit = ()
}

/** What a commit message unpacks to on the driver: the task's
  * validated rows (in-JVM tables, whose data lives on the heap) or
  * ready-made file references the task already persisted (durable
  * tables). */
private[sources] sealed trait GraftDelivery
private[sources] final case class GraftRowsDelivery(rows: Array[InternalRow],
    // ROW TRACKING capture aligned with `rows` (null = all-mint)
    trackIds: Array[Long] = null,
    trackVers: Array[Long] = null)
    extends GraftDelivery
private[sources] final case class GraftFilesDelivery(
    files: Vector[GraftDataFile]) extends GraftDelivery

private[sources] object GraftDeliveries {
  def rows(batches: Array[Array[InternalRow]]): Array[GraftDelivery] =
    batches.map(GraftRowsDelivery(_): GraftDelivery)
}

/** The Morton-curve key kernel (`OPTIMIZE ZORDER BY`): 16-bin
  * order-preserving quantization per clustering column from the
  * SCOPE's min/max, bits interleaved, applied by every compaction
  * ([[GraftRewrite.regroup]]), so an in-JVM and a durable table get
  * bit-identical layouts. Strings quantize by their first 7 bytes
  * big-endian — the order the zone maps' UTF8String min/max compare
  * by. */
private[sources] object GraftZCurve {
  import org.apache.spark.sql.types._

  /** Stable sort of `items` by a z-curve code, the code computed ONCE
    * per item: `sortBy(key)` evaluates its key on every COMPARISON, so
    * a 600k-row bin paid O(n log n) Morton recomputations — measured
    * 0.8 s of the 1.5 s s72 OPTIMIZE bin (r21). Precompute the codes,
    * TimSort an index array by plain array reads; TimSort is stable,
    * so ties keep input order exactly as sortBy did. */
  def sortedByCode[T](items: Array[T], key: T => Long)(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val codes = new Array[Long](items.length)
    var i = 0
    while (i < items.length) { codes(i) = key(items(i)); i += 1 }
    val idx = Array.tabulate[Integer](items.length)(Int.box)
    java.util.Arrays.sort(idx,
      (a: Integer, b: Integer) =>
        java.lang.Long.compare(codes(a.intValue()), codes(b.intValue())))
    idx.map(j => items(j.intValue()))
  }

  /** Ordinals of `cols` in `schema`, validated curve-eligible. */
  def checkCols(schema: StructType, cols: Seq[String]): Seq[Int] =
    cols.map { c =>
      val i = schema.fieldIndex(c)
      schema.fields(i).dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType | StringType => i
        case dt => throw new IllegalArgumentException(
          s"ZORDER BY $c: unsupported type $dt (integral or string)")
      }
    }

  /** Curve key over `rows` (the clustering scope — a partition group,
    * or the whole table). Nulls take bin 0. */
  def keyFn(schema: StructType, cols: Seq[String],
            rows: Array[InternalRow]): InternalRow => Long = {
    val ords = checkCols(schema, cols)
    val dts = ords.map(schema.fields(_).dataType)
    def longOf(r: InternalRow, j: Int): Option[Long] =
      Option(r.get(ords(j), dts(j))).map {
        case b: java.lang.Byte => b.toLong
        case s: java.lang.Short => s.toLong
        case i: java.lang.Integer => i.toLong
        case l: java.lang.Long => l.longValue()
        case u: org.apache.spark.unsafe.types.UTF8String =>
          val bytes = u.getBytes
          var acc = 0L
          var k = 0
          while (k < 7) {
            acc = (acc << 8) | (if (k < bytes.length) bytes(k) & 0xffL else 0L)
            k += 1
          }
          acc
      }
    // per-column [min, max] over this scope's NON-NULL values
    val mins = Array.fill(cols.length)(Long.MaxValue)
    val maxs = Array.fill(cols.length)(Long.MinValue)
    rows.foreach { r =>
      var j = 0
      while (j < cols.length) {
        longOf(r, j).foreach { v =>
          if (v < mins(j)) mins(j) = v
          if (v > maxs(j)) maxs(j) = v
        }
        j += 1
      }
    }
    // bin width: (range/16)+1 — order-preserving integer quantization;
    // a degenerate column collapses to one bin (only coarsens the curve)
    val steps = Array.tabulate(cols.length) { j =>
      val range = maxs(j) - mins(j)
      if (maxs(j) < mins(j) || range < 0) 0L else range / 16 + 1
    }
    r => {
      var code = 0L
      var j = 0
      while (j < cols.length) {
        val bin = if (steps(j) <= 0) 0L else longOf(r, j) match {
          case Some(v) => math.min(15L, (v - mins(j)) / steps(j))
          case None => 0L
        }
        var b = 0
        while (b < 4) {
          code |= ((bin >> b) & 1L) << (b * cols.length + j)
          b += 1
        }
        j += 1
      }
      code
    }
  }
}

/** One compaction job: read the inputs in order, keep their live rows,
  * regroup them by [[GraftRewrite.regroup]] and land each chunk through
  * [[GraftRewrite.write]]. With `positional` the job is a
  * schema-evolution REBUILD instead (DROP COLUMN: each input projects
  * the surviving ordinals) — row order and count are preserved, so
  * delete vectors re-key by position, and it emits exactly ONE chunk
  * (1:1 file pairing). An input is any file's rows — a segment
  * reference, a position view or heap rows ([[GraftTable.inputOf]]) —
  * ending in (`_row_id`, `_row_commit_version`) when
  * `spec.rowTracking`. Everything is serializable DATA — the task never
  * sees the table. */
private[sources] final case class GraftCompactJob(
    inputs: Seq[GraftScanPartition], spec: GraftWriteSpec,
    binId: Int, zorderCols: Seq[String], targetRows: Int,
    positional: Boolean = false)

/** COW split of ONE group-spanning file: route each live row's group
  * key through the partition predicate and write the touched rows (the
  * CDC preimage, `gone`) and untouched rows (`stay`) as fresh chunks.
  * Degenerate outcomes write NOTHING — an untouched file reports zero
  * gone rows (the driver keeps the original by reference), a
  * wholly-touched file reports zero stay rows (the driver removes the
  * original by reference). `input` is read as in [[GraftCompactJob]]. */
private[sources] final case class GraftSplitJob(
    input: GraftScanPartition, spec: GraftWriteSpec,
    binId: Int, touched: Seq[Any] => Boolean)

private[sources] final case class GraftSplitResult(
    goneRows: Int, stayRows: Int,
    gone: Array[GraftChunk], stay: Array[GraftChunk])

/** The task-side rewrites behind OPTIMIZE, ZORDER, REORG PURGE,
  * auto-compaction, DROP COLUMN and the copy-on-write split, for both
  * stores — the 100 TB maintenance shape: rebuild cost spreads across
  * the cluster and the driver handles only the outputs, like Delta's
  * distributed OPTIMIZE. Inputs are [[GraftScanPartition]]s read through
  * the scans' one reader; rows carry their identity in trailing
  * metadata columns; [[write]] lands every output. */
private[sources] object GraftRewrite {
  /** The live rows of `inputs`, in input and position order — a
    * reader's rows copied (it may reuse its buffers), heap rows by
    * reference (an in-JVM table's versions share them) — with each
    * row's (`_row_id`, `_row_commit_version`) when `spec.rowTracking`,
    * taken from the rows' two trailing columns, a NULL (an untracked
    * file) becoming Mint so the commit mints; null vectors otherwise. */
  private def liveRows(inputs: Seq[GraftScanPartition],
      spec: GraftWriteSpec): (Array[InternalRow], Array[Long], Array[Long]) = {
    val rows = Array.newBuilder[InternalRow]
    val all = inputs.iterator.flatMap {
      case g: GraftInputPartition => g.rows.iterator
      case in => GraftPartitionReaderFactory.rowsOf(in).map(_.copy())
    }
    if (!spec.rowTracking) {
      rows ++= all
      return (rows.result(), null, null)
    }
    val width = spec.schema.length
    val data = UnsafeProjection.create(spec.schema.fields.indices.map(i =>
      BoundReference(i, spec.schema(i).dataType, nullable = true)))
    val ids = Array.newBuilder[Long]
    val vers = Array.newBuilder[Long]
    def idAt(r: InternalRow, i: Int): Long =
      if (r.isNullAt(i)) GraftRowTrack.Mint else r.getLong(i)
    all.foreach { r =>
      rows += data(r).copy() // the projection reuses its row
      ids += idAt(r, width)
      vers += idAt(r, width + 1)
    }
    (rows.result(), ids.result(), vers.result())
  }

  /** The regroup rule of every compaction and of the writer's commit:
    * split the rows by the CURRENT group key — a legacy spanning file
    * regroups under the live spec after a partition-spec evolution, an
    * ordinary single-group bin passes through — then z-order each group
    * and cut it into `targetRows`-row chunks. Returns the non-empty
    * chunks as row indices, so identity vectors split with their rows. */
  def regroup(rows: Array[InternalRow], schema: StructType,
      keyOf: Option[InternalRow => Seq[Any]], zorderCols: Seq[String],
      targetRows: Int): Seq[Array[Int]] = {
    val idxAll = rows.indices.toArray
    val groups: Seq[Array[Int]] = keyOf match {
      case Some(k) if rows.nonEmpty =>
        idxAll.groupBy(i => k(rows(i))).toSeq
          .sortBy(_._1.mkString("|")).map(_._2)
      case _ => Seq(idxAll)
    }
    val chunks =
      if (zorderCols.isEmpty) groups
      else groups.flatMap { g =>
        val key = GraftZCurve.keyFn(schema, zorderCols, g.map(rows(_)))
        GraftZCurve.sortedByCode(g, (i: Int) => key(rows(i)))
          .grouped(targetRows)
      }
    chunks.filter(_.nonEmpty)
  }

  /** The one segment writer of table writes and rewrites: zone stats
    * through the shared kernel, the segment and its Bloom sidecar, then
    * the rows' identity — with every id AND every version preserved
    * the `.rowids` sidecar lands here and only a flag rides the
    * message; with some to mint (a fresh id, or a changed row's
    * committing version) the vectors ride the message and the commit
    * mints. `ids` null = untracked, or nothing preserved. */
  private[sources] def writeSegment(spec: GraftWriteSpec, rel: String,
      rows: Array[InternalRow], ids: Array[Long],
      vers: Array[Long]): GraftSegmentMeta = {
    val f = GraftDataFile.build(rows, spec.schema, spec.keyOf)
    val abs = java.nio.file.Paths.get(spec.tableDir.get).resolve(rel)
    val bytes = GraftSegmentIO.write(abs, spec.schema, rows)
    val meta = GraftSegmentMeta(rel, rows.length, bytes, f.zones,
      f.groupKey, GraftBloomSidecar.write(abs, f.blooms))
    if (ids == null) meta
    else if (ids.forall(_ != GraftRowTrack.Mint) &&
        vers.forall(_ != GraftRowTrack.Mint)) {
      GraftRowIdSidecar.write(abs, ids, vers)
      meta.copy(trackSidecar = true)
    } else meta.copy(trackIds = ids, trackVers = vers)
  }

  /** The rewrites' one sink, and their only store-dependent code: a
    * durable table's chunk lands as segment `rel` ([[writeSegment]]), an
    * in-JVM table's goes back to the driver as rows. */
  private def write(spec: GraftWriteSpec, rel: String,
      rows: Array[InternalRow], ids: Array[Long],
      vers: Array[Long]): GraftChunk =
    if (spec.tableDir.isDefined) writeSegment(spec, rel, rows, ids, vers)
    else GraftRowsChunk(rows, ids, vers)

  /** Undo of [[writeSegment]]: the segment at `abs` and both its
    * sidecars (each a no-op when absent). */
  private[sources] def delete(abs: java.nio.file.Path): Unit = {
    java.nio.file.Files.deleteIfExists(abs)
    GraftBloomSidecar.deleteAlongside(abs)
    java.nio.file.Files.deleteIfExists(GraftRowIdSidecar.pathFor(abs))
  }

  private[sources] def pick(v: Array[Long], idx: Array[Int]): Array[Long] =
    if (v == null) null else idx.map(v(_))

  def compact(job: GraftCompactJob): Array[GraftChunk] = {
    val spec = job.spec
    val (rows, ids, vers) = liveRows(job.inputs, spec)
    val chunks =
      if (job.positional) Seq(rows.indices.toArray)
      else regroup(rows, spec.schema, spec.keyOf, job.zorderCols,
        job.targetRows)
    chunks.zipWithIndex.map { case (idx, n) =>
      write(spec, s"data/opt-${spec.writeId}-b${job.binId}-$n.parquet",
        idx.map(rows(_)), pick(ids, idx), pick(vers, idx))
    }.toArray
  }

  def split(job: GraftSplitJob): GraftSplitResult = {
    val spec = job.spec
    val (rows, ids, vers) = liveRows(Seq(job.input), spec)
    val keyFn = spec.keyOf.getOrElse((_: InternalRow) => Nil: Seq[Any])
    val (gone, stay) =
      rows.indices.toArray.partition(i => job.touched(keyFn(rows(i))))
    def side(idx: Array[Int], name: String): Array[GraftChunk] =
      if (gone.isEmpty || stay.isEmpty) Array.empty
      else Array(write(spec,
        s"data/spl-${spec.writeId}-b${job.binId}-$name.parquet",
        idx.map(rows(_)), pick(ids, idx), pick(vers, idx)))
    GraftSplitResult(gone.length, stay.length, side(gone, "g"),
      side(stay, "s"))
  }
}
