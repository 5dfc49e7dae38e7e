package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet segment IO for the durable catalog store: writes one
  * [[GraftDataFile]]'s rows to a real parquet file and streams them
  * back, WITHOUT launching a nested Spark job. TABLE DATA writes run
  * executor-side inside writer tasks ([[GraftSegmentDataWriter]] — the
  * 100 TB path); only driver-born metadata-sized row sets (CDC
  * pseudo-files, compaction of already-resident rows) encode on the
  * driver. Uses Spark's
  * own parquet WriteSupport/ReadSupport (the exact record codecs the
  * executor-side parquet source uses), so a segment written here is a
  * PLAIN parquet file any engine can read — the durability contract the
  * reference's Delta tables get from their platform
  * (Notebooks/Batch_Bronze_to_Silver.Notebook/notebook-content.py:200
  * `saveAsTable` persists parquet + log; this is the same layout).
  *
  * Timestamps write as TIMESTAMP_MICROS with CORRECTED rebase on both
  * sides — the proleptic-Gregorian representation Catalyst holds
  * internally, so values round-trip bit-exact. */
private[sources] object GraftSegmentIO {

  /** JVM-global read census: absolute segment path → number of times
    * the parquet file was actually opened, regardless of which object
    * (driver-side lazy handle, executor-side partition reader)
    * triggered the load. Specs prove "untouched data is never read"
    * against this. */
  /** Census maps are spec instrumentation living on the hot paths:
    * BOUNDED so a long-running service never accumulates unbounded
    * path strings — beyond the cap, new paths stop being tracked
    * (existing counters keep updating; specs create few files). */
  private val censusCap = 100000

  private def bump(m: java.util.concurrent.ConcurrentHashMap[
      String, java.lang.Long], key: String): Unit =
    if (m.size < censusCap || m.containsKey(key))
      m.merge(key, 1L, _ + _)

  private val readCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def readsOf(file: java.nio.file.Path): Long =
    Option(readCounts.get(file.toAbsolutePath.normalize.toString))
      .map(_.longValue()).getOrElse(0L)

  /** Reads that ran OUTSIDE a Spark task (driver-side) — specs prove
    * scan paths stream executor-side by pinning this at zero. */
  private val driverReadCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def driverReadsOf(file: java.nio.file.Path): Long =
    Option(driverReadCounts.get(file.toAbsolutePath.normalize.toString))
      .map(_.longValue()).getOrElse(0L)

  /** JVM-global WRITE census, split by where the encode ran: inside a
    * Spark task (executor-side — the 100 TB shape) or not (driver-side).
    * Specs prove "table data never funnels through the driver" against
    * the driver count staying zero. */
  private val taskWriteCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val driverWriteCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def taskWritesOf(file: java.nio.file.Path): Long =
    Option(taskWriteCounts.get(file.toAbsolutePath.normalize.toString))
      .map(_.longValue()).getOrElse(0L)
  def driverWritesOf(file: java.nio.file.Path): Long =
    Option(driverWriteCounts.get(file.toAbsolutePath.normalize.toString))
      .map(_.longValue()).getOrElse(0L)

  /** Column mapping down to the physical files (Delta's column-mapping
    * `name` mode): an id-carrying field writes and reads under the
    * CANONICAL physical name `_gc_<id>` plus a PARQUET field id. The
    * physical namespace is keyed by field id alone, so logical renames
    * never move data and — crucially — a requested id ABSENT from the
    * file can only miss (NULL): Spark's reader falls back to NAME
    * matching for ids it can't find, and under logical names a
    * RENAME a→b + ADD COLUMN a would hand the OLD column's bytes to
    * the new, unrelated `a`. Canonical names make that collision
    * impossible. Id-less fields (internal meta schemas) pass through
    * unchanged. */
  private def withParquetIds(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      FieldIds.idOf(f) match {
        case Some(id) if id >= 0 && id <= Int.MaxValue =>
          f.copy(name = s"_gc_$id",
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong("parquet.field.id", id).build())
        case _ => f
      }
    })

  /** A Hadoop conf that loads no default resources (no per-segment
    * parse of core-default.xml). Local-filesystem only: segment paths
    * are java.nio paths on the warehouse volume; a cluster deployment
    * swaps in its Hadoop conf. */
  private def baseConf(): Configuration = {
    val conf = new Configuration(false)
    conf.set("fs.defaultFS", "file:///")
    conf
  }

  private def writeConf(schema: StructType): Configuration = {
    val conf = baseConf()
    ParquetWriteSupport.setSchema(withParquetIds(schema), conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
    // the schema converter reads these with conf.get(...).toBoolean —
    // no defaults, so every key must be present explicitly
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf
  }

  private def readConf(schema: StructType): Configuration = {
    val conf = baseConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      withParquetIds(schema).json)
    conf.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "true")
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    conf
  }

  /** The hidden `.<name>.crc` checksum sibling Hadoop's local
    * filesystem writes next to every file it creates. */
  private[sources] def checksumOf(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  /** Write `rows` (layout = `schema`) as one parquet file at `file`.
    * Returns the file's size in bytes. Writes to a temp sibling first
    * and renames into place, so a crashed writer never leaves a
    * truncated segment behind a name the log could reference; an encode
    * that throws deletes its temp. */
  def write(file: java.nio.file.Path, schema: StructType,
            rows: Array[InternalRow]): Long = {
    val counts = if (TaskContext.get() != null)
      taskWriteCounts else driverWriteCounts
    bump(counts, file.toAbsolutePath.normalize.toString)
    java.nio.file.Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    java.nio.file.Files.deleteIfExists(tmp)
    try {
      val writer = new ParquetWriter[InternalRow](
        new Path(tmp.toUri),
        new ParquetWriteSupport().asInstanceOf[WriteSupport[InternalRow]],
        CompressionCodecName.SNAPPY,
        ParquetWriter.DEFAULT_BLOCK_SIZE,
        ParquetWriter.DEFAULT_PAGE_SIZE,
        ParquetWriter.DEFAULT_PAGE_SIZE,
        ParquetWriter.DEFAULT_IS_DICTIONARY_ENABLED,
        false, // validating
        ParquetWriter.DEFAULT_WRITER_VERSION,
        writeConf(schema))
      try rows.foreach(writer.write) finally writer.close()
      java.nio.file.Files.move(tmp, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case t: Throwable =>
        // a failed encode must not strand its temp: nothing references
        // it (a crashed process's temp is VACUUM's age-gated sweep)
        java.nio.file.Files.deleteIfExists(tmp)
        java.nio.file.Files.deleteIfExists(checksumOf(tmp))
        throw t
    }
    // the checksum the local filesystem wrote beside the temp guards
    // nothing once the temp is renamed away
    java.nio.file.Files.deleteIfExists(checksumOf(tmp))
    java.nio.file.Files.size(file)
  }

  /** EXISTS_DEFAULT backfill (r19 — `ADD COLUMN ... DEFAULT`): the
    * output expressions for reading the fields `out` of `schema` from
    * `file`, where the decoded row holds the fields `req` (ascending,
    * distinct) in that order. A requested field carrying an
    * EXISTS_DEFAULT whose field id is ABSENT from the file's FOOTER
    * reads the default constant; a field the file stores reads its
    * bytes (stored NULLs stay NULL). Stateless by design — the footer
    * is the one source of truth that survives checkpoint folds, clones
    * and foreign processes — and the footer probe only runs when a
    * requested field carries a default at all (zero cost on every
    * other read). An unreadable footer degrades to the plain read
    * (NULL padding), never an error here — the row read right after
    * will surface real corruption loudly. */
  private def outputExprs(file: java.nio.file.Path, schema: StructType,
      req: Array[Int], out: Array[Int]): Seq[Expression] = {
    lazy val fileIds = footerIds(file)
    out.toIndexedSeq.map { c =>
      val f = schema.fields(c)
      val absent = f.metadata.contains("EXISTS_DEFAULT") &&
        FieldIds.idOf(f).exists(id => fileIds.exists(!_.contains(id)))
      if (absent) {
        // evaluate under the zone CAPTURED at declaration — executor
        // session zones must not skew a timezone-sensitive default
        val tz = GraftTable.defaultTzOf(f)
        val v = defaultLitCache.computeIfAbsent(
          (f.metadata.getString("EXISTS_DEFAULT"), f.dataType, tz),
          { case (sql, dt, z) => GraftTable.evalDefault(sql, dt, z) })
        Literal(v, f.dataType)
      } else
        BoundReference(java.util.Arrays.binarySearch(req, c), f.dataType,
          f.nullable)
    }
  }

  /** The field ids `file`'s footer stores, or None when the footer is
    * unreadable. Segments are IMMUTABLE once committed (writes land by
    * atomic rename and never mutate in place), so the set memoizes per
    * normalized path: one ParquetFileReader.open per (JVM, file), not
    * one per scan (r19 ADVICE: the double-open ran per read). */
  private def footerIds(file: java.nio.file.Path): Option[Set[Long]] = {
    val key = file.toAbsolutePath.normalize.toString
    val cached = footerIdCache.get(key)
    if (cached != null) return Some(cached)
    try {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toUri), baseConf()))
      val ids =
        try {
          import scala.jdk.CollectionConverters._
          r.getFileMetaData.getSchema.getFields.asScala
            .flatMap(t => Option(t.getId).map(_.intValue().toLong))
            .toSet
        } finally r.close()
      footerIdCache.put(key, ids)
      Some(ids)
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Footer field-id sets per normalized segment path (files are
    * immutable once committed; a replaced path is a NEW path) —
    * footers are tiny, the census is file-count-bounded. */
  private val footerIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[Long]]()

  /** Evaluated EXISTS_DEFAULT literal per (sql, dataType) — the parse
    * + fold runs once per declared default, not once per file read. */
  private val defaultLitCache = new java.util.concurrent.ConcurrentHashMap[
    (String, org.apache.spark.sql.types.DataType, String), Any]()

  /** Read `file`, a segment laid out as `schema`, as a stream of rows in
    * file order. Only the fields at ordinals `cols` of `schema` are
    * requested from parquet (default: all of them), and each row
    * carries them in `cols` order; field ids resolve per requested
    * field, and one whose EXISTS_DEFAULT column the file lacks reads
    * the default. One parquet open per call, counted in the read
    * census; the reader works over this call's own configuration, so
    * no default-loading Hadoop `Configuration` is built per segment.
    * Rows are REUSED between `next()` calls — copy one to keep it. The
    * reader closes when the rows run out, on `close()`, or when the
    * running Spark task completes. A missing file fails loudly with
    * the VACUUM message, never reads as empty. */
  def read(file: java.nio.file.Path, schema: StructType,
           cols: Array[Int] = null): SegmentRows = {
    val key = file.toAbsolutePath.normalize.toString
    bump(readCounts, key)
    if (TaskContext.get() == null) bump(driverReadCounts, key)
    if (!java.nio.file.Files.exists(file))
      throw new java.io.FileNotFoundException(
        s"segment $file is gone — VACUUM reclaimed it, or a shallow " +
          "clone's source was vacuumed (clones share segments by " +
          "reference; vacuuming the source invalidates them)")
    val out = if (cols == null) schema.indices.toArray else cols
    val req = out.distinct.sorted
    // the materializer reuses its row buffer; the projection lays the
    // requested fields out as compact UnsafeRows (reused too)
    val toOut = UnsafeProjection.create(outputExprs(file, schema, req, out))
    val conf = readConf(StructType(req.map(schema.fields(_))))
    val in = HadoopInputFile.fromPath(new Path(file.toUri), conf)
    val reader = new ParquetReader.Builder[InternalRow](in,
        new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport(): ReadSupport[InternalRow] =
        new ParquetReadSupport()
    }.build()
    new SegmentRows(reader, toOut)
  }

  /** Every row of a segment, copied, for callers that need random
    * access (partition splits, compaction, the driver's lazily-loaded
    * file rows) — the same one-open read, drained. */
  def readAll(file: java.nio.file.Path, schema: StructType)
      : Array[InternalRow] = {
    val rows = read(file, schema)
    try rows.map(_.copy(): InternalRow).toArray
    finally rows.close()
  }

  /** One open segment's rows: a single pass over the parquet reader. */
  final class SegmentRows private[GraftSegmentIO] (
      opened: ParquetReader[InternalRow], toOut: UnsafeProjection)
      extends Iterator[InternalRow] with AutoCloseable {
    // dropped at close: a task streaming many segments keeps no closed
    // reader's buffers alive until it completes
    private var reader = opened
    private var pending: InternalRow = _
    Option(TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))

    override def hasNext: Boolean = {
      if (pending == null && reader != null) {
        pending = reader.read()
        if (pending == null) close()
      }
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("segment exhausted")
      val r = pending
      pending = null
      toOut(r)
    }

    override def close(): Unit = if (reader != null) {
      val r = reader
      reader = null
      pending = null
      r.close()
    }
  }
}
