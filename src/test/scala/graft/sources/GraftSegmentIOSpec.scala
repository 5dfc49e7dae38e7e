package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side parquet segment IO: bit-exact roundtrip of every
  * zone-supported type plus arrays/binary, no Spark job involved;
  * column-pruned streaming reads agree with the full-width read; a
  * failed encode strands no temp file. */
class GraftSegmentIOSpec extends SparkSpec {

  test("segment write/read round-trips all catalog types bit-exact") {
    val schema = StructType(Seq(
      StructField("i", IntegerType),
      StructField("l", LongType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("b", BooleanType),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(10, 2)),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(DoubleType))))
    val rows: Array[InternalRow] = Array(
      new GenericInternalRow(Array[Any](1, 10L, 1.5,
        UTF8String.fromString("alpha"), true, 19000, 1690000000000000L,
        Decimal(BigDecimal("123.45"), 10, 2), Array[Byte](1, 2, 3),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array(0.1, 0.2)))),
      new GenericInternalRow(Array[Any](null, null, null, null, null,
        null, null, null, null, null)))
    val dir = java.nio.file.Paths.get(tmpDir("segio"))
    val f = dir.resolve("seg-1.parquet")
    val size = GraftSegmentIO.write(f, schema, rows)
    assert(size > 0 && java.nio.file.Files.size(f) === size)

    val back = GraftSegmentIO.readAll(f, schema)
    assert(back.length === 2)
    val r0 = back(0)
    assert(r0.getInt(0) === 1 && r0.getLong(1) === 10L &&
      r0.getDouble(2) === 1.5 &&
      r0.getUTF8String(3).toString === "alpha" &&
      r0.getBoolean(4) && r0.getInt(5) === 19000 &&
      r0.getLong(6) === 1690000000000000L &&
      r0.getDecimal(7, 10, 2).toBigDecimal === BigDecimal("123.45") &&
      r0.getBinary(8).toSeq === Seq[Byte](1, 2, 3) &&
      r0.getArray(9).toDoubleArray().toSeq === Seq(0.1, 0.2))
    val r1 = back(1)
    assert((0 until 10).forall(r1.isNullAt),
      "null row must read back all-null")

    // and Spark's own parquet reader agrees (the file is PLAIN parquet)
    val viaSpark = spark.read.schema(schema).parquet(f.toString)
    assert(viaSpark.count() === 2)
    assert(viaSpark.where("s = 'alpha'").count() === 1)

    // a vacuumed segment reads loudly, never as empty
    java.nio.file.Files.delete(f)
    val e = intercept[java.io.FileNotFoundException](
      GraftSegmentIO.read(f, schema))
    assert(e.getMessage.contains("VACUUM"))
  }

  private val wide = StructType(Seq(
    StructField("i", IntegerType),
    StructField("s", StringType),
    StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)),
    StructField("arr", ArrayType(DoubleType))))

  private def wideRows: Array[InternalRow] = Array.tabulate(5) { k =>
    if (k == 3) new GenericInternalRow(Array[Any](null, null, null, null,
      null))
    else new GenericInternalRow(Array[Any](k, UTF8String.fromString(s"s$k"),
      k * 1.5, Decimal(BigDecimal(k) + BigDecimal("0.25"), 10, 2),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array.fill(k)(k.toDouble))))
  }

  /** Plain Scala values of row `r`, whose field j has type `types(j)`. */
  private def cells(r: InternalRow, types: Seq[DataType]): Seq[Any] =
    types.zipWithIndex.map { case (dt, j) =>
      if (r.isNullAt(j)) null
      else dt match {
        case ArrayType(DoubleType, _) => r.getArray(j).toDoubleArray().toSeq
        case d: DecimalType =>
          r.getDecimal(j, d.precision, d.scale).toBigDecimal
        case StringType => r.getUTF8String(j).toString
        case other => r.get(j, other)
      }
    }

  private def pruned(f: java.nio.file.Path, schema: StructType,
      cols: Array[Int]): Seq[Seq[Any]] = {
    val it = GraftSegmentIO.read(f, schema, cols)
    try it.map(cells(_, cols.toSeq.map(schema.fields(_).dataType))).toList
    finally it.close()
  }

  test("pruned reads return the full-width read's values, projected") {
    val f = java.nio.file.Paths.get(tmpDir("segio-prune"))
      .resolve("seg-p.parquet")
    GraftSegmentIO.write(f, wide, wideRows)
    val full = pruned(f, wide, wide.indices.toArray)
    assert(full.length === 5)
    for (cols <- Seq(Array(2), Array(1, 4), Array(4, 0, 2), Array(2, 0),
                     Array(0, 2), Array(3, 3)))
      assert(pruned(f, wide, cols) === full.map(r => cols.toSeq.map(r(_))),
        s"columns ${cols.mkString(",")}")
    // an empty request still yields one (empty) row per stored row
    val none = GraftSegmentIO.read(f, wide, Array.empty[Int])
    try assert(none.map(_.numFields).toList === List.fill(5)(0))
    finally none.close()
    // the rows stream: exhausting the iterator closes it, and an early
    // close ends it
    val it = GraftSegmentIO.read(f, wide, Array(0))
    assert(it.hasNext)
    it.close()
    assert(!it.hasNext)
  }

  test("pruned reads resolve renamed columns by field id and fill " +
      "EXISTS_DEFAULT columns the footer lacks") {
    val written = StructType(Seq(
      FieldIds.withId(StructField("a", IntegerType), 0),
      FieldIds.withId(StructField("b", StringType), 1),
      FieldIds.withId(StructField("c", DoubleType), 2)))
    val rows: Array[InternalRow] = Array.tabulate(3)(k =>
      new GenericInternalRow(Array[Any](k, UTF8String.fromString(s"b$k"),
        k + 0.5)))
    val f = java.nio.file.Paths.get(tmpDir("segio-ids"))
      .resolve("seg-ids.parquet")
    GraftSegmentIO.write(f, written, rows)
    // column mapping: `b` renamed to `bee` and moved — the field id,
    // not the name or the position, finds the stored column
    val renamed = StructType(Seq(
      FieldIds.withId(StructField("c", DoubleType), 2),
      FieldIds.withId(StructField("bee", StringType), 1),
      FieldIds.withId(StructField("a", IntegerType), 0)))
    assert(pruned(f, renamed, Array(1)) ===
      Seq(Seq("b0"), Seq("b1"), Seq("b2")))
    assert(pruned(f, renamed, Array(2, 1)) ===
      Seq(Seq(0, "b0"), Seq(1, "b1"), Seq(2, "b2")))
    // ADD COLUMN d INT DEFAULT 42 after the segment was written
    val added = StructType(written.fields :+ FieldIds.withId(
      StructField("d", IntegerType, nullable = true,
        new MetadataBuilder().putString("EXISTS_DEFAULT", "42").build()),
      3))
    assert(pruned(f, added, Array(3)) === Seq.fill(3)(Seq(42)))
    assert(pruned(f, added, Array(3, 0)) ===
      Seq(Seq(42, 0), Seq(42, 1), Seq(42, 2)))
    // a vacuumed segment fails loudly under a pruned request too
    java.nio.file.Files.delete(f)
    val e = intercept[java.io.FileNotFoundException](
      GraftSegmentIO.read(f, added, Array(1)))
    assert(e.getMessage.contains("VACUUM"))
  }

  test("a repeated segment read parses no Hadoop default resources") {
    val f = java.nio.file.Paths.get(tmpDir("segio-conf"))
      .resolve("seg-c.parquet")
    GraftSegmentIO.write(f, wide, wideRows)
    val lookups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val th = Thread.currentThread()
    val saved = th.getContextClassLoader
    // Hadoop's Configuration finds its resources through the context
    // class loader captured at construction
    val recorder = new ClassLoader(saved) {
      override def getResource(name: String): java.net.URL = {
        lookups.add(name)
        super.getResource(name)
      }
      override def getResources(name: String)
          : java.util.Enumeration[java.net.URL] = {
        lookups.add(name)
        super.getResources(name)
      }
    }
    def defaults: Seq[String] = {
      import scala.jdk.CollectionConverters._
      lookups.asScala.toSeq
        .filter(n => n == "core-default.xml" || n == "core-site.xml")
    }
    th.setContextClassLoader(recorder)
    try {
      // the recorder sees what a default-loading conf looks up
      new org.apache.hadoop.conf.Configuration().get("fs.defaultFS")
      assert(defaults.contains("core-default.xml"))
      GraftSegmentIO.readAll(f, wide) // one-time JVM set-up may look
      lookups.clear()
      assert(GraftSegmentIO.readAll(f, wide).length === 5)
      assert(defaults.isEmpty, s"second read looked up $defaults")
    } finally th.setContextClassLoader(saved)
  }

  test("a failed encode deletes its temp; VACUUM sweeps crashed " +
      "segment temps age-gated") {
    val dir = java.nio.file.Paths.get(tmpDir("segio-tmp"))
    val log = new GraftTableLog(dir)
    val f = log.dataDir.resolve("seg-bad.parquet")
    // a value that does not fit the layout fails mid-encode
    intercept[ClassCastException](GraftSegmentIO.write(f,
      StructType(Seq(StructField("i", IntegerType))),
      Array(new GenericInternalRow(Array[Any](UTF8String.fromString("x"))))))
    def names: Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(log.dataDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(!names.exists(_.contains("seg-bad")),
      s"a failed write left $names behind")

    GraftSegmentIO.write(log.dataDir.resolve("seg-ok.parquet"),
      StructType(Seq(StructField("i", IntegerType))),
      Array(new GenericInternalRow(Array[Any](1))))
    assert(names === Set("seg-ok.parquet"),
      "a successful write leaves exactly its segment")

    // temps of crashed writers sweep once older than the orphan grace
    // (or an automatic reclaim's longer gate) — even under RETAIN-0,
    // since a younger temp may be another process's in-flight write
    val old = log.dataDir.resolve("seg-old.parquet.tmp")
    val young = log.dataDir.resolve("seg-young.parquet.tmp")
    val oldCrc = GraftSegmentIO.checksumOf(old)
    Seq(old, oldCrc, young).foreach(java.nio.file.Files.write(_,
      Array[Byte](1)))
    val age = GraftTable.orphanGraceMillis + 60 * 1000L
    Seq(old, oldCrc).foreach(java.nio.file.Files.setLastModifiedTime(_,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - age)))
    log.reclaim(0, Set.empty, minAgeMillis = 2 * age)
    assert(java.nio.file.Files.exists(old), "the longer gate spares it")
    log.reclaim(0, Set.empty, 0L)
    assert(!java.nio.file.Files.exists(old) &&
      !java.nio.file.Files.exists(oldCrc), "an aged temp must be swept")
    assert(java.nio.file.Files.exists(young),
      "a young temp may be an in-flight write: VACUUM spares it")
  }

  test("durable scans with row tracking and a MOR delete vector: pruned " +
      "and metadata reads agree, one executor-side open per segment") {
    import spark.implicits._
    val wh = tmpDir("segio-scan")
    spark.conf.set("spark.sql.catalog.sioscan", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.sioscan.warehouse", wh)
    val t = "sioscan.ns.tracked_mor"
    spark.sql(s"CREATE TABLE $t (a BIGINT, b STRING, c DOUBLE) " +
      "TBLPROPERTIES ('row.tracking'='true', " +
      "'write.rowlevel.mode'='merge-on-read')")
    // one file per append, rows in position order
    Seq.tabulate(6)(k => (k.toLong, s"b$k", k * 0.5)).toDF("a", "b", "c")
      .coalesce(1).writeTo(t).append()
    Seq.tabulate(3)(k => (10L + k, s"b${10 + k}", k * 2.0))
      .toDF("a", "b", "c").coalesce(1).writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE a = 2")
    val table = spark.sessionState.catalogManager.catalog("sioscan")
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), "tracked_mor"))
    val segs = table.dataFiles.map(_.segment.path)
    assert(segs.length === 2 && table.dvCensus === Seq((0, 1)))

    // no ORDER BY: a range sort's sampling job would scan a second time
    def scan[T](sql: String)(row: org.apache.spark.sql.Row => T): Seq[T] = {
      val before = segs.map(p =>
        (GraftSegmentIO.readsOf(p), GraftSegmentIO.driverReadsOf(p)))
      val out = spark.sql(sql).collect().toSeq.map(row)
      segs.zip(before).foreach { case (p, (reads, driver)) =>
        assert(GraftSegmentIO.readsOf(p) === reads + 1,
          s"$sql: $p must be opened exactly once")
        assert(GraftSegmentIO.driverReadsOf(p) === driver,
          s"$sql: $p was read on the driver")
      }
      out
    }
    val live = Seq(0L, 1L, 3L, 4L, 5L, 10L, 11L, 12L)
    assert(scan(s"SELECT a FROM $t")(_.getLong(0)).sorted === live)
    // positions are file positions (the DV leaves a gap at 2); ids are
    // dense in insert order across the two files
    assert(scan(s"SELECT a, _row_pos, _row_id FROM $t")(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).sorted === Seq(
      (0L, 0, 0L), (1L, 1, 1L), (3L, 3, 3L), (4L, 4, 4L),
      (5L, 5, 5L), (10L, 0, 6L), (11L, 1, 7L), (12L, 2, 8L)))
    assert(scan(s"SELECT * FROM $t")(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1) ===
      live.map(a =>
        if (a < 10) (a, s"b$a", a * 0.5) else (a, s"b$a", (a - 10) * 2.0)))
  }
}
