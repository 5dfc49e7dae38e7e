package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** A durable table fragmented by small appends scans in few tasks:
  * [[GraftScan]] packs consecutive segments into input partitions by
  * Spark's file-split rule (`spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes`, `minPartitionNum`, then the leaf-node and default
  * parallelism), in file order, each segment still opened once on the
  * executor. Key-grouped scans keep one partition per key. */
class GraftScanPackingSpec extends SparkSpec {
  import spark.implicits._

  private val nAppends = 12

  /** Unpartitioned durable table, one ~10-row segment per append. */
  private lazy val table: GraftTable = {
    val wh = tmpDir("graft-pack")
    spark.conf.set("spark.sql.catalog.packcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.packcat.warehouse", wh)
    spark.sql("CREATE TABLE packcat.ns.frag (id BIGINT, v STRING)")
    (0 until nAppends).foreach { k =>
      Seq.tabulate(10)(i => (100L * k + i, s"v$k-$i")).toDF("id", "v")
        .coalesce(1).writeTo("packcat.ns.frag").append()
    }
    spark.sessionState.catalogManager.catalog("packcat")
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), "frag"))
  }
  private def segs: Seq[java.nio.file.Path] =
    table.dataFiles.map(_.segment.path)

  private val splitKeys = Seq("spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
    "spark.sql.sources.v2.bucketing.enabled")

  /** Runs `body` with `kvs` set and every split key not in `kvs` unset,
    * restoring the session's values afterwards. */
  private def withSplitConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = splitKeys.map(k => k -> spark.conf.getOption(k))
    splitKeys.foreach(spark.conf.unset)
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def plannedOf(sql: String): Seq[InputPartition] =
    spark.sql(sql).queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputPartitions
    }.getOrElse(fail(s"no batch scan in $sql"))

  /** The segment files each planned partition reads, in order. */
  private def refsOf(p: InputPartition): Seq[String] = p match {
    case s: GraftSegmentScanPartition => Seq(s.ref)
    case m: GraftPackedSegmentPartition => m.segs.map(_.ref)
    case other => fail(s"unexpected partition kind $other")
  }

  test("segments pack by Spark's split rule, in file order, and fall " +
      "back to one partition per file below a segment's size") {
    assert(segs.length === nAppends)
    val sizes = table.dataFiles.map(_.sizeBytes)
    // the 4 MiB open cost dwarfs ~1 KiB segments, so a split of
    // total / minPartitionNum holds nAppends / minPartitionNum segments
    assert(sizes.max < 64 * 1024)
    def grouping(kvs: (String, String)*): Seq[Seq[String]] =
      withSplitConf(kvs: _*)(
        plannedOf("SELECT * FROM packcat.ns.frag").map(refsOf))
    def runsOf(n: Int): Seq[Seq[String]] =
      segs.map(_.toString).grouped(nAppends / n).toSeq
    assert(grouping("spark.sql.files.minPartitionNum" -> "3") === runsOf(3))
    // minPartitionNum falls back to the leaf-node parallelism ...
    assert(grouping("spark.sql.leafNodeDefaultParallelism" -> "2") ===
      runsOf(2))
    // ... and then to the default parallelism (local[4])
    assert(spark.sparkContext.defaultParallelism === 4)
    assert(grouping() === runsOf(4))
    // maxPartitionBytes caps the split: below every segment's size each
    // segment plans alone, as a plain segment partition
    val perFile = withSplitConf(
        "spark.sql.files.maxPartitionBytes" -> (sizes.min - 1).toString)(
      plannedOf("SELECT * FROM packcat.ns.frag"))
    assert(perFile.forall(_.isInstanceOf[GraftSegmentScanPartition]))
    assert(perFile.map(refsOf) === segs.map(p => Seq(p.toString)))
  }

  test("an unordered SELECT * returns per-file planning's rows in " +
      "per-file planning's order") {
    val tiny = (table.dataFiles.map(_.sizeBytes).min - 1).toString
    val perFile = withSplitConf("spark.sql.files.maxPartitionBytes" -> tiny)(
      spark.sql("SELECT * FROM packcat.ns.frag").as[(Long, String)]
        .collect().toSeq)
    val packed = withSplitConf()(
      spark.sql("SELECT * FROM packcat.ns.frag").as[(Long, String)]
        .collect().toSeq)
    assert(packed.length === nAppends * 10)
    assert(packed === perFile)
    assert(packed.map(_._1) === (0 until nAppends).flatMap(k =>
      (0 until 10).map(i => 100L * k + i)))
  }

  test("a packed scan opens each segment exactly once, on the executor") {
    withSplitConf() {
      assert(plannedOf("SELECT * FROM packcat.ns.frag").length < nAppends)
      (1 to 2).foreach { round =>
        val before = segs.map(p =>
          (GraftSegmentIO.readsOf(p), GraftSegmentIO.driverReadsOf(p)))
        assert(spark.sql("SELECT * FROM packcat.ns.frag").collect().length
          === nAppends * 10)
        segs.zip(before).foreach { case (p, (reads, driver)) =>
          assert(GraftSegmentIO.readsOf(p) === reads + 1,
            s"scan $round: $p must be opened exactly once")
          assert(GraftSegmentIO.driverReadsOf(p) === driver,
            s"scan $round: $p was read on the driver")
          assert(driver === 0L)
        }
      }
    }
  }

  test("a partitioned table keeps one partition per key under v2 " +
      "bucketing") {
    spark.sql("CREATE TABLE packcat.ns.keyed (id BIGINT, st STRING) " +
      "PARTITIONED BY (st)")
    (0 until 4).foreach { k =>
      Seq.tabulate(6)(i => (10L * k + i, Seq("CA", "NY", "TX")(i % 3)))
        .toDF("id", "st").coalesce(1).writeTo("packcat.ns.keyed").append()
    }
    val parts = withSplitConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true")(
      plannedOf("SELECT * FROM packcat.ns.keyed"))
    assert(parts.length === 3)
    val keyed = parts.map {
      case k: GraftKeyedSegmentPartition => k
      case other => fail(s"expected a key-grouped partition, got $other")
    }
    assert(keyed.map(_.key.getUTF8String(0).toString).sorted ===
      Seq("CA", "NY", "TX"))
    assert(keyed.forall(_.packed.segs.length == 4))
  }

  test("the packed partition survives a Java serialization round trip") {
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType))).json
    val keyPred: Seq[Any] => Boolean = k => k.headOption.contains(7)
    val part = GraftPackedSegmentPartition(Seq(
      GraftSegmentScanPartition("/x/data/seg-0.parquet", schemaJson,
        Array(0), Array(3, 5)),
      GraftSegmentScanPartition("/x/data/seg-1.parquet", schemaJson,
        Array(0), Array.empty, keyOrds = Array(0), keyPred = Some(keyPred))))
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(part); oos.close()
    assert(bos.size() < 16 * 1024,
      s"partition serialized to ${bos.size()} bytes — it is dragging " +
        "captured state")
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[GraftPackedSegmentPartition]
    assert(back.segs.map(_.ref) ===
      Seq("/x/data/seg-0.parquet", "/x/data/seg-1.parquet"))
    assert(back.segs.head.dead.toSeq === Seq(3, 5))
    assert(back.segs(1).keyPred.get(Seq(7)) && !back.segs(1).keyPred.get(Seq(8)),
      "the deserialized predicate must still evaluate")
  }
}
