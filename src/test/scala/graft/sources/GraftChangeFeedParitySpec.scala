package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.Trigger

/** The change data feed has one read path: in-JVM and durable commits
  * plan the same derived files — identity cancel, zone-disjoint pure
  * files, overlap components cancelled in the partition reader — so one
  * statement script leaves the same `t$changes` multiset, row ids
  * included, on either store. */
class GraftChangeFeedParitySpec extends graft.SparkSpec {

  private lazy val durableWh: String = {
    val wh = tmpDir("graft-cfp")
    spark.conf.set("spark.sql.catalog.cfp_dur", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cfp_dur.warehouse", wh)
    spark.conf.set("spark.sql.catalog.cfp_heap", classOf[GraftCatalog].getName)
    wh
  }

  private val stores = Seq("cfp_heap", "cfp_dur")

  private def sql(text: String): Unit =
    GraftMaintenance.sql(spark, text).collect()

  private def changes(cat: String, name: String): DataFrame =
    spark.table(s"$cat.ns.`$name$$changes`")

  /** Each version's change rows without the store-specific commit
    * timestamp, as a sorted multiset. */
  private def feedByVersion(cat: String, name: String): Map[Int, Seq[String]] =
    changes(cat, name).drop("_commit_timestamp").collect().toSeq
      .groupBy(_.getAs[Int]("_commit_version"))
      .map { case (v, rs) => v -> rs.map(_.mkString("|")).sorted }

  private def plannedOf(df: DataFrame): Seq[InputPartition] =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputPartitions
    }.getOrElse(fail("no batch scan"))

  private def tblProps(props: Seq[String]): String =
    if (props.isEmpty) "" else props.mkString("TBLPROPERTIES (", ", ", ")")

  /** Copy-on-write script: CTAS, a partial-group UPDATE, MERGE with
    * update and insert, a partition INSERT OVERWRITE, OPTIMIZE and
    * RESTORE. */
  private def cowScript(t: String, props: Seq[String]): Unit = {
    spark.sql(s"CREATE TABLE $t PARTITIONED BY (h) ${tblProps(props)} " +
      "AS SELECT id, CAST(id % 3 AS INT) AS h, id * 10 AS v " +
      "FROM range(0, 24)")
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE h = 0 AND id < 9")
    spark.sql(s"MERGE INTO $t tgt USING (SELECT * FROM VALUES " +
      "(CAST(1 AS BIGINT), 1, CAST(999 AS BIGINT)), " +
      "(CAST(100 AS BIGINT), 2, CAST(5 AS BIGINT)) AS s(id, h, v)) src " +
      "ON tgt.id = src.id WHEN MATCHED THEN UPDATE SET v = src.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    spark.sql(s"INSERT OVERWRITE $t PARTITION (h = 2) " +
      "VALUES (2, 20), (5000, 7)")
    sql(s"OPTIMIZE $t")
    sql(s"RESTORE TABLE $t TO VERSION AS OF 2")
  }

  /** Merge-on-read script: CTAS, a DELETE that leaves delete vectors,
    * an UPDATE, OPTIMIZE and RESTORE. */
  private def morScript(t: String, props: Seq[String]): Unit = {
    spark.sql(s"CREATE TABLE $t PARTITIONED BY (h) " +
      tblProps("'write.rowlevel.mode'='merge-on-read'" +: props) + " " +
      "AS SELECT id, CAST(id % 3 AS INT) AS h, id * 10 AS v " +
      "FROM range(0, 24)")
    spark.sql(s"DELETE FROM $t WHERE id % 4 = 1")
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE h = 1 AND id > 10")
    sql(s"OPTIMIZE $t")
    sql(s"RESTORE TABLE $t TO VERSION AS OF 1")
  }

  /** Runs both scripts on both stores, with and without row tracking,
    * and compares every version's feed across the stores. */
  private def assertParity(suffix: String): Unit = {
    durableWh
    for {
      (script, kind) <- Seq[((String, Seq[String]) => Unit, String)](
        (cowScript, "cow"), (morScript, "mor"))
      tracked <- Seq(false, true)
    } {
      val name = s"cfp_${kind}_${if (tracked) "trk" else "plain"}_$suffix"
      val props = if (tracked) Seq("'row.tracking'='true'") else Nil
      stores.foreach(c => script(s"$c.ns.$name", props))
      val Seq(heap, dur) = stores.map(feedByVersion(_, name))
      assert(heap.nonEmpty)
      assert(heap.keySet === dur.keySet, s"$name: versions with changes")
      heap.keys.toSeq.sorted.foreach { v =>
        assert(heap(v) === dur(v), s"$name: version $v")
      }
      if (tracked) stores.foreach { c =>
        val feed = changes(c, name)
        assert(feed.columns.last === "_row_id")
        assert(feed.where("_row_id IS NULL").count() === 0L,
          s"$c.$name: every change row carries its row id")
      }
      val parts = plannedOf(changes("cfp_heap", name))
      assert(parts.nonEmpty &&
        parts.forall(_.isInstanceOf[GraftChangeScanPartition]),
        s"$name: the in-JVM feed plans change partitions, got $parts")
    }
  }

  test("in-JVM and durable commits serve the same change feed, row ids " +
      "included, through change partitions") {
    assertParity("one")
  }

  test("hash-sliced cancel components keep the feeds equal across " +
      "stores") {
    val saved = GraftTable.cdcCancelSliceRows
    try {
      GraftTable.cdcCancelSliceRows = 2
      assertParity("sliced")
      val sliced = plannedOf(changes("cfp_heap", "cfp_cow_plain_sliced"))
        .collect { case c: GraftChangeScanPartition => c.nSlices }
      assert(sliced.exists(_ > 1), "in-JVM cancel components slice too")
    } finally GraftTable.cdcCancelSliceRows = saved
  }

  test("a running change stream that crosses DROP COLUMN delivers the " +
      "next commit as a fresh stream reads it, the dropped column null") {
    durableWh
    stores.foreach { c =>
      val t = s"$c.ns.cfp_dropcol"
      val feed = s"$c.ns.`cfp_dropcol$$changes`"
      spark.sql(s"CREATE TABLE $t (id BIGINT, junk STRING, v STRING)")
      spark.sql(s"INSERT INTO $t VALUES (1, 'x', 'a'), (2, 'y', 'b'), " +
        "(3, 'z', 'c')")
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Row]())
      val q = spark.readStream.table(feed).writeStream
        .option("checkpointLocation", tmpDir("cfp-run"))
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(got.add)
        }
        .start()
      try {
        q.processAllAvailable()
        assert(got.size === 3)
        got.clear()
        spark.sql(s"ALTER TABLE $t DROP COLUMN junk")
        // a COW rewrite: its rows cancel in a component partition
        spark.sql(s"UPDATE $t SET v = 'B' WHERE id = 2")
        val version = spark.sessionState.catalogManager.catalog(c)
          .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), "cfp_dropcol"))
          .currentVersion
        q.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val running = got.asScala.toSeq
        assert(running.nonEmpty &&
          running.forall(r => r.isNullAt(r.fieldIndex("junk"))),
          s"$c: the dropped column reads null, got $running")

        val fresh = java.util.Collections.synchronizedList(
          new java.util.ArrayList[Row]())
        spark.readStream.option("startingVersion", version.toString)
          .table(feed).writeStream
          .option("checkpointLocation", tmpDir("cfp-fresh"))
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.collect().foreach(fresh.add)
          }
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        def key(r: Row): String = Seq("_change_type", "_commit_version",
          "_commit_timestamp", "id", "v").map(n => r.get(r.fieldIndex(n)))
          .mkString("|")
        assert(running.map(key).sorted === fresh.asScala.toSeq.map(key).sorted,
          s"$c: the running stream's batch equals a fresh stream's")
        assert(running.map(key).sorted.map(_.split('|').head) ===
          Seq("delete", "insert"), s"$c: minimal delta $running")
      } finally q.stop()
    }
  }
}
