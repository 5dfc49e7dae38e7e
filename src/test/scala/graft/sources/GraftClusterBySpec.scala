package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** `cluster.by` (r18 — Delta liquid-clustering-style CLUSTER BY):
  * clustering keys without hard partitioning. Property lifecycle
  * (CREATE / ALTER SET / UNSET, metadata-only), the plain-OPTIMIZE
  * default to ZORDER BY the declared keys with the box-query census
  * improvement that is the feature's point, restart persistence, and
  * the hard-layout refusals. */
class GraftClusterBySpec extends SparkSpec {
  import spark.implicits._

  private def durableCatalog(name: String): String = {
    val wh = tmpDir(s"graft-$name")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def graftTable(cat: String, t: String): GraftTable =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), t))

  /** 32×32 grid of points, written in ROW-MAJOR slices so every
    * pre-OPTIMIZE file spans the full x range — zone maps can skip
    * nothing for a box until the clustering re-layout. */
  private def writeGrid(t: String): Unit =
    (0 until 4).foreach { slice =>
      (0 until 32 * 32).filter(i => (i / 32) % 4 == slice)
        .map(i => ((i % 32).toLong, (i / 32).toLong, i.toLong))
        .toDF("x", "y", "v").coalesce(1).writeTo(t).append()
    }

  test("plain OPTIMIZE on a CLUSTER BY table defaults to ZORDER over " +
      "the declared keys: the box-query census improves, rows are " +
      "unchanged, the history attributes the layout to the property") {
    durableCatalog("cb")
    spark.sql("CREATE TABLE cb.ns.pts (x BIGINT, y BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('cluster.by'='x,y')")
    writeGrid("cb.ns.pts")
    val t = graftTable("cb", "pts")
    def box() = spark.table("cb.ns.pts")
      .filter(col("x").between(4, 7) && col("y").between(4, 7))
      .as[(Long, Long, Long)].collect().toSet
    val before = box()
    assert(before.size === 16)
    val censusBefore = t.lastScanCensus.get
    assert(censusBefore.filesRead === censusBefore.filesTotal,
      s"the row-major slices must be unskippable pre-layout: " +
        s"$censusBefore")
    // the DEFAULT optimize — no ZORDER BY clause anywhere (TARGET only
    // sizes the output files so the census has something to skip)
    GraftMaintenance.sql(spark, "OPTIMIZE cb.ns.pts TARGET 128 ROWS")
      .collect()
    assert(box() === before, "the re-layout must lose nothing")
    val censusAfter = t.lastScanCensus.get
    assert(censusAfter.filesRead < censusAfter.filesTotal,
      s"the box census must IMPROVE after the default OPTIMIZE: " +
        s"before=$censusBefore after=$censusAfter")
    val hist = spark.table("cb.ns.`pts$history`")
      .orderBy($"version".desc)
      .select("operation", "parameters").as[(String, String)].head()
    assert(hist._1 === "ZORDER" &&
      hist._2.contains("clustering=cluster.by") &&
      hist._2.contains("zorder_by=x,y"), hist.toString)
  }

  test("property lifecycle: DESCRIBE surfaces cluster.by; ALTER SET " +
      "flips it metadata-only and redirects OPTIMIZE; UNSET reverts " +
      "OPTIMIZE to plain bin-packing; restart re-reads the property") {
    val wh = durableCatalog("cbl")
    spark.sql("CREATE TABLE cbl.ns.t (x BIGINT, y BIGINT, v BIGINT)")
    (0 until 3).foreach(i =>
      (0 until 50).map(j => (j.toLong, (j * 7 % 50).toLong,
        (i * 100 + j).toLong))
        .toDF("x", "y", "v").coalesce(1).writeTo("cbl.ns.t").append())
    // no property: OPTIMIZE bin-packs
    GraftMaintenance.sql(spark, "OPTIMIZE cbl.ns.t").collect()
    def lastOp(cat: String): String = spark.table(s"$cat.ns.`t$$history`")
      .orderBy($"version".desc).select("operation").as[String].head()
    assert(lastOp("cbl") === "OPTIMIZE")
    // SET is metadata-only: no rewrite happens at ALTER time
    val filesBefore = graftTable("cbl", "t").dataFiles.length
    spark.sql("ALTER TABLE cbl.ns.t SET TBLPROPERTIES " +
      "('cluster.by'='x')")
    assert(graftTable("cbl", "t").dataFiles.length === filesBefore,
      "the property flip must not rewrite any file")
    assert(graftTable("cbl", "t").properties()
      .get(GraftTable.ClusterByProp) === "x")
    GraftMaintenance.sql(spark, "OPTIMIZE cbl.ns.t").collect()
    assert(lastOp("cbl") === "ZORDER",
      "after SET, a plain OPTIMIZE must re-cluster")
    // restart: the property rides the schema metadata through the log
    spark.conf.set("spark.sql.catalog.cbl2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cbl2.warehouse", wh)
    spark.conf.set("spark.sql.catalog.cbl2.warehouse.isolated", "true")
    assert(graftTable("cbl2", "t").properties()
      .get(GraftTable.ClusterByProp) === "x",
      "cluster.by must survive a cold fold")
    GraftMaintenance.sql(spark, "OPTIMIZE cbl2.ns.t").collect()
    assert(lastOp("cbl2") === "ZORDER")
    // UNSET reverts the default
    spark.sql("ALTER TABLE cbl.ns.t UNSET TBLPROPERTIES ('cluster.by')")
    assert(graftTable("cbl", "t").properties()
      .get(GraftTable.ClusterByProp) === null)
    GraftMaintenance.sql(spark, "OPTIMIZE cbl.ns.t").collect()
    assert(lastOp("cbl") === "OPTIMIZE",
      "after UNSET, OPTIMIZE must bin-pack again")
  }

  test("the defaulted OPTIMIZE is INCREMENTAL: a second pass re-lays " +
      "only the files appended since the last full clustering pass — " +
      "already-clustered segments carry untouched; explicit ZORDER BY " +
      "stays the full re-layout") {
    durableCatalog("cbi")
    spark.sql("CREATE TABLE cbi.ns.t (x BIGINT, y BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('cluster.by'='x,y')")
    writeGrid("cbi.ns.t")
    GraftMaintenance.sql(spark, "OPTIMIZE cbi.ns.t TARGET 128 ROWS")
      .collect()
    val t = graftTable("cbi", "t")
    val pass1 = t.dataFiles.filter(_.persisted).map(_.segment.path).toSet
    assert(pass1.size > 1)
    // new data arrives
    (0 until 2).foreach(s =>
      (0 until 64).map(i => ((i % 8).toLong, (i / 8).toLong,
        (10000 + s * 100 + i).toLong))
        .toDF("x", "y", "v").coalesce(1).writeTo("cbi.ns.t").append())
    // t$files surfaces the pending coverage: pass-1 output reads
    // clustered, the two fresh appends read unclustered
    val pending = spark.sql(
      "SELECT clustered, count(*) FROM cbi.ns.`t$files` GROUP BY 1")
      .as[(Boolean, Long)].collect().toMap
    assert(pending.getOrElse(true, 0L) === pass1.size.toLong &&
      pending.getOrElse(false, 0L) === 2L,
      s"coverage must show the fresh appends as unclustered: $pending")
    // the second defaulted pass: pass-1 output carries UNTOUCHED, only
    // the two fresh appends re-lay
    val r = GraftMaintenance.sql(spark,
      "OPTIMIZE cbi.ns.t TARGET 128 ROWS").head()
    val pass2 = t.dataFiles.filter(_.persisted).map(_.segment.path).toSet
    assert(pass1.subsetOf(pass2),
      s"already-clustered segments must carry by reference: " +
        s"missing=${pass1 -- pass2}")
    assert((pass2 -- pass1).nonEmpty, "the fresh appends re-lay")
    assert(r.getInt(0) - r.getInt(1) >= 1,
      s"the pass compacts only the fresh files: $r")
    // rows intact, box queries still serve
    assert(spark.table("cbi.ns.t").count() === (32 * 32 + 128).toLong)
    // t$files surfaces the coverage: pass-1 output reads clustered,
    // the fresh appends read unclustered until the next pass
    val cov = spark.sql(
      "SELECT clustered, count(*) FROM cbi.ns.`t$files` GROUP BY 1")
      .as[(Boolean, Long)].collect().toMap
    assert(cov.getOrElse(true, 0L) >= pass1.size.toLong &&
      cov.getOrElse(false, 0L) === 0L,
      s"after an incremental pass everything reads clustered: $cov")
    // a third pass with NOTHING new is a no-op on the layout
    GraftMaintenance.sql(spark, "OPTIMIZE cbi.ns.t TARGET 128 ROWS")
      .collect()
    assert(t.dataFiles.filter(_.persisted).map(_.segment.path).toSet
      === pass2, "an idle incremental pass must not rewrite anything")
    // the explicit clause is the FULL re-layout: every path replaces
    GraftMaintenance.sql(spark,
      "OPTIMIZE cbi.ns.t ZORDER BY (x, y) TARGET 128 ROWS").collect()
    val full = t.dataFiles.filter(_.persisted).map(_.segment.path).toSet
    assert(full.intersect(pass2).isEmpty,
      "explicit ZORDER BY must re-lay the whole table")
    assert(spark.table("cbi.ns.t").count() === (32 * 32 + 128).toLong)
  }

  test("row-level DML on a CLUSTER BY table: UPDATE/DELETE/MERGE work " +
      "under the clustered write distribution+ordering, in COW and MOR") {
    durableCatalog("cbd")
    Seq(GraftTable.CopyOnWrite -> "c", GraftTable.MergeOnRead -> "m")
      .foreach { case (mode, sfx) =>
      val t = s"cbd.ns.t_$sfx"
      spark.sql(s"CREATE TABLE $t (x BIGINT, y BIGINT, v STRING) " +
        s"TBLPROPERTIES ('cluster.by'='x,y', " +
        s"'write.rowlevel.mode'='$mode')")
      (0 until 40).map(i => (i.toLong, (i * 3 % 40).toLong, s"v$i"))
        .toDF("x", "y", "v").writeTo(t).append()
      spark.sql(s"UPDATE $t SET v = 'u' WHERE x < 5")
      spark.sql(s"DELETE FROM $t WHERE x >= 35")
      spark.sql(
        s"""MERGE INTO $t dst
           |USING (SELECT CAST(10 AS BIGINT) AS x, CAST(99 AS BIGINT)
           |         AS y, 'merged' AS v
           |       UNION ALL SELECT 100, 1, 'new') src
           |ON dst.x = src.x
           |WHEN MATCHED THEN UPDATE SET v = src.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = spark.table(t).as[(Long, Long, String)].collect()
        .sortBy(_._1)
      assert(got.length === 36, s"[$mode] ${got.length}")
      assert(got.count(_._3 == "u") === 5, s"[$mode]")
      assert(got.find(_._1 == 10L).map(_._3) === Some("merged"))
      assert(got.find(_._1 == 100L).map(_._3) === Some("new"))
      assert(!got.exists(r => r._1 >= 35 && r._1 != 100L), s"[$mode]")
      // and the defaulted re-layout still runs after DML
      GraftMaintenance.sql(spark, s"OPTIMIZE $t").collect()
      assert(spark.table(t).count() === 36)
    }
  }

  test("refusals: cluster.by cannot combine with bucketing or identity " +
      "partitioning (CREATE and ALTER), unknown or unsupported-typed " +
      "columns refuse, and an explicit ZORDER BY still overrides") {
    durableCatalog("cbr")
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE cbr.ns.b (x BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, x)) " +
        "TBLPROPERTIES ('cluster.by'='v')"))
    assert(e1.getMessage.contains("bucket"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE cbr.ns.p (x BIGINT, v BIGINT) PARTITIONED BY (x) " +
        "TBLPROPERTIES ('cluster.by'='v')"))
    assert(e2.getMessage.contains("partition"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      "CREATE TABLE cbr.ns.m (x BIGINT) " +
        "TBLPROPERTIES ('cluster.by'='nope')"))
    assert(e3.getMessage.contains("nope"), e3.getMessage)
    val e4 = intercept[Exception](spark.sql(
      "CREATE TABLE cbr.ns.d (x DOUBLE) " +
        "TBLPROPERTIES ('cluster.by'='x')"))
    assert(e4.getMessage.contains("unsupported type"), e4.getMessage)
    // ALTER onto a bucketed table refuses the same way
    spark.sql("CREATE TABLE cbr.ns.bk (x BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, x))")
    val e5 = intercept[Exception](spark.sql(
      "ALTER TABLE cbr.ns.bk SET TBLPROPERTIES ('cluster.by'='v')"))
    assert(e5.getMessage.contains("bucket"), e5.getMessage)
    // an explicit ZORDER BY clause overrides the declared keys
    spark.sql("CREATE TABLE cbr.ns.z (x BIGINT, y BIGINT) " +
      "TBLPROPERTIES ('cluster.by'='x')")
    (0 until 64).map(i => (i.toLong, (63 - i).toLong)).toDF("x", "y")
      .writeTo("cbr.ns.z").append()
    GraftMaintenance.sql(spark, "OPTIMIZE cbr.ns.z ZORDER BY (y)")
      .collect()
    val hist = spark.table("cbr.ns.`z$history`")
      .orderBy($"version".desc)
      .select("parameters").as[String].head()
    assert(hist.contains("zorder_by=y") &&
      !hist.contains("clustering="), hist)
  }

  test("branch-aware incremental anchor (r19): a branch forked from a " +
      "fully-clustered main re-lays only POST-FORK files on its first " +
      "defaulted OPTIMIZE; a fork over PENDING files conservatively " +
      "re-lays everything") {
    durableCatalog("cbb")
    spark.sql("CREATE TABLE cbb.ns.t (x BIGINT, y BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('cluster.by'='x,y')")
    writeGrid("cbb.ns.t")
    GraftMaintenance.sql(spark, "OPTIMIZE cbb.ns.t TARGET 128 ROWS")
      .collect()
    val mainT = graftTable("cbb", "t")
    val forkSegs = mainT.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet
    GraftMaintenance.sql(spark,
      "ALTER TABLE cbb.ns.t CREATE BRANCH work").collect()
    // fresh rows on the BRANCH only
    (0 until 2).foreach(s =>
      (0 until 64).map(i => ((i % 8).toLong, (i / 8).toLong,
        (20000 + s * 100 + i).toLong))
        .toDF("x", "y", "v").coalesce(1)
        .writeTo("cbb.ns.`t@work`").append())
    val bt = spark.sessionState.catalogManager.catalog("cbb")
      .asInstanceOf[GraftCatalog].store
      .branchTables((Seq("ns"), "t", "work"))
    // the branch's first defaulted pass: fork segments carry
    // UNTOUCHED (main's coverage was complete at the fork), only the
    // branch's two appends re-lay
    val r = GraftMaintenance.sql(spark,
      "OPTIMIZE cbb.ns.`t@work` TARGET 128 ROWS").head()
    val after = bt.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet
    assert(forkSegs.subsetOf(after),
      s"fork segments must carry by reference: " +
        s"missing=${forkSegs -- after}")
    // OptimizeResult counts the whole table's files: 8-ish clustered
    // fork segments carry + the 2 fresh appends compact to 1
    assert(r.getInt(0) - r.getInt(1) === 1,
      s"the pass must compact only the branch's fresh files: $r")
    assert((after -- forkSegs).size === 1,
      s"exactly the two fresh appends re-lay, into one file: " +
        s"${after -- forkSegs}")
    assert(spark.table("cbb.ns.`t@work`").count() ===
      (32 * 32 + 128).toLong)
    // main is untouched by the branch's maintenance
    assert(mainT.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet === forkSegs)
    // PARTIAL coverage: fork while main has one PENDING unclustered
    // file → the stamp names it, and the branch's first pass re-lays
    // EXACTLY that file while the covered fork segments carry
    val covered = mainT.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet
    (0 until 64).map(i => ((i % 8).toLong, (i / 8).toLong,
      (30000 + i).toLong))
      .toDF("x", "y", "v").coalesce(1).writeTo("cbb.ns.t").append()
    GraftMaintenance.sql(spark,
      "ALTER TABLE cbb.ns.t CREATE BRANCH pending").collect()
    val pt = spark.sessionState.catalogManager.catalog("cbb")
      .asInstanceOf[GraftCatalog].store
      .branchTables((Seq("ns"), "t", "pending"))
    val before = pt.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet
    GraftMaintenance.sql(spark,
      "OPTIMIZE cbb.ns.`t@pending` TARGET 128 ROWS").collect()
    val afterP = pt.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet
    assert(covered.subsetOf(afterP),
      s"covered fork segments must carry: missing=${covered -- afterP}")
    assert((before -- afterP) === (before -- covered),
      s"exactly the pending file re-lays: ${before -- afterP}")
    assert(spark.table("cbb.ns.`t@pending`").count() ===
      (32 * 32 + 64).toLong)
  }
}
