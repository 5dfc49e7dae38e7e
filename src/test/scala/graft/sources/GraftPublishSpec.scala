package graft.sources

import graft.SparkSpec

/** WRITE-AUDIT-PUBLISH (`CREATE OR REPLACE TABLE … CLONE`, Delta's
  * replace-clone): stage = shallow clone of prod, audited writes land on
  * the stage in isolation, and the publish adopts the stage's whole
  * state back onto prod as ONE commit. Because the clone shares prod's
  * field ids, the change feed reads straight through the publish — its
  * CDC record is the reference-diff row delta (shared files cancel),
  * unlike `REPLACE TABLE`, whose disjoint-id swap refuses CDF across it. */
class GraftPublishSpec extends SparkSpec {
  import spark.implicits._

  private def durableCatalog(name: String): String = {
    val wh = tmpDir(s"graft-$name")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("publish adopts the audited staging state as one commit; the " +
      "change feed reads through it as the reference-diff row delta") {
    durableCatalog("wap")
    spark.sql("CREATE TABLE wap.ns.prod (id BIGINT, v STRING)")
    spark.sql("INSERT INTO wap.ns.prod VALUES (1,'a'), (2,'b'), (3,'c')")

    // WRITE + AUDIT on an isolated shallow clone
    GraftMaintenance.sql(spark,
      "CREATE TABLE wap.ns.stage SHALLOW CLONE wap.ns.prod").collect()
    spark.sql("INSERT INTO wap.ns.stage VALUES (4,'d'), (5,'e')")
    spark.sql("DELETE FROM wap.ns.stage WHERE id = 1")
    assert(spark.table("wap.ns.stage").count() === 4) // the "audit"
    // prod is untouched while the stage is audited
    assert(spark.table("wap.ns.prod").orderBy("id").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // PUBLISH: one commit, tagged, with its source recorded
    val before = spark.table("wap.ns.`prod$history`")
      .selectExpr("max(version)").as[Int].head()
    GraftMaintenance.sql(spark,
      "CREATE OR REPLACE TABLE wap.ns.prod SHALLOW CLONE wap.ns.stage")
      .collect()
    assert(spark.table("wap.ns.prod").orderBy("id").as[(Long, String)]
      .collect().toSeq ===
      Seq((2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    val hist = spark.table("wap.ns.`prod$history`")
      .selectExpr("version", "operation", "parameters")
      .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
    assert(hist.last._1 === before + 1, "exactly one publish commit")
    assert(hist.last._2 === "PUBLISH")
    assert(hist.last._3.contains("source=") &&
      hist.last._3.contains("stage"), hist.last._3)

    // CDF READS THROUGH: the publish version's row delta is exactly the
    // audited changes — carried-through rows cancel in the reference
    // diff (the stage's COW delete rewrote a shared file; its surviving
    // rows cancel against the removed original)
    val delta = spark.table("wap.ns.`prod$changes`")
      .filter($"_commit_version" === (before + 1))
      .selectExpr("_change_type", "id").as[(String, Long)]
      .collect().toSeq.sorted
    assert(delta === Seq(("delete", 1L), ("insert", 4L), ("insert", 5L)),
      s"publish delta: $delta")

    // plain CREATE … CLONE onto the existing table still refuses
    intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE TABLE wap.ns.prod SHALLOW CLONE wap.ns.stage").collect())
  }

  test("publish refuses drifted schemas and self-publish; the remedy " +
      "names REPLACE TABLE") {
    durableCatalog("wapr")
    spark.sql("CREATE TABLE wapr.ns.prod (id BIGINT, v STRING)")
    spark.sql("INSERT INTO wapr.ns.prod VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "CREATE TABLE wapr.ns.stage SHALLOW CLONE wapr.ns.prod").collect()
    // the stage evolves; prod did not — publishing would mis-bind ids
    spark.sql("ALTER TABLE wapr.ns.stage ADD COLUMN extra INT")
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE OR REPLACE TABLE wapr.ns.prod SHALLOW CLONE wapr.ns.stage")
      .collect())
    assert(e.getMessage.contains("REPLACE TABLE"), e.getMessage)
    assert(spark.table("wapr.ns.prod").count() === 1, "prod untouched")
    val self = intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE OR REPLACE TABLE wapr.ns.prod SHALLOW CLONE wapr.ns.prod")
      .collect())
    assert(self.getMessage.contains("RESTORE"), self.getMessage)
  }

  test("publish survives a restart fold; a DEEP publish re-points the " +
      "adopted foreign segments so the stage can be dropped") {
    val wh = durableCatalog("wapd")
    spark.sql("CREATE TABLE wapd.ns.prod (id BIGINT, v STRING)")
    spark.sql("INSERT INTO wapd.ns.prod VALUES (1,'a'), (2,'b')")
    GraftMaintenance.sql(spark,
      "CREATE TABLE wapd.ns.stage SHALLOW CLONE wapd.ns.prod").collect()
    spark.sql("INSERT INTO wapd.ns.stage VALUES (3,'c')")
    // DEEP publish: adopt + take ownership of foreign segments
    GraftMaintenance.sql(spark,
      "CREATE OR REPLACE TABLE wapd.ns.prod DEEP CLONE wapd.ns.stage")
      .collect()
    // the stage's own data dir can now be reclaimed wholesale
    spark.sql("DROP TABLE wapd.ns.stage")
    assert(spark.table("wapd.ns.prod").orderBy("id").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a fresh fold (new process) serves the published state
    spark.conf.set("spark.sql.catalog.wapd2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wapd2.warehouse", wh)
    spark.conf.set("spark.sql.catalog.wapd2.warehouse.isolated", "true")
    assert(spark.table("wapd2.ns.prod").orderBy("id").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val op = spark.table("wapd2.ns.`prod$history`")
      .orderBy($"version".desc).selectExpr("operation").as[String]
      .collect()
    assert(op.contains("PUBLISH"), op.mkString(","))
  }
}
