package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** SQL views over a graft catalog (r18 — DSv2 `ViewCatalog`): create /
  * alter / drop / show, warehouse persistence (restart-served),
  * inlining at read (the substitution rule), and — the scale property —
  * pruning and zone/bloom skipping flowing THROUGH a view into the
  * underlying scan exactly as for a hand-written query. */
class GraftViewSpec extends SparkSpec {
  import spark.implicits._

  private def durableCatalog(name: String): String = {
    val wh = tmpDir(s"graft-$name")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def reopen(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
  }

  private def graftTable(cat: String, t: String): GraftTable =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), t))

  test("CREATE VIEW persists in the warehouse, reads inline the " +
      "definition, aliases rename columns, SHOW VIEWS lists it, and an " +
      "isolated restart serves it") {
    val wh = durableCatalog("vw")
    spark.sql("CREATE TABLE vw.ns.t (id BIGINT, v STRING, w BIGINT)")
    spark.sql("INSERT INTO vw.ns.t VALUES (1,'a',10), (2,'b',20), " +
      "(3,'c',30)")
    GraftMaintenance.sql(spark,
      "CREATE VIEW vw.ns.big (big_id, label) AS " +
        "SELECT id, v FROM vw.ns.t WHERE w >= 20").collect()
    val got = spark.sql("SELECT big_id, label FROM vw.ns.big " +
      "ORDER BY big_id").as[(Long, String)].collect().toSeq
    assert(got === Seq((2L, "b"), (3L, "c")))
    // the view tracks the base table — views are definitions, not data
    spark.sql("INSERT INTO vw.ns.t VALUES (4,'d',40)")
    assert(spark.sql("SELECT count(*) FROM vw.ns.big").as[Long]
      .head() === 3L)
    // qualification through the view alias
    assert(spark.sql("SELECT big.big_id FROM vw.ns.big big " +
      "WHERE big.label = 'b'").as[Long].head() === 2L)
    val shown = GraftMaintenance.sql(spark, "SHOW VIEWS IN vw.ns")
      .as[(String, String)].collect().toSeq
    assert(shown === Seq(("ns", "big")), shown.toString)
    // restart: a second store over the warehouse serves the definition
    reopen("vw2", wh)
    assert(spark.sql("SELECT sum(big_id) FROM vw2.ns.big").as[Long]
      .head() === 9L, "views must be restart-served from _views/")
  }

  test("column pruning and zone-map skipping flow THROUGH a view into " +
      "the scan: a filtered view read opens the same files a " +
      "hand-written query would") {
    durableCatalog("vp")
    spark.sql("CREATE TABLE vp.ns.t (k BIGINT, v STRING, pad STRING)")
    // 4 disjoint-range files: zone maps skip 3 of 4 for a point range
    (0 until 4).foreach { i =>
      (0 until 100).map(j => (i * 100L + j, s"v$i-$j", "x" * 10))
        .toDF("k", "v", "pad").coalesce(1).writeTo("vp.ns.t").append()
    }
    GraftMaintenance.sql(spark,
      "CREATE VIEW vp.ns.kv AS SELECT k, v FROM vp.ns.t").collect()
    val t = graftTable("vp", "t")
    val direct = spark.table("vp.ns.t").select("k", "v")
      .filter(col("k") === 250L)
    assert(direct.count() === 1L)
    val directCensus = t.lastScanCensus.get
    val viaView = spark.sql("SELECT k, v FROM vp.ns.kv WHERE k = 250")
    assert(viaView.count() === 1L)
    val viewCensus = t.lastScanCensus.get
    assert(directCensus.filesRead < directCensus.filesTotal,
      s"zone maps must skip disjoint ranges: $directCensus")
    assert(viewCensus === directCensus,
      s"the view read must skip exactly like the direct read: " +
        s"view=$viewCensus direct=$directCensus")
    // and COLUMN PRUNING reaches the scan: the view body never touches
    // `pad`, so the inlined read's scan schema must not either
    val plan = viaView.queryExecution.executedPlan.toString
    assert(!plan.contains("pad"),
      s"the view read must prune to the body's columns:\n$plan")
  }

  test("views and tables share one name universe: duplicate refusals " +
      "both ways, DROP releases the name, ALTER VIEW redefines, " +
      "nested views inline recursively, self-reference refuses") {
    durableCatalog("vx")
    spark.sql("CREATE TABLE vx.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO vx.ns.t VALUES (1,'a'), (2,'b')")
    GraftMaintenance.sql(spark,
      "CREATE VIEW vx.ns.ones AS SELECT id FROM vx.ns.t WHERE id = 1")
      .collect()
    // duplicate view name refuses; OR REPLACE succeeds
    val e1 = intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE VIEW vx.ns.ones AS SELECT id FROM vx.ns.t").collect())
    assert(e1.getMessage.toLowerCase.contains("exists"), e1.getMessage)
    GraftMaintenance.sql(spark,
      "CREATE OR REPLACE VIEW vx.ns.ones AS " +
        "SELECT id FROM vx.ns.t WHERE id = 2").collect()
    assert(spark.sql("SELECT id FROM vx.ns.ones").as[Long]
      .head() === 2L, "OR REPLACE must swap the definition")
    // a view must not shadow a table, nor a table a view
    val e2 = intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE VIEW vx.ns.t AS SELECT 1 AS one").collect())
    assert(e2.getMessage.toLowerCase.contains("exists"), e2.getMessage)
    val e3 = intercept[Exception](
      spark.sql("CREATE TABLE vx.ns.ones (x INT)"))
    assert(e3.getMessage.toLowerCase.contains("exists"), e3.getMessage)
    // the staged CTAS path refuses the collision too
    val e3b = intercept[Exception](
      spark.sql("CREATE OR REPLACE TABLE vx.ns.ones AS SELECT 1 AS x"))
    assert(e3b.getMessage.toLowerCase.contains("exists"), e3b.getMessage)
    // ALTER VIEW AS redefines in place; of a MISSING view refuses
    GraftMaintenance.sql(spark,
      "ALTER VIEW vx.ns.ones AS SELECT v FROM vx.ns.t").collect()
    assert(spark.sql("SELECT * FROM vx.ns.ones").as[String].collect()
      .toSet === Set("a", "b"))
    intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER VIEW vx.ns.nope AS SELECT 1 AS one").collect())
    // nested views: a view over a view inlines level by level
    GraftMaintenance.sql(spark,
      "CREATE VIEW vx.ns.nested AS " +
        "SELECT upper(v) AS u FROM vx.ns.ones").collect()
    assert(spark.sql("SELECT u FROM vx.ns.nested ORDER BY u")
      .as[String].collect().toSeq === Seq("A", "B"))
    // a self-referencing definition refuses at CREATE (it would
    // inline forever at read)
    val e4 = intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE OR REPLACE VIEW vx.ns.ones AS " +
        "SELECT * FROM vx.ns.ones").collect())
    assert(e4.getMessage.contains("recursive"), e4.getMessage)
    // ...and so does an INDIRECT cycle (ones → nested → ones): the
    // transitive walk catches what the direct check cannot
    val e5 = intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE OR REPLACE VIEW vx.ns.ones AS " +
        "SELECT u AS v FROM vx.ns.nested").collect())
    assert(e5.getMessage.contains("recursive"), e5.getMessage)
    // DROP releases the name for a table; a second DROP refuses,
    // IF EXISTS tolerates
    GraftMaintenance.sql(spark, "DROP VIEW vx.ns.nested").collect()
    intercept[Exception](spark.sql("SELECT * FROM vx.ns.nested").collect())
    intercept[Exception](GraftMaintenance.sql(spark,
      "DROP VIEW vx.ns.nested").collect())
    assert(GraftMaintenance.sql(spark,
      "DROP VIEW IF EXISTS vx.ns.nested").head().getInt(0) === 0)
    // renameView (catalog surface): the definition moves, the old name
    // releases, a taken target refuses
    val cat = spark.sessionState.catalogManager.catalog("vx")
      .asInstanceOf[GraftCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    cat.renameView(Identifier.of(Array("ns"), "ones"),
      Identifier.of(Array("ns"), "renamed"))
    assert(spark.sql("SELECT * FROM vx.ns.renamed").as[String].collect()
      .toSet === Set("a", "b"))
    intercept[Exception](spark.sql("SELECT * FROM vx.ns.ones").collect())
    intercept[Exception](cat.renameView(
      Identifier.of(Array("ns"), "renamed"),
      Identifier.of(Array("ns"), "t"))) // a table owns that name
    // the SQL verb (r19): bare or same-qualified target renames; a
    // cross-namespace target refuses with the create-and-drop remedy
    GraftMaintenance.sql(spark,
      "ALTER VIEW vx.ns.renamed RENAME TO renamed2").collect()
    assert(spark.sql("SELECT * FROM vx.ns.renamed2").as[String]
      .collect().toSet === Set("a", "b"))
    intercept[Exception](
      spark.sql("SELECT * FROM vx.ns.renamed").collect())
    GraftMaintenance.sql(spark,
      "ALTER VIEW vx.ns.renamed2 RENAME TO vx.ns.renamed3").collect()
    assert(spark.sql("SELECT * FROM vx.ns.renamed3").as[String]
      .collect().toSet === Set("a", "b"))
    val eX = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER VIEW vx.ns.renamed3 RENAME TO vx.other.elsewhere").collect())
    assert(eX.getMessage.contains("stays in its catalog"), eX.getMessage)
    GraftMaintenance.sql(spark, "DROP VIEW vx.ns.renamed3").collect()
    spark.sql("CREATE TABLE vx.ns.ones (x INT)")
    spark.sql("DROP TABLE vx.ns.ones")
  }

  test("a CTE named like a view shadows it inside that query; views " +
      "read through spark.sql with the extension-injected rule") {
    durableCatalog("vc")
    spark.sql("CREATE TABLE vc.ns.t (id BIGINT)")
    spark.sql("INSERT INTO vc.ns.t VALUES (1), (2)")
    GraftMaintenance.sql(spark,
      "CREATE VIEW vc.ns.pick AS SELECT id FROM vc.ns.t WHERE id = 1")
      .collect()
    assert(spark.sql("SELECT id FROM vc.ns.pick").as[Long]
      .collect().toSeq === Seq(1L))
    // an in-scope CTE wins the bare name; the qualified name still
    // reaches the view
    val got = spark.sql(
      """WITH pick AS (SELECT 99 AS id)
        |SELECT p.id AS cte_id, v.id AS view_id
        |FROM pick p CROSS JOIN vc.ns.pick v""".stripMargin)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((99L, 1L)), got.toString)
  }

  test("view properties over SQL: SET/UNSET TBLPROPERTIES persist and " +
      "survive restart; SHOW CREATE VIEW emits the statement this " +
      "parser accepts back, aliases and properties included") {
    val wh = durableCatalog("vz")
    spark.sql("CREATE TABLE vz.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO vz.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "CREATE VIEW vz.ns.pv (vid, label) AS " +
        "SELECT id, v FROM vz.ns.t").collect()
    assert(GraftMaintenance.sql(spark,
      "ALTER VIEW vz.ns.pv SET TBLPROPERTIES " +
        "('comment'='release view', 'owner'='etl')").head().getInt(0)
      === 2)
    val cat = spark.sessionState.catalogManager.catalog("vz")
      .asInstanceOf[GraftCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    def props(c: GraftCatalog): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      c.loadView(Identifier.of(Array("ns"), "pv"))
        .properties().asScala.toMap
    }
    assert(props(cat) === Map("comment" -> "release view",
      "owner" -> "etl"))
    // UNSET drops one key, keeps the other
    GraftMaintenance.sql(spark,
      "ALTER VIEW vz.ns.pv UNSET TBLPROPERTIES ('owner')").collect()
    assert(props(cat) === Map("comment" -> "release view"))
    // restart-served: a second store reads the updated JSON
    reopen("vz2", wh)
    val cat2 = spark.sessionState.catalogManager.catalog("vz2")
      .asInstanceOf[GraftCatalog]
    assert(props(cat2) === Map("comment" -> "release view"))
    // SHOW CREATE VIEW: the emitted statement round-trips through this
    // very parser (drop, re-create from the emitted text, same rows)
    val stmt = GraftMaintenance.sql(spark,
      "SHOW CREATE VIEW vz.ns.pv").as[String].head()
    assert(stmt.contains("(vid, label)") &&
      stmt.contains("'comment'='release view'") &&
      stmt.contains("AS SELECT id, v FROM vz.ns.t"), stmt)
    GraftMaintenance.sql(spark, "DROP VIEW vz.ns.pv").collect()
    GraftMaintenance.sql(spark, stmt).collect()
    assert(spark.sql("SELECT vid, label FROM vz.ns.pv")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("views resolve inside expression subqueries, joins and UNION " +
      "branches — everywhere the analyzer resolves relations") {
    durableCatalog("vs")
    spark.sql("CREATE TABLE vs.ns.t (id BIGINT, grp STRING)")
    spark.sql("INSERT INTO vs.ns.t VALUES (1,'a'), (2,'b'), (3,'a')")
    GraftMaintenance.sql(spark,
      "CREATE VIEW vs.ns.keep AS SELECT id FROM vs.ns.t WHERE grp = 'a'")
      .collect()
    // IN-subquery over the view
    assert(spark.sql(
      "SELECT id FROM vs.ns.t WHERE id IN (SELECT id FROM vs.ns.keep) " +
        "ORDER BY id").as[Long].collect().toSeq === Seq(1L, 3L))
    // scalar subquery
    assert(spark.sql(
      "SELECT (SELECT count(*) FROM vs.ns.keep) AS n").as[Long]
      .head() === 2L)
    // EXISTS
    assert(spark.sql(
      "SELECT count(*) FROM vs.ns.t a WHERE EXISTS " +
        "(SELECT 1 FROM vs.ns.keep k WHERE k.id = a.id)").as[Long]
      .head() === 2L)
    // join + union through the view
    assert(spark.sql(
      "SELECT count(*) FROM vs.ns.t a JOIN vs.ns.keep k ON a.id = k.id")
      .as[Long].head() === 2L)
    assert(spark.sql(
      "SELECT id FROM vs.ns.keep UNION ALL SELECT id FROM vs.ns.keep")
      .count() === 4L)
  }

  test("portability lint (r19): CREATE VIEW warns when the body " +
      "catalog-qualifies a table — catalog names are session config — " +
      "and stays silent for the portable unqualified form") {
    durableCatalog("vlint")
    spark.sql("CREATE TABLE vlint.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO vlint.ns.t VALUES (1,'a')")
    // catalog-qualified body: the lint names the offending reference
    GraftMaintenance.sql(spark,
      "CREATE VIEW vlint.ns.hard AS SELECT id FROM vlint.ns.t").collect()
    assert(GraftViewDdl.lastPortabilityLint ===
      Some(("vlint.ns.hard", Seq("vlint.ns.t"))),
      GraftViewDdl.lastPortabilityLint.toString)
    // the view still works — the lint warns, never refuses
    assert(spark.sql("SELECT id FROM vlint.ns.hard").as[Long]
      .collect().toSeq === Seq(1L))
    // portable form: body names resolve under the session's current
    // catalog+namespace at CREATE and re-anchor at read — no lint
    val prevCat = spark.sessionState.catalogManager.currentCatalog.name
    spark.sql("USE vlint.ns")
    try {
      GraftMaintenance.sql(spark,
        "CREATE VIEW vlint.ns.portable AS SELECT id FROM t").collect()
      assert(GraftViewDdl.lastPortabilityLint === None,
        GraftViewDdl.lastPortabilityLint.toString)
    } finally spark.sql(s"USE $prevCat")
    assert(spark.sql("SELECT id FROM vlint.ns.portable").as[Long]
      .collect().toSeq === Seq(1L))
    // strict mode: the same statement REFUSES instead of warning
    spark.conf.set("spark.graft.views.portability", "strict")
    try {
      val e = intercept[Exception](GraftMaintenance.sql(spark,
        "CREATE VIEW vlint.ns.refused AS SELECT id FROM vlint.ns.t")
        .collect())
      assert(e.getMessage.contains("strict") &&
        e.getMessage.contains("vlint.ns.t"), e.getMessage)
      assert(!spark.sessionState.catalogManager.catalog("vlint")
        .asInstanceOf[GraftCatalog].store.lookupView(Seq("ns"), "refused")
        .isDefined, "the refused view must not half-create")
    } finally spark.conf.unset("spark.graft.views.portability")
  }
}
