package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Partition pruning THROUGH generated columns (Delta's generated-
  * column partition pruning): a table partitioned by `GENERATED ALWAYS
  * AS (f(src))` prunes on filters over `src` — the scan derives the
  * generated value by evaluating the generation expression on the
  * filter literal. Sound because GENERATED ALWAYS is write-enforced:
  * every stored row with src = lit has gen = f(lit) exactly, so a file
  * whose gen-zone excludes f(lit) holds no matching row. */
class GraftGeneratedPruneSpec extends SparkSpec {
  import spark.implicits._

  private def table(cat: String, t: String): GraftTable =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), t))

  test("an equality filter on the generation source prunes the " +
      "generated partition column's files; IN derives per value") {
    val wh = tmpDir("graft-genprune")
    spark.conf.set("spark.sql.catalog.gpr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpr.warehouse", wh)
    spark.sql("CREATE TABLE gpr.ns.t (id BIGINT, bucket BIGINT " +
      "GENERATED ALWAYS AS (id % 4), v STRING) PARTITIONED BY (bucket)")
    (0L until 64L).map(i => (i, s"r$i")).toDF("id", "v")
      .createOrReplaceTempView("gpr_src")
    spark.sql("INSERT INTO gpr.ns.t (id, v) SELECT id, v FROM gpr_src")
    val t = table("gpr", "t")
    assert(spark.table("gpr.ns.t").count() === 64L)
    // every partition's id-zone spans the full range — id's own zones
    // cannot skip anything; only the derivation can
    assert(t.filesSnapshot.length === 4)

    // equality on the SOURCE: derives bucket = 5 % 4 = 1 → 1 file read
    val n = spark.table("gpr.ns.t").filter(col("id") === 5).count()
    assert(n === 1L)
    val c = t.lastScanCensus.get
    assert(c.filesRead === 1,
      s"the source filter must prune through the generated column: $c")
    assert(c.pushed.exists(_.startsWith("derived:")), s"census: $c")

    // IN on the source: buckets {5%4, 6%4} = {1, 2} → 2 files read
    val n2 = spark.table("gpr.ns.t")
      .filter(col("id").isin(5L, 6L)).count()
    assert(n2 === 2L)
    assert(t.lastScanCensus.get.filesRead === 2,
      s"IN must derive per value: ${t.lastScanCensus.get}")

    // correctness under rewrites: UPDATE recomputes the generated
    // column, so the derivation stays sound after row-level churn
    spark.sql("UPDATE gpr.ns.t SET id = id + 4 WHERE id = 9") // 9 -> 13
    val got = spark.table("gpr.ns.t").filter(col("id") === 13)
      .select("id", "bucket").as[(Long, Long)].collect().toSeq.sorted
    assert(got === Seq((13L, 1L), (13L, 1L)),
      s"original 13 + rewritten 9: $got")
    assert(spark.table("gpr.ns.t").filter(col("id") === 9).count() === 0L)

    // range filters derive NOTHING (f need not be monotonic) — any
    // pruning on them is id's own zone maps (bucket 0's max id is 60),
    // never a derived gen-filter
    val n3 = spark.table("gpr.ns.t").filter(col("id") > 60).count()
    assert(n3 === 3L)
    val c3 = t.lastScanCensus.get
    assert(!c3.pushed.exists(_.startsWith("derived:")),
      s"range filters must not derive: $c3")
    assert(c3.filesRead === 3, s"id's own zone max prunes bucket 0: $c3")
  }

  test("the day-bucket shape: partition by `ts div 86400`, point lookups " +
      "on the raw timestamp prune to one day — the Delta use case") {
    spark.conf.set("spark.sql.catalog.gps", classOf[GraftCatalog].getName)
    spark.sql("CREATE TABLE gps.ns.gps_t (ts BIGINT, day BIGINT " +
      "GENERATED ALWAYS AS (ts div 86400), v BIGINT) " +
      "PARTITIONED BY (day)")
    // 4 days x 6 events; every day's ts-zone is day-local, but the
    // lookups below land via the DERIVED day filter, pinned by census
    (0L until 24L).map(i => ((i / 6) * 86400L + i * 977L, i))
      .toDF("ts", "v").createOrReplaceTempView("gps_src")
    spark.sql("INSERT INTO gps.ns.gps_t (ts, v) SELECT ts, v FROM gps_src")
    val t = table("gps", "gps_t")
    assert(t.filesSnapshot.length === 4)
    val probe = 2L * 86400L + 13L * 977L // v = 13, day 2
    val n = spark.table("gps.ns.gps_t").filter(col("ts") === probe)
      .select("v").as[Long].collect().toSeq
    assert(n === Seq(13L))
    val c = t.lastScanCensus.get
    assert(c.filesRead === 1 && c.pushed.exists(_.startsWith("derived:")),
      s"the raw-ts lookup must prune to day 2's file: $c")

    // RANGE derivation through the monotone whitelist (r16): div by a
    // positive literal is order-preserving and overflow-safe, so
    // `ts BETWEEN a AND b` derives `day BETWEEN a div 86400 AND
    // b div 86400` — Delta's timestamp→date partitioning shape. The
    // derived bounds are always INCLUSIVE (f collapses values).
    val lo = 1L * 86400L + 500L // mid day 1
    val hi = 2L * 86400L + 80000L // late day 2
    val got = spark.table("gps.ns.gps_t")
      .filter(col("ts") >= lo && col("ts") <= hi)
      .select("v").as[Long].collect().toSeq.sorted
    assert(got === (6L to 17L), s"BETWEEN rows: $got")
    val cr = t.lastScanCensus.get
    assert(cr.filesRead === 2,
      s"ts BETWEEN must prune to days 1..2's files: $cr")
    assert(cr.pushed.count(_.startsWith("derived:")) === 2,
      s"both derived day-bounds must reach the census: $cr")
    // an UNBOUNDED range derives one inclusive bound and still prunes
    val n4 = spark.table("gps.ns.gps_t")
      .filter(col("ts") > 3L * 86400L + 1L).count()
    val c4 = t.lastScanCensus.get
    assert(n4 === 6L && c4.filesRead === 1 &&
      c4.pushed.exists(_.startsWith("derived:day >= 3")),
      s"one-sided range must derive the inclusive lower day bound: $c4")
  }

  test("range derivation refuses outside the overflow-safe whitelist: " +
      "multiply is monotone over the reals but wraps at Long's edges " +
      "— a wrapped stored value would make a derived range LOSE rows") {
    spark.conf.set("spark.sql.catalog.gpm", classOf[GraftCatalog].getName)
    spark.sql("CREATE TABLE gpm.ns.gpm_t (id BIGINT, g BIGINT " +
      "GENERATED ALWAYS AS (id * 2), v BIGINT) PARTITIONED BY (g)")
    (0L until 8L).map(i => (i, i)).toDF("id", "v")
      .createOrReplaceTempView("gpm_src")
    spark.sql("INSERT INTO gpm.ns.gpm_t (id, v) SELECT id, v FROM gpm_src")
    val t = table("gpm", "gpm_t")
    // equality still derives (exact whatever f's shape)…
    val n = spark.table("gpm.ns.gpm_t").filter(col("id") === 3).count()
    assert(n === 1L)
    assert(t.lastScanCensus.get.pushed.exists(_.startsWith("derived:")),
      s"${t.lastScanCensus.get}")
    // …but a range filter must NOT derive through multiply
    spark.table("gpm.ns.gpm_t").filter(col("id") > 5).count()
    val c = t.lastScanCensus.get
    assert(!c.pushed.exists(_.startsWith("derived:")),
      s"multiply is off the overflow-safe whitelist: $c")
  }

  test("range derivation refuses DECIMAL division: a non-ANSI overflow " +
      "stores NULL where f(lit) is a value — a derived range would " +
      "LOSE the row") {
    spark.conf.set("spark.sql.catalog.gpd", classOf[GraftCatalog].getName)
    spark.sql("CREATE TABLE gpd.ns.gpd_t (d DECIMAL(38, 2), g " +
      "DECIMAL(38, 6) GENERATED ALWAYS AS (d / 0.5), v BIGINT) " +
      "PARTITIONED BY (v)")
    (0L until 6L).map(i => (BigDecimal(i * 100), i))
      .toDF("d", "v").createOrReplaceTempView("gpd_src")
    spark.sql("INSERT INTO gpd.ns.gpd_t (d, v) SELECT d, v FROM gpd_src")
    val t = table("gpd", "gpd_t")
    spark.table("gpd.ns.gpd_t").filter(col("d") >= BigDecimal(300)).count()
    val c = t.lastScanCensus.get
    assert(!c.pushed.exists(_.startsWith("derived:")),
      s"decimal division is off the overflow-safe whitelist: $c")
  }
}
