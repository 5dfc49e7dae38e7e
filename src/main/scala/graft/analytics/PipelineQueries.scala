package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DimBuild
import graft.pipeline.{BronzeToSilver, SilverToGold}
import graft.sources.Tables

/** The COMPOSED E1 lifecycle under the cross-engine oracle: one query that
  * drives a bronze-shaped feed through the real operator chain —
  * `Cleaning → Dedup → BronzeToSilver entity extracts →
  * DimBuild.surrogateKey(HashKeys) → SilverToGold.fact` — and proves the
  * resulting gold fact against a DuckDB restatement of the ENTIRE
  * derivation (reference: Notebooks/Automated_Silver_to_Gold.Notebook/
  * notebook-content.py:202-227 composed with Batch_Bronze_to_Silver
  * notebook-content.py:55-104). Every piece is individually oracle-proven
  * elsewhere (p4/d1/f4/f7/f8/f9/w1/j10); this row proves the COMPOSITION:
  * a mis-wiring between any two stages (dedup before cleaning, dims from
  * the cleaned instead of raw feed, a surrogate-key drift) breaks the
  * hash.
  *
  * Bronze synthesis: the harness has no AQS feed, so a bronze-shaped
  * projection is derived from `lineitem` with every column a
  * DETERMINISTIC function of either the lineitem row (for the
  * cleaning-gate columns, which act before dedup) or the measurement's
  * natural key + tiebreak (for every column the dedup KEEPS — so
  * tiebreak ties are harmless: tied rows are identical in all surviving
  * columns, and both engines' arbitrary tie winner yields the same
  * output). The projection deliberately manufactures the reference
  * feed's dirt: untrimmed/off-list pollutant standards, invalid rows,
  * NULL metrics, and exact natural-key duplicates.
  *
  * Scale shape: the fact is assembled in ONE pass over the measurement
  * table — the dedup's key shuffle is the only wide exchange; all four
  * dims broadcast (SilverToGold.fact), the surrogate keys are the
  * layout-independent xxhash64 mode (no global window anywhere), and the
  * key-joined dim re-resolution at the end is four more broadcast joins.
  * The oracle verifies the surrogate-key route by CONSEQUENCE: fact rows
  * reach their dim attributes only through the hash keys, so a key
  * collision or drift changes group counts and breaks the hash compare
  * (w16 proves key stability directly; this proves it composed).
  */
object PipelineQueries {

  /** Pollutant standard per parameter code (all on the silver keep-list,
    * model/Schemas.keptStandards — one definition site for Spark + SQL). */
  private val paramStd: Seq[(String, String, String, String)] = Seq(
    // (code, name, unit, standard)
    ("88101", "PM2.5 - Local Conditions", "Micrograms/cubic meter (LC)", "PM25 24-hour 2024"),
    ("44201", "Ozone", "Parts per million", "Ozone 8-hour 2015"),
    ("42602", "Nitrogen dioxide (NO2)", "Parts per billion", "NO2 1-hour 2010"),
    ("81102", "PM10 Total 0-10um STP", "Micrograms/cubic meter (25 C)", "PM10 24-hour 2006"),
    ("42401", "Sulfur dioxide", "Parts per billion", "SO2 1-hour 2010"))

  /** Bronze-shaped projection of lineitem (see object doc). Spark side of
    * the one-definition-site pair with [[bronzeSql]]. */
  def bronzeFromLineitem(s: SparkSession, dir: String): DataFrame = {
    // spread BEFORE the projection: the harness feed is one parquet file
    // (= one input partition), and the bronze column synthesis is the
    // expensive per-row work here — unspread, it runs single-threaded and
    // serializes every downstream stage (measured 5s for the cleaning
    // filters alone at sf0.1). The exchange moves the RAW 11-column scan
    // rows, not the 30-column projection (the m1 decode-spread pattern:
    // parallelism must come from partitioning, not file count). The
    // partition count is EXPLICIT: byte-based AQE coalescing would fold a
    // small-bytes/high-CPU stage back to one partition — row width is a
    // bad proxy for the per-row synthesis cost downstream.
    val li = Tables.lineitem(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
    val base = li.select(
      lpad((lit(1) + col("l_suppkey") % 50).cast("string"), 2, "0").as("state_code"),
      lpad((lit(1) + col("l_partkey") % 9).cast("string"), 3, "0").as("county_code"),
      lpad((lit(1) + col("l_partkey") % 4).cast("string"), 4, "0").as("site_number"),
      element_at(array(paramStd.map(p => lit(p._1)): _*),
        (col("l_linenumber") % 5).cast("int") + 1).as("parameter_code"),
      (lit(1) + col("l_linenumber") % 2).cast("int").as("poc"),
      col("l_shipdate").cast("date").as("date_local"),
      date_add(col("l_shipdate").cast("date"),
        (col("l_orderkey") % 7).cast("int")).as("date_of_last_change"),
      (lit(1) + col("l_orderkey") % 24).cast("int").as("observation_count"),
      col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
      col("l_linenumber"))
    // k: a mixing value over the natural key + tiebreak — every column the
    // dedup keeps derives from k, so any tiebreak-tied rows are identical.
    // Computed from the INTEGER sources, not the formatted key columns:
    // CAST(lpad(n) AS INT) ≡ n on these domains (1..50 / 1..9 / 1..4, and
    // CAST('88101') % 1000 ≡ 88101 % 1000), so the value is identical to
    // the oracle's string-cast restatement — but Catalyst inlines this
    // subtree into every k-derived column and filter (no cross-column
    // CSE), so the tree must be cheap integer ops, not per-row string
    // round-trips (measured 5s → sub-second on the cleaning gate alone).
    val pcInt = element_at(array(paramStd.map(p => lit(p._1.toInt)): _*),
      (col("l_linenumber") % 5).cast("int") + 1)
    val withK = base.withColumn("k",
      ((lit(1) + col("l_suppkey") % 50) * 31 +
        (lit(1) + col("l_partkey") % 9) * 17 +
        (lit(1) + col("l_partkey") % 4) * 13).cast("int") +
        pcInt % 1000 +
        col("poc") * 7 + dayofmonth(col("date_local")) * 3 +
        month(col("date_local")) * 5 + year(col("date_local")) +
        col("observation_count") * 11 + dayofmonth(col("date_of_last_change")))
    val std = element_at(array(paramStd.map(p => lit(p._4)): _*),
      when(col("parameter_code") === "88101", 1)
        .when(col("parameter_code") === "44201", 2)
        .when(col("parameter_code") === "42602", 3)
        .when(col("parameter_code") === "81102", 4).otherwise(5))
    withK.select(
      col("state_code"), col("county_code"), col("site_number"),
      col("parameter_code"), col("poc"), col("date_local"),
      col("date_of_last_change"), col("observation_count"),
      // cleaning-gate columns: functions of the raw lineitem row (they
      // act BEFORE dedup, so key-dependence is not required)
      when(col("l_orderkey") % 25 === 0, concat(lit(" "), std, lit(" ")))
        .when(col("l_orderkey") % 25 === 1, lit("Obsolete 1987 std"))
        .otherwise(std).as("pollutant_standard"),
      when(col("l_orderkey") % 20 === 0, "N").otherwise("Y")
        .as("validity_indicator"),
      // kept columns: functions of k (key + tiebreak)
      when(col("k") % 30 === 0, lit(null).cast("int"))
        .otherwise((col("k") * 37 % 350).cast("int")).as("aqi"),
      when(col("k") % 23 === 0, lit(null).cast("double"))
        .otherwise((col("k") * 53 % 8000).cast("double") / 100)
        .as("arithmetic_mean"),
      ((col("k") * 29 % 10000).cast("double") / 100).as("first_max_value"),
      (col("k") % 24).cast("int").as("first_max_hour"),
      (lit(50) + col("k") % 51).cast("double").as("observation_percent"),
      element_at(array(lit("118"), lit("087"), lit("074")),
        (col("k") % 3).cast("int") + 1).as("method_code"),
      lit("None").as("event_type"),
      lit("24 HOUR").as("sample_duration"),
      // dim attributes: functions of their own dim's natural key, so the
      // entity-extract dedups are winner-independent
      element_at(array(paramStd.map(p => lit(p._2)): _*),
        when(col("parameter_code") === "88101", 1)
          .when(col("parameter_code") === "44201", 2)
          .when(col("parameter_code") === "42602", 3)
          .when(col("parameter_code") === "81102", 4).otherwise(5))
        .as("parameter"),
      element_at(array(paramStd.map(p => lit(p._3)): _*),
        when(col("parameter_code") === "88101", 1)
          .when(col("parameter_code") === "44201", 2)
          .when(col("parameter_code") === "42602", 3)
          .when(col("parameter_code") === "81102", 4).otherwise(5))
        .as("units_of_measure"),
      element_at(array(lit("R & P Model 2025"), lit("INSTRUMENTAL - UV"),
        lit("INSTRUMENTAL - CHEM")), (col("k") % 3).cast("int") + 1)
        .as("method"),
      concat(lit("Site "), col("site_number")).as("local_site_name"),
      concat(col("county_code"), lit(" Main St")).as("site_address"),
      concat(lit("City"), col("county_code")).as("city"),
      concat(lit("County "), col("county_code")).as("county"),
      concat(lit("State "), col("state_code")).as("state"),
      (col("state_code").cast("int").cast("double") + 0.5).as("latitude"),
      (col("county_code").cast("int").cast("double") - 100.25).as("longitude"),
      when((col("county_code").cast("int") + col("site_number").cast("int")) % 5 === 0,
        lit(null).cast("string"))
        .otherwise(concat(lit("1"), col("state_code"), lit("20"))).as("cbsa_code"),
      when((col("county_code").cast("int") + col("site_number").cast("int")) % 5 === 0,
        lit(null).cast("string"))
        .otherwise(concat(lit("Metro "), col("state_code"))).as("cbsa"),
      lit("WGS84").as("datum"))
  }

  /** Oracle twin of [[bronzeFromLineitem]] ∘ cleaning ∘ dedup, as DuckDB
    * CTEs (only the columns the gold aggregate consumes). */
  private def measSql: String = {
    val stdCase = paramStd.map(p => s"WHEN '${p._1}' THEN '${p._4}'")
      .mkString("CASE parameter_code ", " ", " END")
    val nameCase = paramStd.map(p => s"WHEN '${p._1}' THEN '${p._2}'")
      .mkString("CASE parameter_code ", " ", " END")
    s"""bronze AS (
       |  SELECT
       |    lpad(CAST(1 + l_suppkey % 50 AS VARCHAR), 2, '0') AS state_code,
       |    lpad(CAST(1 + l_partkey % 9 AS VARCHAR), 3, '0') AS county_code,
       |    lpad(CAST(1 + l_partkey % 4 AS VARCHAR), 4, '0') AS site_number,
       |    CASE CAST(l_linenumber % 5 AS INT)
       |      WHEN 0 THEN '88101' WHEN 1 THEN '44201' WHEN 2 THEN '42602'
       |      WHEN 3 THEN '81102' ELSE '42401' END AS parameter_code,
       |    CAST(1 + l_linenumber % 2 AS INT) AS poc,
       |    CAST(l_shipdate AS DATE) AS date_local,
       |    CAST(l_shipdate AS DATE) + CAST(l_orderkey % 7 AS INT)
       |      AS date_of_last_change,
       |    CAST(1 + l_orderkey % 24 AS INT) AS observation_count,
       |    l_orderkey
       |  FROM lineitem),
       |b2 AS (
       |  SELECT *,
       |    CAST(state_code AS INT)*31 + CAST(county_code AS INT)*17 +
       |    CAST(site_number AS INT)*13 + CAST(parameter_code AS INT) % 1000 +
       |    poc*7 + day(date_local)*3 + month(date_local)*5 + year(date_local) +
       |    observation_count*11 + day(date_of_last_change) AS k,
       |    $stdCase AS std
       |  FROM bronze),
       |b3 AS (
       |  SELECT state_code, county_code, site_number, parameter_code, poc,
       |    date_local, date_of_last_change, observation_count,
       |    CASE WHEN l_orderkey % 25 = 0 THEN ' ' || std || ' '
       |         WHEN l_orderkey % 25 = 1 THEN 'Obsolete 1987 std'
       |         ELSE std END AS pollutant_standard,
       |    CASE WHEN l_orderkey % 20 = 0 THEN 'N' ELSE 'Y' END
       |      AS validity_indicator,
       |    CASE WHEN k % 30 = 0 THEN NULL
       |         ELSE CAST((k*37) % 350 AS INT) END AS aqi,
       |    CASE WHEN k % 23 = 0 THEN NULL
       |         ELSE CAST((k*53) % 8000 AS DOUBLE) / 100 END AS arithmetic_mean,
       |    CASE CAST(k % 3 AS INT) WHEN 0 THEN '118' WHEN 1 THEN '087'
       |         ELSE '074' END AS method_code,
       |    $nameCase AS parameter_name
       |  FROM b2),
       |cleaned AS (
       |  SELECT * FROM b3
       |  WHERE trim(pollutant_standard) IN
       |      (${graft.model.Schemas.keptStandards.map(s => s"'$s'").mkString(", ")})
       |    AND validity_indicator = 'Y'
       |    AND arithmetic_mean IS NOT NULL AND aqi IS NOT NULL),
       |meas AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY state_code, county_code, site_number,
       |                   parameter_code, poc, date_local
       |      ORDER BY date_of_last_change, observation_count) AS rn
       |    FROM cleaned) WHERE rn = 1)""".stripMargin
  }

  /** The gold-aggregate oracle, shared by g1 (in-memory composition) and
    * g2 (the same derivation carried by catalog tables) — the two routes
    * must land the IDENTICAL result. */
  private def goldOracle: String = {
      def inList(cs: Seq[String]) = cs.map(c => s"'$c'").mkString(", ")
      s"""WITH $measSql
         |SELECT CAST(year(date_local) AS INT) AS year,
         |  CASE WHEN state_code IN (${inList(DimBuild.northeast)}) THEN 'Northeast'
         |       WHEN state_code IN (${inList(DimBuild.midwest)}) THEN 'Midwest'
         |       WHEN state_code IN (${inList(DimBuild.south)}) THEN 'South'
         |       WHEN state_code IN (${inList(DimBuild.west)}) THEN 'West'
         |       ELSE 'Unknown' END AS region,
         |  parameter_name,
         |  CASE WHEN parameter_code IN
         |      (${inList(graft.model.Schemas.particulateCodes)})
         |    THEN 'Particulate Matter' ELSE 'Gas' END AS category,
         |  CASE WHEN aqi <= 50 THEN 'Good'
         |       WHEN aqi <= 100 THEN 'Moderate'
         |       WHEN aqi <= 150 THEN 'Unhealthy for Sensitive Groups'
         |       WHEN aqi <= 200 THEN 'Unhealthy'
         |       WHEN aqi <= 300 THEN 'Very Unhealthy'
         |       ELSE 'Hazardous' END AS aqi_category,
         |  count(*) AS n_meas,
         |  count(DISTINCT state_code || '|' || county_code || '|' || site_number)
         |    AS n_sites,
         |  count(DISTINCT method_code) AS n_methods,
         |  CAST(sum(CASE WHEN aqi > 100 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exceed,
         |  ${Exact.sqlSum("arithmetic_mean")} AS mean_sum,
         |  max(aqi) AS max_aqi,
         |  CAST(sum(observation_count) AS BIGINT) AS n_obs,
         |  max(CAST(state_code AS INT) * 100000 + 7) AS max_pop
         |FROM meas
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("g1_gold_fact",
      "E1,P4-P6,F1-F10,D1,W1,W2,J1-J7,J10,A1-A8",
      goldOracle) { (s, dir) =>
      // bronze feeds eight consumers (measurement, five entity extracts,
      // population, and the dirt columns) — persist it so the synthetic
      // column projection evaluates once; every downstream stage reads
      // materialized columns instead of re-inlining the expression trees
      val bronze = Caches.persistTracked(bronzeFromLineitem(s, dir))
      val silver0 = BronzeToSilver(bronze)
      // the deduped measurement feeds BOTH dim_date's distinct dates and
      // the fact build — persist it so the dominant exchange (the 6-col
      // key dedup's shuffle + sort over the whole feed) executes once,
      // not per consumer (the m2 decode-once pattern; measured ~2x)
      val silver = silver0.copy(
        measurement = Caches.persistTracked(silver0.measurement))
      val population = bronze.select(col("state_code")).distinct()
        .withColumn("population",
          (col("state_code").cast("int") * 100000 + 7).cast("int"))
      // each dim is consumed twice (fact assembly + the key re-resolution
      // below) — persist them as the stand-in for the published dim
      // TABLES the reference writes before the fact build: each dim's
      // entity-extract dedup (a feed-sized exchange) executes once, and
      // what both consumers read is the dim-sized result
      val dd = Caches.persistTracked(
        SilverToGold.dimDate(silver.measurement, DimBuild.HashKeys))
      val dp = Caches.persistTracked(
        SilverToGold.dimParameter(silver.parameter, DimBuild.HashKeys))
      val dm = Caches.persistTracked(
        SilverToGold.dimMethod(silver.method, DimBuild.HashKeys))
      val dl = Caches.persistTracked(
        SilverToGold.dimLocation(silver.site, silver.adminArea, silver.cbsa,
          population, DimBuild.HashKeys))
      // DAG-shaped materialization (r20 — the g2 publish pattern, opt
      // guide §2.6, applied to the in-memory route): left lazy, the
      // final gold job materializes bronze → measurement → dims
      // SERIALLY (OPTIMIZATION_r20.md stage times: dims alone ~3.5 s,
      // dimLocation's
      // four bronze passes 2.4-3.0 s of it). All three bronze-derived
      // dims are independent of the measurement dedup, so after bronze
      // materializes once they fill the cluster concurrently with the
      // dedup's wide exchange; dim_date needs the deduped measurement
      // and runs after that barrier, overlapping the location build's
      // tail. Same frames, same results — only the submission order
      // changes.
      locally {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        bronze.count() // the shared input materializes exactly once
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        try {
          val fm = Future(silver.measurement.count())
          val fp = Future(dp.count())
          val fmm = Future(dm.count())
          val fl = Future(dl.count())
          // finite barriers (r20 ADVICE): a hung dim job fails the
          // query after a generous bound instead of wedging forever
          Await.result(fm, Duration(30, "min"))
          val fd = Future(dd.count())
          Seq[Future[Long]](fp, fmm, fl, fd)
            .foreach(Await.result(_, Duration(30, "min")))
        } finally pool.shutdown()
      }
      val fact = SilverToGold.fact(silver.measurement, dd, dl, dp, dm)
      // re-resolve every dim attribute THROUGH the surrogate keys: the
      // only path from a fact row to `year`/`region`/`parameter_name` is
      // its hash key, so a key collision or drift breaks the hash compare
      fact
        .join(broadcast(dd.select(col("date_key"), col("year"))),
          Seq("date_key"))
        .join(broadcast(dl.select(
          col("location_key"), col("region"), col("population"))),
          Seq("location_key"))
        .join(broadcast(dp.select(
          col("parameter_key"), col("parameter_name"), col("category"))),
          Seq("parameter_key"))
        .join(broadcast(dm.select(col("method_key"))),
          Seq("method_key"))
        .groupBy("year", "region", "parameter_name", "category", "aqi_category")
        .agg(
          count(lit(1)).as("n_meas"),
          // exact distinct counts as set sizes (r20, OPTIMIZATION_r20.md): two
          // countDistinct columns planned as Expand 3x — every fact row
          // tripled through the aggregate (agg stage 1.9-2.5 s); a
          // collect_set per group is ONE pass at the same shuffle bytes
          // (partial sets are entity-bounded — sites/methods are dims,
          // tiny relative to the fact at any scale) and lands near the
          // no-distinct floor (1.4-1.8 s). size() is the exact distinct
          // count over exact keys.
          size(collect_set(col("location_key"))).cast("long").as("n_sites"),
          size(collect_set(col("method_key"))).cast("long").as("n_methods"),
          sum(when(col("exceeds_standard"), 1L).otherwise(0L)).as("n_exceed"),
          Exact.dsum(col("arithmetic_mean")).as("mean_sum"),
          max(col("aqi")).as("max_aqi"),
          sum(col("observation_count").cast("long")).as("n_obs"),
          max(col("population")).as("max_pop"))
        .orderBy("year", "region", "parameter_name", "category", "aqi_category")
    },

    // ----- The SAME composed lifecycle carried by the LAKEHOUSE: silver
    // lands in a state-partitioned catalog table through the reference's
    // weekly-increment contract (two date-cut increments, each cleaned +
    // deduped within itself — the natural key contains date_local, so a
    // date cut keeps every key's duplicates in one increment — MERGEd
    // insert-only by natural key, exactly the Automated_Silver_to_Gold
    // Delta MERGE); the four dims PUBLISH as catalog tables; the fact
    // and the key re-resolution read everything back THROUGH the catalog
    // with NO broadcast hints — the scans' reported statistics drive the
    // auto-broadcasts. One oracle row, identical to g1's: the in-memory
    // and lakehouse routes must land the same gold, so an increment that
    // dropped/duplicated a key, a MERGE that mis-joined, or a stats
    // mis-report that flipped a join side breaks the hash.
    //
    // The catalog is DURABLE (r12 verdict task 1): a fresh warehouse per
    // run, so silver + dims land as parquet segments written INSIDE
    // writer tasks (the s50 executor-write contract) and every catalog
    // scan streams those segments executor-side — no table rows ever sit
    // on the driver heap or ship inside task binaries (the in-JVM route
    // put 11 MB of dim+silver rows in every task at sf1). This makes the
    // benched flagship measure the route a 100 TB deployment runs:
    // driver cost = file census only, data cost = executor parquet IO.
    // A unique catalog name per run keeps repeated bench passes isolated
    // without DROP round-trips; the scratch warehouse reclaims at exit.
    Q("g2_gold_lakehouse",
      "E1,S6,S8,S10,S11,W2,J10,A1-A8,E-durable", goldOracle) { (s, dir) =>
      // r20 hygiene: a UUID-named catalog per run keeps repeated bench
      // passes isolated (CatalogManager caches instances per NAME, so a
      // reused name would silently keep the previous run's store) — but
      // the conf keys must not accumulate across passes. The result is
      // consumed AFTER this function returns, so the PREVIOUS run's
      // keys are the ones safe to drop here.
      g2PrevCatalogKeys.getAndSet(Nil).foreach(s.conf.unset)
      val cat = s"g2c_${java.util.UUID.randomUUID().toString.take(8)}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        TempDirs.scratch("graft-g2wh"))
      g2PrevCatalogKeys.set(Seq(s"spark.sql.catalog.$cat",
        s"spark.sql.catalog.$cat.warehouse"))
      val sv = s"$cat.ns.g2_silver"
      val bronze = Caches.persistTracked(bronzeFromLineitem(s, dir))
      val cut = "1995-06-30"
      val silver0 = BronzeToSilver(bronze) // entity frames for the dims
      val population = bronze.select(col("state_code")).distinct()
        .withColumn("population",
          (col("state_code").cast("int") * 100000 + 7).cast("int"))
      def publish(name: String,
          df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        df.writeTo(s"$cat.ns.$name").create()
        s.table(s"$cat.ns.$name")
      }
      // Publish scheduling (r19, profiled at sf0.1): the dim publishes
      // are INDEPENDENT durable CTAS to separate tables (per-table
      // leases, shared read-only inputs), and three of them depend only
      // on BRONZE — not on the merged silver — so they submit
      // CONCURRENTLY with the silver CTAS+MERGE chain and hide behind
      // it; only dim_date reads the merged silver and starts after the
      // MERGE. Serializing all of this on the driver added the
      // job-launch + commit latencies up (~4.0 s of a ~10 s steady run;
      // dim jobs at any SF leave executors idle between publishes) —
      // the cluster pattern for a medallion gold layer is exactly this
      // DAG-shaped submission. Correctness is untouched: the same five
      // tables land, and the star join reads them after the barrier.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // dedicated bounded pool (r20 hygiene): the three concurrent dim
      // publishes must not contend with whatever else rides the JVM's
      // global pool; shut down as soon as the barrier resolves
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
      val fdp = Future(publish("g2_dim_parameter",
        SilverToGold.dimParameter(silver0.parameter, DimBuild.HashKeys)))
      val fdm = Future(publish("g2_dim_method",
        SilverToGold.dimMethod(silver0.method, DimBuild.HashKeys)))
      val fdl = Future(publish("g2_dim_location",
        SilverToGold.dimLocation(silver0.site, silver0.adminArea,
          silver0.cbsa, population, DimBuild.HashKeys)))
      val halves = Seq(bronze.filter(col("date_local") <= lit(cut)),
        bronze.filter(col("date_local") > lit(cut)))
      halves.zipWithIndex.foreach { case (half, i) =>
        val m = BronzeToSilver(half).measurement
        if (i == 0) m.writeTo(sv).partitionedBy(col("state_code")).create()
        else {
          m.createOrReplaceTempView("g2_incr")
          val cond = graft.model.Schemas.measurementKey
            .map(c => s"t.$c = s.$c").mkString(" AND ")
          s.sql(s"MERGE INTO $sv t USING g2_incr s ON $cond " +
            "WHEN NOT MATCHED THEN INSERT *")
        }
      }
      val silverM = s.table(sv)
      val dd = publish("g2_dim_date",
        SilverToGold.dimDate(silverM, DimBuild.HashKeys))
      // finite barriers (r20 ADVICE, same rationale as g1's)
      val dp = Await.result(fdp, Duration(30, "min"))
      val dm = Await.result(fdm, Duration(30, "min"))
      val dl = Await.result(fdl, Duration(30, "min"))
      val fact = SilverToGold.fact(silverM, dd, dl, dp, dm)
      // hint-free: the catalog scans report dim-sized stats, Catalyst
      // broadcasts on its own (the s-stats surface carrying g1's plan)
      fact
        .join(dd.select(col("date_key"), col("year")), Seq("date_key"))
        .join(dl.select(
          col("location_key"), col("region"), col("population")),
          Seq("location_key"))
        .join(dp.select(
          col("parameter_key"), col("parameter_name"), col("category")),
          Seq("parameter_key"))
        .join(dm.select(col("method_key")), Seq("method_key"))
        .groupBy("year", "region", "parameter_name", "category", "aqi_category")
        .agg(
          count(lit(1)).as("n_meas"),
          // exact distinct counts as set sizes (r20, OPTIMIZATION_r20.md): two
          // countDistinct columns planned as Expand 3x — every fact row
          // tripled through the aggregate (agg stage 1.9-2.5 s); a
          // collect_set per group is ONE pass at the same shuffle bytes
          // (partial sets are entity-bounded — sites/methods are dims,
          // tiny relative to the fact at any scale) and lands near the
          // no-distinct floor (1.4-1.8 s). size() is the exact distinct
          // count over exact keys.
          size(collect_set(col("location_key"))).cast("long").as("n_sites"),
          size(collect_set(col("method_key"))).cast("long").as("n_methods"),
          sum(when(col("exceeds_standard"), 1L).otherwise(0L)).as("n_exceed"),
          Exact.dsum(col("arithmetic_mean")).as("mean_sum"),
          max(col("aqi")).as("max_aqi"),
          sum(col("observation_count").cast("long")).as("n_obs"),
          max(col("population")).as("max_pop"))
        .orderBy("year", "region", "parameter_name", "category", "aqi_category")
      } finally pool.shutdown()
    })

  /** Conf keys of the previous g2 run's scratch catalog — dropped at
    * the START of the next run (the result of a run is consumed after
    * its function returns, so its own keys must outlive it). */
  private val g2PrevCatalogKeys =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
}
