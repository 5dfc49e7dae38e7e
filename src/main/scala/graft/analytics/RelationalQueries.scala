package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.IntegerType
import graft.sources.Tables
import graft.functions.{TextFunctions => TF, TextSql => TS}

/** SURVEY.md §2 relational operator inventory, demonstrated on the harness
  * tables with DuckDB oracle twins. Each query is the idiomatic Spark
  * expression of a reference capability (file:line cites in each entry).
  *
  * Determinism rules (driver hash-compares parquet vs DuckDB):
  *  - money/quantity aggregates go through [[Exact]] (decimal-exact sums);
  *  - every query ends in a total-order `orderBy`;
  *  - int-typed derivations are cast to INT in the oracle (DuckDB widens to
  *    BIGINT by default).
  */
object RelationalQueries {

  /** qa3 privacy floor: cells identifying fewer distinct users than this
    * are flagged for suppression (one definition site for Spark + oracle). */
  val KAnonThreshold = 5

  /** Shared CTE (no WITH): per-user consecutive-day activity runs with
    * their date bounds — the day − row_number islands trick. Consumed by
    * w15 (streak stats) and j18 (interval-overlap join). */
  private val islandsCte: String =
    """a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |g AS (SELECT user_id, day,
      |        CAST(day - DATE '1970-01-01' AS BIGINT)
      |          - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |          AS grp
      |      FROM a),
      |runs AS (SELECT user_id, min(day) AS start_day, max(day) AS end_day,
      |                count(*) AS run_len
      |         FROM g GROUP BY user_id, grp)""".stripMargin

  /** Waits for one AvailableNow drain for at most 30 minutes, the cap the
    * pool barriers use; past it the query is stopped and the statement
    * fails, naming `label` and the drain's checkpoint directory. */
  private def awaitDrain(label: String,
      q: org.apache.spark.sql.streaming.StreamingQuery,
      checkpoint: String): Unit =
    if (!q.awaitTermination(30L * 60 * 1000)) {
      q.stop()
      throw new IllegalStateException(s"$label: streaming query ${q.id} " +
        s"did not drain within 30 minutes (checkpoint $checkpoint)")
    }

  /** Deterministic snapshot pair for the CDC family (s18 diff, s19 apply):
    * v1 = keys with hash < 90, v2 = keys with hash ≥ 5 and prices bumped
    * on hash ∈ [50, 60) — both derived from one orders scan so the oracle
    * reproduces them exactly. Returns (v1, v2) as (k, price). */
  private def cdcSnapshots(s: org.apache.spark.sql.SparkSession,
                           dir: String) = {
    val h = pmod(TF.polyHash(
      concat(lit("diff|"), col("o_orderkey").cast("string"))), lit(100L))
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("double").as("price"), h.as("h"))
    val v1 = base.filter(col("h") < 90).select(col("k"), col("price"))
    val v2 = base.filter(col("h") >= 5)
      .select(col("k"),
        when(col("h") >= 50 && col("h") < 60, col("price") + 1.0)
          .otherwise(col("price")).as("price"))
    (v1, v2)
  }

  /** Spark twin of s18's changelog: added/removed/changed rows between the
    * [[cdcSnapshots]] pair, with old and new payloads. */
  private def cdcChangelog(v1: org.apache.spark.sql.DataFrame,
                           v2: org.apache.spark.sql.DataFrame) =
    v1.toDF("k1", "old_price")
      .join(v2.toDF("k2", "new_price"), col("k1") === col("k2"),
        "full_outer")
      .filter(col("k1").isNull || col("k2").isNull
        || col("old_price") =!= col("new_price"))
      .select(coalesce(col("k1"), col("k2")).as("k"),
        when(col("k1").isNull, "added")
          .when(col("k2").isNull, "removed")
          .otherwise("changed").as("change_type"),
        col("old_price"), col("new_price"))

  /** Spark twin of [[islandsCte]]: (user_id, start_day, end_day, run_len)
    * per activity streak. */
  private def islandRuns(s: org.apache.spark.sql.SparkSession,
                         dir: String) = {
    val w = Window.partitionBy("user_id").orderBy("day")
    Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long")
          - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(min("day").as("start_day"), max("day").as("end_day"),
        count(lit(1)).as("run_len"))
  }

  /** Price-band intervals for the j13 range join — single definition site
    * consumed by both the Spark frame and the emitted oracle VALUES list.
    * Irregular (not grid-computable) boundaries on purpose: the operator
    * under test is interval containment, not floor-division bucketing. */
  private val priceBands: Seq[(String, Double, Double)] = Seq(
    ("budget", 900.0, 925.0), ("value", 925.0, 960.0),
    ("premium", 960.0, 985.0), ("luxury", 985.0, 1000.0))

  /** Scale note: final `orderBy` on query results here is presentation-side
    * (results are small aggregates); fact-scale intermediates are never
    * globally sorted. */
  val all: Seq[Q] = Seq(

    // ----- S13/O1/O2: sort + limit (reference: Table.Range DUMMY.pq:67,
    // orderBy+show AS2G:465)
    Q("o1_sort_limit", "S13,O1,O2,O4",
      "SELECT * FROM region ORDER BY r_regionkey LIMIT 3") { (s, dir) =>
      Tables.region(s, dir).orderBy("r_regionkey").limit(3)
    },

    // ----- P4/P5/F1: trim + IN-list + conjunctive null-guarded predicate
    // (reference: BB2S:55-69, AB2S:71-104)
    Q("p4_inlist_filter", "P4,P5,P6,F1",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE trim(l_returnflag) IN ('A','R') AND l_quantity IS NOT NULL
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(trim(col("l_returnflag")).isin("A", "R")
          && col("l_quantity").isNotNull
          && col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ----- P1/P2/P3/P7: projection, rename, inequality filter
    // (reference: AB2S:85-92 select, PI:42-45 rename + != filter)
    Q("p1_project_rename", "P1,P2,P3,P7",
      """SELECT c_custkey AS cust_id, c_name AS cust_name,
        |       c_mktsegment AS segment
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |ORDER BY cust_id""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
          col("c_mktsegment").as("segment"))
        .filter(col("segment") =!= "BUILDING")
        .orderBy("cust_id")
    },

    // ----- F7/F10/F11: CASE-WHEN category ladder + boolean flag
    // (reference AQI category BS2G:219-228, exceeds_standard AS2G:218-220)
    Q("f7_case_category", "F7,F10,F11",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice IS NULL THEN 'Unknown'
        |       WHEN o_totalprice <= 50000  THEN 'Good'
        |       WHEN o_totalprice <= 100000 THEN 'Moderate'
        |       WHEN o_totalprice <= 150000 THEN 'Unhealthy for Sensitive Groups'
        |       WHEN o_totalprice <= 200000 THEN 'Unhealthy'
        |       WHEN o_totalprice <= 300000 THEN 'Very Unhealthy'
        |       ELSE 'Hazardous' END AS price_category,
        |  o_totalprice > 200000 AS exceeds_standard
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        when(col("o_totalprice").isNull, "Unknown")
          .when(col("o_totalprice") <= 50000, "Good")
          .when(col("o_totalprice") <= 100000, "Moderate")
          .when(col("o_totalprice") <= 150000, "Unhealthy for Sensitive Groups")
          .when(col("o_totalprice") <= 200000, "Unhealthy")
          .when(col("o_totalprice") <= 300000, "Very Unhealthy")
          .otherwise("Hazardous").as("price_category"),
        (col("o_totalprice") > 200000).as("exceeds_standard"))
        .orderBy("o_orderkey")
    },

    // ----- F2/F4-F6/W1/D3: dim_date build — distinct dates + calendar
    // attributes + row_number surrogate key
    // (reference: BS2G:74-87, AS2G:124-141)
    Q("f4_dim_date", "F2,F4,F5,F6,W1,D3",
      """SELECT d AS date, CAST(year(d) AS INT) AS year,
        |  CAST(month(d) AS INT) AS month, monthname(d) AS month_name,
        |  CAST(day(d) AS INT) AS day,
        |  CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
        |  dayname(d) AS day_name, CAST(quarter(d) AS INT) AS quarter,
        |  (dayofweek(d) + 1) IN (1, 7) AS is_weekend,
        |  CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INT) AS date_key
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        |ORDER BY date""".stripMargin) { (s, dir) =>
      val d = Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("date")).distinct()
      d.select(col("date"),
        year(col("date")).as("year"),
        month(col("date")).as("month"),
        date_format(col("date"), "MMMM").as("month_name"),
        dayofmonth(col("date")).as("day"),
        dayofweek(col("date")).as("day_of_week"),
        date_format(col("date"), "EEEE").as("day_name"),
        quarter(col("date")).as("quarter"),
        dayofweek(col("date")).isin(1, 7).as("is_weekend"),
        (year(col("date")) * 10000 + month(col("date")) * 100
          + dayofmonth(col("date"))).cast(IntegerType).as("date_key"))
        .orderBy("date")
    },

    // ----- D1/D2: deterministic key-based dedup (earliest-row-wins)
    // (reference dropDuplicates on natural key AB2S:98; determinized per
    // SURVEY §2.4 note via row_number)
    Q("d1_dedup_key", "D1,D2",
      """SELECT event_id, user_id, event_type, ts, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
        .orderBy("user_id", "event_type")
    },

    // ----- A1/A3/A4: grouped aggregation — counts, exact sums, exact avg
    // (reference groupBy counts AS2G:439, AVG_AQI FACT.tmdl:73-76)
    Q("a1_agg_by_group", "A1,A3,A4,A8",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
         |  ${Exact.sqlSum("l_extendedprice")} AS sum_price,
         |  ${Exact.sqlAvg("l_quantity")} AS avg_qty,
         |  COUNT(*) AS n
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_price"),
          Exact.davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ----- A2: global scalar aggregate (max-surrogate-key pattern
    // AS2G:277,297,315,333)
    Q("a2_global_max", "A2",
      """SELECT max(o_orderkey) AS max_key, min(o_orderkey) AS min_key,
        |       COUNT(*) AS n FROM orders""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).agg(
        max("o_orderkey").as("max_key"),
        min("o_orderkey").as("min_key"),
        count(lit(1)).as("n"))
    },

    // ----- A5/A6/D4: filtered count + predicated distinct count
    // (Unhealthy Day Count FACT.tmdl:5-13; distinct bad days DATE.tmdl:5-13)
    Q("a5_filtered_counts", "A5,A6,D4",
      """SELECT event_type,
        |  COUNT(CASE WHEN value > 100 THEN 1 END) AS n_high,
        |  COUNT(DISTINCT CASE WHEN value > 100 THEN user_id END) AS n_users_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(when(col("value") > 100, 1)).as("n_high"),
          countDistinct(when(col("value") > 100, col("user_id"))).as("n_users_high"))
        .orderBy("event_type")
    },

    // ----- J1: left join + aggregate over the joined frame
    // (parameter⋈unit BS2G:98-100 shape)
    Q("j1_left_join", "J1",
      s"""SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
         |  ${Exact.sqlSum("o.o_totalprice")} AS revenue
         |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment ORDER BY segment NULLS FIRST""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      // customer grows with SF — no broadcast hint; AQE picks the strategy.
      val c = Tables.customer(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.dsum(col("o_totalprice")).as("revenue"))
        .orderBy(asc_nulls_first("segment"))
    },

    // ----- J8: left-anti "new rows only" staging (AS2G:279-283)
    Q("j8_anti_join", "J8",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ----- J5/J6/J7/J10: star join — fact ⋈ broadcast dims, grouped measure
    // (fact assembly BS2G:211-218; DAX star relationships.tmdl:1-16)
    Q("j10_star_join", "J2,J5,J6,J7,J10",
      s"""SELECT r.r_name AS region, o.o_orderpriority AS priority,
         |  COUNT(*) AS n_items,
         |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
         |       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN orders o   ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n   ON c.c_nationkey = n.n_nationkey
         |JOIN region r   ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name, o.o_orderpriority
         |ORDER BY region, priority""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      // Only bounded dims (nation 25 / region 5 rows) get broadcast hints;
      // customer scales with SF, so its join strategy is left to AQE.
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy("region", "priority")
    },

    // ----- W3: dense rank over an aggregate (State Rank FACT.tmdl:271-289)
    Q("w3_dense_rank", "W3,A9",
      """SELECT n_name, n_orders,
        |  CAST(dense_rank() OVER (ORDER BY n_orders DESC) AS INT) AS rnk
        |FROM (
        |  SELECT n.n_name, COUNT(*) AS n_orders
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name)
        |ORDER BY rnk, n_name""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir) // unbounded — AQE chooses
      val n = broadcast(Tables.nation(s, dir))
      val counts = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_orders"))
      counts
        .withColumn("rnk",
          dense_rank().over(Window.orderBy(col("n_orders").desc)).cast(IntegerType))
        .orderBy("rnk", "n_name")
    },

    // ----- W4/O5: top-1 per group with deterministic tiebreak
    // (TOPN(1) worst state / leading pollutant FACT.tmdl:34-40,56-67)
    Q("w4_top1_per_group", "W4,O5",
      """SELECT region, n_name, n_cust FROM (
        |  SELECT r.r_name AS region, n.n_name, COUNT(*) AS n_cust,
        |    row_number() OVER (PARTITION BY r.r_name
        |                       ORDER BY COUNT(*) DESC, n.n_name ASC) AS rn
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY r.r_name, n.n_name)
        |WHERE rn = 1 ORDER BY region""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      val counts = c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
      val w = Window.partitionBy("region")
        .orderBy(col("n_cust").desc, col("n_name").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("region", "n_name", "n_cust")
        .orderBy("region")
    },

    // ----- W5: month-over-month % change via lag
    // (MoM AQI change FACT.tmdl:117-164)
    Q("w5_mom_change", "W5",
      s"""SELECT year, month, avg_price,
         |  round((avg_price - lag(avg_price) OVER (ORDER BY year, month))
         |        / lag(avg_price) OVER (ORDER BY year, month) * 100, 6)
         |    AS mom_pct
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS INT) AS year,
         |         CAST(month(o_orderdate) AS INT) AS month,
         |         ${Exact.sqlAvg("o_totalprice")} AS avg_price
         |  FROM orders GROUP BY 1, 2)
         |ORDER BY year, month""".stripMargin) { (s, dir) =>
      val m = Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
        .agg(Exact.davg(col("o_totalprice")).as("avg_price"))
      // Global window over ~tens of month rows — post-aggregate, so the
      // single-partition sort is over a bounded-size frame even at 100 TB.
      val w = Window.orderBy("year", "month")
      m.withColumn("prev", lag("avg_price", 1).over(w))
        .select(col("year"), col("month"), col("avg_price"),
          round((col("avg_price") - col("prev")) / col("prev") * 100, 6)
            .as("mom_pct"))
        .orderBy("year", "month")
    },

    // ----- W6: year-over-year % change (YOY AQI Change % FACT.tmdl:166-193)
    Q("w6_yoy_change", "W6",
      s"""SELECT year, avg_price, prev_year_avg,
         |  round((avg_price - prev_year_avg) / prev_year_avg * 100, 6) AS yoy_pct
         |FROM (
         |  SELECT year, avg_price,
         |         lag(avg_price) OVER (ORDER BY year) AS prev_year_avg
         |  FROM (
         |    SELECT CAST(year(o_orderdate) AS INT) AS year,
         |           ${Exact.sqlAvg("o_totalprice")} AS avg_price
         |    FROM orders GROUP BY 1))
         |ORDER BY year""".stripMargin) { (s, dir) =>
      val y = Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("year"))
        .agg(Exact.davg(col("o_totalprice")).as("avg_price"))
      val w = Window.orderBy("year")
      y.withColumn("prev_year_avg", lag("avg_price", 1).over(w))
        .withColumn("yoy_pct",
          round((col("avg_price") - col("prev_year_avg")) / col("prev_year_avg") * 100, 6))
        .orderBy("year")
    },

    // ----- W7: YTD running accumulation (DATESYTD FACT.tmdl:252-265)
    Q("w7_ytd_running", "W7",
      """SELECT year, month, month_total,
        |  CAST(SUM(dec_total) OVER (PARTITION BY year ORDER BY month
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS ytd_total
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS year,
        |         CAST(month(o_orderdate) AS INT) AS month,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS dec_total,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS month_total
        |  FROM orders GROUP BY 1, 2)
        |ORDER BY year, month""".stripMargin) { (s, dir) =>
      val m = Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("dec_total"))
        .withColumn("month_total", col("dec_total").cast("double"))
      val w = Window.partitionBy("year").orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.withColumn("ytd_total", sum("dec_total").over(w).cast("double"))
        .select("year", "month", "month_total", "ytd_total")
        .orderBy("year", "month")
    },

    // ----- A10: ratio-of-total (REMOVEFILTERS / % of US Exposure
    // PARAM.tmdl:29-42) — window aggregate over the full frame
    Q("a10_ratio_of_total", "A7,A10",
      """SELECT region, revenue,
        |  round(revenue / SUM(revenue) OVER () * 100, 6) AS pct_of_total
        |FROM (
        |  SELECT r.r_name AS region,
        |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |  JOIN region r   ON n.n_regionkey = r.r_regionkey
        |  GROUP BY r.r_name)
        |ORDER BY region""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir) // unbounded — AQE chooses
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      val agg = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region"))
        .agg(Exact.dsum(col("o_totalprice")).as("revenue"))
      // SUM OVER () on the 5-row aggregate — trivially single-partition.
      agg.withColumn("pct_of_total",
          round(col("revenue") / sum("revenue").over(Window.partitionBy()) * 100, 6))
        .orderBy("region")
    },

    // ----- W1/W2: surrogate key assignment over distinct natural keys
    // (row_number dim keys BS2G:86-87; continuation offset AS2G:286-287)
    Q("w1_surrogate_key", "W1,W2",
      """SELECT p_brand,
        |  CAST(row_number() OVER (ORDER BY p_brand) + 1000 AS BIGINT)
        |    AS brand_key
        |FROM (SELECT DISTINCT p_brand FROM part)
        |ORDER BY brand_key""".stripMargin) { (s, dir) =>
      // Parity-mode surrogate keys: global row_number over *distinct dim
      // values* — the windowed frame is dim-sized (small), never fact-sized.
      // Scale mode for fact-sized keys is xxhash64 (see t-queries).
      val w = Window.orderBy("p_brand")
      Tables.part(s, dir).select("p_brand").distinct()
        .withColumn("brand_key",
          (row_number().over(w) + lit(1000)).cast("bigint"))
        .orderBy("brand_key")
    },

    // ----- F13: ordered string aggregation (CONCATENATEX FACT.tmdl:42-46)
    Q("f13_string_agg", "F13",
      """SELECT r.r_name AS region,
        |  string_agg(n.n_name, ', ' ORDER BY n.n_name) AS nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name ORDER BY region""".stripMargin) { (s, dir) =>
      val n = Tables.nation(s, dir)
      val r = broadcast(Tables.region(s, dir))
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region"))
        .agg(array_join(array_sort(collect_list("n_name")), ", ").as("nations"))
        .orderBy("region")
    },

    // ----- S11/J9/§2.9: insert-only MERGE emulation —
    // target ∪ (source ∖ target) on the natural key (AS2G:276-292)
    Q("s11_merge_insert_only", "S11,J9,SET",
      """WITH tgt AS (SELECT * FROM orders WHERE year(o_orderdate) <= 1996),
        |     src AS (SELECT * FROM orders WHERE year(o_orderdate) >= 1996),
        |     merged AS (
        |       SELECT * FROM tgt
        |       UNION ALL
        |       SELECT s.* FROM src s
        |       WHERE NOT EXISTS (SELECT 1 FROM tgt t
        |                         WHERE t.o_orderkey = s.o_orderkey))
        |SELECT o_orderstatus, COUNT(*) AS n,
        |       COUNT(DISTINCT o_orderkey) AS n_keys
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val tgt = orders.filter(year(col("o_orderdate")) <= 1996)
      val src = orders.filter(year(col("o_orderdate")) >= 1996)
      val merged = graft.operators.MergeInsertOnly(tgt, src, Seq("o_orderkey"))
      merged.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), countDistinct("o_orderkey").as("n_keys"))
        .orderBy("o_orderstatus")
    },

    // ----- left-semi join (EXISTS; §2.9 complement of J8)
    Q("j11_semi_join", "J8,SET",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ----- F13 string concat + COALESCE (DAX `st & " - " & pol`,
    // COALESCE — PARAM.tmdl:7-16, LOC.tmdl:7-9)
    Q("f13_concat_coalesce", "F13",
      """SELECT o_orderkey,
        |  o_orderstatus || ' - ' || o_orderpriority AS label,
        |  coalesce(CASE WHEN o_orderstatus = 'O' THEN NULL
        |                ELSE o_orderstatus END, 'OPEN') AS status_resolved
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        concat(col("o_orderstatus"), lit(" - "), col("o_orderpriority")).as("label"),
        coalesce(
          when(col("o_orderstatus") === "O", lit(null).cast("string"))
            .otherwise(col("o_orderstatus")),
          lit("OPEN")).as("status_resolved"))
        .orderBy("o_orderkey")
    },

    // ----- Events: time-bucketed aggregation (date_trunc) + JSON extraction
    // (batch analog of the streaming windowed agg; props is a JSON column)
    Q("e1_hourly_rollup", "F4,A1,A4",
      s"""SELECT date_trunc('hour', ts) AS hour, event_type,
         |  COUNT(*) AS n, ${Exact.sqlSum("value", 2)} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
        .orderBy("hour", "event_type")
    },

    Q("e2_json_extract", "F3,F11",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE props IS NOT NULL
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("props").isNotNull)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .orderBy("event_id")
    },

    // ----- F8: census-region CASE over the full 51-code FIPS domain
    // (Batch_Silver_to_Gold notebook-content.py:121-140). The harness has
    // no state-code column, so the code domain is derived: c_custkey % 60
    // zero-padded to 2 chars covers "00".."59" ⊇ all four region IN-lists
    // plus Unknown codes. One definition site: the oracle's IN-lists are
    // emitted from DimBuild's Seqs.
    Q("f8_region_map", "F8", {
      def inList(cs: Seq[String]) = cs.map(c => s"'$c'").mkString(", ")
      import graft.operators.DimBuild
      s"""SELECT code,
         |  CASE WHEN code IN (${inList(DimBuild.northeast)}) THEN 'Northeast'
         |       WHEN code IN (${inList(DimBuild.midwest)}) THEN 'Midwest'
         |       WHEN code IN (${inList(DimBuild.south)}) THEN 'South'
         |       WHEN code IN (${inList(DimBuild.west)}) THEN 'West'
         |       ELSE 'Unknown' END AS region,
         |  COUNT(*) AS n
         |FROM (SELECT lpad(CAST(c_custkey % 60 AS VARCHAR), 2, '0') AS code
         |      FROM customer)
         |GROUP BY code ORDER BY code""".stripMargin
    }) { (s, dir) =>
      Tables.customer(s, dir)
        .select(lpad((col("c_custkey") % 60).cast("string"), 2, "0").as("code"))
        .groupBy("code")
        .agg(count(lit(1)).as("n"))
        .withColumn("region", graft.operators.DimBuild.region(col("code")))
        .select("code", "region", "n")
        .orderBy("code")
    },

    // ----- F9: particulate-vs-gas parameter category
    // (Batch_Silver_to_Gold notebook-content.py:108-111). The harness has
    // no parameter_code column, so the code domain is derived: p_partkey
    // indexes a fixed 5-code list covering both particulate codes and
    // three gas codes (public EPA AQS codes: PM2.5, PM10, CO, O3, SO2).
    // One definition site: the oracle's IN-list is emitted from
    // Schemas.particulateCodes.
    Q("f9_param_category", "F9", {
      val codeList = graft.model.Schemas.aqsParameterCodes
        .map(c => s"'$c'").mkString(", ")
      val partIn = graft.model.Schemas.particulateCodes
        .map(c => s"'$c'").mkString(", ")
      s"""SELECT code,
         |  CASE WHEN code IN ($partIn) THEN 'Particulate Matter'
         |       ELSE 'Gas' END AS category,
         |  COUNT(*) AS n
         |FROM (SELECT ([$codeList])[CAST(p_partkey % 5 AS INT) + 1] AS code
         |      FROM part)
         |GROUP BY code ORDER BY code""".stripMargin
    }) { (s, dir) =>
      Tables.part(s, dir)
        .select(element_at(array(graft.model.Schemas.aqsParameterCodes.map(lit): _*),
          (col("p_partkey") % 5).cast(IntegerType) + 1).as("code"))
        .groupBy("code")
        .agg(count(lit(1)).as("n"))
        .withColumn("category",
          graft.operators.DimBuild.parameterCategory(col("code")))
        .select("code", "category", "n")
        .orderBy("code")
    },

    // ----- SAMEPERIODLASTYEAR analog (FACT.tmdl:82-97 `AVG AQI PY` /
    // `AVG YoY Perc`): monthly aggregate left-joined to itself on
    // add_months(month, -12). Months without a prior-year twin (first year
    // of data) yield NULL = DAX BLANK — the edge DAX lag-based YoY misses.
    Q("w9_sameperiod_py", "W6,F12",
      s"""WITH m AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         |         ${Exact.sqlAvg("o_totalprice")} AS avg_price
         |  FROM orders GROUP BY 1)
         |SELECT a.month_start, a.avg_price, b.avg_price AS avg_price_py,
         |  round((a.avg_price - b.avg_price) / b.avg_price * 100, 6) AS yoy_pct
         |FROM m a LEFT JOIN m b
         |  ON b.month_start = CAST(a.month_start - INTERVAL 12 MONTH AS DATE)
         |ORDER BY a.month_start""".stripMargin) { (s, dir) =>
      val m = Tables.orders(s, dir)
        .groupBy(trunc(col("o_orderdate"), "mm").as("month_start"))
        .agg(Exact.davg(col("o_totalprice")).as("avg_price"))
      val py = m.select(col("month_start").as("py_month"),
        col("avg_price").as("avg_price_py"))
      m.join(py, add_months(col("month_start"), -12) === col("py_month"), "left")
        .select(col("month_start"), col("avg_price"), col("avg_price_py"),
          round((col("avg_price") - col("avg_price_py")) / col("avg_price_py") * 100, 6)
            .as("yoy_pct"))
        .orderBy("month_start")
    },

    // ----- batch twin of the streaming sessionization
    // (EventStreams.sessionize): 30-min-gap sessions via lag/flag/cumsum
    // windows, all partitioned by user_id — one shuffle on the user key,
    // session count per partition bounded by that user's events.
    Q("e3_sessionize", "STREAM-sessionize-twin,W5,A1",
      s"""WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS tus
         |           FROM events),
         |m AS (SELECT user_id, event_id, ts, value, tus,
         |        CASE WHEN lag(tus) OVER w IS NULL
         |               OR tus - lag(tus) OVER w > 1800000000 THEN 1
         |             ELSE 0 END AS new_sess
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         |s AS (SELECT *, SUM(new_sess) OVER (
         |        PARTITION BY user_id ORDER BY tus, event_id
         |        ROWS UNBOUNDED PRECEDING) AS sess_seq FROM m)
         |SELECT user_id, CAST(sess_seq AS INT) AS sess_seq,
         |       min(ts) AS session_start, max(ts) AS session_end,
         |       COUNT(*) AS n_events, ${Exact.sqlSum("value", 2)} AS total_value
         |FROM s GROUP BY user_id, sess_seq
         |ORDER BY user_id, sess_seq""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("tus", unix_micros(col("ts")))
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val prev = lag("tus", 1).over(w)
      val flagged = e.withColumn("new_sess",
        when(prev.isNull || col("tus") - prev > 1800000000L, 1).otherwise(0))
      val sessions = flagged.withColumn("sess_seq",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(IntegerType))
      sessions.groupBy("user_id", "sess_seq")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("total_value"))
        .orderBy("user_id", "sess_seq")
    },

    // ----- batch twin of the streaming stream-stream interval join
    // (EventStreams.attributionPairs): clicks attributed to same-user
    // purchases within the hour before. Equi-join on the user key (one
    // shuffle per side) with the time range as residual predicate —
    // per-purchase fan-out bounded by that user's clicks in the window.
    // LEFT join so zero-click purchases surface with n_clicks = 0.
    Q("e4_attribution", "STREAM-join-twin,J-interval,A1",
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id, p.purchase_ts,
        |       COUNT(c.click_id) AS n_clicks, max(c.click_ts) AS last_click_ts
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND epoch_us(c.click_ts) > epoch_us(p.purchase_ts) - 3600000000
        |  AND epoch_us(c.click_ts) <= epoch_us(p.purchase_ts)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      p.join(c,
        col("c_user") === col("user_id") &&
          unix_micros(col("click_ts")) > unix_micros(col("purchase_ts")) - 3600000000L &&
          unix_micros(col("click_ts")) <= unix_micros(col("purchase_ts")),
        "left")
        .groupBy("purchase_id", "user_id", "purchase_ts")
        .agg(count(col("click_id")).as("n_clicks"),
          max(col("click_ts")).as("last_click_ts"))
        .orderBy("purchase_id")
    },

    // ----- salted skew join (operators/ScaleJoins.salted), driver-
    // verified: the events fact keys on ~150 users (a genuinely hot key
    // distribution — thousands of rows per key), the kind of skew where
    // one reducer melts while 31 idle. The salted encoding spreads each
    // hot key over 8 sub-keys (right side replicated 8×) and is
    // RESULT-identical to the plain equi-join — which is exactly what the
    // oracle states, so the correctness gate proves the rewrite.
    Q("j14_salted_join", "J-skew-salted,A1,A3",
      """SELECT e.user_id, COUNT(*) AS n_pairs, max(o.o_orderkey) AS max_orderkey
        |FROM events e JOIN orders o ON o.o_custkey = e.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"))
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("user_id"), col("o_orderkey"))
      graft.operators.ScaleJoins.salted(e, o, Seq("user_id"), salt = 8)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), max("o_orderkey").as("max_orderkey"))
        .orderBy("user_id")
    },

    // ----- built-in session windows (the compose-existing-ops
    // counterpart of the custom flatMapGroupsWithState sessionization):
    // `session_window` merges events within a 30-min gap per user in one
    // groupBy — state-store-backed when streamed, plain agg in batch.
    // Boundary semantics differ from e3's lag formulation: an event at
    // exactly last + gap begins a NEW session here (window is
    // [start, last + gap)), so the oracle's new-session flag uses >=
    // where e3 uses >. window_end = last event + gap by definition.
    Q("e5_session_window", "STREAM-session-builtin,A1,F12",
      s"""WITH e AS (SELECT user_id, ts, value, epoch_us(ts) AS tus
         |           FROM events),
         |m AS (SELECT user_id, ts, value, tus,
         |        CASE WHEN lag(tus) OVER w IS NULL
         |               OR tus - lag(tus) OVER w >= 1800000000 THEN 1
         |             ELSE 0 END AS new_sess
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
         |s AS (SELECT *, SUM(new_sess) OVER (
         |        PARTITION BY user_id ORDER BY tus
         |        ROWS UNBOUNDED PRECEDING) AS sess_seq FROM m)
         |SELECT user_id, min(ts) AS session_start,
         |       max(ts) + INTERVAL 30 MINUTE AS window_end,
         |       COUNT(*) AS n_events, ${Exact.sqlSum("value", 2)} AS total_value
         |FROM s GROUP BY user_id, sess_seq
         |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("window_end"), col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    },

    // ----- event funnel (ordered-sequence analytics): users who signed
    // up, then clicked, then purchased — in that temporal order. The
    // scalable encoding: ONE aggregate per user collapses each stage to
    // its first timestamp (conditional min — no per-user event sorting,
    // no self-joins between stages), then stage predicates are timestamp
    // comparisons and the funnel is one more count. Two aggregates total,
    // one shuffle on the user key.
    Q("e6_funnel", "FUNNEL,A5,A1",
      """WITH m AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  COUNT(*) FILTER (WHERE t_signup IS NOT NULL) AS n_signup,
        |  COUNT(*) FILTER (WHERE t_signup < t_click) AS n_signup_click,
        |  COUNT(*) FILTER (WHERE t_signup < t_click AND t_click < t_purchase)
        |    AS n_full_funnel
        |FROM m""".stripMargin) { (s, dir) =>
      def firstOf(et: String, as: String) =
        min(when(col("event_type") === et, col("ts"))).as(as)
      val m = Tables.events(s, dir).groupBy("user_id")
        .agg(firstOf("signup", "t_signup"), firstOf("click", "t_click"),
          firstOf("purchase", "t_purchase"))
      m.agg(count(lit(1)).as("n_users"),
        count(when(col("t_signup").isNotNull, 1)).as("n_signup"),
        count(when(col("t_signup") < col("t_click"), 1)).as("n_signup_click"),
        count(when(col("t_signup") < col("t_click")
          && col("t_click") < col("t_purchase"), 1)).as("n_full_funnel"))
    },

    // ----- INTERSECT / EXCEPT (§2.9 set-op completion): both are
    // DISTINCT-semantics set ops in both engines, planned as aggregates
    // over a shuffle on the full row — one shuffle each, the same cost
    // envelope as dropDuplicates. Tagged and unioned so one query
    // witnesses both ops.
    Q("s14_set_ops", "SET-intersect-except",
      """WITH a AS (SELECT c_custkey FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |b AS (SELECT c_custkey FROM customer WHERE c_nationkey < 13)
        |SELECT 'intersect' AS op, c_custkey FROM
        |  (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
        |UNION ALL
        |SELECT 'except', c_custkey FROM
        |  (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
        |ORDER BY op, c_custkey""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val a = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = cust.filter(col("c_nationkey") < 13).select("c_custkey")
      a.intersect(b).withColumn("op", lit("intersect"))
        .unionByName(a.except(b).withColumn("op", lit("except")))
        .select("op", "c_custkey")
        .orderBy("op", "c_custkey")
    },

    // ----- UNPIVOT (wide → long, the inverse of a13's pivot): lineitem's
    // four measure columns melted to (measure, value) rows — Spark plans
    // it as a single Expand (4 output rows per input row, no shuffle),
    // then one aggregate per measure. The oracle states the same result
    // as a UNION ALL of per-column aggregates.
    Q("a14_unpivot", "A-unpivot,A1,A7", {
      def arm(c: String) =
        s"SELECT '$c' AS measure, COUNT(*) AS n, ${Exact.sqlSum(c)} AS total FROM lineitem"
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(arm).mkString("", "\nUNION ALL\n", "\nORDER BY measure")
    }) { (s, dir) =>
      val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      Tables.lineitem(s, dir)
        .select(measures.map(col): _*)
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          measures.map(col).toArray, "measure", "value")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("total"))
        .orderBy("measure")
    },

    // ----- ROLLUP subtotals (the BI matrix-with-totals shape): per
    // (priority, status) counts/sums plus per-priority subtotals and the
    // grand total in one pass — Spark plans rollup as a single expand +
    // aggregate, not three scans. Determinism: grouping(col) flags
    // disambiguate data NULLs from subtotal NULLs, subtotal labels are
    // COALESCEd to 'ALL', and the ORDER BY runs on the flags + labels so
    // no NULL-ordering divergence (Spark sorts NULLS FIRST, DuckDB
    // NULLS LAST) can reach the comparison.
    Q("a12_rollup", "A-rollup,A1,A7",
      s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
         |  COALESCE(o_orderstatus, 'ALL') AS status,
         |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
         |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
         |  COUNT(*) AS n, ${Exact.sqlSum("o_totalprice")} AS total
         |FROM orders
         |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
         |ORDER BY g_priority, g_status, priority, status""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"),
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
          count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("g_priority"), col("g_status"), col("n"), col("total"))
        .orderBy("g_priority", "g_status", "priority", "status")
    },

    // ----- pivot (long → wide, the Power BI matrix visual): order counts
    // by priority pivoted across the three order statuses. Spark's
    // `pivot` with an EXPLICIT value list compiles to one aggregate with
    // conditional branches (no second pass to discover values, and the
    // output schema is static — at 100 TB an implicit pivot would scan
    // once just to enumerate columns); the oracle states the same thing
    // as FILTERed counts.
    Q("a13_pivot", "A-pivot,A1",
      """SELECT o_orderpriority AS priority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .select(col("priority"), coalesce(col("F"), lit(0L)).as("f"),
          coalesce(col("O"), lit(0L)).as("o"), coalesce(col("P"), lit(0L)).as("p"))
        .orderBy("priority")
    },

    // ----- data-quality gate: referential-integrity and range audits as
    // one query — the engine-side generalization of the reference's
    // ingestion QA gate (automated_ingestion fails a run below 45/51
    // complete states). Each orphan check is a left-anti count (one
    // key-shuffle per audited edge — the unavoidable audit cost; zeros =
    // pass); the range check is a pushed-down scan filter, and the
    // threshold is chosen so the harness data trips it — the gate's
    // nonzero path is exercised, not just the all-clear.
    Q("qa1_integrity", "QA-gate,J8,A1",
      """SELECT 'customer_no_nation' AS check_name, COUNT(*) AS n_bad
        |  FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'lineitem_no_order', COUNT(*)
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders_no_customer', COUNT(*)
        |  FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'orders_price_gt_400k', COUNT(*)
        |  FROM orders WHERE o_totalprice > 400000
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      def orphans(name: String, fact: org.apache.spark.sql.DataFrame,
                  dim: org.apache.spark.sql.DataFrame, fk: String, pk: String) =
        fact.join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
          .select(lit(name).as("check_name"), col("n_bad"))
      val checks = Seq(
        orphans("customer_no_nation", Tables.customer(s, dir).select(col("c_nationkey")),
          Tables.nation(s, dir), "c_nationkey", "n_nationkey"),
        orphans("lineitem_no_order", Tables.lineitem(s, dir).select(col("l_orderkey")),
          Tables.orders(s, dir), "l_orderkey", "o_orderkey"),
        orphans("orders_no_customer", Tables.orders(s, dir).select(col("o_custkey")),
          Tables.customer(s, dir), "o_custkey", "c_custkey"),
        Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
          .agg(count(lit(1)).as("n_bad"))
          .select(lit("orders_price_gt_400k").as("check_name"), col("n_bad")))
      checks.reduce(_.unionByName(_)).orderBy("check_name")
    },

    // ----- relative-rank window functions: percent_rank + cume_dist +
    // quartile (ntile) per market segment. The window orders by
    // (acctbal, custkey) — the unique tiebreak matters for ntile, whose
    // bucket assignment depends on row POSITION (tied rows would land in
    // either bucket nondeterministically); percent_rank/cume_dist are
    // functions of the ordering-key values and both engines implement the
    // SQL-standard formulas, so the doubles agree bit-exactly.
    Q("w12_rank_stats", "W3,O5,A-rank-relative",
      """SELECT c_custkey, c_mktsegment,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).cast(IntegerType).as("quartile"))
        .orderBy("c_custkey")
    },

    // ----- frame-based moving average: 7-day trailing mean of daily
    // order totals (ROWS 6 PRECEDING). Determinism note: the windowed SUM
    // runs over DECIMAL and is cast to double only afterwards — engines
    // disagree on windowed-double summation ORDER (DuckDB slides a
    // segment tree, Spark streams the frame), but decimal addition is
    // order-independent, so exactness survives the frame. The window is
    // unpartitioned but day-cardinality (one row per day after the
    // pre-aggregate), a presentation-sized axis, not the fact table.
    Q("w11_moving_avg", "W8,F12,A7",
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(total AS DOUBLE) AS day_total,
        |  round(CAST(SUM(total) OVER w AS DOUBLE) / (COUNT(*) OVER w), 6)
        |    AS ma7
        |FROM d
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val dec = col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val d = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(dec).as("total"))
      val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      d.select(col("day"), col("total").cast("double").as("day_total"),
        round(sum("total").over(w).cast("double") / count(lit(1)).over(w), 6)
          .as("ma7"))
        .orderBy("day")
    },

    // ----- running COUNT(DISTINCT) — cumulative unique users by day.
    // A distinct count is not window-able directly (per-frame distinct
    // state is quadratic); the scalable identity: each user counts once
    // on their FIRST day (one agg on user), daily news aggregate (one agg
    // on day), then a running sum over the day axis — the distinct-ness
    // is resolved before any window runs, and the window frame is
    // day-cardinality, not event-cardinality.
    Q("w10_cum_distinct", "W7,A6,D4",
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        |           FROM events GROUP BY 1),
        |nu AS (SELECT first_day AS day, COUNT(*) AS new_users
        |       FROM f GROUP BY 1),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
        |SELECT days.day, COALESCE(nu.new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(nu.new_users, 0)) OVER (
        |    ORDER BY days.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM days LEFT JOIN nu ON days.day = nu.day
        |ORDER BY days.day""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
      val firstDay = e.groupBy("user_id").agg(min("day").as("first_day"))
      val newUsers = firstDay.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("new_users"))
      val days = e.select("day").distinct()
      // day-cardinality frame: the unpartitioned running sum is over ~one
      // row per day, a presentation-sized axis, not the event table
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(newUsers, Seq("day"), "left")
        .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cum_users", sum("new_users").over(w))
        .orderBy("day")
    },

    // ----- as-of join (operators/AsOfJoin): each event attached to the
    // user's most recent order at-or-before the event date. Spark lacks
    // the operator; the library encodes it as union + ignore-nulls running
    // `last` — one shuffle on the key, per-key linear work, no range
    // fan-out (see AsOfJoin scaladoc). Orders are pre-reduced to one row
    // per (customer, day) — max order id that day — so the at-or-before
    // match is unique. The oracle uses DuckDB's native ASOF LEFT JOIN,
    // an independent implementation of the same semantics.
    Q("j12_asof_join", "J-asof,W5",
      """WITH od AS (
        |  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS day,
        |         max(o_orderkey) AS asof_orderkey
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_day
        |      FROM events)
        |SELECT e.event_id, e.user_id, e.event_day,
        |       o.day AS asof_day, o.asof_orderkey
        |FROM e ASOF LEFT JOIN od o
        |  ON e.user_id = o.user_id AND e.event_day >= o.day
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val od = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("user_id"),
          to_date(col("o_orderdate")).as("__rt"))
        .agg(max("o_orderkey").as("asof_orderkey"))
        .withColumn("asof_day", col("__rt"))
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_day"))
      graft.operators.AsOfJoin(e, od, "user_id", "event_day", "__rt")
        .select("event_id", "user_id", "event_day", "asof_day", "asof_orderkey")
        .orderBy("event_id")
    },

    // ----- range (band) join (operators/ScaleJoins.bandJoin): parts
    // classified into price bands by interval containment — a non-equi
    // join with no shuffle key, so the interval side is broadcast and the
    // fact side streams through with no shuffle (the only plan shape that
    // survives 100 TB; see bandJoin scaladoc). Band boundaries have one
    // definition site: the oracle VALUES list is emitted from the same
    // Seq the Spark frame is built from.
    Q("j13_range_band", "J-range,A4", {
      val values = priceBands
        .map { case (b, lo, hi) =>
          s"('$b', CAST($lo AS DOUBLE), CAST($hi AS DOUBLE))" }
        .mkString(", ")
      s"""WITH bands(band, lo, hi) AS (VALUES $values)
         |SELECT b.band, COUNT(*) AS n,
         |       ${Exact.sqlAvg("p_retailprice")} AS avg_price
         |FROM part p JOIN bands b
         |  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val bands = priceBands.toDF("band", "lo", "hi")
      graft.operators.ScaleJoins
        .bandJoin(Tables.part(s, dir).select(col("p_retailprice").as("price")),
          bands, "price")
        .filter(col("band").isNotNull)
        .groupBy("band")
        .agg(count(lit(1)).as("n"), Exact.davg(col("price")).as("avg_price"))
        .orderBy("band")
    },

    // ----- grouped stddev + z-score outlier detection. Cross-engine
    // determinism: stddev is derived from exact decimal sums (n, Σx, Σx²)
    // cast to double, then the SAME IEEE op sequence on both engines —
    // sqrt is correctly-rounded per IEEE-754, so unlike log/exp it is
    // bit-stable across libm implementations. Outliers = rows beyond
    // 2σ of their group mean; the stats frame is group-cardinality-sized,
    // so AQE broadcasts the join back onto the fact table — the fact side
    // is scanned twice but never shuffled.
    Q("a11_zscore_outliers", "A-stddev,W-outlier",
      """WITH stats AS (
        |  SELECT o_orderpriority AS priority, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
        |             * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM orders GROUP BY 1),
        |m AS (SELECT priority, n, s1 / n AS mean,
        |        sqrt((n * s2 - s1 * s1) / (n * (n - 1))) AS sd
        |      FROM stats),
        |c AS (SELECT o.o_orderpriority AS priority, COUNT(*) AS n_outliers
        |      FROM orders o JOIN m ON o.o_orderpriority = m.priority
        |      WHERE abs(o.o_totalprice - m.mean) > 2.0 * m.sd
        |      GROUP BY 1)
        |SELECT m.priority, m.n, round(m.mean, 6) AS mean,
        |       round(m.sd, 6) AS sd,
        |       COALESCE(c.n_outliers, 0) AS n_outliers
        |FROM m LEFT JOIN c ON m.priority = c.priority
        |ORDER BY m.priority""".stripMargin) { (s, dir) =>
      val dec = col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val stats = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(dec).cast("double").as("s1"),
          sum(dec * dec).cast("double").as("s2"))
      val m = stats.select(col("priority"), col("n"),
        (col("s1") / col("n")).as("mean"),
        sqrt((col("n") * col("s2") - col("s1") * col("s1")) /
          (col("n") * (col("n") - lit(1)))).as("sd"))
      val c = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("priority"), col("o_totalprice").as("x"))
        .join(m, "priority")
        .filter(abs(col("x") - col("mean")) > lit(2.0) * col("sd"))
        .groupBy("priority").agg(count(lit(1)).as("n_outliers"))
      m.join(c, Seq("priority"), "left")
        .select(col("priority"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("sd"), 6).as("sd"),
          coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
        .orderBy("priority")
    },

    // ----- cohort retention: users bucketed by first-active week, distinct
    // activity counted per (cohort, weeks-since) cell — the canonical
    // engagement matrix. Scale shape: distinctness is resolved FIRST by one
    // (user, week) dedup (map-side combine collapses each user's events
    // before the shuffle), the cohort is one more user-key agg, and the
    // final cell agg runs on user-week rows, never raw events. No window,
    // no per-cell COUNT(DISTINCT user) over events — at 100 TB the
    // event→user-week reduction is where the data dies.
    Q("e7_retention", "A6,F12,J1,W-cohort",
      """WITH a AS (SELECT DISTINCT user_id,
        |             date_trunc('week', CAST(ts AS DATE))::DATE AS week
        |           FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1)
        |SELECT c.cohort_week,
        |       CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INT)
        |         AS weeks_since,
        |       count(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val a = Tables.events(s, dir)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .distinct()
      val c = a.groupBy("user_id").agg(min("week").as("cohort_week"))
      a.join(c, "user_id")
        .groupBy(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7)
            .cast(IntegerType).as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "weeks_since")
    },

    // ----- full outer join: order-day activity vs event-day activity —
    // the one join type the inventory lacked. Both sides are pre-aggregated
    // to day cardinality before the join, so the full-outer shuffle moves
    // day-rows, not facts; the USING key coalesces automatically. The date
    // ranges genuinely differ (orders span 1995-1998, events 2024), so
    // both unmatched sides are exercised, not just the happy path.
    Q("j15_full_outer", "J-full-outer,A1,F12",
      """WITH od AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |              count(*) AS n_orders FROM orders GROUP BY 1),
        |ev AS (SELECT CAST(ts AS DATE) AS day,
        |         count(*) AS n_events FROM events GROUP BY 1)
        |SELECT COALESCE(od.day, ev.day) AS day,
        |       COALESCE(n_orders, 0) AS n_orders,
        |       COALESCE(n_events, 0) AS n_events,
        |       CASE WHEN od.day IS NULL THEN 'events_only'
        |            WHEN ev.day IS NULL THEN 'orders_only'
        |            ELSE 'both' END AS presence
        |FROM od FULL OUTER JOIN ev ON od.day = ev.day
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val od = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val ev = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      od.join(ev, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          when(col("n_orders").isNull, "events_only")
            .when(col("n_events").isNull, "orders_only")
            .otherwise("both").as("presence"))
        .orderBy("day")
    },

    // ----- date-spine gap fill + forward fill: sparse daily totals (the
    // P/1-URGENT slice leaves ~2/3 of days empty at sf0.01) densified over
    // a generated calendar spine, gaps carrying the last observed value —
    // the time-series-regularization op every reporting layer needs. The
    // spine is generated from a 1-row min/max aggregate via sequence()
    // (never collected to the driver); the forward-fill window is
    // unpartitioned but runs on the day-cardinality spine, a
    // presentation-sized axis, not the fact table. The windowed value stays
    // DECIMAL through the frame (order-independent addition), cast to
    // double only on output.
    Q("w13_gap_fill", "W7,F12,S13,W-gapfill",
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |  FROM orders
        |  WHERE o_orderstatus = 'P' AND o_orderpriority = '1-URGENT'
        |  GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT min(day) FROM d),
        |                                (SELECT max(day) FROM d),
        |                                INTERVAL 1 DAY))::DATE AS day),
        |j AS (SELECT s.day, d.total FROM spine s LEFT JOIN d ON s.day = d.day)
        |SELECT day, CAST(COALESCE(total, 0) AS DOUBLE) AS day_total,
        |  CAST(last_value(total IGNORE NULLS) OVER (
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS filled_total,
        |  total IS NULL AS is_gap
        |FROM j ORDER BY day""".stripMargin) { (s, dir) =>
      val dec = col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val d = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "P"
          && col("o_orderpriority") === "1-URGENT")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(dec).as("total"))
      val spine = d.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(d, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("total"), lit(0)).cast("double").as("day_total"),
          last(col("total"), ignoreNulls = true).over(w)
            .cast("double").as("filled_total"),
          col("total").isNull.as("is_gap"))
        .orderBy("day")
    },

    // ----- GROUPING SETS: two independent one-dimension margins + the
    // grand total in ONE pass — distinct from a12's ROLLUP (nested
    // subtotals) and a13's pivot (wide layout). A single Expand feeds one
    // aggregate: the fact table is scanned once, not once per margin;
    // grouping() flags + COALESCE labels keep engine NULL-ordering out of
    // the compare (same trick as a12).
    Q("a15_grouping_sets", "A1,A7,A-groupingsets",
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |       COALESCE(o_orderpriority, 'ALL') AS priority,
         |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
         |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
         |       COUNT(*) AS n,
         |       ${Exact.sqlSum("o_totalprice")} AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY g_status, g_priority, status, priority""".stripMargin) {
      (s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("o_totalprice")).as("total"),
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("g_status"), col("g_priority"), col("n"), col("total"))
        .orderBy("g_status", "g_priority", "status", "priority")
    },

    // ----- CUBE: all 2² grouping combinations in one pass — the
    // completion of the subtotal family (a12 ROLLUP: hierarchical
    // prefixes; a15 GROUPING SETS: explicit margins; CUBE: the full
    // lattice). Same Expand-based plan: the fact is read ONCE and each
    // row fans to its 4 grouping combinations map-side, partial-agg
    // before the one shuffle — never 4 scans.
    Q("a17_cube", "A1,A7,A-cube",
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |       COALESCE(o_orderpriority, 'ALL') AS priority,
         |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
         |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
         |       COUNT(*) AS n,
         |       ${Exact.sqlSum("o_totalprice")} AS total
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_priority, status, priority""".stripMargin) {
      (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("o_totalprice")).as("total"),
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("g_status"), col("g_priority"), col("n"), col("total"))
        .orderBy("g_status", "g_priority", "status", "priority")
    },

    // ----- correlated scalar subquery, written AS SQL and left to
    // Catalyst's decorrelation: each urgent order compared against ITS
    // customer's average spend. The optimizer rewrites the correlated
    // aggregate into one grouped subplan + an equi-join — the plan a
    // hand-decorrelated DataFrame program would build — instead of
    // re-executing the subquery per row; `.explain` shows no nested
    // subplan, just HashAggregate + join. The one-shuffle-per-key-op
    // rule survives the rewrite.
    Q("o2_correlated_subquery", "O-subquery,J5,A4",
      s"""SELECT o_orderkey, o_custkey,
         |  CAST(o_totalprice AS DOUBLE) AS price,
         |  (SELECT ${Exact.sqlAvg("o2.o_totalprice")}
         |   FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg
         |FROM orders o
         |WHERE o_orderpriority = '1-URGENT'
         |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        s"""SELECT o_orderkey, o_custkey,
           |  CAST(o_totalprice AS DOUBLE) AS price,
           |  (SELECT ${Exact.sqlAvg("o2.o_totalprice")}
           |   FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg
           |FROM orders_v o
           |WHERE o_orderpriority = '1-URGENT'
           |ORDER BY o_orderkey""".stripMargin)
    },

    // ----- fixed-width histogram: floor-division bucketing (vs j13's
    // irregular interval containment — different operator, different plan:
    // no join at all here). bucket = floor(x / w) is one narrow map fused
    // into the scan, then a single agg; the double division and floor are
    // the same IEEE ops in both engines, so bucket edges can't disagree.
    Q("a16_histogram", "A1,A4,F-bucket",
      s"""SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket,
         |       CAST(floor(o_totalprice / 50000.0) * 50000.0 AS DOUBLE)
         |         AS lo,
         |       COUNT(*) AS n,
         |       ${Exact.sqlAvg("o_totalprice")} AS avg_price
         |FROM orders GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, dir) =>
      val b = floor(col("o_totalprice") / lit(50000.0))
      Tables.orders(s, dir)
        .groupBy(b.cast(IntegerType).as("bucket"),
          (b * lit(50000.0)).cast("double").as("lo"))
        .agg(count(lit(1)).as("n"),
          Exact.davg(col("o_totalprice")).as("avg_price"))
        .orderBy("bucket")
    },

    // ----- SCD2 interval build: each user's event_type change-points
    // become effective-dated validity rows (valid_from, valid_to,
    // is_current) — the reference's dimension tables are SCD1 overwrites
    // (Batch_Silver_to_Gold...py:199-213); this is the type-2 variant a
    // warehouse needs for history. Two user-partitioned windows (lag to
    // find change-points, lead to close intervals) — user-key parallel,
    // no unpartitioned state; ties at identical timestamps are broken by
    // event_id so the segmentation is deterministic in both engines.
    Q("s15_scd2_intervals", "W5,W6,S-scd2,F10",
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |seg AS (
        |  SELECT user_id, event_type, ts AS valid_from, event_id
        |  FROM o WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, event_id, valid_from,
        |       lead(valid_from) OVER (PARTITION BY user_id
        |         ORDER BY valid_from, event_id) AS valid_to,
        |       (lead(valid_from) OVER (PARTITION BY user_id
        |          ORDER BY valid_from, event_id) IS NULL) AS is_current
        |FROM seg ORDER BY user_id, valid_from, event_id""".stripMargin) {
      (s, dir) =>
      val w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val seg = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag("event_type", 1).over(w1))
        .filter(col("prev_type").isNull
          || col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts").as("valid_from"))
      val w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
      seg
        .withColumn("valid_to", lead("valid_from", 1).over(w2))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from", "event_id")
    },

    // ----- incremental aggregate maintenance (partial-merge): the standing
    // per-priority order aggregate is kept as mergeable partials
    // (count, exact-decimal sum) and a new delta batch folds in WITHOUT
    // re-reading history — union the partial tables, re-aggregate. The
    // harness simulates state vs delta with the t11 deterministic hash
    // split (90% standing state / 10% arrivals); the oracle aggregates the
    // FULL table directly, so a green row PROVES merge(state, delta) ≡
    // full recompute — the algebraic property incremental pipelines rest
    // on. At 100 TB the state partials are a persisted
    // priority-cardinality table and cost scales with the batch only.
    Q("s16_incremental_agg", "S-incremental,A1,A7",
      s"""SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
         |  ${Exact.sqlSum("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val isDelta = pmod(
        TF.polyHash(concat(lit("incr|"), col("o_orderkey").cast("string"))),
        lit(100L)) < 10
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("s"))
      val state = partials(Tables.orders(s, dir).filter(!isDelta))
      val delta = partials(Tables.orders(s, dir).filter(isDelta))
      state.unionByName(delta)
        .groupBy("priority")
        .agg(sum("n").as("n_orders"), sum("s").cast("double").as("total"))
        .orderBy("priority")
    },

    // ----- Markov transition matrix over event sequences: P(next | cur)
    // per event_type from each user's time-ordered stream — the
    // behavioral-model twin of t21's text bigrams, but windowed (lead over
    // the user partition) instead of array-exploded, because event
    // sequences live across ROWS. One user-key shuffle for the window,
    // then type²-cardinality aggregates; the denominator derives from the
    // transition agg, never a second event pass.
    Q("e8_transition_matrix", "W5,A1,A10,LM-markov",
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, count(*) AS n
        |      FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
        |        FROM c GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n, t.n_total,
        |       round(CAST(c.n AS DOUBLE) / t.n_total, 6) AS p
        |FROM c JOIN tot t USING (event_type)
        |ORDER BY c.event_type, c.next_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val c = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
      val tot = c.groupBy("event_type").agg(sum("n").as("n_total"))
      c.join(tot, "event_type")
        .select(col("event_type"), col("next_type"), col("n"), col("n_total"),
          round(col("n").cast("double") / col("n_total"), 6).as("p"))
        .orderBy("event_type", "next_type")
    },

    // ----- trailing z-score anomaly flag on the daily event volume: each
    // day scored against the PRECEDING 28 days (frame ends at 1 PRECEDING
    // — the scored day never contaminates its own baseline), anomalous
    // when |z| > 3 with ≥ 14 days of history. Mean/variance come from
    // exact integer Σn and Σn² over the frame — never stddev_samp, whose
    // accumulation internals differ per engine — widened through
    // DECIMAL(38,0) (daily counts at 100 TB put n² past BIGINT), then one
    // fixed order of double ops: var = (ss − s·s/m)/(m−1). The window is
    // a global ORDER BY day, safe at any corpus size: the frame is the
    // post-aggregate calendar (≤ 366 rows/year), not the fact table.
    Q("e9_volume_anomaly", "EVT-anomaly,W5,A1",
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |           FROM events GROUP BY 1),
        |w AS (SELECT day, n,
        |    CAST(sum(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)))
        |         OVER fr AS DOUBLE) AS ss,
        |    CAST(sum(CAST(n AS DECIMAL(38,0))) OVER fr AS DOUBLE) AS s,
        |    count(*) OVER fr AS m
        |  FROM d
        |  WINDOW fr AS (ORDER BY day
        |                ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
        |SELECT day, n,
        |  CASE WHEN m >= 14 AND (ss - s * s / m) / (m - 1) > 0
        |       THEN (CAST(n AS DOUBLE) - s / m)
        |            / sqrt((ss - s * s / m) / (m - 1)) END AS z,
        |  CASE WHEN m >= 14 AND (ss - s * s / m) / (m - 1) > 0
        |       THEN abs((CAST(n AS DOUBLE) - s / m)
        |            / sqrt((ss - s * s / m) / (m - 1))) > 3 END
        |    AS is_anomaly
        |FROM w ORDER BY day""".stripMargin) { (s, dir) =>
      val dec18 = org.apache.spark.sql.types.DecimalType(18, 0)
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val d = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val fr = Window.orderBy("day").rowsBetween(-28, -1)
      val w = d.select(col("day"), col("n"),
        sum(col("n").cast(dec18) * col("n").cast(dec18)).over(fr)
          .cast("double").as("ss"),
        sum(col("n").cast(dec38)).over(fr).cast("double").as("s"),
        count(lit(1)).over(fr).as("m"))
      val varr = (col("ss") - col("s") * col("s") / col("m")) / (col("m") - 1)
      val z = (col("n").cast("double") - col("s") / col("m")) / sqrt(varr)
      val guard = col("m") >= 14 && varr > 0
      w.select(col("day"), col("n"),
          when(guard, z).as("z"),
          when(guard, abs(z) > 3).as("is_anomaly"))
        .orderBy("day")
    },

    // ----- snapshot diff (CDC between table versions): classify every key
    // across two snapshots as added / removed / changed / unchanged — the
    // change-data-capture pass a warehouse runs when upstream can't emit a
    // changelog. Snapshots are simulated deterministically from one table
    // (v1 = hash<90, v2 = hash≥5 with prices bumped on hash∈[50,60)), so
    // both engines derive identical versions; the diff itself is ONE full
    // outer join on the key + null/value classification — at 100 TB both
    // sides shuffle once on the key, the unavoidable minimum, and the
    // value compare rides the join row. Emits non-unchanged rows only
    // (the changelog, not the table).
    Q("s18_snapshot_diff", "S-cdc-diff,J15,F10", {
      val h = s"${TS.hash("'diff|' || o_orderkey")} % 100"
      s"""WITH v1 AS (
         |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
         |  FROM orders WHERE $h < 90),
         |v2 AS (
         |  SELECT o_orderkey AS k,
         |    CASE WHEN $h >= 50 AND $h < 60
         |         THEN CAST(o_totalprice AS DOUBLE) + 1.0
         |         ELSE CAST(o_totalprice AS DOUBLE) END AS price
         |  FROM orders WHERE $h >= 5)
         |SELECT COALESCE(v1.k, v2.k) AS k,
         |  CASE WHEN v1.k IS NULL THEN 'added'
         |       WHEN v2.k IS NULL THEN 'removed'
         |       ELSE 'changed' END AS change_type,
         |  v1.price AS old_price, v2.price AS new_price
         |FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
         |WHERE v1.k IS NULL OR v2.k IS NULL OR v1.price <> v2.price
         |ORDER BY k""".stripMargin
    }) { (s, dir) =>
      val (v1, v2) = cdcSnapshots(s, dir)
      cdcChangelog(v1, v2).orderBy("k")
    },

    // ----- full CRUD merge (changelog apply): the s18 diff applied back
    // onto v1 through [[graft.operators.MergeApply]] — insert + update +
    // delete in one operator (s11 covers only the insert-only flavor).
    // The ORACLE states v2 directly, so a green row PROVES the CDC round
    // trip apply(v1, diff(v1, v2)) ≡ v2 — the algebraic contract a
    // change-feed consumer rests on. Plan: the changelog is delta-sized,
    // so the anti join broadcasts it; one union; no extra shuffle beyond
    // the diff's own key join.
    Q("s19_merge_full_apply", "S-merge-full,S11,J8", {
      val h = s"${TS.hash("'diff|' || o_orderkey")} % 100"
      s"""SELECT o_orderkey AS k,
         |  CASE WHEN $h >= 50 AND $h < 60
         |       THEN CAST(o_totalprice AS DOUBLE) + 1.0
         |       ELSE CAST(o_totalprice AS DOUBLE) END AS price
         |FROM orders WHERE $h >= 5 ORDER BY k""".stripMargin
    }) { (s, dir) =>
      val (v1, v2) = cdcSnapshots(s, dir)
      val changes = cdcChangelog(v1, v2)
        .select(col("k"), col("new_price").as("price"), col("change_type"))
      graft.operators.MergeApply(v1, changes, Seq("k"))
        .orderBy("k")
    },

    // ----- SQL-route MERGE: the same CDC contract as s19, but the Spark
    // side is LITERAL `MERGE INTO` SQL against a [[graft.sources
    // .GraftCatalog]] DataSource-v2 table (the reference's upsert is a SQL
    // MERGE, AS2G notebook-content.py:271-349 — this is the one surface a
    // SQL user couldn't reach through the operator route). Spark's
    // RewriteMergeIntoTable plans it as a group-based copy-on-write
    // against the table's RowLevelOperation; the oracle states v2
    // directly, so a green row proves MERGE INTO(v1, diff(v1,v2)) ≡ v2
    // end-to-end through the analyzer/planner SQL path.
    Q("s20_merge_sql", "S-merge-sql,S11,J9", {
      val h = s"${TS.hash("'diff|' || o_orderkey")} % 100"
      s"""SELECT o_orderkey AS k,
         |  CASE WHEN $h >= 50 AND $h < 60
         |       THEN CAST(o_totalprice AS DOUBLE) + 1.0
         |       ELSE CAST(o_totalprice AS DOUBLE) END AS price
         |FROM orders WHERE $h >= 5 ORDER BY k""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val (v1, v2) = cdcSnapshots(s, dir)
      val changes = cdcChangelog(v1, v2)
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.s20_target")
      v1.writeTo("graft_cat.ns.s20_target").create()
      changes.createOrReplaceTempView("s20_changes")
      s.sql(
        """MERGE INTO graft_cat.ns.s20_target t
          |USING s20_changes c
          |ON t.k = c.k
          |WHEN MATCHED AND c.change_type = 'removed' THEN DELETE
          |WHEN MATCHED AND c.change_type = 'changed'
          |  THEN UPDATE SET t.price = c.new_price
          |WHEN NOT MATCHED AND c.change_type = 'added'
          |  THEN INSERT (k, price) VALUES (c.k, c.new_price)""".stripMargin)
      s.table("graft_cat.ns.s20_target").orderBy("k")
    },

    // ----- partitioned SQL-route MERGE: same literal `MERGE INTO` path as
    // s20, but the DSv2 target is created PARTITIONED BY the priority
    // column, so the table's row-level scan supports runtime group
    // filtering and Spark's group-filter subquery narrows the
    // copy-on-write to the ONE partition the changelog touches — the
    // delta-sized rewrite a real lakehouse format does per file
    // (GraftCatalogSpec proves rows outside the touched partition are
    // physically carried over by reference). The oracle states the
    // post-merge table directly, so a green row proves the narrowed
    // rewrite still lands exactly the full MERGE semantics: deletes,
    // updates and inserts confined to the urgent partition, every other
    // partition byte-identical.
    Q("s29_merge_partitioned", "S-merge-partitioned,S11,S9", {
      val h = s"${TS.hash("'pm|' || o_orderkey")} % 100"
      s"""WITH t AS (
         |  SELECT o_orderkey AS k, o_orderpriority AS pr,
         |    CAST(o_totalprice AS DOUBLE) AS price, $h AS h
         |  FROM orders)
         |SELECT k, pr,
         |  CASE WHEN pr = '1-URGENT' AND h >= 10 AND h < 30
         |       THEN price + 1.0 ELSE price END AS price
         |FROM t WHERE NOT (pr = '1-URGENT' AND h < 10)
         |UNION ALL
         |SELECT 10000000 + k, '1-URGENT', CAST(k AS DOUBLE)
         |FROM t WHERE pr = '1-URGENT' AND h >= 30 AND h < 35
         |ORDER BY k""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val target = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_orderpriority").as("pr"),
          col("o_totalprice").cast("double").as("price"))
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.s29_target")
      target.writeTo("graft_cat.ns.s29_target")
        .partitionedBy(col("pr")).create()
      // changelog confined to the urgent partition: h<10 removed,
      // h∈[10,30) price bump, h∈[30,35) fresh keys (offset past the key
      // space) inserted with price = the seed key
      val urgent = target.filter(col("pr") === "1-URGENT")
        .withColumn("h", pmod(TF.polyHash(
          concat(lit("pm|"), col("k").cast("string"))), lit(100L)))
      val changes =
        urgent.filter(col("h") < 10)
          .select(col("k"), col("pr"), lit(null).cast("double").as("new_price"),
            lit("removed").as("change_type"))
        .unionByName(urgent.filter(col("h") >= 10 && col("h") < 30)
          .select(col("k"), col("pr"), (col("price") + 1.0).as("new_price"),
            lit("changed").as("change_type")))
        .unionByName(urgent.filter(col("h") >= 30 && col("h") < 35)
          .select((col("k") + 10000000L).as("k"), col("pr"),
            col("k").cast("double").as("new_price"),
            lit("added").as("change_type")))
      changes.createOrReplaceTempView("s29_changes")
      s.sql(
        """MERGE INTO graft_cat.ns.s29_target t
          |USING s29_changes c
          |ON t.k = c.k
          |WHEN MATCHED AND c.change_type = 'removed' THEN DELETE
          |WHEN MATCHED AND c.change_type = 'changed'
          |  THEN UPDATE SET t.price = c.new_price
          |WHEN NOT MATCHED AND c.change_type = 'added'
          |  THEN INSERT (k, pr, price) VALUES (c.k, c.pr, c.new_price)"""
          .stripMargin)
      s.table("graft_cat.ns.s29_target").orderBy("k")
    },

    // ----- SQL schema evolution on the DSv2 catalog: the reference's
    // Delta `overwriteSchema` (Batch_Bronze_to_Silver
    // notebook-content.py:200) as a real `ALTER TABLE ADD COLUMNS` —
    // create from the pre-1995 snapshot (two columns), evolve the schema,
    // append post-1995 rows carrying the new column. The evolved-schema
    // scan must read every pre-evolution row with NULL in the added
    // column; the oracle restates the whole history as a UNION-BY-NAME of
    // the two snapshot shapes. A lost pad, a positional misalignment, or
    // an eager default would all break the hash.
    Q("s30_schema_evolution", "S-schema-evolution,S4,S5",
      """WITH old AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
        |    CAST(NULL AS VARCHAR) AS priority
        |  FROM orders WHERE year(o_orderdate) < 1995),
        |new AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
        |    o_orderpriority AS priority
        |  FROM orders WHERE year(o_orderdate) >= 1995)
        |SELECT * FROM old UNION ALL SELECT * FROM new
        |ORDER BY k""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.s30_target")
      val orders = Tables.orders(s, dir)
      orders.filter(year(col("o_orderdate")) < 1995)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"))
        .writeTo("graft_cat.ns.s30_target").create()
      s.sql("ALTER TABLE graft_cat.ns.s30_target ADD COLUMNS (priority STRING)")
      orders.filter(year(col("o_orderdate")) >= 1995)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          col("o_orderpriority").as("priority"))
        .writeTo("graft_cat.ns.s30_target").append()
      s.table("graft_cat.ns.s30_target").orderBy("k")
    },

    // ----- Time travel (VERSION AS OF): the Delta transaction-log read
    // path the r6 verdict scoped out for lack of Delta jars, now served
    // natively from the DSv2 catalog's own commit history (every commit
    // is already a copy-on-write array swap, so history holds
    // references — O(1) per snapshot). The table walks three commits
    // (CTAS of the pre-1995 snapshot, append of the rest, an UPDATE) and
    // the query reads ALL THREE VERSIONS of the same table; the oracle
    // restates each version's state directly from the source — a
    // snapshot that leaked a later commit's rows, or lost its own,
    // breaks the hash.
    Q("s32_time_travel", "S-time-travel,S10,A7", {
      val h = s"${TS.hash("'tt|' || o_orderkey")} % 10"
      s"""WITH v1 AS (SELECT o_orderkey AS k,
         |              CAST(o_totalprice AS DOUBLE) AS price
         |            FROM orders WHERE year(o_orderdate) < 1995),
         |v2 AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
         |       FROM orders),
         |v3 AS (SELECT o_orderkey AS k,
         |         CASE WHEN $h = 0 THEN CAST(o_totalprice AS DOUBLE) * 1.1
         |              ELSE CAST(o_totalprice AS DOUBLE) END AS price
         |       FROM orders)
         |SELECT 1 AS version, count(*) AS n,
         |  ${Exact.sqlSum("price", 3)} AS total
         |FROM v1
         |UNION ALL
         |SELECT 2, count(*), ${Exact.sqlSum("price", 3)} FROM v2
         |UNION ALL
         |SELECT 3, count(*), ${Exact.sqlSum("price", 3)} FROM v3
         |ORDER BY version""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s32_target"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("tt|"), col("o_orderkey").cast("string"))), lit(10L))
            .as("h"),
          year(col("o_orderdate")).as("yr"))
      base.filter(col("yr") < 1995).drop("yr")
        .writeTo(t).create()                                    // version 1
      base.filter(col("yr") >= 1995).drop("yr")
        .writeTo(t).append()                                    // version 2
      s.sql(s"UPDATE $t SET price = price * 1.1 WHERE h = 0")   // version 3
      (1 to 3).map(v =>
        s.sql(s"SELECT * FROM $t VERSION AS OF $v")
          .agg(count(lit(1)).as("n"),
            // scale 3: the updated prices are 2-decimal values × 1.1 —
            // exactly 3 decimal digits, so a scale-2 cast would sit on
            // half-ties the engines round differently
            Exact.dsum(col("price"), 3).as("total"))
          .select(lit(v).as("version"), col("n"), col("total")))
        .reduce(_ unionByName _)
        .orderBy("version")
    },

    // ----- Z-order clustering + zone-map skip census: the lakehouse
    // layout optimizer (Delta OPTIMIZE ZORDER, which the reference's
    // platform runs under the hood) as an explicit, oracle-proven
    // operator. Rows are quantized to 16 order-preserving bins per
    // dimension, bits interleaved into a Morton code, and "files" laid
    // out along the curve; each file's min/max zone map then prunes a
    // 2-D box query. The census compares z-order against an x-sorted
    // linear layout over the SAME rows: the linear layout's files span
    // the full y range (its y zone maps are useless), the z-order
    // layout's files cover rectangles — fewer files scanned for the same
    // exact answer. All bins/codes/zone maps are exact integer
    // arithmetic, so layout and census hash-match cross-engine; the
    // physical-layout twin (real partitioned files whose per-file stats
    // equal this zone map, skipped reads losing no rows) is pinned in
    // ZOrderSpec. At 100 TB this decides whether a selective scan reads
    // 2 files or 2000.
    Q("s31_zorder_skipping", "S-zorder,S8,A5", {
      import graft.operators.ZOrder
      val bx = ZOrder.bin16Sql("x", "minx", "maxx")
      val byy = ZOrder.bin16Sql("y", "miny", "maxy")
      s"""WITH pts AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
         |mm AS (SELECT min(x) AS minx, max(x) AS maxx,
         |              min(y) AS miny, max(y) AS maxy FROM pts),
         |b AS (SELECT $bx AS bx, $byy AS byy FROM pts, mm),
         |z AS (SELECT bx, byy, ${ZOrder.mortonSql("bx", "byy")} // 16 AS fz,
         |        bx AS fl,
         |        CASE WHEN bx BETWEEN 4 AND 5 AND byy BETWEEN 4 AND 5
         |             THEN 1 ELSE 0 END AS m
         |      FROM b),
         |u AS (SELECT 'zorder' AS layout, fz AS f, count(*) AS nr,
         |        min(bx) AS minbx, max(bx) AS maxbx,
         |        min(byy) AS minby, max(byy) AS maxby, sum(m) AS mt
         |      FROM z GROUP BY 2
         |      UNION ALL
         |      SELECT 'linear', fl, count(*), min(bx), max(bx),
         |        min(byy), max(byy), sum(m)
         |      FROM z GROUP BY 2),
         |c AS (SELECT layout, nr, mt,
         |        NOT (maxbx < 4 OR minbx > 5 OR maxby < 4 OR minby > 5)
         |          AS scanned
         |      FROM u)
         |SELECT layout, count(*) AS n_files,
         |  CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
         |    AS files_scanned,
         |  CAST(sum(CASE WHEN scanned THEN nr ELSE 0 END) AS BIGINT)
         |    AS rows_scanned,
         |  CAST(sum(mt) AS BIGINT) AS n_match,
         |  round(CAST(sum(CASE WHEN scanned THEN nr ELSE 0 END) AS DOUBLE)
         |    / sum(nr), 6) AS scan_fraction
         |FROM c GROUP BY layout ORDER BY layout""".stripMargin
    }) { (s, dir) =>
      import graft.operators.ZOrder
      val pts = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
      val mm = pts.agg(min("x").as("minx"), max("x").as("maxx"),
        min("y").as("miny"), max("y").as("maxy"))
      val z = pts.crossJoin(broadcast(mm))
        .select(ZOrder.bin16(col("x"), col("minx"), col("maxx")).as("bx"),
          ZOrder.bin16(col("y"), col("miny"), col("maxy")).as("byy"))
        .select(col("bx"), col("byy"),
          ZOrder.morton(col("bx"), col("byy")).as("zv"))
        .select(col("bx"), col("byy"),
          expr("zv DIV 16").as("fz"), col("bx").as("fl"),
          when(col("bx").between(4, 5) && col("byy").between(4, 5), 1L)
            .otherwise(0L).as("m"))
      def census(fileCol: String, label: String) =
        z.groupBy(col(fileCol).as("f"))
          .agg(count(lit(1)).as("nr"),
            min("bx").as("minbx"), max("bx").as("maxbx"),
            min("byy").as("minby"), max("byy").as("maxby"),
            sum("m").as("mt"))
          .withColumn("scanned",
            !(col("maxbx") < 4 || col("minbx") > 5 ||
              col("maxby") < 4 || col("minby") > 5))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
            sum(when(col("scanned"), col("nr")).otherwise(0L))
              .as("rows_scanned"),
            sum(col("mt")).as("n_match"),
            round(sum(when(col("scanned"), col("nr")).otherwise(0L))
              .cast("double") / sum(col("nr")), 6).as("scan_fraction"))
          .select(lit(label).as("layout"), col("n_files"),
            col("files_scanned"), col("rows_scanned"), col("n_match"),
            col("scan_fraction"))
      census("fz", "zorder").unionByName(census("fl", "linear"))
        .orderBy("layout")
    },

    // ----- S7 write-side twin: CSV sink + header/schema read-back round
    // trip. CSV is the reference's dummy-gold interchange format (S7 reads
    // it with header promotion + explicit typing); this proves the WRITE
    // side and the schema-enforced re-read reproduce the source exactly.
    // quoteAll + explicit escape pins the dialect so the round trip stays
    // engine-independent even for values with delimiters or quotes.
    Q("s27_csv_roundtrip", "S7,S5",
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val dest = TempDirs.scratch("graft-s27") + "/t"
      Tables.nation(s, dir).write
        .option("header", true)
        // quoteAll + explicit escape pin the dialect up front, so the
        // same writer config stays correct when a column DOES carry
        // delimiters or quotes (nation's columns happen not to)
        .option("quoteAll", true).option("escape", "\"")
        .csv(dest)
      // no multiLine: these values carry no embedded newlines, and
      // multiLine would force each file onto a single unsplittable task
      s.read.option("header", true).option("escape", "\"")
        .schema(Tables.nation(s, dir).schema)
        .csv(dest)
        .orderBy("n_nationkey")
    },

    // ----- JSON-lines sink + scan round trip: the interchange format of
    // every doc-corpus exchange. Writes the typed rows as JSONL, reads
    // them back schema-enforced, re-aggregates — type preservation
    // (BIGINT vs DOUBLE vs STRING) through the text format is the
    // contract under test.
    Q("s28_json_roundtrip", "S1,S4,S5",
      s"""SELECT event_type, count(*) AS n,
         |  ${Exact.sqlSum("value", 2)} AS total
         |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      val dest = TempDirs.scratch("graft-s28") + "/t"
      val src = Tables.events(s, dir)
        .select("event_id", "event_type", "value")
      src.write.json(dest)
      s.read.schema(src.schema).json(dest)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("value")).as("total"))
        .orderBy("event_type")
    },

    // ----- SQL-route UPDATE + DELETE: the other two row-level statements
    // through the same DSv2 route as s20 — literal UPDATE/DELETE SQL
    // planned as group-based copy-on-write. The oracle restates both
    // statements declaratively (CASE for the update, WHERE NOT for the
    // delete), so a green row proves statement ≡ relational semantics
    // through the analyzer path.
    Q("s26_sql_update_delete", "S-update-sql,S-delete-sql,P4", {
      val h = s"${TS.hash("'upd|' || o_orderkey")} % 100"
      s"""SELECT o_orderkey AS k,
         |  CASE WHEN $h < 20 THEN CAST(o_totalprice AS DOUBLE) * 1.1
         |       ELSE CAST(o_totalprice AS DOUBLE) END AS price
         |FROM orders WHERE NOT ($h >= 80) ORDER BY k""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val h = pmod(TF.polyHash(
        concat(lit("upd|"), col("o_orderkey").cast("string"))), lit(100L))
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.s26_target")
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"), h.as("h"))
        .writeTo("graft_cat.ns.s26_target").create()
      s.sql("UPDATE graft_cat.ns.s26_target SET price = price * 1.1 WHERE h < 20")
      s.sql("DELETE FROM graft_cat.ns.s26_target WHERE h >= 80")
      s.table("graft_cat.ns.s26_target").select("k", "price").orderBy("k")
    },

    // ----- DURABLE lakehouse round trip: the same row-level statements
    // against a WAREHOUSE-backed catalog table (parquet segments + JSON
    // commit log on disk), read back through a SECOND catalog instance
    // with a private store — the in-JVM restart: everything it serves
    // comes exclusively from replaying the on-disk log. The UPDATE is a
    // partition-scoped COW (untouched partitions' segments are never
    // opened — GraftDurableSpec pins the census), the DELETE is a
    // metadata-only partition drop, and the green hash proves the
    // persisted bytes round-trip bit-exact through write → log → replay
    // → scan. The reference's silver/gold tables are exactly this
    // (Delta data files + log, Batch_Bronze_to_Silver
    // notebook-content.py:200 saveAsTable).
    Q("s49_durable_restart", "S8,S10,S-update-sql,S-delete-sql,E-durable", {
      val h = s"(${TS.hash("'dur|' || o_orderkey")} % 100) % 4"
      s"""SELECT CAST($h AS INT) AS p, count(*) AS n,
         |  ${Exact.sqlSum(s"CASE WHEN $h = 1 THEN CAST(o_totalprice AS DOUBLE) * 2" +
        s" ELSE CAST(o_totalprice AS DOUBLE) END")} AS total
         |FROM orders WHERE $h <> 3
         |GROUP BY 1 ORDER BY p""".stripMargin
    }) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s49")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gdw_$tag" // writer "process"
      val r = s"gdr_$tag" // reader "process" (isolated store = restart)
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val h = pmod(TF.polyHash(
        concat(lit("dur|"), col("o_orderkey").cast("string"))), lit(100L))
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          (h % 4).cast("int").as("p"))
        .writeTo(s"$w.ns.t").partitionedBy(col("p")).create()
      s.sql(s"UPDATE $w.ns.t SET price = price * 2 WHERE p = 1")
      s.sql(s"DELETE FROM $w.ns.t WHERE p = 3")
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.t")
        .groupBy("p")
        .agg(count(lit(1)).as("n"), Exact.dsum(col("price")).as("total"))
        .orderBy("p")
    },

    // ----- durable CTAS at the benchmark's largest table: write
    // LINEITEM (6M rows/GB of SF) into a partitioned warehouse table —
    // every segment parquet-encoded INSIDE a writer task, commit
    // messages carrying only file refs + stats (GraftExecWriteSpec pins
    // the census) — then read it back COLD through an isolated second
    // catalog instance (pure log replay + segment streaming). This row
    // exists to keep the executor-side write path ON the bench
    // contract: a regression that funnels data through the driver shows
    // up here first. 100 TB shape: write cost scales with writer-task
    // count, driver cost with file COUNT only.
    Q("s50_durable_ctas", "S8,S5,E-durable,E-exec-write",
      """SELECT l_returnflag AS rf, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY rf""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s50")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gcw_$tag"
      val r = s"gcr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"),
          col("l_returnflag").as("rf"))
        .writeTo(s"$w.ns.li").partitionedBy(col("rf")).create()
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.li")
        .groupBy("rf")
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty"))
        .orderBy("rf")
    },

    // ----- REPLACE TABLE lifecycle on the durable catalog: CREATE a
    // wide table, CREATE OR REPLACE it with a different (aggregated)
    // shape, read the result through a FRESH isolated catalog — restart
    // parity across the replace. The catalog is a StagingTableCatalog
    // (round 13): the replacement stages invisibly in a nested
    // `stage-<uuid>/` dir (writes land executor-side), its field ids
    // seed DISJOINT from the target's, and the commit is same-volume
    // segment renames plus ONE schema-swapping entry on the target's
    // own log under the commit lease — Delta's atomic,
    // history-preserving replace. A crash at any pre-commit point
    // leaves the old table serving; time travel to pre-replace
    // versions still works; the change feed refuses to read across the
    // swap (GraftReplaceTableSpec pins all of it).
    Q("s51_replace_table", "S10,E-durable,DDL-replace",
      """SELECT n_regionkey AS rk, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey ORDER BY rk""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s51")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"grw_$tag"
      val r = s"grr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      Tables.nation(s, dir).writeTo(s"$w.ns.nat").create()
      Tables.nation(s, dir).createOrReplaceTempView(s"nat_src_$tag")
      s.sql(
        s"""CREATE OR REPLACE TABLE $w.ns.nat AS
           |SELECT n_regionkey AS rk, count(*) AS n,
           |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
           |FROM nat_src_$tag GROUP BY n_regionkey""".stripMargin)
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.nat").orderBy("rk")
    },

    // ----- idempotent writer transactions (Delta's txnAppId/txnVersion
    // write options): a batch retried under the same (app, version)
    // applies EXACTLY once — the commit consults a persisted per-app
    // high-water ledger INSIDE the commit lease, so a retried
    // foreachBatch / re-run ingest job converges instead of
    // double-appending, across restarts (the ledger rides every log
    // entry, so the isolated re-reader folds it back) and across writer
    // apps (independent high-waters). The skipped replay's task-written
    // segments are reclaimed at recognition. Oracle = each region batch
    // present once.
    Q("s52_idempotent_txn", "S8,E-durable,E-exactly-once",
      """SELECT n_regionkey AS rk, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation WHERE n_regionkey <= 3 GROUP BY n_regionkey
        |ORDER BY rk""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s52")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gtw_$tag"
      val r = s"gtr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
      nat.where(lit(false)).writeTo(s"$w.ns.nat").create()
      def put(app: String, v: Long, rks: Seq[Int]): Unit =
        nat.where(col("n_regionkey").isin(rks.map(Int.box): _*))
          .writeTo(s"$w.ns.nat")
          .option("txnAppId", app).option("txnVersion", v.toString)
          .append()
      put("loader", 1, Seq(0, 1))
      put("loader", 1, Seq(0, 1)) // retried batch: recognized, skipped
      put("loader", 2, Seq(2))
      put("loader", 1, Seq(0, 1)) // replay below the high-water: skipped
      put("backfill", 1, Seq(3))  // separate app: its own v1 applies
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.nat")
        .groupBy(col("n_regionkey").as("rk"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_nationkey")).cast("long").as("key_sum"))
        .orderBy("rk")
    },

    // ----- column DEFAULT values (TableCatalogCapability
    // .SUPPORT_COLUMN_DEFAULT_VALUE): CREATE-time defaults fill omitted
    // columns at INSERT — Spark's analyzer substitutes them, values
    // materialize at write, the stored rows are ordinary. The isolated
    // re-read proves the defaults (schema metadata) rode the log.
    Q("s54_column_defaults", "DDL-default,S4,A1",
      """SELECT CAST(n_regionkey AS BIGINT) AS rk, 'unknown' AS label,
        |  count(*) AS cnt
        |FROM nation GROUP BY n_regionkey ORDER BY rk""".stripMargin) {
      (s, dir) =>
      val wh = TempDirs.scratch("graft-s54")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gdw_$tag"
      val r = s"gdr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      s.sql(s"CREATE TABLE $w.ns.t (rk BIGINT, " +
        "label STRING DEFAULT 'unknown', cnt BIGINT)")
      Tables.nation(s, dir).createOrReplaceTempView(s"nat_def_$tag")
      s.sql(s"""INSERT INTO $w.ns.t (rk, cnt)
               |SELECT CAST(n_regionkey AS BIGINT), count(*)
               |FROM nat_def_$tag GROUP BY n_regionkey""".stripMargin)
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.t").orderBy("rk")
    },

    // ----- identity + generated columns (Delta's GENERATED ALWAYS
    // surface): values mint INSIDE the writer tasks — identity off a
    // log-persisted high-water block, generated from the row via the
    // bounded expression dialect. A single-partition ordered insert
    // makes the identity sequence deterministic (1..N in row order), so
    // the oracle can state it as row_number(); multi-task inserts mint
    // unique gap-ful blocks instead (GraftGeneratedSpec pins those).
    Q("s56_identity_generated", "DDL-identity,DDL-generated,S4",
      """SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT)
        |    AS id,
        |  CAST(n_nationkey AS BIGINT) AS rk,
        |  CAST(n_nationkey * 2 + 1 AS BIGINT) AS twice
        |FROM nation ORDER BY id""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s56")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"giw_$tag"
      val r = s"gir_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      s.sql(s"CREATE TABLE $w.ns.t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY, rk BIGINT, twice BIGINT GENERATED ALWAYS AS " +
        "(rk * 2 + 1))")
      Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("rk"))
        .orderBy("rk").coalesce(1)
        .createOrReplaceTempView(s"nat_id_$tag")
      s.sql(s"INSERT INTO $w.ns.t (rk) SELECT rk FROM nat_id_$tag")
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.t").orderBy("id")
    },

    // ----- partition-spec EVOLUTION (`ALTER TABLE … SET PARTITIONED
    // BY`, Iceberg's spec evolution, round 14): re-partition WITHOUT
    // rewriting a byte. The first half of nation lands grouped by
    // region; the spec evolves to the mod-3 key (pre-evolution files
    // degroup to spanning legacy remainders — the evolution commit
    // touches zero data files); the second half lands grouped under
    // the NEW spec; a partition-scoped DELETE on the new key then
    // splits the legacy files executor-side while dropping new-spec
    // groups by reference. The isolated re-read proves the evolved
    // layout, the degrouped census and the mixed-layout delete all
    // fold back from the log (GraftEvolveSpec pins time travel to the
    // old spec, OPTIMIZE regrouping, and the foreign re-open contract).
    Q("s57_partition_evolution", "DDL-evolve,S8,P4,A1",
      """SELECT CAST(n_nationkey % 3 AS BIGINT) AS nk_mod,
        |  count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation WHERE n_nationkey % 3 <> 2
        |GROUP BY nk_mod ORDER BY nk_mod""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s57")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gew_$tag"
      val r = s"ger_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_regionkey").cast("long").as("region"),
          (col("n_nationkey") % 3).cast("long").as("nk_mod"),
          col("n_nationkey").cast("long").as("nk"))
      nat.where(lit(false)).writeTo(s"$w.ns.t")
        .partitionedBy(col("region")).create()
      nat.where(col("nk") < 13).writeTo(s"$w.ns.t").append()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.t SET PARTITIONED BY (nk_mod)").collect()
      nat.where(col("nk") >= 13).writeTo(s"$w.ns.t").append()
      s.sql(s"DELETE FROM $w.ns.t WHERE nk_mod = 2")
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.t")
        .groupBy("nk_mod")
        .agg(count(lit(1)).as("n"), sum(col("nk")).cast("long")
          .as("key_sum"))
        .orderBy("nk_mod")
    },

    // ----- type WIDENING (ALTER COLUMN ... TYPE, Delta's typeWidening,
    // round 14): INT -> BIGINT without a rewrite — the first half of
    // nation lands under the narrow type, the widen commit touches zero
    // data files (the parquet reader upcasts stored int32 values when
    // the requested schema says BIGINT), and the second half lands with
    // values beyond Int range. The isolated re-read proves the widened
    // schema, the upcast reads of the narrow files and the mixed-width
    // aggregate all fold back from the log (GraftWidenSpec pins the
    // metadata-only census, zone/bloom survival, CDF refusal and the
    // streaming restart contract).
    Q("s58_type_widening", "DDL-widen,S4,A1,A7",
      """SELECT CAST(n_regionkey AS BIGINT) AS rk,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN n_nationkey < 13 THEN n_nationkey
        |           ELSE n_nationkey + 3000000000 END) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey ORDER BY rk""".stripMargin) {
      (s, dir) =>
      val wh = TempDirs.scratch("graft-s58")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gww_$tag"
      val r = s"gwr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_regionkey").cast("long").as("rk"),
          col("n_nationkey").cast("int").as("nk"))
      nat.where(lit(false)).writeTo(s"$w.ns.t").create()
      nat.where(col("nk") < 13).writeTo(s"$w.ns.t").append()
      s.sql(s"ALTER TABLE $w.ns.t ALTER COLUMN nk TYPE BIGINT")
      nat.where(col("nk") >= 13)
        .select(col("rk"), (col("nk").cast("long") + 3000000000L).as("nk"))
        .writeTo(s"$w.ns.t").append()
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.t")
        .groupBy("rk")
        .agg(count(lit(1)).as("n"),
          sum(col("nk")).cast("long").as("key_sum"))
        .orderBy("rk")
    },

    // ----- MERGE with AUTOMATIC SCHEMA EVOLUTION (round 15, Delta's
    // autoMerge / Spark's MERGE ... WITH SCHEMA EVOLUTION): the target
    // is created WITHOUT the region column; the CDC source carries it,
    // and the statement reconciles — Spark's analyzer computes the
    // additive TableChange, the catalog's METADATA-ONLY ADD COLUMN
    // lands it (zero data files rewritten), and the row-level MERGE
    // proceeds against the widened schema. Pre-merge rows read NULL in
    // the new column; the oracle is the UNION-BY-NAME restatement. The
    // reference's own pipeline needed exactly this for drifting
    // upstream schemas (Automated_Bronze_to_Silver
    // notebook-content.py:184-189 reaches for overwriteSchema).
    // GraftMergeEvolveSpec pins COW+MOR routes, the CDF shape, the
    // lossless-widen drift path and the lossy-drift refusal.
    Q("s59_merge_schema_evolution", "DDL-evolve,S11,J9,P1",
      """SELECT CAST(n_nationkey AS BIGINT) AS nk,
        |  CASE WHEN n_nationkey >= 10 THEN concat('m-', n_name)
        |       ELSE n_name END AS nname,
        |  CASE WHEN n_nationkey >= 10 THEN CAST(n_regionkey AS BIGINT)
        |       END AS rk
        |FROM nation ORDER BY nk""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s59")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gmw_$tag"
      val r = s"gmr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_name").as("nname"),
          col("n_regionkey").cast("long").as("rk"))
      // v1: the narrow target (no rk) with the first half of nation
      nat.select("nk", "nname").where(lit(false)).writeTo(s"$w.ns.t")
        .create()
      nat.select("nk", "nname").where(col("nk") < 13)
        .writeTo(s"$w.ns.t").append()
      // the drifted source: updates 10..12, inserts 13.., carries rk
      nat.where(col("nk") >= 10)
        .select(col("nk"), concat(lit("m-"), col("nname")).as("nname"),
          col("rk"))
        .createOrReplaceTempView(s"s59_src_$tag")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $w.ns.t t
           |USING s59_src_$tag s ON t.nk = s.nk
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // isolated restart: the evolution commit + the row-level write
      // both fold back from the log
      s.conf.set(s"spark.sql.catalog.$r",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$r.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$r.warehouse.isolated", "true")
      s.table(s"$r.ns.t").select("nk", "nname", "rk").orderBy("nk")
    },

    // ----- COPY INTO (round 15, Delta's idempotent bulk-file ingest):
    // landing-zone parquet files load into the catalog table with
    // PER-FILE exactly-once marks on the persisted ledger — the first
    // COPY loads the first batch, a RE-RUN of the same statement loads
    // NOTHING (all files marked, zero commits), new arrivals load
    // incrementally in one commit, and the final state is exactly the
    // union of the distinct files ever landed. The oracle is nation
    // restated — any double-load breaks the hash. The marks publish
    // atomically with the append's commit and fold across restarts
    // (GraftCopyIntoSpec pins the restart, pattern, schema-drift
    // refusals and the one-commit-per-execution contract).
    Q("s60_copy_into", "S-copy,S5,S8,A1",
      """SELECT CAST(n_regionkey AS BIGINT) AS rk, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY rk ORDER BY rk""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s60")
      val src = TempDirs.scratch("graft-s60src")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gcw_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_regionkey").cast("long").as("rk"))
      nat.where(lit(false)).writeTo(s"$w.ns.t").create()
      // landing zone batch 1 (two files), loaded TWICE — the second
      // run must skip everything or the sums double
      nat.where(col("nk") < 13).repartition(2)
        .write.parquet(s"$src/b1")
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src'").collect()
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src'").collect()
      // batch 2 arrives; the third run loads ONLY it
      nat.where(col("nk") >= 13).repartition(2)
        .write.parquet(s"$src/b2")
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src'").collect()
      s.table(s"$w.ns.t")
        .groupBy("rk")
        .agg(count(lit(1)).as("n"), sum(col("nk")).cast("long")
          .as("key_sum"))
        .orderBy("rk")
    },

    // ----- COPY INTO FILEFORMAT = CSV (round 16, the r15 verdict's top
    // task): landing-zone CSVs — the reference's own ingestion shape
    // (header promotion + explicit typing, Dummy Data Upload.Dataflow/
    // mashup.pq:12-14) — load with the same per-file exactly-once
    // marks as parquet. Header NAMES resolve the columns (the landing
    // header is deliberately written in a different order than the
    // table), values parse straight into the table's types under
    // FAILFAST, and a drifted file (extra column) refuses loudly
    // loading NOTHING — the oracle is nation restated, so a double
    // load, a dropped file, or a half-applied refused batch all break
    // the hash.
    Q("s61_copy_into_csv", "S-copy,S7,S5,A1",
      """SELECT CAST(n_regionkey AS BIGINT) AS rk, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY rk ORDER BY rk""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s61")
      val src = TempDirs.scratch("graft-s61src")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gcc_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_regionkey").cast("long").as("rk"))
      nat.where(lit(false)).writeTo(s"$w.ns.t").create()
      // batch 1: header order (rk, nk) differs from the table's —
      // by-name resolution is load-bearing; loaded TWICE
      nat.where(col("nk") < 13).select("rk", "nk").coalesce(1)
        .write.option("header", "true").csv(s"$src/b1")
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src' FILEFORMAT = CSV").collect()
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src' FILEFORMAT = CSV").collect()
      // a drifted landing file: refused loudly, loads nothing (were a
      // partial batch applied, the final hash would break)
      val bad = java.nio.file.Paths.get(src, "drift.csv")
      java.nio.file.Files.write(bad,
        "rk,nk,extra\n0,99,boom\n".getBytes("UTF-8"))
      try {
        graft.sources.GraftMaintenance.sql(s,
          s"COPY INTO $w.ns.t FROM '$src' FILEFORMAT = CSV").collect()
        throw new IllegalStateException(
          "s61: the drifted CSV must refuse")
      } catch {
        case e: Exception
          if Option(e.getMessage).exists(_.contains("s61:")) => throw e
        case _: Exception => () // the refusal contract
      }
      java.nio.file.Files.delete(bad)
      // batch 2 arrives; only it loads
      nat.where(col("nk") >= 13).select("rk", "nk").coalesce(1)
        .write.option("header", "true").csv(s"$src/b2")
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src' FILEFORMAT = CSV").collect()
      s.table(s"$w.ns.t")
        .groupBy("rk")
        .agg(count(lit(1)).as("n"), sum(col("nk")).cast("long")
          .as("key_sum"))
        .orderBy("rk")
    },

    // ----- COPY INTO FILEFORMAT = JSON (round 16): JSON lines land
    // with the same marks; names resolve off the inferred schema (one
    // inference pass — the price of loud drift detection, JSON has no
    // header), the typed FAILFAST read parses matched fields. Same
    // nation restatement: re-runs skip, arrivals load incrementally.
    Q("s62_copy_into_json", "S-copy,S1,S5,A1",
      """SELECT CAST(n_regionkey AS BIGINT) AS rk, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY rk ORDER BY rk""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s62")
      val src = TempDirs.scratch("graft-s62src")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gcj_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_regionkey").cast("long").as("rk"))
      nat.where(lit(false)).writeTo(s"$w.ns.t").create()
      nat.where(col("nk") < 13).coalesce(1)
        .write.json(s"$src/b1")
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src' FILEFORMAT = JSON").collect()
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src' FILEFORMAT = JSON").collect()
      nat.where(col("nk") >= 13).coalesce(1)
        .write.json(s"$src/b2")
      graft.sources.GraftMaintenance.sql(s,
        s"COPY INTO $w.ns.t FROM '$src' FILEFORMAT = JSON").collect()
      s.table(s"$w.ns.t")
        .groupBy("rk")
        .agg(count(lit(1)).as("n"), sum(col("nk")).cast("long")
          .as("key_sum"))
        .orderBy("rk")
    },

    // ----- DESCRIBE HISTORY operationMetrics (round 16): t$history's
    // per-commit rows_added/rows_removed censuses, audited end-to-end
    // over a create → INSERT → COW DELETE → OPTIMIZE sequence. The
    // LOGICAL row metrics are deterministic whatever the physical file
    // counts (task-count-dependent, pinned spec-side instead): the COW
    // DELETE rewrites the whole unpartitioned live set, so its commit
    // records removed = every pre-delete row and added = every
    // survivor; OPTIMIZE is zero logical change; and the signed sum of
    // all row metrics re-derives the live count. The oracle restates
    // each census from the nation source.
    Q("s63_history_metrics", "DDL-history,S-introspect,S6,A1,A7",
      """WITH src AS (SELECT count(*) AS n FROM nation),
        |kept AS (SELECT count(*) AS n FROM nation WHERE n_nationkey >= 5)
        |SELECT 'appends' AS probe,
        |  CAST((SELECT n FROM src) + 1 AS BIGINT) AS a,
        |  CAST(0 AS BIGINT) AS b
        |UNION ALL
        |SELECT 'delete', CAST((SELECT n FROM kept) + 1 AS BIGINT),
        |  CAST((SELECT n FROM src) + 1 AS BIGINT)
        |UNION ALL
        |SELECT 'net', CAST((SELECT n FROM kept) + 1 AS BIGINT),
        |  CAST(1 AS BIGINT)
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s63")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"ghm_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
        .repartition(1).writeTo(s"$w.ns.t").create()
      s.sql(s"INSERT INTO $w.ns.t VALUES (99, 'zz')")
      s.sql(s"DELETE FROM $w.ns.t WHERE k < 5")
      graft.sources.GraftMaintenance.sql(s, s"OPTIMIZE $w.ns.t").collect()
      val h = s.table(s"$w.ns.`t$$history`")
      val agg = h.agg(
        sum(when(!col("operation").isin("DELETE", "OPTIMIZE"),
          col("rows_added")).otherwise(0L)).as("app_a"),
        sum(when(!col("operation").isin("DELETE", "OPTIMIZE"),
          col("rows_removed")).otherwise(0L)).as("app_b"),
        sum(when(col("operation") === "DELETE", col("rows_added"))
          .otherwise(0L)).as("del_a"),
        sum(when(col("operation") === "DELETE", col("rows_removed"))
          .otherwise(0L)).as("del_b"),
        (sum(col("rows_added")) - sum(col("rows_removed"))).as("net_a"),
        sum(when(col("operation") === "OPTIMIZE", 1L).otherwise(0L))
          .as("net_b"))
      agg.select(lit("appends").as("probe"), col("app_a").as("a"),
          col("app_b").as("b"))
        .unionByName(agg.select(lit("delete").as("probe"),
          col("del_a").as("a"), col("del_b").as("b")))
        .unionByName(agg.select(lit("net").as("probe"),
          col("net_a").as("a"), col("net_b").as("b")))
        .orderBy("probe")
    },

    // ----- WRITE-AUDIT-PUBLISH (round 16): stage = shallow clone of
    // prod, audited writes land on the stage in isolation, and
    // `CREATE OR REPLACE TABLE … CLONE` publishes the whole audited
    // state back as ONE commit whose CDC record is the reference-diff
    // row delta — shared files cancel, so the feed shows exactly the
    // audited changes (inserts of the new rows, deletes of the culled
    // ones), never carried-through churn. The oracle restates prod's
    // final census and both delta censuses from the nation source.
    Q("s65_wap_publish", "S-publish,S10,S6,DDL-history,A1,A7",
      """SELECT 'delta_del' AS probe, CAST(count(*) AS BIGINT) AS n,
        |  CAST(COALESCE(sum(n_nationkey), 0) AS BIGINT) AS key_sum
        |FROM nation WHERE n_nationkey < 20 AND n_nationkey % 7 = 0
        |UNION ALL
        |SELECT 'delta_ins', CAST(count(*) AS BIGINT),
        |  CAST(COALESCE(sum(n_nationkey), 0) AS BIGINT)
        |FROM nation WHERE n_nationkey >= 20 AND n_nationkey % 7 <> 0
        |UNION ALL
        |SELECT 'prod', CAST(count(*) AS BIGINT),
        |  CAST(COALESCE(sum(n_nationkey), 0) AS BIGINT)
        |FROM nation WHERE n_nationkey % 7 <> 0
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s65")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gwp_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.where(col("k") < 20).writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"CREATE TABLE $w.ns.stage SHALLOW CLONE $w.ns.prod").collect()
      nat.where(col("k") >= 20).writeTo(s"$w.ns.stage").append()
      s.sql(s"DELETE FROM $w.ns.stage WHERE k % 7 = 0")
      val pubV = s.table(s"$w.ns.`prod$$history`")
        .agg(max(col("version"))).head().getInt(0) + 1
      graft.sources.GraftMaintenance.sql(s,
        s"CREATE OR REPLACE TABLE $w.ns.prod SHALLOW CLONE $w.ns.stage")
        .collect()
      val delta = s.table(s"$w.ns.`prod$$changes`")
        .filter(col("_commit_version") === pubV)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("key_sum"))
        .select(
          concat(lit("delta_"),
            substring(col("_change_type"), 1, 3)).as("probe"),
          col("n"), col("key_sum"))
      s.table(s"$w.ns.prod")
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("key_sum"))
        .select(lit("prod").as("probe"), col("n"), col("key_sum"))
        .unionByName(delta)
        .orderBy("probe")
    },

    // ----- named branches (round 17, Iceberg-style refs over one
    // durable log): `ALTER TABLE t CREATE BRANCH audit` forks an
    // isolated commit chain at the head; reads/writes address
    // `t@audit`; main and branch share one segment store under
    // tree-aware retention. The oracle restates both heads from the
    // nation source: the branch carries the audited edits, main is
    // bit-untouched.
    Q("s66_branch_isolation", "S-branch,S10,S6,DDL-alter,A1,A7",
      """WITH aud AS (
        |  SELECT n_nationkey AS k FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100 FROM nation WHERE n_nationkey < 5)
        |SELECT 'audit' AS probe, CAST(count(*) AS BIGINT) AS n,
        |  CAST(COALESCE(sum(k), 0) AS BIGINT) AS key_sum
        |FROM aud WHERE k % 3 <> 0
        |UNION ALL
        |SELECT 'main', CAST(count(*) AS BIGINT),
        |  CAST(COALESCE(sum(n_nationkey), 0) AS BIGINT)
        |FROM nation
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s66")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gbr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH audit").collect()
      // audited edits land on the branch chain only
      nat.where(col("k") < 5)
        .select((col("k") + 100).as("k"), col("name"))
        .writeTo(s"$w.ns.`prod@audit`").append()
      s.sql(s"DELETE FROM $w.ns.`prod@audit` WHERE k % 3 = 0")
      s.table(s"$w.ns.`prod@audit`")
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("key_sum"))
        .select(lit("audit").as("probe"), col("n"), col("key_sum"))
        .unionByName(s.table(s"$w.ns.prod")
          .agg(count(lit(1)).as("n"),
            sum(col("k")).cast("long").as("key_sum"))
          .select(lit("main").as("probe"), col("n"), col("key_sum")))
        .orderBy("probe")
    },

    // ----- FAST FORWARD (round 17): main adopts the audit branch's
    // commit suffix VERBATIM — the change feed replays every branch
    // commit as its own version (probe label encodes the commit
    // ordinal), the per-commit capability a WAP publish's single
    // reference-diff commit cannot provide. The oracle restates the
    // audited inserts, the audited deletes and the fast-forwarded
    // final state from the nation source.
    Q("s67_branch_fastforward", "S-branch,S-publish,DDL-alter,CDF,A1,A7",
      """WITH ins AS (
        |  SELECT n_nationkey + 100 AS k FROM nation WHERE n_nationkey < 5),
        |all_rows AS (
        |  SELECT n_nationkey AS k FROM nation
        |  UNION ALL SELECT k FROM ins)
        |SELECT 'ff_c1_insert' AS probe, CAST(count(*) AS BIGINT) AS n,
        |  CAST(COALESCE(sum(k), 0) AS BIGINT) AS key_sum FROM ins
        |UNION ALL
        |SELECT 'ff_c2_delete', CAST(count(*) AS BIGINT),
        |  CAST(COALESCE(sum(k), 0) AS BIGINT)
        |FROM all_rows WHERE k % 3 = 0
        |UNION ALL
        |SELECT 'main', CAST(count(*) AS BIGINT),
        |  CAST(COALESCE(sum(k), 0) AS BIGINT)
        |FROM all_rows WHERE k % 3 <> 0
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s67")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gff_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      val fork = graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH audit").head().getInt(0)
      nat.where(col("k") < 5)
        .select((col("k") + 100).as("k"), col("name"))
        .writeTo(s"$w.ns.`prod@audit`").append()
      s.sql(s"DELETE FROM $w.ns.`prod@audit` WHERE k % 3 = 0")
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod FAST FORWARD main TO audit").collect()
      val ff = s.table(s"$w.ns.`prod$$changes`")
        .filter(col("_commit_version") > fork)
        .groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("key_sum"))
        .select(concat(lit("ff_c"), col("_commit_version") - fork,
          lit("_"), col("_change_type")).as("probe"),
          col("n"), col("key_sum"))
      s.table(s"$w.ns.prod")
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("key_sum"))
        .select(lit("main").as("probe"), col("n"), col("key_sum"))
        .unionByName(ff)
        .orderBy("probe")
    },

    // ----- CHERRY-PICK (round 17): adopt ONE append-only branch commit
    // onto a DIVERGED main — the surgical remedy where FAST FORWARD's
    // ancestry check refuses. The picked segments adopt by reference
    // (zero copies); the branch keeps its own head. The oracle
    // restates both heads: main = nation ∪ its own divergent batch ∪
    // exactly the picked batch (never the branch's later commit).
    Q("s69_branch_cherrypick", "S-branch,S-cherrypick,DDL-alter,A1,A7",
      """WITH a AS (SELECT n_nationkey + 100 AS k FROM nation
        |           WHERE n_nationkey < 4),
        |b AS (SELECT n_nationkey + 200 AS k FROM nation
        |      WHERE n_nationkey < 2),
        |c AS (SELECT n_nationkey + 300 AS k FROM nation
        |      WHERE n_nationkey < 3),
        |m AS (SELECT n_nationkey AS k FROM nation
        |      UNION ALL SELECT k FROM c UNION ALL SELECT k FROM a),
        |au AS (SELECT n_nationkey AS k FROM nation
        |       UNION ALL SELECT k FROM a UNION ALL SELECT k FROM b)
        |SELECT 'audit' AS probe, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum FROM au
        |UNION ALL
        |SELECT 'main', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT) FROM m
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s69")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gcp_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH audit").collect()
      nat.where(col("k") < 4).select(col("k") + 100, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@audit`").append() // v2
      nat.where(col("k") < 2).select(col("k") + 200, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@audit`").append() // v3
      // main diverges — FAST FORWARD's ancestry check now refuses
      nat.where(col("k") < 3).select(col("k") + 300, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.prod").append()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CHERRY-PICK audit VERSION 2").collect()
      s.table(s"$w.ns.`prod@audit`")
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("key_sum"))
        .select(lit("audit").as("probe"), col("n"), col("key_sum"))
        .unionByName(s.table(s"$w.ns.prod")
          .agg(count(lit(1)).as("n"),
            sum(col("k")).cast("long").as("key_sum"))
          .select(lit("main").as("probe"), col("n"), col("key_sum")))
        .orderBy("probe")
    },

    // ----- MERGE BRANCH (round 18): squash-merge a DIVERGED branch's
    // net state onto main as ONE commit — FAST FORWARD refuses here
    // (main moved since the fork); the merge adopts the branch head by
    // reference and its CDC record is the net state diff: branch-only
    // rows as inserts, main's divergent rows as deletes. The oracle
    // restates both heads AND both CDC sides from nation.
    Q("s71_branch_merge", "S-branch,S-merge-branch,S-cdf,DDL-alter,A1,A7",
      """WITH a AS (SELECT n_nationkey + 100 AS k FROM nation
        |           WHERE n_nationkey < 4),
        |b AS (SELECT n_nationkey + 200 AS k FROM nation
        |      WHERE n_nationkey < 2),
        |c AS (SELECT n_nationkey + 300 AS k FROM nation
        |      WHERE n_nationkey < 3),
        |merged AS (SELECT n_nationkey AS k FROM nation
        |           UNION ALL SELECT k FROM a UNION ALL SELECT k FROM b)
        |SELECT 'audit' AS probe, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum FROM merged
        |UNION ALL
        |SELECT 'cdc_del', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT) FROM c
        |UNION ALL
        |SELECT 'cdc_ins', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT)
        |FROM (SELECT k FROM a UNION ALL SELECT k FROM b) ab
        |UNION ALL
        |SELECT 'main', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT) FROM merged
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s71")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gmb_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH work").collect()
      nat.where(col("k") < 4).select(col("k") + 100, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@work`").append()
      nat.where(col("k") < 2).select(col("k") + 200, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@work`").append()
      // main diverges — FAST FORWARD's ancestry check refuses; the
      // squash-merge is the remedy
      nat.where(col("k") < 3).select(col("k") + 300, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.prod").append()
      val mv = graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod MERGE BRANCH work").head().getInt(0)
      def agg(df: org.apache.spark.sql.DataFrame, probe: String) =
        df.agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("key_sum"))
          .select(lit(probe).as("probe"), col("n"), col("key_sum"))
      val feed = s.table(s"$w.ns.`prod$$changes`")
        .filter(col("_commit_version") === mv)
      agg(s.table(s"$w.ns.`prod@work`"), "audit")
        .unionByName(agg(
          feed.filter(col("_change_type") === "delete"), "cdc_del"))
        .unionByName(agg(
          feed.filter(col("_change_type") === "insert"), "cdc_ins"))
        .unionByName(agg(s.table(s"$w.ns.prod"), "main"))
        .orderBy("probe")
    },

    // ----- MERGE BRANCH onto a BRANCH target (round 19): `t@b1 MERGE
    // BRANCH b2` squashes b2's net state onto b1 under b1's OWN lease —
    // a WAP workflow with stacked audit branches consolidates without
    // touching main. b1's head becomes b2's state (b1's divergent rows
    // are the CDC deletes on B1'S feed, b2's net-new rows the inserts);
    // b2's head and MAIN are both untouched. The oracle restates all
    // three heads and both CDC sides from nation.
    Q("s73_branch_merge_branch",
      "S-branch,S-merge-branch,S-cdf,DDL-alter,A1,A7",
      """WITH a AS (SELECT n_nationkey + 100 AS k FROM nation
        |           WHERE n_nationkey < 4),
        |b AS (SELECT n_nationkey + 200 AS k FROM nation
        |      WHERE n_nationkey < 2),
        |d AS (SELECT n_nationkey + 300 AS k FROM nation
        |      WHERE n_nationkey < 3),
        |b2state AS (SELECT n_nationkey AS k FROM nation
        |            UNION ALL SELECT k FROM b UNION ALL SELECT k FROM d)
        |SELECT 'b1' AS probe, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum FROM b2state
        |UNION ALL
        |SELECT 'b2', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT) FROM b2state
        |UNION ALL
        |SELECT 'cdc_del', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT) FROM a
        |UNION ALL
        |SELECT 'cdc_ins', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT)
        |FROM (SELECT k FROM b UNION ALL SELECT k FROM d) bd
        |UNION ALL
        |SELECT 'main', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT) FROM (SELECT n_nationkey AS k
        |                               FROM nation) m
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s73")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gbb_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH b1").collect()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH b2").collect()
      // the two branches DIVERGE from the shared fork
      nat.where(col("k") < 4).select(col("k") + 100, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@b1`").append()
      nat.where(col("k") < 2).select(col("k") + 200, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@b2`").append()
      nat.where(col("k") < 3).select(col("k") + 300, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@b2`").append()
      val mv = graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.`prod@b1` MERGE BRANCH b2").head().getInt(0)
      def agg(df: org.apache.spark.sql.DataFrame, probe: String) =
        df.agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("key_sum"))
          .select(lit(probe).as("probe"), col("n"), col("key_sum"))
      val feed = s.table(s"$w.ns.`prod@b1$$changes`")
        .filter(col("_commit_version") === mv)
      agg(s.table(s"$w.ns.`prod@b1`"), "b1")
        .unionByName(agg(s.table(s"$w.ns.`prod@b2`"), "b2"))
        .unionByName(agg(
          feed.filter(col("_change_type") === "delete"), "cdc_del"))
        .unionByName(agg(
          feed.filter(col("_change_type") === "insert"), "cdc_ins"))
        .unionByName(agg(s.table(s"$w.ns.prod"), "main"))
        .orderBy("probe")
    },

    // ----- ALTER BRANCH (round 19): replace a branch's declared
    // retention post-create — fork under RETAIN 2 SNAPSHOTS (three
    // appends trim the chain to 2), widen to 5, two more appends grow
    // the retained history to 4; the refs relation carries the
    // replaced declaration and the head state is untouched by any of
    // it. All counts deterministic, restated literally off nation.
    Q("s74_branch_alter_retention",
      "S-branch,S-retention,S-introspect,DDL-alter,A1",
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
        |SELECT 'declared' AS probe, CAST(5 AS BIGINT) AS n FROM n
        |UNION ALL SELECT 'head_rows', c + 10 FROM n
        |UNION ALL SELECT 'retained', CAST(4 AS BIGINT) FROM n
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s74")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gab_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH b RETAIN 2 SNAPSHOTS")
        .collect()
      (1 to 3).foreach(i =>
        nat.where(col("k") < 2).select(col("k") + i * 100, col("name"))
          .toDF("k", "name").writeTo(s"$w.ns.`prod@b`").append())
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod ALTER BRANCH b RETAIN 5 SNAPSHOTS")
        .collect()
      (4 to 5).foreach(i =>
        nat.where(col("k") < 2).select(col("k") + i * 100, col("name"))
          .toDF("k", "name").writeTo(s"$w.ns.`prod@b`").append())
      import s.implicits._
      Seq(
        ("declared", s.table(s"$w.ns.`prod$$branches`")
          .filter(col("name") === "b")
          .select(col("retain_snapshots").cast("long"))
          .as[Long].head()),
        ("head_rows", s.table(s"$w.ns.`prod@b`").count()),
        ("retained", s.table(s"$w.ns.`prod@b$$history`").count()))
        .toDF("probe", "n").orderBy("probe")
    },

    // ----- ADD COLUMN ... DEFAULT (round 19, the SQL EXISTS_DEFAULT
    // contract): a metadata-only add whose default BACKFILLS existing
    // rows at read (stateless — a requested field id absent from a
    // file's parquet footer reads the constant), fills omitted columns
    // at INSERT, and leaves explicitly-stored NULLs alone. The oracle
    // restates the three populations from nation.
    Q("s76_add_column_default", "S-evolve,S-default,DDL-alter,A1,A7",
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c,
        |                  CAST(sum(n_nationkey) AS BIGINT) AS s
        |           FROM nation)
        |SELECT CAST(-1 AS INT) AS score_g, CAST(1 AS BIGINT) AS n,
        |  CAST(101 AS BIGINT) AS key_sum FROM n
        |UNION ALL
        |SELECT CAST(7 AS INT), c + 1, s + 100 FROM n
        |ORDER BY score_g""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s76")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gdf_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      s.sql(s"ALTER TABLE $w.ns.prod ADD COLUMN score INT DEFAULT 7")
      // omitted column → CURRENT_DEFAULT; explicit NULL stays NULL
      s.sql(s"INSERT INTO $w.ns.prod (k, name) VALUES (100, 'X')")
      s.sql(s"INSERT INTO $w.ns.prod VALUES (101, 'Y', NULL)")
      s.table(s"$w.ns.prod")
        .groupBy(coalesce(col("score"), lit(-1)).as("score_g"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("key_sum"))
        .orderBy("score_g")
    },

    // ----- per-TABLE declarative retention (round 20, Delta's
    // logRetentionDuration analog): TBLPROPERTIES retention.snapshots /
    // retention.hours declare the MAIN chain's history window — stamped
    // into the schema (so restarts and foreign processes agree),
    // honored by the automatic slide, composable with the r18/r19
    // branch declarations as min, surfaced in t$detail, and replaceable
    // by ALTER TABLE SET TBLPROPERTIES. The count arithmetic is exact:
    // create+CTAS = 2 entries, each append trims to the declared 3
    // (floor 2), the ALTER commit itself slides under the widened 5.
    Q("s78_table_retention",
      "S-retention,S-introspect,DDL-alter,A1",
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
        |SELECT 'declared_hours' AS probe, CAST(48 AS DOUBLE) AS n FROM n
        |UNION ALL SELECT 'declared_snapshots', CAST(5 AS DOUBLE) FROM n
        |UNION ALL SELECT 'head_rows', CAST(c + 8 AS DOUBLE) FROM n
        |UNION ALL SELECT 'retained_after', CAST(5 AS DOUBLE) FROM n
        |UNION ALL SELECT 'retained_mid', CAST(3 AS DOUBLE) FROM n
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s78")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gtr_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod")
        .tableProperty("retention.snapshots", "3")
        .tableProperty("retention.hours", "48")
        .create()
      (1 to 6).foreach(i =>
        nat.where(col("k") < 1).select(col("k") + i * 100, col("name"))
          .toDF("k", "name").writeTo(s"$w.ns.prod").append())
      import s.implicits._
      val retainedMid =
        s.table(s"$w.ns.`prod$$history`").count().toDouble
      s.sql(s"ALTER TABLE $w.ns.prod " +
        "SET TBLPROPERTIES ('retention.snapshots'='5')")
      (7 to 8).foreach(i =>
        nat.where(col("k") < 1).select(col("k") + i * 100, col("name"))
          .toDF("k", "name").writeTo(s"$w.ns.prod").append())
      val d = s.table(s"$w.ns.`prod$$detail`")
        .select(col("retention_snapshots").cast("double"),
          col("retention_hours"))
        .as[(Double, Double)].head()
      Seq(
        ("declared_hours", d._2),
        ("declared_snapshots", d._1),
        ("head_rows", s.table(s"$w.ns.prod").count().toDouble),
        ("retained_after",
          s.table(s"$w.ns.`prod$$history`").count().toDouble),
        ("retained_mid", retainedMid))
        .toDF("probe", "n").orderBy("probe")
    },

    // ----- ROW TRACKING (round 20, Delta's row tracking / Iceberg v3
    // row lineage): stable per-row `_row_id` minted at first insert,
    // PRESERVED through the COW UPDATE's whole-table rewrite and the
    // OPTIMIZE re-layout, and served by the change feed so an UPDATE's
    // preimage/postimage pair BY IDENTITY (the 'cdf_pre'/'cdf_post'
    // probes join on nothing but _row_id order). 'bumped' pins the
    // `_row_commit_version` contract: exactly the value-changed rows
    // carry the update's commit version; copied rows keep their
    // original. Ids are deterministic (single-task ordered writes), so
    // the oracle restates them as a rank over nation plus the two
    // literal inserts. Scale posture: ids are ARITHMETIC per file
    // (base + position, O(1) log metadata); only the rewrite's output
    // carries explicit vectors, written beside the segment like a
    // bloom sidecar — never in the commit log.
    Q("s77_row_tracking", "S-rowtrack,S-cdc,S-evolve,DDL-alter,A1",
      """WITH base AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
        |    CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS BIGINT)
        |      AS row_id
        |  FROM nation
        |  UNION ALL SELECT 100, 'X', (SELECT count(*) FROM nation)
        |  UNION ALL SELECT 101, 'Y', (SELECT count(*) FROM nation) + 1),
        |upd AS (SELECT * FROM base WHERE k % 5 = 0)
        |SELECT 'bumped' AS probe, row_id, k, name || '+' AS name FROM upd
        |UNION ALL SELECT 'cdf_post', row_id, k, name || '+' FROM upd
        |UNION ALL SELECT 'cdf_pre', row_id, k, name FROM upd
        |UNION ALL SELECT 'live', row_id, k,
        |  CASE WHEN k % 5 = 0 THEN name || '+' ELSE name END FROM base
        |ORDER BY probe, row_id""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s77")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"grt_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
        .repartition(1).sortWithinPartitions("k")
      nat.writeTo(s"$w.ns.prod")
        .tableProperty("row.tracking", "true").create()
      s.sql(s"INSERT INTO $w.ns.prod VALUES (100, 'X'), (101, 'Y')")
      s.sql(s"UPDATE $w.ns.prod SET name = concat(name, '+') " +
        "WHERE k % 5 = 0")
      import s.implicits._
      val uv = s.table(s"$w.ns.`prod$$history`")
        .agg(max(col("version"))).as[Int].head()
      val feed = s.table(s"$w.ns.`prod$$changes`")
        .filter(col("_commit_version") === uv)
      // layout churn AFTER the update: the compaction must carry the
      // explicit id vectors through — 'live' reads the compacted files
      graft.sources.GraftMaintenance.sql(s, s"OPTIMIZE $w.ns.prod")
        .collect()
      val live = s.table(s"$w.ns.prod")
        .select(col("_row_id").as("row_id"), col("k"), col("name"),
          col("_row_commit_version").as("rcv"))
      def shape(df: org.apache.spark.sql.DataFrame, probe: String) =
        df.select(lit(probe).as("probe"), col("row_id"), col("k"),
          col("name"))
      shape(live.filter(col("rcv") === uv), "bumped")
        .unionByName(shape(feed
          .filter(col("_change_type") === "insert")
          .select(col("_row_id").as("row_id"), col("k"), col("name")),
          "cdf_post"))
        .unionByName(shape(feed
          .filter(col("_change_type") === "delete")
          .select(col("_row_id").as("row_id"), col("k"), col("name")),
          "cdf_pre"))
        .unionByName(shape(live, "live"))
        .orderBy("probe", "row_id")
    },

    // ----- EXACT MERGE AUDIT by row identity (round 20 — the
    // capability row tracking was built for): after a MERGE, classify
    // the change feed's rows by `_row_id` multiplicity — an id on BOTH
    // sides is an UPDATE (pre+post pair by identity, not by value
    // heuristics), insert-only ids are genuine inserts, delete-only
    // ids genuine deletes — and reconcile each class's key sums. The
    // multiset CDC alone cannot distinguish "update" from
    // "coincidental delete+insert of equal-valued rows"; identity
    // makes the audit exact. All arithmetic restated off nation.
    Q("s79_merge_audit", "S-rowtrack,S-cdc,S11,J9,A1,A7",
      """WITH base AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name
        |  FROM nation),
        |upd AS (SELECT k FROM base WHERE k % 4 = 0),
        |del AS (SELECT k FROM base WHERE k % 7 = 3 AND k % 4 <> 0),
        |ins AS (SELECT CAST(200 AS BIGINT) AS k
        |        UNION ALL SELECT 201)
        |SELECT 'delete' AS change_class,
        |  CAST((SELECT count(*) FROM del) AS BIGINT) AS n_rows,
        |  CAST((SELECT sum(k) FROM del) AS BIGINT) AS key_sum
        |UNION ALL SELECT 'insert',
        |  CAST((SELECT count(*) FROM ins) AS BIGINT),
        |  CAST((SELECT sum(k) FROM ins) AS BIGINT)
        |UNION ALL SELECT 'update',
        |  CAST((SELECT count(*) FROM upd) AS BIGINT),
        |  CAST((SELECT sum(k) FROM upd) AS BIGINT)
        |ORDER BY change_class""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s79")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gma_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      import s.implicits._
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
        .repartition(1).sortWithinPartitions("k")
      nat.writeTo(s"$w.ns.prod")
        .tableProperty("row.tracking", "true").create()
      // one MERGE doing all three verbs at once
      nat.filter(col("k") % 4 === 0)
        .select(col("k"), concat(col("name"), lit("+")).as("name"),
          lit("U").as("verb"))
        .unionByName(nat
          .filter(col("k") % 7 === 3 && col("k") % 4 =!= 0)
          .select(col("k"), col("name"), lit("D").as("verb")))
        .unionByName(Seq((200L, "nx", "I"), (201L, "ny", "I"))
          .toDF("k", "name", "verb"))
        .createOrReplaceTempView("s79_src")
      s.sql(
        s"""MERGE INTO $w.ns.prod t USING s79_src s ON t.k = s.k
           |WHEN MATCHED AND s.verb = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET name = s.name
           |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)
           |""".stripMargin)
      val mv = s.table(s"$w.ns.`prod$$history`")
        .agg(max(col("version"))).as[Int].head()
      val ch = s.table(s"$w.ns.`prod$$changes`")
        .filter(col("_commit_version") === mv)
        .select(col("_change_type"), col("_row_id"), col("k"))
      // classify by id multiplicity: both sides = update, one side =
      // genuine insert/delete — the EXACT audit identity enables
      val sides = ch.groupBy("_row_id")
        .agg(count(when(col("_change_type") === "delete", 1)).as("d"),
          count(when(col("_change_type") === "insert", 1)).as("i"),
          first(col("k")).as("k"))
      sides
        .withColumn("change_class",
          when(col("d") > 0 && col("i") > 0, "update")
            .when(col("d") > 0, "delete").otherwise("insert"))
        .groupBy("change_class")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("key_sum"))
        .orderBy("change_class")
    },

    // ----- t$refs_log (round 19): the ref-lifecycle AUDIT relation —
    // who created/dropped/altered/merged/expired which ref, when.
    // Unlike t$branches (refs alive NOW) it keeps history: the dropped
    // tag and branch below still have their rows. The event sequence
    // is fully deterministic, so the oracle states it literally.
    Q("s75_refs_log", "S-branch,S-tag,S-introspect,S-audit,DDL-alter",
      """SELECT * FROM (VALUES
        |  ('ALTER_BRANCH', 'b1', 'branch', 3),
        |  ('CREATE_BRANCH', 'b1', 'branch', 1),
        |  ('CREATE_BRANCH', 'b2', 'branch', 1),
        |  ('CREATE_TAG', 'v1', 'tag', 1),
        |  ('DROP_BRANCH', 'b2', 'branch', -1),
        |  ('DROP_TAG', 'v1', 'tag', -1),
        |  ('MERGE_BRANCH', 'b2', 'branch', 3))
        |AS t(action, ref, kind, version)
        |ORDER BY action, ref""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s75")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"grl_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      def ddl(q: String) =
        graft.sources.GraftMaintenance.sql(s, q).collect()
      ddl(s"ALTER TABLE $w.ns.prod CREATE TAG v1")
      ddl(s"ALTER TABLE $w.ns.prod CREATE BRANCH b1 RETAIN 2 SNAPSHOTS")
      nat.where(col("k") < 2).select(col("k") + 100, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@b1`").append()
      ddl(s"ALTER TABLE $w.ns.prod CREATE BRANCH b2")
      ddl(s"ALTER TABLE $w.ns.`prod@b1` MERGE BRANCH b2")
      ddl(s"ALTER TABLE $w.ns.prod ALTER BRANCH b1 RETAIN 5 SNAPSHOTS")
      ddl(s"ALTER TABLE $w.ns.prod DROP TAG v1")
      ddl(s"ALTER TABLE $w.ns.prod DROP BRANCH b2")
      s.table(s"$w.ns.`prod$$refs_log`")
        .select("action", "ref", "kind", "version")
        .orderBy("action", "ref")
    },

    // ----- t$branches (round 17, Iceberg's `refs` metadata table):
    // one row per live ref — branches (fork + head versions) AND tags
    // (immutable pins: fork == head == the tagged version) — straight
    // off the log layout, no chain folded. Deterministic by
    // construction, so the oracle states the expected refs literally.
    // The tag row also proves the `t@name` read surface: the probe
    // reads the TAGGED snapshot back and its census must equal the
    // pre-append state even though main has moved on.
    Q("s68_branch_refs", "S-branch,S-tag,S-introspect,DDL-alter",
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
        |SELECT * FROM (
        |  SELECT 'aged' AS name, 'tag' AS kind, 1 AS fork_version,
        |    1 AS head_version, CAST(NULL AS INTEGER) AS retain_snapshots,
        |    CAST(48.0 AS DOUBLE) AS ref_age_hours,
        |    CAST(NULL AS DOUBLE) AS retain_snapshot_hours,
        |    c AS ref_rows FROM n
        |  UNION ALL
        |  SELECT 'audit', 'branch', 1, 3, 5, CAST(NULL AS DOUBLE),
        |    CAST(NULL AS DOUBLE), c + 5 FROM n
        |  UNION ALL
        |  SELECT 'rc', 'branch', 1, 1, CAST(NULL AS INTEGER),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), c FROM n
        |  UNION ALL
        |  SELECT 'sla', 'branch', 1, 2, 7, CAST(NULL AS DOUBLE),
        |    CAST(24.0 AS DOUBLE), c + 1 FROM n
        |  UNION ALL
        |  SELECT 'v1', 'tag', 1, 1, CAST(NULL AS INTEGER),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), c FROM n)
        |ORDER BY name""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s68")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gbf_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      nat.writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE TAG v1").collect()
      // r18 declarative retention properties surface in the refs table:
      // a branch with its own snapshot window, a tag with an expiry age
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE TAG aged RETAIN 48 HOURS")
        .collect()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH audit RETAIN 5 SNAPSHOTS")
        .collect()
      nat.where(col("k") < 3).select(col("k") + 100, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@audit`").append()
      nat.where(col("k") < 2).select(col("k") + 200, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@audit`").append()
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH rc").collect()
      // r19: a branch declaring BOTH windows — the count cap and the
      // time-based snapshot window (Iceberg's maxSnapshotAgeMs analog)
      graft.sources.GraftMaintenance.sql(s,
        s"ALTER TABLE $w.ns.prod CREATE BRANCH sla " +
          "RETAIN 7 SNAPSHOTS RETAIN 24 HOURS SNAPSHOTS").collect()
      nat.where(col("k") < 1).select(col("k") + 400, col("name"))
        .toDF("k", "name").writeTo(s"$w.ns.`prod@sla`").append()
      // per-ref row count: branches read their heads, the tag reads
      // its pinned snapshot (NOT main's current state)
      val refRows = Map(
        "aged" -> s.table(s"$w.ns.`prod@aged`").count(),
        "audit" -> s.table(s"$w.ns.`prod@audit`").count(),
        "rc" -> s.table(s"$w.ns.`prod@rc`").count(),
        "sla" -> s.table(s"$w.ns.`prod@sla`").count(),
        "v1" -> s.table(s"$w.ns.`prod@v1`").count())
      import s.implicits._
      val cnt = refRows.toSeq.toDF("name", "ref_rows")
      s.table(s"$w.ns.`prod$$branches`")
        .select("name", "kind", "fork_version", "head_version",
          "retain_snapshots", "ref_age_hours", "retain_snapshot_hours")
        .join(cnt, "name")
        .orderBy("name")
    },

    // ----- SQL views (round 18, DSv2 ViewCatalog): a persisted,
    // column-aliased view INLINES at read — created in one catalog,
    // read through an ISOLATED restart of the warehouse (the
    // definition is served from its _views/ JSON, not process state),
    // and aggregated through the view. The oracle restates the inlined
    // body directly over nation.
    Q("s70_sql_views", "S-view,DDL-view,S5,A1,A7",
      """SELECT CAST(n_regionkey AS INTEGER) AS region_key,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation WHERE n_nationkey % 2 = 0
        |GROUP BY region_key ORDER BY region_key""".stripMargin) {
      (s, dir) =>
      val wh = TempDirs.scratch("graft-s70")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gvw_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_regionkey").cast("int").as("r"),
          col("n_name").as("name"))
        .writeTo(s"$w.ns.prod").create()
      graft.sources.GraftMaintenance.sql(s,
        s"CREATE VIEW $w.ns.evens (k, region_key) AS " +
          s"SELECT k, r FROM $w.ns.prod WHERE k % 2 = 0").collect()
      // the ISOLATED restart: a fresh store over the same warehouse
      // serves the view from disk alone
      val w2 = s"gvr_$tag"
      s.conf.set(s"spark.sql.catalog.$w2",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w2.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$w2.warehouse.isolated", "true")
      s.sql(
        s"""SELECT region_key, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(k) AS BIGINT) AS key_sum
           |FROM $w2.ns.evens
           |GROUP BY region_key ORDER BY region_key""".stripMargin)
    },

    // ----- CLUSTER BY (round 18, Delta liquid-clustering-style):
    // clustering keys declared as a table property — no hard
    // partitioning — make a PLAIN `OPTIMIZE` default to ZORDER BY those
    // keys. The oracle restates the box query over the raw source (the
    // re-layout must lose nothing) and the literal introspection row
    // (exactly ONE layout commit, recorded as ZORDER with the
    // clustering=cluster.by attribution). The census improvement —
    // fewer files read after the default OPTIMIZE — is physical
    // (task-count-dependent) and pinned spec-side (GraftClusterBySpec),
    // like s64's file counts.
    Q("s72_cluster_by", "DDL-cluster-by,S-zorder,S5,A1,A7",
      """SELECT 'box' AS probe, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS s
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300
        |  AND l_suppkey BETWEEN 10 AND 60
        |UNION ALL
        |SELECT 'zorder_default', 1, 1
        |ORDER BY probe""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s72")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gcl_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      s.sql(s"CREATE TABLE $w.ns.pts (x BIGINT, y BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('cluster.by'='x,y')")
      val pts = Tables.lineitem(s, dir)
        .select(col("l_partkey").cast("long").as("x"),
          col("l_suppkey").cast("long").as("y"),
          col("l_orderkey").cast("long").as("v"))
      // several appends so the pre-OPTIMIZE layout interleaves; the
      // PLAIN OPTIMIZE then re-lays the files along the declared keys
      (0 until 3).foreach(i =>
        pts.filter(col("v") % 3 === i).writeTo(s"$w.ns.pts").append())
      graft.sources.GraftMaintenance.sql(s, s"OPTIMIZE $w.ns.pts")
        .collect()
      val box = s.table(s"$w.ns.pts")
        .filter(col("x").between(100, 300) && col("y").between(10, 60))
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("long").as("s"))
        .select(lit("box").as("probe"), col("n"), col("s"))
      // the default OPTIMIZE must have recorded itself as a ZORDER over
      // the DECLARED keys, attributed to the property
      val attributed = s.table(s"$w.ns.`pts$$history`")
        .filter(col("operation") === "ZORDER" &&
          col("parameters").contains("clustering=cluster.by") &&
          col("parameters").contains("zorder_by=x,y"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(lit("zorder_default").as("probe"), col("n"),
          lit(1L).as("s"))
      box.unionByName(attributed).orderBy("probe")
    },

    // ----- t$partitions (round 16, Iceberg's partitions metadata
    // table): the per-group census over SQL — stored rows AND live rows
    // (a merge-on-read DELETE's delete vectors subtract without
    // rewriting files). The oracle restates both censuses from the
    // nation source; file counts are physical (task-count-dependent)
    // and pinned spec-side instead.
    Q("s64_partitions_meta", "DDL-partitions,S-introspect,S6,A1",
      """SELECT CAST(n_regionkey AS VARCHAR) AS part_key,
        |  CAST(count(*) AS BIGINT) AS row_count,
        |  CAST(sum(CASE WHEN n_nationkey % 3 = 0 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS live_rows
        |FROM nation GROUP BY part_key ORDER BY part_key""".stripMargin) {
      (s, dir) =>
      val wh = TempDirs.scratch("graft-s64")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gpm_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      s.sql(s"CREATE TABLE $w.ns.t (k BIGINT, rk INT) PARTITIONED BY (rk) " +
        "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
      Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_regionkey").cast("int").as("rk"))
        .writeTo(s"$w.ns.t").append()
      s.sql(s"DELETE FROM $w.ns.t WHERE k % 3 = 0")
      s.table(s"$w.ns.`t$$partitions`")
        .select(col("partition").as("part_key"), col("row_count"),
          col("live_rows"))
        .orderBy("part_key")
    },

    // ----- ANALYZE TABLE column statistics: one distributed HLL+length
    // aggregation pass, persisted in the log, served to CBO via the
    // scan's columnStats(). The oracle checks the EXACT components
    // (null counts, max lengths) — ndv is approximate by design (HLL)
    // and pinned within tolerance in GraftAnalyzeSpec instead.
    Q("s55_analyze_stats", "DDL-analyze,A5,F-length",
      """SELECT * FROM (
        |  SELECT 'lang' AS col_name,
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_count,
        |    CAST(COALESCE(max(length(lang)), 0) AS BIGINT) AS max_len
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source',
        |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(max(length(source)), 0) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text',
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(max(length(text)), 0) AS BIGINT)
        |  FROM documents)
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      val wh = TempDirs.scratch("graft-s55")
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val w = s"gaw_$tag"
      s.conf.set(s"spark.sql.catalog.$w",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      Tables.documents(s, dir).select("lang", "source", "text")
        .writeTo(s"$w.ns.docs").create()
      graft.sources.GraftMaintenance.sql(s,
        s"ANALYZE TABLE $w.ns.docs COMPUTE STATISTICS FOR ALL COLUMNS")
        .select(col("column").as("col_name"), col("null_count"),
          col("max_len"))
        .orderBy("col_name")
    },

    // ----- Bloom-filter data skipping (Delta's bloom index): point
    // lookups on a high-cardinality UNCLUSTERED key, where zone maps
    // are useless — every file's min/max envelope spans the whole key
    // range (the table is written hash-interleaved below, the layout a
    // real ingest produces), so envelope pruning admits everything and
    // only the per-file bloom can prove the exact key absent. The
    // result is oracle-checked; GraftBloomSpec pins the files-read
    // census (the I/O claim itself). One equality-keyed scan; the
    // pushed filters re-apply row-level, so a bloom false positive
    // costs I/O, never correctness.
    Q("s53_bloom_skipping", "S-bloom,S5,P4,A1",
      """SELECT CONCAT('key', CAST(l_orderkey AS VARCHAR)) AS k,
        |  count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty
        |FROM lineitem
        |WHERE CONCAT('key', CAST(l_orderkey AS VARCHAR))
        |  IN ('key1', 'key7', 'key388')
        |GROUP BY 1 ORDER BY k""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s53_keys"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k STRING, qty BIGINT) " +
        "TBLPROPERTIES ('bloom.columns'='k')")
      Tables.lineitem(s, dir)
        .select(concat(lit("key"), col("l_orderkey").cast("string"))
          .as("k"), col("l_quantity").cast("long").as("qty"))
        .repartition(8) // hash-interleaved: zone envelopes all overlap
        .writeTo(t).append()
      s.table(t)
        .filter(col("k").isin("key1", "key7", "key388"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("qty")).cast("long").as("qty"))
        .orderBy("k")
    },

    // ----- regex group extraction: parse the trailing integer out of the
    // source tag ("src17" → 17) with a captured group — the typed-field
    // recovery every semi-structured ingest does. The pattern is
    // deliberately RE2∩Java-portable (char classes + groups only — no
    // lookarounds, whose support differs between engines). Per-row map,
    // fused into the scan.
    Q("f14_regex_extract", "F-regex,F3",
      """SELECT doc_id, source,
        |  CAST(regexp_extract(source, '([a-z]+)([0-9]+)', 2) AS INT)
        |    AS src_num,
        |  regexp_extract(source, '([a-z]+)([0-9]+)', 1) AS src_stem
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          regexp_extract(col("source"), "([a-z]+)([0-9]+)", 2)
            .cast(IntegerType).as("src_num"),
          regexp_extract(col("source"), "([a-z]+)([0-9]+)", 1)
            .as("src_stem"))
        .orderBy("doc_id")
    },

    // ----- schema-evolution union (UNION BY NAME): two snapshots of the
    // same feed whose schemas drifted — the older one lacks a column the
    // newer one added, and column ORDER differs. Positional UNION would
    // silently misalign; name-based union aligns by column and nulls the
    // missing field — `unionByName(allowMissingColumns)` / DuckDB
    // `UNION ALL BY NAME`, the operation every long-lived ingest performs
    // across schema versions. Map-side only: no shuffle beyond the
    // oracle sort.
    Q("s17_union_by_name", "SET-union-byname,S4",
      """WITH old AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS priority
        |  FROM orders WHERE o_orderstatus = 'F'),
        |new AS (
        |  SELECT o_totalprice AS price, o_orderpriority AS priority,
        |         o_orderkey AS k
        |  FROM orders WHERE o_orderstatus = 'O')
        |SELECT k, priority, CAST(price AS DOUBLE) AS price
        |FROM (SELECT * FROM old UNION ALL BY NAME SELECT * FROM new)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val old = orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"),
          col("o_orderpriority").as("priority"))
      val newer = orders.filter(col("o_orderstatus") === "O")
        .select(col("o_totalprice").as("price"),
          col("o_orderpriority").as("priority"),
          col("o_orderkey").as("k"))
      old.unionByName(newer, allowMissingColumns = true)
        .select(col("k"), col("priority"),
          col("price").cast("double").as("price"))
        .orderBy("k")
    },

    // ----- gaps-and-islands: per user, maximal runs of CONSECUTIVE active
    // days (the retention streak metric e7's cohort grid can't see). The
    // classic day − row_number() trick: within a user's ordered distinct
    // active days, consecutive days share (epoch_day − rn), so the island
    // id needs ONE user-partitioned window — no iterative gap chasing.
    // Everything is integer arithmetic on exact counts. Plan: distinct to
    // user×day grain (one shuffle), one user-key window, user-grain
    // aggregate — never event-grain windows. (Island derivation shared
    // with j18's interval-overlap join: [[islandRuns]].)
    Q("w15_islands", "W-islands,W3,A2",
      s"""WITH $islandsCte
         |SELECT user_id,
         |  CAST(sum(run_len) AS BIGINT) AS n_active_days,
         |  count(*) AS n_streaks,
         |  CAST(max(run_len) AS BIGINT) AS max_streak
         |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
      islandRuns(s, dir)
        .groupBy("user_id")
        .agg(sum("run_len").as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max("run_len").as("max_streak"))
        .orderBy("user_id")
    },

    // ----- interval-overlap join (interval × interval theta join, made
    // scale-safe): each user's activity streak against the calendar's
    // weekly campaign windows it overlaps. The oracle states the natural
    // theta join (start ≤ w_end AND end ≥ w_start); the Spark plan uses
    // the distributed-safe formulation — explode each streak into the
    // week-start buckets it covers and EQUI-join on the bucket (provably
    // the same pair set for aligned windows: a streak overlaps week w iff
    // w ∈ [trunc(start), trunc(end)]). At 100 TB the theta join has no
    // partitioning key; the bucket join shuffles on week like any equi
    // key, fan-out per streak = its week span. Overlap length is pure
    // date arithmetic.
    Q("j18_interval_overlap", "J-interval,W-islands,F12",
      s"""WITH $islandsCte,
         |b AS (SELECT min(CAST(ts AS DATE)) AS lo,
         |             max(CAST(ts AS DATE)) AS hi FROM events),
         |weeks AS (SELECT CAST(unnest(generate_series(
         |    date_trunc('week', lo), date_trunc('week', hi),
         |    INTERVAL 7 DAY)) AS DATE) AS week_start FROM b)
         |SELECT r.user_id, r.start_day, w.week_start,
         |  CAST(least(r.end_day, w.week_start + 6)
         |       - greatest(r.start_day, w.week_start) + 1 AS INT)
         |    AS overlap_days
         |FROM runs r JOIN weeks w
         |  ON r.start_day <= w.week_start + 6 AND r.end_day >= w.week_start
         |ORDER BY user_id, start_day, week_start""".stripMargin) {
      (s, dir) =>
      val runs = islandRuns(s, dir)
      val weeks = Tables.events(s, dir)
        .agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
        .select(explode(sequence(trunc(col("lo"), "week"),
          trunc(col("hi"), "week"), expr("interval 7 days")))
          .as("week_start"))
      val covered = runs.select(col("user_id"), col("start_day"),
        col("end_day"),
        explode(sequence(trunc(col("start_day"), "week"),
          trunc(col("end_day"), "week"), expr("interval 7 days")))
          .as("week_start"))
      covered.join(broadcast(weeks), Seq("week_start"))
        .select(col("user_id"), col("start_day"), col("week_start"),
          (datediff(least(col("end_day"), date_add(col("week_start"), 6)),
            greatest(col("start_day"), col("week_start"))) + 1)
            .cast(IntegerType).as("overlap_days"))
        .orderBy("user_id", "start_day", "week_start")
    },

    // ----- Bloom-filter join pruning (ScaleJoins.bloomPrune): the
    // runtime-filter pattern at 100 TB — a KB-sized deterministic bit set
    // built from the build side's keys drops probe rows that cannot match
    // BEFORE any shuffle touches the big side. The filter hashes are the
    // shared polynomial hash, so the EXACT surviving set (true matches +
    // the bounded false positives) reproduces in DuckDB — the summary
    // row's n_true == n_member is the no-false-negative guarantee, and
    // n_false_pos is the measured cost of the m/k choice. Plan: build
    // collapses to ≤ m positions, broadcasts as one array row; the probe
    // side filters in place (no join, no shuffle; plan pinned in
    // ScaleJoinsSpec).
    Q("j20_bloom_prune", "J-bloom-prune,A5,F10", {
      // Kirsch-Mitzenmacher positions, same arithmetic as
      // ScaleJoins.bloomBitPositions (m = 2^20; stride from the squared
      // hash — see that method's doc for why squaring is load-bearing):
      // pos_s = (h%m + s*(2*((h*h % p) % (m/2))+1)) % m
      def posSql(s: Int) =
        s"((h % 1048576) + $s * (2 * (((h * h) % 1000000007) % 524288) + 1)) % 1048576"
      val posUnion = (0 until 3)
        .map(s => s"SELECT DISTINCT ${posSql(s)} AS p FROM hvh")
        .mkString(" UNION ")
      s"""WITH hv AS (SELECT DISTINCT o_orderkey AS k FROM orders
         |            WHERE o_totalprice > 400000),
         |hvh AS (SELECT k, ${TS.hash("'bf|' || k")} AS h FROM hv),
         |pos AS ($posUnion),
         |mk AS (SELECT k,
         |    ${(0 until 3).map(s => s"${posSql(s)} IN (SELECT p FROM pos) AS h$s")
        .mkString(", ")},
         |    k IN (SELECT k FROM hv) AS member
         |  FROM (SELECT l_orderkey AS k, ${TS.hash("'bf|' || l_orderkey")} AS h
         |        FROM lineitem))
         |SELECT (SELECT count(*) FROM hv) AS n_build_keys,
         |  (SELECT count(*) FROM pos) AS bits_set,
         |  count(*) AS n_probe,
         |  count(*) FILTER (WHERE member) AS n_member,
         |  count(*) FILTER (WHERE h0 AND h1 AND h2) AS n_passed,
         |  count(*) FILTER (WHERE h0 AND h1 AND h2 AND member) AS n_true,
         |  count(*) FILTER (WHERE h0 AND h1 AND h2 AND NOT member)
         |    AS n_false_pos
         |FROM mk""".stripMargin
    }) { (s, dir) =>
      import graft.operators.ScaleJoins
      val hv = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("k")).distinct()
      val probe = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
      val pruned = ScaleJoins.bloomPrune(hv, probe, "k", m = 1 << 20, k = 3)
      val member = hv.withColumn("member", lit(1))
      val probeStats = probe.join(broadcast(member), Seq("k"), "left")
        .agg(count(lit(1)).as("n_probe"), count(col("member")).as("n_member"))
      val prunedStats = pruned.join(broadcast(member), Seq("k"), "left")
        .agg(count(lit(1)).as("n_passed"),
          count(col("member")).as("n_true"),
          count(when(col("member").isNull, lit(1))).as("n_false_pos"))
      val bits = hv.select(explode(array(
          ScaleJoins.bloomBitPositions(col("k"), 1 << 20, 3): _*)).as("p"))
        .distinct().agg(count(lit(1)).as("bits_set"))
      hv.agg(count(lit(1)).as("n_build_keys"))
        .crossJoin(broadcast(bits))
        .crossJoin(broadcast(probeStats))
        .crossJoin(broadcast(prunedStats))
        .select(col("n_build_keys"), col("bits_set"), col("n_probe"),
          col("n_member"), col("n_passed"), col("n_true"), col("n_false_pos"))
    },

    // ----- event-type lift (market-basket over user baskets): for every
    // unordered type pair, support and lift from exact user counts —
    // lift > 1 flags types that co-occur in the same users beyond chance.
    // The pair fan-out is per-user (#types choose 2) with #types a domain
    // constant, so the self-join is structurally bounded — the same
    // argument as t30's source matrix, at basket grain. All ratios divide
    // exact counts in one spelled-out operation order.
    Q("e10_type_lift", "EVT-basket,A5,A10,J-self",
      """WITH p AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
        |t AS (SELECT event_type, count(*) AS n_t FROM p GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_ab
        |  FROM p a JOIN p b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, pr.n_ab,
        |  CAST(pr.n_ab AS DOUBLE) / n.n_users AS support,
        |  (CAST(pr.n_ab AS DOUBLE) * n.n_users)
        |    / (CAST(ta.n_t AS DOUBLE) * tb.n_t) AS lift
        |FROM pairs pr
        |JOIN t ta ON pr.type_a = ta.event_type
        |JOIN t tb ON pr.type_b = tb.event_type
        |CROSS JOIN n
        |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
      val p = Caches.persistTracked(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type")).distinct())
      val nUsers = Tables.events(s, dir)
        .agg(countDistinct(col("user_id")).as("n_users"))
      val t = p.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pairs = p.toDF("user_id", "type_a")
        .join(p.toDF("user_id", "type_b"), Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(t.toDF("type_a", "n_a")), Seq("type_a"))
        .join(broadcast(t.toDF("type_b", "n_b")), Seq("type_b"))
        .crossJoin(broadcast(nUsers))
        .select(col("type_a"), col("type_b"), col("n_ab"),
          (col("n_ab").cast("double") / col("n_users")).as("support"),
          ((col("n_ab").cast("double") * col("n_users"))
            / (col("n_a").cast("double") * col("n_b"))).as("lift"))
        .orderBy("type_a", "type_b")
    },

    // ----- funnel step latency: how long users take to move signup →
    // click → purchase (first qualifying event after the previous step),
    // summarized as exact rank-selected median and p90 seconds per stage —
    // the latency half of e6's conversion-count funnel. Timestamps
    // difference in exact integer µs → seconds by integer division;
    // quantiles by the t12 rank-ceil pattern (never an interpolating
    // percentile), so every value is engine-exact. Plan: three
    // min-aggregates at user grain + user-key joins, then a
    // 2-partition rank window over user-cardinality latencies.
    Q("e11_funnel_latency", "EVT-funnel-latency,W4,A2",
      """WITH s AS (SELECT user_id, min(ts) AS ts0 FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS ts1
        |      FROM events e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= s.ts0
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS ts2
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.ts1
        |      GROUP BY e.user_id),
        |lat AS (
        |  SELECT 'signup_to_click' AS stage,
        |         (epoch_us(c.ts1) - epoch_us(s.ts0)) // 1000000 AS sec
        |  FROM s JOIN c ON s.user_id = c.user_id
        |  UNION ALL
        |  SELECT 'click_to_purchase',
        |         (epoch_us(p.ts2) - epoch_us(c.ts1)) // 1000000
        |  FROM c JOIN p ON c.user_id = p.user_id),
        |r AS (SELECT stage, sec,
        |        row_number() OVER (PARTITION BY stage ORDER BY sec) AS rn,
        |        count(*) OVER (PARTITION BY stage) AS cnt
        |      FROM lat)
        |SELECT stage, CAST(max(cnt) AS BIGINT) AS n_users,
        |  CAST(max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT)
        |       THEN sec END) AS BIGINT) AS median_s,
        |  CAST(max(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT)
        |       THEN sec END) AS BIGINT) AS p90_s
        |FROM r GROUP BY stage ORDER BY stage""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      def firstAfter(tpe: String, prev: org.apache.spark.sql.DataFrame,
                     prevTs: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .join(prev, Seq("user_id"))
          .filter(col("ts") >= col(prevTs))
          .groupBy("user_id").agg(min("ts").as(out))
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("ts0"))
      val c1 = firstAfter("click", s0, "ts0", "ts1")
      val p2 = firstAfter("purchase", c1, "ts1", "ts2")
      val lat = s0.join(c1, Seq("user_id"))
        .select(lit("signup_to_click").as("stage"),
          ((unix_micros(col("ts1")) - unix_micros(col("ts0")))
            .cast("long")).as("us"))
        .unionByName(c1.join(p2, Seq("user_id"))
          .select(lit("click_to_purchase").as("stage"),
            (unix_micros(col("ts2")) - unix_micros(col("ts1"))).as("us")))
        .select(col("stage"), expr("us div 1000000").as("sec"))
      val w = Window.partitionBy("stage").orderBy("sec")
      val r = lat
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("stage")))
      def q(p: Double, name: String) =
        max(when(col("rn") === ceil(lit(p) * col("cnt")).cast("long"),
          col("sec"))).as(name)
      r.groupBy("stage")
        .agg(max("cnt").as("n_users"), q(0.5, "median_s"), q(0.9, "p90_s"))
        .orderBy("stage")
    },

    // ----- deliberate cross join: the (priority × status) scaffold grid a
    // report densifies against — the one join type where NO key exists by
    // construction. Both sides are value-domain aggregates (≤ a few rows
    // at ANY corpus size), and the broadcast hint pins the nested-loop
    // build side so the plan never decays to a partitioned cartesian
    // product; the left join back onto the fact aggregate marks genuinely
    // empty cells.
    Q("j16_cross_grid", "J-cross,A1,F11",
      """WITH pr AS (SELECT DISTINCT o_orderpriority AS priority
        |            FROM orders),
        |st AS (SELECT DISTINCT o_orderstatus AS status FROM orders),
        |grid AS (SELECT priority, status FROM pr CROSS JOIN st),
        |act AS (SELECT o_orderpriority AS priority,
        |               o_orderstatus AS status, count(*) AS n
        |        FROM orders GROUP BY 1, 2)
        |SELECT g.priority, g.status, COALESCE(a.n, 0) AS n,
        |       a.n IS NULL AS is_empty_cell
        |FROM grid g LEFT JOIN act a
        |  ON g.priority = a.priority AND g.status = a.status
        |ORDER BY g.priority, g.status""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val pr = orders.select(col("o_orderpriority").as("priority")).distinct()
      val st = orders.select(col("o_orderstatus").as("status")).distinct()
      val act = orders
        .groupBy(col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"))
      pr.crossJoin(broadcast(st))
        .join(act, Seq("priority", "status"), "left")
        .select(col("priority"), col("status"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("is_empty_cell"))
        .orderBy("priority", "status")
    },

    // ----- column profile: per-column row/non-null/distinct counts and
    // min/max (value for numerics, length for strings) — the schema-drift
    // sentinel an ingestion QA layer runs per batch. Scale shape: ONE
    // table pass — all four columns profile in a single aggregate (the
    // multi-distinct is one Expand ×4, not four scans), then stack()
    // pivots the 1-row aggregate to the per-column layout; the oracle
    // states the same semantics as four UNION branches. At 100 TB the
    // distinct counts would move to approx_count_distinct — exact here
    // because the oracle must hash-match.
    Q("qa2_profile", "QA-profile,A1,A6,A2",
      """SELECT 'l_discount' AS col_name, count(*) AS n_rows,
        |       count(l_discount) AS n_nonnull,
        |       count(DISTINCT l_discount) AS n_distinct,
        |       CAST(min(l_discount) AS DOUBLE) AS vmin,
        |       CAST(max(l_discount) AS DOUBLE) AS vmax
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', count(*), count(l_linestatus),
        |       count(DISTINCT l_linestatus),
        |       CAST(min(strlen(l_linestatus)) AS DOUBLE),
        |       CAST(max(strlen(l_linestatus)) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(l_quantity),
        |       count(DISTINCT l_quantity),
        |       CAST(min(l_quantity) AS DOUBLE),
        |       CAST(max(l_quantity) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(l_returnflag),
        |       count(DISTINCT l_returnflag),
        |       CAST(min(strlen(l_returnflag)) AS DOUBLE),
        |       CAST(max(strlen(l_returnflag)) AS DOUBLE)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      // four distinct counts as collect_set sizes (r20, the g1/g2 gold
      // aggregate pattern): four countDistinct columns planned as an
      // Expand 5x — every lineitem row quintupled through the aggregate;
      // the per-column value domains are enum-sized, so the sets stay
      // KB-sized at any scale and size() is the exact distinct count.
      // The DOUBLE columns normalize with `+ 0.0` (r20 ADVICE): Spark's
      // NormalizeFloatingNumbers rule does not rewrite collect_set
      // inputs, so a -0.0 in a future feed would count separately from
      // 0.0 where countDistinct merges them; x + 0.0 maps -0.0 to 0.0
      // and is the identity on every other non-NaN double.
      val one = Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n_rows"),
        count(col("l_discount")).as("di_nn"),
        size(collect_set(col("l_discount") + 0.0)).cast("long").as("di_nd"),
        min(col("l_discount")).cast("double").as("di_min"),
        max(col("l_discount")).cast("double").as("di_max"),
        count(col("l_linestatus")).as("ls_nn"),
        size(collect_set(col("l_linestatus"))).cast("long").as("ls_nd"),
        min(length(col("l_linestatus"))).cast("double").as("ls_min"),
        max(length(col("l_linestatus"))).cast("double").as("ls_max"),
        count(col("l_quantity")).as("qt_nn"),
        size(collect_set(col("l_quantity") + 0.0)).cast("long").as("qt_nd"),
        min(col("l_quantity")).cast("double").as("qt_min"),
        max(col("l_quantity")).cast("double").as("qt_max"),
        count(col("l_returnflag")).as("rf_nn"),
        size(collect_set(col("l_returnflag"))).cast("long").as("rf_nd"),
        min(length(col("l_returnflag"))).cast("double").as("rf_min"),
        max(length(col("l_returnflag"))).cast("double").as("rf_max"))
      one.select(expr(
        """stack(4,
          |  'l_discount',   n_rows, di_nn, di_nd, di_min, di_max,
          |  'l_linestatus', n_rows, ls_nn, ls_nd, ls_min, ls_max,
          |  'l_quantity',   n_rows, qt_nn, qt_nd, qt_min, qt_max,
          |  'l_returnflag', n_rows, rf_nn, rf_nd, rf_min, rf_max)
          |AS (col_name, n_rows, n_nonnull, n_distinct, vmin, vmax)
          |""".stripMargin))
        .orderBy("col_name")
    },

    // ----- k-anonymity release gate: per (event_type, day) cell, the
    // distinct-user count, flagged for suppression when it identifies
    // fewer than KAnonThreshold users — the privacy floor a dataset
    // release applies to quasi-identifier combinations before events
    // leave the warehouse. One exact distinct aggregate over the
    // cell grain (Expand ×1, type×day cardinality out) — at 100 TB the
    // cell table is calendar×type-sized, never event-sized, and the
    // distinct shuffles once on (cell, user).
    Q("qa3_k_anonymity", "QA-privacy,A5,A6",
      s"""SELECT event_type, CAST(ts AS DATE) AS day,
         |  count(DISTINCT user_id) AS n_users, count(*) AS n_events,
         |  count(DISTINCT user_id) < $KAnonThreshold AS suppress
         |FROM events GROUP BY 1, 2
         |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"), col("day"), col("n_users"),
          col("n_events"),
          (col("n_users") < KAnonThreshold).as("suppress"))
        .orderBy("event_type", "day")
    },

    // ----- native bounded-heap top-k aggregate (plans/TopKAgg): the k
    // largest balances per segment WITHOUT the window formulation's
    // per-group full sort — each partition folds into a k-sized heap
    // (map-side partial), only k doubles per (partition, group) cross the
    // shuffle, and a skewed group costs O(n log k) in parallel instead of
    // one task sorting the hot key. The oracle states the same semantics
    // as the window query it replaces. Values-only output keeps ties
    // deterministic (any boundary-tied rows contribute equal doubles).
    Q("w14_topk_agg", "W4,O5,AGG-topk",
      """WITH r AS (
        |  SELECT c_mktsegment, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC) AS rk
        |  FROM customer)
        |SELECT c_mktsegment, CAST(rk AS INT) AS rank, c_acctbal AS bal
        |FROM r WHERE rk <= 5
        |ORDER BY c_mktsegment, rank""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy("c_mktsegment")
        .agg(graft.plans.GraftFunctions.topK(col("c_acctbal"), 5).as("tk"))
        .select(col("c_mktsegment"), posexplode(col("tk")))
        .select(col("c_mktsegment"),
          (col("pos") + 1).cast(IntegerType).as("rank"),
          col("col").as("bal"))
        .orderBy("c_mktsegment", "rank")
    },

    // ----- W1/W2 scale mode: xxhash64 surrogate keys under oracle. The
    // parity-mode w1 proves the reference's dense row_number keys; this
    // proves the 100 TB path — keys derived per-row with no global sort,
    // unique over a fact-sized natural key, and STABLE under reprocessing
    // (the same rows re-keyed from a differently partitioned, differently
    // ordered copy must re-derive identical keys; a row_number-style
    // assignment would fail that). The oracle can't reproduce xxhash64
    // values, so it verifies the CONTRACT: key cardinality equals natural
    // cardinality (no collisions) and zero layout-dependent keys.
    Q("w16_scale_keys", "W1,W2,D1",
      """SELECT CAST(count(DISTINCT l_orderkey * 10 + l_linenumber) AS BIGINT)
        |    AS n_rows,
        |  CAST(count(DISTINCT l_orderkey * 10 + l_linenumber) AS BIGINT)
        |    AS n_natural,
        |  CAST(count(DISTINCT l_orderkey * 10 + l_linenumber) AS BIGINT)
        |    AS n_keys,
        |  CAST(0 AS BIGINT) AS n_unstable
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import graft.operators.DimBuild
      // surrogate keys are assigned over the DISTINCT natural-key rows
      // (DimBuild contract) — the harness lineitem has duplicate
      // (orderkey, linenumber) pairs, so dedup is part of the operator
      val nat = Seq("l_orderkey", "l_linenumber")
      val li = Tables.lineitem(s, dir).select(nat.head, nat.tail: _*)
        .distinct()
      val keyed = DimBuild.surrogateKey(li, nat, "sk", DimBuild.HashKeys)
      val rekeyed = DimBuild.surrogateKey(
        li.repartition(7, col("l_linenumber"))
          .sortWithinPartitions(col("l_orderkey").desc),
        nat, "sk2", DimBuild.HashKeys)
        .withColumnRenamed("l_orderkey", "k2")
        .withColumnRenamed("l_linenumber", "n2")
      keyed.join(rekeyed,
          col("l_orderkey") === col("k2") && col("l_linenumber") === col("n2"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey") * 10 + col("l_linenumber"))
            .as("n_natural"),
          countDistinct(col("sk")).as("n_keys"),
          sum(when(col("sk") =!= col("sk2"), 1L).otherwise(0L))
            .as("n_unstable"))
    },

    // ----- S8 round trip: the partitioned bronze sink, driver-verified.
    // Write the partitioned layout to a scratch dir, read it back through
    // partition discovery, and prove per-partition counts and exact sums
    // against the oracle's direct scan of the source — a lost row, a
    // partition-column type corruption, or a double-write all break the
    // hash.
    Q("s21_sink_roundtrip", "S8,S5",
      s"""SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
         |  ${Exact.sqlSum("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin) { (s, dir) =>
      val dest = TempDirs.scratch("graft-s21") + "/t"
      // project before the sink: the round-trip contract needs only the
      // aggregated columns, and a sink that writes 9 columns to prove 2
      // is the 100 TB read-amplification mistake inverted
      graft.operators.Writers.partitionedAppend(
        Tables.orders(s, dir).withColumn("yr", year(col("o_orderdate")))
          .select("o_orderkey", "o_totalprice", "yr"),
        dest, Seq("yr"))
      s.read.parquet(dest)
        .groupBy(col("yr").cast(IntegerType).as("yr"))
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("o_totalprice")).as("total"))
        .orderBy("yr")
    },

    // ----- S9 round trip: idempotent re-ingestion. Append the full
    // table, then dynamically overwrite EXACTLY the 1995 partition with
    // corrected prices — every other year must come back untouched (a
    // static overwrite would erase them; a second append would double
    // 1995's count).
    Q("s22_dynamic_overwrite", "S9,S8",
      s"""SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
         |  ${Exact.sqlSum(
             "CASE WHEN year(o_orderdate) = 1995 THEN o_totalprice + 1.0 " +
             "ELSE o_totalprice END")} AS total
         |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin) { (s, dir) =>
      val dest = TempDirs.scratch("graft-s22") + "/t"
      val orders = Tables.orders(s, dir)
        .withColumn("yr", year(col("o_orderdate")))
        .select("o_orderkey", "o_totalprice", "yr")
      graft.operators.Writers.partitionedAppend(orders, dest, Seq("yr"))
      graft.operators.Writers.partitionedDynamicOverwrite(
        orders.filter(col("yr") === 1995)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
        dest, Seq("yr"))
      s.read.parquet(dest)
        .groupBy(col("yr").cast(IntegerType).as("yr"))
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("o_totalprice")).as("total"))
        .orderBy("yr")
    },

    // ----- S10 round trip: atomic stage+swap table overwrite. Publish a
    // deliberately stale copy first, then overwrite with the real table —
    // the read-back must see ONLY the final swap (a non-atomic overwrite
    // that unioned or half-applied would change counts).
    Q("s23_table_overwrite", "S10,S6",
      """SELECT CAST(n_regionkey AS BIGINT) AS region_key,
        |  count(*) AS n_nations
        |FROM nation GROUP BY 1 ORDER BY region_key""".stripMargin) { (s, dir) =>
      val stale = Tables.nation(s, dir).limit(3)
      graft.pipeline.Catalog.overwriteTable(s, stale, "s23_rt_nation")
      graft.pipeline.Catalog.overwriteTable(
        s, Tables.nation(s, dir), "s23_rt_nation")
      s.table("s23_rt_nation")
        .groupBy(col("n_regionkey").cast("bigint").as("region_key"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy("region_key")
    },

    // ----- bucketed co-located join, driver-verified: both join sides
    // persisted bucketed+sorted on the key, so the equi-join runs with
    // ZERO exchanges (both sides arrive pre-partitioned and pre-sorted —
    // the "reuse a partitioning across stages, at rest" strategy that
    // turns a repeated fact-fact join at 100 TB from two full shuffles
    // into none; ScaleJoinsSpec pins the no-Exchange plan). The oracle
    // states the plain join aggregate, so the row also proves bucketing
    // changes nothing semantically.
    Q("s25_bucketed_join", "J5,S10,BUCKET",
      s"""SELECT o.o_orderstatus AS status, count(*) AS n,
         |  ${Exact.sqlSum("l.l_extendedprice")} AS revenue
         |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      graft.operators.ScaleJoins.saveBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus"),
        "s25_orders_b", Seq("o_orderkey"), buckets = 8)
      graft.operators.ScaleJoins.saveBucketed(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice")),
        "s25_lineitem_b", Seq("o_orderkey"), buckets = 8)
      graft.operators.ScaleJoins
        .bucketedJoin(s, "s25_orders_b", "s25_lineitem_b", Seq("o_orderkey"))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("status")
    },

    // ----- S12 round trip: warehouse publication. Publish a dim/fact set
    // into the `wh_` namespace through the stage+swap path, then answer a
    // star query FROM THE PUBLISHED TABLES — the oracle answers it from
    // the source parquet, so any publication loss or duplication breaks
    // the compare.
    Q("s24_warehouse_publish", "S12,S10,J1",
      s"""SELECT r.r_name AS region, count(*) AS n_customers,
         |  ${Exact.sqlAvg("c_acctbal")} AS avg_bal
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY 1 ORDER BY region""".stripMargin) { (s, dir) =>
      graft.pipeline.Catalog.publishWarehouse(s, Map(
        "dim_nation_s24" -> Tables.nation(s, dir),
        "dim_region_s24" -> Tables.region(s, dir),
        "fact_customer_s24" -> Tables.customer(s, dir)))
      val c = s.table("wh_fact_customer_s24")
      val n = s.table("wh_dim_nation_s24")
      val r = s.table("wh_dim_region_s24")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region"))
        .agg(count(lit(1)).as("n_customers"),
          Exact.davg(col("c_acctbal")).as("avg_bal"))
        .orderBy("region")
    },

    // ----- Zone-map data skipping through the REAL DSv2 read path: s31
    // proved the layout+skip mechanism as a relational census; this runs
    // it. The lineitem points are z-ordered (16-bin Morton code, 16
    // curve segments → 16 writer tasks → 16 data files with commit-time
    // min/max zone maps), then a 2-D box predicate — plain range filters,
    // pushed to the scan — prunes whole files before a row is read
    // (GraftTableFilesSpec asserts the census: files/rows actually
    // skipped). The oracle knows nothing about files: it restates the
    // same box over the raw table, so the row proves skipping loses and
    // invents NOTHING. The box bounds derive from min/max by exact
    // integer arithmetic on both sides (ceil/floor division), making the
    // predicate literal-identical cross-engine. This is the Delta
    // data-skipping read the reference's platform serves
    // (Batch_Bronze_to_Silver notebook-content.py:200 writes Delta).
    Q("s33_zonemap_scan", "S-zorder,S5,A7",
      """WITH pts AS (SELECT CAST(l_partkey AS BIGINT) AS x,
        |               CAST(l_suppkey AS BIGINT) AS y,
        |               CAST(l_extendedprice AS DOUBLE) AS price
        |             FROM lineitem),
        |mm AS (SELECT min(x) AS minx, max(x) AS maxx,
        |              min(y) AS miny, max(y) AS maxy FROM pts),
        |b AS (SELECT minx + (4*(maxx-minx+1) + 15) // 16 AS xlo,
        |             minx + (6*(maxx-minx+1) - 1) // 16 AS xhi,
        |             miny + (4*(maxy-miny+1) + 15) // 16 AS ylo,
        |             miny + (6*(maxy-miny+1) - 1) // 16 AS yhi FROM mm)
        |SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM pts, b
        |WHERE x BETWEEN xlo AND xhi AND y BETWEEN ylo AND yhi"""
        .stripMargin) { (s, dir) =>
      import graft.operators.ZOrder
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s33_pts"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val pts = Tables.lineitem(s, dir).select(
        col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"),
        col("l_extendedprice").cast("double").as("price"))
      // bounds collected once driver-side (one tiny partial-agg pass, the
      // same plan-literal shape as the bloom filter) — they parameterize
      // BOTH the layout and the literal box predicate below
      val r0 = pts.agg(min("x"), max("x"), min("y"), max("y")).head()
      val (minx, maxx, miny, maxy) =
        (r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3))
      // z-order layout: Morton code over 16×16 bins, 16 curve segments,
      // one writer task per segment → 16 files whose zone maps cover
      // RECTANGLES in (x, y) space
      pts
        .withColumn("bx", ZOrder.bin16(col("x"), lit(minx), lit(maxx)))
        .withColumn("byy", ZOrder.bin16(col("y"), lit(miny), lit(maxy)))
        .withColumn("zv", ZOrder.morton(col("bx"), col("byy")))
        .repartition(16, expr("zv DIV 16"))
        .drop("bx", "byy", "zv")
        .writeTo(t).create()
      // bin box [4,5]² as literal value ranges: bx>=4 ⟺ x ≥ minx +
      // ceil(4R/16); bx<=5 ⟺ x ≤ minx + floor((6R-1)/16) — exact integer
      // derivation, mirrored by the oracle's // arithmetic
      val (rx, ry) = (maxx - minx + 1, maxy - miny + 1)
      val (xLo, xHi) = (minx + (4 * rx + 15) / 16, minx + (6 * rx - 1) / 16)
      val (yLo, yHi) = (miny + (4 * ry + 15) / 16, miny + (6 * ry - 1) / 16)
      s.table(t)
        .filter(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          Exact.dsum(col("price"), 2).as("total"))
    },

    // ----- TIMESTAMP AS OF time travel: the wall-clock half of the
    // transaction-log read path (s32 covers VERSION AS OF). The table
    // walks three commits at CONTROLLED timestamps (test-injectable
    // clock, restored after), then four probes read it AS OF: exactly at
    // commit 1, BETWEEN commits 1 and 2 (must resolve to the EARLIER
    // version — Delta's contract), exactly at commit 2, and long after
    // the last commit. The oracle restates each probe's expected state
    // from the source; a resolver that rounds the between-commit probe
    // forward, or drifts a boundary by one microsecond, breaks the hash.
    Q("s34_timestamp_travel", "S-time-travel,S10,A7", {
      val h = s"${TS.hash("'ts|' || o_orderkey")} % 10"
      s"""WITH v1 AS (SELECT o_orderkey AS k,
         |              CAST(o_totalprice AS DOUBLE) AS price
         |            FROM orders WHERE year(o_orderdate) < 1995),
         |v2 AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
         |       FROM orders),
         |v3 AS (SELECT o_orderkey AS k,
         |         CASE WHEN $h = 0 THEN CAST(o_totalprice AS DOUBLE) * 1.1
         |              ELSE CAST(o_totalprice AS DOUBLE) END AS price
         |       FROM orders)
         |SELECT 1 AS probe, count(*) AS n, ${Exact.sqlSum("price", 3)} AS total
         |FROM v1
         |UNION ALL
         |SELECT 2, count(*), ${Exact.sqlSum("price", 3)} FROM v1
         |UNION ALL
         |SELECT 3, count(*), ${Exact.sqlSum("price", 3)} FROM v2
         |UNION ALL
         |SELECT 4, count(*), ${Exact.sqlSum("price", 3)} FROM v3
         |ORDER BY probe""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s34_target"
      s.sql(s"DROP TABLE IF EXISTS $t")
      import graft.sources.GraftClock
      val saved = GraftClock.nowMicros
      try {
        // deterministic commit instants: 2024-01-01 00:00:00 UTC + 1h/commit
        val base = 1704067200L * 1000000L
        var now = base
        GraftClock.nowMicros = () => now
        val src = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"),
            col("o_totalprice").cast("double").as("price"),
            pmod(TF.polyHash(
              concat(lit("ts|"), col("o_orderkey").cast("string"))), lit(10L))
              .as("h"),
            year(col("o_orderdate")).as("yr"))
        src.filter(col("yr") < 1995).drop("yr").writeTo(t).create() // commit@base
        now = base + 3600L * 1000000L
        src.filter(col("yr") >= 1995).drop("yr").writeTo(t).append() // @+1h
        now = base + 7200L * 1000000L
        s.sql(s"UPDATE $t SET price = price * 1.1 WHERE h = 0")      // @+2h
        // four probes; the strictly-increasing guard put the CTAS data
        // commit at base+1µs (table creation itself took base)
        def asOf(ts: String) = s.sql(s"SELECT * FROM $t TIMESTAMP AS OF '$ts'")
        Seq(
          1 -> asOf("2024-01-01 00:00:00.000001"), // exactly at commit 1
          2 -> asOf("2024-01-01 00:30:00"),        // between 1 and 2 → v1
          3 -> asOf("2024-01-01 01:00:00"),        // exactly at commit 2
          4 -> asOf("2024-06-01 00:00:00"))        // far after → current
          .map { case (p, df) =>
            df.agg(count(lit(1)).as("n"),
              // scale 3: updated prices are 2-decimal values × 1.1
              Exact.dsum(col("price"), 3).as("total"))
              .select(lit(p).as("probe"), col("n"), col("total"))
          }
          .reduce(_ unionByName _)
          .orderBy("probe")
      } finally GraftClock.nowMicros = saved
    },

    // ----- OPTIMIZE (bin-packing compaction) as a catalog maintenance
    // commit: eight single-task appends leave eight small data files;
    // OPTIMIZE packs them and records the rewrite in the snapshot
    // history. The query reads the table BOTH ways — pre-compaction via
    // VERSION AS OF, post-compaction live — and the oracle restates the
    // two identical states straight from the source: a compaction that
    // lost, duplicated, or mutated one row breaks the hash on the 'post'
    // row, a history that mislabeled the rewrite breaks 'pre'.
    // (GraftTableFilesSpec pins the file counts and row identity.)
    Q("s35_optimize_compact", "S-optimize,S8,A7", {
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price
         |             FROM orders)
         |SELECT 'post' AS state, count(*) AS n,
         |  ${Exact.sqlSum("price", 2)} AS total FROM src
         |UNION ALL
         |SELECT 'pre', count(*), ${Exact.sqlSum("price", 2)} FROM src
         |ORDER BY state""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s35_target"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val src = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("oc|"), col("o_orderkey").cast("string"))), lit(8L))
            .as("h"))
      // 8 hash slices, each a single-task append → 8 small files
      for (i <- 0 until 8) {
        val slice = src.filter(col("h") === i).drop("h").repartition(1)
        if (i == 0) slice.writeTo(t).create() else slice.writeTo(t).append()
      }
      val preVersion = graft.sources.GraftTableStore
        .tables((Seq("ns"), "s35_target")).commitHistory.last._1
      graft.sources.GraftMaintenance.optimize(Seq("ns"), "s35_target",
        targetRows = 1 << 20)
      def agg(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n"), Exact.dsum(col("price"), 2).as("total"))
          .select(lit(label).as("state"), col("n"), col("total"))
      agg(s.table(t), "post")
        .unionByName(
          agg(s.sql(s"SELECT * FROM $t VERSION AS OF $preVersion"), "pre"))
        .orderBy("state")
    },

    // ----- SHALLOW CLONE + divergence: Delta's zero-copy CLONE as a
    // catalog maintenance op, proven by CONSEQUENCE — the clone is taken
    // at VERSION 1 (the pre-1995 snapshot), then BOTH tables diverge
    // (the source appends the rest of history, the clone bumps a hash
    // slice of its prices) and the query reads both final states. The
    // oracle restates each lineage independently from the source table;
    // a clone that copied the wrong snapshot, or whose shared-by-
    // reference files leaked a later write from either side, breaks one
    // of the two hashes.
    Q("s36_shallow_clone", "S-clone,S10,A7", {
      val h = s"${TS.hash("'cl|' || o_orderkey")} % 10"
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price
         |             FROM orders),
         |clone AS (SELECT o_orderkey AS k,
         |            CASE WHEN $h = 0 THEN CAST(o_totalprice AS DOUBLE) * 2
         |                 ELSE CAST(o_totalprice AS DOUBLE) END AS price
         |          FROM orders WHERE year(o_orderdate) < 1995)
         |SELECT 'clone' AS side, count(*) AS n,
         |  ${Exact.sqlSum("price", 2)} AS total FROM clone
         |UNION ALL
         |SELECT 'src', count(*), ${Exact.sqlSum("price", 2)} FROM src
         |ORDER BY side""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s36_src"
      val c = "graft_cat.ns.s36_clone"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"DROP TABLE IF EXISTS $c")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("cl|"), col("o_orderkey").cast("string"))), lit(10L))
            .as("h"),
          year(col("o_orderdate")).as("yr"))
      base.filter(col("yr") < 1995).drop("yr").writeTo(t).create() // v1
      base.filter(col("yr") >= 1995).drop("yr").writeTo(t).append() // v2
      // zero-copy clone of the PRE-append snapshot, then divergence on
      // both sides (the source already diverged via the append)
      graft.sources.GraftMaintenance.cloneTable(Seq("ns"), "s36_src",
        Seq("ns"), "s36_clone", version = Some(1))
      s.sql(s"UPDATE $c SET price = price * 2 WHERE h = 0")
      def agg(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n"), Exact.dsum(col("price"), 2).as("total"))
          .select(lit(label).as("side"), col("n"), col("total"))
      agg(s.table(c), "clone").unionByName(agg(s.table(t), "src"))
        .orderBy("side")
    },

    // ----- Aggregate pushdown (metadata-only query): an unfiltered
    // MIN/MAX/COUNT over a partitioned catalog table — grouped by the
    // partition column AND globally — is answered ENTIRELY from the
    // commit-time file statistics: the scan delivers zero data rows
    // (GraftTableFilesSpec pins the census; the registry spec re-asserts
    // it for THIS query). Delta serves `count(*)` from its transaction
    // log and parquet serves min/max from footers the same way; here the
    // stats layer is the catalog's own zone maps. count(clerk1) exercises
    // the null-count stat (nc < n), min/max the value envelope. The
    // oracle recomputes everything the hard way from the raw rows — a
    // stats layer that drifted one row or one null breaks the hash.
    Q("s37_agg_pushdown", "S-agg-pushdown,S5,A1,A2", {
      """WITH src AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |               o_orderkey AS k,
        |               CASE WHEN o_orderpriority = '1-URGENT'
        |                    THEN o_orderstatus END AS clerk1
        |             FROM orders)
        |SELECT yr, count(*) AS n, count(clerk1) AS nc,
        |       min(k) AS lo, max(k) AS hi
        |FROM src GROUP BY yr
        |UNION ALL
        |SELECT -1, count(*), count(clerk1), min(k), max(k) FROM src
        |ORDER BY yr""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s37_orders"
      s.sql(s"DROP TABLE IF EXISTS $t")
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"),
          col("o_orderkey").as("k"),
          when(col("o_orderpriority") === "1-URGENT", col("o_orderstatus"))
            .as("clerk1"))
        .writeTo(t).partitionedBy(col("yr")).create()
      // both reads are metadata-only: the grouped one serves per-partition
      // stats (files are group-keyed by the clustered write), the global
      // one folds them — neither reads a data row
      s.sql(s"SELECT yr, count(*) AS n, count(clerk1) AS nc, " +
          s"min(k) AS lo, max(k) AS hi FROM $t GROUP BY yr")
        .unionByName(
          s.sql(s"SELECT -1 AS yr, count(*) AS n, count(clerk1) AS nc, " +
            s"min(k) AS lo, max(k) AS hi FROM $t"))
        .orderBy("yr")
    },

    // ----- Storage-partitioned join: customer and supplier land in the
    // catalog PARTITIONED BY nation key, and the join runs under
    // `spark.sql.sources.v2.bucketing.enabled` with broadcast disabled —
    // the scans report their key-grouped layout
    // (SupportsReportPartitioning) and Spark aligns the two sides
    // WITHOUT shuffling either (GraftTableFilesSpec pins the
    // zero-shuffle plan; this row pins the results). At 100 TB this is
    // the co-located fact-fact join bucketing exists for. The join
    // executes eagerly inside the conf scope (confs restore after), so
    // the row's values come from the storage-partitioned plan itself.
    Q("s38_spj_join", "S-spj,J5,A1,A7", {
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nk,
        |             CAST(c_custkey AS BIGINT) AS ck FROM customer),
        |     sp AS (SELECT CAST(s_nationkey AS BIGINT) AS nk,
        |              CAST(s_suppkey AS BIGINT) AS sk FROM supplier)
        |SELECT c.nk AS nk, count(*) AS n,
        |       CAST(sum(ck) AS BIGINT) AS sck,
        |       CAST(sum(sk) AS BIGINT) AS ssk
        |FROM c JOIN sp ON c.nk = sp.nk
        |GROUP BY c.nk ORDER BY nk""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val ta = "graft_cat.ns.s38_cust"
      val tb = "graft_cat.ns.s38_supp"
      s.sql(s"DROP TABLE IF EXISTS $ta")
      s.sql(s"DROP TABLE IF EXISTS $tb")
      Tables.customer(s, dir)
        .select(col("c_nationkey").cast("long").as("nk"),
          col("c_custkey").cast("long").as("ck"))
        .writeTo(ta).partitionedBy(col("nk")).create()
      Tables.supplier(s, dir)
        .select(col("s_nationkey").cast("long").as("nk"),
          col("s_suppkey").cast("long").as("sk"))
        .writeTo(tb).partitionedBy(col("nk")).create()
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      val rows =
        try {
          confs.foreach { case (k, v) => s.conf.set(k, v) }
          s.table(ta).join(s.table(tb), "nk")
            .groupBy(col("nk"))
            .agg(count(lit(1)).as("n"), sum("ck").as("sck"),
              sum("sk").as("ssk"))
            .orderBy("nk")
            .as[(Long, Long, Long, Long)].collect().toSeq
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      rows.toDF("nk", "n", "sck", "ssk")
    },

    // ----- Streaming source over a catalog table: readStream.table tails
    // the commit log (the Delta streaming-source path — GraftStreamCdcSpec
    // pins offsets, restarts, change-commit handling). Here the whole
    // contract runs under ONE oracle row: the source table is built in
    // THREE append commits, an AvailableNow pass drains them into an
    // accumulator table, a FOURTH commit lands, and a second pass on the
    // SAME checkpoint must deliver exactly that commit — the oracle
    // counts both rows and DISTINCT keys over the full source, so a
    // re-delivered (at-least-once) or skipped batch breaks n as well as
    // the sum.
    Q("s39_stream_source", "S-stream-source,§2.10,S5,A1,A7", {
      """WITH src AS (SELECT o_orderkey AS k,
        |              CAST(o_totalprice AS DOUBLE) AS price FROM orders)
        |SELECT count(*) AS n, count(DISTINCT k) AS nk,
        |""".stripMargin +
        s"  ${Exact.sqlSum("price", 2)} AS total FROM src"
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val src = "graft_cat.ns.s39_src"
      val acc = "graft_cat.ns.s39_acc"
      s.sql(s"DROP TABLE IF EXISTS $src")
      s.sql(s"DROP TABLE IF EXISTS $acc")
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("ss|"), col("o_orderkey").cast("string"))), lit(4L))
            .as("h"))
      orders.filter(col("h") === 0).drop("h").writeTo(src).create()
      for (i <- 1 to 2)
        orders.filter(col("h") === i).drop("h").writeTo(src).append()
      s.sql(s"CREATE TABLE $acc (k BIGINT, price DOUBLE)")
      val ckpt = TempDirs.scratch("s39-ckpt")
      def drain(): Unit = {
        val q = s.readStream.table(src)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.writeTo(acc).append()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitDrain("s39", q, ckpt)
      }
      drain() // initial snapshot: commits 1-3
      orders.filter(col("h") === 3).drop("h").writeTo(src).append()
      drain() // checkpointed tail: exactly commit 4
      s.table(acc).agg(count(lit(1)).as("n"),
        countDistinct(col("k")).as("nk"),
        Exact.dsum(col("price"), 2).as("total"))
    },

    // ----- Change data feed: write-time CDC served as the t$changes
    // relation (Delta's table_changes). The table walks CTAS → partial-
    // group UPDATE → metadata partition DELETE; the feed must hold the
    // MINIMAL row delta — the COW rewrite carries every h=0 row, but
    // unchanged rows multiset-cancel, so the update contributes exactly
    // its preimage deletes + postimage inserts. The oracle restates all
    // three commits' expected deltas from the source by change type; a
    // feed that leaked a carried-along row, lost a delete, or mislabeled
    // a change breaks the (n, total) of its type.
    Q("s40_change_feed", "S-cdf,S10,A7", {
      val h = s"${TS.hash("'cf|' || o_orderkey")} % 4"
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price,
         |               $h AS h, year(o_orderdate) AS yr
         |             FROM orders),
         |ins AS (SELECT price FROM src
         |        UNION ALL
         |        SELECT price * 1.1 FROM src WHERE h = 0 AND yr < 1995),
         |del AS (SELECT price FROM src WHERE h = 0 AND yr < 1995
         |        UNION ALL
         |        SELECT price FROM src WHERE h = 3)
         |SELECT 'delete' AS change_type, count(*) AS n,
         |  ${Exact.sqlSum("price", 3)} AS total FROM del
         |UNION ALL
         |SELECT 'insert', count(*), ${Exact.sqlSum("price", 3)} FROM ins
         |ORDER BY change_type""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s40_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("cf|"), col("o_orderkey").cast("string"))), lit(4L))
            .cast("int").as("h"),
          year(col("o_orderdate")).as("yr"))
        .writeTo(t).partitionedBy(col("h")).create()            // v1: inserts
      s.sql(s"UPDATE $t SET price = price * 1.1 WHERE h = 0 AND yr < 1995")
      s.sql(s"DELETE FROM $t WHERE h = 3")                      // v3: deletes
      s.table("graft_cat.ns.`s40_t$changes`")
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          // scale 3: updated prices are 2-decimal values × 1.1
          Exact.dsum(col("price"), 3).as("total"))
        .orderBy("change_type")
    },

    // ----- RESTORE TO VERSION AS OF: the undo half of time travel —
    // data reverts to the target snapshot, but history moves FORWARD
    // (the undone commit stays readable, the restore lands in the log
    // as its own operation). Probes: current state equals the pre-
    // update snapshot, the undone update is still served by VERSION AS
    // OF, and the commit log holds exactly one RESTORE among the
    // expected operations. The oracle restates both states from the
    // source and pins the log census as derived constants.
    Q("s41_restore", "S-restore,S10,A7", {
      val h = s"${TS.hash("'rs|' || o_orderkey")} % 4"
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price, $h AS h
         |             FROM orders),
         |upd AS (SELECT CASE WHEN h = 0 THEN price * 1.1 ELSE price END
         |          AS price FROM src)
         |SELECT 'cur' AS probe, count(*) AS n,
         |  ${Exact.sqlSum("price", 3)} AS total FROM src
         |UNION ALL
         |SELECT 'hist', 5, 1.0
         |UNION ALL
         |SELECT 'undone', count(*), ${Exact.sqlSum("price", 3)} FROM upd
         |ORDER BY probe""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s41_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val src = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("rs|"), col("o_orderkey").cast("string"))), lit(4L))
            .as("h"))
      src.writeTo(t).create()                                    // v1
      s.sql(s"INSERT INTO $t VALUES (-1, 0.0, -1)")              // v2
      s.sql(s"UPDATE $t SET price = price * 1.1 WHERE h = 0")    // v3
      graft.sources.GraftMaintenance.restore(Seq("ns"), "s41_t", 1) // v4
      def agg(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n"), Exact.dsum(col("price"), 3).as("total"))
          .select(lit(label).as("probe"), col("n"), col("total"))
      val hist = s.table("graft_cat.ns.`s41_t$history`")
        .agg(count(lit(1)).as("n"),
          sum(when(col("operation") === "RESTORE", 1.0).otherwise(0.0))
            .as("total"))
        .select(lit("hist").as("probe"), col("n"), col("total"))
      agg(s.table(t), "cur")
        .unionByName(hist)
        // the undone v3 state, minus the v2 marker row the oracle's CTE
        // does not model — VERSION AS OF still serving it is the point
        .unionByName(agg(
          s.sql(s"SELECT * FROM $t VERSION AS OF 3").filter(col("k") =!= -1),
          "undone"))
        .orderBy("probe")
    },

    // ----- Streaming sink: the catalog-to-catalog PIPE with no
    // foreachBatch glue — readStream.table tails the source's commit log
    // and writeStream.toTable lands each epoch through the DSv2
    // streaming write, (queryId, epoch)-deduplicated in the sink table's
    // ledger (GraftStreamSinkSpec pins replay). Three source commits
    // drain in pass one, a fourth in a checkpointed pass two; the oracle
    // counts rows AND distinct keys over the full source, so a re-run
    // epoch or a lost batch breaks n as well as the sum.
    Q("s42_stream_sink", "S-stream-sink,§2.10,S8,A1,A7", {
      """WITH src AS (SELECT o_orderkey AS k,
        |              CAST(o_totalprice AS DOUBLE) AS price FROM orders)
        |SELECT count(*) AS n, count(DISTINCT k) AS nk,
        |""".stripMargin +
        s"  ${Exact.sqlSum("price", 2)} AS total FROM src"
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val src = "graft_cat.ns.s42_src"
      val dst = "graft_cat.ns.s42_dst"
      s.sql(s"DROP TABLE IF EXISTS $src")
      s.sql(s"DROP TABLE IF EXISTS $dst")
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("sk|"), col("o_orderkey").cast("string"))), lit(4L))
            .as("h"))
      orders.filter(col("h") === 0).drop("h").writeTo(src).create()
      for (i <- 1 to 2)
        orders.filter(col("h") === i).drop("h").writeTo(src).append()
      s.sql(s"CREATE TABLE $dst (k BIGINT, price DOUBLE)")
      val ckpt = TempDirs.scratch("s42-ckpt")
      def pipe(): Unit = {
        val q = s.readStream.table(src)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(dst)
        awaitDrain("s42", q, ckpt)
      }
      pipe() // initial snapshot: commits 1-3
      orders.filter(col("h") === 3).drop("h").writeTo(src).append()
      pipe() // checkpointed tail: exactly commit 4
      s.table(dst).agg(count(lit(1)).as("n"),
        countDistinct(col("k")).as("nk"),
        Exact.dsum(col("price"), 2).as("total"))
    },

    // ----- DSv2 FunctionCatalog: the codegen kernels as CATALOG-
    // qualified SQL functions — `graft_cat.ns.poly_hash` /
    // `graft_cat.ns.vec_dot` resolve for any session that can see the
    // catalog, with NO per-session registration (the governed shared-
    // cluster route; the magic-invoke binding keeps them inside
    // whole-stage codegen). The oracle restates the polynomial hash
    // char-wise and the dot product as plain arithmetic — a resolution
    // mix-up, hash drift, or null-algebra change breaks the grouping
    // itself, not just a sum.
    Q("s43_catalog_functions", "S-fn-catalog,F11,A1,A4,A7", {
      val h = s"${TS.hash("'fc|' || o_orderkey")} % 16"
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price, $h AS h
         |             FROM orders)
         |SELECT h, count(*) AS n,
         |  ${Exact.sqlSum("2*price + 3", 2)} AS total
         |FROM src GROUP BY h ORDER BY h""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"))
        .createOrReplaceTempView("s43_src")
      s.sql(
        """SELECT pmod(graft_cat.ns.poly_hash(
          |         concat('fc|', CAST(k AS STRING))), 16) AS h,
          |       graft_cat.ns.vec_dot(array(price, 1d), array(2d, 3d)) AS d
          |FROM s43_src""".stripMargin)
        .groupBy("h")
        .agg(count(lit(1)).as("n"), Exact.dsum(col("d"), 2).as("total"))
        .orderBy("h")
    },

    // ----- Streaming change data feed → incremental materialization:
    // the composition UPDATE/DELETE-bearing tables need at 100 TB — a
    // downstream aggregate kept in sync by TAILING `t$changes` (change
    // commits arrive as minimal row deltas, not stream-breakers) and
    // applying inserts positively / deletes negatively, instead of
    // re-reading the table. The source walks CTAS → partial UPDATE →
    // drain → partition DELETE → checkpointed drain; the accumulated
    // signed ledger's NET state must equal the table's final state,
    // which the oracle restates directly from orders — one lost,
    // duplicated, or mislabeled delta and the net count or sum breaks.
    Q("s44_stream_cdf", "S-stream-cdf,S10,A1,A7", {
      val h = s"${TS.hash("'cd|' || o_orderkey")} % 4"
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price,
         |               $h AS h, year(o_orderdate) AS yr
         |             FROM orders),
         |fin AS (SELECT CASE WHEN h = 0 AND yr < 1995 THEN price * 1.1
         |                    ELSE price END AS price
         |        FROM src WHERE h <> 3)
         |SELECT count(*) AS n, ${Exact.sqlSum("price", 3)} AS total
         |FROM fin""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s44_t"
      val acc = "graft_cat.ns.s44_acc"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"DROP TABLE IF EXISTS $acc")
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("cd|"), col("o_orderkey").cast("string"))), lit(4L))
            .cast("int").as("h"),
          year(col("o_orderdate")).as("yr"))
        .writeTo(t).partitionedBy(col("h")).create()            // v1
      s.sql(s"UPDATE $t SET price = price * 1.1 WHERE h = 0 AND yr < 1995")
      s.sql(s"CREATE TABLE $acc (sign INT, price DOUBLE)")
      val ckpt = TempDirs.scratch("s44-ckpt")
      def drain(): Unit = {
        val q = s.readStream.table(s"graft_cat.ns.`s44_t$$changes`")
          .select(
            when(col("_change_type") === "insert", 1).otherwise(-1)
              .as("sign"),
            col("price"))
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(acc)
        awaitDrain("s44", q, ckpt)
      }
      drain() // CTAS inserts + the update's delete/insert deltas
      s.sql(s"DELETE FROM $t WHERE h = 3")
      drain() // checkpointed tail: exactly the delete commit's deltas
      s.table(acc).agg(
        sum(col("sign")).cast("long").as("n"),
        Exact.dsum(col("sign") * col("price"), 3).as("total"))
    },

    // ----- Merge-on-read row-level operations: the table opts into
    // `write.rowlevel.mode = merge-on-read`, so UPDATE and DELETE run
    // through Spark's delta-based rewrite (SupportsDelta) — deletes fold
    // into per-file DELETE VECTORS addressed by the _file_id/_row_pos
    // metadata columns, update postimages append as new files, and the
    // touched files are NEVER rewritten (GraftMorSpec pins file
    // identity; at 100 TB this is "update = a bitmap + the new rows").
    // The oracle restates the final DV-merged state and the pre-op
    // snapshot — a vector that dropped the wrong position, resurrected
    // a dead row, or leaked into time travel breaks a probe.
    Q("s45_mor_rowlevel", "S-mor,S10,S11,A7", {
      val h = s"${TS.hash("'mr|' || o_orderkey")} % 4"
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price, $h AS h
         |             FROM orders),
         |cur AS (SELECT CASE WHEN h = 0 THEN price * 1.1 ELSE price END
         |          AS price FROM src WHERE h <> 3)
         |SELECT 'cur' AS probe, count(*) AS n,
         |  ${Exact.sqlSum("price", 3)} AS total FROM cur
         |UNION ALL
         |SELECT 'v1', count(*), ${Exact.sqlSum("price", 3)} FROM src
         |ORDER BY probe""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s45_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, price DOUBLE, h BIGINT) " +
        "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("mr|"), col("o_orderkey").cast("string"))), lit(4L))
            .as("h"))
        .createOrReplaceTempView("s45_src")
      s.sql(s"INSERT INTO $t SELECT * FROM s45_src")          // v1
      s.sql(s"UPDATE $t SET price = price * 1.1 WHERE h = 0") // v2: DV+append
      s.sql(s"DELETE FROM $t WHERE h = 3")                    // v3: DV only
      def agg(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n"), Exact.dsum(col("price"), 3).as("total"))
          .select(lit(label).as("probe"), col("n"), col("total"))
      agg(s.table(t), "cur")
        .unionByName(agg(s.sql(s"SELECT * FROM $t VERSION AS OF 1"), "v1"))
        .orderBy("probe")
    },

    // ----- Bucketed storage-partitioned join: customer and orders land
    // in the catalog PARTITIONED BY bucket(16, custkey) — hash
    // co-location with NO enumerable partition values, the Iceberg
    // bucketed fact-fact join. Writes cluster through the catalog's own
    // `bucket` V2 function (one file per bucket), scans report the
    // bucket-transform key grouping, and under disabled broadcast the
    // join plans WITHOUT shuffling either side (GraftBucketSpec pins the
    // zero-shuffle plan; this row pins the results — a bucket kernel
    // that disagreed between write and read would misroute rows and
    // break the join content itself).
    Q("s46_bucket_join", "S-bucket,J5,A1,A7", {
      """WITH c AS (SELECT c_custkey AS ck, c_acctbal FROM customer),
        |     o AS (SELECT o_custkey AS ck,
        |             CAST(o_totalprice AS DOUBLE) AS price FROM orders)
        |SELECT count(*) AS n, CAST(sum(c.ck) AS BIGINT) AS sck,
        |""".stripMargin +
        s"  ${Exact.sqlSum("o.price", 2)} AS total\n" +
        "FROM c JOIN o ON c.ck = o.ck"
    }) { (s, dir) =>
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val tc = "graft_cat.ns.s46_cust"
      val to = "graft_cat.ns.s46_ord"
      s.sql(s"DROP TABLE IF EXISTS $tc")
      s.sql(s"DROP TABLE IF EXISTS $to")
      s.sql(s"CREATE TABLE $tc (ck BIGINT, bal DOUBLE) " +
        "PARTITIONED BY (bucket(16, ck))")
      s.sql(s"CREATE TABLE $to (ck BIGINT, price DOUBLE) " +
        "PARTITIONED BY (bucket(16, ck))")
      Tables.customer(s, dir)
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_acctbal").cast("double").as("bal"))
        .writeTo(tc).append()
      Tables.orders(s, dir)
        .select(col("o_custkey").cast("long").as("ck"),
          col("o_totalprice").cast("double").as("price"))
        .writeTo(to).append()
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      val row =
        try {
          confs.foreach { case (k, v) => s.conf.set(k, v) }
          s.table(tc).join(s.table(to), "ck")
            .agg(count(lit(1)).as("n"), sum("ck").as("sck"),
              Exact.dsum(col("price"), 2).as("total"))
            .as[(Long, Long, Double)].collect().toSeq
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      row.toDF("n", "sck", "total")
    },

    // ----- Column-mapping schema evolution: RENAME COLUMN (metadata-
    // only; an Iceberg-style FIELD ID travels with the column) and DROP
    // COLUMN (positional row rebuild), composed over a populated table.
    // Probes: the final state under the NEW name, the pre-evolution
    // snapshot under the OLD shape (time travel serves the old schema),
    // and the change data feed ACROSS the rename — the v1 inserts'
    // values must surface under the renamed column via field-id
    // matching; name-only matching would read them as NULL and zero the
    // cdf sum. The oracle restates all three from the source.
    Q("s47_column_mapping", "S-colmap,S10,F2,A7", {
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price,
         |               year(o_orderdate) AS yr
         |             FROM orders),
         |v1 AS (SELECT k, price FROM src WHERE yr < 1995)
         |SELECT 'cdf' AS probe, count(*) AS n,
         |  ${Exact.sqlSum("price", 2)} AS total FROM src
         |UNION ALL
         |SELECT 'cur', count(*), ${Exact.sqlSum("price", 2)} FROM src
         |UNION ALL
         |SELECT 'v1', count(*), ${Exact.sqlSum("price", 2)} FROM v1
         |ORDER BY probe""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s47_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val src = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("junk"),
          col("o_totalprice").cast("double").as("price"),
          year(col("o_orderdate")).as("yr"))
      src.filter(col("yr") < 1995).drop("yr").writeTo(t).create() // v1
      s.sql(s"ALTER TABLE $t RENAME COLUMN price TO amount")      // v2
      s.sql(s"ALTER TABLE $t DROP COLUMN junk")                   // v3
      src.filter(col("yr") >= 1995).drop("yr", "junk")
        .withColumnRenamed("price", "amount")
        .writeTo(t).append()                                      // v4
      def agg(df: org.apache.spark.sql.DataFrame, c: String, label: String) =
        df.agg(count(lit(1)).as("n"), Exact.dsum(col(c), 2).as("total"))
          .select(lit(label).as("probe"), col("n"), col("total"))
      agg(s.table(t), "amount", "cur")
        .unionByName(agg(
          s.sql(s"SELECT * FROM $t VERSION AS OF 1"), "price", "v1"))
        .unionByName(agg(
          s.table("graft_cat.ns.`s47_t$changes`")
            .filter(col("_change_type") === "insert"), "amount", "cdf"))
        .orderBy("probe")
    },

    // ----- CHECK constraints: the table declares `price >= 0` at
    // create; two valid commits land, and a mixed batch containing
    // negated prices is REFUSED WHOLE before the state swaps (the
    // atomicity half — a partial land would leave the batch's valid
    // rows behind). The oracle restates the two valid commits only; a
    // gate that let the bad batch through (or dropped just its bad
    // rows) changes the count and the sum. GraftConstraintsSpec pins
    // the ALTER/NULL/dialect semantics.
    Q("s48_check_constraint", "S-check,S8,A7", {
      val h = s"${TS.hash("'ck|' || o_orderkey")} % 4"
      s"""WITH src AS (SELECT o_orderkey AS k,
         |               CAST(o_totalprice AS DOUBLE) AS price, $h AS h
         |             FROM orders)
         |SELECT count(*) AS n, ${Exact.sqlSum("price", 2)} AS total,
         |  CAST(min(price) >= 0 AS INT) AS all_valid
         |FROM src""".stripMargin
    }) { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val t = "graft_cat.ns.s48_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, price DOUBLE, h BIGINT) " +
        "TBLPROPERTIES ('constraints.pos_price' = 'price >= 0')")
      val src = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"),
          pmod(TF.polyHash(
            concat(lit("ck|"), col("o_orderkey").cast("string"))), lit(4L))
            .as("h"))
      src.filter(col("h") < 2).writeTo(t).append()  // valid commit 1
      // a mixed batch: h=2 rows valid, h=3 rows NEGATED — the whole
      // commit must be refused
      val refused = scala.util.Try {
        src.filter(col("h") >= 2)
          .withColumn("price",
            when(col("h") === 3, -col("price")).otherwise(col("price")))
          .writeTo(t).append()
      }
      require(refused.isFailure, "the violating commit must be refused")
      src.filter(col("h") >= 2).writeTo(t).append() // valid commit 2
      s.table(t).agg(count(lit(1)).as("n"),
        Exact.dsum(col("price"), 2).as("total"),
        (min(col("price")) >= 0).cast("int").as("all_valid"))
    }
  )
}
