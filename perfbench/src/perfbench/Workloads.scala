package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{AqsQueries, Caches, PipelineQueries}
import graft.model.Schemas
import graft.operators.DimBuild.HashKeys
import graft.pipeline.{BronzeToSilver, Ingest, SilverToGold}
import graft.sources.GraftCatalog

/** One timed operation and whether its output checked out. */
final case class Op(kind: String, seconds: Double, traced: Boolean, ok: Boolean)

/** What both workloads share: the session, the tracer, the recorded
  * operations and the catalog plumbing. */
abstract class Workload(val spark: SparkSession, val tr: Tracer,
                        val data: String, val work: Path, val seed: Long) {
  val ops = mutable.ArrayBuffer.empty[Op]

  /** Build the start state of the timed run. */
  def prepare(): Unit
  /** One untimed pass over the operation (JIT, codegen). */
  def warm(): Unit
  /** One closed-loop step; appends to [[ops]]. */
  def step(): Unit
  /** End-of-run facts: stored bytes and live rows of the warehouse. */
  def finish(): Map[String, Double]

  def traced: Boolean = tr.on

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private var catalogs = 0
  /** A fresh durable catalog over a fresh warehouse directory. */
  def newCatalog(prefix: String): (String, Path) = {
    catalogs += 1
    val name = s"${prefix}_$catalogs"
    val wh = Files.createDirectories(work.resolve(name))
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh.toString)
    (name, wh)
  }

  /** (num_files, num_rows) of a catalog table, from DESCRIBE DETAIL. */
  def detail(table: String): (Long, Long) = {
    val r = spark.sql(s"DESCRIBE DETAIL $table").head()
    (r.getAs[Int]("num_files").toLong, r.getAs[Long]("num_rows"))
  }

  /** Bytes on disk under a warehouse and live rows in its tables. */
  def stored(cat: String, wh: Path): Map[String, Double] = {
    val tables = spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(r => s"$cat.ns.${r.getString(1)}")
    Map("stored_bytes" -> Workload.du(wh).toDouble,
      "live_rows" -> tables.map(t => detail(t)._2).sum.toDouble)
  }

  /** The gold star read back through the catalog. */
  def gold(ns: String): SilverToGold.Gold = {
    def t(n: String) = spark.table(s"$ns.$n")
    SilverToGold.Gold(t("dim_date"), t("dim_location"), t("dim_parameter"),
      t("dim_method"), t("fact"))
  }

  // ---- trace-only catalog facts, recorded as counters of the open span ----

  /** Files and bytes the body adds under a warehouse, and the commits
    * (log entries) among them. */
  def writes[T](wh: Path)(body: => T): T =
    if (!traced) body
    else {
      val before = tr.probe(Workload.files(wh))
      val r = body
      tr.probe {
        val added = Workload.files(wh) -- before.keySet
        tr.count("files_written", added.size)
        tr.count("bytes_written", added.values.sum.toDouble)
        tr.count("commits", added.keys.count(Workload.isCommit))
      }
      r
    }

  /** Live-row growth of `tables` over the body. */
  def inserted[T](tables: Seq[String])(body: => T): T =
    if (!traced) body
    else {
      def rows = tr.probe(tables.map(t => detail(t)._2).sum)
      val before = rows
      val r = body
      tr.count("rows_inserted", (rows - before).toDouble)
      r
    }

  /** Live files of silver and the fact. */
  def liveFiles(ns: String): Unit =
    if (traced) tr.probe(Seq("silver_measurement", "fact").foreach { n =>
      tr.count(s"live_files.$n", detail(s"$ns.$n")._1.toDouble)
    })
}

object Workload {
  def du(p: Path): Long = files(p).values.sum

  def files(p: Path): Map[String, Long] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally s.close()
  }

  /** A commit-log entry: `log/<11-digit version>.json` in a table dir. */
  def isCommit(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    p.getFileName.toString.matches("\\d{11}\\.json") &&
      Option(p.getParent).exists(_.getFileName.toString == "log")
  }

  def delete(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** A result's rows in an order that does not depend on the plan. */
  def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The census population side table, as g1/g2 derive it. */
  def population(bronze: DataFrame): DataFrame =
    bronze.select(col("state_code")).distinct()
      .withColumn("population", (col("state_code").cast("int") * 100000 + 7).cast("int"))
}

/** A gold lakehouse over the dates before the series start, then weekly
  * 10-day windows advanced 7 days (the 3 overlapping days are the
  * reference's restating re-pull): each through BronzeToSilver and
  * insert-only MERGE INTO silver, the four dims and the fact, followed by
  * one refresh measure. Each series of [[Series]] increments starts from
  * a restored copy of the same base, and must end equal to one batch
  * rebuild over the same dates. */
final class WeeklyIncrement(s: SparkSession, t: Tracer, d: String, w: Path, seed: Long,
                            firstDay: java.time.LocalDate, days: Int)
    extends Workload(s, t, d, w, seed) {
  val Series = 3
  /** Series start: one of the eight weeks that leave room for the series
    * before the feed ends, picked by the seed. */
  val start: java.time.LocalDate = firstDay.plusDays(
    days - 7L * (Series + 1) - 7L * new scala.util.Random(seed).nextInt(8))
  private val end = java.sql.Date.valueOf(start.plusDays(7L * Series))
  private def window(k: Int): (java.sql.Date, java.sql.Date) =
    Ingest.rollingWindow(start.plusDays(7L * k - 3 + 110))

  private var landing = ""
  private var snapshot: Path = _
  private var expectedSilver: DataFrame = _
  private var expectedFact: DataFrame = _
  private var expectedRows = (0L, 0L)
  private var lastSeries: Option[(String, Path)] = None

  /** The weekly pull: a window of the landed bronze feed. */
  private def pull(from: java.sql.Date, to: java.sql.Date): DataFrame =
    Ingest.windowFilter(spark.table(landing), from, to)

  /** The landed bronze feed, the base lakehouse and its snapshot, and the
    * batch-rebuilt silver and fact every series must end equal to. */
  def prepare(): Unit = {
    val (lc, _) = newCatalog("landing")
    landing = s"$lc.ns.bronze"
    PipelineQueries.bronzeFromLineitem(spark, data).writeTo(landing).create()
    val all = pull(java.sql.Date.valueOf(firstDay), end)
    val gsv = BronzeToSilver(all)
    expectedSilver = gsv.measurement.persist()
    expectedFact = SilverToGold(gsv.copy(measurement = expectedSilver),
      Workload.population(all), HashKeys).fact.persist()
    expectedRows = (expectedSilver.count(), expectedFact.count())

    val (bc, bwh) = newCatalog("base")
    val ns = s"$bc.ns"
    val bronze = Caches.persistTracked(pull(java.sql.Date.valueOf(firstDay),
      java.sql.Date.valueOf(start)))
    val sv = BronzeToSilver(bronze)
    sv.measurement.writeTo(s"$ns.silver_measurement")
      .partitionedBy(col("state_code")).create()
    SilverToGold.dimDate(sv.measurement, HashKeys).writeTo(s"$ns.dim_date").create()
    SilverToGold.dimParameter(sv.parameter, HashKeys).writeTo(s"$ns.dim_parameter").create()
    SilverToGold.dimMethod(sv.method, HashKeys).writeTo(s"$ns.dim_method").create()
    SilverToGold.dimLocation(sv.site, sv.adminArea, sv.cbsa,
      Workload.population(bronze), HashKeys).writeTo(s"$ns.dim_location").create()
    def t(n: String) = spark.table(s"$ns.$n")
    SilverToGold.fact(t("silver_measurement"), t("dim_date"), t("dim_location"),
      t("dim_parameter"), t("dim_method")).writeTo(s"$ns.fact").create()
    Caches.release()
    snapshot = work.resolve("base-snapshot")
    Workload.copy(bwh, snapshot)
  }

  /** A catalog over a fresh copy of the base snapshot. */
  private def restore(prefix: String): (String, Path) = {
    val (cat, wh) = newCatalog(prefix)
    Workload.copy(snapshot, wh)
    (cat, wh)
  }

  private def refresh(ns: String): Unit =
    AqsQueries.stateRank(AqsQueries.star(gold(ns))).collect()

  /** One increment and refresh on a scratch copy of the base. */
  def warm(): Unit = {
    val (cat, wh) = restore("warm")
    increment(s"$cat.ns", wh, 0)
    refresh(s"$cat.ns")
    Workload.delete(wh)
  }

  def step(): Unit = {
    val (cat, wh) = restore("series")
    val ns = s"$cat.ns"
    val mine = (0 until Series).flatMap { k =>
      tr.beginOp()
      val (_, inc) = timed(tr.span("op.increment") { increment(ns, wh, k); liveFiles(ns) })
      val (_, ref) = timed(tr.span("analytics.refresh")(refresh(ns)))
      Seq(Op("increment", inc, traced, ok = true), Op("refresh", ref, traced, ok = true))
    }
    // equal multisets: as many rows, and none beyond the expected ones
    def same(a: DataFrame, b: DataFrame, n: Long) = a.count() == n && a.exceptAll(b).isEmpty
    val ok = same(spark.table(s"$ns.silver_measurement"), expectedSilver, expectedRows._1) &&
      same(spark.table(s"$ns.fact").select(expectedFact.columns.map(col): _*), expectedFact,
        expectedRows._2)
    ops ++= mine.map(_.copy(ok = ok))
    lastSeries.foreach(l => Workload.delete(l._2))
    lastSeries = Some(cat -> wh)
  }

  private def merge(target: String, src: DataFrame, key: Seq[String]): Unit = {
    src.createOrReplaceTempView("perfbench_src")
    spark.sql(s"MERGE INTO $target t USING perfbench_src s ON " +
      key.map(c => s"t.$c = s.$c").mkString(" AND ") +
      " WHEN NOT MATCHED THEN INSERT *")
  }

  private def increment(ns: String, wh: Path, k: Int): Unit = {
    val (from, to) = window(k)
    val (sv, pop) = tr.span("pipeline.ingest") {
      val bronze = Caches.persistTracked(pull(from, to))
      val sv0 = BronzeToSilver(bronze)
      val m = Caches.persistTracked(sv0.measurement)
      m.count()
      (sv0.copy(measurement = m), Workload.population(bronze))
    }
    tr.span("sources.merge_silver")(writes(wh)(inserted(Seq(s"$ns.silver_measurement")) {
      merge(s"$ns.silver_measurement", sv.measurement, Schemas.measurementKey)
    }))
    val dims = Seq("dim_date", "dim_parameter", "dim_method", "dim_location").map(n => s"$ns.$n")
    tr.span("sources.merge_dims")(writes(wh)(inserted(dims) {
      merge(s"$ns.dim_date", SilverToGold.dimDate(sv.measurement, HashKeys), Seq("date_key"))
      merge(s"$ns.dim_parameter", SilverToGold.dimParameter(sv.parameter, HashKeys),
        Seq("parameter_key"))
      merge(s"$ns.dim_method", SilverToGold.dimMethod(sv.method, HashKeys), Seq("method_key"))
      merge(s"$ns.dim_location", SilverToGold.dimLocation(sv.site, sv.adminArea, sv.cbsa,
        pop, HashKeys), Seq("location_key"))
    }))
    tr.span("sources.merge_fact")(writes(wh)(inserted(Seq(s"$ns.fact")) {
      val g = gold(ns)
      merge(s"$ns.fact", SilverToGold.fact(sv.measurement, g.dimDate, g.dimLocation,
        g.dimParameter, g.dimMethod), Seq("date_key", "location_key", "parameter_key", "poc"))
    }))
    Caches.release()
  }

  def finish(): Map[String, Double] = lastSeries.map { case (c, wh) => stored(c, wh) }.get
}

/** One analyst rendering report pages over the gold star read back
  * through the catalog: the 13 measures plus a state, a year and a
  * parameter slicer, in a seeded order per page. Each result must equal
  * the same query over an in-memory gold built once in setup. */
final class Dashboard(s: SparkSession, t: Tracer, d: String, w: Path, seed: Long)
    extends Workload(s, t, d, w, seed) {
  import AqsQueries._
  private val rng = new scala.util.Random(seed)
  private var ns = ""
  private var wh: Path = _
  private var cat = ""
  private var queries: Seq[(String, DataFrame => DataFrame)] = Nil
  private val expected = mutable.Map.empty[String, Seq[Row]]
  private val kept = mutable.Map.empty[String, Long]

  private val measures: Seq[(String, DataFrame => DataFrame)] = Seq(
    "avg_aqi_by_year_parameter" -> avgAqiByYearParameter,
    "avg_aqi_by_month_mom" -> (x => avgAqiByMonthWithMoM(x)),
    "avg_aqi_same_period_last_year" -> avgAqiSamePeriodLastYear,
    "unhealthy_day_count" -> unhealthyDayCount,
    "unhealthy_days_per_100k" -> (x => unhealthyDaysPer100k(x)),
    "state_rank" -> stateRank,
    "worst_state" -> worstState,
    "leading_pollutant" -> leadingPollutant,
    "avg_aqi_by_display_pollutant" -> avgAqiByDisplayPollutant,
    "bad_aqi_days_ytd" -> badAqiDaysYtd,
    "pct_of_us_exposure" -> pctOfUsExposure,
    "yoy_aqi_change" -> yoyAqiChange,
    "aqi_category_share_by_state" -> aqiCategoryShareByState)

  /** The gold star built in memory (HashKeys, no catalog), published to
    * the catalog, and every query's expected result over the in-memory
    * star. */
  def prepare(): Unit = {
    val (c, dir) = newCatalog("star")
    cat = c; ns = s"$c.ns"; wh = dir
    val bronze = Caches.persistTracked(PipelineQueries.bronzeFromLineitem(spark, data))
    val g = SilverToGold(BronzeToSilver(bronze), Workload.population(bronze), HashKeys)
    val (dd, dl, dp, dm) = (Caches.persistTracked(g.dimDate),
      Caches.persistTracked(g.dimLocation), Caches.persistTracked(g.dimParameter),
      Caches.persistTracked(g.dimMethod))
    val gm = SilverToGold.Gold(dd, dl, dp, dm, Caches.persistTracked(
      SilverToGold.fact(BronzeToSilver.measurement(bronze), dd, dl, dp, dm)))
    val mem = Caches.persistTracked(star(gm))
    Seq("dim_date" -> dd, "dim_location" -> dl, "dim_parameter" -> dp,
      "dim_method" -> dm, "fact" -> gm.fact)
      .foreach { case (n, df) => df.writeTo(s"$ns.$n").create() }
    measures.foreach { case (n, f) => expected(n) = Workload.rowsOf(f(mem)) }
    // slicer values: seeded picks among the values the measures report;
    // the program only sees the filters
    def pick(measure: String, c: String) = {
      val vs = expected(measure).map(_.getAs[Any](c)).distinct.sortBy(String.valueOf)
      vs(new scala.util.Random(seed * 31 + c.length).nextInt(vs.length))
    }
    val slicers: Seq[(String, DataFrame => DataFrame, org.apache.spark.sql.Column)] = Seq(
      ("slicer_state", x => avgAqiByMonthWithMoM(x, januaryBlank = true),
        col("state_name") === lit(pick("state_rank", "state_name"))),
      ("slicer_year", aqiCategoryShareByState,
        col("year") === lit(pick("avg_aqi_by_year_parameter", "year"))),
      ("slicer_parameter", x => unhealthyDaysPer100k(x),
        col("parameter_name") === lit(pick("avg_aqi_by_year_parameter", "parameter_name"))))
    val sliced = slicers.map { case (n, f, p) => n -> ((x: DataFrame) => f(x.filter(p))) }
    sliced.foreach { case (n, f) => expected(n) = Workload.rowsOf(f(mem)) }
    slicers.foreach { case (n, _, p) => kept(n) = mem.filter(p).count() }
    queries = measures ++ sliced
    Caches.release()
  }

  def warm(): Unit = page(record = false)

  def step(): Unit = page(record = true)

  private def page(record: Boolean): Unit = {
    tr.beginOp()
    val order = rng.shuffle(queries)
    val (mine, secs) = timed(tr.span("op.page") {
      order.map { case (n, f) =>
        val kind = if (n.startsWith("slicer")) "slicer" else "measure"
        val (rows, q) = timed(tr.span(s"analytics.$kind") {
          if (kind == "slicer") tr.count("rows_kept", kept(n).toDouble)
          tr.count(s"measure.$n", 1)
          Workload.rowsOf(f(star(gold(ns))))
        })
        Op(kind, q, traced, rows == expected(n))
      }
    })
    if (record) ops ++= mine :+ Op("page", secs, traced, mine.forall(_.ok))
  }

  def finish(): Map[String, Double] = stored(cat, wh)
}
