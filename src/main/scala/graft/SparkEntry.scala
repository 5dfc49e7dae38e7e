package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.{CurationQueries, MultimodalQueries, PipelineQueries, Q, RelationalQueries, TempDirs, TextQueries, VectorQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every registered query (SURVEY §2 inventory + training-data ops). */
  def registry: Seq[Q] =
    RelationalQueries.all ++ TextQueries.all ++ VectorQueries.all ++
      CurationQueries.all ++ MultimodalQueries.all ++ PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The star-join measure — scan, 4 joins (broadcast dims), agg, sort. */
  def entry(spark: SparkSession): DataFrame =
    queries("j10_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** Local cores the drivers run on (`SPARK_GRAFT_CPUS`, default 4). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one session recipe of Bench, Verify and the dev tools:
    * `local[cpus]` with as many shuffle partitions, the graft extensions
    * (which inject the functions), nanosecond parquet timestamps read as
    * longs, UTC, no UI, and a fresh warehouse per JVM — the write-path
    * queries create managed tables, and a warehouse reused across JVMs
    * throws LOCATION_ALREADY_EXISTS (the catalog forgets, the directory
    * remains). TempDirs reclaims the warehouse at JVM exit. */
  def session(warehousePrefix: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", TempDirs.scratch(warehousePrefix))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
