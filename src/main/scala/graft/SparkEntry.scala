package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.{CurationQueries, MultimodalQueries, PipelineQueries, Q, RelationalQueries, TextQueries, VectorQueries}

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
}
