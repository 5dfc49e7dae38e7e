package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-verifiable query: a Spark DataFrame program plus a DuckDB
  * oracle that must produce a bit-identical result on the same parquet
  * tables.
  *
  * @param survey SURVEY.md §2 operator ids this query demonstrates.
  */
final case class Q(name: String, survey: String, oracle: String)(
    val fn: (SparkSession, String) => DataFrame)
