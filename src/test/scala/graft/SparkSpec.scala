package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole test JVM (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      // the production extension route: the maintenance-DDL parser,
      // the view-substitution rule and the function registry — tests
      // exercise the same session shape a cluster job configures
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // state partition values are FIPS codes with leading zeros ("06");
      // inference would silently read them back as ints
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.analytics.TempDirs.scratch("graft-wh"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.registerAll(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  /** A fresh directory, reclaimed at test-JVM exit. */
  def tmpDir(prefix: String): String = graft.analytics.TempDirs.scratch(prefix)
}
