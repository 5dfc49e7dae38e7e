package graft.dev

import graft.SparkEntry

/** Dev-only: dump formatted physical plans for every registered query,
  * on the Bench session, so pushdown (PushedFilters/ReadSchema), join
  * strategies, and exchange counts can be reviewed. Usage:
  * runMain graft.dev.Explain [queryName]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session("graft-explain-wh")
    val dir = "/root/testdata/sf0.001"
    val only = args.headOption
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_ == q._1))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          println(plan)
        } catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
