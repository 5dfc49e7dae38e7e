package graft.dev

import org.apache.spark.sql.SparkSession
import graft.{QueryProfile, SparkEntry}

/** Dev-only: profile registry queries on the Bench session, `reps`
  * times each — builder, action and Catalyst time, then jobs, stages,
  * tasks, executor time and shuffle per Spark call site
  * ([[graft.QueryProfile]]). Usage:
  * runMain graft.dev.ProfileQuery [name] [sfDir] [reps]; an empty or
  * missing name profiles every registry query. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.filter(_.nonEmpty).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = SparkEntry.session("graft-profile-wh")
    try profile(spark, names, sfDir, reps) finally spark.stop()
  }

  /** Profile `names` (every registry query when empty) `reps` times
    * each on `spark`, printing each profile as it completes. */
  def profile(spark: SparkSession, names: Seq[String], sfDir: String,
              reps: Int): Seq[(String, QueryProfile)] = {
    val queries = SparkEntry.queries
    for {
      name <- if (names.isEmpty) queries.keys.toSeq.sorted else names
      rep <- 1 to reps
    } yield {
      val p = try QueryProfile.run(spark)(queries(name)(spark, sfDir))
        finally graft.analytics.Caches.release()
      println(p.render(s"$name rep $rep"))
      name -> p
    }
  }
}
