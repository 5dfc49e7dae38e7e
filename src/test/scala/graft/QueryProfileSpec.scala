package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions.{col, udf}

/** Held open by the timeout test: its task waits here (tasks run in this
  * JVM in local mode) until the test releases it. */
object QueryProfileSpecGate {
  @volatile var started = false
  @volatile var open = false
  def hold(): Unit = {
    started = true
    val end = System.nanoTime() + 60L * 1000000000L
    while (!open && System.nanoTime() < end) Thread.sleep(10)
  }
}

class QueryProfileSpec extends SparkSpec {

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** 7 groups over 4 range partitions, then a count: one job of 3 stages
    * (4 map tasks, 4 shuffle partitions, 1 final count task). */
  private def grouped = spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count()

  test("a fixed-shape query reports its stages, tasks, shuffle and call sites") {
    val p = withoutAqe(QueryProfile.run(spark) {
      spark.range(0, 100, 1, 2).count() // an eager job inside the builder
      grouped
    })
    assert(p.complete && p.error.isEmpty)
    assert(p.rows === Some(7L))
    assert(p.builderS > 0 && p.actionS > 0 && p.catalystS > 0)
    assert((p.total.jobs, p.total.stages, p.total.tasks) === ((2, 5, 12)))
    assert(p.total.shuffleWriteBytes > 0 && p.total.shuffleReadBytes > 0)
    assert(p.total.runS > 0 && p.total.cpuS > 0)
    val Seq((eager, e), (action, a)) = p.sites
    assert(eager.startsWith("count at QueryProfileSpec.scala:"), eager)
    assert(action.startsWith("count at QueryProfile.scala:"), action)
    assert((e.jobs, e.stages, e.tasks) === ((1, 2, 3)))
    assert((a.jobs, a.stages, a.tasks) === ((1, 3, 9)))
    val summed = p.sites.map(_._2).reduce(_ + _)
    assert(summed.copy(runS = 0, cpuS = 0, gcS = 0) ===
      p.total.copy(runS = 0, cpuS = 0, gcS = 0))
    assert(math.abs(summed.runS - p.total.runS) < 1e-9)
    assert(math.abs(summed.cpuS - p.total.cpuS) < 1e-9)
  }

  test("back-to-back runs share no job") {
    val p1 = withoutAqe(QueryProfile.run(spark)(grouped))
    val p2 = withoutAqe(QueryProfile.run(spark)(grouped))
    assert(p1.complete && p2.complete)
    assert(p1.jobIds.size === 1 && p2.jobIds.size === 1)
    assert(p1.jobIds.intersect(p2.jobIds).isEmpty)
    assert((p2.total.jobs, p2.total.stages, p2.total.tasks) === ((1, 3, 9)))
  }

  test("a job started on another thread without the run's tag is not counted") {
    val alone = QueryProfile.run(spark)(spark.range(0, 10, 1, 1).toDF())
    val go, done = new CountDownLatch(1)
    // started before the run, so it does not inherit the run's job tag
    val other = new Thread(() => {
      go.await()
      spark.range(0, 1000, 1, 3).count()
      done.countDown()
    })
    other.start()
    val p = QueryProfile.run(spark) {
      go.countDown()
      assert(done.await(60, TimeUnit.SECONDS)) // ran inside the run
      spark.range(0, 10, 1, 1).toDF()
    }
    other.join()
    assert(p.complete && p.error.isEmpty)
    assert((p.total.jobs, p.total.stages, p.total.tasks) ===
      ((alone.total.jobs, alone.total.stages, alone.total.tasks)))
    assert(p.sites.map(_._1) === alone.sites.map(_._1))
  }

  test("a failing query still returns its profile") {
    val boom = udf((x: Long) =>
      if (x >= 50) throw new IllegalStateException("boom") else true)
    val t0 = System.nanoTime()
    val p = QueryProfile.run(spark)(spark.range(0, 100, 1, 2).toDF().filter(boom(col("id"))))
    assert((System.nanoTime() - t0) / 1e9 < 10)
    assert(p.error.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).exists(_.getMessage.contains("boom"))))
    assert(p.rows.isEmpty && p.complete)
    assert(p.total.jobs >= 1 && p.total.tasks >= 1)
    val failedBuild = QueryProfile.run(spark)(throw new IllegalStateException("no frame"))
    assert(failedBuild.error.map(_.getMessage) === Some("no frame"))
    assert(failedBuild.complete && failedBuild.total.jobs === 0)
  }

  test("a job still running after the bounded wait marks the profile incomplete") {
    // the run waits the full QueryProfile.MaxWait for the held job
    QueryProfileSpecGate.started = false
    QueryProfileSpecGate.open = false
    var slow: Thread = null
    val t0 = System.nanoTime()
    val p = QueryProfile.run(spark) {
      // created inside the run, so its job carries the run's tag
      slow = new Thread(() => {
        spark.sparkContext.parallelize(Seq(1), 1)
          .map { x => QueryProfileSpecGate.hold(); x }.count()
        ()
      })
      slow.start()
      val end = System.nanoTime() + 60L * 1000000000L
      while (!QueryProfileSpecGate.started && System.nanoTime() < end)
        Thread.sleep(10)
      spark.range(0, 10, 1, 1).toDF()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    QueryProfileSpecGate.open = true
    slow.join()
    assert(QueryProfileSpecGate.started)
    assert(!p.complete && p.error.isEmpty && p.rows === Some(10L))
    assert(p.total.jobs >= 2) // the held job and the action
    assert(waited >= QueryProfile.MaxWait.toSeconds)
    assert(waited < QueryProfile.MaxWait.toSeconds + 5, s"returned after $waited s")
  }

  test("a call site names the outer line of the same file it came through") {
    val viaFuture = Seq(
      "org.apache.spark.sql.classic.DataFrameWriterV2.create(DataFrameWriterV2.scala:1)",
      "graft.analytics.PipelineQueries$.publish$1(PipelineQueries.scala:410)",
      "graft.analytics.PipelineQueries$.$anonfun$all$3(PipelineQueries.scala:424)",
      "scala.concurrent.Future$.$anonfun$apply$1(Future.scala:687)",
      "java.lang.Thread.run(Thread.java:840)").mkString("\n")
    assert(QueryProfile.callSite("create at PipelineQueries.scala:410", viaFuture) ===
      "create at PipelineQueries.scala:410 via PipelineQueries.scala:424")
    val direct = Seq(
      "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)",
      "graft.analytics.PipelineQueries$.$anonfun$all$1(PipelineQueries.scala:307)",
      "graft.dev.ProfileQuery$.$anonfun$profile$1(ProfileQuery.scala:30)",
      "graft.QueryProfile$.run(QueryProfile.scala:101)").mkString("\n")
    assert(QueryProfile.callSite("count at PipelineQueries.scala:307", direct) ===
      "count at PipelineQueries.scala:307")
    assert(QueryProfile.callSite("run at ThreadPoolExecutor.java:1136", "") ===
      "run at ThreadPoolExecutor.java:1136")
  }
}
