package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one client thread, a closed
  * loop for `--seconds`, raw timings and traces written as JSON for the
  * report (`perfbench/run.py`), which computes every metric.
  *
  * Arguments: `--workload w --seed n --seconds s --trace 0|1 --data dir
  * --work dir --out file --launched-ms t --first-day d --days n`.
  *
  * `--workload train:w1,w2` runs each named workload's set-up and warm
  * pass and writes nothing: the build uses it to record the
  * class-data-sharing archive the timed runs start from.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(a("work")).toAbsolutePath
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.registerAll(spark)
    val sessionS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3

    val tr = new Tracer(spark)
    val seed = a("seed").toLong
    val data = a("data")
    def workload(name: String): Workload = name match {
      case "weekly_increment" => new WeeklyIncrement(spark, tr, data, work, seed,
        java.time.LocalDate.parse(a("first-day")), a("days").toInt)
      case "dashboard" => new Dashboard(spark, tr, data, work, seed)
    }
    if (a("workload").startsWith("train:")) {
      a("workload").stripPrefix("train:").split(",").map(workload).foreach { w =>
        w.prepare(); w.warm()
      }
      spark.stop()
      return
    }
    val w = workload(a("workload"))
    // progress lines in the JVM log, seconds since launch
    def mark(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - a("launched-ms").toLong) / 1e3}%.1f s: $what")
    mark("session ready")
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val prep = secs(w.prepare())
    mark("prepared")
    val warm = secs(w.warm())
    mark("warmed")

    // closed loop; in a traced run every other step is traced (at least
    // one of each), so the run also yields the untraced step times the
    // tracing overhead is taken from
    HeapWatch.install()
    HeapWatch.watching = true
    val t0 = System.nanoTime()
    var steps = 0
    var liveHeap = 0L
    while (steps < (if (trace) 2 else 1) ||
        (System.nanoTime() - t0) / 1e9 < a("seconds").toDouble) {
      val traceThis = trace && steps % 2 == 1
      if (traceThis) tr.attach()
      w.step()
      if (traceThis) tr.detach()
      steps += 1
      // live heap after the step: what the session still holds, once
      // Spark's cleaner has released what the first collection freed
      System.gc()
      Thread.sleep(300)
      System.gc()
      liveHeap = math.max(liveHeap,
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    HeapWatch.watching = false
    mark("loop done")
    val facts = w.finish()
    mark("finished")

    // host canary (graft.Bench's shape, a quarter of its size): fixed RDD
    // work per core
    val canary = secs {
      spark.sparkContext.parallelize(0L until 500000L * cores, cores)
        .map(i => ((i * 2654435761L) & 1023L, i * 31L + (i >>> 7)))
        .reduceByKey(_ + _, cores).count()
      ()
    }
    val out = Map(
      "session_s" -> sessionS, "prep_s" -> prep, "warm_s" -> warm,
      "loop_s" -> loopS, "steps" -> steps,
      "ops" -> w.ops.toSeq.map(o => Map("kind" -> o.kind, "seconds" -> o.seconds,
        "traced" -> o.traced, "ok" -> o.ok)),
      "facts" -> facts,
      "live_heap_mb" -> liveHeap / 1048576.0, "peak_heap_after_gc_mb" -> HeapWatch.peakMb,
      "diag" -> Map("nproc" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "canary_s" -> canary),
      "trace" -> (if (trace) tr.dump() else Map.empty))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(out))
    mark("written")
    spark.stop()
    mark("stopped")
  }
}
