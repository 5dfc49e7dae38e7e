package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as the times Spark puts in its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records spans around the benchmark's calls into the program, plus
  * per-job, per-stage and per-query facts from Spark's public listeners.
  * Everything stays in memory until [[dump]]; attribution of jobs and
  * queries to spans is left to the report, which knows the span tree. */
final class Tracer(spark: SparkSession) {
  private final case class SpanRec(id: Int, name: String, parent: Int,
      op: Int, start: Double, var end: Double = 0.0,
      counters: mutable.Map[String, Double] = mutable.Map.empty)

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private var opId = -1
  @volatile var on = false

  /** Open a new operation: spans recorded until the next call share
    * its id. */
  def beginOp(): Unit = { opId += 1 }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = SpanRec(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        opId, Clock.now())
      spans += s
      stack = s :: stack
      try body
      finally { s.end = Clock.now(); stack = stack.tail }
    }

  /** Instrumentation inside a traced op (catalog censuses): its jobs and
    * time belong to no layer. */
  def probe[T](body: => T): T = span("bench.probe")(body)

  /** Add to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s =>
      s.counters(key) = s.counters.getOrElse(key, 0.0) + v)

  // ---- Spark listeners -------------------------------------------------

  private final class StageAgg {
    var job = -1; var submitted = 0.0; var firstLaunch = Double.MaxValue
    var tasks = 0; var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var shuffleWrite = 0.0; var shuffleRead = 0.0; var fetchWaitMs = 0.0
    var spill = 0.0
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Double]]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var lastEvent = 0L

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      lastEvent = System.nanoTime()
      jobs(e.jobId) = Array(e.time.toDouble, 0.0)
      e.stageIds.foreach(stage(_).job = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      lastEvent = System.nanoTime()
      jobs.get(e.jobId).foreach(_(1) = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        lastEvent = System.nanoTime()
        stage(e.stageInfo.stageId).submitted =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      lastEvent = System.nanoTime()
      val s = stage(e.stageId)
      s.tasks += 1
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime.toDouble)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      lastEvent = System.nanoTime()
      val phases = qe.tracker.phases
      val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val start = if (phases.isEmpty) Clock.now() - durationNs / 1e6
        else phases.values.map(_.startTimeMs).min.toDouble
      val graftRuleNs = qe.tracker.rules.collect {
        case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
      }.sum
      val scanRows = try catalogScanRows(qe.executedPlan)
        catch { case scala.util.control.NonFatal(_) => 0L }
      val rec = Map[String, Any]("start" -> start, "func" -> funcName,
        "plan_s" -> planMs / 1e3, "graft_rule_s" -> graftRuleNs / 1e9,
        "scan_rows" -> scanRows)
      Tracer.this.synchronized { queries += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Rows out of the catalog's scan nodes, through adaptive and
    * subquery plans. */
  private def catalogScanRows(p: SparkPlan): Long = {
    val here = p match {
      case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    here + inner.map(catalogScanRows).sum
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  /** Stop tracing once every event of the finished op has arrived. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    on = false
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the event stream has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    def quiet = synchronized {
      jobs.valuesIterator.forall(_(1) > 0) &&
        System.nanoTime() - lastEvent > 150_000_000L
    }
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def dump(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end,
        "counters" -> s.counters.toMap)),
      "jobs" -> jobs.toSeq.map { case (id, t) =>
        Map("id" -> id, "start" -> t(0), "end" -> t(1)) },
      "stages" -> stages.toSeq.collect { case (id, s) if s.tasks > 0 =>
        Map("id" -> id, "job" -> s.job, "submitted" -> s.submitted,
          "first_launch" -> s.firstLaunch, "tasks" -> s.tasks,
          "task_run_s" -> s.runMs / 1e3, "task_cpu_s" -> s.cpuNs / 1e9,
          "gc_s" -> s.gcMs / 1e3, "shuffle_write_bytes" -> s.shuffleWrite,
          "shuffle_read_bytes" -> s.shuffleRead,
          "fetch_wait_s" -> s.fetchWaitMs / 1e3, "spill_bytes" -> s.spill)
      },
      "queries" -> queries.toSeq)
  }
}

/** Highest heap-used-after-GC seen in the JVM's GC notifications while
  * [[watching]] is set. */
object HeapWatch extends NotificationListener {
  @volatile var watching = false
  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach { case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => () }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (watching && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def peakMb: Double = peak / 1048576.0
}
