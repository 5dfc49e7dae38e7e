package graft

import java.util.{Properties, UUID}
import scala.collection.mutable
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one query run spent its time, recorded from Spark's public
  * listeners only: the builder's wall time (until `fn(spark, dir)`
  * returns, with any jobs it runs eagerly), the action's wall time
  * (`count()` of the returned frame), Catalyst time, and the executor
  * counters of every job the run launched, in total and per call site.
  *
  * A call site is the line that started the job's SQL execution — for a
  * job outside one, its stage's own — in Spark's short form
  * `method at File.scala:N`. When that line is reached through an outer
  * line of the same file (a helper called from several places, a lambda
  * run by `foreach` or a `Future`), ` via File.scala:M` names the outer
  * line: g2's four dim publishes share one `publish` helper and still
  * split into four rows. The action's jobs show as
  * `count at QueryProfile.scala:N`. No query code sets a label. */
final case class QueryProfile(
    builderS: Double,
    actionS: Double,
    catalystS: Double,
    rows: Option[Long],
    error: Option[Throwable],
    /** false when the run's listener events did not all arrive within
      * the bounded wait; the counters then miss the late ones */
    complete: Boolean,
    /** the counted jobs, in start order */
    jobIds: Seq[Int],
    total: QueryProfile.Counters,
    sites: Seq[(String, QueryProfile.Counters)]) {

  /** A header line, then one line of counters for the total and for
    * each call site in launch order. */
  def render(title: String): String = {
    val status = error.fold("")(e => s", FAILED: $e") +
      (if (complete) "" else ", INCOMPLETE")
    val head = f"$title: builder $builderS%.2f s, action $actionS%.2f s, " +
      f"catalyst $catalystS%.2f s, rows ${rows.fold("-")(_.toString)}$status"
    val cols = "  jobs stages  tasks    run_s    cpu_s   gc_s  shufR_MB  shufW_MB " +
      "spill_MB  call site"
    def line(site: String, c: QueryProfile.Counters) =
      f"${c.jobs}%6d ${c.stages}%6d ${c.tasks}%6d ${c.runS}%8.2f ${c.cpuS}%8.2f " +
        f"${c.gcS}%6.2f ${c.shuffleReadBytes / 1e6}%9.2f " +
        f"${c.shuffleWriteBytes / 1e6}%9.2f ${c.spillBytes / 1e6}%8.2f  $site"
    (Seq(head, cols, line("total", total)) ++
      sites.map { case (s, c) => line(s, c) }).mkString("\n")
  }
}

object QueryProfile {

  /** Executor counters summed over tasks; `stages` counts stages that
    * ran at least one task. */
  final case class Counters(
      jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      runS: Double = 0, cpuS: Double = 0, gcS: Double = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs,
      stages + o.stages, tasks + o.tasks, runS + o.runS, cpuS + o.cpuS,
      gcS + o.gcS, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  }

  /** The longest a profile waits for its listener events. */
  val MaxWait: FiniteDuration = 10.seconds

  /** Profile one run: `build` returns the query's frame, which is then
    * counted. Only jobs carrying this run's job tag count. The tag is a
    * SparkContext job tag on the calling thread, so it reaches every job
    * the run starts there or on threads it creates — SQL executions and
    * plain RDD jobs alike. Catalyst time is per session: a
    * QueryExecutionListener cannot see job tags, so it sums every query
    * of the session that finishes while the run is recorded.
    *
    * A failure of the builder or the action ends up in `error`, not
    * thrown. Listener events arrive asynchronously: after the run an
    * empty job fences the event queue, and the profile waits at most
    * [[MaxWait]] for the fence and for every counted job to end; past
    * that it comes back marked incomplete. */
  def run(spark: SparkSession)(build: => DataFrame): QueryProfile = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-profile-${UUID.randomUUID()}")
    spark.listenerManager.register(rec.queries)
    sc.addSparkListener(rec)
    try {
      var builderS, actionS = 0.0
      var rows: Option[Long] = None
      var error: Option[Throwable] = None
      sc.addJobTag(rec.tag)
      try {
        val t0 = System.nanoTime()
        val df = try build finally builderS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        try rows = Some(df.count())
        finally actionS = (System.nanoTime() - t1) / 1e9
      } catch { case NonFatal(e) => error = Some(e) }
      finally sc.removeJobTag(rec.tag)
      // a zero-partition job posts its start event straight from this
      // thread, behind every event the run's jobs have already posted
      sc.addJobTag(rec.fenceTag)
      try sc.emptyRDD[Int].count() finally sc.removeJobTag(rec.fenceTag)
      val complete = rec.awaitSettled(MaxWait)
      rec.profile(builderS, actionS, rows, error, complete)
    } finally {
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec.queries)
    }
  }

  /** `short` (Spark's `method at File:N`), plus ` via File:M` when its
    * long form — the frame of `short`'s method, then the caller's stack —
    * reaches line N through an outer line M of the same file. */
  private[graft] def callSite(short: String, long: String): String = {
    def loc(frame: String) =
      frame.substring(frame.lastIndexOf('(') + 1).stripSuffix(")")
    def file(frame: String) = loc(frame).takeWhile(_ != ':')
    long.split('\n').toSeq.map(_.trim).drop(1) match {
      case first +: callers =>
        callers.filter(_.startsWith("graft."))
          .takeWhile(file(_) == file(first)).lastOption.map(loc)
          .filter(_ != loc(first)).fold(short)(outer => s"$short via $outer")
      case _ => short
    }
  }

  private final class Recorder(val tag: String) extends SparkListener {
    val fenceTag = s"$tag-fence"
    private val execSite = mutable.Map.empty[Long, String]
    private val stageSite = mutable.Map.empty[Int, String]
    private val jobSite = mutable.LinkedHashMap.empty[Int, String]
    private val stageCounters = mutable.LinkedHashMap.empty[Int, Counters]
    private val running = mutable.Set.empty[Int]
    private var fenced = false
    private var catalystMs = 0L

    private def prop(p: Properties, key: String): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(key)))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags(tag) =>
        synchronized { execSite(s.executionId) = callSite(s.description, s.details) }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = prop(e.properties, "spark.job.tags").toSeq.flatMap(_.split(','))
      if (tags.contains(fenceTag)) fenced = true
      else if (tags.contains(tag)) {
        val exec = prop(e.properties, SQLExecution.EXECUTION_ID_KEY)
          .flatMap(id => execSite.get(id.toLong))
        e.stageInfos.foreach(s => stageSite.getOrElseUpdate(s.stageId,
          exec.getOrElse(callSite(s.name, s.details))))
        jobSite(e.jobId) = e.stageInfos.maxByOption(_.stageId)
          .map(s => stageSite(s.stageId)).orElse(exec)
          .orElse(prop(e.properties, "spark.job.description")).getOrElse("?")
        running += e.jobId
      }
      notifyAll()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running -= e.jobId
      notifyAll()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageSite.contains(e.stageId)) {
        val m = e.taskMetrics
        val task = if (m == null) Counters(tasks = 1) else Counters(tasks = 1,
          runS = m.executorRunTime / 1e3, cpuS = m.executorCpuTime / 1e9,
          gcS = m.jvmGCTime / 1e3,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
        stageCounters(e.stageId) =
          stageCounters.getOrElse(e.stageId, Counters(stages = 1)) + task
      }
    }

    val queries: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = planned(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = planned(qe)
    }

    private def planned(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      synchronized { catalystMs += ms }
    }

    /** Wait until the fence has arrived and every counted job has ended,
      * at most `maxWait`; true when both hold. */
    def awaitSettled(maxWait: FiniteDuration): Boolean = synchronized {
      val deadline = System.nanoTime() + maxWait.toNanos
      def settled = fenced && running.isEmpty
      while (!settled && System.nanoTime() < deadline)
        wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      settled
    }

    def profile(builderS: Double, actionS: Double, rows: Option[Long],
                error: Option[Throwable], complete: Boolean): QueryProfile =
      synchronized {
        val perSite = mutable.LinkedHashMap.empty[String, Counters]
        def add(site: String, c: Counters): Unit =
          perSite(site) = perSite.getOrElse(site, Counters()) + c
        jobSite.values.foreach(add(_, Counters(jobs = 1)))
        stageCounters.foreach { case (id, c) => add(stageSite(id), c) }
        QueryProfile(builderS, actionS, catalystMs / 1e3, rows, error,
          complete, jobSite.keys.toSeq,
          perSite.values.foldLeft(Counters())(_ + _), perSite.toSeq)
      }
  }
}
