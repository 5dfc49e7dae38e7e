package graft.sources

import java.util.concurrent.{CountDownLatch, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The auto-compaction daemon: one background thread per JVM runs every
  * durable table's queued passes (serialized — a compaction storm
  * across many tables degrades to a queue, never to N concurrent
  * rewrites fighting the same executors); an in-JVM table compacts
  * inside its triggering commit. Passes take their own leases
  * ([[GraftTable]].autoCompactPass), so nothing here holds table locks;
  * the thread is a daemon, so a JVM exit never waits on maintenance.
  *
  * `quiesce` is the test/ops synchronization point: block until every
  * queued pass has drained (specs assert post-compaction censuses;
  * an operator draining a table before decommission does the same). */
private[sources] object GraftAutoCompact {
  private val pending = new AtomicInteger(0)
  private lazy val pool = Executors.newSingleThreadExecutor(
    new ThreadFactory {
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graft-auto-compact")
        t.setDaemon(true)
        t
      }
    })

  /** Conflict-aborted passes (an intervening commit won the race) —
    * the spec surface pinning abort harmlessness. */
  private[sources] val aborts = new AtomicLong(0)

  // test gates (None in production): hold a pass before it starts /
  // between its rewrite and its splice, and observe it reaching the
  // splice point — what makes "a pending compaction blocks nothing"
  // and "an intervening commit aborts the compaction" deterministic
  // to pin instead of timing-dependent
  @volatile private[sources] var holdBeforePass: Option[CountDownLatch] = None
  @volatile private[sources] var holdBeforeSplice: Option[CountDownLatch] = None
  @volatile private[sources] var reachedSplice: Option[CountDownLatch] = None

  private[sources] def submit(task: Runnable): Unit = {
    pending.incrementAndGet()
    pool.execute { () =>
      try {
        holdBeforePass.foreach(_.await())
        task.run()
      } finally pending.decrementAndGet()
    }
  }

  /** Block until the queue drains (or the timeout); true = quiescent. */
  private[sources] def quiesce(timeoutMs: Long = 120000L): Boolean = {
    val deadline = System.nanoTime + timeoutMs * 1000000L
    while (pending.get() > 0 && System.nanoTime < deadline)
      Thread.sleep(5)
    pending.get() == 0
  }
}
