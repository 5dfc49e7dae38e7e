package graft.analytics

import java.nio.file.{Files, Path}

/** The only way the program makes a temporary directory: session
  * warehouses, the write-path round-trip queries' outputs and the
  * catalog queries' warehouses (s21 onward), and test scratch space.
  * Each is created under java.io.tmpdir and deleted recursively at JVM
  * exit, so repeated Verify/Bench/test runs don't accumulate copies of
  * the written tables on the host. Deletion is at-exit (not post-query)
  * because the returned DataFrames scan the files lazily — the caller's
  * action may run long after the query builder returned. */
object TempDirs {
  private val created = scala.collection.mutable.ArrayBuffer.empty[Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.foreach { root =>
      try {
        Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { try Files.delete(p) catch { case _: Throwable => () } })
      } catch { case _: Throwable => () }
    }))

  /** A fresh scratch dir, reclaimed at JVM exit. */
  def scratch(prefix: String): String = synchronized {
    val p = Files.createTempDirectory(prefix)
    created += p
    p.toString
  }
}
