package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the dev entry points from rotting: ProfileQuery's profiling
  * path runs on a real registry query, every temporary directory of the
  * program and of its tests goes through TempDirs, which reclaims it at
  * JVM exit, and every table rewrite runs through one task launcher. */
class DevToolsSpec extends SparkSpec {

  test("ProfileQuery profiles j10_star_join at sf0.001") {
    val Seq((name, p)) = graft.dev.ProfileQuery.profile(
      spark, Seq("j10_star_join"), "/root/testdata/sf0.001", 1)
    assert(name === "j10_star_join")
    assert(p.complete && p.error.isEmpty, p.render(name))
    assert(p.rows.exists(_ > 0))
    assert(p.total.jobs > 0 && p.total.tasks > 0 && p.sites.nonEmpty)
  }

  /** The Scala sources under `root` whose text contains `needle`. */
  private def sourcesWith(root: String, needle: String): List[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir))
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      Files.readString(p).contains(needle)).toList
    finally walk.close()
  }

  // split so that this file does not match its own scan
  private val makesTempDir = "createTemp" + "Directory"

  test("only TempDirs creates temporary directories in src/main") {
    val offenders = sourcesWith("src/main", makesTempDir)
      .filterNot(_.getFileName.toString == "TempDirs.scala")
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("tests make temporary directories only through tmpDir/TempDirs, " +
      "except the forked writer's child JVM") {
    // ForkedWriterMain runs in a child JVM: the parent's at-exit
    // TempDirs hook would not reclaim what it makes
    val offenders = sourcesWith("src/test", makesTempDir)
      .filterNot(_.getFileName.toString == "ForkedWriterMain.scala")
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("every table rewrite runs through GraftTable.runTasks: one " +
      "parallelize in the catalog, no driver-side twin") {
    val catalog = Files.readString(
      Paths.get("src/main/scala/graft/sources/GraftCatalog.scala"))
    val launch = "sparkContext.parallelize("
    val at = catalog.indexOf(launch)
    assert(at >= 0 && catalog.indexOf(launch, at + 1) < 0,
      s"$launch must occur exactly once in GraftCatalog.scala")
    val enclosing = "def (\\w+)".r.findAllMatchIn(catalog.substring(0, at))
      .map(_.group(1)).toSeq.last
    assert(enclosing === "runTasks")
    Seq("liveEntries", "rewritable").foreach { twin =>
      val found = sourcesWith("src/main", twin)
      assert(found.isEmpty, s"$twin in ${found.mkString(", ")}")
    }
  }
}
