package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the dev entry points from rotting: ProfileQuery's profiling
  * path runs on a real registry query, and every temporary directory of
  * the program goes through TempDirs, which reclaims it at JVM exit. */
class DevToolsSpec extends SparkSpec {

  test("ProfileQuery profiles j10_star_join at sf0.001") {
    val Seq((name, p)) = graft.dev.ProfileQuery.profile(
      spark, Seq("j10_star_join"), "/root/testdata/sf0.001", 1)
    assert(name === "j10_star_join")
    assert(p.complete && p.error.isEmpty, p.render(name))
    assert(p.rows.exists(_ > 0))
    assert(p.total.jobs > 0 && p.total.tasks > 0 && p.sites.nonEmpty)
  }

  test("only TempDirs creates temporary directories in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root))
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "TempDirs.scala" &&
        Files.readString(p).contains("createTempDirectory")).toList
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
