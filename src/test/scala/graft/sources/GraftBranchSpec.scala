package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** Named branches / refs over one durable log (Iceberg-style
  * `ALTER TABLE t CREATE BRANCH b`, reads/writes addressed `t@b`):
  * isolation between live heads, restart folds, the format-generation
  * stamp, TREE-AWARE retention (vacuum under a live branch keeps the
  * branch's segments — the one place a bug loses data), and FAST
  * FORWARD's ancestry-checked verbatim replay with its per-commit
  * change feed. */
class GraftBranchSpec extends SparkSpec {
  import spark.implicits._

  private def durableCatalog(name: String,
                             isolated: Boolean = false): String = {
    val wh = tmpDir(s"graft-$name")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    if (isolated)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
    wh
  }

  private def reopen(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
  }

  private def rows(t: String): Seq[(Long, String)] =
    spark.table(t).orderBy("id").as[(Long, String)].collect().toSeq

  test("branch isolation: writes on t@audit never reach main, main's " +
      "writes never reach the branch, and both heads serve their own " +
      "history/changes") {
    durableCatalog("brA")
    spark.sql("CREATE TABLE brA.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brA.ns.t VALUES (1,'a'), (2,'b')")
    val fork = GraftMaintenance.sql(spark,
      "ALTER TABLE brA.ns.t CREATE BRANCH audit").head().getInt(0)
    assert(fork === 1, "forked at main's head (v0 create, v1 append)")
    // the branch head starts as main's state
    assert(rows("brA.ns.`t@audit`") === Seq((1L, "a"), (2L, "b")))
    // audited writes land on the branch only
    spark.sql("INSERT INTO brA.ns.`t@audit` VALUES (3,'c')")
    spark.sql("DELETE FROM brA.ns.`t@audit` WHERE id = 1")
    assert(rows("brA.ns.`t@audit`") === Seq((2L, "b"), (3L, "c")))
    assert(rows("brA.ns.t") === Seq((1L, "a"), (2L, "b")),
      "main must be untouched while the branch is audited")
    // main's writes stay off the branch
    spark.sql("INSERT INTO brA.ns.t VALUES (10,'z')")
    assert(rows("brA.ns.`t@audit`") === Seq((2L, "b"), (3L, "c")))
    // per-branch introspection: the branch's own history and feed
    val ops = spark.table("brA.ns.`t@audit$history`")
      .orderBy("version").select("operation").as[String].collect().toSeq
    assert(ops.head === "CREATE BRANCH" && ops.contains("APPEND"), ops)
    val feed = spark.table("brA.ns.`t@audit$changes`")
      .filter($"_commit_version" > fork)
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    assert(feed === Set(("insert", 3L), ("delete", 1L)), feed)
    // a second CREATE BRANCH under the same name refuses
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brA.ns.t CREATE BRANCH audit").collect())
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("restart fold: a fresh store over the warehouse serves the " +
      "branch head, its fork identity and its data; table.json is " +
      "stamped format 3 from the first branch on") {
    val wh = durableCatalog("brB")
    spark.sql("CREATE TABLE brB.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brB.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brB.ns.t CREATE BRANCH audit").collect()
    spark.sql("INSERT INTO brB.ns.`t@audit` VALUES (2,'b')")
    // the stamp: pre-branch engines must refuse the whole table
    val dir = java.nio.file.Files.list(java.nio.file.Paths.get(wh))
    val tdir = try {
      import scala.jdk.CollectionConverters._
      dir.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(
          p.resolve("table.json"))).toSeq.head
    } finally dir.close()
    val meta = GraftLogCodec.decodeTableMeta(new String(
      java.nio.file.Files.readAllBytes(tdir.resolve("table.json")),
      java.nio.charset.StandardCharsets.UTF_8))
    assert(meta.format === GraftLogCodec.BranchFormat,
      s"CREATE BRANCH must stamp format 3, got ${meta.format}")
    // a second process (isolated store) folds branch and main alike
    reopen("brB2", wh)
    assert(rows("brB2.ns.t") === Seq((1L, "a")))
    assert(rows("brB2.ns.`t@audit`") === Seq((1L, "a"), (2L, "b")))
    val bt = spark.sessionState.catalogManager.catalog("brB2")
      .asInstanceOf[GraftCatalog].store
      .branchTables((Seq("ns"), "t", "audit"))
    assert(bt.branchMeta === Some(("audit", 1)),
      s"fork identity must survive the fold: ${bt.branchMeta}")
    // the refs table serves the same tree from either chain, restarted
    val refs = spark.table("brB2.ns.`t$branches`")
      .select("name", "kind", "fork_version", "head_version")
      .as[(String, String, Int, Int)].collect().toSeq
    assert(refs === Seq(("audit", "branch", 1, 2)), refs.toString)
    assert(spark.table("brB2.ns.`t@audit$branches`")
      .select("name", "kind", "fork_version", "head_version")
      .as[(String, String, Int, Int)].collect().toSeq === refs,
      "t@audit$branches must show the same tree")
    val e = intercept[Exception](
      spark.sql("SELECT * FROM brB2.ns.`t$branches` VERSION AS OF 1")
        .collect())
    assert(e.getMessage.contains("time travel"), e.getMessage)
  }

  test("tree-aware retention: vacuum under a live branch keeps the " +
      "branch's segments — both directions — and DROP BRANCH releases " +
      "them to the next reclaim") {
    durableCatalog("brC")
    spark.sql("CREATE TABLE brC.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brC.ns.t VALUES (1,'a'), (2,'b')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brC.ns.t CREATE BRANCH audit").collect()
    // branch-only segments land under the shared data/ dir
    spark.sql("INSERT INTO brC.ns.`t@audit` VALUES (3,'c')")
    val st = spark.sessionState.catalogManager.catalog("brC")
      .asInstanceOf[GraftCatalog].store
    val mainT = st.tables((Seq("ns"), "t"))
    val auditT = st.branchTables((Seq("ns"), "t", "audit"))
    val forkSegs = mainT.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet
    val auditOnly = auditT.dataFiles.filter(_.persisted)
      .map(_.segment.path).toSet -- forkSegs
    assert(forkSegs.nonEmpty && auditOnly.nonEmpty)
    // main moves PAST the fork state (overwrite, then another append so
    // even the overwrite commit's CDC record retires), then vacuums to
    // one snapshot: WITHOUT the tree union every fork segment and the
    // branch's own segment would be unreferenced — and deleted
    spark.sql("INSERT OVERWRITE brC.ns.t VALUES (9,'x')")
    spark.sql("INSERT INTO brC.ns.t VALUES (10,'y')")
    GraftMaintenance.sql(spark,
      "VACUUM brC.ns.t RETAIN 1 SNAPSHOTS").collect()
    assert((forkSegs ++ auditOnly).forall(java.nio.file.Files.exists(_)),
      "main's vacuum must never eat a live branch's segments")
    // the branch still reads its full state — fork segments AND its own
    assert(rows("brC.ns.`t@audit`") ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the branch head must survive main's vacuum intact")
    assert(rows("brC.ns.t") === Seq((9L, "x"), (10L, "y")))
    // inverse direction: a second branch exists while MAIN is the
    // sibling being pinned — the union is symmetric
    GraftMaintenance.sql(spark, "ALTER TABLE brC.ns.t CREATE BRANCH b2")
      .collect()
    assert(rows("brC.ns.`t@b2`") === Seq((9L, "x"), (10L, "y")))
    // DROP BRANCH: audit's own segment becomes unreferenced and the
    // next explicit vacuum sweeps it (fork segments went with it —
    // no live chain references them anymore)
    GraftMaintenance.sql(spark,
      "ALTER TABLE brC.ns.t DROP BRANCH audit").collect()
    intercept[Exception](spark.table("brC.ns.`t@audit`").collect())
    GraftMaintenance.sql(spark,
      "VACUUM brC.ns.t RETAIN 1 SNAPSHOTS").collect()
    assert((forkSegs ++ auditOnly).forall(!java.nio.file.Files.exists(_)),
      "a dropped branch's segments must reclaim on the next vacuum")
    assert(rows("brC.ns.`t@b2`") === Seq((9L, "x"), (10L, "y")),
      "the surviving branch still serves")
  }

  test("FAST FORWARD: ancestry-checked verbatim replay — main's change " +
      "feed carries the branch's per-commit censuses, a second forward " +
      "continues from the new ancestry, a diverged main refuses") {
    durableCatalog("brD")
    spark.sql("CREATE TABLE brD.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brD.ns.t VALUES (1,'a'), (2,'b')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brD.ns.t CREATE BRANCH audit").collect()
    spark.sql("INSERT INTO brD.ns.`t@audit` VALUES (3,'c')")
    spark.sql("DELETE FROM brD.ns.`t@audit` WHERE id = 1")
    val n = GraftMaintenance.sql(spark,
      "ALTER TABLE brD.ns.t FAST FORWARD main TO audit").head().getInt(0)
    assert(n === 2, "two audited commits adopt")
    assert(rows("brD.ns.t") === Seq((2L, "b"), (3L, "c")))
    // REPLAYED, not diffed: main's feed shows each branch commit as its
    // own version, byte-for-byte the branch's censuses
    def feedOf(t: String): Set[(Int, String, Long)] =
      spark.table(s"brD.ns.`$t$$changes`").filter($"_commit_version" > 1)
        .select("_commit_version", "_change_type", "id")
        .as[(Int, String, Long)].collect().toSet
    val main = feedOf("t")
    assert(main === feedOf("t@audit"),
      s"main must replay the branch's per-commit feed: $main")
    assert(main.map(_._1) === Set(2, 3),
      s"two distinct adopted versions, not one diff commit: $main")
    // idempotent: nothing new to adopt
    assert(GraftMaintenance.sql(spark,
      "ALTER TABLE brD.ns.t FAST FORWARD TO audit").head().getInt(0) === 0)
    // ancestry continues: another branch commit, forward again
    spark.sql("INSERT INTO brD.ns.`t@audit` VALUES (4,'d')")
    assert(GraftMaintenance.sql(spark,
      "ALTER TABLE brD.ns.t FAST FORWARD TO audit").head().getInt(0) === 1)
    assert(rows("brD.ns.t") === Seq((2L, "b"), (3L, "c"), (4L, "d")))
    // divergence: main commits on its own → refuse with the remedy
    spark.sql("INSERT INTO brD.ns.t VALUES (99,'q')")
    spark.sql("INSERT INTO brD.ns.`t@audit` VALUES (5,'e')")
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brD.ns.t FAST FORWARD TO audit").collect())
    assert(e.getMessage.contains("MERGE") ||
      e.getMessage.contains("REPLACE"), e.getMessage)
  }

  test("a stream on main's change feed reads the fast-forwarded " +
      "commits as separate micro-batch versions") {
    durableCatalog("brE")
    val ckpt = tmpDir("graft-brE-ckpt")
    spark.sql("CREATE TABLE brE.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brE.ns.t VALUES (1,'a')")
    def drain(): Seq[(String, Int, Long)] = {
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, Int, Long)]())
      val q = spark.readStream.table("brE.ns.`t$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("_change_type", "_commit_version", "id")
            .as[(String, Int, Long)].collect().foreach(got.add)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }
    assert(drain().toSet === Set(("insert", 1, 1L)))
    GraftMaintenance.sql(spark,
      "ALTER TABLE brE.ns.t CREATE BRANCH audit").collect()
    spark.sql("INSERT INTO brE.ns.`t@audit` VALUES (2,'b')")
    spark.sql("INSERT INTO brE.ns.`t@audit` VALUES (3,'c')")
    assert(drain().isEmpty, "branch writes must not leak onto main's feed")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brE.ns.t FAST FORWARD TO audit").collect()
    val got = drain().toSet
    assert(got === Set(("insert", 2, 2L), ("insert", 3, 3L)),
      s"the tail must deliver BOTH adopted commits, per version: $got")
  }

  test("branch-addressed maintenance: OPTIMIZE, VACUUM and DESCRIBE " +
      "HISTORY act on the branch chain only; main's layout is untouched") {
    durableCatalog("brH")
    spark.sql("CREATE TABLE brH.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brH.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brH.ns.t CREATE BRANCH audit").collect()
    (2 to 5).foreach(i =>
      spark.sql(s"INSERT INTO brH.ns.`t@audit` VALUES ($i,'b$i')"))
    val st = spark.sessionState.catalogManager.catalog("brH")
      .asInstanceOf[GraftCatalog].store
    val mainFiles = st.tables((Seq("ns"), "t")).dataFiles.length
    val r = GraftMaintenance.sql(spark, "OPTIMIZE brH.ns.t@audit").head()
    assert(r.getInt(1) < r.getInt(0),
      s"the branch chain must compact: $r")
    assert(st.tables((Seq("ns"), "t")).dataFiles.length === mainFiles,
      "a branch OPTIMIZE must never touch main's layout")
    val ops = GraftMaintenance.sql(spark,
      "DESCRIBE HISTORY brH.ns.t@audit")
      .select("operation").as[String].collect().toSeq
    assert(ops.head === "OPTIMIZE" && ops.last === "CREATE BRANCH",
      s"newest-first branch history: $ops")
    val retired = GraftMaintenance.sql(spark,
      "VACUUM brH.ns.t@audit RETAIN 1 SNAPSHOTS").head().getInt(0)
    assert(retired >= 1, "branch retention is the branch's own")
    assert(rows("brH.ns.`t@audit`") ===
      (1 to 5).map(i => (i.toLong, if (i == 1) "a" else s"b$i")))
    assert(rows("brH.ns.t") === Seq((1L, "a")),
      "main reads its own state throughout")
    // branch-addressed branch DDL refuses with the main-table remedy
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brH.ns.t@audit CREATE BRANCH b2").collect())
    assert(e.getMessage.contains("main"), e.getMessage)
  }

  test("branch-addressed streaming: a checkpointed tail on the BRANCH's " +
      "own change feed delivers its audited commits and never main's; " +
      "writeStream lands on the branch chain only") {
    durableCatalog("brS")
    val ckpt = tmpDir("graft-brS-ckpt")
    spark.sql("CREATE TABLE brS.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brS.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brS.ns.t CREATE BRANCH audit").collect()
    def drain(): Seq[(String, Long)] = {
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, Long)]())
      val q = spark.readStream.table("brS.ns.`t@audit$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("_change_type", "id")
            .as[(String, Long)].collect().foreach(got.add)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }
    // the fork snapshot is NOT a change: the branch's feed starts
    // empty (pre-fork change history belongs to main's feed)
    assert(drain().isEmpty)
    // audited commits arrive on the branch's feed; main commits do NOT
    spark.sql("INSERT INTO brS.ns.`t@audit` VALUES (2,'b')")
    spark.sql("INSERT INTO brS.ns.t VALUES (99,'z')")
    assert(drain().toSet === Set(("insert", 2L)),
      "main's commits must never appear on the branch's feed")
    // streaming WRITE addressed at the branch: rows land on its chain
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val wq = mem.toDF().toDF("id", "v")
      .writeStream
      .option("checkpointLocation", tmpDir("graft-brS-wr"))
      .toTable("brS.ns.`t@audit`")
    mem.addData((3L, "c"))
    wq.processAllAvailable()
    wq.stop()
    assert(rows("brS.ns.`t@audit`") ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows("brS.ns.t") === Seq((1L, "a"), (99L, "z")),
      "a streaming write to the branch must never reach main")
  }

  test("a crashed DROP BRANCH's remnant chain skips PER BRANCH at " +
      "warehouse open: the table and its healthy branches stay served, " +
      "the refusal is recorded") {
    val wh = durableCatalog("brX")
    spark.sql("CREATE TABLE brX.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brX.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brX.ns.t CREATE BRANCH dead").collect()
    spark.sql("INSERT INTO brX.ns.`t@dead` VALUES (2,'b')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brX.ns.t CREATE BRANCH alive").collect()
    // simulate the crash window: the fork identity sidecar is gone but
    // entries remain (a DROP died mid-walk of log/<dead>/)
    val tdir = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => java.nio.file.Files
          .isRegularFile(p.resolve("table.json"))).toSeq.head
      } finally s.close()
    }
    java.nio.file.Files.delete(
      tdir.resolve("log").resolve("dead").resolve("_branch.json"))
    reopen("brX2", wh)
    assert(rows("brX2.ns.t") === Seq((1L, "a")), "the table stays served")
    assert(rows("brX2.ns.`t@alive`") === Seq((1L, "a")),
      "healthy branches stay served")
    intercept[Exception](spark.table("brX2.ns.`t@dead`").collect())
    val st = spark.sessionState.catalogManager.catalog("brX2")
      .asInstanceOf[GraftCatalog].store
    assert(st.skippedNewerFormat.keys.exists(_.endsWith("@dead")),
      s"the skip must be recorded: ${st.skippedNewerFormat}")
  }

  test("cloning FROM a branch head adopts its state; a branch-addressed " +
      "clone DESTINATION refuses with the write-directly remedy") {
    durableCatalog("brK")
    spark.sql("CREATE TABLE brK.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brK.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brK.ns.t CREATE BRANCH audit").collect()
    spark.sql("INSERT INTO brK.ns.`t@audit` VALUES (2,'b')")
    GraftMaintenance.sql(spark,
      "CREATE TABLE brK.ns.snap SHALLOW CLONE brK.ns.t@audit").collect()
    assert(rows("brK.ns.snap") === Seq((1L, "a"), (2L, "b")),
      "the clone adopts the branch head's state")
    // the clone is independent of later branch commits
    spark.sql("INSERT INTO brK.ns.`t@audit` VALUES (3,'c')")
    assert(rows("brK.ns.snap") === Seq((1L, "a"), (2L, "b")))
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      "CREATE TABLE brK.ns.t@b2 SHALLOW CLONE brK.ns.t").collect())
    assert(e.getMessage.contains("branch"), e.getMessage)
  }

  test("tags: an immutable named snapshot reads as t@name, PINS its " +
      "segments through vacuum past retention, survives restart, and " +
      "releases on DROP TAG") {
    val wh = durableCatalog("brT")
    spark.sql("CREATE TABLE brT.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brT.ns.t VALUES (1,'a'), (2,'b')")
    val tv = GraftMaintenance.sql(spark,
      "ALTER TABLE brT.ns.t CREATE TAG rel1").head().getInt(0)
    assert(tv === 1)
    // main moves on — overwrite + append so the tagged segments leave
    // every retained entry — then vacuums to one snapshot: ONLY the
    // tag pins them now
    spark.sql("INSERT OVERWRITE brT.ns.t VALUES (9,'x')")
    spark.sql("INSERT INTO brT.ns.t VALUES (10,'y')")
    GraftMaintenance.sql(spark,
      "VACUUM brT.ns.t RETAIN 1 SNAPSHOTS").collect()
    // the tagged version is PAST retention for time travel…
    intercept[Exception](
      spark.sql("SELECT * FROM brT.ns.t VERSION AS OF 1").collect())
    // …but the tag still serves its pinned census
    assert(rows("brT.ns.`t@rel1`") === Seq((1L, "a"), (2L, "b")),
      "the tag must outlive log retention of the version it named")
    // writes to a tag refuse (read-only snapshot)
    intercept[Exception](
      spark.sql("INSERT INTO brT.ns.`t@rel1` VALUES (3,'c')"))
    // restart: a fresh store serves the tag from its own JSON
    reopen("brT2", wh)
    assert(rows("brT2.ns.`t@rel1`") === Seq((1L, "a"), (2L, "b")))
    val refs = spark.table("brT2.ns.`t$branches`")
      .select("name", "kind", "fork_version", "head_version")
      .as[(String, String, Int, Int)].collect().toSeq
    assert(refs === Seq(("rel1", "tag", 1, 1)), refs.toString)
    // duplicate names refuse in BOTH directions (one '@' namespace)
    intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brT.ns.t CREATE TAG rel1").collect())
    intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brT.ns.t CREATE BRANCH rel1").collect())
    // DROP TAG releases the pin: the next vacuum sweeps the snapshot's
    // unshared segments and the read fails loudly
    val segs = {
      val st = spark.sessionState.catalogManager.catalog("brT2")
        .asInstanceOf[GraftCatalog].store
      st.tables((Seq("ns"), "t")).durable.get.log.dataDir
    }
    GraftMaintenance.sql(spark, "ALTER TABLE brT.ns.t DROP TAG rel1")
      .collect()
    GraftMaintenance.sql(spark,
      "VACUUM brT.ns.t RETAIN 1 SNAPSHOTS").collect()
    intercept[Exception](spark.table("brT.ns.`t@rel1`").collect())
    val left = {
      val s = java.nio.file.Files.list(segs)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString
          .endsWith(".parquet"))
      } finally s.close()
    }
    assert(left <= 3,
      s"dropping the tag must release its segments to the sweep: $left")
  }

  test("CREATE TAG AS OF VERSION pins a retained older state; a tag " +
      "created on a BRANCH pins that branch's state") {
    durableCatalog("brU")
    spark.sql("CREATE TABLE brU.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brU.ns.t VALUES (1,'a')")          // v1
    spark.sql("INSERT INTO brU.ns.t VALUES (2,'b')")          // v2
    val tv = GraftMaintenance.sql(spark,
      "ALTER TABLE brU.ns.t CREATE TAG first AS OF VERSION 1")
      .head().getInt(0)
    assert(tv === 1)
    assert(rows("brU.ns.`t@first`") === Seq((1L, "a")),
      "the version-pinned tag serves the older census")
    // a tag addressed THROUGH a branch pins the branch's state (the
    // tag namespace is table-level — visible from every chain)
    GraftMaintenance.sql(spark,
      "ALTER TABLE brU.ns.t CREATE BRANCH audit").collect()
    spark.sql("INSERT INTO brU.ns.`t@audit` VALUES (3,'c')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brU.ns.t@audit CREATE TAG audited").collect()
    spark.sql("INSERT INTO brU.ns.`t@audit` VALUES (4,'d')")
    assert(rows("brU.ns.`t@audited`") ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the branch tag pins the branch state at creation")
    val refs = spark.table("brU.ns.`t$branches`")
      .select("name", "kind").as[(String, String)].collect().toSet
    assert(refs === Set(("audit", "branch"), ("first", "tag"),
      ("audited", "tag")), refs.toString)
    // a version no longer retained refuses at create
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brU.ns.t CREATE TAG nope AS OF VERSION 99").collect())
    assert(e.getMessage.toLowerCase.contains("version"), e.getMessage)
  }

  test("CHERRY-PICK: an append-only branch commit adopts onto a " +
      "diverged main by reference; remove-carrying commits refuse; " +
      "the history records the pick's source") {
    durableCatalog("brP")
    spark.sql("CREATE TABLE brP.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brP.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brP.ns.t CREATE BRANCH audit").collect()
    spark.sql("INSERT INTO brP.ns.`t@audit` VALUES (2,'b')")   // v2 append
    spark.sql("DELETE FROM brP.ns.`t@audit` WHERE id = 1")     // v3 delete
    spark.sql("INSERT INTO brP.ns.t VALUES (9,'z')")           // diverge
    intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brP.ns.t FAST FORWARD TO audit").collect())
    // the picked append adopts WITHOUT copying: the adopted segment is
    // the branch's own file, shared under the tree union
    val picked = GraftMaintenance.sql(spark,
      "ALTER TABLE brP.ns.t CHERRY-PICK audit VERSION 2").head().getInt(0)
    assert(picked === 3, "the pick is a new main commit")
    assert(rows("brP.ns.t") === Seq((1L, "a"), (2L, "b"), (9L, "z")))
    assert(rows("brP.ns.`t@audit`") === Seq((2L, "b")),
      "the branch head is untouched by the pick")
    val hist = spark.table("brP.ns.`t$history`")
      .orderBy($"version".desc)
      .select("operation", "parameters").as[(String, String)].head()
    assert(hist === (("CHERRY-PICK",
      "source_branch=audit; source_version=2")), hist.toString)
    // the delete commit refuses with the publish/merge remedy
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brP.ns.t CHERRY-PICK audit VERSION 3").collect())
    assert(e.getMessage.contains("append-only"), e.getMessage)
    // vacuum on main keeps the shared picked segment; both heads serve
    GraftMaintenance.sql(spark,
      "VACUUM brP.ns.t RETAIN 1 SNAPSHOTS").collect()
    assert(rows("brP.ns.t") === Seq((1L, "a"), (2L, "b"), (9L, "z")))
    assert(rows("brP.ns.`t@audit`") === Seq((2L, "b")))
  }

  test("FAST FORWARD across a branch ADD COLUMN: the evolution entry " +
      "replays onto main, pre-evolution rows read NULL, and the feed " +
      "refuses only at the widen class it already refuses") {
    durableCatalog("brV")
    spark.sql("CREATE TABLE brV.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brV.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brV.ns.t CREATE BRANCH audit").collect()
    spark.sql("ALTER TABLE brV.ns.`t@audit` ADD COLUMN w INT")
    spark.sql("INSERT INTO brV.ns.`t@audit` VALUES (2,'b',7)")
    val n = GraftMaintenance.sql(spark,
      "ALTER TABLE brV.ns.t FAST FORWARD TO audit").head().getInt(0)
    assert(n === 2, "the ALTER entry and the append both adopt")
    val got = spark.sql("SELECT id, v, w FROM brV.ns.t ORDER BY id")
      .as[(Long, String, Option[Int])].collect().toSeq
    assert(got === Seq((1L, "a", None), (2L, "b", Some(7))),
      "main adopts the evolved schema; pre-evolution rows read NULL")
    // and the evolved main keeps committing normally
    spark.sql("INSERT INTO brV.ns.t VALUES (3,'c',9)")
    assert(spark.sql("SELECT count(*) FROM brV.ns.t").as[Long].head() === 3)
  }

  test("ref-name validation holds at EVERY entry point: DROP BRANCH / " +
      "FAST FORWARD / CREATE TAG / DROP TAG of '.' or '..' refuse " +
      "loudly and main's own log is never aliased") {
    durableCatalog("brN")
    spark.sql("CREATE TABLE brN.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brN.ns.t VALUES (1,'a')")
    // `log/.` IS main's log dir: an unvalidated DROP BRANCH '.' would
    // destroy main's entire commit log from one SQL typo
    Seq(
      "ALTER TABLE brN.ns.t DROP BRANCH .",
      "ALTER TABLE brN.ns.t DROP BRANCH ..",
      "ALTER TABLE brN.ns.t FAST FORWARD TO .",
      "ALTER TABLE brN.ns.t CREATE TAG .",
      "ALTER TABLE brN.ns.t DROP TAG .",
      "ALTER TABLE brN.ns.t CHERRY-PICK . VERSION 1",
    ).foreach { ddl =>
      val e = intercept[Exception](
        GraftMaintenance.sql(spark, ddl).collect())
      assert(e.getMessage.contains("invalid") ||
        e.getMessage.contains("no such") ||
        e.getMessage.contains("cannot be found") ||
        e.getMessage.contains("not found"),
        s"$ddl must refuse loudly, got: ${e.getMessage}")
    }
    // main is untouched: its log still folds and serves
    assert(rows("brN.ns.t") === Seq((1L, "a")),
      "main's commit log must survive every malformed ref DDL")
    // the same state from a cold fold (the log files are really there)
    val st = spark.sessionState.catalogManager.catalog("brN")
      .asInstanceOf[GraftCatalog].store
    val d = st.tables((Seq("ns"), "t")).durable.get
    assert(d.log.hasEntry(0) && d.log.hasEntry(1),
      "main's entries must still exist on disk")
  }

  test("a branch created by a SECOND process is reachable as t@b from " +
      "a live catalog without re-open: the store lazily loads the " +
      "on-disk chain (reads, writes and the refs table all agree)") {
    val wh = durableCatalog("brL")
    spark.sql("CREATE TABLE brL.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brL.ns.t VALUES (1,'a')")
    // the "second process": an ISOLATED store over the same warehouse
    reopen("brL2", wh)
    GraftMaintenance.sql(spark,
      "ALTER TABLE brL2.ns.t CREATE BRANCH audit").collect()
    spark.sql("INSERT INTO brL2.ns.`t@audit` VALUES (2,'b')")
    // the FIRST catalog's store has never seen this branch — `t@audit`
    // must probe the on-disk chain and serve it (previously only FAST
    // FORWARD / $branches / retention saw it; reads needed a re-open)
    assert(rows("brL.ns.`t@audit`") === Seq((1L, "a"), (2L, "b")),
      "a foreign-process branch must be readable without re-open")
    // and writable: the lazily-loaded chain is a live head
    spark.sql("INSERT INTO brL.ns.`t@audit` VALUES (3,'c')")
    assert(rows("brL.ns.`t@audit`") === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows("brL.ns.t") === Seq((1L, "a")), "main stays untouched")
    // a name that is neither a branch nor a tag still refuses
    intercept[Exception](spark.table("brL.ns.`t@nope`").collect())
  }

  test("CREATE TAG's post-pin fence: an in-flight RETAIN-0 sweep " +
      "refuses the tag (no remnant), a reclaimed segment refuses the " +
      "tag (self-deleted), a STALE crashed intent is ignored") {
    durableCatalog("brW")
    spark.sql("CREATE TABLE brW.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brW.ns.t VALUES (1,'a')")
    val st = spark.sessionState.catalogManager.catalog("brW")
      .asInstanceOf[GraftCatalog].store
    val d = st.tables((Seq("ns"), "t")).durable.get
    // (1) a FRESH sweep intent (a RETAIN-0 vacuum mid-data-pass in
    // another process) fences the tag: refuse loudly, no tags/ remnant
    val intent = d.log.dir.resolve("_sweep-other.intent")
    java.nio.file.Files.write(intent, "{}".getBytes)
    val e1 = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brW.ns.t CREATE TAG rel").collect())
    assert(e1.getMessage.contains("RETAIN-0") ||
      e1.getMessage.contains("vacuum"), e1.getMessage)
    assert(!java.nio.file.Files.exists(d.log.tagPath("rel")),
      "a fenced tag must leave NO tags/ remnant")
    // (2) a STALE intent (crashed sweep) must not fence tags forever
    java.nio.file.Files.setLastModifiedTime(intent,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - GraftTableLog.SweepIntentStaleMs - 1))
    GraftMaintenance.sql(spark,
      "ALTER TABLE brW.ns.t CREATE TAG rel").collect()
    assert(rows("brW.ns.`t@rel`") === Seq((1L, "a")))
    GraftMaintenance.sql(spark, "ALTER TABLE brW.ns.t DROP TAG rel")
      .collect()
    java.nio.file.Files.delete(intent)
    // (3) a tag whose pinned segment is ALREADY reclaimed (this JVM's
    // view is stale past a sibling's sweep) self-deletes and refuses —
    // never a dangling pin. Simulate the lost race by deleting the
    // segment out from under the in-memory census.
    val seg = st.tables((Seq("ns"), "t")).dataFiles
      .filter(_.persisted).head.segment.path
    java.nio.file.Files.delete(seg)
    val e3 = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brW.ns.t CREATE TAG lost").collect())
    assert(e3.getMessage.contains("reclaimed"), e3.getMessage)
    assert(!java.nio.file.Files.exists(d.log.tagPath("lost")),
      "a lost-race tag must self-delete, never dangle")
  }

  test("MERGE BRANCH: a diverged branch's net state squash-merges " +
      "onto main as ONE commit whose CDC is the reference diff; the " +
      "branch is untouched; schema/layout drift refuses") {
    durableCatalog("brZ")
    spark.sql("CREATE TABLE brZ.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brZ.ns.t VALUES (1,'a'), (2,'b')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brZ.ns.t CREATE BRANCH work").collect()
    spark.sql("INSERT INTO brZ.ns.`t@work` VALUES (3,'c')")
    spark.sql("DELETE FROM brZ.ns.`t@work` WHERE id = 1")
    spark.sql("INSERT INTO brZ.ns.t VALUES (9,'z')") // main diverges
    // FAST FORWARD refuses and its remedy names the squash-merge
    val eFF = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brZ.ns.t FAST FORWARD TO work").collect())
    assert(eFF.getMessage.contains("MERGE BRANCH"), eFF.getMessage)
    val mv = GraftMaintenance.sql(spark,
      "ALTER TABLE brZ.ns.t MERGE BRANCH work").head().getInt(0)
    assert(rows("brZ.ns.t") === Seq((2L, "b"), (3L, "c")),
      "main adopts the branch head's net state")
    assert(rows("brZ.ns.`t@work`") === Seq((2L, "b"), (3L, "c")),
      "the branch head is untouched by the merge")
    // ONE commit, CDC = the net reference diff: the branch's new row
    // inserts; main's divergent row AND the branch-deleted row delete
    val feed = spark.table("brZ.ns.`t$changes`")
      .filter($"_commit_version" === mv)
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    assert(feed === Set(("insert", 3L), ("delete", 1L), ("delete", 9L)),
      feed.toString)
    val hist = spark.table("brZ.ns.`t$history`")
      .orderBy($"version".desc)
      .select("operation", "parameters").as[(String, String)].head()
    assert(hist._1 === "MERGE BRANCH" &&
      hist._2.contains("source_branch=work"), hist.toString)
    // a second merge of the (now identical) head is a no-op state swap
    GraftMaintenance.sql(spark,
      "ALTER TABLE brZ.ns.t MERGE BRANCH work").collect()
    assert(rows("brZ.ns.t") === Seq((2L, "b"), (3L, "c")))
    // schema drift refuses with the evolve-first remedy
    spark.sql("ALTER TABLE brZ.ns.`t@work` ADD COLUMN w INT")
    val e1 = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brZ.ns.t MERGE BRANCH work").collect())
    assert(e1.getMessage.contains("schema"), e1.getMessage)
    // layout drift refuses: evolve MAIN's partitioning past the fork
    durableCatalog("brZ2")
    spark.sql("CREATE TABLE brZ2.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brZ2.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brZ2.ns.t CREATE BRANCH work").collect()
    GraftMaintenance.sql(spark,
      "ALTER TABLE brZ2.ns.t SET PARTITIONED BY (v)").collect()
    val e2 = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brZ2.ns.t MERGE BRANCH work").collect())
    assert(e2.getMessage.contains("layout"), e2.getMessage)
  }

  test("MERGE BRANCH is a METADATA-sized commit: fork-shared segments " +
      "re-bind to main's objects, so the CDC record is O(net delta) — " +
      "one added file, one removed file — never O(table)") {
    durableCatalog("brO")
    spark.sql("CREATE TABLE brO.ns.t (id BIGINT, v STRING)")
    // several fork-shared segments: each would pollute the CDC record
    // if the diff failed to recognize them as shared across the folds
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO brO.ns.t VALUES ($i,'a$i')"))
    GraftMaintenance.sql(spark,
      "ALTER TABLE brO.ns.t CREATE BRANCH work").collect()
    spark.sql("INSERT INTO brO.ns.`t@work` VALUES (5,'b')") // append only
    spark.sql("INSERT INTO brO.ns.t VALUES (9,'z')")        // diverge
    val mv = GraftMaintenance.sql(spark,
      "ALTER TABLE brO.ns.t MERGE BRANCH work").head().getInt(0)
    assert(rows("brO.ns.t") === (1 to 5).map(i =>
      (i.toLong, if (i == 5) "b" else s"a$i")))
    // the commit's file-level record, straight off the log entry: the
    // four fork segments contribute NOTHING (shared by re-binding);
    // only the branch's append and main's divergent segment move
    val st = spark.sessionState.catalogManager.catalog("brO")
      .asInstanceOf[GraftCatalog].store
    val d = st.tables((Seq("ns"), "t")).durable.get
    val json = new String(java.nio.file.Files.readAllBytes(
      d.log.entryPath(mv)), java.nio.charset.StandardCharsets.UTF_8)
    val o = org.json4s.jackson.JsonMethods.parse(json)
      .asInstanceOf[org.json4s.JObject].obj.toMap
    def nFiles(k: String): Int = o.get(k) match {
      case Some(a: org.json4s.JArray) => a.arr.length
      case _ => 0
    }
    assert(nFiles("added") === 1,
      s"one net-new file, not a table-wide fan-out: $json")
    assert(nFiles("removed") === 1,
      s"one net-removed file (main's divergent segment): $json")
    val feed = spark.table("brO.ns.`t$changes`")
      .filter($"_commit_version" === mv)
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    assert(feed === Set(("insert", 5L), ("delete", 9L)), feed.toString)
  }

  test("MERGE BRANCH onto a BRANCH target (r19): t@b1 MERGE BRANCH b2 " +
      "squashes b2's state onto b1 under b1's lease — b2 and MAIN are " +
      "untouched; self-merge and drift refuse") {
    durableCatalog("brM")
    spark.sql("CREATE TABLE brM.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brM.ns.t VALUES (1,'a'), (2,'b')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brM.ns.t CREATE BRANCH b1").collect()
    GraftMaintenance.sql(spark,
      "ALTER TABLE brM.ns.t CREATE BRANCH b2").collect()
    // the two branches diverge from the shared fork
    spark.sql("INSERT INTO brM.ns.`t@b1` VALUES (3,'c1')")
    spark.sql("INSERT INTO brM.ns.`t@b2` VALUES (4,'c2')")
    spark.sql("DELETE FROM brM.ns.`t@b2` WHERE id = 1")
    val mv = GraftMaintenance.sql(spark,
      "ALTER TABLE brM.ns.`t@b1` MERGE BRANCH b2").head().getInt(0)
    assert(rows("brM.ns.`t@b1`") === Seq((2L, "b"), (4L, "c2")),
      "b1 adopts b2's net state")
    assert(rows("brM.ns.`t@b2`") === Seq((2L, "b"), (4L, "c2")),
      "the source branch head is untouched")
    assert(rows("brM.ns.t") === Seq((1L, "a"), (2L, "b")),
      "MAIN is untouched — the whole point of a branch-target merge")
    // the commit landed on B1'S chain: its feed carries the diff (b1's
    // divergent row + b2's delete as deletes, b2's new row as insert)
    val feed = spark.table("brM.ns.`t@b1$changes`")
      .filter($"_commit_version" === mv)
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    assert(feed === Set(("insert", 4L), ("delete", 1L), ("delete", 3L)),
      feed.toString)
    val hist = spark.table("brM.ns.`t@b1$history`")
      .orderBy($"version".desc)
      .select("operation", "parameters").as[(String, String)].head()
    assert(hist._1 === "MERGE BRANCH" &&
      hist._2.contains("source_branch=b2"), hist.toString)
    // self-merge refuses — both via the live-handle identity and via a
    // FOREIGN handle to the same chain (isolated re-open)
    val eSelf = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brM.ns.`t@b1` MERGE BRANCH b1").collect())
    assert(eSelf.getMessage.contains("onto itself"), eSelf.getMessage)
    // diverged-target drift refusal: evolve the TARGET branch's schema
    // past the source's — the evolve-first remedy names the drift
    spark.sql("ALTER TABLE brM.ns.`t@b1` ADD COLUMN w INT")
    val eDrift = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brM.ns.`t@b1` MERGE BRANCH b2").collect())
    assert(eDrift.getMessage.contains("schema"), eDrift.getMessage)
    // main-target semantics are unchanged by the branch-target route:
    // merging b2 onto main still squashes and main's feed carries it
    GraftMaintenance.sql(spark,
      "ALTER TABLE brM.ns.t MERGE BRANCH b2").collect()
    assert(rows("brM.ns.t") === Seq((2L, "b"), (4L, "c2")))
  }

  test("declarative branch retention: CREATE BRANCH b RETAIN 2 " +
      "SNAPSHOTS trims the branch's own window while main keeps its " +
      "128; VACUUM without RETAIN honors it; a restart re-reads it") {
    val wh = durableCatalog("brR")
    spark.sql("CREATE TABLE brR.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO brR.ns.t VALUES (1,'a')")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brR.ns.t CREATE BRANCH keep2 RETAIN 2 SNAPSHOTS")
      .collect()
    (2 to 5).foreach(i =>
      spark.sql(s"INSERT INTO brR.ns.`t@keep2` VALUES ($i,'b$i')"))
    (10 to 12).foreach(i =>
      spark.sql(s"INSERT INTO brR.ns.t VALUES ($i,'m$i')"))
    val st = spark.sessionState.catalogManager.catalog("brR")
      .asInstanceOf[GraftCatalog].store
    val bt = st.branchTables((Seq("ns"), "t", "keep2"))
    assert(bt.commitHistory.length === 2,
      s"the declared window governs the branch's automatic slide: " +
        s"${bt.commitHistory}")
    assert(st.tables((Seq("ns"), "t")).commitHistory.length === 5,
      "main keeps the engine-wide 128 window")
    // the branch still reads its FULL state (retention trims history,
    // never current data)
    assert(rows("brR.ns.`t@keep2`") ===
      (1 to 5).map(i => (i.toLong, if (i == 1) "a" else s"b$i")))
    // the refs table carries the declared property
    val refs = spark.table("brR.ns.`t$branches`")
      .select("name", "retain_snapshots", "ref_age_hours")
      .as[(String, Option[Int], Option[Double])].collect().toSeq
    assert(refs === Seq(("keep2", Some(2), None)), refs.toString)
    // VACUUM without an explicit RETAIN honors the declared 2 (the
    // default elsewhere is 1): both retained versions stay readable
    GraftMaintenance.sql(spark, "VACUUM brR.ns.t@keep2").collect()
    assert(bt.commitHistory.length === 2,
      "VACUUM without RETAIN must keep the DECLARED 2, not default to 1")
    spark.sql(s"SELECT * FROM brR.ns.`t@keep2` VERSION AS OF " +
      s"${bt.commitHistory.head._1}").collect()
    // restart: the property re-reads from _branch.json and keeps
    // governing the replayed chain
    reopen("brR2", wh)
    val bt2 = spark.sessionState.catalogManager.catalog("brR2")
      .asInstanceOf[GraftCatalog].store
      .branchTables((Seq("ns"), "t", "keep2"))
    assert(bt2.commitHistory.length === 2,
      s"the declared window must survive restart: ${bt2.commitHistory}")
    spark.sql("INSERT INTO brR2.ns.`t@keep2` VALUES (6,'b6')")
    assert(bt2.commitHistory.length === 2)
  }

  test("time-based branch snapshot retention (r19): RETAIN h HOURS " +
      "SNAPSHOTS ages commits out of the chain's window, count and " +
      "time compose as min, VACUUM without RETAIN honors the window, " +
      "and a restart re-reads it") {
    val savedClock = GraftClock.nowMicros
    try {
      var now = 1_700_000_000_000_000L
      GraftClock.nowMicros = () => now
      def advanceMin(m: Int): Unit = now += m * 60L * 1000000L
      val wh = durableCatalog("brHrs")
      spark.sql("CREATE TABLE brHrs.ns.t (id BIGINT, v STRING)")
      spark.sql("INSERT INTO brHrs.ns.t VALUES (1,'a')")
      GraftMaintenance.sql(spark,
        "ALTER TABLE brHrs.ns.t CREATE BRANCH win RETAIN 1 HOURS SNAPSHOTS")
        .collect()
      val st = spark.sessionState.catalogManager.catalog("brHrs")
        .asInstanceOf[GraftCatalog].store
      val bt = st.branchTables((Seq("ns"), "t", "win"))
      spark.sql("INSERT INTO brHrs.ns.`t@win` VALUES (2,'b2')")
      advanceMin(30)
      spark.sql("INSERT INTO brHrs.ns.`t@win` VALUES (3,'b3')")
      // all three entries (creation + two appends) are inside the hour
      assert(bt.commitHistory.length === 3,
        s"pre-boundary reads serve — nothing ages early: " +
          s"${bt.commitHistory}")
      val agedV = bt.commitHistory.head._1
      spark.sql(s"SELECT * FROM brHrs.ns.`t@win` VERSION AS OF $agedV")
        .collect() // still readable inside the window
      advanceMin(40) // creation + first append are now 70 min old
      spark.sql("INSERT INTO brHrs.ns.`t@win` VALUES (4,'b4')")
      assert(bt.commitHistory.length === 2,
        s"the slide drops entries past the window: ${bt.commitHistory}")
      val e = intercept[Exception](spark.sql(
        s"SELECT * FROM brHrs.ns.`t@win` VERSION AS OF $agedV").collect())
      assert(e.getMessage.toLowerCase.contains("time travel") ||
        e.getMessage.contains("retained"), e.getMessage)
      // current state is never touched by retention
      assert(rows("brHrs.ns.`t@win`") ===
        Seq((1L, "a"), (2L, "b2"), (3L, "b3"), (4L, "b4")))
      // main keeps the engine-wide window — the declaration is per-chain
      assert(st.tables((Seq("ns"), "t")).commitHistory.length === 2)
      // the refs table carries the declared window
      val refs = spark.table("brHrs.ns.`t$branches`")
        .select("name", "retain_snapshots", "retain_snapshot_hours")
        .as[(String, Option[Int], Option[Double])].collect().toSeq
      assert(refs === Seq(("win", None, Some(1.0))), refs.toString)
      // count AND time: min binds. Four same-instant commits → the
      // count window (3) trims first; a 2-hour jump → the time window
      // trims to the floor of 2
      GraftMaintenance.sql(spark, "ALTER TABLE brHrs.ns.t CREATE BRANCH " +
        "both RETAIN 3 SNAPSHOTS RETAIN 1 HOURS SNAPSHOTS").collect()
      val bt2 = st.branchTables((Seq("ns"), "t", "both"))
      (5 to 8).foreach(i =>
        spark.sql(s"INSERT INTO brHrs.ns.`t@both` VALUES ($i,'c$i')"))
      assert(bt2.commitHistory.length === 3,
        s"same-instant commits: the COUNT window binds: " +
          s"${bt2.commitHistory}")
      advanceMin(120)
      spark.sql("INSERT INTO brHrs.ns.`t@both` VALUES (9,'c9')")
      assert(bt2.commitHistory.length === 2,
        s"after the jump the TIME window binds (floor 2): " +
          s"${bt2.commitHistory}")
      // VACUUM without RETAIN honors the declared window: only the
      // head commit is inside the hour now
      advanceMin(120)
      spark.sql("INSERT INTO brHrs.ns.`t@win` VALUES (10,'b10')")
      GraftMaintenance.sql(spark, "VACUUM brHrs.ns.t@win").collect()
      assert(bt.commitHistory.length === 1,
        s"VACUUM keeps exactly the declared window: ${bt.commitHistory}")
      assert(rows("brHrs.ns.`t@win`") === Seq((1L, "a"), (2L, "b2"),
        (3L, "b3"), (4L, "b4"), (10L, "b10")))
      // restart: _branch.json re-reads and the window governs the
      // replayed chain's next slide
      reopen("brHrs2", wh)
      val rt = spark.sessionState.catalogManager.catalog("brHrs2")
        .asInstanceOf[GraftCatalog].store
        .branchTables((Seq("ns"), "t", "win"))
      advanceMin(120)
      spark.sql("INSERT INTO brHrs2.ns.`t@win` VALUES (11,'b11')")
      assert(rt.commitHistory.length === 2,
        s"the window must survive restart: ${rt.commitHistory}")
      assert(rows("brHrs2.ns.`t@win`").map(_._1).toSet ===
        Set(1L, 2L, 3L, 4L, 10L, 11L))
    } finally GraftClock.nowMicros = savedClock
  }

  test("ALTER BRANCH (r19): the declared retention replaces wholesale " +
      "— widen/narrow/clear — a restart re-reads it, and extending an " +
      "EXPIRED branch's age is the rescue the refusal names") {
    val savedClock = GraftClock.nowMicros
    try {
      var now = 1_710_000_000_000_000L
      GraftClock.nowMicros = () => now
      val wh = durableCatalog("brAl")
      spark.sql("CREATE TABLE brAl.ns.t (id BIGINT, v STRING)")
      spark.sql("INSERT INTO brAl.ns.t VALUES (1,'a')")
      GraftMaintenance.sql(spark,
        "ALTER TABLE brAl.ns.t CREATE BRANCH b RETAIN 2 SNAPSHOTS")
        .collect()
      val st = spark.sessionState.catalogManager.catalog("brAl")
        .asInstanceOf[GraftCatalog].store
      val bt = st.branchTables((Seq("ns"), "t", "b"))
      (2 to 5).foreach(i =>
        spark.sql(s"INSERT INTO brAl.ns.`t@b` VALUES ($i,'b$i')"))
      assert(bt.commitHistory.length === 2, "the fork-time window binds")
      // WIDEN post-create: later commits retain under the new window
      assert(GraftMaintenance.sql(spark,
        "ALTER TABLE brAl.ns.t ALTER BRANCH b RETAIN 4 SNAPSHOTS")
        .head().getInt(0) === 1)
      (6 to 8).foreach(i =>
        spark.sql(s"INSERT INTO brAl.ns.`t@b` VALUES ($i,'b$i')"))
      assert(bt.commitHistory.length === 4,
        s"the widened window governs: ${bt.commitHistory}")
      // the refs table reflects the replaced declaration
      val refs = spark.table("brAl.ns.`t$branches`")
        .select("retain_snapshots", "ref_age_hours",
          "retain_snapshot_hours")
        .as[(Option[Int], Option[Double], Option[Double])]
        .collect().toSeq
      assert(refs === Seq((Some(4), None, None)), refs.toString)
      // CLEAR (no clauses): back to the engine-wide window
      assert(GraftMaintenance.sql(spark,
        "ALTER TABLE brAl.ns.t ALTER BRANCH b").head().getInt(0) === 0)
      (9 to 11).foreach(i =>
        spark.sql(s"INSERT INTO brAl.ns.`t@b` VALUES ($i,'b$i')"))
      assert(bt.commitHistory.length === 7,
        s"cleared: the engine default (128) governs: ${bt.commitHistory}")
      // restart re-reads the replaced declaration from _branch.json
      GraftMaintenance.sql(spark,
        "ALTER TABLE brAl.ns.t ALTER BRANCH b RETAIN 3 SNAPSHOTS")
        .collect()
      reopen("brAl2", wh)
      val rt = spark.sessionState.catalogManager.catalog("brAl2")
        .asInstanceOf[GraftCatalog].store
        .branchTables((Seq("ns"), "t", "b"))
      assert(rt.commitHistory.length === 3,
        s"the replayed chain trims under the replaced window: " +
          s"${rt.commitHistory}")
      // RESCUE: an expired-but-unswept branch refuses reads, then
      // ALTER BRANCH extends the age and the same read serves again
      GraftMaintenance.sql(spark,
        "ALTER TABLE brAl.ns.t CREATE BRANCH tmp RETAIN 1 HOURS")
        .collect()
      spark.sql("INSERT INTO brAl.ns.`t@tmp` VALUES (99,'z')")
      now += 2L * 3600 * 1000000
      val e = intercept[Exception](
        spark.table("brAl.ns.`t@tmp`").collect())
      assert(e.getMessage.contains("EXPIRED") &&
        e.getMessage.contains("ALTER BRANCH"), e.getMessage)
      // an expired source must refuse MERGE BRANCH too (r20, the
      // r19-advice asymmetry): squashing state a direct read refuses
      // would silently resurrect it on the target
      val em = intercept[Exception](GraftMaintenance.sql(spark,
        "ALTER TABLE brAl.ns.t MERGE BRANCH tmp").collect())
      assert(em.getMessage.contains("EXPIRED"), em.getMessage)
      GraftMaintenance.sql(spark,
        "ALTER TABLE brAl.ns.t ALTER BRANCH tmp RETAIN 100 HOURS")
        .collect()
      assert(rows("brAl.ns.`t@tmp`") === Seq((1L, "a"), (99L, "z")),
        "the rescued branch serves again")
    } finally GraftClock.nowMicros = savedClock
  }

  test("tag expiry (RETAIN h HOURS): a pre-expiry read serves, a " +
      "post-expiry read refuses, and the next sweep drops the tag and " +
      "reclaims its pinned segments") {
    durableCatalog("brQ")
    val savedClock = GraftClock.nowMicros
    try {
      var now = System.currentTimeMillis() * 1000L
      GraftClock.nowMicros = () => now
      spark.sql("CREATE TABLE brQ.ns.t (id BIGINT, v STRING)")
      spark.sql("INSERT INTO brQ.ns.t VALUES (1,'a'), (2,'b')")
      val st = spark.sessionState.catalogManager.catalog("brQ")
        .asInstanceOf[GraftCatalog].store
      val mainT = st.tables((Seq("ns"), "t"))
      val tagged = mainT.dataFiles.filter(_.persisted)
        .map(_.segment.path).toSet
      assert(tagged.nonEmpty)
      GraftMaintenance.sql(spark,
        "ALTER TABLE brQ.ns.t CREATE TAG rel RETAIN 1 HOURS").collect()
      // main moves past the tagged census; ONLY the tag pins it now
      spark.sql("INSERT OVERWRITE brQ.ns.t VALUES (9,'x')")
      spark.sql("INSERT INTO brQ.ns.t VALUES (10,'y')")
      GraftMaintenance.sql(spark,
        "VACUUM brQ.ns.t RETAIN 1 SNAPSHOTS").collect()
      // pre-expiry: the pin holds through the sweep and the read serves
      assert(rows("brQ.ns.`t@rel`") === Seq((1L, "a"), (2L, "b")),
        "a pre-expiry read must serve the pinned census")
      assert(tagged.forall(java.nio.file.Files.exists(_)),
        "pre-expiry, the sweep must keep the tag's segments")
      // expire: +2h on the engine clock
      now += 2L * 3600 * 1000000
      val e = intercept[Exception](spark.table("brQ.ns.`t@rel`").collect())
      assert(e.getMessage.contains("not found") ||
        e.getMessage.contains("cannot be found"), e.getMessage)
      // the next sweep drops the tag and reclaims what it alone pinned
      GraftMaintenance.sql(spark,
        "VACUUM brQ.ns.t RETAIN 1 SNAPSHOTS").collect()
      assert(tagged.forall(!java.nio.file.Files.exists(_)),
        "an expired tag's segments must reclaim on the next sweep")
      assert(spark.table("brQ.ns.`t$branches`").count() === 0,
        "the expired tag must leave the refs table")
      assert(rows("brQ.ns.t") === Seq((9L, "x"), (10L, "y")),
        "the live table is untouched")
    } finally GraftClock.nowMicros = savedClock
  }

  test("branch expiry (RETAIN h HOURS): an aged-out branch — idle " +
      "since its last commit — destroys on main's next sweep and its " +
      "segments reclaim; an ACTIVE branch never expires under it") {
    durableCatalog("brY")
    val savedClock = GraftClock.nowMicros
    try {
      var now = System.currentTimeMillis() * 1000L
      GraftClock.nowMicros = () => now
      spark.sql("CREATE TABLE brY.ns.t (id BIGINT, v STRING)")
      spark.sql("INSERT INTO brY.ns.t VALUES (1,'a')")
      GraftMaintenance.sql(spark,
        "ALTER TABLE brY.ns.t CREATE BRANCH tmp RETAIN 1 HOURS").collect()
      spark.sql("INSERT INTO brY.ns.`t@tmp` VALUES (2,'b')")
      val st = spark.sessionState.catalogManager.catalog("brY")
        .asInstanceOf[GraftCatalog].store
      val tmpSegs = st.branchTables((Seq("ns"), "t", "tmp")).dataFiles
        .filter(_.persisted).map(_.segment.path).toSet --
        st.tables((Seq("ns"), "t")).dataFiles
          .filter(_.persisted).map(_.segment.path).toSet
      assert(tmpSegs.nonEmpty)
      // 30 min later: still young — a main sweep must NOT expire it
      now += 30L * 60 * 1000000
      GraftMaintenance.sql(spark,
        "VACUUM brY.ns.t RETAIN 1 SNAPSHOTS").collect()
      assert(rows("brY.ns.`t@tmp`") === Seq((1L, "a"), (2L, "b")),
        "a young branch survives main's sweep")
      // the branch ages from its LAST commit: a fresh branch commit
      // resets the horizon
      spark.sql("INSERT INTO brY.ns.`t@tmp` VALUES (3,'c')")
      now += 45L * 60 * 1000000 // 45 min since the new commit
      GraftMaintenance.sql(spark,
        "VACUUM brY.ns.t RETAIN 1 SNAPSHOTS").collect()
      assert(rows("brY.ns.`t@tmp`") === Seq((1L, "a"), (2L, "b"), (3L, "c")),
        "an active branch never expires out from under its writer")
      // idle past the declared hour: the branch refuses AT RESOLVE
      // (r19 — the tag/branch asymmetry is closed) BEFORE any sweep
      // runs, naming its expiry instant; the refs table shows the
      // expired-but-unswept state
      now += 2L * 3600 * 1000000
      val eRead = intercept[Exception](
        spark.table("brY.ns.`t@tmp`").collect())
      assert(eRead.getMessage.contains("EXPIRED") &&
        eRead.getMessage.contains("RETAIN 1.0 HOURS"), eRead.getMessage)
      val refState = spark.table("brY.ns.`t$branches`")
        .select("name", "expired").as[(String, Boolean)].collect().toSeq
      assert(refState === Seq(("tmp", true)),
        s"the refs table must show the expired state: $refState")
      // main's next sweep then destroys the chain and reclaims its
      // unshared segments — the refusal above never blocks the reclaim
      GraftMaintenance.sql(spark,
        "VACUUM brY.ns.t RETAIN 1 SNAPSHOTS").collect()
      intercept[Exception](spark.table("brY.ns.`t@tmp`").collect())
      assert(spark.table("brY.ns.`t$branches`").count() === 0,
        "the expired branch must leave the refs table")
      assert(tmpSegs.forall(!java.nio.file.Files.exists(_)),
        "the expired branch's own segments must reclaim")
      assert(rows("brY.ns.t") === Seq((1L, "a")), "main is untouched")
    } finally GraftClock.nowMicros = savedClock
  }

  test("t$refs_log (r19): the ref-lifecycle audit keeps rows for " +
      "dropped and EXPIRED refs, serves the same relation from a " +
      "branch address, and survives restart") {
    val savedClock = GraftClock.nowMicros
    try {
      var now = 1_720_000_000_000_000L
      GraftClock.nowMicros = () => now
      val wh = durableCatalog("brLog")
      spark.sql("CREATE TABLE brLog.ns.t (id BIGINT, v STRING)")
      spark.sql("INSERT INTO brLog.ns.t VALUES (1,'a')")
      GraftMaintenance.sql(spark,
        "ALTER TABLE brLog.ns.t CREATE BRANCH keep").collect()
      GraftMaintenance.sql(spark,
        "ALTER TABLE brLog.ns.t CREATE BRANCH tmp RETAIN 1 HOURS")
        .collect()
      GraftMaintenance.sql(spark,
        "ALTER TABLE brLog.ns.t CREATE TAG shortlived " +
          "RETAIN 0.5 HOURS").collect()
      def events(t: String): Seq[(String, String)] =
        spark.table(t).orderBy("ts_micros")
          .select("action", "ref").as[(String, String)].collect().toSeq
      assert(events("brLog.ns.`t$refs_log`") === Seq(
        ("CREATE_BRANCH", "keep"), ("CREATE_BRANCH", "tmp"),
        ("CREATE_TAG", "shortlived")))
      // the branch address serves the SAME audit domain
      assert(events("brLog.ns.`t@keep$refs_log`") ===
        events("brLog.ns.`t$refs_log`"))
      // age both short refs out; main's sweep records the expiries
      now += 2L * 3600 * 1000000
      GraftMaintenance.sql(spark,
        "VACUUM brLog.ns.t RETAIN 1 SNAPSHOTS").collect()
      val after = events("brLog.ns.`t$refs_log`")
      assert(after.count(_._1 == "EXPIRE_TAG") === 1 &&
        after.contains(("EXPIRE_TAG", "shortlived")) &&
        after.contains(("EXPIRE_BRANCH", "tmp")), after.toString)
      // restart: the audit is disk-backed, a fresh store serves it
      reopen("brLog2", wh)
      assert(events("brLog2.ns.`t$refs_log`") === after)
      // the details column carries the declared properties at CREATE
      val det = spark.table("brLog.ns.`t$refs_log`")
        .filter($"ref" === "tmp" && $"action" === "CREATE_BRANCH")
        .select("details").as[String].head()
      assert(det.contains("refAgeHours=1"), det)
      // audit retention: the cap trims OLDEST events at the next
      // main-chain sweep, newest survive in order
      val savedCap = GraftTable.refEventsRetention
      try {
        GraftTable.refEventsRetention = 4
        GraftMaintenance.sql(spark,
          "VACUUM brLog.ns.t RETAIN 1 SNAPSHOTS").collect()
        assert(events("brLog.ns.`t$refs_log`") === after.drop(1),
          "the cap must drop exactly the oldest event")
      } finally GraftTable.refEventsRetention = savedCap
    } finally GraftClock.nowMicros = savedClock
  }

  test("guard rails: branches need a durable table; '@' is reserved in " +
      "created names; branch-of-branch refuses; FF of a missing branch " +
      "refuses") {
    spark.conf.set("spark.sql.catalog.brF", classOf[GraftCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS brF.ns.t_brmem")
    spark.sql("CREATE TABLE brF.ns.t_brmem (id BIGINT)")
    val e1 = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brF.ns.t_brmem CREATE BRANCH b").collect())
    assert(e1.getMessage.contains("durable"), e1.getMessage)
    durableCatalog("brG")
    val e2 = intercept[Exception](
      spark.sql("CREATE TABLE brG.ns.`x@y` (id BIGINT)"))
    assert(e2.getMessage.contains("@"), e2.getMessage)
    spark.sql("CREATE TABLE brG.ns.t (id BIGINT)")
    GraftMaintenance.sql(spark,
      "ALTER TABLE brG.ns.t CREATE BRANCH audit").collect()
    val e4 = intercept[Exception](GraftMaintenance.sql(spark,
      "ALTER TABLE brG.ns.t FAST FORWARD TO nope").collect())
    assert(e4.getMessage.contains("no such branch"), e4.getMessage)
  }
}
