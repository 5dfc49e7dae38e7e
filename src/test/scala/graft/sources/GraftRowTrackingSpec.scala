package graft.sources

/** ROW TRACKING (round 20): stable `_row_id` / `_row_commit_version`
  * identity — Delta's row tracking / Iceberg v3 row lineage reproduced
  * on the Graft lakehouse. The contract under test: ids mint once at
  * first insert, survive COW UPDATE/DELETE/MERGE rewrites, OPTIMIZE
  * and ZORDER re-layouts, clones, branches and restarts; updated rows
  * KEEP their id but take the committing `_row_commit_version`; copied
  * rows keep both; the change feed pairs an UPDATE's preimage and
  * postimage by id. */
class GraftRowTrackingSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String = {
    spark.conf.set("spark.sql.catalog.rt_cat",
      classOf[GraftCatalog].getName)
    val fq = s"rt_cat.ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fq")
    fq
  }

  private def store(name: String): GraftTable =
    GraftTableStore.tables((Seq("ns"), name))

  private def createTracked(name: String, extraProps: String = ""): String = {
    val t = freshTable(name)
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) " +
      s"TBLPROPERTIES ('row.tracking'='true'$extraProps)")
    t
  }

  private def idMap(t: String): Map[Long, (Long, Long, String)] =
    spark.sql(s"SELECT id, _row_id, _row_commit_version, v FROM $t")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("insert assigns dense ids; COW UPDATE keeps ids, bumps versions " +
      "of changed rows only") {
    val t = createTracked("t_rt_cow")
    Seq.tabulate(10)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    val before = idMap(t)
    assert(before.values.map(_._1).toSeq.sorted == (0L until 10L),
      s"fresh insert must assign dense ids 0..9, got $before")
    val verBefore = before.values.map(_._2).toSet
    assert(verBefore.size == 1, "one insert commit, one version")

    spark.sql(s"UPDATE $t SET v = concat(v, '!') WHERE id % 3 = 0")
    val after = idMap(t)
    assert(after.keySet == before.keySet)
    before.foreach { case (k, (rid, ver, _)) =>
      val (rid2, ver2, v2) = after(k)
      assert(rid2 == rid, s"row $k changed _row_id $rid -> $rid2")
      if (k % 3 == 0) {
        assert(v2 == s"v$k!")
        assert(ver2 > ver, s"updated row $k kept stale version")
      } else assert(ver2 == ver, s"copied row $k bumped version")
    }
  }

  test("COW DELETE keeps survivor ids; MERGE inserts mint fresh ids " +
      "beyond the high water mark") {
    val t = createTracked("t_rt_merge")
    Seq.tabulate(6)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    val before = idMap(t)
    spark.sql(s"DELETE FROM $t WHERE id >= 4")
    val afterDel = idMap(t)
    assert(afterDel.keySet == Set(0L, 1L, 2L, 3L))
    afterDel.foreach { case (k, (rid, _, _)) =>
      assert(rid == before(k)._1, s"survivor $k lost its id")
    }
    // MERGE: update 0/2, insert 10/11
    Seq((0L, "u0"), (2L, "u2"), (10L, "n10"), (11L, "n11"))
      .toDF("id", "v").createOrReplaceTempView("rt_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING rt_src src ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)
         |""".stripMargin)
    val after = idMap(t)
    assert(after.keySet == Set(0L, 1L, 2L, 3L, 10L, 11L))
    Seq(0L, 1L, 2L, 3L).foreach { k =>
      assert(after(k)._1 == before(k)._1, s"matched row $k lost its id")
    }
    val maxOld = before.values.map(_._1).max
    Seq(10L, 11L).foreach { k =>
      assert(after(k)._1 > maxOld,
        s"merge-inserted row $k reused id ${after(k)._1} <= $maxOld")
    }
    assert(after(10L)._1 != after(11L)._1)
  }

  test("OPTIMIZE and ZORDER preserve the id assignment exactly") {
    val t = createTracked("t_rt_opt")
    // two small files -> one compacted file
    Seq.tabulate(5)(i => (i.toLong, s"a$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    Seq.tabulate(5)(i => (i.toLong + 5, s"b$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    val before = idMap(t)
    spark.sql(s"OPTIMIZE $t")
    val table = store("t_rt_opt")
    assert(table.dataFiles.length == 1, "compaction should bin-pack")
    assert(idMap(t) == before, "OPTIMIZE changed row identity")
    spark.sql(s"OPTIMIZE $t ZORDER BY (id)")
    assert(idMap(t) == before, "ZORDER changed row identity")
  }

  test("MOR: DELETE keeps ids via the delete vector; UPDATE postimage " +
      "keeps the preimage's id") {
    val t = createTracked("t_rt_mor",
      ", 'write.rowlevel.mode'='merge-on-read'")
    Seq.tabulate(8)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    val before = idMap(t)
    spark.sql(s"DELETE FROM $t WHERE id = 7")
    spark.sql(s"UPDATE $t SET v = 'upd' WHERE id = 3")
    val after = idMap(t)
    assert(after.keySet == (0L to 6L).toSet)
    after.foreach { case (k, (rid, _, v)) =>
      assert(rid == before(k)._1, s"MOR row $k lost its id")
      if (k == 3L) assert(v == "upd")
    }
    assert(after(3L)._2 > before(3L)._2, "MOR update kept stale version")
  }

  test("the STREAMED change feed carries _row_id: an update's micro-batch " +
      "pairs preimage and postimage by identity") {
    val t = createTracked("t_rt_stream")
    Seq.tabulate(4)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    spark.sql(s"UPDATE $t SET v = 'u' WHERE id = 1")
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Long, Long)]())
    val ckpt = tmpDir("ckpt-rt-cdf")
    val q = spark.readStream.table(s"rt_cat.ns.`t_rt_stream$$changes`")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("_change_type", "_row_id", "id")
          .as[(String, Long, Long)].collect().foreach(got.add)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val rows = got.asScala.toSeq
    val inserts0 = rows.filter(r => r._1 == "insert" && r._3 != 1L)
    assert(inserts0.map(_._3).sorted == Seq(0L, 2L, 3L))
    // id 1's rows: the original insert plus the update's pre+post —
    // delete and (an) insert sharing ONE row id proves the pairing
    val updPair = rows.filter(_._3 == 1L)
    val pre = updPair.filter(_._1 == "delete")
    assert(pre.length == 1, s"one preimage expected: $updPair")
    val rid = pre.head._2
    assert(updPair.filter(_._1 == "insert").map(_._2).contains(rid),
      s"postimage must carry the preimage's _row_id $rid: $updPair")
  }

  test("time travel serves the version's own row identity: same ids, " +
      "the pre-update commit versions") {
    val t = createTracked("t_rt_tt")
    Seq.tabulate(5)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    spark.sql(s"UPDATE $t SET v = 'u' WHERE id = 2")
    val now = idMap(t)
    val old = spark.sql(
      s"SELECT id, _row_id, _row_commit_version, v FROM $t VERSION AS OF 1")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(old.keySet == now.keySet)
    old.foreach { case (k, (rid, ver, v)) =>
      assert(rid == now(k)._1, s"row $k: snapshot id diverged")
      assert(v == s"v$k", "snapshot serves the pre-update value")
      assert(ver < now(2L)._2 || k != 2L,
        "snapshot versions predate the update")
    }
    assert(old(2L)._2 < now(2L)._2,
      "the updated row's snapshot version must be the original")
  }

  private def tmpWh(tag: String): String =
    tmpDir(tag)

  private def durableCatalog(name: String, dir: String,
      isolated: Boolean = false): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    if (isolated)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse.isolated", "true")
  }

  test("row identity survives a restart: ids, versions and CDF pairing " +
      "replay from the log; post-restart appends mint beyond") {
    val wh = tmpWh("graft-rt-restart")
    durableCatalog("rwtk", wh)
    spark.sql("CREATE TABLE rwtk.ns.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('row.tracking'='true')")
    spark.sql("INSERT INTO rwtk.ns.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO rwtk.ns.t VALUES (3, 'c')")
    spark.sql("UPDATE rwtk.ns.t SET v = 'u' WHERE id = 2")
    val before = spark
      .sql("SELECT id, _row_id, _row_commit_version FROM rwtk.ns.t")
      .as[(Long, Long, Long)].collect()
      .map { case (k, r, c) => k -> ((r, c)) }.toMap

    durableCatalog("rwtk2", wh, isolated = true)
    val after = spark
      .sql("SELECT id, _row_id, _row_commit_version FROM rwtk2.ns.t")
      .as[(Long, Long, Long)].collect()
      .map { case (k, r, c) => k -> ((r, c)) }.toMap
    assert(after == before,
      s"row identity diverged across restart: $before vs $after")
    // the update's CDF pairing-by-id replays from the on-disk log
    val ch = spark.sql(
      "SELECT _change_type, _row_id, id FROM rwtk2.ns.`t$changes` " +
        "WHERE _commit_version = 3 ORDER BY _change_type")
      .as[(String, Long, Long)].collect().toSeq
    assert(ch.map(_._1) == Seq("delete", "insert"))
    assert(ch.map(_._2).distinct.length == 1,
      s"update must pair by one id: $ch")
    assert(ch.forall(_._3 == 2L))
    // the mint counter recovered: a post-restart insert goes BEYOND
    spark.sql("INSERT INTO rwtk2.ns.t VALUES (9, 'z')")
    val nid = spark
      .sql("SELECT _row_id FROM rwtk2.ns.t WHERE id = 9").as[Long].head()
    val maxOld = before.values.map(_._1).max
    assert(nid > maxOld, s"restart re-minted id $nid <= $maxOld")
  }

  test("clones adopt row identity; the clone's own mint counter clears " +
      "every adopted id") {
    val wh = tmpWh("graft-rt-clone")
    durableCatalog("rwtkc", wh)
    spark.sql("CREATE TABLE rwtkc.ns.src (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('row.tracking'='true')")
    spark.sql("INSERT INTO rwtkc.ns.src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("UPDATE rwtkc.ns.src SET v = 'u' WHERE id = 2")
    val src = spark.sql("SELECT id, _row_id FROM rwtkc.ns.src")
      .as[(Long, Long)].collect().toMap
    GraftMaintenance.sql(spark,
      "CREATE TABLE rwtkc.ns.dst SHALLOW CLONE rwtkc.ns.src").collect()
    val dst = spark.sql("SELECT id, _row_id FROM rwtkc.ns.dst")
      .as[(Long, Long)].collect().toMap
    assert(dst == src, "clone must serve the source's row ids")
    spark.sql("INSERT INTO rwtkc.ns.dst VALUES (9, 'z')")
    val nid = spark
      .sql("SELECT _row_id FROM rwtkc.ns.dst WHERE id = 9").as[Long].head()
    assert(nid > src.values.max,
      s"clone re-minted id $nid inside the adopted range")
  }

  test("branches: fork shares identity, branch writes mint in the " +
      "branch chain, MERGE BRANCH adopts ids and clears the counter") {
    val wh = tmpWh("graft-rt-branch")
    durableCatalog("rwtkb", wh)
    spark.sql("CREATE TABLE rwtkb.ns.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('row.tracking'='true')")
    spark.sql("INSERT INTO rwtkb.ns.t VALUES (1, 'a'), (2, 'b')")
    val main0 = spark.sql("SELECT id, _row_id FROM rwtkb.ns.t")
      .as[(Long, Long)].collect().toMap
    GraftMaintenance.sql(spark,
      "ALTER TABLE rwtkb.ns.t CREATE BRANCH b").collect()
    // fork census shares the file objects — identical identity
    val fork = spark.sql("SELECT id, _row_id FROM rwtkb.ns.`t@b`")
      .as[(Long, Long)].collect().toMap
    assert(fork == main0)
    // branch append mints NEW ids (the fork seeded the branch counter)
    spark.sql("INSERT INTO rwtkb.ns.`t@b` VALUES (10, 'x')")
    spark.sql("UPDATE rwtkb.ns.`t@b` SET v = 'u' WHERE id = 1")
    val br = spark.sql("SELECT id, _row_id FROM rwtkb.ns.`t@b`")
      .as[(Long, Long)].collect().toMap
    assert(br(1L) == main0(1L) && br(2L) == main0(2L),
      "branch update must keep the forked rows' ids")
    assert(br(10L) > main0.values.max, "branch insert re-minted")
    // merge back: main adopts the branch ids, main's next insert clears
    GraftMaintenance.sql(spark,
      "ALTER TABLE rwtkb.ns.t MERGE BRANCH b").collect()
    val merged = spark.sql("SELECT id, _row_id FROM rwtkb.ns.t")
      .as[(Long, Long)].collect().toMap
    assert(merged == br, "merge must adopt the branch's identity")
    spark.sql("INSERT INTO rwtkb.ns.t VALUES (20, 'y')")
    val nid = spark
      .sql("SELECT _row_id FROM rwtkb.ns.t WHERE id = 20").as[Long].head()
    assert(nid > br.values.max,
      s"post-merge insert re-minted id $nid inside the adopted range")
  }

  test("mid-life enablement backfills deterministically and survives " +
      "restart via the forced checkpoint") {
    val wh = tmpWh("graft-rt-enable")
    durableCatalog("rwtke", wh)
    spark.sql("CREATE TABLE rwtke.ns.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO rwtke.ns.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO rwtke.ns.t VALUES (3, 'c')")
    // pre-enablement: the metadata columns do not exist
    intercept[Exception](
      spark.sql("SELECT _row_id FROM rwtke.ns.t").collect())
    spark.sql(
      "ALTER TABLE rwtke.ns.t SET TBLPROPERTIES ('row.tracking'='true')")
    val ids = spark.sql("SELECT id, _row_id FROM rwtke.ns.t")
      .as[(Long, Long)].collect().toMap
    assert(ids.values.toSeq.sorted == Seq(0L, 1L, 2L),
      s"backfill must assign dense ids in file order: $ids")
    durableCatalog("rwtke2", wh, isolated = true)
    val after = spark.sql("SELECT id, _row_id FROM rwtke2.ns.t")
      .as[(Long, Long)].collect().toMap
    assert(after == ids,
      s"backfilled identity diverged across restart: $ids vs $after")
  }

  test("change feed pairs an UPDATE's preimage and postimage by _row_id") {
    val t = createTracked("t_rt_cdf")
    Seq.tabulate(6)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    val before = idMap(t)
    spark.sql(s"UPDATE $t SET v = concat(v, '+') WHERE id IN (1, 4)")
    val ver = store("t_rt_cdf").commitHistory.last._1
    val ch = spark.sql(
      s"""SELECT _change_type, _row_id, id, v FROM rt_cat.ns.`t_rt_cdf$$changes`
         |WHERE _commit_version = $ver""".stripMargin).collect()
    val dels = ch.filter(_.getString(0) == "delete")
      .map(r => r.getLong(1) -> (r.getLong(2), r.getString(3))).toMap
    val ins = ch.filter(_.getString(0) == "insert")
      .map(r => r.getLong(1) -> (r.getLong(2), r.getString(3))).toMap
    assert(dels.keySet == ins.keySet,
      s"update CDC must pair by id: deletes=$dels inserts=$ins")
    assert(dels.keySet == Set(before(1L)._1, before(4L)._1))
    dels.foreach { case (rid, (k, oldV)) =>
      val (k2, newV) = ins(rid)
      assert(k == k2)
      assert(newV == oldV + "+")
    }
  }
}
