package graft.sources

import graft.SparkSpec

/** Maintenance DDL as SQL: OPTIMIZE [ZORDER BY] / VACUUM / RESTORE
  * through the delegating parser ([[GraftSqlParser]], installed by the
  * `spark.sql.extensions` route) and its extension-less gateway
  * [[GraftMaintenance.sql]]. Everything that is not one of the three
  * verbs must reach Spark's own parser untouched. */
class GraftSqlCommandsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String = {
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[GraftCatalog].getName)
    val fq = s"graft_cat.ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fq")
    fq
  }

  private def store(name: String): GraftTable =
    GraftTableStore.tables((Seq("ns"), name))

  test("OPTIMIZE compacts via SQL and reports the file census") {
    val t = freshTable("t_sqlopt")
    for (i <- 0 until 4) {
      val df = Seq((i.toLong, s"v$i")).toDF("id", "v").repartition(1)
      if (i == 0) df.writeTo(t).create() else df.writeTo(t).append()
    }
    assert(store("t_sqlopt").dataFiles.length === 4)
    val res = GraftMaintenance.sql(spark, s"OPTIMIZE $t")
      .as[(Int, Int)].head()
    assert(res === ((4, 1)))
    assert(store("t_sqlopt").dataFiles.length === 1)
    assert(spark.table(t).count() === 4)
  }

  test("OPTIMIZE ZORDER BY via SQL re-lays the files along the curve") {
    val t = freshTable("t_sqlz")
    spark.range(0, 1024)
      .selectExpr("id % 32 AS x", "id DIV 32 AS y", "id AS payload")
      .writeTo(t).create()
    val res = GraftMaintenance.sql(spark,
      s"OPTIMIZE $t ZORDER BY (x, y) TARGET 64 ROWS")
      .as[(Int, Int)].head()
    assert(res._2 === 16, s"1024 rows at 64/file: $res")
    assert(spark.table(t).count() === 1024)
    // the layout actually helps: a 2-D box scan skips most files
    spark.table(t).filter($"x" < 8 && $"y" < 8).count()
    val census = store("t_sqlz").lastScanCensus.get
    assert(census.filesRead < census.filesTotal / 2,
      s"z-order layout must prune the box scan: $census")
  }

  test("VACUUM and RESTORE via SQL") {
    val t = freshTable("t_sqlvac")
    Seq((1L, "a")).toDF("id", "v").writeTo(t).create()      // v1
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')")            // v2
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")            // v3

    val restored = GraftMaintenance.sql(spark,
      s"RESTORE TABLE $t TO VERSION AS OF 2").as[Int].head()
    assert(restored === 2)
    assert(spark.table(t).count() === 2)
    assert(store("t_sqlvac").commitHistory.map(_._1) === Seq(0, 1, 2, 3, 4))

    val retired = GraftMaintenance.sql(spark,
      s"VACUUM $t RETAIN 2 SNAPSHOTS").as[Int].head()
    assert(retired === 3)
    assert(store("t_sqlvac").commitHistory.map(_._1) === Seq(3, 4))
  }

  test("ZORDER BY accepts string columns: 7-byte-prefix curve agrees " +
      "with the zone maps' binary string order") {
    val t = freshTable("t_sqlz_str")
    // 26×16 grid over (letter-prefixed key, numeric bucket)
    spark.range(0, 416)
      .selectExpr(
        "concat(char(97 + id % 26), 'suffix') AS word",
        "CAST(id DIV 26 AS BIGINT) AS grp",
        "id AS payload")
      .writeTo(t).create()
    GraftMaintenance.sql(spark,
      s"OPTIMIZE $t ZORDER BY (word, grp) TARGET 26 ROWS")
    assert(spark.table(t).count() === 416)
    // a narrow word-range scan touches a minority of the 16 files
    val n = spark.table(t)
      .filter($"word" >= "a" && $"word" <= "c~").count()
    assert(n === 48)
    val census = store("t_sqlz_str").lastScanCensus.get
    assert(census.filesRead < census.filesTotal / 2,
      s"string z-order must prune the range scan: $census")
  }

  test("t$detail serves the DESCRIBE DETAIL facts") {
    val t = freshTable("t_detail")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read', " +
      "'constraints.idpos'='id > 0')")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(1).writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE id = 2") // MOR: one DV'd file
    val d = spark.table(s"graft_cat.ns.`t_detail$$detail`")
      .select("row_level_mode", "num_files", "num_rows", "num_dv_files",
        "num_dv_deleted_rows", "constraints", "retained_versions")
      .as[(String, Int, Long, Int, Long, String, String)].head()
    assert(d === (("merge-on-read", 1, 2L, 1, 1L, "idpos: id > 0", "0..2")))
    // r13 introspection: the bloom-index and ANALYZE surfaces report
    GraftMaintenance.sql(spark,
      s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS v").collect()
    val d2 = spark.table(s"graft_cat.ns.`t_detail$$detail`")
      .select("bloom_columns", "analyzed_columns")
      .as[(String, String)].head()
    assert(d2 === (("", "v")))
  }

  test("OPTIMIZE ... WHERE scopes compaction to matching partition " +
      "groups; non-partition references refuse loudly") {
    val t = freshTable("t_optw")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    (0 until 4).foreach { i =>
      Seq((i.toLong, "a"), (i.toLong + 100, "b")).toDF("id", "p")
        .coalesce(1).writeTo(t).append()
    }
    val st = store("t_optw")
    def filesPer(p: String): Int =
      st.filesSnapshot.count(_.groupKey.exists(_ == Seq(
        org.apache.spark.unsafe.types.UTF8String.fromString(p))))
    assert(filesPer("a") === 4 && filesPer("b") === 4)
    val r = GraftMaintenance.sql(spark, s"OPTIMIZE $t WHERE p = 'a'")
      .as[(Int, Int)].head()
    assert(r === ((8, 5)), s"only partition a compacts: $r")
    assert(filesPer("a") === 1 && filesPer("b") === 4)
    // the whole-table content is untouched
    assert(spark.table(t).count() === 8L)
    // ZORDER scoped the same way: partition b re-lays, a carries over
    GraftMaintenance.sql(spark,
      s"OPTIMIZE $t WHERE p = 'b' ZORDER BY (id)").collect()
    assert(filesPer("a") === 1 && filesPer("b") === 1)
    // a non-partition reference is refused at the partition schema
    val e = intercept[Exception](GraftMaintenance.sql(spark,
      s"OPTIMIZE $t WHERE id > 2").collect())
    assert(e.getMessage.contains("no such column"), e.getMessage)
  }

  test("REORG TABLE ... APPLY (PURGE) rewrites exactly the DV-carrying " +
      "files; soft-deleted rows physically leave the segments") {
    val t = freshTable("t_reorg")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
    (0 until 3).foreach { i =>
      (0 until 10).map(j => ((i * 10 + j).toLong, s"v$j")).toDF("id", "v")
        .coalesce(1).writeTo(t).append()
    }
    spark.sql(s"DELETE FROM $t WHERE id IN (3, 4, 17)") // DVs in 2 files
    val st = store("t_reorg")
    assert(st.filesSnapshot.length === 3)
    val (purged, rows) = GraftMaintenance.sql(spark,
      s"REORG TABLE $t APPLY (PURGE)").as[(Int, Long)].head()
    assert(purged === 2 && rows === 3L, s"($purged, $rows)")
    // DVs are gone, content identical, untouched file carried over
    val d = spark.table(s"graft_cat.ns.`t_reorg$$detail`")
      .select("num_files", "num_rows", "num_dv_files")
      .as[(Int, Long, Int)].head()
    assert(d === ((3, 27L, 0)))
    assert(spark.table(t).count() === 27L)
    // idempotent: nothing left to purge
    assert(GraftMaintenance.sql(spark, s"REORG TABLE $t APPLY (PURGE)")
      .as[(Int, Long)].head() === ((0, 0L)))
  }

  test("DESCRIBE HISTORY / DESCRIBE DETAIL statements rewrite onto the " +
      "$history / $detail meta relations") {
    val t = freshTable("t_desc")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    Seq(1L, 2L).toDF("id").writeTo(t).append()
    spark.sql(s"UPDATE $t SET id = id + 10 WHERE id = 2")
    // newest-first, Delta's ordering; both DESCRIBE and DESC forms
    val h = GraftMaintenance.sql(spark, s"DESCRIBE HISTORY $t")
      .select("version", "operation").as[(Int, String)].collect().toSeq
    assert(h.map(_._1) === Seq(2, 1, 0))
    assert(h.head._2 === "UPDATE")
    assert(GraftMaintenance.sql(spark, s"DESC HISTORY $t").count() === 3L)
    val d = GraftMaintenance.sql(spark, s"DESCRIBE DETAIL $t")
      .select("num_rows").as[Long].head()
    assert(d === 2L)
    // the rewrite is a declarative RELATION: filters/projections over
    // it plan like any query (and the parser claims only graft tables)
    val p = new GraftSqlParser(spark.sessionState.sqlParser)
    assert(!p.parsePlan("DESCRIBE HISTORY graft_cat.ns.t_desc")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("DESCRIBE TABLE graft_cat.ns.t_desc") ne null)
  }

  test("VACUUM RETAIN n HOURS: time-based retention retires snapshots " +
      "older than the cutoff, never the current one") {
    val savedClock = GraftClock.nowMicros
    try {
      val hourUs = 3600L * 1000000L
      val t0 = 1000000000000000L
      var now = t0
      GraftClock.nowMicros = () => now
      val t = freshTable("t_sqlvh")
      spark.sql(s"CREATE TABLE $t (id BIGINT)")          // v0 @ t0
      now = t0 + 1 * hourUs
      spark.sql(s"INSERT INTO $t VALUES (1)")            // v1 @ t0+1h
      now = t0 + 4 * hourUs
      spark.sql(s"INSERT INTO $t VALUES (2)")            // v2 @ t0+4h
      now = t0 + 5 * hourUs
      // cutoff = now - 2h = t0+3h: v0 and v1 are older and retire,
      // v2 stays — Delta's RETAIN n HOURS contract
      val retired = GraftMaintenance.sql(spark,
        s"VACUUM $t RETAIN 2 HOURS").as[Int].head()
      assert(retired === 2, s"expected v0+v1 retired, got $retired")
      assert(spark.table(t).as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L), "current state must be untouched")
      val e = intercept[Exception](
        spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect())
      assert(e.getMessage != null)
      // everything inside the window: nothing retires, current kept
      assert(GraftMaintenance.sql(spark,
        s"VACUUM $t RETAIN 9999 HOURS").as[Int].head() === 0)
    } finally GraftClock.nowMicros = savedClock
  }

  test("a catalog-qualified maintenance statement scopes to THAT " +
      "catalog's warehouse when two warehouses share a table name") {
    def cat(name: String, wh: String): Unit = {
      spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    }
    cat("scope_a", tmpDir("graft-scope-a"))
    cat("scope_b", tmpDir("graft-scope-b"))
    spark.sql("CREATE TABLE scope_a.ns.t_same (id BIGINT)")
    spark.sql("CREATE TABLE scope_b.ns.t_same (id BIGINT)")
    spark.sql("INSERT INTO scope_a.ns.t_same VALUES (1)")
    spark.sql("INSERT INTO scope_a.ns.t_same VALUES (2)")
    spark.sql("INSERT INTO scope_b.ns.t_same VALUES (10)")
    // OPTIMIZE through catalog A must not commit a version on B's table
    def versions(c: String): Long =
      spark.sql(s"SELECT count(*) FROM $c.ns.`t_same$$history`")
        .as[Long].head()
    val (va0, vb0) = (versions("scope_a"), versions("scope_b"))
    GraftMaintenance.sql(spark, "OPTIMIZE scope_a.ns.t_same").collect()
    assert(versions("scope_a") === va0 + 1,
      "the qualified statement must act on catalog A's table")
    assert(versions("scope_b") === vb0,
      "catalog B's same-named table must be untouched — a cross-store " +
        "match would be silent cross-warehouse damage")
    // RESTORE through B rolls back ONLY B
    GraftMaintenance.sql(spark,
      "RESTORE TABLE scope_b.ns.t_same TO VERSION AS OF 0").collect()
    assert(spark.sql("SELECT count(*) FROM scope_b.ns.t_same")
      .as[Long].head() === 0L)
    assert(spark.sql("SELECT id FROM scope_a.ns.t_same ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L),
      "A's rows must survive B's restore")
  }

  test("VACUUM DRY RUN reports the reclaim census without deleting; " +
      "the real VACUUM then reclaims exactly what it predicted") {
    val wh = tmpDir("graft-sqldry")
    spark.conf.set("spark.sql.catalog.sqldry", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqldry.warehouse", wh)
    val t = "sqldry.ns.t_dry"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")
    // COW rewrite supersedes the old segments; one more commit moves
    // the retained head PAST the rewrite's CDC views (which pin the
    // superseded segments as their position-view bases), so RETAIN 1
    // makes them genuinely reclaimable
    spark.sql(s"UPDATE $t SET v = 'x' WHERE id = 1")
    spark.sql(s"INSERT INTO $t VALUES (4, 'd')")
    val td = java.nio.file.Files.list(java.nio.file.Paths.get(wh))
      .filter(p => java.nio.file.Files.isRegularFile(p.resolve("table.json")))
      .findFirst().orElseThrow()
    import scala.jdk.CollectionConverters._
    def segs: Set[String] = {
      val s = java.nio.file.Files.list(td.resolve("data"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val before = segs
    val (retire, nSeg, bytes) = GraftMaintenance.sql(spark,
      s"VACUUM $t RETAIN 1 SNAPSHOTS DRY RUN")
      .as[(Int, Int, Long)].head()
    assert(retire === 4, "v0..v3 would retire, v4 stays")
    assert(nSeg > 0 && bytes > 0L,
      "the superseded COW segments must be counted reclaimable")
    assert(segs === before, "DRY RUN must delete NOTHING")
    assert(spark.sql(s"SELECT count(*) FROM `sqldry`.ns.`t_dry$$history`")
      .as[Long].head() === 5L, "DRY RUN must retire no snapshots")
    // the real vacuum reclaims exactly the predicted segment count
    GraftMaintenance.sql(spark, s"VACUUM $t RETAIN 1 SNAPSHOTS").collect()
    assert(before.size - segs.size === nSeg,
      s"real VACUUM must reclaim the predicted $nSeg segments")
    assert(spark.sql(s"SELECT id FROM $t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("RESTORE TABLE ... TO TIMESTAMP AS OF resolves to the latest " +
      "commit at or before the UTC instant") {
    val savedClock = GraftClock.nowMicros
    try {
      // commit timestamps pinned to known UTC instants
      def us(s: String): Long =
        java.time.LocalDateTime.parse(s)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      var now = us("2026-03-01T10:00:00")
      GraftClock.nowMicros = () => now
      val t = freshTable("t_sqlrts")
      spark.sql(s"CREATE TABLE $t (id BIGINT)")           // v0 @10:00
      now = us("2026-03-01T11:00:00")
      spark.sql(s"INSERT INTO $t VALUES (1)")             // v1 @11:00
      now = us("2026-03-01T12:00:00")
      spark.sql(s"INSERT INTO $t VALUES (2)")             // v2 @12:00
      now = us("2026-03-01T13:00:00")
      // between-commit instant resolves to the EARLIER version (v1)
      val restored = GraftMaintenance.sql(spark,
        s"RESTORE TABLE $t TO TIMESTAMP AS OF '2026-03-01 11:30:00'")
        .as[Int].head()
      assert(restored === 1)
      assert(spark.table(t).as[Long].collect().toSeq === Seq(1L))
      // an instant before the earliest retained commit fails loudly
      val e = intercept[Exception](GraftMaintenance.sql(spark,
        s"RESTORE TABLE $t TO TIMESTAMP AS OF '2026-03-01 09:00:00'")
        .collect())
      assert(e.getMessage.contains("no commit at or before"))
    } finally GraftClock.nowMicros = savedClock
  }

  test("CREATE TABLE ... SHALLOW|DEEP CLONE via SQL: zero-copy adoption, " +
      "version pinning, deep re-point surviving a source vacuum") {
    val wh = tmpDir("graft-sqlcl")
    spark.conf.set("spark.sql.catalog.sqlcl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqlcl.warehouse", wh)
    val t = "sqlcl.ns.t_cl"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1)
      .writeTo(t).create()                                   // v1
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")             // v2
    // shallow clone of the CURRENT state: both files adopt by reference
    val (shared, deep) = GraftMaintenance.sql(spark,
      s"CREATE TABLE sqlcl.ns.t_cl_s SHALLOW CLONE $t")
      .as[(Int, Int)].head()
    assert((shared, deep) === ((2, 0)))
    assert(spark.sql("SELECT id FROM sqlcl.ns.t_cl_s ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    // version-pinned clone sees only v1's file
    GraftMaintenance.sql(spark,
      s"CREATE TABLE sqlcl.ns.t_cl_v SHALLOW CLONE $t " +
        "VERSION AS OF 1").collect()
    assert(spark.sql("SELECT id FROM sqlcl.ns.t_cl_v ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    // DEEP CLONE owns its bytes (byte-copies the shared segments into
    // its own dir) — vacuuming the SOURCE cannot invalidate it
    val (s2, d2) = GraftMaintenance.sql(spark,
      s"CREATE TABLE sqlcl.ns.t_cl_d DEEP CLONE $t")
      .as[(Int, Int)].head()
    assert(s2 === 2 && d2 === 2,
      s"deep clone must re-point every shared file: ($s2, $d2)")
    assert(spark.sql("SELECT id FROM sqlcl.ns.t_cl_d ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    // a clone into a DIFFERENT warehouse refuses loudly (shared
    // segment references cannot cross reclaim domains)
    spark.conf.set("spark.sql.catalog.clfar", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.clfar.warehouse", tmpDir("graft-clfar"))
    spark.sql("CREATE TABLE clfar.ns.seed (id BIGINT)")
    val e2 = intercept[Exception](GraftMaintenance.sql(spark,
      s"CREATE TABLE clfar.ns.t_x SHALLOW CLONE $t").collect())
    assert(e2.getMessage.contains("cannot clone across catalogs"),
      e2.getMessage)
  }

  test("the parser intercepts exactly the three verbs and delegates the " +
      "rest") {
    val p = new GraftSqlParser(spark.sessionState.sqlParser)
    assert(p.parsePlan("OPTIMIZE graft_cat.ns.x")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("optimize graft_cat.ns.x zorder by (a, b)")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("VACUUM graft_cat.ns.x RETAIN 3 SNAPSHOTS")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("RESTORE TABLE graft_cat.ns.x TO VERSION AS OF 7")
      .isInstanceOf[GraftMaintenanceCommand])
    // everything else delegates to Spark's parser
    assert(!p.parsePlan("SELECT 1").isInstanceOf[GraftMaintenanceCommand])
    assert(!p.parsePlan("SELECT 'OPTIMIZE graft_cat.ns.x'")
      .isInstanceOf[GraftMaintenanceCommand])
    // unqualified names fail loudly at parse
    intercept[Exception](p.parsePlan("OPTIMIZE bare_name"))
    // the gateway passes ordinary SQL through to spark.sql
    assert(GraftMaintenance.sql(spark, "SELECT 41 + 1")
      .as[Int].head() === 42)
  }

  test("t$history operationMetrics: per-commit file/byte deltas equal " +
      "the t$files census diffs across append/UPDATE/OPTIMIZE") {
    val t = freshTable("t_opmetrics")
    def filesCensus(): (Int, Long, Long) = {
      val r = spark.table(s"graft_cat.ns.`t_opmetrics$$files`")
        .selectExpr("count(*)", "coalesce(sum(row_count), 0)",
          "coalesce(sum(size_bytes), 0)")
        .as[(Long, Long, Long)].head()
      (r._1.toInt, r._2, r._3)
    }
    // capture the census after every commit; (0,0,0) is the empty v0
    val censuses = scala.collection.mutable.ArrayBuffer((0, 0L, 0L))
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT, v STRING) " +
      "PARTITIONED BY (part)")
    for (i <- 0 until 3) {
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 2 AS INT), 'x' " +
        s"FROM range(${i * 10}, ${i * 10 + 10})")
      censuses += filesCensus()
    }
    // COW rewrite of the part=0 group only: part=1 keeps its three
    // small append files, so the OPTIMIZE below has real work
    spark.sql(s"UPDATE $t SET v = 'y' WHERE id % 10 = 0")
    censuses += filesCensus()
    GraftMaintenance.sql(spark, s"OPTIMIZE $t").collect()
    censuses += filesCensus()

    val hist = spark.table(s"graft_cat.ns.`t_opmetrics$$history`")
      .orderBy("version")
      .select("version", "operation", "files_added", "files_removed",
        "rows_added", "rows_removed", "bytes_added", "bytes_removed")
      .as[(Int, String, Int, Int, Long, Long, Long, Long)]
      .collect().toSeq
    assert(hist.map(_._1) === censuses.indices.toSeq)
    // physical metrics ARE the t$files diff, commit by commit
    hist.drop(1).foreach { case (v, op, fa, fr, _, _, ba, br) =>
      val (pn, _, pb) = censuses(v - 1)
      val (cn, _, cb) = censuses(v)
      assert(fa - fr === cn - pn, s"v$v $op file delta")
      assert(ba - br === cb - pb, s"v$v $op byte delta")
    }
    // logical row metrics: appends add 10 each; the COW UPDATE writes
    // as many rows as it retires (net zero); OPTIMIZE is zero logical
    val byOp = hist.drop(1)
    assert(byOp.take(3).forall { case (_, op, fa, fr, ra, rr, _, _) =>
      op == "APPEND" && fa > 0 && fr == 0 && ra == 10L && rr == 0L })
    val upd = byOp(3)
    assert(upd._2 === "UPDATE" && upd._5 === upd._6 && upd._5 > 0L,
      s"COW UPDATE rewrites what it removes: $upd")
    val opt = byOp(4)
    assert(opt._2 === "OPTIMIZE" && opt._5 === 0L && opt._6 === 0L &&
      opt._3 > 0 && opt._4 > opt._3,
      s"OPTIMIZE: zero logical rows, physical compaction census: $opt")
    // running physical sums re-derive the final census exactly
    assert(byOp.map(r => r._3 - r._4).sum === censuses.last._1)
    assert(byOp.map(r => r._7 - r._8).sum === censuses.last._3)
  }

  test("SHOW PARTITIONS rewrites onto the t$partitions census for " +
      "graft tables; unqualified names delegate to Spark") {
    val t = freshTable("t_showpart")
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 3 AS INT) " +
      "FROM range(0, 12)")
    val rows = GraftMaintenance.sql(spark, s"SHOW PARTITIONS $t")
      .selectExpr("partition", "row_count")
      .as[(String, Long)].collect().toSeq
    assert(rows === Seq(("0", 4L), ("1", 4L), ("2", 4L)))
    // an unqualified name is not this extension's to claim
    val p = new GraftSqlParser(spark.sessionState.sqlParser)
    assert(!p.parsePlan("SHOW PARTITIONS bare_name")
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort])
  }

  test("t$history parameters: operations record what they were ASKED " +
      "to do, and the record survives a restart fold") {
    val wh = tmpDir("graft-opparams")
    spark.conf.set("spark.sql.catalog.prm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.prm.warehouse", wh.toString)
    val t = "prm.ns.t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 2 AS INT) " +
      "FROM range(0, 10)")
    spark.sql(s"UPDATE $t SET id = id + 100 WHERE id = 3") // COW row-level
    spark.sql(s"DELETE FROM $t WHERE part = 1")            // metadata delete
    GraftMaintenance.sql(spark, s"OPTIMIZE $t TARGET 64 ROWS").collect()
    GraftMaintenance.sql(spark,
      s"RESTORE TABLE $t TO VERSION AS OF 1").collect()
    GraftMaintenance.sql(spark,
      s"OPTIMIZE $t WHERE part = 0 ZORDER BY (id) TARGET 32 ROWS").collect()
    def paramsOf(cat: String): Map[String, String] =
      spark.table(s"$cat.ns.`t$$history`")
        .selectExpr("operation", "parameters")
        .as[(String, String)].collect().toMap
    val p = paramsOf("prm")
    assert(p("UPDATE") === s"mode=${GraftTable.CopyOnWrite}")
    assert(p("DELETE").contains("predicate=") && p("DELETE").contains("part"),
      s"metadata delete records its predicate: ${p("DELETE")}")
    assert(p("OPTIMIZE") === "target_rows=64")
    assert(p("RESTORE") === "version=1")
    assert(p("APPEND") === "", "plain appends carry no parameters")
    assert(p("ZORDER") ===
      "target_rows=32; where=part = 0; zorder_by=id",
      s"zorder records scope + curve columns: ${p("ZORDER")}")
    // the params ride the log entries: a fresh fold serves the same
    spark.conf.set("spark.sql.catalog.prm2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.prm2.warehouse", wh.toString)
    spark.conf.set("spark.sql.catalog.prm2.warehouse.isolated", "true")
    val p2 = paramsOf("prm2")
    assert(p2("OPTIMIZE") === "target_rows=64" &&
      p2("RESTORE") === "version=1" &&
      p2("UPDATE") === s"mode=${GraftTable.CopyOnWrite}",
      s"parameters must survive the restart fold: $p2")
  }

  test("COPY INTO and PUBLISH record their full ask in t$history " +
      "parameters: source/fileformat/pattern/force, and the pinned " +
      "source version") {
    val wh = tmpDir("graft-opparams2")
    spark.conf.set("spark.sql.catalog.prc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.prc.warehouse", wh.toString)
    spark.sql("CREATE TABLE prc.ns.t_prms (n BIGINT)")
    val src = tmpDir("graft-opparams2-src")
    spark.range(3).selectExpr("id AS n").coalesce(1)
      .write.parquet(s"$src/b1")
    def lastParams(t: String): String =
      spark.table(s"prc.ns.`$t$$history`")
        .orderBy(org.apache.spark.sql.functions.col("version").desc)
        .select("parameters").as[String].head()
    GraftMaintenance.sql(spark,
      s"COPY INTO prc.ns.t_prms FROM '$src' PATTERN = '**/*.parquet'")
      .collect()
    assert(lastParams("t_prms") ===
      s"fileformat=PARQUET; n_files=1; pattern=**/*.parquet; source=$src",
      "COPY INTO must pin exactly what it was asked")
    GraftMaintenance.sql(spark,
      s"COPY INTO prc.ns.t_prms FROM '$src' PATTERN = '**/*.parquet' FORCE")
      .collect()
    assert(lastParams("t_prms") ===
      s"fileformat=PARQUET; force=true; n_files=1; " +
        s"pattern=**/*.parquet; source=$src",
      "a FORCE re-load records force=true")
    // WAP publish: stage → audit → version-pinned publish
    GraftMaintenance.sql(spark,
      "CREATE TABLE prc.ns.stg_prms SHALLOW CLONE prc.ns.t_prms").collect()
    spark.sql("INSERT INTO prc.ns.stg_prms VALUES (100)")
    val sv = spark.table("prc.ns.`stg_prms$history`")
      .selectExpr("max(version)").as[Int].head()
    GraftMaintenance.sql(spark,
      "CREATE OR REPLACE TABLE prc.ns.t_prms SHALLOW CLONE " +
        s"prc.ns.stg_prms VERSION AS OF $sv").collect()
    val pp = lastParams("t_prms")
    assert(pp.contains("source=") && pp.contains("stg_prms") &&
      pp.endsWith(s"source_version=$sv"),
      s"a pinned publish records the source version: $pp")
    // an unpinned publish records only the source stage
    spark.sql("INSERT INTO prc.ns.stg_prms VALUES (101)")
    GraftMaintenance.sql(spark,
      "CREATE OR REPLACE TABLE prc.ns.t_prms SHALLOW CLONE " +
        "prc.ns.stg_prms").collect()
    assert(!lastParams("t_prms").contains("source_version"),
      lastParams("t_prms"))
  }

  test("t$history operationMetrics: a MOR DELETE removes rows, not " +
      "files; metadata-only ALTER reports zeros") {
    val t = freshTable("t_opmetrics_mor")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(0, 20)")
    val nFiles = store("t_opmetrics_mor").dataFiles.length
    spark.sql(s"DELETE FROM $t WHERE id < 7")
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra INT")
    val hist = spark.table(s"graft_cat.ns.`t_opmetrics_mor$$history`")
      .orderBy("version")
      .select("operation", "files_added", "files_removed",
        "rows_added", "rows_removed")
      .as[(String, Int, Int, Long, Long)].collect().toSeq
    assert(hist(2) === (("DELETE", 0, 0, 0L, 7L)),
      "a DV delete retires rows inside surviving files")
    assert(store("t_opmetrics_mor").dataFiles.length === nFiles)
    assert(hist(3) === (("ALTER TABLE", 0, 0, 0L, 0L)),
      "metadata-only commits carry an empty metrics census")
  }
}
