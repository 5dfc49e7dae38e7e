package graft.sources

import org.apache.spark.sql.{Row, SparkSession}

/** The maintenance rewrites (OPTIMIZE, ZORDER, REORG PURGE,
  * `auto.compact`, DROP COLUMN and the copy-on-write split of a
  * group-spanning file) run the same kernels on both stores and for
  * every kind of input file; only the sink differs (a durable table's
  * kernel writes segments in Spark tasks, an in-JVM table's hands back
  * rows on the driver). One script therefore leaves the same rows, row
  * identities and file layout on either catalog, position views keep
  * their identities and delete vectors, and a call without a session
  * runs the same kernel in-process. */
class GraftRewriteSpec extends graft.SparkSpec {

  private lazy val durableWh: String = {
    val wh = tmpDir("graft-rewrite")
    spark.conf.set("spark.sql.catalog.rw_dur", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rw_dur.warehouse", wh)
    spark.conf.set("spark.sql.catalog.rw_heap", classOf[GraftCatalog].getName)
    wh
  }

  private def table(cat: String, name: String): GraftTable =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), name))

  private def sql(text: String): Unit =
    GraftMaintenance.sql(spark, text).collect()

  private def quiesce(): Unit =
    assert(GraftAutoCompact.quiesce(), "auto-compact queue must drain")

  private def dataSegments(wh: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
    try s.iterator().asScala.filter { p =>
      p.getParent.getFileName.toString == "data" &&
        p.getFileName.toString.endsWith(".parquet")
    }.toVector
    finally s.close()
  }

  private def identityRows(t: String): Seq[Row] =
    spark.sql(s"SELECT *, _row_id, _row_commit_version FROM $t ORDER BY id")
      .collect().toSeq

  /** Every file holds one group of the live spec: its key is set and
    * every row's partition value equals it. */
  private def assertGroupKeyed(cat: String, name: String,
      partCol: String): Unit = {
    val files = table(cat, name).dataFiles
    assert(files.forall(_.groupKey.isDefined),
      s"ungrouped files remain: ${files.map(_.groupKey)}")
    spark.sql(s"SELECT _file_id, $partCol FROM $cat.ns.$name").collect()
      .foreach { r =>
        assert(files(r.getInt(0)).groupKey.get.map(String.valueOf) ===
          Seq(String.valueOf(r.get(1))),
          s"file ${r.getInt(0)} holds a row of group ${r.get(1)}")
      }
  }

  test("ZORDER over degrouped legacy files on a durable table regroups " +
      "them in tasks: no driver read of a legacy segment") {
    val wh = durableWh
    val t = "rw_dur.ns.zlegacy"
    spark.sql(s"CREATE TABLE $t (id BIGINT, region STRING, day STRING, " +
      "v BIGINT) PARTITIONED BY (region) " +
      "TBLPROPERTIES ('row.tracking'='true')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'east', 'd1', 40), " +
      "(2, 'east', 'd2', 30), (3, 'west', 'd1', 20), (4, 'west', 'd2', 10)")
    spark.sql(s"INSERT INTO $t VALUES (5, 'east', 'd1', 5)")
    sql(s"ALTER TABLE $t SET PARTITIONED BY (day)")
    val tbl = table("rw_dur", "zlegacy")
    assert(tbl.dataFiles.nonEmpty && tbl.dataFiles.forall(_.groupKey.isEmpty),
      "setup must leave only degrouped legacy files")
    val legacy = tbl.dataFiles.map(_.segment.path)
    val legacyReads = legacy.map(GraftSegmentIO.driverReadsOf)
    val before = identityRows(t)
    val segsBefore = dataSegments(wh).toSet

    sql(s"OPTIMIZE $t ZORDER BY (v)")

    assertGroupKeyed("rw_dur", "zlegacy", "day")
    assert(identityRows(t) === before, "rows or row identities moved")
    val outputs = tbl.dataFiles.map(_.segment.path)
    assert(outputs.forall(p => !segsBefore.contains(p)))
    outputs.foreach { p =>
      assert(p.getFileName.toString.startsWith("opt-"),
        s"$p is not a task-side compaction output")
      assert(GraftSegmentIO.taskWritesOf(p) === 1L, s"$p task writes")
      assert(GraftSegmentIO.driverWritesOf(p) === 0L,
        s"$p was encoded on the driver")
    }
    assert(legacy.map(GraftSegmentIO.driverReadsOf) === legacyReads,
      "a legacy segment was read on the driver")
  }

  /** Row-tracked maintenance on two tables: `m` (merge-on-read,
    * `auto.compact`) takes a triggered compaction, a DELETE then REORG
    * PURGE, OPTIMIZE and ZORDER; `c` (copy-on-write) is re-partitioned,
    * takes an UPDATE that splits its degrouped files, a ZORDER over the
    * rest and a DROP COLUMN. */
  private def script(cat: String): Unit = {
    val m = s"$cat.ns.twin_m"
    val c = s"$cat.ns.twin_c"
    spark.sql(s"DROP TABLE IF EXISTS $m")
    spark.sql(s"DROP TABLE IF EXISTS $c")
    spark.sql(s"CREATE TABLE $m (id BIGINT, p INT, v STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('row.tracking'='true', " +
      "'write.rowlevel.mode'='merge-on-read', 'auto.compact'='3')")
    spark.sql(s"INSERT INTO $m VALUES (1, 1, 'a'), (2, 2, 'b')")
    spark.sql(s"INSERT INTO $m VALUES (3, 1, 'c'), (4, 2, 'd')")
    spark.sql(s"INSERT INTO $m VALUES (5, 1, 'e')")
    quiesce()
    spark.sql(s"INSERT INTO $m VALUES (6, 2, 'f'), (7, 3, 'g')")
    quiesce()
    spark.sql(s"DELETE FROM $m WHERE id IN (2, 7)")
    sql(s"REORG TABLE $m APPLY (PURGE)")
    spark.sql(s"INSERT INTO $m VALUES (8, 1, 'h')")
    quiesce()
    sql(s"OPTIMIZE $m")
    sql(s"OPTIMIZE $m ZORDER BY (v, id)")

    spark.sql(s"CREATE TABLE $c (id BIGINT, region STRING, day STRING, " +
      "junk STRING, v BIGINT) PARTITIONED BY (region) " +
      "TBLPROPERTIES ('row.tracking'='true')")
    spark.sql(s"INSERT INTO $c VALUES (1, 'east', 'd1', 'x', 10), " +
      "(2, 'east', 'd2', 'x', 20), (3, 'west', 'd1', 'x', 30), " +
      "(4, 'west', 'd2', 'x', 40), (5, 'west', 'd3', 'x', 50)")
    sql(s"ALTER TABLE $c SET PARTITIONED BY (day)")
    spark.sql(s"UPDATE $c SET v = v + 1 WHERE day = 'd1'")
    spark.sql(s"INSERT INTO $c VALUES (6, 'north', 'd2', 'x', 60)")
    sql(s"OPTIMIZE $c ZORDER BY (v)")
    spark.sql(s"ALTER TABLE $c DROP COLUMN junk")
  }

  private def census(cat: String, name: String): Seq[Row] =
    spark.sql(s"SELECT file_id, row_count FROM $cat.ns.`$name$$files` " +
      "ORDER BY file_id").collect().toSeq

  test("driver and task rewrites agree: rows, row identities, file " +
      "census and per-file group keys") {
    durableWh
    script("rw_heap")
    script("rw_dur")
    Seq("twin_m" -> "p", "twin_c" -> "day").foreach { case (name, part) =>
      val heap = s"rw_heap.ns.$name"
      val dur = s"rw_dur.ns.$name"
      assert(identityRows(heap) === identityRows(dur), s"$name rows")
      assert(census("rw_heap", name) === census("rw_dur", name),
        s"$name t$$files")
      assert(table("rw_heap", name).dataFiles.map(_.groupKey) ===
        table("rw_dur", name).dataFiles.map(_.groupKey),
        s"$name group keys")
      assertGroupKeyed("rw_dur", name, part)
    }
    assert(identityRows("rw_dur.ns.twin_m").map(_.getLong(0)) ===
      Seq(1L, 3L, 4L, 5L, 6L, 8L))
    assert(identityRows("rw_dur.ns.twin_c").map(r =>
      (r.getLong(0), r.getLong(3))) ===
      Seq(1L -> 11L, 2L -> 20L, 3L -> 31L, 4L -> 40L, 5L -> 50L, 6L -> 60L))
    // the script ran every rewrite it names, on both catalogs
    Seq("rw_heap", "rw_dur").foreach { cat =>
      val ops = spark.sql("SELECT operation, parameters FROM " +
        s"$cat.ns.`twin_m$$history`").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(ops.exists(o => o._1 == "OPTIMIZE" &&
        o._2.contains("trigger=auto")), s"$cat: no auto pass in $ops")
      assert(Seq("REORG", "ZORDER").forall(op => ops.exists(_._1 == op)),
        s"$cat: $ops")
    }
    // the durable maintenance outputs, the split's included, were all
    // written in tasks
    val outs = dataSegments(durableWh).filter(p => Seq("opt-", "spl-")
      .exists(p.getFileName.toString.startsWith))
    assert(outs.exists(_.getFileName.toString.startsWith("spl-")),
      "the UPDATE did not split a spanning file in a task")
    outs.foreach(p => assert(GraftSegmentIO.driverWritesOf(p) === 0L,
      s"$p was encoded on the driver"))
  }

  /** `dst` on catalog `cat`, whose one file is a position view: the
    * rows (2, 3) that a RESTORE of durable table `src` revived, held by
    * its change record as a view over the insert's segment, adopted by
    * reference; then a DELETE of row 3 puts a delete vector on the view.
    * Returns the table and the view. */
  private def viewTable(cat: String, src: String, dst: String)
      : (GraftTable, GraftDataFile) = {
    val props = "TBLPROPERTIES ('row.tracking'='true', " +
      "'write.rowlevel.mode'='merge-on-read')"
    Seq(s"rw_dur.ns.$src", s"$cat.ns.$dst").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (id BIGINT, junk STRING, v STRING) $props")
    }
    spark.sql("SELECT id, 'x' AS junk, CAST(id AS STRING) AS v " +
      "FROM range(1, 5)").repartition(1).writeTo(s"rw_dur.ns.$src")
      .append() // one file
    val srcT = table("rw_dur", src)
    val inserted = srcT.commitHistory.map(_._1).max
    spark.sql(s"DELETE FROM rw_dur.ns.$src WHERE id IN (2, 3)")
    GraftMaintenance.restore(Seq("ns"), src, inserted)
    val view = srcT.entriesUpTo(srcT.commitHistory.map(_._1).max).last
      .added.find(_.viewSel.isDefined).get
    val dstT = table(cat, dst)
    dstT.adoptFiles(Vector(view), Map.empty)
    spark.sql(s"DELETE FROM $cat.ns.$dst WHERE id = 3")
    assert(dstT.dvCensus.nonEmpty)
    (dstT, view)
  }

  private def viewRows(t: String): Seq[Row] = spark.sql("SELECT id, v, " +
    s"_row_id, _row_commit_version FROM $t ORDER BY id").collect().toSeq

  test("OPTIMIZE on an in-JVM table whose file is a position view keeps " +
      "the view's rows, row identities and delete vector") {
    durableWh
    val (dstT, _) = viewTable("rw_heap", "hview_src", "hview_dst")
    val before = viewRows("rw_heap.ns.hview_dst")
    assert(before.map(_.getLong(0)) === Seq(2L))
    assert(before ===
      viewRows("rw_dur.ns.hview_src").filter(_.getLong(0) == 2L))
    sql("OPTIMIZE rw_heap.ns.hview_dst")
    assert(dstT.dataFiles.forall(_.viewSel.isEmpty) && dstT.dvCensus.isEmpty)
    assert(viewRows("rw_heap.ns.hview_dst") === before,
      "OPTIMIZE moved rows or identities")
  }

  test("DROP COLUMN and OPTIMIZE over a position view keep its rows, " +
      "row identities and delete vector, reading no segment on the " +
      "driver") {
    durableWh
    val dst = "rw_dur.ns.view_dst"
    val (dstT, view) = viewTable("rw_dur", "view_src", "view_dst")
    val base = view.segment.path
    val before = viewRows(dst)
    assert(before.map(_.getLong(0)) === Seq(2L))
    val (sel, dv) = (view.viewSel, dstT.dvCensus)
    val baseReads = GraftSegmentIO.driverReadsOf(base)

    spark.sql(s"ALTER TABLE $dst DROP COLUMN junk")
    // re-keyed as the same view over the rebuilt base segment
    assert(dstT.dataFiles.map(_.viewSel) === Vector(sel))
    assert(dstT.dataFiles.head.segment.path.getFileName.toString
      .startsWith("opt-"))
    assert(dstT.dvCensus === dv)
    assert(viewRows(dst) === before, "DROP COLUMN moved rows or identities")
    sql(s"OPTIMIZE $dst")
    assert(dstT.dataFiles.forall(_.viewSel.isEmpty) && dstT.dvCensus.isEmpty)
    assert(viewRows(dst) === before, "OPTIMIZE moved rows or identities")
    assert(GraftSegmentIO.driverReadsOf(base) === baseReads,
      "the view's base segment was read on the driver")
  }

  test("optimizeCompact without an active session runs the same kernel " +
      "in-process: same rows and ids, opt-* segments") {
    durableWh
    def load(name: String): GraftTable = {
      val t = s"rw_dur.ns.$name"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (id BIGINT, p INT, v STRING) " +
        "PARTITIONED BY (p) TBLPROPERTIES ('row.tracking'='true')")
      Seq("(1, 1, 'a'), (2, 2, 'b')", "(3, 1, 'c')", "(4, 2, 'd')")
        .foreach(rows => spark.sql(s"INSERT INTO $t VALUES $rows"))
      table("rw_dur", name)
    }
    val withSession = load("nosess_a")
    val without = load("nosess_b")
    SparkSession.setActiveSession(spark)
    withSession.optimizeCompact(1000)
    var failure: Option[Throwable] = None
    val th = new Thread(() => {
      SparkSession.clearActiveSession()
      try without.optimizeCompact(1000)
      catch { case e: Throwable => failure = Some(e) }
    })
    th.start()
    th.join()
    failure.foreach(throw _)
    assert(identityRows("rw_dur.ns.nosess_b") ===
      identityRows("rw_dur.ns.nosess_a"))
    Seq(withSession, without).foreach { t =>
      assert(t.dataFiles.length === 2)
      t.dataFiles.foreach(f => assert(
        f.segment.path.getFileName.toString.startsWith("opt-"),
        s"${f.segment.path} is not a compaction output"))
    }
  }
}
