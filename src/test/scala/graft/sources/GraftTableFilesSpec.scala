package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The file-store half of [[GraftTable]] — commit-time zone maps +
  * data skipping through the real DSv2 read path, reported statistics
  * (auto-broadcast without hints), TIMESTAMP AS OF resolution, bounded
  * history retention, and OPTIMIZE bin-packing. These are the r7-verdict
  * round-8 tasks: the mechanisms s31/s32 proved as relational censuses,
  * now wired into the engine's actual read/write path. */
class GraftTableFilesSpec extends SparkSpec {
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

  /** Four appends, each repartition(1) → exactly one data file each,
    * with disjoint id ranges [1,10], [11,20], [21,30], [31,40]. */
  private def fourFileTable(name: String): (String, GraftTable) = {
    val t = freshTable(name)
    Seq.tabulate(10)(i => (i + 1L, s"v${i + 1}")).toDF("id", "v")
      .repartition(1).writeTo(t).create()
    for (base <- Seq(10, 20, 30))
      Seq.tabulate(10)(i => (base + i + 1L, s"v${base + i + 1}"))
        .toDF("id", "v").repartition(1).writeTo(t).append()
    (t, store(name))
  }

  test("zone maps skip files the predicate excludes — results exact") {
    val (t, table) = fourFileTable("t_zskip")
    assert(table.dataFiles.length === 4)

    // range predicate inside one file's envelope
    val got = spark.table(t).filter($"id" >= 12 && $"id" <= 18)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got === (12L to 18L).map(i => (i, s"v$i")))
    val c1 = table.lastScanCensus.get
    assert(c1.filesTotal === 4 && c1.filesRead === 1,
      s"expected 1/4 files read, got $c1")
    assert(c1.rowsTotal === 40 && c1.rowsRead === 10)

    // point predicate
    assert(spark.table(t).filter($"id" === 35).count() === 1)
    assert(table.lastScanCensus.get.filesRead === 1)

    // nothing matches: zero files read, empty exact result
    assert(spark.table(t).filter($"id" > 1000).count() === 0)
    assert(table.lastScanCensus.get.filesRead === 0)

    // OR of two disjoint ranges: exactly the two covering files
    assert(spark.table(t).filter($"id" < 5 || $"id" > 35).count() === 9)
    assert(table.lastScanCensus.get.filesRead === 2)

    // IN list spanning two files
    assert(spark.table(t).filter($"id".isin(7L, 23L)).count() === 2)
    assert(table.lastScanCensus.get.filesRead === 2)

    // IsNull on a never-null column: all files skip
    assert(spark.table(t).filter($"v".isNull).count() === 0)
    assert(table.lastScanCensus.get.filesRead === 0)

    // string range: every v in file 1 starts with "v" then digit — a
    // prefix past the whole range skips everything
    assert(spark.table(t).filter($"v".startsWith("w")).count() === 0)
    assert(table.lastScanCensus.get.filesRead === 0)
    assert(spark.table(t).filter($"v".startsWith("v1")).count() > 0)

    // unfiltered count(*) is now METADATA-ONLY (aggregate pushdown):
    // exact answer, zero data rows read
    assert(spark.table(t).count() === 40)
    val cAll = table.lastScanCensus.get
    assert(cAll.filesRead === 0 && cAll.rowsRead === 0)
    // a plain unfiltered row read still scans everything
    assert(spark.table(t).collect().length === 40)
    val cRows = table.lastScanCensus.get
    assert(cRows.filesRead === 4 && cRows.rowsRead === 40)
  }

  test("skipping never loses rows: filtered read ≡ post-scan filter") {
    val (t, table) = fourFileTable("t_zsafe")
    // boundary-heavy predicates, including ones straddling file edges
    val preds = Seq($"id" >= 10 && $"id" <= 11, $"id" === 20,
      $"id" =!= 25, $"id" <= 1, $"id" >= 40, $"v" >= "v2" && $"v" < "v30")
    for (p <- preds) {
      val viaScan = spark.table(t).filter(p).as[(Long, String)]
        .collect().toSet
      // ground truth: evaluate the same predicate with skipping blinded
      // (predicate applied AFTER a full materialization)
      val full = spark.table(t).as[(Long, String)].collect().toSet
      val truth = spark.createDataset(full.toSeq).toDF("id", "v")
        .filter(p).as[(Long, String)].collect().toSet
      assert(viaScan === truth, s"predicate $p lost or invented rows")
    }
    // nulls: a file with NULL ids must survive IsNull and not break ranges
    spark.sql(s"INSERT INTO $t VALUES (NULL, 'nullrow')")
    assert(spark.table(t).filter($"id".isNull).count() === 1)
    assert(table.lastScanCensus.get.filesRead === 1)
    assert(spark.table(t).filter($"id" <= 5).count() === 5)
    assert(spark.table(t).filter($"id".isNotNull).count() === 40)
  }

  test("pushed filters reach the scan and show in the plan") {
    val (t, _) = fourFileTable("t_zplan")
    val df = spark.table(t).filter($"id" > 30)
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("PushedFilters") ||
      explained.contains("GraftScan"),
      s"expected pushdown evidence in plan:\n$explained")
    assert(df.count() === 10)
  }

  // ---- SupportsReportStatistics → hint-free auto-broadcast -----------

  private def executedFinal(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(walk)
  }

  test("catalog tables report statistics; dim-sized tables auto-broadcast") {
    val t = freshTable("t_stats_dim")
    Seq.tabulate(50)(i => (i.toLong, s"name$i")).toDF("k", "nm")
      .writeTo(t).create()
    // the optimized plan must carry a REAL size (not the
    // defaultSizeInBytes = Long.Max sentinel of a stats-less V2 relation)
    val sz = spark.table(t).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz > 0 && sz < 10L * 1024 * 1024,
      s"dim table reported sizeInBytes=$sz — stats not wired")

    // star-shaped join with NO broadcast hint: Catalyst must pick
    // BroadcastHashJoin purely from the reported size
    val fact = spark.range(0, 20000)
      .select(pmod($"id", lit(50)).as("k"), $"id".as("payload"))
    val joined = fact.join(spark.table(t), "k")
    joined.count() // materialize so AQE finalizes
    val bhj = walk(executedFinal(joined))
      .collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"expected hint-free auto-broadcast, got:\n${executedFinal(joined)}")
  }

  test("a table reported above the threshold does not auto-broadcast") {
    val t = freshTable("t_stats_big")
    Seq.tabulate(2000)(i => (i.toLong, "x" * 100)).toDF("k", "nm")
      .writeTo(t).create()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the threshold below the reported size: the planner must
      // now SMJ — proving the decision tracks the reported statistics
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
      val sz = spark.table(t).queryExecution.optimizedPlan.stats.sizeInBytes
      assert(sz > 10240, s"test setup: table too small ($sz bytes)")
      val fact = spark.range(0, 20000)
        .select(pmod($"id", lit(2000)).as("k"), $"id".as("payload"))
      val joined = fact.join(spark.table(t), "k")
      joined.count()
      val plans = walk(executedFinal(joined))
      assert(plans.exists(_.isInstanceOf[SortMergeJoinExec]) &&
        !plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"expected SMJ above threshold, got:\n${executedFinal(joined)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("column pruning scales the reported size down") {
    val t = freshTable("t_stats_prune")
    Seq.tabulate(500)(i => (i.toLong, "x" * 200, "y" * 200))
      .toDF("k", "a", "b").writeTo(t).create()
    val full = spark.table(t).queryExecution.optimizedPlan.stats.sizeInBytes
    val pruned = spark.table(t).select("k")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(pruned < full,
      s"pruned projection must report less than full scan ($pruned vs $full)")
  }

  // ---- TIMESTAMP AS OF ------------------------------------------------

  test("TIMESTAMP AS OF resolves to the latest commit at or before") {
    val saved = GraftClock.nowMicros
    try {
      var now = 1_000_000_000L * 1_000_000L // deterministic test clock
      GraftClock.nowMicros = () => now
      val t = freshTable("t_ts")
      Seq((1L, "a")).toDF("id", "v").writeTo(t).create() // v1
      now += 60L * 1_000_000L
      spark.sql(s"INSERT INTO $t VALUES (2, 'b')")       // v2
      now += 60L * 1_000_000L
      spark.sql(s"UPDATE $t SET v = 'A' WHERE id = 1")   // v3
      val hist = store("t_ts").commitHistory
      assert(hist.map(_._1) === Seq(0, 1, 2, 3))
      val Seq(ts0, ts1, ts2, ts3) = hist.map(_._2)
      // strictly increasing even when the clock stands still
      assert(ts0 < ts1 && ts1 < ts2 && ts2 < ts3)

      def at(micros: Long) = {
        // the SQL literal is interpreted in the session TZ (UTC here)
        val secs = micros / 1_000_000L
        val frac = micros % 1_000_000L
        val inst = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochSecond(secs))
        val lit = if (frac == 0) inst else f"$inst.$frac%06d"
        spark.sql(s"SELECT * FROM $t TIMESTAMP AS OF '$lit'")
      }
      // exactly at a commit → that commit
      assert(at(ts1).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
      // between commits → the EARLIER version
      assert(at(ts2 + 30L * 1_000_000L).orderBy("id")
        .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
      // after the last commit → current state
      assert(at(ts3 + 3600L * 1_000_000L).orderBy("id")
        .as[(Long, String)].collect().toSeq === Seq((1L, "A"), (2L, "b")))
      // before the first commit → loud failure
      intercept[Exception](at(ts0 - 1_000_000L).collect())
      // version and timestamp routes agree
      assert(at(ts2).orderBy("id").collect().toSeq ===
        spark.sql(s"SELECT * FROM $t VERSION AS OF 2").orderBy("id")
          .collect().toSeq)
    } finally GraftClock.nowMicros = saved
  }

  test("history retention bounds snapshots; retired versions fail loudly") {
    val savedRetention = GraftTable.historyRetention
    try {
      GraftTable.historyRetention = 4
      val t = freshTable("t_retain")
      Seq((1L, "a")).toDF("id", "v").writeTo(t).create()
      for (i <- 2 to 10) spark.sql(s"INSERT INTO $t VALUES ($i, 'x')")
      val table = store("t_retain")
      assert(table.commitHistory.length === 4, "retention must bound history")
      assert(table.commitHistory.map(_._1) === Seq(7, 8, 9, 10))
      // latest versions still serve
      assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 10").count() === 10)
      assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 7").count() === 7)
      // retired version: loud, specific failure
      val e = intercept[Exception](
        spark.sql(s"SELECT * FROM $t VERSION AS OF 2").collect())
      assert(e.getMessage.contains("retired"), e.getMessage)
      // never-existed version keeps the out-of-range message
      intercept[Exception](
        spark.sql(s"SELECT * FROM $t VERSION AS OF 99").collect())
    } finally GraftTable.historyRetention = savedRetention
  }

  test("s33 registry query: the real scan skips files under the box predicate") {
    // the s31 census numbers, now served by the actual DSv2 read path —
    // run the registered query end-to-end and read the table's own
    // skip census for the final (selective) scan
    val fn = graft.SparkEntry.queries("s33_zonemap_scan")
    val out = fn(spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 1 && out.head.getLong(0) > 0,
      "box query must match rows")
    val census = store("s33_pts").lastScanCensus.get
    assert(census.filesRead < census.filesTotal,
      s"z-ordered scan must skip files: $census")
    // sf0.001's supplier key range is only ~10 wide, so the y bins are
    // coarse and the skipped fraction is data-limited — assert a real
    // (not marginal) skip, not the sf0.01+ asymptote
    assert(census.rowsRead.toDouble < census.rowsTotal * 0.75,
      s"a [4,5]² box over 16×16 bins must skip a real row fraction: $census")
    assert(census.pushed.nonEmpty, "box predicate must reach the scan")
  }

  test("s35 registry query: OPTIMIZE leaves one packed file") {
    val fn = graft.SparkEntry.queries("s35_optimize_compact")
    val out = fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 2)
    assert(out(0)._1 === "post" && out(1)._1 === "pre")
    assert(out(0)._2 === out(1)._2 && out(0)._3 === out(1)._3,
      s"pre/post compaction states must agree: ${out.toSeq}")
    assert(store("s35_target").dataFiles.length === 1,
      "eight small appends must pack into one file")
  }

  test("runtime join filters (DPP) skip files the key set excludes") {
    // the dynamic half of data skipping: the fact is the big side of a
    // broadcast join; Spark's runtime filter hands the realized key set
    // to the scan, which drops whole files by zone map BEFORE reading.
    // The fact must be genuinely bigger than the dim (the scan's honest
    // statistics otherwise make the FACT the broadcast side and there is
    // no dim broadcast to reuse), and the dim's selectivity must live in
    // its DATA behind a non-join-column filter on a real source —
    // constraint propagation would turn an expression-derived filter
    // into static pushdown, and ConvertToLocalRelation folds a filtered
    // literal relation into bare rows with no selective predicate left.
    val t = freshTable("t_dpp")
    Seq.tabulate(2500)(i => (i + 1L, "payload" * 8 + i)).toDF("id", "v")
      .repartition(1).writeTo(t).create()
    for (base <- Seq(2500, 5000, 7500))
      Seq.tabulate(2500)(i => (base + i + 1L, "payload" * 8 + i))
        .toDF("id", "v").repartition(1).writeTo(t).append()
    val table = store("t_dpp")
    assert(table.dataFiles.length === 4)
    val dimDir = tmpDir("dpp-dim") + "/dim"
    Seq((8501L, "keep"), (8502L, "keep"), (7L, "drop"), (4999L, "drop"))
      .toDF("k", "tag").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"tag" === "keep")
    val joined = spark.table(t).join(dim, $"id" === $"k")
    val got = joined.select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(8501L, 8502L))
    val census = table.lastScanCensus.get
    assert(census.pushed.exists(_.startsWith("runtime:")),
      s"expected a runtime filter to reach the scan: $census")
    assert(census.filesRead === 1 && census.filesTotal === 4,
      s"runtime key set must prune to the last file alone: $census")
    assert(census.rowsRead === 2500 && census.rowsTotal === 10000)
  }

  test("partitioned writes request clustering: one file per partition group") {
    // RequiresDistributionAndOrdering: a partitioned insert arriving in
    // many tasks must NOT scatter each group across task files — Spark
    // shuffles by partition key first, so file count tracks GROUPS
    val t = freshTable("t_wdist")
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT) PARTITIONED BY (part)")
    // 300 rows over 3 groups, deliberately spread across 8 input tasks
    spark.range(0, 300).select($"id", ($"id" % 3).cast("int").as("part"))
      .repartition(8).writeTo(t).append()
    val table = store("t_wdist")
    assert(spark.table(t).count() === 300)
    assert(table.dataFiles.length === 3,
      s"expected one file per group, got ${table.dataFiles.map(f =>
        (f.groupKey, f.rowCount)).mkString(", ")}")
    assert(table.dataFiles.forall(_.rowCount === 100))
    // unpartitioned tables keep the caller's layout (no forced shuffle)
    val t2 = freshTable("t_wdist_none")
    spark.range(0, 40).select($"id", lit("x").as("v"))
      .repartition(4).writeTo(t2).create()
    assert(store("t_wdist_none").dataFiles.length === 4,
      "unpartitioned write must not re-shuffle the caller's layout")
  }

  test("metadata columns _file_id/_row_pos address rows; census joins " +
      "against t$files; absent unless referenced") {
    val (t, table) = fourFileTable("t_metacols")
    // per-file row counts through the metadata column equal the t$files
    // census (same ordinal space)
    val byFile = spark.sql(
      s"SELECT _file_id, count(*) AS n, count(DISTINCT _row_pos) AS np " +
        s"FROM $t GROUP BY _file_id ORDER BY _file_id")
      .as[(Int, Long, Long)].collect().toSeq
    assert(byFile === Seq((0, 10L, 10L), (1, 10L, 10L), (2, 10L, 10L),
      (3, 10L, 10L)))
    val fromMeta = spark.table(s"graft_cat.ns.`t_metacols$$files`")
      .orderBy("file_id").select("file_id", "row_count")
      .as[(Int, Int)].collect().toSeq
    assert(fromMeta === byFile.map(r => (r._1, r._2.toInt)))

    // the (file, pos) address is stable and usable with data columns
    val addressed = spark.sql(
      s"SELECT id, _file_id, _row_pos FROM $t WHERE id IN (1, 40)")
      .as[(Long, Int, Int)].collect().toSeq.sortBy(_._1)
    assert(addressed.map(_._2) === Seq(0, 3),
      s"ids 1 and 40 live in the first and last file: $addressed")

    // zone skipping composes: the box predicate reads only file 1, and
    // the metadata column says so
    val hit = spark.sql(
      s"SELECT DISTINCT _file_id FROM $t WHERE id BETWEEN 12 AND 18")
      .as[Int].collect().toSeq
    assert(hit === Seq(1))
    assert(table.lastScanCensus.get.filesRead === 1)

    // not referenced → not served (SELECT * stays the declared schema)
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("metadata columns on time travel: snapshot reads serve the same " +
      "stable addresses as the live table; absent unless referenced") {
    val (t, _) = fourFileTable("t_metatt")
    // v2 = first two files; every row it serves keeps the address the
    // live read assigns (appends only extend the file vector)
    val atV2 = spark.sql(
      s"SELECT id, _file_id, _row_pos FROM $t VERSION AS OF 2")
      .as[(Long, Int, Int)].collect().iterator.map(r => r._1 -> ((r._2, r._3))).toMap
    val live = spark.sql(s"SELECT id, _file_id, _row_pos FROM $t")
      .as[(Long, Int, Int)].collect().iterator.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(atV2.keySet === (1L to 20L).toSet)
    atV2.foreach { case (id, addr) =>
      assert(live(id) === addr, s"id $id moved between v2 and live")
    }
    // snapshot relations stay the declared schema unless referenced
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
      .schema.fieldNames.toSeq === Seq("id", "v"))
    // heap-resident files have no physical segment behind them
    assert(spark.sql(s"SELECT _file_ref FROM $t").filter("_file_ref " +
      "IS NOT NULL").count() === 0)
  }

  test("metadata columns on the durable lakehouse: lazy time travel and " +
      "the t$changes feed (derived files) serve addresses executor-side") {
    val wh = tmpDir("graft-metacdc")
    spark.conf.set("spark.sql.catalog.mcdc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mcdc.warehouse", wh.toString)
    val t = "mcdc.ns.t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.range(0, 10).selectExpr("id", "CAST(id AS STRING) AS v")
      .repartition(1).writeTo(t).create()
    spark.range(10, 20).selectExpr("id", "CAST(id AS STRING) AS v")
      .repartition(1).writeTo(t).append()
    spark.sql(s"UPDATE $t SET v = 'u' WHERE id = 3")

    // durable VERSION AS OF plans LAZY segment partitions; the meta
    // projection must agree with the live read on untouched rows
    val atV2 = spark.sql(
      s"SELECT id, _file_id, _row_pos FROM $t VERSION AS OF 2")
      .as[(Long, Int, Int)].collect().iterator.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(atV2.keySet === (0L until 20L).toSet)
    assert(atV2.values.map(_._1).toSet.size === 2, "two files at v2")
    // within each file, positions enumerate the stored order
    assert(atV2.filter(_._1 < 10).values.map(_._2).toSeq.sorted ===
      (0 until 10).toSeq)

    // the CDC feed (DERIVED pseudo-files on a durable table) serves
    // meta addresses too: positions are scan-relative per change file
    val ch = spark.sql(
      s"SELECT _change_type, _file_id, _row_pos FROM mcdc.ns.`t$$changes`")
      .as[(String, Int, Int)].collect().toSeq
    val plain = spark.sql(
      s"SELECT _change_type FROM mcdc.ns.`t$$changes`").count()
    assert(ch.length.toLong === plain, "meta read preserves the row set")
    // per derived file the positions are distinct and dense from 0
    ch.groupBy(_._2).foreach { case (fid, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps === ps.indices.toSeq, s"file $fid positions: $ps")
    }
    // the UPDATE's preimage delete and postimage insert both address
    assert(ch.count(_._1 == "delete") === 1)
    assert(ch.count(_._1 == "insert") === 21) // 10 + 10 + postimage
    // unreferenced → the feed keeps its declared change schema
    assert(spark.table(s"mcdc.ns.`t$$changes`").schema.fieldNames.toSeq
      .take(3) === Seq("_change_type", "_commit_version",
        "_commit_timestamp"))

    // _file_ref: durable rows name their PHYSICAL segment — one
    // distinct path per file, joinable for a which-file-is-this audit;
    // the feed's synthesized rows carry NULL
    val refs = spark.sql(
      s"SELECT _file_id, _file_ref FROM $t")
      .as[(Int, String)].collect().toSeq
    assert(refs.forall(_._2 != null), "durable rows must name a segment")
    assert(refs.map(_._2).distinct.length ===
      refs.map(_._1).distinct.length, "one path per file ordinal")
    assert(refs.forall(_._2.endsWith(".parquet")), refs.take(2).toString)
    assert(spark.sql(
      s"SELECT _file_ref FROM mcdc.ns.`t$$changes` " +
        "WHERE _file_ref IS NOT NULL").count() === 0,
      "synthesized CDC rows have no durable file behind them")
  }

  test("t$files composes with time travel: the versioned census is the " +
      "commit's own file vector, numbered like its _file_id column") {
    val (t, _) = fourFileTable("t_verfiles")
    // the v2 census: exactly the first two files, live numbering
    val atV2 = spark.sql(
      s"SELECT file_id, row_count FROM graft_cat.ns.`t_verfiles$$files` " +
        "VERSION AS OF 2 ORDER BY file_id")
      .as[(Int, Int)].collect().toSeq
    assert(atV2 === Seq((0, 10), (1, 10)))
    // agreement with the snapshot's own _file_id numbering: per-file
    // row counts through the metadata column equal the versioned census
    val byMeta = spark.sql(
      s"SELECT _file_id, count(*) FROM $t VERSION AS OF 2 " +
        "GROUP BY _file_id ORDER BY _file_id")
      .as[(Int, Long)].collect().toSeq
    assert(byMeta.map(r => (r._1, r._2.toInt)) === atV2)
    // the live census has moved on; the versioned one is pinned
    assert(spark.table(s"graft_cat.ns.`t_verfiles$$files`").count() === 4)
    // log-shaped relations refuse time travel with the filter remedy
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_cat.ns.`t_verfiles$$history` VERSION AS OF 2")
      .collect())
    assert(e.getMessage.contains("filter it"), e.getMessage)
    // a retired / out-of-range version fails loudly
    intercept[Exception](spark.sql(
      s"SELECT * FROM graft_cat.ns.`t_verfiles$$files` VERSION AS OF 99")
      .collect())
  }

  test("t$partitions serves the per-group census: DVs subtract from " +
      "live_rows, and the relation composes with time travel") {
    val t = freshTable("t_partmeta")
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT) PARTITIONED BY (part) " +
      "TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 2 AS INT) " +
      "FROM range(0, 20)")
    spark.sql(s"DELETE FROM $t WHERE id < 4") // MOR: DVs, files survive
    val census = spark.sql(
      s"SELECT partition, row_count, live_rows " +
        s"FROM graft_cat.ns.`t_partmeta$$partitions` ORDER BY partition")
      .as[(String, Long, Long)].collect().toSeq
    assert(census === Seq(("0", 10L, 8L), ("1", 10L, 8L)))
    // versioned: the pre-delete census has no dead rows
    val atV1 = spark.sql(
      s"SELECT partition, row_count, live_rows " +
        s"FROM graft_cat.ns.`t_partmeta$$partitions` VERSION AS OF 1 " +
        "ORDER BY partition")
      .as[(String, Long, Long)].collect().toSeq
    assert(atV1 === Seq(("0", 10L, 10L), ("1", 10L, 10L)))
    // file_count/size are physical facts; the partition sums re-derive
    // the t$files totals
    val sums = spark.sql(
      s"SELECT sum(file_count), sum(row_count), sum(size_bytes) " +
        s"FROM graft_cat.ns.`t_partmeta$$partitions`")
      .as[(Long, Long, Long)].head()
    val filesTot = spark.sql(
      s"SELECT count(*), sum(row_count), sum(size_bytes) " +
        s"FROM graft_cat.ns.`t_partmeta$$files`")
      .as[(Long, Long, Long)].head()
    assert(sums === filesTot)
  }

  test("metadata tables: t$files and t$history serve the census over SQL") {
    val t = freshTable("t_meta")
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO $t VALUES (1, 1), (2, 1), (3, 2)")
    spark.sql(s"INSERT INTO $t VALUES (4, 2)")
    val filesDf = spark.table(s"graft_cat.ns.`t_meta$$files`")
    val files = filesDf.orderBy("file_id")
      .select("row_count", "group_key").as[(Int, String)].collect().toSeq
    assert(files.sortBy(r => (r._2, r._1)) ===
      Seq((2, "1"), (1, "2"), (1, "2")).sortBy(r => (r._2, r._1)))
    // zone envelope rendered per column
    val zones = filesDf.select("zones").as[String].collect()
    assert(zones.forall(z => z.contains("id:[") && z.contains("part:[")),
      zones.mkString("|"))
    val hist = spark.table(s"graft_cat.ns.`t_meta$$history`")
      .orderBy("version").select("version", "n_files", "n_rows")
      .as[(Int, Int, Long)].collect().toSeq
    assert(hist === Seq((0, 0, 0L), (1, 2, 3L), (2, 3, 4L)))
    // history timestamps strictly increase and match the table's log
    val ts = spark.table(s"graft_cat.ns.`t_meta$$history`")
      .orderBy("version").select("timestamp_micros").as[Long].collect().toSeq
    assert(ts === store("t_meta").commitHistory.map(_._2))
    assert(ts.sliding(2).forall(p => p(0) < p(1)))
    // unknown suffix and missing base both fail loudly
    intercept[Exception](spark.table(s"graft_cat.ns.`t_meta$$bogus`").collect())
    intercept[Exception](spark.table(s"graft_cat.ns.`nope$$files`").collect())
  }

  test("SHALLOW CLONE shares files by reference; histories diverge safely") {
    val t = freshTable("t_clone_src")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo(t).create()   // v1
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")                     // v2
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.ns.t_clone_dst")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.ns.t_clone_old")

    GraftMaintenance.cloneTable(Seq("ns"), "t_clone_src",
      Seq("ns"), "t_clone_dst")
    val src = store("t_clone_src"); val dst = store("t_clone_dst")
    assert(spark.table("graft_cat.ns.t_clone_dst").orderBy("id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // zero copy: the clone's rows ARE the source's row objects
    val srcRows = identitySet(src.currentRows)
    dst.currentRows.foreach(r => assert(srcRows.contains(r),
      "shallow clone must share row data by reference"))

    // divergence: writes to one never show in the other
    spark.sql(s"INSERT INTO graft_cat.ns.t_clone_dst VALUES (4, 'd')")
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    assert(spark.table(t).orderBy("id").as[(Long, String)]
      .collect().map(_._1).toSeq === Seq(2L, 3L))
    assert(spark.table("graft_cat.ns.t_clone_dst").orderBy("id")
      .as[(Long, String)].collect().map(_._1).toSeq ===
      Seq(1L, 2L, 3L, 4L))

    // clone AT an old version: the snapshot contents, independent after
    GraftMaintenance.cloneTable(Seq("ns"), "t_clone_src",
      Seq("ns"), "t_clone_old", version = Some(1))
    assert(spark.table("graft_cat.ns.t_clone_old").orderBy("id")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // clone onto an existing name fails loudly
    intercept[Exception](GraftMaintenance.cloneTable(Seq("ns"),
      "t_clone_src", Seq("ns"), "t_clone_dst"))
  }

  test("VACUUM retires old snapshots now; current state unaffected") {
    val t = freshTable("t_vac")
    Seq((1L, "a")).toDF("id", "v").writeTo(t).create()
    for (i <- 2 to 5) spark.sql(s"INSERT INTO $t VALUES ($i, 'x')")
    val table = store("t_vac")
    assert(table.commitHistory.length === 6) // v0..v5
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 2").count() === 2)

    val retired = GraftMaintenance.vacuum(Seq("ns"), "t_vac", keepLast = 2)
    assert(retired === 4)
    assert(table.commitHistory.map(_._1) === Seq(4, 5))
    // current reads and recent time travel still serve
    assert(spark.table(t).count() === 5)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 4").count() === 4)
    // vacuumed version: loud, names the retention boundary
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $t VERSION AS OF 2").collect())
    assert(e.getMessage.contains("retired"), e.getMessage)
    // keepLast floor
    intercept[IllegalArgumentException](
      GraftMaintenance.vacuum(Seq("ns"), "t_vac", keepLast = 0))
    // the table keeps working after vacuum
    spark.sql(s"INSERT INTO $t VALUES (6, 'y')")
    assert(spark.table(t).count() === 6)
  }

  test("per-table retention.snapshots bounds the MAIN chain's slide; " +
      "RETAIN-less VACUUM honors the declaration") {
    val t = freshTable("t_tblret")
    Seq((1L, "a")).toDF("id", "v").repartition(1).writeTo(t)
      .tableProperty("retention.snapshots", "3").create()
    for (i <- 2 to 6) spark.sql(s"INSERT INTO $t VALUES ($i, 'x')")
    val table = store("t_tblret")
    // v0 create + 6 commits, auto-trimmed to the declared 3
    assert(table.commitHistory.length === 3,
      s"declared window must bound the slide: ${table.commitHistory}")
    // RETAIN-less declared VACUUM keeps the declared window, not the
    // explicit-vacuum default of 1
    val retired = GraftMaintenance.vacuum(Seq("ns"), "t_tblret",
      keepLast = GraftTable.VacuumDeclaredRetention)
    assert(retired === 0, "the slide already enforced the declaration")
    assert(table.commitHistory.length === 3)
    // widening the declaration via ALTER grows the retained window
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('retention.snapshots'='5')")
    for (i <- 7 to 9) spark.sql(s"INSERT INTO $t VALUES ($i, 'x')")
    assert(table.commitHistory.length === 5)
    // UNSET reverts to the engine-wide default (no trim on next commit)
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES " +
      "('retention.snapshots')")
    spark.sql(s"INSERT INTO $t VALUES (10, 'x')")
    assert(table.commitHistory.length === 7)
    // the declaration must refuse nonsense loudly
    intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('retention.snapshots'='0')"))
  }

  test("per-table retention.hours drops snapshots past the clock window " +
      "(floor 2); composes with the count as min") {
    val saved = GraftClock.nowMicros
    try {
      var now = 1_000_000_000_000L // µs
      GraftClock.nowMicros = () => now
      val t = freshTable("t_tblret_h")
      Seq((1L, "a")).toDF("id", "v").repartition(1).writeTo(t)
        .tableProperty("retention.hours", "1").create()
      val table = store("t_tblret_h")
      for (i <- 2 to 4) {
        now += 60L * 60 * 1000 * 1000 / 4 // +15 min
        spark.sql(s"INSERT INTO $t VALUES ($i, 'x')")
      }
      // all commits inside the hour: nothing drops
      assert(table.commitHistory.length === 5)
      // jump 2 hours: the next commit's slide drops everything older
      // than the window except the structural floor of 2
      now += 2L * 60 * 60 * 1000 * 1000
      spark.sql(s"INSERT INTO $t VALUES (5, 'x')")
      assert(table.commitHistory.length === 2,
        s"clock window must trim to floor 2: ${table.commitHistory}")
      // count window composes as min: declare 3 snapshots too, stay
      // inside the hour — count wins
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
        "('retention.snapshots'='3')")
      for (i <- 6 to 9) {
        now += 1000L
        spark.sql(s"INSERT INTO $t VALUES ($i, 'x')")
      }
      assert(table.commitHistory.length === 3)
      // head state is never affected by retention
      assert(spark.table(t).count() === 9)
    } finally GraftClock.nowMicros = saved
  }

  test("concurrent INSERTs never lose a batch (documented atomic-swap contract)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = freshTable("t_conc")
    spark.sql(s"CREATE TABLE $t (id BIGINT, src INT)")
    val writers = (0 until 8).map { w =>
      Future {
        for (i <- 0 until 5)
          spark.sql(s"INSERT INTO $t VALUES (${w * 100 + i}, $w)")
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(spark.table(t).count() === 40)
    assert(spark.table(t).select("id").distinct().count() === 40)
    // every commit snapshotted exactly once: 40 inserts + create
    assert(store("t_conc").commitHistory.length === 41)
  }

  test("OPTIMIZE ZORDER BY re-lays files so 2-D box scans skip most files") {
    val t = freshTable("t_zo")
    // 1024 points on a 32×32 grid, inserted in ROW-MAJOR order: every
    // x-stripe file spans the full y range, so a 2-D box prunes poorly
    spark.range(0, 1024)
      .select(($"id" % 32).as("x"), ($"id" / 32).cast("long").as("y"))
      .repartition(8, $"x").writeTo(t).create()
    val table = store("t_zo")
    val filesBefore = table.dataFiles.length
    assert(filesBefore > 1)
    def boxCount(): Long =
      spark.table(t)
        .filter($"x".between(8, 15) && $"y".between(8, 15)).count()
    val before = boxCount()
    assert(before === 64)
    val censusBefore = table.lastScanCensus.get
    val rowsBefore = table.currentRows
    val preVersion = table.commitHistory.last._1

    val res = graft.sources.GraftMaintenance.zorderBy(
      Seq("ns"), "t_zo", Seq("x", "y"), targetRows = 64)
    assert(res.filesAfter === 16, res.toString) // 1024 rows / 64-row files

    // same rows, SAME row objects (layout-only rewrite), one new commit
    assert(boxCount() === 64)
    val ids = identitySet(rowsBefore)
    table.currentRows.foreach(r => assert(ids.contains(r),
      "zorder rewrite must not copy row data"))
    assert(table.commitHistory.last._1 === preVersion + 1)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $preVersion")
      .head().getLong(0) === 1024)

    // the point of the exercise: the same box query now skips most files
    boxCount()
    val censusAfter = table.lastScanCensus.get
    assert(censusAfter.rowsRead < censusAfter.rowsTotal / 2,
      s"z-ordered layout must skip most rows: $censusAfter (was $censusBefore)")
    assert(censusAfter.rowsRead.toDouble / censusAfter.rowsTotal <
      censusBefore.rowsRead.toDouble / censusBefore.rowsTotal,
      s"z-order must improve on the row-major layout: " +
        s"$censusBefore -> $censusAfter")

    // ZORDER on a partitioned table clusters within groups only
    val tp = freshTable("t_zo_part")
    spark.sql(s"CREATE TABLE $tp (x BIGINT, y BIGINT, p INT) " +
      "PARTITIONED BY (p)")
    spark.range(0, 512).select(($"id" % 16).as("x"),
      (($"id" / 16) % 16).cast("long").as("y"),
      ($"id" % 2).cast("int").as("p"))
      .repartition(4).writeTo(tp).append()
    graft.sources.GraftMaintenance.zorderBy(
      Seq("ns"), "t_zo_part", Seq("x", "y"), targetRows = 64)
    assert(store("t_zo_part").dataFiles.forall(_.groupKey.isDefined),
      "zorder must not mix partition groups")
    assert(spark.table(tp).count() === 512)

    // an unsupported clustering type (floating point) is rejected
    // loudly; strings quantize via their byte prefix (GraftSqlCommandsSpec)
    val ts = freshTable("t_zo_bad")
    Seq((1L, 0.5)).toDF("id", "d").writeTo(ts).create()
    intercept[IllegalArgumentException](
      graft.sources.GraftMaintenance.zorderBy(Seq("ns"), "t_zo_bad",
        Seq("d")))
  }

  // ---- multi-column identity partitioning -----------------------------

  private def identitySet(rows: Iterable[AnyRef]) = {
    val s = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    rows.foreach(s.add)
    s
  }

  test("multi-column partitions: full and PARTIAL predicates are metadata-only") {
    val t = freshTable("t_mc")
    spark.sql(s"CREATE TABLE $t (id BIGINT, yr INT, st STRING) " +
      "PARTITIONED BY (yr, st)")
    spark.sql(s"INSERT INTO $t VALUES (1, 2022, 'CA'), (2, 2022, 'NY'), " +
      "(3, 2023, 'CA'), (4, 2023, 'NY'), (5, 2023, 'TX')")
    val table = store("t_mc")
    // files are split per (yr, st) group at commit
    assert(table.dataFiles.length === 5)
    assert(table.dataFiles.forall(_.groupKey.isDefined))

    // FULL key: one group drops, every other stored row carries by
    // reference (no rewrite)
    val before1 = identitySet(
      table.currentRows.filterNot(r => r.getInt(1) == 2022 &&
        r.getUTF8String(2).toString == "NY"))
    spark.sql(s"DELETE FROM $t WHERE yr = 2022 AND st = 'NY'")
    assert(spark.table(t).orderBy("id").as[(Long, Int, String)]
      .collect().map(_._1).toSeq === Seq(1L, 3L, 4L, 5L))
    table.currentRows.foreach(r => assert(before1.contains(r),
      "full-key partition delete must not rewrite surviving rows"))

    // PARTIAL key (yr only): (2023, *) all drop — metadata-only even
    // though the key set was never enumerated; the 2022 row survives
    // by reference
    val before2 = identitySet(table.currentRows.filter(_.getInt(1) != 2023))
    spark.sql(s"DELETE FROM $t WHERE yr = 2023")
    assert(spark.table(t).as[(Long, Int, String)].collect().toSeq ===
      Seq((1L, 2022, "CA")))
    table.currentRows.foreach(r => assert(before2.contains(r),
      "partial partition delete must not rewrite surviving rows"))

    // a non-partition predicate still routes through the COW rewrite
    // and lands the right contents
    spark.sql(s"INSERT INTO $t VALUES (6, 2024, 'CA'), (7, 2024, 'NY')")
    spark.sql(s"DELETE FROM $t WHERE id = 6")
    assert(spark.table(t).orderBy("id").as[(Long, Int, String)]
      .collect().map(_._1).toSeq === Seq(1L, 7L))
  }

  test("multi-column partitions: static overwrite and MERGE narrow correctly") {
    val t = freshTable("t_mc_ow")
    spark.sql(s"CREATE TABLE $t (id BIGINT, yr INT, st STRING) " +
      "PARTITIONED BY (yr, st)")
    spark.sql(s"INSERT INTO $t VALUES (1, 2022, 'CA'), (2, 2022, 'NY'), " +
      "(3, 2023, 'CA')")
    val table = store("t_mc_ow")

    // static INSERT OVERWRITE with a full multi-column partition spec:
    // exactly that group is replaced, the rest carry by reference
    val untouched = identitySet(
      table.currentRows.filterNot(r => r.getInt(1) == 2022 &&
        r.getUTF8String(2).toString == "CA"))
    spark.sql(
      s"INSERT OVERWRITE $t PARTITION (yr = 2022, st = 'CA') VALUES (10)")
    assert(spark.table(t).orderBy("id").as[(Long, Int, String)]
      .collect().toSeq ===
      Seq((2L, 2022, "NY"), (3L, 2023, "CA"), (10L, 2022, "CA")))
    val after = table.currentRows.filterNot(r => r.getInt(1) == 2022 &&
      r.getUTF8String(2).toString == "CA")
    after.foreach(r => assert(untouched.contains(r),
      "static multi-column overwrite must not rewrite other partitions"))

    // MERGE matching rows only in (2023, CA): the runtime group filter
    // narrows the COW to that partition; others carry by reference
    val preMerge = identitySet(table.currentRows.filter(_.getInt(1) != 2023))
    Seq((3L, "updated")).toDF("id", "v").createOrReplaceTempView("mc_src")
    spark.sql(
      s"""MERGE INTO $t t USING mc_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.id = t.id + 100""".stripMargin)
    assert(spark.table(t).orderBy("id").as[(Long, Int, String)]
      .collect().map(_._1).toSeq === Seq(2L, 10L, 103L))
    val post = table.currentRows.filter(_.getInt(1) != 2023)
    post.foreach(r => assert(preMerge.contains(r),
      "multi-column COW merge must not rewrite unmatched partitions"))
  }

  // ---- OPTIMIZE (bin-packing compaction) ------------------------------

  test("OPTIMIZE bin-packs small files; rows identical, history sees both") {
    val t = freshTable("t_opt")
    Seq((1L, "a")).toDF("id", "v").repartition(1).writeTo(t).create()
    for (i <- 2 to 6)
      Seq((i.toLong, s"v$i")).toDF("id", "v").repartition(1)
        .writeTo(t).append()
    val table = store("t_opt")
    assert(table.dataFiles.length === 6)
    val before = spark.table(t).orderBy("id").collect().toSeq
    val beforeRows = table.currentRows
    val preVersion = table.commitHistory.last._1

    val res = GraftMaintenance.optimize(Seq("ns"), "t_opt", targetRows = 1000)
    assert(res.filesBefore === 6 && res.filesAfter === 1, res.toString)
    assert(table.dataFiles.length === 1)

    // row multiset unchanged — and the SAME row objects (no data copy)
    val after = spark.table(t).orderBy("id").collect().toSeq
    assert(after === before)
    val ids = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    beforeRows.foreach(ids.add)
    table.currentRows.foreach(r =>
      assert(ids.contains(r), "compaction must not copy row data"))

    // compaction is a commit: time travel serves both layouts, same data
    val postVersion = table.commitHistory.last._1
    assert(postVersion === preVersion + 1)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $preVersion")
      .orderBy("id").collect().toSeq === before)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $postVersion")
      .orderBy("id").collect().toSeq === before)

    // zone maps recomputed over the packed file: skipping still exact
    assert(spark.table(t).filter($"id" === 3).count() === 1)
  }

  test("OPTIMIZE respects partition groups and the target bin size") {
    val t = freshTable("t_opt_part")
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT) PARTITIONED BY (part)")
    // 3 small files in part 1, 2 in part 2 (each insert = 1 task file
    // per landed partition)
    for (i <- 1 to 3) spark.sql(s"INSERT INTO $t VALUES ($i, 1)")
    for (i <- 4 to 5) spark.sql(s"INSERT INTO $t VALUES ($i, 2)")
    val table = store("t_opt_part")
    assert(table.dataFiles.length === 5)
    GraftMaintenance.optimize(Seq("ns"), "t_opt_part", targetRows = 1000)
    // packed per group: one file per partition, never spanning both
    assert(table.dataFiles.length === 2)
    assert(table.dataFiles.forall(_.groupKey.isDefined),
      "packed files must stay partition-aligned")
    // partition ops still file-level after compaction
    spark.sql(s"DELETE FROM $t WHERE part = 1")
    assert(spark.table(t).orderBy("id").as[(Long, Int)].collect().toSeq ===
      Seq((4L, 2), (5L, 2)))

    // bin size respected: files >= target carry over untouched
    val t2 = freshTable("t_opt_target")
    Seq.tabulate(100)(i => (i.toLong, "big")).toDF("id", "v")
      .repartition(1).writeTo(t2).create()
    for (i <- 0 until 4)
      Seq((1000L + i, "small")).toDF("id", "v").repartition(1)
        .writeTo(t2).append()
    val big = store("t_opt_target").dataFiles.head
    GraftMaintenance.optimize(Seq("ns"), "t_opt_target", targetRows = 50)
    val after = store("t_opt_target").dataFiles
    // the 100-row file is untouched BY REFERENCE; the 4 singletons pack
    assert(after.exists(_ eq big), "large file must not be rewritten")
    assert(after.length === 2, after.map(_.rowCount).toString)
  }

  test("aggregate pushdown: global MIN/MAX/COUNT answered from file stats") {
    val (t, table) = fourFileTable("t_aggpush")
    // a null in one file so count(col) != count(*)
    spark.sql(s"INSERT INTO $t VALUES (NULL, 'nullrow')")

    val df = spark.sql(
      s"SELECT count(*) AS n, count(id) AS nid, min(id) AS lo, " +
        s"max(id) AS hi, min(v) AS vlo, max(v) AS vhi FROM $t")
    val r = df.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4), r.getString(5)) === ((41L, 40L, 1L, 40L, "nullrow", "v9")))
    // the answer came from commit-time stats: ZERO data rows read
    val c = table.lastScanCensus.get
    assert(c.rowsRead === 0 && c.filesRead === 0,
      s"expected metadata-only answer, got $c")
    assert(c.pushed.exists(_.contains("aggregate")))
    // and the plan carries no wide table scan under the aggregate
    val explained = df.queryExecution.executedPlan.toString
    assert(!explained.contains("Exchange"),
      s"metadata-only agg must not shuffle:\n$explained")
  }

  test("aggregate pushdown: grouped by partition column, zero rows read") {
    val t = freshTable("t_aggpush_grp")
    spark.sql(s"CREATE TABLE $t (id BIGINT, part INT) PARTITIONED BY (part)")
    for (p <- 1 to 3; batch <- 0 until 2)
      spark.range(p * 100 + batch * 10, p * 100 + batch * 10 + 5)
        .selectExpr("id", s"$p AS part").coalesce(1)
        .writeTo(t).append()
    val table = store("t_aggpush_grp")
    assert(table.dataFiles.length === 6)

    val got = spark.sql(
      s"SELECT part, count(*) AS n, min(id) AS lo, max(id) AS hi " +
        s"FROM $t GROUP BY part ORDER BY part")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1, 10L, 100L, 114L), (2, 10L, 200L, 214L), (3, 10L, 300L, 314L)))
    val c = table.lastScanCensus.get
    assert(c.rowsRead === 0, s"expected metadata-only grouped agg, got $c")
  }

  test("aggregate pushdown declines shapes the stats cannot answer") {
    val (t, table) = fourFileTable("t_aggdecline")
    // SUM has no file stat — normal scan, still correct
    assert(spark.sql(s"SELECT sum(id) FROM $t").head().getLong(0) === 820L)
    assert(table.lastScanCensus.get.rowsRead === 40)
    // a residual WHERE disqualifies stats (they would overcount)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id > 35").head()
      .getLong(0) === 5L)
    assert(table.lastScanCensus.get.rowsRead > 0)
    // COUNT(DISTINCT) needs the rows
    assert(spark.sql(s"SELECT count(DISTINCT v) FROM $t").head()
      .getLong(0) === 40L)
    // GROUP BY a non-partition column needs the rows
    assert(spark.sql(s"SELECT v, count(*) FROM $t GROUP BY v").count() === 40L)
    // results above all exact — the decline path lost nothing
  }

  test("s37 registry query: both reads are metadata-only on real data") {
    val fn = graft.SparkEntry.queries("s37_agg_pushdown")
    val out = fn(spark, "/root/testdata/sf0.001").collect()
    assert(out.length >= 2, "expected per-year rows plus the global row")
    // the global row (-1) must equal the sum of the per-year rows
    val perYear = out.filter(_.getInt(0) >= 0)
    val global = out.filter(_.getInt(0) === -1).head
    assert(perYear.map(_.getLong(1)).sum === global.getLong(1))
    assert(perYear.map(_.getLong(2)).sum === global.getLong(2))
    val census = store("s37_orders").lastScanCensus.get
    assert(census.rowsRead === 0 && census.filesRead === 0,
      s"s37 must be answered from file stats alone: $census")
    assert(census.pushed.exists(_.contains("aggregate")))
  }

  test("storage-partitioned join: co-partitioned tables join with NO shuffle") {
    val ta = freshTable("t_spj_a")
    val tb = freshTable("t_spj_b")
    spark.sql(s"CREATE TABLE $ta (k INT, a BIGINT) PARTITIONED BY (k)")
    spark.sql(s"CREATE TABLE $tb (k INT, b STRING) PARTITIONED BY (k)")
    spark.range(0, 400).selectExpr("CAST(id % 8 AS INT) AS k", "id AS a")
      .writeTo(ta).append()
    spark.range(0, 80).selectExpr("CAST(id % 8 AS INT) AS k",
        "concat('b', id) AS b")
      .writeTo(tb).append()

    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a real join
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val joined = spark.table(ta).join(spark.table(tb), "k")
      val n = joined.count()
      assert(n === 400L * 80 / 8, s"join result wrong: $n")
      val plan = executedFinal(joined)
      val shuffles = walk(plan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"co-partitioned catalog tables must storage-partition join:\n$plan")
      assert(walk(plan).exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected a shuffle-free sort-merge join:\n$plan")
      // reported per-partition ordering (every row in a key-grouped
      // partition shares the key values, so they are trivially sorted
      // by them) removes the merge join's per-partition sorts too:
      // zero shuffle AND zero sort on either side
      val sorts = walk(plan).collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sorts.isEmpty,
        s"key-grouped scans must report their ordering (no SortExec):\n$plan")

      // correctness-on-content: the aligned join sees every pair
      val got = spark.table(ta).join(spark.table(tb), "k")
        .selectExpr("k", "a", "b").orderBy("k", "a", "b")
        .as[(Int, Long, String)].collect()
      assert(got.length === 4000)
      assert(got.forall { case (k, a, b) =>
        a % 8 == k && b.drop(1).toLong % 8 == k })
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    // with bucketing OFF the same join shuffles both sides — the
    // reporting is strictly opt-in (parallelism stays file-sliced)
    val joinedOff = spark.table(ta).join(spark.table(tb), "k")
    joinedOff.count()
    assert(walk(executedFinal(joinedOff)).exists {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
      case _: BroadcastHashJoinExec => true
      case _ => false
    }, "opt-out path must plan a conventional join")
  }

  test("storage-partitioned join survives runtime filtering (keys preserved)") {
    val ta = freshTable("t_spj_rf_a")
    val tb = freshTable("t_spj_rf_b")
    spark.sql(s"CREATE TABLE $ta (k INT, a BIGINT) PARTITIONED BY (k)")
    spark.sql(s"CREATE TABLE $tb (k INT, b BIGINT) PARTITIONED BY (k)")
    spark.range(0, 100).selectExpr("CAST(id % 10 AS INT) AS k", "id AS a")
      .writeTo(ta).append()
    spark.range(0, 20).selectExpr("CAST(id % 10 AS INT) AS k", "id AS b")
      .writeTo(tb).append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // a selective filter on one side: results stay exact
      val j = spark.table(ta).filter($"a" < 40)
        .join(spark.table(tb), "k")
      assert(j.count() === 80L) // 40 a-rows × 2 b-rows per key
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("limit pushdown stops delivering files past the mark") {
    val (t, table) = fourFileTable("t_limit")
    val got = spark.table(t).limit(15).collect()
    assert(got.length === 15)
    val c = table.lastScanCensus.get
    // 15 rows are covered by the first two 10-row files
    assert(c.filesRead === 2 && c.rowsRead === 20,
      s"expected 2/4 files delivered under LIMIT 15, got $c")
    assert(c.pushed.exists(_.contains("limit")))
    // limit larger than the table: everything reads, nothing lost
    assert(spark.table(t).limit(1000).collect().length === 40)
  }
}
