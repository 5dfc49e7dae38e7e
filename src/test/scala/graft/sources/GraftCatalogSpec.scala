package graft.sources

import graft.SparkSpec

/** SQL-route row-level operations against the DSv2 [[GraftCatalog]]:
  * literal MERGE INTO / UPDATE / DELETE statements must plan through
  * [[GraftTable]]'s RowLevelOperation (group-based copy-on-write) and
  * land the operator-route semantics (DedupMergeSpec proves the same
  * contracts API-side).
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String = {
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[GraftCatalog].getName)
    val fq = s"graft_cat.ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fq")
    fq
  }

  test("create + insert + read back round-trips through the catalog") {
    val t = freshTable("t_rt")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo(t).create()
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")
    val got = spark.table(t).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("MERGE INTO: insert + update + delete in one statement") {
    val t = freshTable("t_merge")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").writeTo(t).create()
    Seq((2L, "B", "changed"), (3L, null.asInstanceOf[String], "removed"),
      (4L, "d", "added"))
      .toDF("id", "v", "change_type").createOrReplaceTempView("mrg_src")
    spark.sql(
      s"""MERGE INTO $t t USING mrg_src s ON t.id = s.id
         |WHEN MATCHED AND s.change_type = 'removed' THEN DELETE
         |WHEN MATCHED AND s.change_type = 'changed' THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED AND s.change_type = 'added'
         |  THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got = spark.table(t).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "a"), (2L, "B"), (4L, "d")))
    // idempotent for the same changelog (the s19 contract, SQL route):
    // re-merging yields the same table
    spark.sql(
      s"""MERGE INTO $t t USING mrg_src s ON t.id = s.id
         |WHEN MATCHED AND s.change_type = 'removed' THEN DELETE
         |WHEN MATCHED AND s.change_type = 'changed' THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED AND s.change_type = 'added'
         |  THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val again = spark.table(t).orderBy("id").as[(Long, String)].collect().toSeq
    assert(again === got)
  }

  test("UPDATE and DELETE SQL route through the same row-level operation") {
    val t = freshTable("t_upd")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x").writeTo(t).create()
    spark.sql(s"UPDATE $t SET x = x + 1.0 WHERE id >= 2")
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    val got = spark.table(t).orderBy("id").as[(Long, Double)].collect().toSeq
    assert(got === Seq((2L, 21.0), (3L, 31.0)))
  }

  test("column pruning reaches the catalog scan") {
    val t = freshTable("t_prune")
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x")
      .writeTo(t).create()
    val df = spark.table(t).select("id")
    val plan = df.queryExecution.executedPlan.toString
    // the scan itself must carry only the projected column — the payload
    // columns never materialize
    assert(!plan.contains("v#") && !plan.contains("x#"),
      s"expected pruned scan, got:\n$plan")
    assert(df.orderBy("id").as[Long].collect().toSeq === Seq(1L, 2L))
  }

  test("partitioned MERGE rewrites only the touched partition groups") {
    // the delta-sized COW contract: with identity partitioning, the
    // row-level scan's runtime group filter must narrow the rewrite to
    // the partitions containing matched rows, and commit must carry the
    // other partitions' stored rows over BY REFERENCE (physically not
    // rewritten), like a real table format's file-level copy-on-write
    val t = freshTable("t_part")
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, part INT, v STRING) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 1, 'b'), " +
      "(3, 2, 'c'), (4, 2, 'd'), (5, 3, 'e')")
    val table = GraftTableStore.tables((Seq("ns"), "t_part"))
    // the table must REPORT its partitioning, not just honor it
    assert(table.partitioning().map(_.toString).toSeq === Seq("identity(part)"))
    // identity snapshot of the rows physically stored OUTSIDE part 2
    val untouchedBefore = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    table.currentRows.filter(_.getInt(1) != 2).foreach(untouchedBefore.add)
    assert(untouchedBefore.size === 3)
    // source matches ids only in part 2; id 6 is a pure insert
    Seq((3L, "C"), (6L, "f")).toDF("id", "v")
      .createOrReplaceTempView("part_src")
    spark.sql(
      s"""MERGE INTO $t t USING part_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, part, v) VALUES (s.id, 2, s.v)"""
        .stripMargin)
    val got = spark.table(t).orderBy("id").as[(Long, Int, String)]
      .collect().toSeq
    assert(got === Seq((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "C"),
      (4L, 2, "d"), (5L, 3, "e"), (6L, 2, "f")))
    // parts 1 and 3 were never scanned for rewrite: every one of their
    // stored rows after the merge is the SAME object as before it
    val untouchedAfter = table.currentRows.filter(_.getInt(1) != 2)
    assert(untouchedAfter.length === 3)
    untouchedAfter.foreach(r => assert(untouchedBefore.contains(r),
      "a row outside the matched partition was physically rewritten"))
  }

  private def identitySet(rows: Iterable[AnyRef]) = {
    val s = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    rows.foreach(s.add)
    s
  }

  test("metadata-only DELETE drops a partition without rewriting the rest") {
    // a partition-predicate DELETE is a partition DROP: served from
    // metadata (canDeleteWhere/deleteWhere), no copy-on-write, no scan —
    // at 100 TB this is the difference between a log entry and a rewrite
    val t = freshTable("t_pdel")
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, part INT, v STRING) PARTITIONED BY (part)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 2, 'b'), (3, 3, 'c'), (4, 2, 'd')")
    val table = GraftTableStore.tables((Seq("ns"), "t_pdel"))
    val survivorsBefore = identitySet(table.currentRows.filter(_.getInt(1) != 2))
    spark.sql(s"DELETE FROM $t WHERE part = 2")
    assert(spark.table(t).orderBy("id").as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (3L, 3, "c")))
    // every surviving row is the SAME object: nothing was rewritten
    assert(table.currentRows.length === 2)
    table.currentRows.foreach(r => assert(survivorsBefore.contains(r),
      "metadata delete must not rewrite surviving rows"))
    // a non-partition predicate cannot be metadata-only: it falls back to
    // the row-level rewrite and still lands the right contents
    spark.sql(s"DELETE FROM $t WHERE v = 'c'")
    assert(spark.table(t).as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a")))
  }

  /** A table PARTITIONED BY (part) with rows in parts 1, 2 and NULL. */
  private def nullPartTable(name: String): String = {
    val t = freshTable(name)
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, part INT, v STRING) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 2, 'b'), " +
      "(3, NULL, 'c'), (4, 2, 'd')")
    t
  }

  private def rowsOf(t: String): Seq[(Long, Option[Int], String)] =
    spark.table(t).orderBy("id").collect().toSeq.map(r =>
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]), r.getString(2)))

  test("DELETE with a NULL in a partition IN list keeps the NULL partition") {
    // `part IN (2, NULL)` is never TRUE for a NULL part: under SQL
    // semantics the NULL partition survives, whatever path serves it
    val t = nullPartTable("t_pdel_innull")
    spark.sql(s"DELETE FROM $t WHERE part IN (2, NULL)")
    assert(rowsOf(t) === Seq((1L, Some(1), "a"), (3L, None, "c")))
  }

  test("overwrite with a NULL in a partition IN list keeps the NULL partition") {
    val t = nullPartTable("t_povr_innull")
    Seq((9L, 2, "z")).toDF("id", "part", "v").writeTo(t)
      .overwrite(org.apache.spark.sql.functions.expr("part IN (2, NULL)"))
    assert(rowsOf(t) ===
      Seq((1L, Some(1), "a"), (3L, None, "c"), (9L, Some(2), "z")))
  }

  // the row-level rewrite's runtime group filter lists the matched rows'
  // partition values, the NULL partition as a NULL literal: that group
  // must still be selected and replaced
  test("copy-on-write DELETE rewrites a matched row in the NULL partition") {
    val t = nullPartTable("t_cowdel_null")
    spark.sql(s"DELETE FROM $t WHERE v = 'c'")
    assert(rowsOf(t) ===
      Seq((1L, Some(1), "a"), (2L, Some(2), "b"), (4L, Some(2), "d")))
    assert(spark.table(s"graft_cat.ns.`t_cowdel_null$$history`")
      .filter("operation = 'DELETE'").select("parameters").as[String]
      .collect().toSeq === Seq(s"mode=${GraftTable.CopyOnWrite}"))
  }

  test("copy-on-write UPDATE rewrites a matched row in the NULL partition") {
    val t = nullPartTable("t_cowupd_null")
    spark.sql(s"UPDATE $t SET v = 'x' WHERE v = 'c'")
    assert(rowsOf(t) === Seq((1L, Some(1), "a"), (2L, Some(2), "b"),
      (3L, None, "x"), (4L, Some(2), "d")))
  }

  test("a range DELETE on the partition column is a metadata-only drop") {
    // a partition key is a zone whose min equals its max, so `part < 3`
    // decides every group exactly: parts 1 and 2 drop from metadata
    val t = freshTable("t_pdel_range")
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, part INT, v STRING) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 2, 'b'), " +
      "(3, 3, 'c'), (4, 4, 'd'), (5, 3, 'e')")
    val table = GraftTableStore.tables((Seq("ns"), "t_pdel_range"))
    val survivorsBefore = identitySet(table.currentRows.filter(_.getInt(1) >= 3))
    spark.sql(s"DELETE FROM $t WHERE part < 3")
    assert(spark.table(t).orderBy("id").as[(Long, Int, String)].collect().toSeq
      === Seq((3L, 3, "c"), (4L, 4, "d"), (5L, 3, "e")))
    // every surviving row is the SAME object: nothing was rewritten
    assert(table.currentRows.length === 3)
    table.currentRows.foreach(r => assert(survivorsBefore.contains(r),
      "metadata delete must not rewrite surviving rows"))
    // the commit is the metadata delete's (a row-level rewrite records
    // its write mode instead of the predicate)
    val params = spark.table(s"graft_cat.ns.`t_pdel_range$$history`")
      .filter("operation = 'DELETE'").select("parameters").as[String]
      .collect().toSeq
    assert(params.length === 1 && params.head.startsWith("predicate="),
      s"DELETE history: $params")
  }

  test("a prefix DELETE on a string partition column lands through the " +
      "row-level rewrite") {
    // STARTS_WITH is only an envelope test (key 'b' passes prefix 'ab'),
    // so it never drops partitions from metadata
    val t = freshTable("t_pdel_prefix")
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, pr STRING) PARTITIONED BY (pr)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'ab'), (3, 'b'), " +
      "(4, 'ba'), (5, 'c'), (6, NULL)")
    spark.sql(s"DELETE FROM $t WHERE pr LIKE 'b%'")
    assert(spark.table(t).orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), Option(r.getString(1)))) ===
      Seq((1L, Some("a")), (2L, Some("ab")), (5L, Some("c")), (6L, None)))
    assert(spark.table(s"graft_cat.ns.`t_pdel_prefix$$history`")
      .filter("operation = 'DELETE'").select("parameters").as[String]
      .collect().toSeq === Seq(s"mode=${GraftTable.CopyOnWrite}"))
  }

  test("INSERT OVERWRITE: dynamic replaces only landed partitions, static the table") {
    val t = freshTable("t_povr")
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, part INT, v STRING) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 2, 'b'), (3, 3, 'c')")
    val table = GraftTableStore.tables((Seq("ns"), "t_povr"))
    val mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      // dynamic: the incoming rows land only in part 2 → parts 1 and 3
      // keep their stored rows BY REFERENCE
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val untouched = identitySet(table.currentRows.filter(_.getInt(1) != 2))
      spark.sql(s"INSERT OVERWRITE $t VALUES (20, 2, 'B2'), (21, 2, 'B3')")
      assert(spark.table(t).orderBy("id").as[(Long, Int, String)].collect().toSeq
        === Seq((1L, 1, "a"), (3L, 3, "c"), (20L, 2, "B2"), (21L, 2, "B3")))
      val after = table.currentRows.filter(_.getInt(1) != 2)
      assert(after.length === 2)
      after.foreach(r => assert(untouched.contains(r),
        "dynamic overwrite must not rewrite partitions it doesn't land in"))
      // static WITH a partition spec: only that partition is replaced
      // (SupportsOverwriteV2 group overwrite), others stay by reference
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      val untouched2 = identitySet(table.currentRows.filter(_.getInt(1) != 2))
      spark.sql(s"INSERT OVERWRITE $t PARTITION (part = 2) VALUES (30, 'x')")
      assert(spark.table(t).orderBy("id").as[(Long, Int, String)].collect().toSeq
        === Seq((1L, 1, "a"), (3L, 3, "c"), (30L, 2, "x")))
      val after2 = table.currentRows.filter(_.getInt(1) != 2)
      assert(after2.length === 2)
      after2.foreach(r => assert(untouched2.contains(r),
        "static partition overwrite must not rewrite other partitions"))
      // static without a partition clause: the whole table is replaced
      spark.sql(s"INSERT OVERWRITE $t VALUES (9, 9, 'z')")
      assert(spark.table(t).as[(Long, Int, String)].collect().toSeq
        === Seq((9L, 9, "z")))
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
  }

  test("MERGE source matching multiple target rows still applies cleanly") {
    // duplicate TARGET keys are legal (the table is not key-constrained);
    // each matched row takes the clause action independently
    val t = freshTable("t_dupt")
    Seq((1L, "a1"), (1L, "a2"), (2L, "b")).toDF("id", "v").writeTo(t).create()
    Seq((1L, "A")).toDF("id", "v").createOrReplaceTempView("mrg_dup")
    spark.sql(
      s"""MERGE INTO $t t USING mrg_dup s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    val got = spark.table(t).orderBy("id", "v").as[(Long, String)]
      .collect().toSeq
    assert(got === Seq((1L, "A"), (1L, "A"), (2L, "b")))
  }

  test("ALTER TABLE ADD COLUMNS: old rows read NULL, new rows carry values") {
    val t = freshTable("t_evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo(t).create()
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (score DOUBLE)")
    // evolved schema visible immediately; pre-evolution rows pad NULL
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v", "score"))
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 1.5)")
    val got = spark.table(t).orderBy("id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got === Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(1.5))))
    // the evolved column participates in row-level ops like any other
    spark.sql(s"UPDATE $t SET score = 9.0 WHERE id = 1")
    assert(spark.table(t).filter($"id" === 1).as[(Long, String, Option[Double])]
      .head()._3 === Some(9.0))
    // multiple adds in one statement append in order
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (tag STRING, rank INT)")
    assert(spark.table(t).schema.fieldNames.toSeq ===
      Seq("id", "v", "score", "tag", "rank"))
    assert(spark.table(t).filter($"tag".isNotNull || $"rank".isNotNull)
      .count() === 0)
  }

  test("ALTER TABLE on a partitioned table keeps partition ops intact") {
    val t = freshTable("t_evolve_part")
    spark.sql(s"CREATE TABLE $t (id BIGINT, pr STRING) PARTITIONED BY (pr)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    spark.sql(s"INSERT INTO $t VALUES (3, 'a', 'n3')")
    // metadata-only partition delete still sees the right groups
    spark.sql(s"DELETE FROM $t WHERE pr = 'b'")
    val got = spark.table(t).orderBy("id")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(got === Seq((1L, "a", None), (3L, "a", Some("n3"))))
  }

  test("VERSION AS OF serves every commit's snapshot, old schema included") {
    val t = freshTable("t_tt")
    Seq((1L, "a")).toDF("id", "v").writeTo(t).create()       // v1 (v0 empty)
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')")             // v2
    spark.sql(s"UPDATE $t SET v = 'A' WHERE id = 1")         // v3
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (score DOUBLE)")  // v4
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 1.5)")        // v5
    def at(v: Int) = spark.sql(s"SELECT * FROM $t VERSION AS OF $v")
    assert(at(0).count() === 0)
    assert(at(1).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    assert(at(2).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    assert(at(3).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "A"), (2L, "b")))
    // pre-evolution versions keep the OLD schema; post-evolution pads
    assert(at(3).schema.fieldNames.toSeq === Seq("id", "v"))
    assert(at(4).schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(at(5).orderBy("id").as[(Long, String, Option[Double])]
      .collect().toSeq ===
      Seq((1L, "A", None), (2L, "b", None), (3L, "c", Some(1.5))))
    // current read ≡ latest version; out-of-range fails loudly
    assert(spark.table(t).orderBy("id").collect().toSeq ===
      at(5).orderBy("id").collect().toSeq)
    intercept[Exception](at(6).collect())
    // history survives further writes unchanged (snapshots are frozen)
    spark.sql(s"DELETE FROM $t WHERE id = 1")                // v6
    assert(at(1).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("ALTER TABLE rejects what the store cannot honor") {
    val t = freshTable("t_evolve_bad")
    Seq((1L, "a")).toDF("id", "v").writeTo(t).create()
    // non-nullable add: existing rows cannot read NULL in it
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (must STRING NOT NULL)"))
    // positioned add: only appends are supported
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (early STRING FIRST)"))
    // duplicate name
    intercept[Exception](spark.sql(s"ALTER TABLE $t ADD COLUMNS (v STRING)"))
    // unsupported change kind (type changes would corrupt stored rows;
    // drops/renames are supported — see GraftColumnMappingSpec)
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ALTER COLUMN id TYPE INT"))
    // the failed statements must not have corrupted the table
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v"))
    assert(spark.table(t).count() === 1)
  }

  test("MERGE with NOT MATCHED BY SOURCE: the three-way merge through " +
      "both row-level routes") {
    def run(name: String, props: String): Unit = {
      val t = freshTable(name)
      spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)$props")
      spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      Seq((2L, "B"), (9L, "Z")).toDF("id", "v")
        .createOrReplaceTempView("nmbs_src")
      spark.sql(
        s"""MERGE INTO $t g USING nmbs_src s ON g.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE
           |""".stripMargin)
      assert(spark.table(t).orderBy("id").as[(Long, String)].collect().toSeq
        === Seq((2L, "B"), (9L, "Z")), s"route: $name")
    }
    run("t_nmbs_cow", "")
    run("t_nmbs_mor",
      " TBLPROPERTIES ('write.rowlevel.mode'='merge-on-read')")
  }
}
