package graft.sources

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** Every table write runs one task-side writer, in-JVM or durable: the
  * same CHECK gate (in the task, plus the commit's constraint-set
  * fingerprint), the same identity fill and the same row-identity
  * capture. So one statement script leaves the same rows, `_row_id`
  * and `_row_commit_version` included, on either store. */
class GraftWriterParitySpec extends graft.SparkSpec {

  private lazy val durableWh: String = {
    val wh = tmpDir("graft-wpy")
    spark.conf.set("spark.sql.catalog.wpy_dur", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wpy_dur.warehouse", wh)
    spark.conf.set("spark.sql.catalog.wpy_heap", classOf[GraftCatalog].getName)
    wh
  }

  private val stores = Seq("wpy_heap", "wpy_dur")

  private def tableOf(cat: String, name: String): GraftTable = {
    durableWh
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), name))
  }

  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  private def count(t: String): Long =
    spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)

  /** The table's rows with their identity, sorted. */
  private def tracked(t: String): Seq[(Long, Long, Long, Long)] =
    spark.sql(s"SELECT id, v, _row_id, _row_commit_version FROM $t")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted

  test("a CHECK violation names the constraint and lands nothing, and a " +
      "concurrent ADD CONSTRAINT aborts an in-flight write, on both " +
      "stores") {
    durableWh
    stores.foreach { c =>
      val t = s"$c.ns.wpy_chk"
      spark.sql(s"CREATE TABLE $t (id BIGINT, aqi INT) " +
        "TBLPROPERTIES ('constraints.aqi_pos' = 'aqi >= 0')")
      spark.sql(s"INSERT INTO $t VALUES (1, 5)")
      val e = intercept[Exception](
        spark.sql(s"INSERT INTO $t VALUES (2, 7), (3, -1)"))
      assert(msgs(e).exists(_.contains("aqi_pos")), s"$c: ${msgs(e)}")
      val e2 = intercept[Exception](
        spark.sql(s"UPDATE $t SET aqi = -2 WHERE id = 1"))
      assert(msgs(e2).exists(_.contains("aqi_pos")), s"$c: ${msgs(e2)}")
      assert(count(t) === 1L, s"$c: a refused write landed rows")

      // the writer itself refuses the row, before anything is buffered
      val table = tableOf(c, "wpy_chk")
      val refused = GraftWriterFactory(table.writeSpec()).createWriter(0, 3L)
      val e3 = intercept[IllegalStateException](
        refused.write(new GenericInternalRow(Array[Any](9L, -9))))
      assert(e3.getMessage.contains("aqi_pos"))
      refused.abort()

      // a write bound to the old constraint set is in flight when a new
      // constraint commits: its rows were never checked against it
      val w = GraftWriterFactory(table.writeSpec()).createWriter(0, 4L)
      w.write(new GenericInternalRow(Array[Any](500L, 5)))
      val msg = w.commit()
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
        "('constraints.id_small' = 'id < 100')")
      intercept[java.util.ConcurrentModificationException](
        table.adoptDeliveries(Array(msg)))
      table.discardDeliveries(Array(msg))
      assert(count(t) === 1L, s"$c: the stale write landed")
    }
  }

  test("an identity-column INSERT mints the same rows on both stores") {
    durableWh
    val rows = stores.map { c =>
      val t = s"$c.ns.wpy_idn"
      spark.sql(s"CREATE TABLE $t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY, v STRING)")
      spark.sql(s"INSERT INTO $t (v) VALUES ('a'), ('b'), ('c')")
      spark.sql(s"INSERT INTO $t (v) VALUES ('d')")
      spark.sql(s"SELECT id, v FROM $t").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1))).sorted
    }
    assert(rows.head.map(_._2) === Seq("a", "b", "c", "d"))
    assert(rows.head.map(_._1).distinct.length === 4)
    assert(rows.head === rows.last)
  }

  /** Runs `steps` on a fresh row-tracked table of each store and checks
    * after every step that both stores hold the same rows with the same
    * identity; `changed` names the ids the step rewrote, which must
    * carry the committing version. */
  private def assertTrackedParity(name: String, props: String,
      steps: Seq[(String => Unit, Set[Long])]): Unit = {
    durableWh
    stores.foreach { c =>
      spark.sql(s"CREATE TABLE $c.ns.$name (id BIGINT, h INT, v BIGINT) " +
        s"PARTITIONED BY (h) TBLPROPERTIES ('row.tracking'='true'$props)")
      spark.sql(s"INSERT INTO $c.ns.$name SELECT id, CAST(id % 3 AS INT), " +
        "id * 10 FROM range(0, 12, 1, 1)")
    }
    steps.zipWithIndex.foreach { case ((step, changed), n) =>
      val Seq(heap, dur) = stores.map { c =>
        step(s"$c.ns.$name")
        val rows = tracked(s"$c.ns.$name")
        val version = tableOf(c, name).currentVersion
        rows.filter(r => changed(r._1)).foreach { r =>
          assert(r._4 === version.toLong,
            s"$c.$name step $n: changed row ${r._1} keeps a stale version")
        }
        rows
      }
      assert(heap === dur, s"$name step $n")
    }
  }

  test("row-tracked copy-on-write UPDATE, DELETE and MERGE keep equal " +
      "rows and identity on both stores") {
    assertTrackedParity("wpy_cow", "", Seq(
      // a partial group rewrite: every id preserved, two versions minted
      ((t: String) => spark.sql(s"UPDATE $t SET v = v + 1 " +
        "WHERE h = 0 AND id < 6"), Set(0L, 3L)),
      // a group rewrite that preserves every id and every version
      ((t: String) => spark.sql(s"DELETE FROM $t WHERE id = 4"), Set.empty),
      ((t: String) => spark.sql(s"MERGE INTO $t tgt USING (SELECT * FROM " +
        "VALUES (CAST(1 AS BIGINT), 1, CAST(999 AS BIGINT)), " +
        "(CAST(100 AS BIGINT), 1, CAST(5 AS BIGINT)) AS s(id, h, v)) src " +
        "ON tgt.id = src.id WHEN MATCHED THEN UPDATE SET v = src.v " +
        "WHEN NOT MATCHED THEN INSERT *"), Set(1L, 100L))))
    // the all-preserved rewrite landed its identity task-side
    val data = java.nio.file.Paths.get(tableOf("wpy_dur", "wpy_cow")
      .writeSpec().tableDir.get).resolve("data")
    val sidecars = java.nio.file.Files.list(data).toArray.toSeq
      .map(_.toString).filter(_.endsWith(GraftRowIdSidecar.Suffix))
    assert(sidecars.nonEmpty, "the DELETE's rewrite wrote no .rowids")
  }

  test("a row-tracked merge-on-read UPDATE keeps equal rows and identity " +
      "on both stores") {
    assertTrackedParity("wpy_mor", ", 'write.rowlevel.mode'='merge-on-read'",
      Seq(((t: String) => spark.sql(s"UPDATE $t SET v = v + 1 " +
        "WHERE id % 4 = 1"), Set(1L, 5L, 9L))))
  }
}
