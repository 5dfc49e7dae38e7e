package graft.sources

import org.apache.spark.sql.Row

/** Heap files and durable segments serve the metadata columns through
  * one projector: the same row-level script on an in-JVM catalog and on
  * a durable one must leave the same file census and the same
  * `_file_id` / `_row_pos` / `_row_id` / `_row_commit_version` values,
  * row for row. Only `_file_ref` tells the two apart: NULL on heap
  * files, the segment path on durable ones. */
class GraftMetaColumnsSpec extends graft.SparkSpec {

  private lazy val durableWh: String = {
    val wh = tmpDir("graft-metacols")
    spark.conf.set("spark.sql.catalog.mc_dur", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mc_dur.warehouse", wh)
    spark.conf.set("spark.sql.catalog.mc_heap", classOf[GraftCatalog].getName)
    wh
  }

  /** Insert, then UPDATE, DELETE and MERGE on a row-tracking table. */
  private def script(t: String, layout: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p INT, v STRING) $layout")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 1, 'b'), " +
      "(3, 2, 'c'), (4, 2, 'd')")
    spark.sql(s"INSERT INTO $t VALUES (5, 3, 'e'), (6, 1, 'f')")
    spark.sql(s"UPDATE $t SET v = 'B' WHERE id = 2")
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    spark.sql(s"MERGE INTO $t t USING (SELECT * FROM VALUES " +
      "(4L, 2, 'D'), (7L, 3, 'g') AS s(id, p, v)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
  }

  private def census(cat: String, name: String): Seq[Row] =
    spark.sql(s"SELECT file_id, row_count FROM $cat.ns.`$name$$files` " +
      "ORDER BY file_id").collect().toSeq

  private def metaRows(t: String): Seq[Row] =
    spark.sql(s"SELECT *, _file_id, _row_pos, _row_id, _row_commit_version " +
      s"FROM $t ORDER BY id").collect().toSeq

  Seq(
    "COW partitioned" -> ("mc_cowp", "PARTITIONED BY (p) " +
      "TBLPROPERTIES ('row.tracking'='true')"),
    "COW unpartitioned" -> ("mc_cowu",
      "TBLPROPERTIES ('row.tracking'='true')"),
    "MOR" -> ("mc_mor", "PARTITIONED BY (p) TBLPROPERTIES " +
      "('row.tracking'='true', 'write.rowlevel.mode'='merge-on-read')")
  ).foreach { case (kind, (name, layout)) =>
    test(s"$kind: heap and durable catalogs serve equal metadata columns") {
      durableWh
      val heap = s"mc_heap.ns.$name"
      val dur = s"mc_dur.ns.$name"
      script(heap, layout)
      script(dur, layout)
      assert(census("mc_heap", name) === census("mc_dur", name),
        "t$files row counts differ")
      val rows = metaRows(heap)
      assert(rows.map(_.getLong(0)) === Seq(1L, 2L, 4L, 5L, 6L, 7L))
      assert(rows === metaRows(dur))
      assert(spark.sql(s"SELECT _file_ref FROM $heap").collect()
        .forall(_.isNullAt(0)), "heap files have no segment")
      val files = spark.sessionState.catalogManager.catalog("mc_dur")
        .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), name)).dataFiles
      val refs = spark.sql(s"SELECT _file_id, _file_ref FROM $dur")
        .collect().map(r => (r.getInt(0), r.getString(1)))
      assert(refs.length === rows.length)
      refs.foreach { case (fid, ref) =>
        assert(ref === files(fid).segment.path.toString,
          s"_file_ref of file $fid is not its segment")
      }
    }
  }
}
