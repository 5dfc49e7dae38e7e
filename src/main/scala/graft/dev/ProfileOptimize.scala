package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Dev-only (r21, lives in graft.sources for access to the package-
  * private compaction kernel): decompose the s72 OPTIMIZE bin job —
  * segment read vs z-order sort vs parquet write — so the write-path
  * verdict ("rewrite IO is the operator's contract" vs "fixable waste")
  * rests on a measurement. */
object ProfileOptimize {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    def t[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"  $label%-22s $s%6.2fs"); (r, s)
    }
    for (r <- 1 to reps) {
      println(s"--- rep $r")
      val wh = java.nio.file.Files.createTempDirectory("graft-s72o").toString
      val w = s"gopt_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.conf.set(s"spark.sql.catalog.$w",
        classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$w.warehouse", wh)
      spark.sql(s"CREATE TABLE $w.ns.pts (x BIGINT, y BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('cluster.by'='x,y')")
      val pts = Tables.lineitem(spark, dir)
        .select(col("l_partkey").cast("long").as("x"),
          col("l_suppkey").cast("long").as("y"),
          col("l_orderkey").cast("long").as("v"))
      (0 until 3).foreach(i =>
        pts.filter(col("v") % 3 === i).writeTo(s"$w.ns.pts").append())
      // hand-run the bin job's phases against the table's segments
      val segDir = java.nio.file.Paths.get(wh)
      val segs = {
        val s0 = java.nio.file.Files.walk(segDir)
        try {
          import scala.jdk.CollectionConverters._
          s0.iterator().asScala
            .filter(_.toString.endsWith(".parquet")).toVector
        } finally s0.close()
      }
      println(s"  segments: ${segs.length}")
      val schema = DataType.fromJson(
        spark.table(s"$w.ns.pts").schema.json).asInstanceOf[StructType]
      val (rows, _) = t("read segments")(
        segs.toArray.flatMap(p => GraftSegmentIO.readAll(p, schema)))
      println(s"  rows: ${rows.length}")
      val (key, _) = t("zcurve keyFn")(
        GraftZCurve.keyFn(schema, Seq("x", "y"), rows))
      // before/after pair: sortBy re-evaluates the Morton key per
      // COMPARISON; sortedByCode computes it once per row
      val (_, _) = t("sortBy (old)")(rows.sortBy(key))
      val (sorted, _) = t("sortedByCode (new)")(
        GraftZCurve.sortedByCode(rows, key))
      val outP = segDir.resolve("probe-out.parquet")
      t("write segment")(GraftSegmentIO.write(outP, schema, sorted))
      t("OPTIMIZE (whole)")(GraftMaintenance
        .sql(spark, s"OPTIMIZE $w.ns.pts").collect())
    }
    spark.stop()
  }
}
