package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Child-process entry for [[GraftMultiProcessSpec]]: a REAL second JVM
  * exercising the warehouse commit protocol (OS file lock + hard-link
  * CAS) under genuine process isolation.
  *
  * Modes:
  *  - `append <wh> <cat> <tbl> <from> <to>`: one INSERT per id, then
  *    clean exit — the concurrent-writers stress.
  *  - `mixed <wh> <cat> <tbl> <from> <to>`: INSERTs interleaved with
  *    MOR MERGE updates (every 5th id), MOR DELETEs (every 11th) and
  *    OPTIMIZE (every 7th) — the cross-process COW/MOR soak. Conflict
  *    aborts (ConcurrentModificationException under any wrapping) are
  *    EXPECTED here; the child retries them, which is the documented
  *    optimistic-concurrency contract.
  *  - `crash <wh> <cat> <tbl> _ _`: land a writer task's segment like an
  *    in-flight write would, then `halt` WITHOUT committing — the
  *    kill-mid-commit probe. The contract under test: a crash leaves at
  *    worst an unreferenced segment/tmp, never a log entry referencing
  *    missing data (GraftDurability's claim). */
object ForkedWriterMain {

  private def conflict(e: Throwable): Boolean =
    e != null &&
      (e.isInstanceOf[java.util.ConcurrentModificationException] ||
        conflict(e.getCause))

  private def retry[T](attempts: Int)(body: => T): T = {
    var left = attempts
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: Throwable if conflict(e) && left > 0 =>
          left -= 1
          Thread.sleep(50L + scala.util.Random.nextInt(150))
      }
    }
    out.get
  }
  def main(args: Array[String]): Unit = {
    val Array(mode, wh, cat, tbl, fromS, toS) = args.take(6)
    // optional 7th arg: the GraftLogStore backend (local-fs | file-cas)
    // — `file-cas` runs the whole soak on atomic create-new semantics
    // alone (no hard links, no OS locks): the object-store-shaped
    // protocol across REAL process boundaries
    val logstore = args.lift(6).getOrElse("local-fs")
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-forked-$mode-$cat")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("forked-wh").toString)
      .getOrCreate()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    if (logstore != "local-fs")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse.logstore", logstore)
    // a forked JVM is process-isolated by construction; `mixed` keeps
    // the in-JVM store registered so the maintenance SQL (OPTIMIZE)
    // resolves its table (an explicit logstore opens uncached, which
    // is equivalent isolation — the catalog-scoped maintenance
    // resolution reaches its store through the session)
    if (mode != "mixed" && logstore == "local-fs")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse.isolated", "true")
    mode match {
      case "append" =>
        (fromS.toLong to toS.toLong).foreach { i =>
          spark.sql(s"INSERT INTO $cat.ns.$tbl VALUES ($i, 'w-$cat')")
        }
        spark.stop()
        sys.exit(0)
      case "mixed" =>
        val t = s"$cat.ns.$tbl"
        (fromS.toLong to toS.toLong).foreach { i =>
          retry(60)(spark.sql(s"INSERT INTO $t VALUES ($i, 'w-$cat')"))
          if (i % 5 == 0)
            retry(60)(spark.sql(
              s"""MERGE INTO $t dst USING (SELECT CAST($i AS BIGINT) AS id)
                 |src ON dst.id = src.id
                 |WHEN MATCHED THEN UPDATE SET v = 'm-$cat'
                 |WHEN NOT MATCHED THEN INSERT (id, v)
                 |VALUES (src.id, 'mi-$cat')""".stripMargin))
          if (i % 11 == 0)
            retry(60)(spark.sql(s"DELETE FROM $t WHERE id = $i"))
          if (i % 7 == 0)
            retry(60)(GraftMaintenance.sql(spark, s"OPTIMIZE $t").collect())
        }
        spark.stop()
        sys.exit(0)
      case "identity" =>
        // identity-table writer: every INSERT omits the id; the engine
        // reserves a value block at plan and CONFLICTS at commit when a
        // sibling process claimed it first — the retry IS the contract
        // (r13's optimistic identity allocation, across real JVMs)
        (fromS.toLong to toS.toLong).foreach { i =>
          retry(60)(spark.sql(
            s"INSERT INTO $cat.ns.$tbl (v) VALUES ('w-$cat-$i')"))
        }
        spark.stop()
        sys.exit(0)
      case "copyinto" =>
        // COPY INTO racer: both children ingest the SAME landing dir
        // (derived `<wh>-landing` — the parent writes it) several times
        // over; the per-file ledger marks must make the union land
        // EXACTLY ONCE across processes. A commit-race loser either
        // plans pending-empty or skips at the full-overlap check; a
        // partial overlap aborts with the retry contract (retried here)
        val land = wh + "-landing"
        val t = s"$cat.ns.$tbl"
        (fromS.toInt to toS.toInt).foreach { _ =>
          retry(60)(GraftMaintenance.sql(spark,
            s"COPY INTO $t FROM '$land'").collect())
        }
        spark.stop()
        sys.exit(0)
      case "branch" =>
        // named-branch racer (r17): per id, fork an own-named branch,
        // audit one insert on it, FAST FORWARD it onto main, drop it.
        // Two children doing this concurrently make main a contended
        // fast-forward target: the loser's ancestry check REFUSES
        // (main moved since its fork) and the child re-forks from the
        // new head — the optimistic contract for refs. Exactly-once on
        // main is the assertion: a dropped-and-reforked branch's
        // audited row must land exactly once.
        def diverged(e: Throwable): Boolean =
          e != null && ((e.getMessage != null &&
            e.getMessage.contains("cannot FAST FORWARD")) ||
            diverged(e.getCause))
        val t = s"$cat.ns.$tbl"
        (fromS.toLong to toS.toLong).foreach { i =>
          val b = s"b${cat}_$i"
          var ok = false
          while (!ok) {
            retry(60)(GraftMaintenance.sql(spark,
              s"ALTER TABLE $t CREATE BRANCH $b").collect())
            retry(60)(spark.sql(
              s"INSERT INTO $cat.ns.`$tbl@$b` VALUES ($i, 'b-$cat')"))
            try {
              retry(60)(GraftMaintenance.sql(spark,
                s"ALTER TABLE $t FAST FORWARD TO $b").collect())
              ok = true
            } catch {
              case e: Throwable if diverged(e) => () // re-fork and retry
            }
            retry(60)(GraftMaintenance.sql(spark,
              s"ALTER TABLE $t DROP BRANCH $b").collect())
          }
        }
        spark.stop()
        sys.exit(0)
      case "tagsweep" =>
        // RETAIN-0-sweep racer (r18): hammer the BRANCH chain with
        // overwrites (garbage candidates every round) and immediate
        // RETAIN-1 vacuums (minAge-0 sweeps) while the PARENT creates/
        // reads/drops tags on main under main's lease. The sweeps hold
        // no lease the tag creation holds — the cross-chain window the
        // sweep-intent fence closes. Conflicts (a parent-side sweep or
        // sync racing ours) retry per the optimistic contract.
        val t = s"$cat.ns.$tbl"
        (fromS.toLong to toS.toLong).foreach { i =>
          retry(60)(spark.sql(
            s"INSERT OVERWRITE $cat.ns.`$tbl@sweep` VALUES ($i, 's-$i')"))
          retry(60)(GraftMaintenance.sql(spark,
            s"VACUUM $cat.ns.$tbl@sweep RETAIN 1 SNAPSHOTS").collect())
        }
        spark.stop()
        sys.exit(0)
      case "views" =>
        // view-DDL child (r18): create / replace / drop views against
        // the shared warehouse — the parent observes every step WITHOUT
        // re-open (durable stores read the _views/ JSONs as the source
        // of truth; no invalidation protocol exists to get wrong)
        val t = s"$cat.ns.$tbl"
        GraftMaintenance.sql(spark,
          s"CREATE VIEW $cat.ns.child_v AS " +
            s"SELECT id FROM $t WHERE id % 2 = 0").collect()
        GraftMaintenance.sql(spark,
          s"CREATE OR REPLACE VIEW $cat.ns.child_v AS " +
            s"SELECT id FROM $t WHERE id % 2 = 1").collect()
        GraftMaintenance.sql(spark,
          s"CREATE VIEW $cat.ns.child_gone AS SELECT id FROM $t")
          .collect()
        GraftMaintenance.sql(spark,
          s"DROP VIEW $cat.ns.child_gone").collect()
        spark.stop()
        sys.exit(0)
      case "crash" =>
        val t = spark.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[GraftCatalog].store.tables((Seq("ns"), tbl))
        val spec = t.writeSpec()
        val w = GraftWriterFactory(spec).createWriter(0, 0L)
        w.write(new GenericInternalRow(Array[Any](999L,
          UTF8String.fromString("crash"))))
        w.commit() // the segment lands; the table commit never happens
        Runtime.getRuntime.halt(137)
      case other =>
        System.err.println(s"unknown mode $other"); sys.exit(2)
    }
  }
}
