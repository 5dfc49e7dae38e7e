package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import graft.functions.{TextFunctions => TF, TextSql => TS, VectorFunctions => VF, VectorSql => VS}

/** Training-data curation operators beyond dedup/similarity: sequence
  * packing, repetition-quality signals, domain mixture weighting, and a
  * full k-means (Lloyd) iteration over the embedding corpus.
  *
  * Scale design (100 TB posture): packing is sharded so no global window
  * ever forms; repetition signals are per-row array folds with zero
  * shuffle; mixture weights aggregate to source cardinality before any
  * join; the Lloyd E-step is a broadcast nested-loop whose argmax
  * collapses map-side — one row per vector crosses the shuffle, not one
  * per (vector, centroid).
  */
object CurationQueries {

  /** Tokens per packed training sequence (the context-window budget). */
  val ChunkTokens = 512L

  /** Packing shards: documents are packed independently within each of
    * these hash shards, so the running-offset window is partitioned — at
    * corpus scale this is the knob that keeps packing embarrassingly
    * parallel (one shard ≈ one writer task). 8 here to exercise multiple
    * shards at the harness SFs; a 100 TB run sets it to O(output files). */
  val PackShards = 8L

  /** t25 sliding-window chunking: window width and stride in tokens
    * (stride < width ⇒ overlapping retrieval chunks). */
  val ChunkWords = 32L
  val ChunkStride = 24L

  /** t27 scrub blocklist — ONE definition site: the Spark lambda and the
    * oracle IN-list are both emitted from this Seq. */
  val Blocklist = Seq("customer", "stream", "vector")

  /** t46 per-DOMAIN char budget (the flattened-mixture execution knob:
    * every source contributes at most this many chars to the sample). */
  val DomainBudgetChars = 2000L

  val all: Seq[Q] = Seq(

    // ----- the COMPOSED curation lifecycle (the flagship of the
    // training-data surface, as g1/g2 are of the relational one): exact
    // dedup (t4's keyed keeper) → Gopher-style quality gate (t42's four
    // integer-exact rules) → per-source cap (t38's deterministic
    // md5-rank keep-set, the two-phase top-K underneath) — each stage
    // feeding the next, with a per-source funnel census of what
    // survived each cut. This is the query a data-curation run IS; the
    // stages are individually oracled (t4/t42/t38), and the composition
    // pins that they agree end-to-end. Plan: one dup-key window, one
    // token explode + two linear aggregates, one two-phase rank — no
    // pair fan-out, no global window, the same scale posture as the
    // parts.
    Q("c1_curation_pipeline", "CURATE-compose,DEDUP-exact,CURATE-gate," +
      "CURATE-caps,A1,A7",
      s"""WITH keyed AS (
         |  SELECT doc_id, source, n_chars, text,
         |    md5(array_to_string(string_split(text, ' ')[1:3], ' '))
         |      AS dup_key
         |  FROM documents),
         |surv AS (
         |  SELECT * FROM (
         |    SELECT doc_id, source, n_chars, text,
         |      min(doc_id) OVER (PARTITION BY dup_key) AS keeper
         |    FROM keyed) WHERE doc_id = keeper),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM surv),
         |tt AS (SELECT doc_id, term, count(*) AS cnt FROM tok
         |       WHERE term <> '' GROUP BY doc_id, term),
         |m AS (SELECT doc_id, sum(cnt) AS words,
         |        sum(cnt * length(term)) AS sumlen, max(cnt) AS maxcnt,
         |        sum(CASE WHEN term IN ('a', 'the') THEN 1 ELSE 0 END)
         |          AS stops
         |      FROM tt GROUP BY doc_id),
         |gated AS (
         |  SELECT s.doc_id, s.source, s.n_chars FROM surv s JOIN m
         |    ON s.doc_id = m.doc_id
         |  WHERE m.words BETWEEN 20 AND 90
         |    AND 33 * m.words <= 10 * m.sumlen
         |    AND 10 * m.sumlen <= 47 * m.words
         |    AND m.stops >= 2 AND 20 * m.maxcnt < 3 * m.words),
         |capped AS (
         |  SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM gated)
         |SELECT k.source,
         |  CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_dedup,
         |  CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_gated,
         |  CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_final,
         |  CAST(COALESCE(sum(CASE WHEN c.doc_id IS NOT NULL
         |    AND k.doc_id = c.doc_id THEN c.n_chars END), 0) AS BIGINT)
         |    AS final_chars
         |FROM keyed k
         |LEFT JOIN surv s ON k.doc_id = s.doc_id
         |LEFT JOIN gated g ON k.doc_id = g.doc_id
         |LEFT JOIN (SELECT * FROM capped WHERE rk <= ${TextQueries.SourceCap})
         |  c ON k.doc_id = c.doc_id
         |GROUP BY k.source ORDER BY k.source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // stage 1: exact dedup (t4's key, min-doc_id keeper) — the
      // min-over-window is spelled row_number() = 1 (r21, opt guide
      // §2.3): doc_id is unique, so the rank-1 row IS the min-doc_id
      // keeper, and the rank-limit shape unlocks Spark's
      // WindowGroupLimit pushdown — duplicates collapse map-side
      // BEFORE the exchange, so the dup-key shuffle carries ~one
      // text payload per key per map task instead of the whole corpus
      val keyed = docs.select(col("doc_id"), col("source"),
        col("n_chars"), col("text"),
        md5(array_join(slice(TF.tokens(col("text")), 1, 3), " "))
          .as("dup_key"))
      val surv = Caches.persistTracked(
        graft.operators.Dedup.deterministic(keyed,
          key = Seq("dup_key"), tiebreak = Seq("doc_id"))
        .drop("dup_key"))
      // stage 2: the t42 rule gate over survivors — the four per-doc
      // integers are ONE narrow gateStats projection (r21, guide
      // §2.3/§2.4); the old explode → two groupBys → join-back chain
      // shuffled every token occurrence twice to compute them
      val gated = Caches.persistTracked(surv
        .withColumn("gs", TextQueries.gateStats(col("text")))
        .filter(TextQueries.gateKeeps(col("gs")))
        .select("doc_id", "source", "n_chars"))
      // stage 3: the t38 two-phase per-source cap over the gated set
      val fin = TextQueries.cappedKeepSet(gated, TextQueries.SourceCap)
        .select(col("doc_id"), col("source"))
      // funnel census per source
      val raw = docs.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_raw"))
      val nDedup = surv.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_dedup"))
      val nGated = gated.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_gated"))
      val nFinal = fin.join(gated, Seq("doc_id", "source"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_final"),
          sum(col("n_chars")).cast("long").as("final_chars"))
      raw.join(nDedup, Seq("source"), "left")
        .join(nGated, Seq("source"), "left")
        .join(nFinal, Seq("source"), "left")
        .select(col("source"), col("n_raw"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_gated"), lit(0L)).as("n_gated"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("final_chars"), lit(0L)).as("final_chars"))
        .orderBy("source")
    },

    // ----- the curation lifecycle ON THE DURABLE LAKEHOUSE (the g2-move
    // for the training-data surface): c1's stages plus a MinHash-family
    // NEAR-DEDUP keeper stage between exact dedup and the quality gate
    // (the t18 contract — df-capped n-gram Jaccard pair graph at 0.2,
    // connected components, min-doc keeper per cluster), a (round 16)
    // DECONTAMINATION stage between gate and cap (the t16 contract —
    // gated docs sharing any 4-gram shingle with the held-out set
    // leave before the cap spends budget on them), with EVERY
    // stage landing as a catalog table in a fresh scratch warehouse —
    // survivors, near-dedup keepers, gated set, decontaminated set,
    // the final capped corpus AND (round 15) the t46 per-domain
    // BUDGET sample — the mixture-execution step that closes the
    // curate→mix lifecycle —
    // are all parquet segments written INSIDE writer tasks and
    // read back executor-side, so the benched curation pipeline
    // measures the segment-IO route a 100 TB curation run takes. The
    // funnel census reads the CATALOG tables, proving each stage's
    // durable round-trip. Plan: one dup-key window, one df-capped
    // pair join (pair space structurally bounded, drop list broadcast),
    // one token explode + two linear aggregates, one eval-broadcast
    // shingle semi-join, one two-phase rank, one two-phase per-domain
    // prefix sum — no pair fan-out beyond the capped graph, no global
    // window, zero rows on the driver.
    Q("c2_curation_lakehouse", "CURATE-compose,DEDUP-exact,DEDUP-ngram," +
      "CURATE-gate,TXT-decontam,CURATE-caps,CURATE-budget,E-durable,A1,A7",
      s"""WITH RECURSIVE keyed AS (
         |  SELECT doc_id, source, n_chars, text,
         |    md5(array_to_string(string_split(text, ' ')[1:3], ' '))
         |      AS dup_key
         |  FROM documents),
         |surv AS (
         |  SELECT doc_id, source, n_chars, text FROM (
         |    SELECT doc_id, source, n_chars, text,
         |      min(doc_id) OVER (PARTITION BY dup_key) AS keeper
         |    FROM keyed) WHERE doc_id = keeper),
         |${TextQueries.ngramCteBodyOver("surv")},
         |pairs AS (SELECT doc_a, doc_b FROM scored WHERE jac >= 0.2),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |walk(node, comp) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node),
         |comp AS (SELECT node, min(comp) AS component FROM walk
         |         GROUP BY node),
         |drops AS (SELECT node FROM comp WHERE node <> component),
         |near AS (SELECT s.doc_id, s.source, s.n_chars, s.text
         |         FROM surv s LEFT JOIN drops d ON s.doc_id = d.node
         |         WHERE d.node IS NULL),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM near),
         |tt AS (SELECT doc_id, term, count(*) AS cnt FROM tok
         |       WHERE term <> '' GROUP BY doc_id, term),
         |m AS (SELECT doc_id, sum(cnt) AS words,
         |        sum(cnt * length(term)) AS sumlen, max(cnt) AS maxcnt,
         |        sum(CASE WHEN term IN ('a', 'the') THEN 1 ELSE 0 END)
         |          AS stops
         |      FROM tt GROUP BY doc_id),
         |gated AS (
         |  SELECT n.doc_id, n.source, n.n_chars FROM near n JOIN m
         |    ON n.doc_id = m.doc_id
         |  WHERE m.words BETWEEN 20 AND 90
         |    AND 33 * m.words <= 10 * m.sumlen
         |    AND 10 * m.sumlen <= 47 * m.words
         |    AND m.stops >= 2 AND 20 * m.maxcnt < 3 * m.words),
         |et AS (SELECT string_split(text, ' ') AS el FROM documents
         |       WHERE doc_id % 97 = 0),
         |esh AS (SELECT DISTINCT
         |          unnest(list_transform(${TS.shingles("el", 4)},
         |            x -> ${TS.hash("x")})) AS h
         |        FROM et),
         |nt AS (SELECT g.doc_id, string_split(n.text, ' ') AS nl
         |       FROM gated g JOIN near n ON g.doc_id = n.doc_id),
         |nsh AS (SELECT doc_id,
         |          unnest(list_transform(${TS.shingles("nl", 4)},
         |            x -> ${TS.hash("x")})) AS h
         |        FROM nt),
         |contam AS (SELECT DISTINCT n.doc_id FROM nsh n
         |           JOIN esh e ON n.h = e.h),
         |decon AS (SELECT g.doc_id, g.source, g.n_chars FROM gated g
         |          LEFT JOIN contam x ON g.doc_id = x.doc_id
         |          WHERE x.doc_id IS NULL),
         |capped AS (
         |  SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM decon),
         |fin AS (SELECT doc_id, source, n_chars FROM capped
         |        WHERE rk <= ${TextQueries.SourceCap}),
         |budget AS (
         |  SELECT doc_id, source, n_chars FROM (
         |    SELECT doc_id, source, n_chars,
         |      COALESCE(sum(n_chars) OVER (PARTITION BY source
         |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS before_chars
         |    FROM fin) WHERE before_chars < $DomainBudgetChars)
         |SELECT k.source,
         |  CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_dedup,
         |  CAST(count(DISTINCT nn.doc_id) AS BIGINT) AS n_near,
         |  CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_gated,
         |  CAST(count(DISTINCT dd.doc_id) AS BIGINT) AS n_decon,
         |  CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_final,
         |  CAST(COALESCE(sum(CASE WHEN c.doc_id IS NOT NULL
         |    AND k.doc_id = c.doc_id THEN c.n_chars END), 0) AS BIGINT)
         |    AS final_chars,
         |  CAST(count(DISTINCT bu.doc_id) AS BIGINT) AS n_budget,
         |  CAST(COALESCE(sum(CASE WHEN bu.doc_id IS NOT NULL
         |    AND k.doc_id = bu.doc_id THEN bu.n_chars END), 0) AS BIGINT)
         |    AS budget_chars
         |FROM keyed k
         |LEFT JOIN surv s ON k.doc_id = s.doc_id
         |LEFT JOIN near nn ON k.doc_id = nn.doc_id
         |LEFT JOIN gated g ON k.doc_id = g.doc_id
         |LEFT JOIN decon dd ON k.doc_id = dd.doc_id
         |LEFT JOIN fin c ON k.doc_id = c.doc_id
         |LEFT JOIN budget bu ON k.doc_id = bu.doc_id
         |GROUP BY k.source ORDER BY k.source""".stripMargin) { (s, dir) =>
      val cat = s"c2c_${java.util.UUID.randomUUID().toString.take(8)}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        TempDirs.scratch("graft-c2wh"))
      val docs = Tables.documents(s, dir)
      // DAG-shaped census submission (r20, opt guide §2.6 — the
      // g1/g2 publish pattern applied to the funnel census): each
      // stage's per-source census is INDEPENDENT of every later stage,
      // so it submits on a small pool as soon as its table lands and
      // materializes concurrently with the next stage's computation,
      // back-filling the stage jobs' task tails. The final join then
      // reads the persisted (source-cardinality) census frames. Same
      // aggregates, same results — only the submission order changes;
      // a census failure still fails the query at the barrier.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val pending =
        scala.collection.mutable.ArrayBuffer.empty[Future[Long]]
      def census(df: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val c = Caches.persistTracked(df)
        pending += Future(c.count())
        c
      }
      try {
      val raw = census(docs.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_raw")))
      // stage 1: exact dedup (t4's key, min-doc_id keeper) → catalog.
      // row_number() = 1 instead of min-over-window (r21, c1's note):
      // same keeper (doc_id unique), but the rank shape gets
      // WindowGroupLimit — duplicates collapse map-side before the
      // dup-key exchange ever moves a text payload
      val keyed = docs.select(col("doc_id"), col("source"),
        col("n_chars"), col("text"),
        md5(array_join(slice(TF.tokens(col("text")), 1, 3), " "))
          .as("dup_key"))
      graft.operators.Dedup.deterministic(keyed,
          key = Seq("dup_key"), tiebreak = Seq("doc_id"))
        .select("doc_id", "source", "n_chars", "text")
        .writeTo(s"$cat.ns.c2_surv").partitionedBy(col("source")).create()
      val survT = s.table(s"$cat.ns.c2_surv")
      val nDedup = census(survT.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_dedup")))
      // stage 2: near-dedup keepers (t18's contract) over the DURABLE
      // survivors: df-capped Jaccard pairs → CC → drop non-minimal
      // cluster members; the drop list is pair-sized — broadcast it so
      // the survivor table never shuffles
      val edges = TextQueries.ngramScoredOver(survT)
        .filter(col("jac") >= 0.2)
        .select("doc_a", "doc_b")
      val drops = graft.operators.ConnectedComponents(edges)
        .filter(col("node") =!= col("component"))
        .select(col("node"), lit(1).as("dropped"))
      // size-gated like t18's drop list: keyed-shuffle fallback past
      // the broadcast ceiling (GatedBroadcast counts the CC output)
      survT.join(graft.operators.GatedBroadcast(drops),
          col("doc_id") === col("node"), "left")
        .filter(col("dropped").isNull)
        .select("doc_id", "source", "n_chars", "text")
        .writeTo(s"$cat.ns.c2_near").partitionedBy(col("source")).create()
      val nearT = s.table(s"$cat.ns.c2_near")
      val nNear = census(nearT.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_near")))
      // stage 3: the t42 rule gate over near-dedup keepers → catalog.
      // The four per-doc integers are ONE narrow gateStats projection
      // (r21, guide §2.3/§2.4): the whole stage is now scan → filter →
      // CTAS in a single pass over near — the old shape exploded the
      // tokens, shuffled them twice (doc+term, then doc) and re-joined
      // the stats to a SECOND scan of near, three exchanges and a
      // token-grain shuffle that this per-row arithmetic never needed.
      // the gated table CARRIES TEXT: the decon stage below shingles
      // exactly the docs it can drop (gated ⊆ near, and contamination
      // of an already-dropped doc cannot change the decon result), so
      // the shingle pass runs over the post-gate corpus, not all of near
      nearT
        .withColumn("gs", TextQueries.gateStats(col("text")))
        .filter(TextQueries.gateKeeps(col("gs")))
        .select("doc_id", "source", "n_chars", "text")
        .writeTo(s"$cat.ns.c2_gated").create()
      val gatedT = s.table(s"$cat.ns.c2_gated")
      val nGated = census(gatedT.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_gated")))
      // stage 4 (round 16): DECONTAMINATION (t16's contract) between
      // gate and cap — real pipelines decontaminate before capping so
      // eval-overlapping docs never consume the corpus budget. Gated
      // docs sharing ANY 4-gram shingle hash with the held-out set
      // (doc_id % 97 = 0 over the RAW corpus — the eval set must be
      // checked even where the funnel already dropped its members)
      // leave the corpus. Scale shape: the eval shingle set is
      // eval-set-sized (bounded by the benchmark, not the corpus) —
      // but for UNIFORMITY with every other derived side it still goes
      // through GatedBroadcast (a pathological eval set falls back to
      // the keyed shuffle instead of failing at the hint); the
      // corpus-side shingle pass runs over the GATED set only
      // (gated ⊆ near, and contamination of an already-dropped doc
      // cannot change gated∖contaminated — the post-gate corpus is the
      // smallest relation the semantics allow); the contaminated id
      // list scales with the contamination rate → GatedBroadcast, the
      // same keyed-shuffle fallback as the near-dedup drop list. The
      // eval shingle set persists POST-distinct so the gate's count is
      // a cache scan, and the hash stays inside a persisted projection
      // (the generator re-eval landmine).
      val evalSh = Caches.persistTracked(docs
        .filter(col("doc_id") % 97 === 0)
        .select(transform(TF.shingles(TF.tokens(col("text")), 4),
          x => TF.polyHash(x)).as("hs"))
        .select(explode(col("hs")).as("h")).distinct())
      val gatedSh = Caches.persistTracked(gatedT
        .select(col("doc_id"),
          transform(TF.shingles(TF.tokens(col("text")), 4),
            x => TF.polyHash(x)).as("hs")))
      // MATERIALIZED before the gate: GatedBroadcast counts the side,
      // and an unpersisted count would recompute the shingle join once
      // for the count and again for the join itself
      val contaminated = Caches.persistTracked(gatedSh
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .join(graft.operators.GatedBroadcast(evalSh), "h")
        .select(col("doc_id").as("cdoc")).distinct()
        .withColumn("contam", lit(1)))
      gatedT.join(graft.operators.GatedBroadcast(contaminated),
          col("doc_id") === col("cdoc"), "left")
        .filter(col("contam").isNull)
        .select("doc_id", "source", "n_chars")
        .writeTo(s"$cat.ns.c2_decon").create()
      val deconT = s.table(s"$cat.ns.c2_decon")
      val nDecon = census(deconT.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_decon")))
      // stage 5: the t38 two-phase per-source cap → the final corpus
      TextQueries.cappedKeepSet(deconT, TextQueries.SourceCap)
        .select("doc_id", "source")
        .join(deconT, Seq("doc_id", "source"))
        .select("doc_id", "source", "n_chars")
        .writeTo(s"$cat.ns.c2_final").create()
      val finalT = s.table(s"$cat.ns.c2_final")
      val nFinal = census(finalT.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_final"),
          sum(col("n_chars")).cast("long").as("final_chars")))
      // stage 6 (round 15): the t46 per-DOMAIN budget over the curated
      // corpus — the MIXTURE-EXECUTION step that closes the
      // curate→mix lifecycle: each source contributes docs in
      // deterministic md5 order until its char budget fills. Same
      // two-phase prefix sum as t46 (a dominant domain spreads over
      // 256 buckets); lands as a catalog table like every other stage
      val h5 = finalT.select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("hk"))
        .withColumn("bucket", substring(col("hk"), 1, 2))
      val local5 = h5.withColumn("lb",
        coalesce(sum(col("n_chars")).over(
          Window.partitionBy("source", "bucket").orderBy("hk", "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val offsets5 = h5.groupBy("source", "bucket")
        .agg(sum(col("n_chars")).as("tot"))
        .withColumn("off", coalesce(sum(col("tot")).over(
          Window.partitionBy("source").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("source", "bucket", "off")
      local5.join(broadcast(offsets5), Seq("source", "bucket"))
        .filter(col("lb") + col("off") < DomainBudgetChars)
        .select("doc_id", "source", "n_chars")
        .writeTo(s"$cat.ns.c2_budget").create()
      val budgetT = s.table(s"$cat.ns.c2_budget")
      // the tail census (nothing left to hide it behind) + the barrier:
      // every stage census — submitted as its table landed — must be
      // materialized before the final join reads the cached frames
      val nBudget = census(budgetT.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_budget"),
          sum(col("n_chars")).cast("long").as("budget_chars")))
      // finite barrier (r20 ADVICE): a hung census job fails the query
      // after a generous bound instead of wedging the builder forever
      pending.foreach(Await.result(_, Duration(30, "min")))
      raw.join(nDedup, Seq("source"), "left")
        .join(nNear, Seq("source"), "left")
        .join(nGated, Seq("source"), "left")
        .join(nDecon, Seq("source"), "left")
        .join(nFinal, Seq("source"), "left")
        .join(nBudget, Seq("source"), "left")
        .select(col("source"), col("n_raw"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          coalesce(col("n_gated"), lit(0L)).as("n_gated"),
          coalesce(col("n_decon"), lit(0L)).as("n_decon"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("final_chars"), lit(0L)).as("final_chars"),
          coalesce(col("n_budget"), lit(0L)).as("n_budget"),
          coalesce(col("budget_chars"), lit(0L)).as("budget_chars"))
        .orderBy("source")
      } finally pool.shutdown()
    },

    // ----- the COMPOSED TOKENIZER-PREP lifecycle (round 20): the c1/g1
    // move for the tokenizer family — BPE train (t48's shared loop) →
    // corpus ENCODE under the trained merges (t49's semantics, carried
    // per document instead of corpus-wide) → sequence PACK over the
    // encoded token stream (t20's sharded running offsets, fed BPE
    // counts instead of whitespace counts) → MIXTURE weights over the
    // encoded stream (t23's shares/weights, on BPE tokens). Each stage
    // is individually oracled (t48/t49/t20/t23); this one row pins the
    // COMPOSITION: encode with a stale vocab, pack before encode, or
    // weights over pre-encode counts all break the hash. Plan: the
    // train loop's vocab table (distinct-word sized, kilobytes at any
    // corpus scale) broadcasts into ONE corpus-pass word join whose
    // per-doc aggregate collapses map-side; packing stays a sharded
    // window (never global); the grand total is a 1-row broadcast. At
    // 100 TB the marginal cost over training is one token-explode pass
    // — the same posture as t49 — and the train itself iterates on the
    // vocab table only (see the t48 registry note).
    Q("c3_tokenizer_lifecycle", "CURATE-compose,BPE-train,BPE-encode," +
      "PACK-sequences,MIX-weights,A7,A10,W7", {
      val rounds = TextQueries.BpeRounds
      s"""${TextQueries.bpeRoundsCte},
         |wt AS (SELECT replace(seq, '.', '') AS word,
         |         CAST(len(list_filter(string_split(seq, '..'),
         |           x -> len(x) > 0)) AS BIGINT) AS w_tok
         |       FROM v$rounds),
         |dt AS (SELECT doc_id, source,
         |         unnest(string_split(text, ' ')) AS word
         |       FROM documents),
         |enc AS (SELECT dt.doc_id, dt.source,
         |          CAST(count(*) AS BIGINT) AS n_words,
         |          CAST(sum(coalesce(wt.w_tok, 1)) AS BIGINT) AS n_bpe
         |        FROM dt LEFT JOIN wt ON dt.word = wt.word
         |        GROUP BY 1, 2),
         |pk AS (SELECT doc_id, source, n_words, n_bpe,
         |         CAST(${TS.hash("'pack|' || doc_id")} % $PackShards
         |           AS INT) AS shard
         |       FROM enc),
         |wnd AS (SELECT doc_id, source, n_words, n_bpe,
         |          sum(n_bpe) OVER (PARTITION BY shard ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum
         |        FROM pk),
         |ck AS (SELECT doc_id, source, n_words, n_bpe,
         |         (cum - 1) // $ChunkTokens
         |           - (cum - n_bpe) // $ChunkTokens + 1 AS n_chunks
         |       FROM wnd),
         |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_words) AS BIGINT) AS n_words,
         |         CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
         |         CAST(sum(n_chunks) AS BIGINT) AS chunk_spans
         |       FROM ck GROUP BY source),
         |g AS (SELECT count(*) AS n_sources,
         |        CAST(sum(n_bpe) AS BIGINT) AS total_bpe FROM st)
         |SELECT source, n_docs, n_words, n_bpe, chunk_spans,
         |  round(CAST(n_bpe AS DOUBLE) / total_bpe, 6) AS token_share,
         |  round(CAST(total_bpe AS DOUBLE) / (n_sources * n_bpe), 6)
         |    AS weight
         |FROM st CROSS JOIN g ORDER BY source""".stripMargin
    }) { (s, dir) =>
      // stage 1: BPE train — the SHARED t48 loop (one train per
      // invocation; vocab is the persisted (tokenization, word-count)
      // table the encode reads)
      val (vocab, _) = TextQueries.bpeTrain(s, dir)
      // stage 2: encode — word → trained-token count, distinct-word
      // sized (the '.'-stripped seq IS the word; merges preserve it).
      // Untrained words (non-[a-z]+: numbers, punctuation) fall back
      // to one token — the <unk> contract, stated identically in the
      // oracle's coalesce.
      val wordTok = vocab.select(
        regexp_replace(col("seq"), "\\.", "").as("word"),
        size(filter(split(col("seq"), "\\.\\."),
          t => length(t) > 0)).cast("long").as("w_tok"))
      val enc = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TF.tokens(col("text"))).as("word"))
        .join(broadcast(wordTok), Seq("word"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_words"),
          sum(coalesce(col("w_tok"), lit(1L))).as("n_bpe"))
      // stage 3: pack the ENCODED stream — t20's shard + running
      // offset, fed n_bpe (the composition pin: whitespace counts here
      // would reproduce t20 and break the hash)
      val shard = pmod(
        TF.polyHash(concat(lit("pack|"), col("doc_id").cast("string"))),
        lit(PackShards)).cast("int")
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = enc.withColumn("shard", shard)
        .withColumn("cum", sum("n_bpe").over(w))
        .withColumn("n_chunks",
          expr(s"(cum - 1) div $ChunkTokens" +
            s" - (cum - n_bpe) div $ChunkTokens + 1"))
      // stage 4: mixture weights over the encoded stream (t23 on BPE
      // tokens) + the per-source funnel census
      val bySource = packed.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").cast("long").as("n_words"),
          sum("n_bpe").cast("long").as("n_bpe"),
          sum("n_chunks").cast("long").as("chunk_spans"))
      val grand = bySource.agg(count(lit(1)).as("n_sources"),
        sum("n_bpe").as("total_bpe"))
      bySource.crossJoin(broadcast(grand))
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_bpe"), col("chunk_spans"),
          round(col("n_bpe").cast("double") / col("total_bpe"), 6)
            .as("token_share"),
          round(col("total_bpe").cast("double")
            / (col("n_sources") * col("n_bpe")), 6).as("weight"))
        .orderBy("source")
    },

    // ----- per-DOMAIN token-budget sampling (mixture EXECUTION — the
    // op that realizes t23's flattened mixture under a budget): every
    // source contributes documents in deterministic md5 order until its
    // own char budget fills (in iff the source-local running total
    // BEFORE the doc is under budget — the t45 rule, per domain), so no
    // source can dominate the sample and reruns are bit-stable. Scale
    // posture: the per-source prefix sum is TWO-PHASE like t45's global
    // one — phase 1 windows over (source, 2-hex-digit bucket) so a
    // corpus-dominating source spreads over 256 partitions instead of
    // serializing one; phase 2 re-bases by the (source-count × 256)-row
    // broadcast prefix of per-(source, bucket) totals. The oracle
    // restates it as the single per-source window, result-identical.
    Q("t46_domain_budget_sample", "CURATE-budget,MIX-weights,W7,A7", {
      val b = DomainBudgetChars
      s"""WITH h AS (SELECT doc_id, source, n_chars,
         |             md5(CAST(doc_id AS VARCHAR)) AS hk
         |           FROM documents),
         |r AS (SELECT doc_id, source, n_chars,
         |        COALESCE(sum(n_chars) OVER (PARTITION BY source
         |          ORDER BY hk, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS before_chars
         |      FROM h)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN before_chars < $b THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN before_chars < $b THEN n_chars ELSE 0 END)
         |    AS BIGINT) AS sampled_chars
         |FROM r GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val h = Caches.persistTracked(Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("doc_id").cast("string")).as("hk"))
        .withColumn("bucket", substring(col("hk"), 1, 2)))
      // phase 1: per-(source, bucket) running totals — 256-way parallel
      // INSIDE each source, so a dominant domain never serializes
      val local = h.withColumn("lb",
        coalesce(sum(col("n_chars")).over(
          Window.partitionBy("source", "bucket").orderBy("hk", "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // phase 2: re-base by the per-source prefix of bucket totals
      // (source-cardinality × 256 rows — broadcast side)
      val offsets = h.groupBy("source", "bucket")
        .agg(sum(col("n_chars")).as("tot"))
        .withColumn("off", coalesce(sum(col("tot")).over(
          Window.partitionBy("source").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("source", "bucket", "off")
      local.join(broadcast(offsets), Seq("source", "bucket"))
        .withColumn("before_chars", col("lb") + col("off"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("before_chars") < DomainBudgetChars, 1L)
            .otherwise(0L)).cast("long").as("n_sampled"),
          sum(when(col("before_chars") < DomainBudgetChars,
            col("n_chars")).otherwise(0L)).cast("long")
            .as("sampled_chars"))
        .orderBy("source")
    },

    // ----- sequence packing (concat-and-chunk): the GPT-style pretraining
    // layout — documents are concatenated in a deterministic per-shard
    // order and the token stream is split every ChunkTokens tokens. Emits
    // each document's shard, its token offset in the shard's stream, the
    // first chunk it lands in, and how many chunks it spans (a doc
    // straddling a boundary is split across sequences). The offsets are a
    // running sum over (shard, doc_id) — partitioned, never global — and
    // chunk ids are exact integer division, bit-equal in any engine.
    Q("t20_seq_pack", "PACK-sequences,W7",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(${TS.hash("'pack|' || doc_id")} % $PackShards AS INT) AS shard
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(cum - n_tokens AS BIGINT) AS tok_offset,
         |  CAST((cum - n_tokens) // $ChunkTokens AS BIGINT) AS chunk_first,
         |  CAST((cum - 1) // $ChunkTokens
         |       - (cum - n_tokens) // $ChunkTokens + 1 AS BIGINT) AS n_chunks
         |FROM w ORDER BY shard, doc_id""".stripMargin) { (s, dir) =>
      val shard = pmod(
        TF.polyHash(concat(lit("pack|"), col("doc_id").cast("string"))),
        lit(PackShards)).cast("int")
      val t = Tables.documents(s, dir).select(
        col("doc_id"),
        size(TF.tokens(col("text"))).cast("long").as("n_tokens"),
        shard.as("shard"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("tok_offset"),
          expr(s"(cum - n_tokens) div $ChunkTokens").as("chunk_first"),
          expr(s"(cum - 1) div $ChunkTokens" +
            s" - (cum - n_tokens) div $ChunkTokens + 1").as("n_chunks"))
        .orderBy("shard", "doc_id")
    },

    // ----- repetition signals (Gopher-style quality filters): per
    // document, the mode-token count/fraction and the duplicate-bigram
    // fraction — the signals that catch boilerplate and degenerate
    // repetition before training. The Spark side is SHUFFLE-FREE: the mode
    // count is the longest run in the sorted token array (an O(n log n)
    // per-row fold), distinct bigrams an array_distinct over a zip — no
    // token explode ever leaves the row. The oracle states the same
    // semantics the relational way (unnest + count) since DuckDB's list
    // fold cannot carry struct state; results are bit-equal.
    Q("t22_repetition", "TXT-repetition,TXT-quality",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |t2 AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) >= 2),
        |w AS (SELECT doc_id, unnest(l) AS tok FROM t2),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS top_n FROM tc GROUP BY 1),
        |bg AS (SELECT doc_id,
        |  len(list_distinct(list_transform(range(len(l) - 1),
        |    i -> l[CAST(i AS INT) + 1] || ' ' || l[CAST(i AS INT) + 2]))) AS nb
        |  FROM t2)
        |SELECT t2.doc_id, CAST(t2.n AS BIGINT) AS n_tokens,
        |  CAST(top.top_n AS BIGINT) AS top_token_n,
        |  round(CAST(top.top_n AS DOUBLE) / t2.n, 6) AS top_token_frac,
        |  round(1 - CAST(bg.nb AS DOUBLE) / (t2.n - 1), 6) AS dup_bigram_frac
        |FROM t2
        |JOIN top ON t2.doc_id = top.doc_id
        |JOIN bg ON t2.doc_id = bg.doc_id
        |ORDER BY t2.doc_id""".stripMargin) { (s, dir) =>
      val toks = TF.tokens(col("text"))
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("l"), size(toks).cast("long").as("n"))
        .filter(col("n") >= 2)
      // mode count = longest run in the sorted array: fold carrying
      // (prev token, current run, best run) as a struct accumulator
      val sorted = sort_array(col("l"))
      val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
      val topN = aggregate(sorted, zero,
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      val bigrams = zip_with(
        slice(col("l"), lit(1), (size(col("l")) - 1).cast("int")),
        slice(col("l"), lit(2), (size(col("l")) - 1).cast("int")),
        (a, b) => concat(a, lit(" "), b))
      base.select(
        col("doc_id"),
        col("n").as("n_tokens"),
        topN.as("top_token_n"),
        round(topN.cast("double") / col("n"), 6).as("top_token_frac"),
        round(lit(1) - size(array_distinct(bigrams)).cast("double")
          / (col("n") - 1), 6).as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // ----- domain mixture weights: per-source token shares and the
    // resampling weight that flattens the mixture to uniform — the knob a
    // pretraining run turns to hit a target domain mix. weight =
    // target_share / actual_share = total / (n_sources · source_tokens);
    // every input is an exact count, the two divisions are the same IEEE
    // ops in both engines. Plan: one source-cardinality aggregate, then a
    // broadcast of the 1-row grand total — the corpus is read once.
    Q("t23_mixture_weights", "MIX-weights,A7,A10",
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT count(*) AS n_sources,
        |             CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM s)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
        |  round(CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens), 6)
        |    AS weight
        |FROM s CROSS JOIN g ORDER BY source""".stripMargin) { (s, dir) =>
      val bySource = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TF.tokens(col("text"))).cast("long")).as("n_tokens"))
      val grand = bySource.agg(
        count(lit(1)).as("n_sources"),
        sum("n_tokens").as("total_tokens"))
      bySource.crossJoin(broadcast(grand))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("total_tokens"), 6)
            .as("token_share"),
          round(col("total_tokens").cast("double")
            / (col("n_sources") * col("n_tokens")), 6).as("weight"))
        .orderBy("source")
    },

    // ----- one full k-means (Lloyd) iteration, spherical (cosine) metric:
    // E-step assigns every vector to its nearest centroid, M-step emits
    // the per-cluster per-dimension means and cluster sizes — composing
    // v4's trained assignment with v7's exact-decimal centroid build into
    // the update a k-means trainer loops. The E-step is a broadcast
    // nested-loop over the centroid table whose argmax collapses in the
    // partial aggregate: ONE row per vector crosses the shuffle, not one
    // per (vector, centroid) — the window formulation would shuffle and
    // sort N·K rows. DECIMAL(28,10) sums make the means order-free, so
    // the doubles are bit-identical cross-engine.
    Q("v9_kmeans_iter", "ANN-kmeans-iter,A4", {
      val acos = s"${VS.dot("n.v", "c.cv")} / (n.nrm * c.cn)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, ${VS.norm("v")} AS nrm FROM e),
         |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
         |      FROM n WHERE vec_id % ${VectorQueries.CentroidStep} = 0),
         |asgscored AS (
         |  SELECT n.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY n.vec_id
         |                       ORDER BY $acos DESC, c.centroid_id) AS rn
         |  FROM n CROSS JOIN c),
         |asg AS (SELECT vec_id, centroid_id FROM asgscored WHERE rn = 1),
         |sizes AS (SELECT centroid_id, count(*) AS n_members
         |          FROM asg GROUP BY 1),
         |m AS (SELECT a.centroid_id, unnest(n.v) AS ev,
         |             unnest(range(len(n.v))) AS i
         |      FROM asg a JOIN n ON a.vec_id = n.vec_id),
         |newc AS (
         |  SELECT centroid_id, CAST(i AS INT) AS i,
         |    round(CAST(SUM(CAST(ev AS DECIMAL(28,10))) AS DOUBLE)
         |          / COUNT(*), 6) AS c_new
         |  FROM m GROUP BY 1, 2)
         |SELECT newc.centroid_id, newc.i, newc.c_new,
         |       CAST(s.n_members AS BIGINT) AS n_members
         |FROM newc JOIN sizes s ON newc.centroid_id = s.centroid_id
         |ORDER BY 1, 2""".stripMargin
    }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
      val cent = broadcast(
        e.filter(col("vec_id") % VectorQueries.CentroidStep === 0)
          .select(col("vec_id").as("centroid_id"),
            col("v").as("cv"), col("nrm").as("cn")))
      // E-step: argmax-by-(cos, -centroid_id) as an aggregate, so the
      // broadcast join's K candidate rows per vector collapse map-side
      val asg = e.join(cent)
        .withColumn("ccos",
          VF.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
        .groupBy("vec_id")
        .agg(
          max_by(col("centroid_id"),
            struct(col("ccos"), (-col("centroid_id")).as("neg")))
            .as("centroid_id"),
          any_value(col("v")).as("v"))
      // M-step: exact-decimal per-dimension means + cluster sizes
      val sizes = asg.groupBy("centroid_id")
        .agg(count(lit(1)).as("n_members"))
      val newc = asg.select(col("centroid_id"), posexplode(col("v")))
        .groupBy(col("centroid_id"), col("pos").as("i"))
        .agg(round(sum(col("col").cast(DecimalType(28, 10))).cast("double")
          / count(lit(1)), 6).as("c_new"))
      newc.join(sizes, "centroid_id")
        .select(col("centroid_id"), col("i"), col("c_new"), col("n_members"))
        .orderBy("centroid_id", "i")
    },

    // ----- incremental near-dedup: probe an existing MinHash band INDEX
    // with a new batch instead of re-deduping the whole corpus — the way a
    // growing 100 TB corpus actually runs dedup (cost scales with the
    // batch, not the corpus). Batch = the t11 hash sample (a deterministic
    // 10%, standing in for "today's arrivals"); index = the rest, whose
    // band table is exactly what a production pipeline persists between
    // runs. The probe join touches only colliding (band, sig) buckets,
    // with the t5 hot-bucket cap applied to the index side (the side with
    // structural mass); emitted pairs carry the signature-agreement
    // Jaccard estimate, same as t5.
    Q("t24_incremental_dedup", "DEDUP-incremental,J-semi", {
      val sigCols = (0 until 8)
        .map(p => s"${TS.minhash("s", p)} AS mh$p").mkString(",\n    ")
      val bands = (0 until 8)
        .map(p => s"SELECT doc_id, is_new, $p AS band, mh$p AS sig FROM sig")
        .mkString("\n    UNION ALL ")
      val est = (0 until 8)
        .map(p => s"(CASE WHEN a.mh$p = b.mh$p THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
         |    (${TS.hash("'smpl|' || doc_id")} % 100 < 10) AS is_new
         |  FROM documents),
         |sh AS (SELECT doc_id, is_new, ${TS.shingles("l", 3)} AS s FROM t),
         |sig AS (SELECT doc_id, is_new,
         |    $sigCols
         |  FROM sh),
         |bands AS (
         |    $bands),
         |idx AS (SELECT band, sig, doc_id FROM bands WHERE NOT is_new),
         |idxok AS (SELECT band, sig FROM idx GROUP BY 1, 2
         |          HAVING count(*) <= ${TextQueries.MaxBandBucket}),
         |newb AS (SELECT band, sig, doc_id FROM bands WHERE is_new),
         |cand AS (
         |  SELECT DISTINCT nb.doc_id AS new_doc, ix.doc_id AS index_doc
         |  FROM newb nb
         |  JOIN idxok ok ON nb.band = ok.band AND nb.sig = ok.sig
         |  JOIN idx ix ON nb.band = ix.band AND nb.sig = ix.sig)
         |SELECT c.new_doc, c.index_doc, round(($est) / 8.0, 6) AS est_jaccard
         |FROM cand c
         |JOIN sig a ON c.new_doc = a.doc_id
         |JOIN sig b ON c.index_doc = b.doc_id
         |ORDER BY new_doc, index_doc""".stripMargin
    }) { (s, dir) =>
      val toks = TF.tokens(col("text"))
      val isNew = pmod(
        TF.polyHash(concat(lit("smpl|"), col("doc_id").cast("string"))),
        lit(100L)) < 10
      // one signature pass here because the harness table is one corpus;
      // incrementally, `idx`'s band table is read back from the last run
      val sig = Caches.persistTracked(
        Tables.documents(s, dir).repartition(col("doc_id"))
          .select(col("doc_id"), isNew.as("is_new"),
            TF.shingles(toks, 3).as("sh"))
          .select(col("doc_id"), col("is_new"),
            TF.minhashes(col("sh"), 8).as("mhs")))
      val exploded = sig
        .select(col("doc_id"), col("is_new"), col("mhs"),
          posexplode(col("mhs")))
        .toDF("doc_id", "is_new", "mhs", "band", "sig")
      val idx = exploded.filter(!col("is_new"))
      // hot-bucket cap as a broadcast ANTI on the HOT buckets (r20,
      // the t7/t5 pattern): the OK set is index-sized, the hot set is
      // bounded by the repetition rate; gated past the driver ceiling
      val hotBuckets = Caches.persistTracked(
        idx.groupBy("band", "sig")
          .agg(count(lit(1)).as("bcnt"))
          .filter(col("bcnt") > TextQueries.MaxBandBucket)
          .select("band", "sig"))
      val idxB = idx.join(graft.operators.GatedBroadcast(hotBuckets),
          Seq("band", "sig"), "left_anti")
        .select(col("doc_id").as("index_doc"), col("mhs").as("mhb"),
          col("band"), col("sig"))
      val newB = exploded.filter(col("is_new"))
        .select(col("doc_id").as("new_doc"), col("mhs").as("mha"),
          col("band"), col("sig"))
      val matches = aggregate(
        zip_with(col("mha"), col("mhb"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (a, b) => a + b)
      // est computed per collided row BEFORE the pair-dedup aggregate
      // (primitive column keeps the groupBy a HashAggregate — see t5)
      newB.join(idxB, Seq("band", "sig"))
        .select(col("new_doc"), col("index_doc"),
          round(matches / 8.0, 6).as("est"))
        .groupBy("new_doc", "index_doc")
        .agg(first("est").as("est_jaccard"))
        .orderBy("new_doc", "index_doc")
    },

    // ----- RAG-style sliding-window chunking: each document becomes
    // overlapping ChunkWords-token windows advanced by ChunkStride (the
    // embedding-context layout retrieval corpora are built with, vs t20's
    // disjoint concat-and-chunk pretraining layout). Chunk count, spans
    // and hashes are all exact integer arithmetic; the per-chunk content
    // hash is what a downstream chunk-level dedup would key on. Plan: a
    // narrow per-row explode — ZERO shuffles before the (oracle-only)
    // ordering; at corpus scale this is a map-only stage that pipelines
    // straight into the embedding batch writer.
    Q("t25_window_chunks", "TXT-chunk-window,PACK-sequences", {
      val W = ChunkWords; val S = ChunkStride
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
         |           FROM documents),
         |n AS (SELECT doc_id, l, len(l) AS n,
         |        CASE WHEN len(l) <= $W THEN 1
         |             ELSE 1 + (len(l) - $W + ${S - 1}) // $S END AS nch
         |      FROM t),
         |c AS (SELECT doc_id, l, n, unnest(range(nch)) AS idx FROM n)
         |SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
         |  CAST(len(list_slice(l, idx*$S + 1, idx*$S + $W)) AS INT)
         |    AS chunk_len,
         |  ${TS.hash(s"array_to_string(list_slice(l, idx*$S + 1, idx*$S + $W), ' ')")}
         |    AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, dir) =>
      val W = ChunkWords.toInt; val S = ChunkStride.toInt
      val toks = TF.tokens(col("text"))
      val nch = when(col("n") <= W, lit(1L))
        .otherwise(lit(1L) + expr(s"(n - $W + ${S - 1}) div $S"))
      val chunk = slice(col("l"), col("idx") * S + 1, lit(W))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("l"))
        .withColumn("n", size(col("l")).cast("long"))
        .select(col("doc_id"), col("l"),
          explode(sequence(lit(0L), nch - 1)).as("idx"))
        .select(col("doc_id"), col("idx").cast("int").as("chunk_idx"),
          size(chunk).as("chunk_len"),
          TF.polyHash(array_join(chunk, " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ----- n-gram novelty (corpus-diversity signal): per document, the
    // fraction of its distinct 3-shingles whose FIRST corpus occurrence
    // (min doc_id) is this document — low novelty marks boilerplate-heavy
    // docs a curation pass down-weights. Unlike the pairwise dedup family
    // this is LINEAR in corpus size: one groupBy-min on the shingle hash
    // and one join back — no candidate-pair fanout exists to cap. The
    // shuffle key is the 8-byte poly-hash, never the shingle string.
    Q("t26_ngram_novelty", "TXT-novelty,DEDUP-ngram,A5", {
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
         |           FROM documents),
         |sh AS (SELECT doc_id, ${TS.hash("s")} AS h
         |       FROM (SELECT doc_id, unnest(${TS.shingles("l", 3)}) AS s
         |             FROM t)),
         |f AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |       AS DOUBLE) / count(*) AS novelty
         |FROM sh JOIN f USING (h)
         |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // the oracle's shingle-level join-back is the semantic statement;
      // the plan reformulates it as two DOC-cardinality aggregates
      // (n_novel = ownership count of first-occurrence groups; shingles
      // are distinct per doc so the join-back would count each exactly
      // once) joined doc-to-doc — the shingle table is read twice from
      // cache but never joined at shingle grain
      // hash INSIDE the persisted projection, explode the cached arrays:
      // an expensive HOF expression as a generator child re-evaluates per
      // generated row (the r18 landmine ngramScored documents;
      // OPTIMIZATION_r20.md, LSH banding)
      val sh = Caches.persistTracked(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            transform(TF.shingles(TF.tokens(col("text")), 3),
              x => TF.polyHash(x)).as("hs")))
        .select(col("doc_id"), explode(col("hs")).as("h"))
      val totals = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = sh.groupBy("h").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      totals.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_shingles")).as("novelty"))
        .orderBy("doc_id")
    },

    // ----- blocklist scrub: remove blocklisted tokens from every document
    // and report what changed — the bad-word / PII-token filtering pass a
    // training corpus runs before tokenization. The blocklist literal is
    // emitted into BOTH the Spark lambda and the oracle SQL from the one
    // Seq below (the f8 one-definition-site pattern); the scrubbed-text
    // hash keys a downstream re-dedup of now-identical survivors. Plan:
    // per-row array filter, zero shuffles — at 100 TB this fuses into
    // whatever scan feeds it.
    Q("t27_blocklist_scrub", "TXT-blocklist,P4,F1", {
      val inList = Blocklist.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
         |           FROM documents),
         |k AS (SELECT doc_id, len(l) AS n_tokens,
         |        list_filter(l, t -> t NOT IN ($inList)) AS kept
         |      FROM t)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  CAST(n_tokens - len(kept) AS INT) AS n_removed,
         |  CASE WHEN len(kept) = 0 THEN 0
         |       ELSE ${TS.hash("array_to_string(kept, ' ')")} END
         |    AS scrub_hash
         |FROM k ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val blockArr = array(Blocklist.map(lit): _*)
      val toks = TF.tokens(col("text"))
      val kept = filter(toks, t => !array_contains(blockArr, t))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("l"), kept.as("kept"))
        .select(col("doc_id"), size(col("l")).as("n_tokens"),
          (size(col("l")) - size(col("kept"))).as("n_removed"),
          when(size(col("kept")) === 0, lit(0L))
            .otherwise(TF.polyHash(array_join(col("kept"), " ")))
            .as("scrub_hash"))
        .orderBy("doc_id")
    }
  )
}
