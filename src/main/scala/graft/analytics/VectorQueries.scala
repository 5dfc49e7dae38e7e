package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.IntegerType
import graft.sources.Tables
import graft.functions.{VectorFunctions => VF, VectorSql => VS}

/** Similarity search over the `embeddings` table (64-dim float vectors +
  * a precomputed coarse-cluster `label`).
  *
  * Scale design: brute-force top-k is the *correctness baseline* — its cost
  * is |Q|×N with Q broadcast, so it parallelizes perfectly but scans all N.
  * The IVF variant is the scale path: restrict candidates to the query's
  * coarse cluster (here the `label` column stands in for a k-means
  * assignment, exactly how IVF indexes store it), turning the scan into
  * N/k per query via one co-partitioned join on the cluster id. Same
  * pattern holds at 100 TB: cluster-id join is shuffle-partitioned, never
  * a cross join.
  */
object VectorQueries {

  /** Bucket size above which near-dup pairing sub-splits a bucket by
    * sign-bit LSH (see `v3_cosine_neardup`). */
  val SubBucketThreshold = 256

  /** Coarse-quantizer training sample step (see `v4_ann_trained`): every
    * CentroidStep-th vector becomes a centroid — a deterministic seeded
    * sample, so the oracle can reproduce the exact centroid set without a
    * shared RNG. K grows as N/step; a production trainer would run
    * k-means|| over a sample, but the *assignment plumbing* (centroids
    * table → broadcast argmin join → cluster-bucketed probe) is identical
    * and is what this operator exercises. */
  val CentroidStep = 61

  /** Sign-bit LSH sub-bucket key: 0 for small buckets; for oversized ones,
    * ceil(log2(cnt/threshold)) (≤ 8) sign bits of the leading vector
    * components packed into a long. Spark twin of the oracle's `sub`. */
  private def subBucket(cnt: org.apache.spark.sql.Column,
                        v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bits = least(lit(8),
      ceil(log2(cnt.cast("double") / SubBucketThreshold)).cast("int"))
    when(cnt <= SubBucketThreshold, lit(0L))
      .otherwise(aggregate(sequence(lit(0), bits - 1), lit(0L),
        (acc, j) => acc +
          when(get(v, j) >= 0, pow(lit(2.0), j.cast("double")).cast("long"))
            .otherwise(lit(0L))))
  }

  /** Deterministic hyperplane weights for sign-bit LSH (shared by
    * `v5_ann_lsh` and `v10_ann_recall`): 4 planes × 64 dims of small
    * rationals, identical literals in both engines — no RNG to share. */
  private def hpW(r: Int, i: Int): Double = (((r * 73 + i * 37) % 17) - 8) / 8.0
  private def hpWSql(r: Int): String =
    (0 until 64).map(i => hpW(r, i).toString).mkString("[", ", ", "]::DOUBLE[]")
  private def hpHyper(r: Int) = array((0 until 64).map(i => lit(hpW(r, i))): _*)
  /** 4-bit sign bucket of vector column `v` against the 4 hyperplanes. */
  private def hpBucket(v: org.apache.spark.sql.Column) =
    (0 until 4).map(r =>
      when(VF.dot(v, hpHyper(r)) >= 0, lit(1 << r)).otherwise(lit(0)))
      .reduce(_ + _)
  /** Oracle twin of [[hpBucket]] over CTE alias `n.v`. */
  private def hpBucketSql: String = (0 until 4).map(r =>
    s"(CASE WHEN ${VS.dot("n.v", s"hp.w$r")} >= 0 THEN ${1 << r} ELSE 0 END)")
    .mkString(" + ")

  /** CTE shared by all oracles: embeddings as DOUBLE[] + its L2 norm
    * (norms precomputed once — same as the Spark side). */
  private val baseCte =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |n AS (SELECT vec_id, label, v, ${VS.norm("v")} AS nrm FROM e)""".stripMargin

  /** Shared oracle CTE (no WITH) for the PQ family: vectors → exact
    * round-6 codebook → per-(vector, block) scored centroids → `bestpq`
    * (rn = 1 is the assignment). */
  private val pqCte: String =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |      FROM embeddings),
      |m AS (SELECT label, unnest(v) AS ev, unnest(range(len(v))) AS i
      |      FROM e),
      |cb AS (SELECT label, CAST(i // 16 AS INT) AS block, i,
      |         round(CAST(SUM(CAST(ev AS DECIMAL(28,10))) AS DOUBLE)
      |               / COUNT(*), 6) AS c
      |       FROM m GROUP BY label, i),
      |cbl AS (SELECT label AS cent, block, list(c ORDER BY i) AS cv
      |        FROM cb GROUP BY label, block),
      |blocks AS (SELECT vec_id, CAST(b AS INT) AS block,
      |             list_slice(v, b*16 + 1, b*16 + 16) AS sv
      |           FROM e, (SELECT unnest(range(4)) AS b)),
      |scoredpq AS (SELECT s.vec_id, s.block, c.cent,
      |    list_reduce(list_transform(range(1, 17), i ->
      |      (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])),
      |      (a, b) -> a + b) AS dist
      |  FROM blocks s JOIN cbl c ON s.block = c.block),
      |bestpq AS (SELECT vec_id, block, cent, dist,
      |    row_number() OVER (PARTITION BY vec_id, block
      |                       ORDER BY dist, cent) AS rn
      |  FROM scoredpq)""".stripMargin

  val all: Seq[Q] = Seq(

    // ----- brute-force cosine top-k (k=5) for the first 10 vectors as the
    // query set, against all others.
    Q("v1_knn_bruteforce", "ANN-brute", {
      val cos = s"${VS.dot("q.v", "c.v")} / (q.nrm * c.nrm)"
      s"""$baseCte,
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         $cos AS cos
         |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
         |       round(cos, 6) AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
      val scored = c.join(q) // broadcast nested loop: |Q| small by design
        .withColumn("cos", VF.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ----- IVF-style ANN: candidates restricted to the query's coarse
    // cluster (label = precomputed centroid assignment), top-3 per query.
    Q("v2_ann_ivf", "ANN-ivf", {
      val cos = s"${VS.dot("q.v", "c.v")} / (q.nrm * c.nrm)"
      s"""$baseCte,
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label, c.vec_id AS neighbor_id,
         |         $cos AS cos
         |  FROM n q JOIN n c
         |    ON q.label = c.label AND q.vec_id < 20 AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, label, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, label, neighbor_id, CAST(rank AS INT) AS rank,
         |       round(cos, 6) AS cosine
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("label"),
        col("v").as("cv"), col("nrm").as("cn"))
      // co-partitioned equi-join on the cluster id — the IVF probe
      val scored = q.join(c, Seq("label"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", VF.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("label"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ----- end-to-end trained IVF: coarse-quantizer training (seeded
    // centroid sample) → assignment (broadcast argmin join: K centroids,
    // cosine, ties to the lower centroid id) → cluster-bucketed top-3
    // probe, replacing v2's precomputed `label`. Scale posture: the
    // centroid set is K ≈ N/step rows — broadcast-sized by construction
    // (real IVF keeps K ≈ √N); assignment is a broadcast nested-loop plus
    // one shuffle on vec_id for the argmin window; the probe join is
    // co-partitioned on centroid_id exactly like v2.
    Q("v4_ann_trained", "ANN-ivf-trained", {
      val acos = s"${VS.dot("n.v", "c.cv")} / (n.nrm * c.cn)"
      val pcos = s"${VS.dot("q.qv", "m.mv")} / (q.qn * m.mn)"
      s"""$baseCte,
         |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
         |      FROM n WHERE vec_id % $CentroidStep = 0),
         |asgscored AS (
         |  SELECT n.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY n.vec_id
         |                       ORDER BY $acos DESC, c.centroid_id) AS rn
         |  FROM n CROSS JOIN c),
         |asg AS (SELECT vec_id, centroid_id FROM asgscored WHERE rn = 1),
         |m AS (SELECT n.vec_id, a.centroid_id, n.v AS mv, n.nrm AS mn
         |      FROM n JOIN asg a ON n.vec_id = a.vec_id),
         |q AS (SELECT vec_id AS query_id, centroid_id, mv AS qv, mn AS qn
         |      FROM m WHERE vec_id < 20),
         |scored AS (
         |  SELECT q.query_id, q.centroid_id, m.vec_id AS neighbor_id,
         |         $pcos AS cos
         |  FROM q JOIN m ON q.centroid_id = m.centroid_id
         |               AND m.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, centroid_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, centroid_id, neighbor_id, CAST(rank AS INT) AS rank,
         |       round(cos, 6) AS cosine
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
      // training: the centroid table (the emit-able quantizer artifact)
      val cent = broadcast(e.filter(col("vec_id") % CentroidStep === 0)
        .select(col("vec_id").as("centroid_id"),
          col("v").as("cv"), col("nrm").as("cn")))
      // assignment: K-way broadcast nested loop + per-vector argmin
      val wAsg = Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("centroid_id"))
      val asg = e.join(cent)
        .withColumn("ccos", VF.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
        .withColumn("rn", row_number().over(wAsg))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("centroid_id"))
      // members table feeds query side + candidate side: persist once
      val m = Caches.persistTracked(e.join(asg, "vec_id"))
      val q = m.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("centroid_id"),
          col("v").as("qv"), col("nrm").as("qn"))
      val cands = m.select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("v").as("mv"), col("nrm").as("mn"))
      val scored = q.join(cands, Seq("centroid_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", VF.dot(col("qv"), col("mv")) / (col("qn") * col("mn")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("centroid_id"), col("neighbor_id"),
          col("rank"), round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ----- multi-probe IVF (nprobe = 2): identical index to v4, but each
    // query probes its TWO nearest centroids — the standard IVF recall
    // lever (a true neighbor just across a Voronoi boundary is invisible
    // to nprobe=1). Cost scales linearly in nprobe (2·N/K candidates per
    // query) while the index and the probe join shape are unchanged:
    // queries fan out to nprobe rows pre-join, candidates still arrive
    // via one equi-join on the cluster id — never a cross join. Members
    // belong to exactly one centroid and probes are distinct, so no
    // neighbor dedup is needed.
    Q("v6_ann_multiprobe", "ANN-ivf-multiprobe", {
      val acos = s"${VS.dot("n.v", "c.cv")} / (n.nrm * c.cn)"
      val pcos = s"${VS.dot("q.qv", "m.mv")} / (q.qn * m.mn)"
      s"""$baseCte,
         |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
         |      FROM n WHERE vec_id % $CentroidStep = 0),
         |asgscored AS (
         |  SELECT n.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY n.vec_id
         |                       ORDER BY $acos DESC, c.centroid_id) AS rn
         |  FROM n CROSS JOIN c),
         |asg AS (SELECT vec_id, centroid_id FROM asgscored WHERE rn = 1),
         |m AS (SELECT n.vec_id, a.centroid_id, n.v AS mv, n.nrm AS mn
         |      FROM n JOIN asg a ON n.vec_id = a.vec_id),
         |probes AS (SELECT vec_id AS query_id, centroid_id
         |           FROM asgscored WHERE rn <= 2 AND vec_id < 20),
         |q AS (SELECT vec_id AS query_id, mv AS qv, mn AS qn
         |      FROM m WHERE vec_id < 20),
         |scored AS (
         |  SELECT q.query_id, m.vec_id AS neighbor_id, $pcos AS cos
         |  FROM q JOIN probes p ON q.query_id = p.query_id
         |         JOIN m ON m.centroid_id = p.centroid_id
         |               AND m.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
         |       round(cos, 6) AS cosine
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
      val cent = broadcast(e.filter(col("vec_id") % CentroidStep === 0)
        .select(col("vec_id").as("centroid_id"),
          col("v").as("cv"), col("nrm").as("cn")))
      val wAsg = Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("centroid_id"))
      val scoredAsg = e.join(cent)
        .withColumn("ccos", VF.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
        .withColumn("rn", row_number().over(wAsg))
      val asg = scoredAsg.filter(col("rn") === 1)
        .select(col("vec_id"), col("centroid_id"))
      val m = Caches.persistTracked(e.join(asg, "vec_id"))
      val probes = scoredAsg.filter(col("rn") <= 2 && col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("centroid_id"))
      val q = m.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
        .join(probes, "query_id")
      val cands = m.select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("v").as("mv"), col("nrm").as("mn"))
      val scored = q.join(cands, Seq("centroid_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", VF.dot(col("qv"), col("mv")) / (col("qn") * col("mn")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ----- LSH-bucketed ANN: the hyperplane alternative to IVF (v2/v4).
    // 4 deterministic pseudo-random hyperplanes (components k/8 for exact
    // binary representation, one shared Scala definition site emitted into
    // both engines) hash every vector to a 4-bit sign bucket; queries probe
    // only their own bucket — candidate scan N/16 per query via one
    // co-partitioned equi-join on the bucket id, never a cross join. Same
    // recall/probe trade IVF makes, but index-free: no centroid table, no
    // training pass — the right variant when the corpus churns faster than
    // a quantizer can be retrained. Scale shape at 100 TB: bucket id is a
    // narrow per-row map; the probe join shuffles on it once.
    Q("v5_ann_lsh", "ANN-lsh", {
      val cos = s"${VS.dot("q.qv", "c.cv")} / (q.qn * c.cn)"
      s"""$baseCte,
         |hp AS (SELECT ${(0 until 4).map(r => s"${hpWSql(r)} AS w$r").mkString(", ")}),
         |b AS (SELECT vec_id, v, nrm, CAST($hpBucketSql AS INT) AS bucket
         |      FROM n CROSS JOIN hp),
         |q AS (SELECT vec_id AS query_id, bucket, v AS qv, nrm AS qn
         |      FROM b WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, bucket, v AS cv, nrm AS cn FROM b),
         |scored AS (
         |  SELECT q.query_id, q.bucket, c.neighbor_id, $cos AS cos
         |  FROM q JOIN c ON q.bucket = c.bucket AND c.neighbor_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, bucket, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, bucket, neighbor_id, CAST(rank AS INT) AS rank,
         |       round(cos, 6) AS cosine
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val bucket = hpBucket(col("v"))
      val b = Tables.embeddings(s, dir)
        .select(col("vec_id"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
        .withColumn("bucket", bucket.cast(IntegerType))
      val q = b.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("bucket"),
          col("v").as("qv"), col("nrm").as("qn"))
      val c = b.select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("v").as("cv"), col("nrm").as("cn"))
      val scored = q.join(c, Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", VF.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      val win = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(win).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("bucket"), col("neighbor_id"),
          col("rank"), round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ----- embedding-cosine near-duplicate pairs within cluster buckets:
    // the O(n²) pair space is cut to per-bucket pairs before any scoring.
    // Oversized buckets (> SubBucketThreshold vectors) are further split
    // by a sign-bit LSH sub-key — ceil(log2(size/threshold)) hyperplanes
    // (axis-aligned: the sign of the leading components), capped at 8 —
    // so no single join key ever fans out quadratically: a 1M-vector
    // bucket splits ~4000× before pairing. Non-binding on the harness
    // corpora (max bucket 59 at sf0.01, 218 at sf0.1) and mirrored in the
    // oracle, so results stay bit-equal at any tested SF; recall loss only
    // begins where the unsplit plan would already be infeasible.
    Q("v3_cosine_neardup", "DEDUP-embedding", {
      val cos = s"${VS.dot("a.v", "b.v")} / (a.nrm * b.nrm)"
      val t = SubBucketThreshold
      s"""$baseCte,
         |n2 AS (SELECT vec_id, label, v, nrm,
         |         count(*) OVER (PARTITION BY label) AS cnt FROM n),
         |n3 AS (SELECT vec_id, label, v, nrm,
         |         CASE WHEN cnt <= $t THEN 0
         |              ELSE list_sum(list_transform(
         |                     range(0, least(8, CAST(ceil(log2(
         |                       CAST(cnt AS DOUBLE) / $t)) AS BIGINT))),
         |                     j -> CASE WHEN v[CAST(j AS INT) + 1] >= 0
         |                               THEN CAST(pow(2, j) AS BIGINT)
         |                               ELSE CAST(0 AS BIGINT) END))
         |         END AS sub
         |       FROM n2)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
         |       round($cos, 6) AS cosine
         |FROM n3 a JOIN n3 b
         |  ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
         |WHERE $cos >= 0.25
         |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("label")))
        .withColumn("sub", subBucket(col("cnt"), col("v")))
      val a = e.select(col("vec_id").as("vec_a"), col("label"), col("sub"),
        col("v").as("av"), col("nrm").as("an"))
      val b = e.select(col("vec_id").as("vec_b"), col("label"), col("sub"),
        col("v").as("bv"), col("nrm").as("bn"))
      a.join(b, Seq("label", "sub"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", VF.dot(col("av"), col("bv")) / (col("an") * col("bn")))
        .filter(col("cos") >= 0.25)
        .select(col("vec_a"), col("vec_b"), col("label"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },

    // ----- SemDeDup-style semantic pruning VERDICTS: within each coarse
    // cluster, any vector cosine-close (≥ τ) to a lower-id cluster-mate
    // is REMOVED (keep-first — the deterministic stand-in for the
    // published keep-one-per-semantic-group rule); output is the
    // per-cluster pruning summary a curation run records. Same bounded
    // pair generator as v3 (cluster equi-join + sign-bit sub-split of
    // oversized clusters, cap mirrored in the oracle) — the published
    // method keeps clusters small (K ≈ 100k at web scale) precisely so
    // this intra-cluster pairing stays feasible; the removal join-back is
    // removed-set-sized, so AQE broadcasts it and the corpus never
    // reshuffles.
    Q("v14_semdedup", "DEDUP-semantic,A10", {
      val cos = s"${VS.dot("a.v", "b.v")} / (a.nrm * b.nrm)"
      val t = SubBucketThreshold
      s"""$baseCte,
         |n2 AS (SELECT vec_id, label, v, nrm,
         |         count(*) OVER (PARTITION BY label) AS cnt FROM n),
         |n3 AS (SELECT vec_id, label, v, nrm,
         |         CASE WHEN cnt <= $t THEN 0
         |              ELSE list_sum(list_transform(
         |                     range(0, least(8, CAST(ceil(log2(
         |                       CAST(cnt AS DOUBLE) / $t)) AS BIGINT))),
         |                     j -> CASE WHEN v[CAST(j AS INT) + 1] >= 0
         |                               THEN CAST(pow(2, j) AS BIGINT)
         |                               ELSE CAST(0 AS BIGINT) END))
         |         END AS sub
         |       FROM n2),
         |removedv AS (
         |  SELECT DISTINCT b.vec_id AS r
         |  FROM n3 a JOIN n3 b
         |    ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
         |  WHERE $cos >= 0.25)
         |SELECT n.label, CAST(count(*) AS BIGINT) AS members,
         |  CAST(count(p.r) AS BIGINT) AS removed,
         |  CAST(count(*) - count(p.r) AS BIGINT) AS kept,
         |  round(CAST(count(p.r) AS DOUBLE) / count(*), 6) AS removal_rate
         |FROM n LEFT JOIN removedv p ON n.vec_id = p.r
         |GROUP BY n.label ORDER BY n.label""".stripMargin
    }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("label")))
        .withColumn("sub", subBucket(col("cnt"), col("v")))
      val a = e.select(col("vec_id").as("vec_a"), col("label"), col("sub"),
        col("v").as("av"), col("nrm").as("an"))
      val b = e.select(col("vec_id").as("vec_b"), col("label"), col("sub"),
        col("v").as("bv"), col("nrm").as("bn"))
      val removed = a.join(b, Seq("label", "sub"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(VF.dot(col("av"), col("bv")) / (col("an") * col("bn")) >= 0.25)
        .select(col("vec_b").as("vec_id")).distinct()
        .withColumn("r", lit(1))
      e.select(col("vec_id"), col("label"))
        .join(removed, Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("members"),
          count(col("r")).as("removed"),
          (count(lit(1)) - count(col("r"))).as("kept"),
          round(count(col("r")).cast("double") / count(lit(1)), 6)
            .as("removal_rate"))
        .orderBy("label")
    },

    // ----- per-cluster centroids: the element-wise mean vector of each
    // label group — the M-step of distributed k-means and the refresh op
    // any IVF index needs as the corpus drifts. Plan shape: posexplode
    // fans each vector to 64 (dim, value) rows, but hash aggregation runs
    // a map-side partial FIRST, so each partition contributes at most
    // labels×64 rows to the shuffle — the explosion never crosses the
    // wire. Determinism: float sums are accumulation-order dependent, so
    // the sum runs in DECIMAL (exact, order-free) and is divided/rounded
    // only on output — same Exact-pattern the money aggregates use.
    Q("v7_centroids", "ANN-centroids,A4", {
      """SELECT label, CAST(i AS INT) AS i,
        |  round(CAST(SUM(CAST(e AS DECIMAL(28,10))) AS DOUBLE)
        |        / COUNT(*), 6) AS c
        |FROM (SELECT label, unnest(embedding) AS e,
        |             unnest(range(len(embedding))) AS i
        |      FROM embeddings)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").as("i"))
        .agg(round(
          sum(col("col").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
            .cast("double") / count(lit(1)), 6).as("c"))
        .orderBy("label", "i")
    },

    // ----- int8 scalar-quantization calibration: per-dimension min/max +
    // the (max−min)/255 scale — the pass that precedes quantizing an
    // embedding corpus for a compact ANN index. min/max are exact
    // comparisons (unlike sums, no accumulation-order hazard), so the
    // floats need no decimal detour; the float→double widening and the
    // /255 division are IEEE-identical in both engines. Plan: posexplode
    // with map-side partial min/max — each partition contributes 64 rows
    // to the shuffle regardless of corpus size.
    Q("v8_quant_calibration", "ANN-quantize,A2", {
      """SELECT CAST(i AS INT) AS i,
        |  CAST(min(e) AS DOUBLE) AS vmin, CAST(max(e) AS DOUBLE) AS vmax,
        |  (CAST(max(e) AS DOUBLE) - CAST(min(e) AS DOUBLE)) / 255.0
        |    AS scale
        |FROM (SELECT unnest(embedding) AS e,
        |             unnest(range(len(embedding))) AS i
        |      FROM embeddings)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")))
        .groupBy(col("pos").as("i"))
        .agg(min(col("col")).cast("double").as("vmin"),
          max(col("col")).cast("double").as("vmax"))
        .select(col("i"), col("vmin"), col("vmax"),
          ((col("vmax") - col("vmin")) / lit(255.0)).as("scale"))
        .orderBy("i")
    },

    // ----- ANN index-quality evaluation: recall@3 of the v5 LSH probe
    // against brute-force ground truth, per query — the gate a production
    // index build runs before swapping an index in. Both candidate sets
    // come from the same scored formulations as v1/v5; the hit count is a
    // left join on (query, neighbor), so a query whose bucket had < 3
    // candidates (or unlucky hashing) shows its true degraded recall
    // rather than dropping out. Plan: ground truth is query-side
    // broadcast × corpus (the exact-baseline cost an evaluation accepts
    // on a SAMPLE of queries — never the full corpus); the ANN side reuses
    // the bucket-probe join; everything downstream is query-cardinality.
    Q("v10_ann_recall", "ANN-recall,A5", {
      val cosAll = s"${VS.dot("q.qv", "c.v")} / (q.qn * c.nrm)"
      val cosBkt = s"${VS.dot("q.qv", "c.cv")} / (q.qn * c.cn)"
      s"""$baseCte,
         |hp AS (SELECT ${(0 until 4).map(r => s"${hpWSql(r)} AS w$r").mkString(", ")}),
         |b AS (SELECT vec_id, v, nrm, CAST($hpBucketSql AS INT) AS bucket
         |      FROM n CROSS JOIN hp),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket
         |      FROM b WHERE vec_id < 20),
         |gtscored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |                       ORDER BY $cosAll DESC, c.vec_id) AS rank
         |  FROM q JOIN n c ON c.vec_id <> q.query_id),
         |gt AS (SELECT query_id, neighbor_id FROM gtscored WHERE rank <= 3),
         |annscored AS (
         |  SELECT q.query_id, c.neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |                       ORDER BY $cosBkt DESC, c.neighbor_id) AS rank
         |  FROM q JOIN (SELECT vec_id AS neighbor_id, bucket, v AS cv,
         |                      nrm AS cn FROM b) c
         |    ON q.bucket = c.bucket AND c.neighbor_id <> q.query_id),
         |ann AS (SELECT query_id, neighbor_id FROM annscored WHERE rank <= 3),
         |hits AS (
         |  SELECT g.query_id, count(a.neighbor_id) AS n_hits
         |  FROM gt g LEFT JOIN ann a
         |    ON g.query_id = a.query_id AND g.neighbor_id = a.neighbor_id
         |  GROUP BY g.query_id)
         |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
         |       round(n_hits / 3.0, 6) AS recall_at_3
         |FROM hits ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      val b = Tables.embeddings(s, dir)
        .select(col("vec_id"), VF.toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", VF.norm(col("v")))
        .withColumn("bucket", hpBucket(col("v")).cast(IntegerType))
      val q = broadcast(b.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket").as("qbucket")))
      val rankW = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      val gt = b.select(col("vec_id").as("neighbor_id"),
          col("v").as("cv"), col("nrm").as("cn"))
        .join(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", VF.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(rankW))
        .filter(col("rank") <= 3)
        .select("query_id", "neighbor_id")
      val ann = b.select(col("vec_id").as("neighbor_id"), col("bucket"),
          col("v").as("cv"), col("nrm").as("cn"))
        .join(q.withColumnRenamed("qbucket", "bucket"), Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", VF.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(rankW))
        .filter(col("rank") <= 3)
        .select("query_id", "neighbor_id")
      gt.join(ann.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"),
          "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          round(col("n_hits") / 3.0, 6).as("recall_at_3"))
        .orderBy("query_id")
    },

    // ----- int8 scalar-quantization ENCODE + reconstruction error: apply
    // v8's per-dimension (min, scale) calibration to every vector —
    // code_i = clamp(floor((x_i − min_i)/scale_i + 0.5), 0..255) — decode
    // it back, and report per-label mean/max squared reconstruction error:
    // the accept/reject gate an index build runs before swapping in a
    // quantized corpus. floor(+0.5) replaces round() because the two
    // engines disagree on round-half semantics while floor is IEEE-exact
    // in both; the per-vector error is a fixed-order left fold, and the
    // cross-row mean goes through DECIMAL(28,10) so accumulation order
    // cannot perturb the double. Plan: the 64-row calibration aggregates
    // map-side (v8), collapses to ONE broadcast row of arrays, and the
    // encode+error is then a narrow per-row map — corpus read twice, one
    // 64-row shuffle, no join wider than the broadcast.
    Q("v11_quant_encode", "ANN-quantize-encode,A7,A4", {
      val code = """CASE WHEN scales[i] = 0 THEN 0.0
                   |      ELSE least(255.0, greatest(0.0,
                   |        floor((v[i] - vmins[i]) / scales[i] + 0.5))) END"""
        .stripMargin.replaceAll("\\s+", " ")
      s"""WITH x AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |cal AS (SELECT i, CAST(min(e) AS DOUBLE) AS vmin,
         |    (CAST(max(e) AS DOUBLE) - CAST(min(e) AS DOUBLE)) / 255.0
         |      AS scale
         |  FROM (SELECT unnest(embedding) AS e,
         |               unnest(range(len(embedding))) AS i FROM embeddings)
         |  GROUP BY i),
         |arr AS (SELECT list(vmin ORDER BY i) AS vmins,
         |               list(scale ORDER BY i) AS scales FROM cal),
         |err AS (SELECT label,
         |    list_reduce(list_transform(range(1, len(v) + 1), i ->
         |        (v[i] - (vmins[i] + ($code) * scales[i]))
         |      * (v[i] - (vmins[i] + ($code) * scales[i]))),
         |      (a, b) -> a + b) / len(v) AS e
         |  FROM x CROSS JOIN arr)
         |SELECT label, count(*) AS n,
         |  CAST(sum(CAST(e AS DECIMAL(28,10))) AS DOUBLE) / count(*)
         |    AS avg_err,
         |  max(e) AS max_err
         |FROM err GROUP BY label ORDER BY label""".stripMargin
    }) { (s, dir) =>
      val calib = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")))
        .groupBy(col("pos"))
        .agg(min(col("col")).cast("double").as("vmin"),
          max(col("col")).cast("double").as("vmax"))
        .select(col("pos"),
          struct(col("pos"), col("vmin")).as("m"),
          struct(col("pos"),
            ((col("vmax") - col("vmin")) / lit(255.0)).as("scale")).as("sc"))
      val arrs = calib.agg(
          sort_array(collect_list(col("m"))).as("ms"),
          sort_array(collect_list(col("sc"))).as("scs"))
        .select(
          transform(col("ms"), m => m.getField("vmin")).as("vmins"),
          transform(col("scs"), m => m.getField("scale")).as("scales"))
      val errExpr = aggregate(
        transform(sequence(lit(1), size(col("v"))), i => {
          val xv = element_at(col("v"), i)
          val mn = element_at(col("vmins"), i)
          val sc = element_at(col("scales"), i)
          val codeC = when(sc === 0.0, lit(0.0))
            .otherwise(least(lit(255.0),
              greatest(lit(0.0), floor((xv - mn) / sc + 0.5))))
          val d = xv - (mn + codeC * sc)
          d * d
        }),
        lit(0.0), (a, b) => a + b) / size(col("v"))
      Tables.embeddings(s, dir)
        .select(col("label"), VF.toDoubleArr(col("embedding")).as("v"))
        .crossJoin(broadcast(arrs))
        .select(col("label"), errExpr.as("e"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          (sum(col("e").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
            .cast("double") / count(lit(1))).as("avg_err"),
          max(col("e")).as("max_err"))
        .orderBy("label")
    },

    // ----- product quantization (PQ) encode: the 64-dim vector splits
    // into 4 blocks of 16, each block assigned to its nearest sub-centroid
    // — the compression behind billion-scale ANN indexes (4 bytes/vector
    // here vs 256 uncompressed). The codebook is the per-(label, block)
    // DECIMAL-exact sub-mean (v7's centroid build restricted per block);
    // assignment is squared-L2 argmin with a (dist, centroid) tiebreak.
    // Plan: codebook aggregates map-side to labels×64 rows → ONE broadcast
    // of labels×4 sub-centroid arrays; the encode is a broadcast join
    // whose argmin collapses in the partial aggregate (v9's max_by trick,
    // min side) — 4 rows per vector cross the shuffle, never N·K. The
    // fixed-order 16-term distance fold is IEEE-identical cross-engine.
    Q("v12_pq_encode", "ANN-pq,A4,W4", {
      s"""WITH $pqCte
         |SELECT vec_id, block, CAST(cent AS INT) AS code, dist
         |FROM bestpq WHERE rn = 1 ORDER BY vec_id, block""".stripMargin
    }) { (s, dir) =>
      val e = pqVectors(s, dir)
      pqCodes(e, pqCodebook(e))
        .select(col("vec_id"), col("block"),
          col("cent").cast(IntegerType).as("code"), col("dist"))
        .orderBy("vec_id", "block")
    },

    // ----- PQ-approximate search + recall evaluation (ADC): rank
    // candidates by ASYMMETRIC distance — the query keeps its exact
    // sub-vectors, each candidate is represented ONLY by its 4 PQ codes —
    // and measure recall@3 against exact squared-L2 ground truth: the
    // accuracy/compression trade a PQ index build signs off on. The ADC
    // trick is what makes PQ search cheap: per query, distances to all
    // (block, centroid) cells precompute into a query-local table
    // (Q·4·K rows, broadcast), and each candidate's approximate distance
    // is 4 TABLE LOOKUPS (join on block, code) + a fixed-order 4-term sum
    // — the candidate vectors themselves are never touched. Ground truth
    // is query-sample × corpus, the exact-baseline cost an evaluation
    // accepts (v10's argument). Fixed parenthesization (d0+d1)+(d2+d3)
    // keeps the sum bit-stable; per-block pivots come off one partial
    // aggregate, not four scans.
    Q("v13_pq_recall", "ANN-pq-adc,ANN-recall,A5", {
      val exd =
        "list_reduce(list_transform(range(1, 65), i -> " +
          "(q.v[i] - c.v[i]) * (q.v[i] - c.v[i])), (a, b) -> a + b)"
      val adcD =
        "list_reduce(list_transform(range(1, 17), i -> " +
          "(q.v[c.block*16 + i] - c.cv[i]) * (q.v[c.block*16 + i] - c.cv[i])" +
          "), (a, b) -> a + b)"
      s"""WITH $pqCte,
         |codes AS (SELECT vec_id, block, cent AS code FROM bestpq
         |          WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20),
         |adc AS (SELECT q.query_id, c.block, c.cent AS code, $adcD AS d
         |        FROM q CROSS JOIN cbl c),
         |pqd AS (
         |  SELECT a.query_id, s.vec_id AS cand,
         |    max(CASE WHEN s.block = 0 THEN a.d END) AS d0,
         |    max(CASE WHEN s.block = 1 THEN a.d END) AS d1,
         |    max(CASE WHEN s.block = 2 THEN a.d END) AS d2,
         |    max(CASE WHEN s.block = 3 THEN a.d END) AS d3
         |  FROM codes s JOIN adc a ON s.block = a.block AND s.code = a.code
         |  WHERE s.vec_id <> a.query_id
         |  GROUP BY a.query_id, s.vec_id),
         |pqrank AS (
         |  SELECT query_id, cand,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY (d0 + d1) + (d2 + d3), cand) AS rn
         |  FROM pqd),
         |ann AS (SELECT query_id, cand FROM pqrank WHERE rn <= 3),
         |exact AS (
         |  SELECT q.query_id, c.vec_id AS cand,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY $exd, c.vec_id) AS rn
         |  FROM q JOIN e c ON c.vec_id <> q.query_id),
         |gt AS (SELECT query_id, cand FROM exact WHERE rn <= 3),
         |hits AS (
         |  SELECT g.query_id, count(a.cand) AS n_hits
         |  FROM gt g LEFT JOIN ann a
         |    ON g.query_id = a.query_id AND g.cand = a.cand
         |  GROUP BY g.query_id)
         |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
         |       round(n_hits / 3.0, 6) AS recall_at_3
         |FROM hits ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      val e = pqVectors(s, dir)
      val cbl = pqCodebook(e)
      val codes = pqCodes(e, cbl)
        .select(col("vec_id"), col("block"), col("cent").as("code"))
      val q = broadcast(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv")))
      val adcD = aggregate(
        transform(sequence(lit(1), lit(16)), i => {
          val d = element_at(col("qv"), col("block") * 16 + i) -
            element_at(col("cv"), i)
          d * d
        }),
        lit(0.0), (a, b) => a + b)
      val adc = broadcast(cbl.withColumnRenamed("cent", "code")
        .crossJoin(q)
        .select(col("query_id"), col("block"), col("code"), adcD.as("d")))
      val pqd = codes.join(adc, Seq("block", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("cand"))
        .agg(
          max(when(col("block") === 0, col("d"))).as("d0"),
          max(when(col("block") === 1, col("d"))).as("d1"),
          max(when(col("block") === 2, col("d"))).as("d2"),
          max(when(col("block") === 3, col("d"))).as("d3"))
      val rankW = Window.partitionBy("query_id")
        .orderBy(((col("d0") + col("d1")) + (col("d2") + col("d3"))).asc,
          col("cand").asc)
      val ann = pqd.withColumn("rn", row_number().over(rankW))
        .filter(col("rn") <= 3).select("query_id", "cand")
      val exd = aggregate(
        transform(sequence(lit(1), lit(64)), i => {
          val d = element_at(col("qv"), i) - element_at(col("cv"), i)
          d * d
        }),
        lit(0.0), (a, b) => a + b)
      val gt = e.select(col("vec_id").as("cand"), col("v").as("cv"))
        .join(q)
        .filter(col("cand") =!= col("query_id"))
        .withColumn("xd", exd)
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("xd").asc, col("cand").asc)))
        .filter(col("rn") <= 3).select("query_id", "cand")
      gt.join(ann.withColumn("hit", lit(1)), Seq("query_id", "cand"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          round(col("n_hits") / 3.0, 6).as("recall_at_3"))
        .orderBy("query_id")
    },

    // ----- IVFADC, the composed large-scale ANN query (Jégou et al.'s
    // IVF + PQ with asymmetric distance): the coarse quantizer narrows
    // the candidate set to the query's inverted list (the v2 cluster
    // probe), and WITHIN the list each candidate is ranked by ADC — 4
    // codebook lookups + a fixed-order 4-term sum, never touching the
    // candidate vector (the v13 trick). This is the shape a billion-
    // vector index actually serves: per query, cost = |list| code
    // lookups against a broadcast query-local distance table, with the
    // inverted-list join co-partitioned on the cluster id — no scan of
    // the corpus, no cross join, candidate payloads never shuffle.
    Q("v15_ann_ivfadc", "ANN-ivfadc,ANN-ivf,ANN-pq-adc", {
      val adcD =
        "list_reduce(list_transform(range(1, 17), i -> " +
          "(q.v[c.block*16 + i] - c.cv[i]) * (q.v[c.block*16 + i] - c.cv[i])" +
          "), (a, b) -> a + b)"
      s"""WITH $pqCte,
         |codes AS (SELECT b.vec_id, e.label, b.block, b.cent AS code
         |          FROM bestpq b JOIN e ON b.vec_id = e.vec_id
         |          WHERE b.rn = 1),
         |q AS (SELECT vec_id AS query_id, label, v FROM e
         |      WHERE vec_id < 20),
         |adc AS (SELECT q.query_id, q.label, c.block, c.cent AS code,
         |          $adcD AS d
         |        FROM q CROSS JOIN cbl c),
         |pqd AS (
         |  SELECT a.query_id, s.vec_id AS neighbor_id,
         |    max(CASE WHEN s.block = 0 THEN a.d END) AS d0,
         |    max(CASE WHEN s.block = 1 THEN a.d END) AS d1,
         |    max(CASE WHEN s.block = 2 THEN a.d END) AS d2,
         |    max(CASE WHEN s.block = 3 THEN a.d END) AS d3
         |  FROM codes s JOIN adc a
         |    ON s.label = a.label AND s.block = a.block AND s.code = a.code
         |  WHERE s.vec_id <> a.query_id
         |  GROUP BY a.query_id, s.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, (d0 + d1) + (d2 + d3) AS adist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY (d0 + d1) + (d2 + d3), neighbor_id) AS rank
         |  FROM pqd)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
         |       round(adist, 6) AS adc
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val e = pqVectors(s, dir)
      val cbl = pqCodebook(e)
      val codes = pqCodes(e, cbl)
        .select(col("vec_id"), col("block"), col("cent").as("code"))
        .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      val q = broadcast(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label"),
          col("v").as("qv")))
      val adcD = aggregate(
        transform(sequence(lit(1), lit(16)), i => {
          val d = element_at(col("qv"), col("block") * 16 + i) -
            element_at(col("cv"), i)
          d * d
        }),
        lit(0.0), (a, b) => a + b)
      // query-local ADC distance table: queries × 4 blocks × K cells —
      // broadcast-sized by construction, the per-query lookup table an
      // IVFADC scorer keeps in L1
      val adc = broadcast(cbl.withColumnRenamed("cent", "code")
        .crossJoin(q)
        .select(col("query_id"), col("label"), col("block"), col("code"),
          adcD.as("d")))
      // inverted-list probe: label equi-join narrows candidates to the
      // query's coarse cell BEFORE any distance work
      val pqd = codes.join(adc, Seq("label", "block", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(
          max(when(col("block") === 0, col("d"))).as("d0"),
          max(when(col("block") === 1, col("d"))).as("d1"),
          max(when(col("block") === 2, col("d"))).as("d2"),
          max(when(col("block") === 3, col("d"))).as("d3"))
      val adist = (col("d0") + col("d1")) + (col("d2") + col("d3"))
      val rankW = Window.partitionBy("query_id")
        .orderBy(adist.asc, col("neighbor_id").asc)
      pqd.withColumn("rank", row_number().over(rankW).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(adist, 6).as("adc"))
        .orderBy("query_id", "rank")
    }
  )

  /** Embeddings as (vec_id, label, DOUBLE[] v) — the PQ family's base. */
  private def pqVectors(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), VF.toDoubleArr(col("embedding")).as("v"))

  /** PQ codebook: per (centroid=label, block) 16-dim sub-centroid array,
    * DECIMAL-exact means rounded to 6 (the v7/v9 determinism pattern —
    * unrounded decimal→double means differ cross-engine in the last
    * decimal ulp). Broadcast-sized: labels × 4 rows. */
  private def pqCodebook(e: org.apache.spark.sql.DataFrame) = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    e.select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(sum(col("col").cast(dec)).cast("double")
        / count(lit(1)), 6).as("c"))
      .groupBy(col("label").as("cent"),
        expr("CAST(pos div 16 AS INT)").as("block"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
  }

  /** PQ encode: (vec_id, block, cent, dist) — nearest sub-centroid per
    * block, argmin collapsing in the partial aggregate (4 rows per vector
    * cross the shuffle, never N·K). */
  private def pqCodes(e: org.apache.spark.sql.DataFrame,
                      cbl: org.apache.spark.sql.DataFrame) = {
    val blocks = e
      .select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(3))).as("block"))
      .select(col("vec_id"), col("block"),
        slice(col("v"), col("block") * 16 + 1, lit(16)).as("sv"))
    val dist = aggregate(
      transform(sequence(lit(1), lit(16)), i => {
        val d = element_at(col("sv"), i) - element_at(col("cv"), i)
        d * d
      }),
      lit(0.0), (a, b) => a + b)
    blocks.join(broadcast(cbl), Seq("block"))
      .withColumn("dist", dist)
      .groupBy("vec_id", "block")
      .agg(min_by(struct(col("cent"), col("dist")),
        struct(col("dist"), col("cent"))).as("b"))
      .select(col("vec_id"), col("block"), col("b.cent").as("cent"),
        col("b.dist").as("dist"))
  }

}
