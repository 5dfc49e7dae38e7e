package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.sources.Tables
import graft.multimodal.Multimodal

/** Driver-verifiable slice of the multimodal plumbing: documents wrapped as
  * binary payloads, decoded partition-locally. All three modalities carry
  * REAL containers — PCM WAV (audio, [[graft.plans.WavHeaderExpr]]), PNG
  * (image, [[graft.plans.PngHeaderExpr]]), RIFF/AVI (video,
  * [[graft.plans.AviHeaderExpr]]) — and decode through the real chunk
  * walkers. The oracles recompute each builder's deterministic encoding
  * rules in SQL (rate/channels/dims/frame-period keyed on doc_id, data =
  * text bytes, exact container-size arithmetic), so a green row proves
  * builder ∘ parser = identity through the whole distributed decode path.
  */
object MultimodalQueries {

  /** Audio encoding rules as SQL (one definition site with
    * [[Multimodal.audioRate]]/[[Multimodal.audioChannels]]). */
  private val chSql = "CAST(1 + (doc_id // 9) % 2 AS INT)"
  private val rateSql =
    """CAST(CASE (doc_id // 3) % 3 WHEN 0 THEN 8000
      |     WHEN 1 THEN 16000 ELSE 44100 END AS INT)""".stripMargin

  /** Image (PNG fixture) encoding rules as SQL (one definition site with
    * [[Multimodal.imageWidth]]/[[Multimodal.imageHeight]] etc.). */
  private val imgWSql = "CAST(64 + (doc_id * 13) % 512 AS INT)"
  private val imgHSql = "CAST(64 + (doc_id * 29) % 512 AS INT)"
  /** IDAT chunk count at the fixture's 256-byte chunking (≥1: an empty
    * payload still writes one empty IDAT). */
  private val nIdatSql = "greatest(1, (raw_len + 255) // 256)"
  /** container size: sig(8) + IHDR(25) + IEND(12) + 12/IDAT + payload */
  private val pngLenSql = s"45 + raw_len + 12 * $nIdatSql"

  /** Video (AVI fixture) encoding rules as SQL (one definition site with
    * [[Multimodal.videoWidth]]/[[Multimodal.videoUsPerFrame]] etc.). */
  private val vidWSql = "CAST(128 + (doc_id * 17) % 1024 AS INT)"
  private val vidHSql = "CAST(96 + (doc_id * 23) % 1024 AS INT)"
  private val vidUsSql =
    """CAST(CASE (doc_id // 3) % 3 WHEN 0 THEN 33333
      |     WHEN 1 THEN 40000 ELSE 41667 END AS INT)""".stripMargin
  /** '00dc' frame-chunk count at the fixture's 512-byte chunking (≥1: an
    * empty payload still writes one empty frame chunk). */
  private val nFrameSql = "greatest(1, (raw_len + 511) // 512)"
  /** container size: RIFF(12) + LIST hdrl(8+4+8+56=76) + LIST movi hdr(12)
    * + 8/frame chunk + payload + final pad byte when the payload is odd
    * (512-byte chunks are even, so only the last chunk can be odd). */
  private val aviLenSql = s"100 + raw_len + raw_len % 2 + 8 * $nFrameSql"

  val all: Seq[Q] = Seq(

    // ----- the COMPOSED MULTIMODAL lifecycle (round 20 — the g1/c1
    // move for the m-family): ingest real containers → header parse
    // (m1's decode) → asset dedup by CONTENT digest (m4's key, min-doc
    // keeper) → chunk plan over the SURVIVORS ONLY (m3's geometry —
    // chunking before dedup would double-plan duplicate assets and
    // break the hash) → modality-coverage gate against the embedding
    // corpus (qa5's alignment direction). One per-modality funnel row
    // pins the whole composition. Plan: one partition-local decode
    // pass, one digest window, one metadata-only chunk explode over
    // keepers, one 8-byte-key semi join — payload bytes never shuffle
    // (digests and decoded structs do), the m4/m1 posture composed.
    Q("c4_multimodal_lifecycle",
      "MM-compose,MM-decode,MM-dedup,MM-chunking,QA-alignment,A1,A7", {
      s"""WITH m AS (SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |    md5(text) AS digest, strlen(text) AS raw_len,
         |    $chSql AS ch
         |  FROM documents),
         |sz AS (SELECT *,
         |    CASE WHEN modality = 'audio' THEN 44 + raw_len + raw_len % 2
         |         WHEN modality = 'image' THEN $pngLenSql
         |         ELSE $aviLenSql END AS byte_len
         |  FROM m),
         |keep AS (SELECT *,
         |    min(doc_id) OVER (PARTITION BY modality, digest) AS keeper
         |  FROM sz),
         |k AS (SELECT * FROM keep WHERE doc_id = keeper),
         |u AS (SELECT doc_id, modality,
         |    CASE modality WHEN 'audio' THEN raw_len // (ch * 2)
         |         WHEN 'video' THEN $nFrameSql ELSE 1 END AS n_units,
         |    CASE modality WHEN 'audio' THEN 256
         |         WHEN 'video' THEN 30 ELSE 1 END AS chunk,
         |    CASE modality WHEN 'audio' THEN 192
         |         WHEN 'video' THEN 30 ELSE 1 END AS stride
         |  FROM k),
         |nc AS (SELECT doc_id, modality,
         |    CASE WHEN n_units <= chunk THEN 1
         |         ELSE 1 + (n_units - chunk + stride - 1) // stride
         |    END AS n_chunks
         |  FROM u),
         |a1 AS (SELECT modality, CAST(count(*) AS BIGINT) AS n_assets
         |       FROM sz GROUP BY 1),
         |a2 AS (SELECT modality, CAST(count(*) AS BIGINT) AS n_distinct,
         |         CAST(sum(byte_len) AS BIGINT) AS kept_bytes
         |       FROM k GROUP BY 1),
         |a3 AS (SELECT modality, CAST(sum(n_chunks) AS BIGINT) AS n_chunks
         |       FROM nc GROUP BY 1),
         |cov AS (SELECT k.modality, CAST(count(*) AS BIGINT) AS n_covered
         |        FROM k JOIN embeddings e ON k.doc_id = e.vec_id
         |        GROUP BY 1)
         |SELECT a1.modality, n_assets, n_distinct, n_chunks, kept_bytes,
         |  coalesce(n_covered, 0) AS n_covered
         |FROM a1 JOIN a2 USING (modality) JOIN a3 USING (modality)
         |LEFT JOIN cov USING (modality)
         |ORDER BY modality""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // stage 1: ingest real containers + the partition-local header
      // parse (builder ∘ parser = identity, proven per-asset by m1)
      val media = Multimodal.attachPayload(
        docs.repartition(col("doc_id")), "doc_id", "text")
      val decoded = Caches.persistTracked(Multimodal.decodeMeta(s, media))
      val meta = decoded.select(col("doc_id"),
        col("meta.modality").as("modality"),
        col("meta.byteLen").as("byte_len"))
      // stage 2: asset dedup by CONTENT digest (the raw payload's —
      // container bytes differ per doc_id even for equal content, so
      // the digest must be of the content, exactly m4's key)
      val dig = docs.select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("digest"))
      val keyed = meta.join(dig, "doc_id")
      val keepers = Caches.persistTracked(keyed
        .withColumn("keeper",
          min("doc_id").over(Window.partitionBy("modality", "digest")))
        .filter(col("doc_id") === col("keeper"))
        .drop("keeper", "digest"))
      // stage 3: chunk plan over the SURVIVORS only (m3's geometry)
      val chunks = Multimodal.chunkPlan(
        decoded.join(keepers.select("doc_id"), "doc_id"),
        audioChunk = 256, audioStride = 192)
      // stage 4: modality-coverage gate (qa5's direction)
      val emb = Tables.embeddings(s, dir).select(col("vec_id"))
      val covered = keepers
        .join(emb, col("doc_id") === col("vec_id"), "left_semi")
        .groupBy("modality")
        .agg(count(lit(1)).as("n_covered"))
      // per-modality funnel
      val a1 = keyed.groupBy("modality")
        .agg(count(lit(1)).as("n_assets"))
      val a2 = keepers.groupBy("modality")
        .agg(count(lit(1)).as("n_distinct"),
          sum("byte_len").cast("long").as("kept_bytes"))
      val a3 = chunks.groupBy("modality")
        .agg(count(lit(1)).cast("long").as("n_chunks"))
      a1.join(a2, "modality").join(a3, "modality")
        .join(covered, Seq("modality"), "left")
        .select(col("modality"), col("n_assets"), col("n_distinct"),
          col("n_chunks"), col("kept_bytes"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"))
        .orderBy("modality")
    },

    Q("m1_multimodal_meta", "MM-decode", {
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |    strlen(text) AS raw_len,
         |    $chSql AS ch, $rateSql AS rate
         |  FROM documents)
         |SELECT doc_id, modality,
         |  CASE WHEN modality = 'audio' THEN 44 + raw_len + raw_len % 2
         |       WHEN modality = 'image' THEN $pngLenSql
         |       ELSE $aviLenSql END AS byte_len,
         |  CAST(CASE WHEN modality = 'image' THEN $imgWSql
         |       WHEN modality = 'video' THEN $vidWSql
         |       ELSE 0 END AS INT) AS width,
         |  CAST(CASE WHEN modality = 'image' THEN $imgHSql
         |       WHEN modality = 'video' THEN $vidHSql
         |       ELSE 0 END AS INT) AS height,
         |  CAST(CASE WHEN modality = 'audio' THEN rate ELSE 0 END AS INT)
         |    AS sample_rate,
         |  CAST(CASE WHEN modality = 'audio' THEN raw_len // (ch * 2)
         |       WHEN modality = 'video' THEN $nFrameSql ELSE 1 END AS INT)
         |    AS n_frames
         |FROM m ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // spread before the partition-local decode: decode parallelism must
      // come from partitioning, not file count
      val media = Multimodal.attachPayload(
        Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text")
      Multimodal.decodeMeta(s, media)
        .select(col("doc_id"), col("meta.modality").as("modality"),
          col("meta.byteLen").as("byte_len"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.sampleRate").as("sample_rate"),
          col("meta.nFrames").as("n_frames"))
        .orderBy("doc_id")
    },

    // Metadata-level media planning on top of the decode: resize targets
    // (fit longest side to 256, never upscale) for every asset plus the
    // every-30th frame-sample count for videos — pure column math over the
    // decoded struct, no payload touch, no shuffle beyond the decode's.
    // Oracle note: out_* use floor();  Spark's double→int cast truncates
    // while DuckDB's rounds, so the floor is explicit in both engines
    // (values are non-negative: truncation ≡ floor).
    Q("m2_resize_plan", "MM-resize-framesample", {
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |    strlen(text) AS raw_len
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, modality,
         |    CAST(CASE WHEN modality = 'image' THEN $imgWSql
         |         WHEN modality = 'video' THEN $vidWSql
         |         ELSE 0 END AS INT) AS width,
         |    CAST(CASE WHEN modality = 'image' THEN $imgHSql
         |         WHEN modality = 'video' THEN $vidHSql
         |         ELSE 0 END AS INT) AS height,
         |    CAST(CASE WHEN modality = 'video' THEN $nFrameSql ELSE 1 END AS INT)
         |      AS n_frames
         |  FROM m),
         |p AS (
         |  SELECT doc_id, modality, width, height,
         |    CASE WHEN greatest(width, height) > 256
         |         THEN 256 / CAST(greatest(width, height) AS DOUBLE)
         |         ELSE 1.0 END AS scale,
         |    n_frames
         |  FROM d)
         |SELECT doc_id, modality, width, height,
         |  round(scale, 6) AS scale,
         |  CAST(floor(width * scale) AS INT) AS out_width,
         |  CAST(floor(height * scale) AS INT) AS out_height,
         |  CASE WHEN modality = 'video'
         |       THEN greatest(1, CAST(floor(n_frames / CAST(30 AS DOUBLE)) AS INT))
         |       END AS sampled_frames
         |FROM p ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val media = Multimodal.attachPayload(
        Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text")
      // decode feeds both planning branches: persist so the (at scale,
      // codec-expensive) decode pass runs once, not per consumer
      val decoded = Caches.persistTracked(Multimodal.decodeMeta(s, media))
      val resized = Multimodal.resizePlan(decoded, maxSide = 256)
      val frames = Multimodal.frameSamplePlan(decoded, everyN = 30)
        .select(col("doc_id"), col("sampled_frames"))
      resized.join(frames, Seq("doc_id"), "left")
        .select(col("doc_id"), col("meta.modality").as("modality"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          round(col("scale"), 6).as("scale"),
          col("out_width"), col("out_height"),
          col("sampled_frames").cast(IntegerType).as("sampled_frames"))
        .orderBy("doc_id")
    },

    // Chunking plan (Multimodal.chunkPlan): overlapping sample windows for
    // audio, frame clips for video, whole-asset for images — one row per
    // (asset, chunk). Fan-out is a per-row explode of an integer range
    // derived from decoded metadata: no shuffle, no payload touch, row
    // count proportional to total asset length (the encoder-batch
    // cardinality, unavoidable by definition).
    Q("m3_chunk_plan", "MM-chunking", {
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |    strlen(text) AS raw_len, $chSql AS ch
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, modality,
         |    CASE modality WHEN 'audio' THEN raw_len // (ch * 2)
         |         WHEN 'video' THEN $nFrameSql ELSE 1 END AS n_units,
         |    CASE modality WHEN 'audio' THEN 256
         |         WHEN 'video' THEN 30 ELSE 1 END AS chunk,
         |    CASE modality WHEN 'audio' THEN 192
         |         WHEN 'video' THEN 30 ELSE 1 END AS stride
         |  FROM m),
         |n AS (
         |  SELECT *, CASE WHEN n_units <= chunk THEN 1
         |    ELSE 1 + (n_units - chunk + stride - 1) // stride END AS n_chunks
         |  FROM u),
         |c AS (
         |  SELECT doc_id, modality, n_units, chunk, stride,
         |    unnest(range(0, CAST(n_chunks AS BIGINT))) AS chunk_idx
         |  FROM n)
         |SELECT doc_id, modality, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(chunk_idx * stride AS BIGINT) AS chunk_start,
         |  CAST(least(chunk_idx * stride + chunk, n_units) AS BIGINT) AS chunk_end
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, dir) =>
      val media = Multimodal.attachPayload(
        Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text")
      // audio windows in SAMPLE FRAMES (recovered by the real WAV parse):
      // 256-frame chunks with 64-frame overlap
      Multimodal.chunkPlan(Multimodal.decodeMeta(s, media),
          audioChunk = 256, audioStride = 192)
        .orderBy("doc_id", "chunk_idx")
    },

    // ----- direct SQL-route WAV decode: `wav_meta(payload)` — the codegen
    // RIFF parser over the binary asset column, no mapPartitions boundary
    // at all (header-only metadata extraction fuses into the scan's
    // codegen span; the payload never leaves the row). The oracle restates
    // the fixture builder's encoding rules, so a green row proves the
    // parser recovers exactly what the 44-byte PCM header encodes —
    // channels, rate, bit depth, data size, frame count and duration.
    Q("m5_wav_probe", "MM-wav-decode,F3", {
      s"""WITH a AS (
         |  SELECT doc_id, strlen(text) AS raw_len,
         |    $chSql AS ch, $rateSql AS rate
         |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 1)
         |SELECT doc_id, ch AS channels, rate AS sample_rate,
         |  CAST(16 AS INT) AS bits,
         |  CAST(raw_len AS BIGINT) AS data_bytes,
         |  CAST(raw_len // (ch * 2) AS BIGINT) AS n_frames,
         |  CAST((raw_len // (ch * 2)) * 1000000 // rate AS BIGINT)
         |    AS duration_us
         |FROM a ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val media = Multimodal.attachPayload(
        Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text")
      media.filter(col("modality") === "audio")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.wavMeta(col("payload")).as("w"))
        .select(col("doc_id"),
          col("w.channels").as("channels"),
          col("w.sample_rate").as("sample_rate"),
          col("w.bits").as("bits"),
          col("w.data_bytes").as("data_bytes"),
          col("w.n_frames").as("n_frames"),
          // exact integer microseconds (DIV, not /: Spark's / is always
          // fractional) — a rounded double duration sits on round-half
          // ties the two engines can resolve differently
          expr("CAST(w.n_frames * 1000000 DIV w.sample_rate AS BIGINT)")
            .as("duration_us"))
        .orderBy("doc_id")
    },

    // ----- direct SQL-route PNG decode: `png_meta(payload)` — the codegen
    // container parser over the binary asset column (signature + CRC-valid
    // IHDR + full chunk walk), the image twin of m5's wav probe. The
    // oracle restates the fixture builder's encoding rules, so a green row
    // proves builder ∘ parser = identity across every IHDR field, the
    // IDAT chunking (256-byte chunks → chunk count and summed stream
    // bytes) and the terminal IEND — through the distributed codegen path.
    Q("m6_png_probe", "MM-png-decode,F3", {
      s"""WITH i AS (
         |  SELECT doc_id, strlen(text) AS raw_len
         |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 0)
         |SELECT doc_id, $imgWSql AS width, $imgHSql AS height,
         |  CAST(8 AS INT) AS bit_depth,
         |  CAST(CASE (doc_id // 3) % 3 WHEN 0 THEN 0
         |       WHEN 1 THEN 2 ELSE 6 END AS INT) AS color_type,
         |  CAST(CASE (doc_id // 3) % 3 WHEN 0 THEN 1
         |       WHEN 1 THEN 3 ELSE 4 END AS INT) AS channels,
         |  CAST(doc_id % 2 AS INT) AS interlace,
         |  CAST(raw_len AS BIGINT) AS idat_bytes,
         |  CAST(2 + $nIdatSql AS INT) AS n_chunks,
         |  CAST($imgWSql AS BIGINT) * $imgHSql AS n_pixels
         |FROM i ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val media = Multimodal.attachPayload(
        Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text")
      media.filter(col("modality") === "image")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.pngMeta(col("payload")).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.bit_depth").as("bit_depth"),
          col("p.color_type").as("color_type"),
          col("p.channels").as("channels"),
          col("p.interlace").as("interlace"),
          col("p.idat_bytes").as("idat_bytes"),
          col("p.n_chunks").as("n_chunks"),
          (col("p.width").cast("long") * col("p.height")).as("n_pixels"))
        .orderBy("doc_id")
    },

    // ----- direct SQL-route AVI decode: `avi_meta(payload)` — the codegen
    // RIFF/AVI container parser over the binary asset column (signature +
    // declared-size check + hdrl/avih walk + movi data-chunk census), the
    // video twin of m5's wav probe and m6's png probe. The oracle restates
    // the fixture builder's encoding rules, so a green row proves
    // builder ∘ parser = identity across the avih header fields, the movi
    // chunking (512-byte '00dc' frames → chunk count and summed stream
    // bytes), and the duration arithmetic — through the distributed
    // codegen path.
    Q("m7_video_probe", "MM-avi-decode,F3", {
      s"""WITH v AS (
         |  SELECT doc_id, strlen(text) AS raw_len
         |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2)
         |SELECT doc_id, $vidWSql AS width, $vidHSql AS height,
         |  $vidUsSql AS us_per_frame,
         |  CAST($nFrameSql AS INT) AS n_frames,
         |  CAST(1 AS INT) AS n_streams,
         |  CAST(raw_len AS BIGINT) AS movi_bytes,
         |  CAST($nFrameSql AS INT) AS n_frame_chunks,
         |  CAST($nFrameSql AS BIGINT) * $vidUsSql AS duration_us
         |FROM v ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val media = Multimodal.attachPayload(
        Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text")
      media.filter(col("modality") === "video")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.aviMeta(col("payload")).as("v"))
        .select(col("doc_id"),
          col("v.width").as("width"), col("v.height").as("height"),
          col("v.us_per_frame").as("us_per_frame"),
          col("v.n_frames").as("n_frames"),
          col("v.n_streams").as("n_streams"),
          col("v.movi_bytes").as("movi_bytes"),
          col("v.n_frame_chunks").as("n_frame_chunks"),
          (col("v.n_frames").cast("long") * col("v.us_per_frame"))
            .as("duration_us"))
        .orderBy("doc_id")
    },

    // ----- asset-store dedup: exact duplicate BINARY payloads per
    // modality, keyed on the md5 digest of the bytes — the
    // storage-reclaim pass a multimodal corpus runs before re-encoding
    // anything (dup images/clips are byte-identical far more often than
    // text is). Per modality: asset count, distinct digests, duplicate
    // count and reclaimable bytes (every byte beyond each digest's first
    // copy). The digest shuffles as a 16-byte key — the payloads
    // themselves never cross the wire; at 100 TB the shuffle carries
    // digests + lengths only.
    Q("m4_asset_dedup", "MM-dedup,D1,A7",
      """WITH m AS (SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    md5(text) AS digest, strlen(text) AS bytes
        |  FROM documents),
        |g AS (SELECT modality, digest, count(*) AS copies,
        |             CAST(min(bytes) AS BIGINT) AS sz
        |      FROM m GROUP BY modality, digest)
        |SELECT modality, CAST(sum(copies) AS BIGINT) AS n_assets,
        |  count(*) AS n_distinct,
        |  CAST(sum(copies - 1) AS BIGINT) AS n_dupes,
        |  CAST(sum((copies - 1) * sz) AS BIGINT) AS bytes_reclaimable
        |FROM g GROUP BY modality ORDER BY modality""".stripMargin) {
      (s, dir) =>
      val media = Multimodal.attachRawPayload(
        Tables.documents(s, dir), "doc_id", "text")
      val g = media
        .select(col("modality"), md5(col("payload")).as("digest"),
          length(col("payload")).cast("long").as("bytes"))
        .groupBy("modality", "digest")
        .agg(count(lit(1)).as("copies"), min("bytes").as("sz"))
      g.groupBy("modality")
        .agg(sum("copies").as("n_assets"),
          count(lit(1)).as("n_distinct"),
          sum(col("copies") - 1).as("n_dupes"),
          sum((col("copies") - 1) * col("sz")).as("bytes_reclaimable"))
        .orderBy("modality")
    },

    // ----- cross-modal coverage QA: does every document have an
    // embedding, and every embedding a document? The alignment gate a
    // paired text+vector corpus runs before training (an orphan on either
    // side means the pairing upstream broke). Both directions are one
    // anti-join count each; output is a single summary row with exact
    // coverage ratios. At 100 TB the anti joins shuffle the 8-byte ids
    // only — both tables project to their key column before joining.
    Q("qa5_modal_coverage", "QA-alignment,J8,A10",
      """WITH d AS (SELECT doc_id FROM documents),
        |e AS (SELECT vec_id FROM embeddings),
        |od AS (SELECT count(*) AS docs_without_vec
        |       FROM d ANTI JOIN e ON d.doc_id = e.vec_id),
        |oe AS (SELECT count(*) AS vecs_without_doc
        |       FROM e ANTI JOIN d ON e.vec_id = d.doc_id),
        |n AS (SELECT (SELECT count(*) FROM d) AS n_docs,
        |             (SELECT count(*) FROM e) AS n_vecs)
        |SELECT n.n_docs, n.n_vecs,
        |  od.docs_without_vec, oe.vecs_without_doc,
        |  CAST(n.n_docs - od.docs_without_vec AS DOUBLE) / n.n_docs
        |    AS doc_coverage,
        |  od.docs_without_vec = 0 AND oe.vecs_without_doc = 0 AS aligned
        |FROM n CROSS JOIN od CROSS JOIN oe""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val e = Tables.embeddings(s, dir).select(col("vec_id"))
      val od = d.join(e, col("doc_id") === col("vec_id"), "left_anti")
        .agg(count(lit(1)).as("docs_without_vec"))
      val oe = e.join(d, col("vec_id") === col("doc_id"), "left_anti")
        .agg(count(lit(1)).as("vecs_without_doc"))
      val n = d.agg(count(lit(1)).as("n_docs"))
        .crossJoin(e.agg(count(lit(1)).as("n_vecs")))
      n.crossJoin(broadcast(od)).crossJoin(broadcast(oe))
        .select(col("n_docs"), col("n_vecs"),
          col("docs_without_vec"), col("vecs_without_doc"),
          ((col("n_docs") - col("docs_without_vec")).cast("double")
            / col("n_docs")).as("doc_coverage"),
          (col("docs_without_vec") === 0 && col("vecs_without_doc") === 0)
            .as("aligned"))
    }
  )
}
