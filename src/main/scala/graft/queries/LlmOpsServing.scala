package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{DatasetOps, Dedup, Multimodal, Similarity}
import graft.operators.Seam.Pins
import graft.sources.Tables

/** Overlap, scoring, multimodal pipelines, BPE and audio queries (q146-q234 region) — one section of the [[LlmOps]] registry, split from the
  * single 3.8k-line file along its section comments (VERDICT r9 item
  * 4; no behavior change). The self-type gives every section
  * unqualified access to the shared helpers and to sibling sections'
  * materialized artifacts, exactly as when all sections shared one
  * object body. */
private[queries] trait LlmOpsServing { this: LlmOps.type =>

  // ---- q146/q147: corpus-level overlap (exact + MinHash sketch) --------
  // Dataset-versioning diagnostics between two corpus snapshots (the
  // q130 src0-vs-src2 split): q146 is the exact distinct-shingle
  // census — Spark counts xxhash64 shingle hashes, the oracle counts
  // the raw shingle strings (the q113 collision-freeness contract),
  // and the ppm8 integer ratios replay bit-for-bit. q147 is the
  // 64-slot corpus-MinHash estimator, md5-keyed per slot (the q43
  // hash-family trick) so the oracle rebuilds every signature —
  // including the SIGNED 64-bit min semantics — and gates the
  // estimate exactly, not approximately.

  private[queries] val q146 = GraftQuery(
    "q146_corpus_overlap",
    (s, d) => {
      val dd = docs(s, d)
      Dedup.corpusOverlap(
        dd.filter(col("source") === "src0"),
        dd.filter(col("source") === "src2"), "text", k = 3)
    },
    Some("""WITH ta AS (SELECT list_filter(
          regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE source = 'src0'),
      tb AS (SELECT list_filter(
          regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE source = 'src2'),
      sa AS (SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS s
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i
          FROM ta WHERE len(tk) >= 3)),
      sb AS (SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS s
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i
          FROM tb WHERE len(tk) >= 3)),
      n AS (SELECT (SELECT count(*) FROM sa) AS na,
          (SELECT count(*) FROM sb) AS nb,
          (SELECT count(*) FROM sa JOIN sb USING (s)) AS c)
      SELECT CAST(na AS BIGINT) AS shingles_a, CAST(nb AS BIGINT) AS shingles_b,
        CAST(c AS BIGINT) AS common,
        CAST(CASE WHEN na + nb - c = 0 THEN 0
          ELSE (c * 100000000) // (na + nb - c) END AS BIGINT) AS jaccard8,
        CAST(CASE WHEN na = 0 THEN 0
          ELSE (c * 100000000) // na END AS BIGINT) AS contain_a8,
        CAST(CASE WHEN nb = 0 THEN 0
          ELSE (c * 100000000) // nb END AS BIGINT) AS contain_b8
      FROM n"""))

  private[queries] val q147 = GraftQuery(
    "q147_corpus_overlap_sketch",
    (s, d) => {
      val dd = docs(s, d)
      Dedup.corpusOverlapSketch(
        dd.filter(col("source") === "src0"),
        dd.filter(col("source") === "src2"), "text", k = 3, numHashes = 64)
    },
    Some("""WITH ta AS (SELECT list_filter(
          regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE source = 'src0'),
      tb AS (SELECT list_filter(
          regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE source = 'src2'),
      sa AS (SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS s
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i
          FROM ta WHERE len(tk) >= 3)),
      sb AS (SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS s
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i
          FROM tb WHERE len(tk) >= 3)),
      g AS (SELECT unnest(generate_series(0, 63)) AS i),
      ha AS (SELECT g.i, min(
          (CAST(concat('0x', substring(md5(g.i || ':' || s), 1, 8)) AS BIGINT)
            - CASE WHEN CAST(concat('0x', substring(md5(g.i || ':' || s), 1, 8))
                AS BIGINT) >= 2147483648 THEN 4294967296 ELSE 0 END)
            * 4294967296
          + CAST(concat('0x', substring(md5(g.i || ':' || s), 9, 8)) AS BIGINT))
          AS m
        FROM sa, g GROUP BY g.i),
      hb AS (SELECT g.i, min(
          (CAST(concat('0x', substring(md5(g.i || ':' || s), 1, 8)) AS BIGINT)
            - CASE WHEN CAST(concat('0x', substring(md5(g.i || ':' || s), 1, 8))
                AS BIGINT) >= 2147483648 THEN 4294967296 ELSE 0 END)
            * 4294967296
          + CAST(concat('0x', substring(md5(g.i || ':' || s), 9, 8)) AS BIGINT))
          AS m
        FROM sb, g GROUP BY g.i)
      SELECT CAST(count(CASE WHEN ha.m = hb.m THEN 1 END) AS BIGINT)
          AS matches,
        CAST(64 AS BIGINT) AS num_hashes,
        CAST((count(CASE WHEN ha.m = hb.m THEN 1 END) * 100000000) // 64
          AS BIGINT) AS jaccard_est8
      FROM ha JOIN hb USING (i)"""))

  // ---- q149: embedding-space drift monitor -----------------------------
  // The vector-modality member of the snapshot-monitoring family
  // (q130 term drift, q146/q147 shingle overlap): labels 0-4 vs 5-9
  // as the two "snapshots". The oracle replays the DECIMAL centroid
  // fold per side (the q120 machinery with a constant group), the
  // 6dp cosine between the two centroids, and both norms.

  private[queries] val q149 = GraftQuery(
    "q149_embedding_drift",
    (s, d) => {
      val e = emb(s, d)
      Similarity.embeddingDrift(
        e.filter(col("label") <= 4), e.filter(col("label") >= 5),
        "embedding")
    },
    Some("""WITH ua AS (SELECT unnest(list_transform(
          generate_series(1, len(embedding)),
          i -> struct_pack(idx := i - 1, x := CAST(embedding[i] AS DOUBLE))))
          AS u
        FROM embeddings WHERE label <= 4),
      ub AS (SELECT unnest(list_transform(
          generate_series(1, len(embedding)),
          i -> struct_pack(idx := i - 1, x := CAST(embedding[i] AS DOUBLE))))
          AS u
        FROM embeddings WHERE label >= 5),
      ca AS (SELECT u.idx AS idx,
          round(CAST(sum(CAST(u.x AS DECIMAL(30, 12))) AS DOUBLE)
            / count(u.x), 6) AS m,
          count(u.x) AS n
        FROM ua GROUP BY u.idx),
      cb AS (SELECT u.idx AS idx,
          round(CAST(sum(CAST(u.x AS DECIMAL(30, 12))) AS DOUBLE)
            / count(u.x), 6) AS m,
          count(u.x) AS n
        FROM ub GROUP BY u.idx),
      va AS (SELECT list(m ORDER BY idx) AS v, max(n) AS n FROM ca),
      vb AS (SELECT list(m ORDER BY idx) AS v, max(n) AS n FROM cb)
      SELECT CAST(va.n AS BIGINT) AS n_a, CAST(vb.n AS BIGINT) AS n_b,
        round(list_dot_product(va.v, vb.v) /
          (sqrt(list_dot_product(va.v, va.v)) *
           sqrt(list_dot_product(vb.v, vb.v))), 6) AS centroid_cos,
        round(sqrt(list_dot_product(va.v, va.v)), 6) AS norm_a,
        round(sqrt(list_dot_product(vb.v, vb.v)), 6) AS norm_b
      FROM va, vb"""))

  // ---- q150: hashed linear classifier scoring --------------------------
  // The fasttext-shaped quality filter (CCNet/RefinedWeb lineage):
  // unigram+bigram occurrences hashed into 2^18 buckets, md5-derived
  // integer bucket weights in [-1000, 1000], per-doc integer sum, and
  // a multiplicative per-feature keep threshold (no division of
  // possibly-negative sums). Zero shuffles — the whole op is one
  // narrow scan, which is the property that matters when it gates a
  // 100 TB corpus. The oracle replays bucketing, the weight draw and
  // the fold bit-for-bit.

  /** The hashed-classifier replay (toks → feats → bw → sc) — ONE
    * definition shared by q150 and the drift report q368, so the two
    * oracles cannot drift from each other. */
  private[queries] val classifierOracleCte: String = """toks AS (
        SELECT doc_id, list_filter(
          regexp_split_to_array(lower(text), '\s+'),
          x -> length(x) > 0) AS tk
        FROM documents),
      feats AS (
        SELECT doc_id, unnest(list_concat(
          list_transform(tk, t -> 'clf:u:' || t),
          list_transform(generate_series(1, len(tk) - 1),
            i -> 'clf:b:' || tk[i] || ' ' || tk[i + 1]))) AS f
        FROM toks),
      bw AS (
        SELECT doc_id,
          CAST(concat('0x', substring(md5('w:clf:' ||
            (CAST(concat('0x', substring(md5(f), 1, 8)) AS BIGINT)
              % 262144)), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
        FROM feats),
      sc AS (
        SELECT doc_id, count(*) AS n_feats, sum(w) AS score
        FROM bw GROUP BY doc_id)"""

  private[queries] val q150 = GraftQuery(
    "q150_classifier_score",
    (s, d) =>
      DatasetOps.classifierScores(docs(s, d), "doc_id", "text",
          threshold = -20L)
        .orderBy(col("doc_id")),
    Some(s"""WITH $classifierOracleCte
      SELECT d.doc_id,
        CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
        CAST(coalesce(s.score, 0) AS BIGINT) AS score,
        coalesce(s.score, 0) >= -20 * coalesce(s.n_feats, 0) AS keep
      FROM documents d LEFT JOIN sc s USING (doc_id)
      ORDER BY d.doc_id"""))

  // ---- q368: quality-score drift report (r16) --------------------------
  // VERDICT r15 #7's batch form: every source's classifier-score
  // DISTRIBUTION compared against the pooled corpus baseline by
  // integer L1 over shared score buckets (drift_ppm = Σ |share_g −
  // share_all|, = 2× total variation) — the census-bucket drift shape
  // the streaming monitor (DocIngest.runQualityDriftIngest) runs per
  // micro-batch. src1's scores are shifted +24000 (the planted
  // drifted batch — ~3σ of the score spread); measured margins:
  // planted ~1.8M ppm vs worst healthy ~0.5M at both SFs, so the 10⁶
  // flag separates cleanly. The oracle replays scoring, the shifted
  // plant, bucket arithmetic (the +10⁷ shift keeps floor ≡ truncate
  // across engines), every share division and the L1 fold.

  private[queries] val q368 = GraftQuery(
    "q368_quality_drift",
    (s, d) => {
      val scored = DatasetOps.classifierScores(docs(s, d), "doc_id",
          "text")
        .join(docs(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("source"),
          (col("score") + when(col("source") === "src1", 24000L)
            .otherwise(0L)).as("score"))
      DatasetOps.scoreDriftReport(scored, "source", "score",
          bucketWidth = 8000L, flagPpm = 1000000L)
        .orderBy(col("source"))
    },
    Some(s"""WITH $classifierOracleCte,
      sc2 AS (SELECT d.doc_id, d.source,
          coalesce(s.score, 0) +
            CASE WHEN d.source = 'src1' THEN 24000 ELSE 0 END AS score
        FROM documents d LEFT JOIN sc s USING (doc_id)),
      gb AS (SELECT source, (score + 10000000) // 8000 AS bucket,
          count(*) AS gn
        FROM sc2 GROUP BY 1, 2),
      basec AS (SELECT bucket, sum(gn) AS bn FROM gb GROUP BY 1),
      tot AS (SELECT source, sum(gn) AS gt FROM gb GROUP BY 1),
      ta AS (SELECT sum(bn) AS n FROM basec),
      grid AS (SELECT t.source, t.gt, b.bucket, b.bn
        FROM tot t CROSS JOIN basec b),
      jj AS (SELECT g.source, g.gt, g.bucket, g.bn,
          coalesce(x.gn, 0) AS gn
        FROM grid g LEFT JOIN gb x
          ON g.source = x.source AND g.bucket = x.bucket),
      dr AS (SELECT source, any_value(gt) AS n_docs,
          sum(abs(gn * 1000000 // gt -
            bn * 1000000 // (SELECT n FROM ta))) AS drift
        FROM jj GROUP BY source)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(drift AS BIGINT) AS drift_ppm,
        drift > 1000000 AS flagged
      FROM dr ORDER BY source"""))

  // ---- q160: raster resize (nearest-neighbor) --------------------------
  // The multimodal resize kernel over a synthetic 8×8 raw raster
  // (md5-chain bytes — the q38 convention): downsample to 3×3 with
  // pure integer index arithmetic, plus the integer mean pixel. The
  // oracle replays the hex chain, every source-pixel index and the
  // mean division, so one off-by-one in the row/col mapping flips the
  // hash.

  private[queries] val q160: GraftQuery = GraftQuery(
    "q160_raster_resize",
    (s, d) => {
      val hx = upper(concat(md5(col("text")),
        md5(concat(col("text"), lit("2"))),
        md5(concat(col("text"), lit("3"))),
        md5(concat(col("text"), lit("4"))))) // 128 hex chars = 8×8 bytes
      docs(s, d)
        .select(col("doc_id"),
          Multimodal.resizeRasterPx(hx, 8, 8, 3, 3).as("_px"))
        .select(col("doc_id"),
          array_join(col("_px"), "").as("resized_hex"),
          aggregate(transform(col("_px"),
              p => conv(p, 16, 10).cast(LongType)),
            lit(0L), (a, x) => a + x).as("_s"))
        .select(col("doc_id"), col("resized_hex"),
          expr("_s div 9L").as("mean_pixel"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH r AS (SELECT doc_id,
        upper(md5(text) || md5(text || '2') || md5(text || '3') ||
          md5(text || '4')) AS hx FROM documents),
      z AS (SELECT doc_id, list_transform(generate_series(0, 8), i ->
          substr(hx, (((i // 3) * 8 // 3) * 8 + ((i % 3) * 8 // 3)) * 2 + 1,
            2)) AS px
        FROM r)
      SELECT doc_id, list_aggregate(px, 'string_agg', '') AS resized_hex,
        CAST(list_sum(list_transform(px,
          p -> CAST(concat('0x', p) AS BIGINT))) // 9 AS BIGINT)
          AS mean_pixel
      FROM z ORDER BY doc_id"""))

  // ---- q188: perceptual-hash image near-dup ---------------------------
  // The multimodal dedup tier: 100 synthetic 8×8 rasters (the q160
  // md5-chain convention) where each even id's raster reappears at
  // the odd id with ONE pixel overwritten — the controlled near-dup a
  // content hash cannot see. dHash (9×8 gradient signs) + 4-band
  // join + exact hamming verify; bands > maxHamming makes the banded
  // result the EXACT hamming ≤ 3 relation, so the oracle computes
  // that relation directly (resize arithmetic, gradient bits, all
  // pairs) — any banding recall loss would flip the hash.

  private[queries] val q188: GraftQuery = GraftQuery(
    "q188_image_near_dup",
    (s, d) => {
      val hashed = imageRasterFixture(s, d).select(col("id"),
        Multimodal.dHashBits(col("hx"), 8, 8).as("bits"))
      Multimodal.imageNearDupPairs(hashed, "id", "bits",
        maxHamming = 3, bands = 4)
    },
    Some(imageNearDupOracleSql))

  /** q188's planted raster corpus — 50 md5-chain rasters, each
    * reappearing at the odd id with its first pixel forced to 0xFF
    * (the one-pixel-variant plant) — shared with the SQL-door probe
    * q237. */
  private[queries] def imageRasterFixture(s: SparkSession,
                                          d: String): DataFrame = {
    val hx = upper(concat(md5(col("text")),
      md5(concat(col("text"), lit("2"))),
      md5(concat(col("text"), lit("3"))),
      md5(concat(col("text"), lit("4")))))
    val base = docs(s, d).filter(col("doc_id") < 50)
      .select(col("doc_id"), hx.as("hx"))
    base
      .select((col("doc_id") * 2).as("id"), col("hx"))
      .union(base.select((col("doc_id") * 2 + 1).as("id"),
        concat(lit("FF"), expr("substring(hx, 3)")).as("hx")))
  }

  /** q188's full-replay oracle (rasters, fingerprints, the exact
    * hamming ≤ 3 relation) — shared verbatim by q237's TVF door. */
  private[queries] lazy val imageNearDupOracleSql: String =
    """WITH r0 AS (SELECT doc_id,
        upper(md5(text) || md5(text || '2') || md5(text || '3') ||
          md5(text || '4')) AS hx
        FROM documents WHERE doc_id < 50),
      rs AS (SELECT doc_id * 2 AS id, hx FROM r0
        UNION ALL SELECT doc_id * 2 + 1, 'FF' || substr(hx, 3) FROM r0),
      px AS (SELECT id, list_transform(generate_series(0, 71), i ->
          CAST(concat('0x', substr(hx,
            ((i // 9) * 8 + ((i % 9) * 8 // 9)) * 2 + 1, 2)) AS BIGINT))
          AS p
        FROM rs),
      bits AS (SELECT id, list_aggregate(
          list_transform(generate_series(0, 63), j ->
            CASE WHEN p[(j // 8) * 9 + (j % 8) + 1] >
                      p[(j // 8) * 9 + (j % 8) + 2]
              THEN '1' ELSE '0' END), 'string_agg', '') AS bits
        FROM px),
      pr AS (SELECT a.id AS idA, b.id AS idB, a.bits AS ba, b.bits AS bb
        FROM bits a JOIN bits b ON a.id < b.id),
      h AS (SELECT idA, idB,
          len(list_filter(generate_series(1, 64),
            i -> substr(ba, i, 1) <> substr(bb, i, 1))) AS hamming
        FROM pr)
      SELECT idA, idB, CAST(hamming AS BIGINT) AS hamming
      FROM h WHERE hamming <= 3 ORDER BY idA, idB"""

  // ---- q237: image_near_dup TVF — the SQL door to perceptual dedup ----
  // The parser route to the image dedup tier (the q235/q236 pattern
  // extended to multimodal): the IDENTICAL planted raster corpus q188
  // mines, reached as image_near_dup('view', 'id', 'hx', 3, 4) — the
  // TVF computes the dHash fingerprints and runs the banded-hamming
  // pair mine. The oracle is q188's full replay verbatim: the door
  // must find exactly the pairs the library call finds.

  private[queries] val q237: GraftQuery = GraftQuery(
    "q237_sql_image_near_dup",
    (s, d) => {
      imageRasterFixture(s, d)
        .createOrReplaceTempView("image_rasters_sql")
      s.sql("""SELECT * FROM
        image_near_dup('image_rasters_sql', 'id', 'hx', 3, 4)
        ORDER BY idA, idB""")
    },
    Some(imageNearDupOracleSql))


  // ---- q189: video duplicate-clip detection ---------------------------
  // The video tier of perceptual dedup: 40 synthetic 4-frame "videos"
  // (each frame an md5-chain raster keyed by (video, frame)), where
  // each even/odd id pair SHARES its last frame (seeded by id div 2)
  // — the re-uploaded-clip plant. Frame sampling → per-frame dHash →
  // banded cross-video match; the oracle rebuilds every frame, every
  // fingerprint and the full hamming ≤ 3 cross-pair relation.

  private[queries] val q189: GraftQuery = GraftQuery(
    "q189_video_clip_dup",
    (s, d) => {
      def chain(seed: Column) = upper(concat(md5(seed),
        md5(concat(seed, lit("2"))), md5(concat(seed, lit("3"))),
        md5(concat(seed, lit("4")))))
      def vf(k: Int) = chain(concat(lit("vf:"),
        col("id").cast(StringType), lit(s":$k")))
      val hx = concat(vf(0), vf(1), vf(2),
        chain(concat(lit("vs:"), expr("id div 2").cast(StringType))))
      val vids = docs(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id").as("id"))
        .select(col("id"), hx.as("hx"))
      Multimodal.videoFrameNearDups(vids, "id", "hx",
        frameHexChars = 128, nFrames = 4, w = 8, h = 8)
    },
    Some("""WITH v AS (SELECT doc_id AS id FROM documents
        WHERE doc_id < 40),
      fr AS (SELECT id, k,
          CASE WHEN k < 3 THEN 'vf:' || id || ':' || k
            ELSE 'vs:' || CAST(id // 2 AS VARCHAR) END AS seed
        FROM v, generate_series(0, 3) t(k)),
      hxs AS (SELECT id, k, upper(md5(seed) || md5(seed || '2') ||
          md5(seed || '3') || md5(seed || '4')) AS hx FROM fr),
      px AS (SELECT id, k, list_transform(generate_series(0, 71), i ->
          CAST(concat('0x', substr(hx,
            ((i // 9) * 8 + ((i % 9) * 8 // 9)) * 2 + 1, 2)) AS BIGINT))
          AS p
        FROM hxs),
      bits AS (SELECT id, k, list_aggregate(
          list_transform(generate_series(0, 63), j ->
            CASE WHEN p[(j // 8) * 9 + (j % 8) + 1] >
                      p[(j // 8) * 9 + (j % 8) + 2]
              THEN '1' ELSE '0' END), 'string_agg', '') AS bits
        FROM px),
      pr AS (SELECT a.id AS va, a.k AS fa, b.id AS vb, b.k AS fb,
          a.bits AS ba, b.bits AS bb
        FROM bits a JOIN bits b ON a.id < b.id),
      h AS (SELECT va, fa, vb, fb,
          len(list_filter(generate_series(1, 64),
            i -> substr(ba, i, 1) <> substr(bb, i, 1))) AS hamming
        FROM pr)
      SELECT CAST(va AS BIGINT) AS vid_a, CAST(fa AS BIGINT) AS frame_a,
        CAST(vb AS BIGINT) AS vid_b, CAST(fb AS BIGINT) AS frame_b,
        CAST(hamming AS BIGINT) AS hamming
      FROM h WHERE hamming <= 3
      ORDER BY vid_a, vid_b, frame_a, frame_b"""))

  // ---- q190: image-curation recipe (multimodal composition) -----------
  // The q168 interop story for the image tier: q188's raster corpus →
  // perceptual near-dup pairs → cluster keep-first (the q63 fixpoint
  // over the hamming graph) → per-source census of survivors. The
  // oracle replays ALL FOUR stage boundaries in one statement
  // (fingerprints, the exact hamming relation, recursive
  // reachability with min-label resolution, the census).

  private[queries] val q190: GraftQuery = GraftQuery(
    "q190_image_curation",
    (s, d) => {
      val hx = upper(concat(md5(col("text")),
        md5(concat(col("text"), lit("2"))),
        md5(concat(col("text"), lit("3"))),
        md5(concat(col("text"), lit("4")))))
      val base = docs(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("source"), hx.as("hx"))
      val rasters = base
        .select((col("doc_id") * 2).as("id"), col("source"), col("hx"))
        .union(base.select((col("doc_id") * 2 + 1).as("id"), col("source"),
          concat(lit("FF"), expr("substring(hx, 3)")).as("hx")))
      val hashed = rasters.select(col("id"), col("source"),
        Multimodal.dHashBits(col("hx"), 8, 8).as("bits"))
      val pairs = Multimodal.imageNearDupPairs(hashed, "id", "bits")
        .select(col("idA"), col("idB"))
      val reps = Dedup.clusterReps(pairs, checkpointPairs = false)
      val tot = hashed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_rasters"))
      val kept = hashed.join(reps, Seq("id"), "left")
        .filter(col("rep").isNull || col("rep") === col("id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      tot.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_rasters"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some("""WITH RECURSIVE r0 AS (SELECT doc_id, source,
        upper(md5(text) || md5(text || '2') || md5(text || '3') ||
          md5(text || '4')) AS hx
        FROM documents WHERE doc_id < 50),
      rs AS (SELECT doc_id * 2 AS id, source, hx FROM r0
        UNION ALL SELECT doc_id * 2 + 1, source, 'FF' || substr(hx, 3)
        FROM r0),
      px AS (SELECT id, list_transform(generate_series(0, 71), i ->
          CAST(concat('0x', substr(hx,
            ((i // 9) * 8 + ((i % 9) * 8 // 9)) * 2 + 1, 2)) AS BIGINT))
          AS p
        FROM rs),
      bits AS (SELECT id, list_aggregate(
          list_transform(generate_series(0, 63), j ->
            CASE WHEN p[(j // 8) * 9 + (j % 8) + 1] >
                      p[(j // 8) * 9 + (j % 8) + 2]
              THEN '1' ELSE '0' END), 'string_agg', '') AS bits
        FROM px),
      pr AS (SELECT a.id AS ida, b.id AS idb
        FROM bits a JOIN bits b ON a.id < b.id
        WHERE len(list_filter(generate_series(1, 64),
          i -> substr(a.bits, i, 1) <> substr(b.bits, i, 1))) <= 3),
      sym AS (SELECT ida AS id, idb AS nbr FROM pr
        UNION SELECT idb, ida FROM pr),
      reach(id, lab) AS (SELECT id, id FROM rs
        UNION
        SELECT s.id, r.lab FROM sym s JOIN reach r ON r.id = s.nbr),
      lab AS (SELECT id, min(lab) AS rep FROM reach GROUP BY id),
      kept AS (SELECT rs.id, rs.source FROM rs
        JOIN lab ON lab.id = rs.id WHERE lab.rep = rs.id),
      tot AS (SELECT source, count(*) AS n_rasters FROM rs
        GROUP BY source),
      k AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source)
      SELECT t.source, CAST(t.n_rasters AS BIGINT) AS n_rasters,
        CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
      FROM tot t LEFT JOIN k USING (source) ORDER BY t.source"""))

  // ---- q157: unigram LM surprisal scoring ------------------------------
  // The perplexity-filter shape without a float anywhere: per-token
  // surprisal = bitlen(N) − bitlen(count) (bitlen = binary-string
  // length, exact in both engines), summed per document. The oracle
  // replays census, total, the (doc, token, tf) fold and both
  // integer divisions.

  private[queries] val q157: GraftQuery = GraftQuery(
    "q157_surprisal_score",
    (s, d) =>
      DatasetOps.surprisalScores(docs(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\s+'),
        x -> length(x) > 0)) AS t FROM documents),
      census AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM census),
      dt AS (SELECT doc_id, t, count(*) AS tf FROM toks
        GROUP BY doc_id, t),
      sc AS (SELECT doc_id, sum(tf) AS n_tokens,
          sum(tf * (length(bin(tot.n)) - length(bin(census.c)))) AS bits
        FROM dt JOIN census USING (t), tot GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(s.bits, 0) AS BIGINT) AS surprisal_bits,
        CAST(CASE WHEN coalesce(s.n_tokens, 0) = 0 THEN 0
          ELSE (s.bits * 1000) // s.n_tokens END AS BIGINT)
          AS milli_bits_per_token
      FROM documents d LEFT JOIN sc s USING (doc_id)
      ORDER BY d.doc_id"""))

  // ---- q161/q162: the SQL (TVF) paths for surprisal + water-filling ---
  // Parser paths, not new semantics — the oracles are q157's and
  // q155's verbatim.

  private[queries] val q161: GraftQuery = GraftQuery(
    "q161_sql_surprisal",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT doc_id, n_tokens, surprisal_bits,
          milli_bits_per_token
        FROM surprisal_score('documents', 'doc_id', 'text')
        ORDER BY doc_id""")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\s+'),
        x -> length(x) > 0)) AS t FROM documents),
      census AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM census),
      dt AS (SELECT doc_id, t, count(*) AS tf FROM toks
        GROUP BY doc_id, t),
      sc AS (SELECT doc_id, sum(tf) AS n_tokens,
          sum(tf * (length(bin(tot.n)) - length(bin(census.c)))) AS bits
        FROM dt JOIN census USING (t), tot GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(s.bits, 0) AS BIGINT) AS surprisal_bits,
        CAST(CASE WHEN coalesce(s.n_tokens, 0) = 0 THEN 0
          ELSE (s.bits * 1000) // s.n_tokens END AS BIGINT)
          AS milli_bits_per_token
      FROM documents d LEFT JOIN sc s USING (doc_id)
      ORDER BY d.doc_id"""))

  private[queries] val q162: GraftQuery = GraftQuery(
    "q162_sql_waterfill",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT source, n_tokens, capacity_tokens, alloc_tokens,
          saturated, milli_epochs
        FROM mixture_waterfill('documents', 'source', 'text', 48000, 2000)
        ORDER BY source""")
    },
    Some("""WITH tc AS (SELECT source, sum(len(list_filter(
        regexp_split_to_array(lower(text), '\s+'),
        x -> length(x) > 0))) AS n FROM documents GROUP BY source),
      cap AS (SELECT source, CAST(n AS BIGINT) AS n,
          CAST(n AS BIGINT) * 2000 // 1000 AS c FROM tc),
      o AS (SELECT source, n, c,
          row_number() OVER (ORDER BY c, source) AS j,
          coalesce(sum(c) OVER (ORDER BY c, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
          count(*) OVER () AS s
        FROM cap),
      f AS (SELECT *, p + c * (s - j + 1) <= 48000 AS sat FROM o),
      k AS (SELECT count(*) FILTER (WHERE sat) AS kk,
          coalesce(sum(c) FILTER (WHERE sat), 0) AS psat,
          count(*) AS s FROM f),
      t AS (SELECT CASE WHEN kk >= s THEN 0
          ELSE (48000 - psat) // (s - kk) END AS tau FROM k)
      SELECT f.source, f.n AS n_tokens,
        CAST(f.c AS BIGINT) AS capacity_tokens,
        CAST(CASE WHEN f.sat THEN f.c ELSE t.tau END AS BIGINT)
          AS alloc_tokens,
        f.sat AS saturated,
        CAST(CASE WHEN f.n = 0 THEN 0
          ELSE (CASE WHEN f.sat THEN f.c ELSE t.tau END) * 1000 // f.n
          END AS BIGINT) AS milli_epochs
      FROM f, t ORDER BY f.source"""))

  // ---- q156: quality-aware cluster resolution (keep-best) -------------
  // The q42 near-dup pair graph closed transitively, then each cluster
  // resolved to its LONGEST member (n_chars DESC, doc_id ASC) instead
  // of keep-first — the production rule that keeps the full copy when
  // the earliest id is the truncated one. The oracle replays the full
  // exact shingle-Jaccard pair set (LSH recall loss flips the hash),
  // the recursive reachability, and the ordered argmax.

  private[queries] val q156: GraftQuery = GraftQuery(
    "q156_cluster_keep_best",
    (s, d) => {
      // materialized verdict feed (the q63 shape): the fixpoint reads
      // 16-byte parquet rows, so checkpointPairs re-materialization
      // of the LSH pipeline is skipped
      Dedup.keepBestPerCluster(docs(s, d), "doc_id", "n_chars",
          docPairsMaterialized(s, d), checkpointPairs = false)
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\s+'),
            t -> len(t) > 0) AS tk
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(tk) >= 3
            THEN list_distinct(list_transform(
              generate_series(1, len(tk) - 2),
              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
            ELSE [] END AS sh
        FROM toks),
      pairs AS (
        SELECT a.doc_id AS idA, b.doc_id AS idB
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND len(list_intersect(a.sh, b.sh)) * 1.0 /
              len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
      sym AS (
        SELECT idA AS id, idB AS nbr FROM pairs
        UNION SELECT idB, idA FROM pairs),
      reach(id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.id, r.lab FROM sym s JOIN reach r ON r.id = s.nbr),
      lab AS (SELECT id, min(lab) AS cluster_rep FROM reach GROUP BY id),
      best AS (SELECT l.cluster_rep,
          (list(d.doc_id ORDER BY d.n_chars DESC, d.doc_id))[1] AS best_id
        FROM lab l JOIN documents d ON d.doc_id = l.id
        GROUP BY l.cluster_rep)
      SELECT d.doc_id, l.cluster_rep, d.doc_id = b.best_id AS kept
      FROM documents d
      JOIN lab l ON l.id = d.doc_id
      JOIN best b ON b.cluster_rep = l.cluster_rep
      ORDER BY d.doc_id"""))

  // ---- q155: mixture budget water-filling ------------------------------
  // UniMax-shaped training-mixture planning: 48 000 budget tokens over
  // the 20 sources with a 2-epoch (2000 milli) cap — sized so BOTH
  // allocation regimes are exercised at sf0.01 (the two smallest
  // sources saturate at their cap; the rest share the waterline). The
  // oracle replays the census, the (capacity, source) sort, the
  // prefix-feasibility test and both integer divisions, so a drifted
  // tie-break or rounding order flips the hash.

  private[queries] val q155: GraftQuery = GraftQuery(
    "q155_mixture_waterfill",
    (s, d) =>
      DatasetOps.mixtureAllocation(docs(s, d), "source", "text",
          budgetTokens = 48000L, maxMilliEpochs = 2000L)
        .orderBy(col("source")),
    Some("""WITH tc AS (SELECT source, sum(len(list_filter(
        regexp_split_to_array(lower(text), '\s+'),
        x -> length(x) > 0))) AS n FROM documents GROUP BY source),
      cap AS (SELECT source, CAST(n AS BIGINT) AS n,
          CAST(n AS BIGINT) * 2000 // 1000 AS c FROM tc),
      o AS (SELECT source, n, c,
          row_number() OVER (ORDER BY c, source) AS j,
          coalesce(sum(c) OVER (ORDER BY c, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
          count(*) OVER () AS s
        FROM cap),
      f AS (SELECT *, p + c * (s - j + 1) <= 48000 AS sat FROM o),
      k AS (SELECT count(*) FILTER (WHERE sat) AS kk,
          coalesce(sum(c) FILTER (WHERE sat), 0) AS psat,
          count(*) AS s FROM f),
      t AS (SELECT CASE WHEN kk >= s THEN 0
          ELSE (48000 - psat) // (s - kk) END AS tau FROM k)
      SELECT f.source, f.n AS n_tokens,
        CAST(f.c AS BIGINT) AS capacity_tokens,
        CAST(CASE WHEN f.sat THEN f.c ELSE t.tau END AS BIGINT)
          AS alloc_tokens,
        f.sat AS saturated,
        CAST(CASE WHEN f.n = 0 THEN 0
          ELSE (CASE WHEN f.sat THEN f.c ELSE t.tau END) * 1000 // f.n
          END AS BIGINT) AS milli_epochs
      FROM f, t ORDER BY f.source"""))

  // ---- q152: BPE merge induction ---------------------------------------
  // Tokenizer training's inner loop (Sennrich 2016) as a corpus
  // operator: 4 merge rounds learned from the word-type census. The
  // oracle unrolls all four rounds — census → argmax (count DESC,
  // lhs, rhs) → sequential-replace merge apply — over the same
  // U+001F-framed symbol strings, so a drifted tie-break, a wrong
  // overlap semantics ("aaa" must merge to [aa, a]) or a lost
  // word-count weight flips the hash.

  /** One BPE merge round as DuckDB CTEs (shared by q152's learner
    * replay and q154's encode replay): pair census over the framed
    * word census `prev` → argmax (count DESC, lhs, rhs) → sequential
    * replace-apply. */
  private[queries] def bpeRoundSql(i: Int, prev: String): String = s"""
      p$i AS (SELECT u.l AS l, u.r AS r, sum(n) AS cnt FROM (
          SELECT n, unnest(list_transform(generate_series(1, len(sy) - 1),
            i -> struct_pack(l := sy[i], r := sy[i + 1]))) AS u
          FROM (SELECT n, string_split($prev.w[2:len($prev.w) - 1],
              chr(31) || chr(31)) AS sy FROM $prev))
        GROUP BY u.l, u.r),
      m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
      w$i AS (SELECT replace($prev.w,
          chr(31) || m$i.l || chr(31) || chr(31) || m$i.r || chr(31),
          chr(31) || m$i.l || m$i.r || chr(31)) AS w, n
        FROM $prev, m$i)"""

  private[queries] val q152: GraftQuery = {
    val round = (i: Int, prev: String) => bpeRoundSql(i, prev)
    GraftQuery(
      "q152_bpe_merges",
      (s, d) =>
        graft.operators.Bpe.learnBpeMerges(docs(s, d), "text", nMerges = 4),
      Some(s"""WITH toks AS (SELECT unnest(list_filter(
          regexp_split_to_array(lower(text), '\\s+'),
          x -> length(x) > 0)) AS w FROM documents),
        wc AS (SELECT w, count(*) AS n FROM toks
          WHERE regexp_matches(w, '^[\\x21-\\x7e]+$$') GROUP BY w),
        w0 AS (SELECT regexp_replace(w, '(.)',
            chr(31) || '\\1' || chr(31), 'g') AS w, n FROM wc),
        ${round(1, "w0")},
        ${round(2, "w1")},
        ${round(3, "w2")},
        ${round(4, "w3")}
        SELECT CAST(mr AS BIGINT) AS merge_rank, lhs, rhs,
          CAST(cnt AS BIGINT) AS pair_count FROM (
          SELECT 1 AS mr, l AS lhs, r AS rhs, cnt FROM m1
          UNION ALL SELECT 2, l, r, cnt FROM m2
          UNION ALL SELECT 3, l, r, cnt FROM m3
          UNION ALL SELECT 4, l, r, cnt FROM m4)
        ORDER BY merge_rank"""))
  }

  // ---- q345: BATCHED BPE merge learning (r14) --------------------------
  // VERDICT r13 Missing #2: the round-per-merge learner cannot reach a
  // real vocabulary (10⁴⁺ merges = 10⁴⁺ Spark jobs). The batched rule
  // selects the top non-conflicting `batchSize` pairs per census round
  // (window 8·batchSize; a selected pair reserves BOTH its symbols AND
  // its merged product l+r — ADVICE r14 — so co-selected merges can
  // neither create nor destroy each other's occurrences: they commute
  // under sequential replacement and the batch is well-defined) and
  // applies them together. The oracle replays TWO full rounds of
  // window → greedy conflict-skip selection → triple replace over the
  // same word census, so a drifted window, a wrong conflict rule, or
  // an out-of-order apply flips the hash.

  /** One batched oracle round: census over `prev`, top-24 window,
    * greedy 3-slot selection with shared-symbol AND merged-product
    * exclusion (ADVICE r14), and the 3-deep sequential replace
    * producing `wb$i`. Empty slots replace an inert chr(30) pattern
    * (identity). */
  private[queries] def batchedBpeRoundSql(i: Int, prev: String,
                                          minPairCount: Long = 1L)
      : String = {
    def pat(s: String) =
      s"coalesce((SELECT chr(31) || l || chr(31) || chr(31) || r || chr(31) FROM $s), chr(30))"
    def rep(s: String) =
      s"coalesce((SELECT chr(31) || l || r || chr(31) FROM $s), chr(30))"
    s"""pb$i AS MATERIALIZED (SELECT u.l AS l, u.r AS r, sum(n) AS cnt FROM (
          SELECT n, unnest(list_transform(generate_series(1, len(sy) - 1),
            j -> struct_pack(l := sy[j], r := sy[j + 1]))) AS u
          FROM (SELECT n, string_split($prev.w[2:len($prev.w) - 1],
              chr(31) || chr(31)) AS sy FROM $prev))
        GROUP BY u.l, u.r),
      c$i AS MATERIALIZED (SELECT * FROM (SELECT l, r, cnt,
          row_number() OVER (ORDER BY cnt DESC, l, r) AS rn FROM pb$i
          WHERE cnt >= $minPairCount)
        WHERE rn <= 24),
      s${i}1 AS MATERIALIZED (SELECT l, r, cnt, rn FROM c$i WHERE rn = 1),
      y${i}1 AS MATERIALIZED (SELECT l AS x FROM s${i}1 UNION SELECT r FROM s${i}1
        UNION SELECT l || r FROM s${i}1),
      s${i}2 AS MATERIALIZED (SELECT l, r, cnt, rn FROM c$i
        WHERE NOT EXISTS (SELECT 1 FROM y${i}1 WHERE x IN (l, r, l || r))
        ORDER BY rn LIMIT 1),
      y${i}2 AS MATERIALIZED (SELECT x FROM y${i}1
        UNION SELECT l FROM s${i}2 UNION SELECT r FROM s${i}2
        UNION SELECT l || r FROM s${i}2),
      s${i}3 AS MATERIALIZED (SELECT l, r, cnt, rn FROM c$i
        WHERE NOT EXISTS (SELECT 1 FROM y${i}2 WHERE x IN (l, r, l || r))
        ORDER BY rn LIMIT 1),
      wb$i AS MATERIALIZED (SELECT replace(replace(replace(w,
          ${pat(s"s${i}1")}, ${rep(s"s${i}1")}),
          ${pat(s"s${i}2")}, ${rep(s"s${i}2")}),
          ${pat(s"s${i}3")}, ${rep(s"s${i}3")}) AS w, n FROM $prev)"""
  }

  private[queries] val q345: GraftQuery = GraftQuery(
    "q345_bpe_batched",
    (s, d) =>
      graft.operators.Bpe.learnBpeMergesBatched(docs(s, d), "text",
        nMerges = 6, batchSize = 3),
    Some(s"""WITH toks AS (SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM documents),
      wc AS (SELECT w, count(*) AS n FROM toks
        WHERE regexp_matches(w, '^[\\x21-\\x7e]+$$') GROUP BY w),
      wb0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)',
          chr(31) || '\\1' || chr(31), 'g') AS w, n FROM wc),
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")}
      SELECT CAST(row_number() OVER (ORDER BY rnd, slot) AS BIGINT)
          AS merge_rank,
        l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM (
        SELECT 1 AS rnd, 1 AS slot, l, r, cnt FROM s11
        UNION ALL SELECT 1, 2, l, r, cnt FROM s12
        UNION ALL SELECT 1, 3, l, r, cnt FROM s13
        UNION ALL SELECT 2, 1, l, r, cnt FROM s21
        UNION ALL SELECT 2, 2, l, r, cnt FROM s22
        UNION ALL SELECT 2, 3, l, r, cnt FROM s23)
      ORDER BY merge_rank"""))

  // ---- q154: BPE encode (tokenizer application) -----------------------
  // The other half of the tokenizer story: learn 4 merges (q152's
  // loop, a ≤4-row driver pickup) and REPLAY them over every document
  // as one zero-shuffle narrow expression chain. The oracle re-learns
  // the merges from the same census CTEs and re-applies all four
  // replacements per word, so a drifted merge order, a wrong overlap
  // semantics, or a lost non-ASCII exclusion flips the hash.

  /** The 4 learned merges, once per JVM and input dir. Since r14 the
    * memo'd value ROUND-TRIPS through the persisted vocabulary
    * artifact ([[graft.operators.Bpe.writeBpeVocab]] →
    * [[graft.operators.Bpe.readBpeVocab]], the PQ-books/SQ-ranges
    * sidecar discipline — VERDICT r13 Missing #2): every consumer
    * (q154 encode, q334 token-budget fitting, q342 fertility) prices
    * text with the STORED vocabulary, validated at read time, not a
    * session-local list; the 4 census rounds + the artifact write
    * bill to whichever consumer runs first. */
  private[queries] val bpeMergesByInput =
    new graft.sources.JvmMemo[Seq[(String, String)]]
  private[queries] def bpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    bpeMergesByInput.getOrElseCompute(d) {
      val learned =
        graft.operators.Bpe.learnBpeMerges(docs(s, d), "text", nMerges = 4)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_bpevocab_").toString
      graft.operators.Bpe.writeBpeVocab(learned, dir)
      graft.operators.Bpe.readBpeVocab(s, dir)
    }

  private[queries] val q154: GraftQuery = GraftQuery(
    "q154_bpe_encode",
    (s, d) =>
      graft.operators.Bpe.bpeTokenCounts(docs(s, d), "doc_id", "text",
          bpeMerges(s, d))
        .orderBy(col("doc_id")),
    Some(s"""WITH dtoks AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM documents),
      wc AS (SELECT w, count(*) AS n FROM dtoks
        WHERE regexp_matches(w, '^[\\x21-\\x7e]+$$') GROUP BY w),
      w0 AS (SELECT regexp_replace(w, '(.)',
          chr(31) || '\\1' || chr(31), 'g') AS w, n FROM wc),
      ${bpeRoundSql(1, "w0")},
      ${bpeRoundSql(2, "w1")},
      ${bpeRoundSql(3, "w2")},
      ${bpeRoundSql(4, "w3")},
      dw AS (SELECT doc_id, w,
          regexp_matches(w, '^[\\x21-\\x7e]+$$') AS ok FROM dtoks),
      de AS (SELECT doc_id, ok, length(w) AS wl,
          CASE WHEN ok THEN
            replace(replace(replace(replace(
              regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g'),
              chr(31) || m1.l || chr(31) || chr(31) || m1.r || chr(31),
              chr(31) || m1.l || m1.r || chr(31)),
              chr(31) || m2.l || chr(31) || chr(31) || m2.r || chr(31),
              chr(31) || m2.l || m2.r || chr(31)),
              chr(31) || m3.l || chr(31) || chr(31) || m3.r || chr(31),
              chr(31) || m3.l || m3.r || chr(31)),
              chr(31) || m4.l || chr(31) || chr(31) || m4.r || chr(31),
              chr(31) || m4.l || m4.r || chr(31))
          END AS we
        FROM dw, m1, m2, m3, m4),
      ag AS (SELECT doc_id,
          count(*) AS n_words,
          count(*) FILTER (WHERE ok) AS n_ascii_words,
          coalesce(sum(wl) FILTER (WHERE ok), 0) AS n_chars_ascii,
          coalesce(sum((length(we) - length(replace(we, chr(31), ''))) // 2)
            FILTER (WHERE ok), 0) AS n_tokens
        FROM de GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
        CAST(coalesce(a.n_ascii_words, 0) AS BIGINT) AS n_ascii_words,
        CAST(coalesce(a.n_chars_ascii, 0) AS BIGINT) AS n_chars_ascii,
        CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN ag a USING (doc_id)
      ORDER BY d.doc_id"""))

  // ---- q351/q352/q353: BYTE-level BPE (r15) ----------------------------
  // VERDICT r14 Missing #1: the whole tokenizer tier was pinned to
  // printable ASCII, so fertility and token budgets mispriced every
  // non-Latin script. The byte tier learns over UTF-8 bytes (lowercase
  // hex-pair symbols — ASCII-safe cross-engine tie-breaks, airtight
  // delimiter framing) on a MULTILINGUAL fixture planted onto the
  // documents table: each doc's text gains two per-language words with
  // CJK / emoji / accented content, chosen by doc_id arithmetic so the
  // oracle rebuilds the identical strings without ever seeing Spark's.

  /** Planted per-language words — ONE definition interpolated into
    * both the Spark column and the oracle SQL, so the two fixtures
    * cannot drift. All lowercase (lower() is identity on them in both
    * engines); zh is the CASE's ELSE branch. */
  private val mlWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("café", "🙂🚀", "naïve", "coöp"),
    "fr" -> Seq("requête", "données", "clé", "fenêtre"),
    "es" -> Seq("consulta", "días", "señal", "línea"),
    "de" -> Seq("schlüssel", "größe", "übung", "straße"),
    "zh" -> Seq("数据引擎", "查询计划", "排序分区", "聚合统计"))

  private def mlWordCol(lang: Column, idx: Column): Column =
    mlWords.init.foldRight(
      element_at(typedLit(mlWords.last._2), idx)) {
      case ((l, ws), acc) =>
        when(lang === l, element_at(typedLit(ws), idx)).otherwise(acc)
    }

  /** The multilingual fixture: text + two planted words. */
  private[queries] def mlDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("lang"),
      concat(col("text"), lit(" "),
        mlWordCol(col("lang"), (col("doc_id") % 4 + 1).cast(IntegerType)),
        lit(" "),
        mlWordCol(col("lang"),
          (expr("doc_id div 4") % 4 + 1).cast(IntegerType)))
        .as("text"))

  private def mlWordSql(idx: String): String = {
    val cases = mlWords.init.map { case (l, ws) =>
      s"WHEN '$l' THEN ([${ws.map(w => s"'$w'").mkString(", ")}])"
    }.mkString(" ")
    val zh = s"([${mlWords.last._2.map(w => s"'$w'").mkString(", ")}])"
    s"(CASE lang $cases ELSE $zh END)[$idx]"
  }

  /** The fixture as a DuckDB CTE (`mlx`). */
  private[queries] def mlOracleCte: String =
    s"""mlx AS MATERIALIZED (SELECT doc_id, lang, text || ' ' ||
      ${mlWordSql("1 + doc_id % 4")} || ' ' ||
      ${mlWordSql("1 + (doc_id // 4) % 4")} AS text FROM documents)"""

  /** Byte framing + census CTEs shared by the three byte queries:
    * every word enters (no ASCII gate), UTF-8 bytes as framed
    * lowercase hex pairs. */
  private[queries] def byteCensusCte: String =
    s"""toksb AS MATERIALIZED (SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM mlx),
      wcb AS MATERIALIZED (SELECT w, count(*) AS n FROM toksb GROUP BY w),
      wb0 AS MATERIALIZED (SELECT regexp_replace(lower(hex(encode(w))), '(..)',
          chr(31) || '\\1' || chr(31), 'g') AS w, n FROM wcb)"""

  private[queries] val q351: GraftQuery = GraftQuery(
    "q351_bpe_bytes",
    (s, d) =>
      graft.operators.Bpe.learnBpeMergesBytesBatched(mlDocs(s, d), "text",
        nMerges = 6, batchSize = 3),
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")}
      SELECT CAST(row_number() OVER (ORDER BY rnd, slot) AS BIGINT)
          AS merge_rank,
        l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM (
        SELECT 1 AS rnd, 1 AS slot, l, r, cnt FROM s11
        UNION ALL SELECT 1, 2, l, r, cnt FROM s12
        UNION ALL SELECT 1, 3, l, r, cnt FROM s13
        UNION ALL SELECT 2, 1, l, r, cnt FROM s21
        UNION ALL SELECT 2, 2, l, r, cnt FROM s22
        UNION ALL SELECT 2, 3, l, r, cnt FROM s23)
      ORDER BY merge_rank"""))

  /** The 6 learned byte merges, once per (JVM, dir), ROUND-TRIPPED
    * through the persisted vocabulary artifact with its `bytes`
    * alphabet tag — the q154 sidecar discipline on the byte tier. */
  private[queries] val bpeBytesMergesByInput =
    new graft.sources.JvmMemo[Seq[(String, String)]]
  private[queries] def bpeBytesMerges(s: SparkSession,
                                      d: String): Seq[(String, String)] =
    bpeBytesMergesByInput.getOrElseCompute(d) {
      val learned = graft.operators.Bpe.learnBpeMergesBytesBatched(
        mlDocs(s, d), "text", nMerges = 6, batchSize = 3)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_bpevocab_bytes_").toString
      graft.operators.Bpe.writeBpeVocab(learned, dir, alphabet = "bytes")
      graft.operators.Bpe.readBpeVocab(s, dir, alphabet = "bytes")
    }

  /** The six merge (pattern, replacement) pairs hoisted into ONE
    * single-row CTE (`mrg`) — the encode expression references plain
    * columns of a cross-joined 1-row frame instead of embedding 12
    * scalar subqueries. DuckDB inlines CTEs per reference, so the
    * subquery form re-derived the ENTIRE two-round learn chain
    * several times over (measured: q360's oracle 108 s ≈ 7× the
    * 15 s chain; hoisted ≈ 1×). chr(30) when a slot is empty
    * (identity replace). */
  private[queries] def byteMergeCteSql: String = {
    def pat(sl: String) =
      s"coalesce((SELECT chr(31) || l || chr(31) || chr(31) || r || chr(31) FROM $sl), chr(30))"
    def rep(sl: String) =
      s"coalesce((SELECT chr(31) || l || r || chr(31) FROM $sl), chr(30))"
    val cols = Seq("s11", "s12", "s13", "s21", "s22", "s23").zipWithIndex
      .map { case (sl, i) =>
        s"${pat(sl)} AS p${i + 1},\n          ${rep(sl)} AS q${i + 1}" }
      .mkString(",\n          ")
    s"mrg AS MATERIALIZED (SELECT\n          $cols)"
  }

  /** Per-word encode replay for the oracle: the 6 merges applied in
    * rank order over the hex framing. Requires `mrg`
    * ([[byteMergeCteSql]]) cross-joined into the consuming CTE. */
  private[queries] def byteEncodeSql: String =
    (1 to 6).foldLeft(
      s"regexp_replace(lower(hex(encode(w))), '(..)', " +
        s"chr(31) || '\\1' || chr(31), 'g')") { (acc, i) =>
      s"replace($acc, p$i, q$i)"
    }

  // q352: the byte-level ENCODE through the chunked dictionary path
  // ([[graft.operators.Bpe.bpeTokenCountsBytes]] — the ≥32k-merge
  // scale plan; BpeSpec pins chunked ≡ one-fold at 300 merges, the
  // oracle pins cross-engine exactness here). Every word is priced,
  // CJK/emoji/accents included — n_bytes − n_tokens is exactly the
  // merge applications that fired.
  private[queries] val q352: GraftQuery = GraftQuery(
    "q352_bpe_bytes_encode",
    (s, d) =>
      graft.operators.Bpe.bpeTokenCountsBytes(mlDocs(s, d), "doc_id",
          "text", bpeBytesMerges(s, d))
        .orderBy(col("doc_id")),
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      dtoksb AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM mlx),
      $byteMergeCteSql,
      deb AS (SELECT doc_id, strlen(w) AS nb,
          $byteEncodeSql AS we
        FROM dtoksb CROSS JOIN mrg),
      agb AS (SELECT doc_id, count(*) AS n_words, sum(nb) AS n_bytes,
          sum((length(we) - length(replace(we, chr(31), ''))) // 2)
            AS n_tokens
        FROM deb GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
        CAST(coalesce(a.n_bytes, 0) AS BIGINT) AS n_bytes,
        CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN agb a USING (doc_id)
      ORDER BY d.doc_id"""))

  // q353: per-language fertility from LEARNED BYTE TOKENS — the q342
  // equity report with the ASCII exclusion gone (VERDICT r14: q342's
  // non-Latin fertility measured characters, not tokens; here every
  // language's words are encoded under the same learned vocabulary,
  // so zh's high fertility_milli is a true statement about an
  // English-skewed vocabulary fragmenting the tail scripts — the
  // report the operator exists to publish — not a census artifact).
  private[queries] val q353: GraftQuery = GraftQuery(
    "q353_fertility_bytes",
    (s, d) => {
      val counts = graft.operators.Bpe.bpeTokenCountsBytes(
        mlDocs(s, d), "doc_id", "text", bpeBytesMerges(s, d))
      mlDocs(s, d).select(col("doc_id"), col("lang"))
        .join(counts, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_bytes")).as("n_bytes"),
          sum(col("n_tokens")).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_bytes"), col("n_tokens"),
          when(col("n_words") === 0, 0L)
            .otherwise(expr("n_tokens * 1000L div n_words"))
            .as("fertility_milli"),
          when(col("n_tokens") === 0, 0L)
            .otherwise(expr("n_bytes * 1000L div n_tokens"))
            .as("bytes_per_token_milli"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      dtoksb AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM mlx),
      $byteMergeCteSql,
      deb AS (SELECT doc_id, strlen(w) AS nb,
          $byteEncodeSql AS we
        FROM dtoksb CROSS JOIN mrg),
      agb AS (SELECT doc_id, count(*) AS n_words, sum(nb) AS n_bytes,
          sum((length(we) - length(replace(we, chr(31), ''))) // 2)
            AS n_tokens
        FROM deb GROUP BY doc_id),
      lgb AS (SELECT m.lang, count(*) AS n_docs,
          sum(coalesce(a.n_words, 0)) AS n_words,
          sum(coalesce(a.n_bytes, 0)) AS n_bytes,
          sum(coalesce(a.n_tokens, 0)) AS n_tokens
        FROM mlx m LEFT JOIN agb a USING (doc_id) GROUP BY m.lang)
      SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_words AS BIGINT) AS n_words,
        CAST(n_bytes AS BIGINT) AS n_bytes,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(CASE WHEN n_words = 0 THEN 0
          ELSE n_tokens * 1000 // n_words END AS BIGINT)
          AS fertility_milli,
        CAST(CASE WHEN n_tokens = 0 THEN 0
          ELSE n_bytes * 1000 // n_tokens END AS BIGINT)
          AS bytes_per_token_milli
      FROM lgb ORDER BY lang"""))

  // ---- q363: byte-BPE token pricing as a PURE COLUMN (r15) ---------------
  // The third execution tier of the same segmentation: q352 prices
  // through the dictionary JOIN (vocabulary scale), q359 emits ids;
  // this is the zero-shuffle per-row COLUMN (encodedTokenCountBytes)
  // that composes inside other operators — the chat context-fitting
  // budget's multilingual upgrade (the char-tier column costs every
  // non-ASCII word 0). Same oracle replay as q352 projected to the
  // count — the three tiers must agree token for token, and BpeSpec
  // pins column ≡ dictionary directly.

  private[queries] val q363: GraftQuery = GraftQuery(
    "q363_bpe_bytes_count_col",
    (s, d) =>
      // the fold is per-OCCURRENCE row work on a narrow scan — spread
      // it (the bpeTokenCounts r13 lever; measured 3.1 → 1.1 s sf0.1)
      graft.operators.DatasetOps.spreadToCores(mlDocs(s, d))
        .select(col("doc_id"),
          graft.operators.Bpe.encodedTokenCountBytes(col("text"),
            bpeBytesMerges(s, d)).as("n_tokens"))
        .orderBy(col("doc_id")),
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      dtoksb AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM mlx),
      $byteMergeCteSql,
      deb AS (SELECT doc_id,
          $byteEncodeSql AS we
        FROM dtoksb CROSS JOIN mrg),
      agb AS (SELECT doc_id,
          sum((length(we) - length(replace(we, chr(31), ''))) // 2)
            AS n_tokens
        FROM deb GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN agb a USING (doc_id)
      ORDER BY d.doc_id"""))

  // ---- q359/q360: byte-BPE token IDS + vocabulary usage (r15) -----------
  // The count tier (q352) prices text; a trainer ingests token ID
  // SEQUENCES. q359 emits them — per (doc, word, within-word
  // position) one id under the standard byte-level convention (ids
  // 0..255 are the raw bytes, 256+rank the learned merges) — on a
  // doc_id % 5 slice (the full corpus is ~145k token rows; the slice
  // keeps the dump honest without changing the arithmetic). q360 is
  // the tokenizer-health report over the FULL corpus: per token id,
  // its spelling, byte width and occurrence count — the census that
  // says which merges actually fire and how much of the corpus rides
  // merged tokens vs raw bytes. Both oracles replay the whole chain:
  // fixture, framing, two batched learn rounds, the 6-merge
  // segmentation of every word, the symbol split, and the id
  // arithmetic.

  /** Shared oracle CTEs: per-(doc, word_idx) segmentation symbols of
    * `src` (a CTE with (doc_id, text)), split from the replayed
    * framed encode. generate_series indexing (0-based) matches
    * Spark's posexplode. */
  private[queries] def byteTokSql(src: String): String =
    s"""dws AS MATERIALIZED (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0) AS ws FROM $src),
      dwords AS MATERIALIZED (SELECT doc_id, i AS word_idx, ws[i + 1] AS w
        FROM (SELECT doc_id, ws,
          unnest(generate_series(0, len(ws) - 1)) AS i FROM dws)),
      $byteMergeCteSql,
      seg AS MATERIALIZED (SELECT doc_id, word_idx, string_split(
          trim($byteEncodeSql, chr(31)), chr(31) || chr(31)) AS sy
        FROM dwords CROSS JOIN mrg),
      toksy AS MATERIALIZED (SELECT doc_id, word_idx, j AS tok_idx, sy[j + 1] AS sym
        FROM (SELECT doc_id, word_idx, sy,
          unnest(generate_series(0, len(sy) - 1)) AS j FROM seg)),
      $byteVocabIdCte"""

  /** The merged-symbol → token-id map (`vb`) as its own CTE — the
    * standard byte-level convention's 256+rank assignment over the
    * six learned merges (slot CTEs from [[batchedBpeRoundSql]]),
    * shared by [[byteTokSql]] and the chat SFT tier's replay. */
  private[queries] def byteVocabIdCte: String =
    """vb AS MATERIALIZED (SELECT l || r AS sym,
          255 + row_number() OVER (ORDER BY rnd, slot) AS mid FROM (
          SELECT 1 AS rnd, 1 AS slot, l, r FROM s11
          UNION ALL SELECT 1, 2, l, r FROM s12
          UNION ALL SELECT 1, 3, l, r FROM s13
          UNION ALL SELECT 2, 1, l, r FROM s21
          UNION ALL SELECT 2, 2, l, r FROM s22
          UNION ALL SELECT 2, 3, l, r FROM s23))"""

  private[queries] val q359: GraftQuery = GraftQuery(
    "q359_bpe_token_ids",
    (s, d) =>
      graft.operators.Bpe.bpeTokenIdsBytes(
          mlDocs(s, d).filter(col("doc_id") % 5 === 0), "doc_id",
          "text", bpeBytesMerges(s, d))
        .orderBy(col("doc_id"), col("word_idx"), col("tok_idx")),
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      mlx5 AS (SELECT doc_id, text FROM mlx WHERE doc_id % 5 = 0),
      ${byteTokSql("mlx5")}
      SELECT t.doc_id, CAST(word_idx AS BIGINT) AS word_idx,
        CAST(tok_idx AS BIGINT) AS tok_idx,
        CAST(CASE WHEN len(t.sym) = 2
          THEN CAST(concat('0x', t.sym) AS BIGINT)
          ELSE vb.mid END AS BIGINT) AS token_id,
        t.sym AS symbol
      FROM toksy t LEFT JOIN vb ON vb.sym = t.sym
      ORDER BY t.doc_id, word_idx, tok_idx"""))

  private[queries] val q360: GraftQuery = GraftQuery(
    "q360_bpe_vocab_usage",
    (s, d) =>
      graft.operators.Bpe.bpeTokenIdsBytes(mlDocs(s, d), "doc_id",
          "text", bpeBytesMerges(s, d))
        .groupBy(col("token_id"), col("symbol"))
        .agg(count(lit(1)).as("n_occurrences"))
        .select(col("token_id"), col("symbol"),
          expr("length(symbol) div 2").as("n_bytes"),
          col("n_occurrences"))
        .orderBy(col("token_id")),
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      ${byteTokSql("mlx")},
      -- census by SYMBOL first (vocabulary-sized), map to ids after:
      -- running the id CASE + vb join under the corpus-sized group-by
      -- re-inlines the segmentation chain in this engine
      sc AS (SELECT sym, count(*) AS n FROM toksy GROUP BY sym)
      SELECT CAST(CASE WHEN len(sc.sym) = 2
          THEN CAST(concat('0x', sc.sym) AS BIGINT)
          ELSE vb.mid END AS BIGINT) AS token_id,
        sc.sym AS symbol,
        CAST(len(sc.sym) // 2 AS BIGINT) AS n_bytes,
        CAST(sc.n AS BIGINT) AS n_occurrences
      FROM sc LEFT JOIN vb ON vb.sym = sc.sym
      ORDER BY token_id"""))

  // ---- q361: packed TOKEN-ID sequences (r15) -----------------------------
  // The pretrain endgame, composed end to end: corpus → byte-BPE
  // token ids (q359) → q99's deterministic concatenate-and-cut
  // packing applied at TOKEN resolution — every token gets a global
  // position inside its shard's concatenation (the doc's packed
  // offset + the token's within-doc ordinal) and therefore a
  // (sequence, position) coordinate. Census per (shard, seq):
  // token count, docs touching, the order-INsensitive id mass and an
  // order-SENSITIVE checksum Σ (pos+1)·token_id — a single swapped
  // token pair anywhere in the training shard flips it. The oracle
  // replays tokenization, the per-doc token ordinals, the md5 pack
  // deal, the prefix sum, and both checksums.

  private[queries] val q361: GraftQuery = GraftQuery(
    "q361_packed_token_ids",
    (s, d) => {
      val merges = bpeBytesMerges(s, d)
      // checkpointed once: BOTH consumers below (the ordinal window
      // and the per-doc count census feeding the packer) read the
      // materialized ids — without it the whole tokenization chain
      // would re-derive per consumer (measured 3.6 → 2.4 s at sf0.1).
      // Projected to the four consumed columns BEFORE the checkpoint
      // (r17): column pruning cannot cross the materialized-RDD
      // boundary, and the unused `symbol` hex string is ~2× the bytes
      // of everything else in the row (guide §5/§6 — narrow what you
      // materialize; the r16 bench read 250 MB of checkpoint blocks
      // for a 12 MB shuffle)
      val ids = graft.operators.Bpe.bpeTokenIdsBytes(mlDocs(s, d),
          "doc_id", "text", merges)
        .select(col("doc_id"), col("word_idx"), col("tok_idx"),
          col("token_id"))
        .pin()
      // within-doc token ordinal: a per-doc window — executor-resident
      // at any corpus size (documents are length-bounded)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("word_idx"), col("tok_idx"))
      val seqd = ids.withColumn("_tpos",
        row_number().over(w).cast(LongType) - 1L)
      // counts derived FROM the ids (a doc absent here has zero
      // tokens and contributes nothing to any offset — equivalence
      // with the counts-tier input is exact); the packer's own shard
      // window runs over DOC-level census rows, never tokens
      val counts = ids.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"))
      val packed = graft.operators.DatasetOps.packSequences(counts,
          "doc_id", col("n_tokens"), seqLen = 128, nShards = 4)
        .select(col("doc_id"), col("shard"), col("offset"))
      seqd.join(packed, Seq("doc_id"))
        .select(col("doc_id"), col("shard"),
          (col("offset") + col("_tpos")).as("_g"), col("token_id"))
        .groupBy(col("shard"), expr("_g div 128L").as("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("token_id")).as("id_mass"),
          sum((pmod(col("_g"), lit(128L)) + 1L) * col("token_id"))
            .as("order_checksum"))
        .orderBy(col("shard"), col("seq"))
    },
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      ${byteTokSql("mlx")},
      g AS (SELECT u % 4 AS shard, doc_id, token_id,
          row_number() OVER (PARTITION BY u % 4
            ORDER BY u, doc_id, word_idx, tok_idx) - 1 AS gpos
        FROM (SELECT t.doc_id, t.word_idx, t.tok_idx,
          CAST(CASE WHEN len(t.sym) = 2
            THEN CAST(concat('0x', t.sym) AS BIGINT)
            ELSE vb.mid END AS BIGINT) AS token_id,
          CAST(concat('0x', substring(md5('pack:'||t.doc_id), 1, 8))
            AS BIGINT) AS u
        FROM toksy t LEFT JOIN vb ON vb.sym = t.sym))
      -- gpos = the doc's packed offset + the token's within-doc
      -- ordinal, computed as ONE shard-ordered row_number (the
      -- concatenation orders docs by (u, doc_id) and tokens by
      -- (word_idx, tok_idx), so the global ordinal IS the offset sum;
      -- a two-pass offset+tpos join would re-inline the whole
      -- segmentation chain in this engine)
      SELECT shard, gpos // 128 AS seq, count(*) AS n_tokens,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(sum(token_id) AS BIGINT) AS id_mass,
        CAST(sum((gpos % 128 + 1) * token_id) AS BIGINT)
          AS order_checksum
      FROM g GROUP BY shard, seq ORDER BY shard, seq"""))

  // ---- q234: audio perceptual near-dup --------------------------------
  // The audio tier of perceptual dedup (VERDICT r8 missing item 2 —
  // image q188 and video q189 had dedup tiers; real audio decode fed
  // nothing): 100 synthetic 65-bin loudness envelopes (md5-uniform
  // values, the q160 convention) where each even id's envelope
  // reappears at the odd id with ONE bin overwritten — a level blip
  // that moves at most 2 of the 64 gradient-sign bits, the
  // controlled near-dup a content hash cannot see. Gradient-sign
  // fingerprint (the dHash idea on the time axis) + the q188 banded
  // machinery verbatim; bands > maxHamming makes the banded result
  // the EXACT hamming ≤ 3 relation, so the oracle computes that
  // relation directly (envelopes, sign bits, all pairs). The
  // real-codec end (WAV bytes → decodeWav envelopes → this
  // fingerprint) is MultimodalSpec-gated on AudioSystem-written
  // fixtures.

  private[queries] val q234: GraftQuery = GraftQuery(
    "q234_audio_near_dup",
    (s, d) => {
      val hashed = audioEnvFixture(s, d).select(col("id"),
        Multimodal.audioFingerprintBits(col("env")).as("bits"))
      Multimodal.audioNearDupPairs(hashed, "id", "bits",
        maxHamming = 3, bands = 4)
    },
    Some(audioNearDupOracleSql))

  /** q234's planted envelope corpus — 50 md5-uniform 65-bin
    * envelopes, each reappearing at the odd id with bin 3 overwritten
    * (the one-bin level blip) — shared with the SQL-door probe
    * q238. */
  private[queries] def audioEnvFixture(s: SparkSession,
                                       d: String): DataFrame = {
    val env = transform(sequence(lit(0), lit(64)), i =>
      conv(substring(md5(concat(lit("ae:"), col("k").cast(StringType),
        lit(":"), i.cast(StringType))), 1, 8), 16, 10)
        .cast(DoubleType) / 4294967296.0)
    val base = docs(s, d).filter(col("doc_id") < 50)
      .select(col("doc_id").as("k"))
    base
      .select((col("k") * 2).as("id"), env.as("env"))
      .union(base.select((col("k") * 2 + 1).as("id"),
        transform(env, (x, i) =>
          when(i === 3, lit(0.5)).otherwise(x)).as("env")))
  }

  /** q234's full-replay oracle (envelopes, sign bits, the exact
    * hamming ≤ 3 relation) — shared verbatim by q238's TVF door. */
  private[queries] lazy val audioNearDupOracleSql: String =
    """WITH d AS (SELECT doc_id AS k FROM documents
        WHERE doc_id < 50),
      rs AS (SELECT k * 2 AS id, k, 0 AS variant FROM d
        UNION ALL SELECT k * 2 + 1, k, 1 FROM d),
      env AS (SELECT id, list_transform(generate_series(0, 64), i ->
          CASE WHEN variant = 1 AND i = 3 THEN 0.5
            ELSE CAST(concat('0x',
              substr(md5('ae:' || k || ':' || i), 1, 8)) AS BIGINT)
              / 4294967296.0 END) AS env
        FROM rs),
      bits AS (SELECT id, list_aggregate(
          list_transform(generate_series(0, 63), j ->
            CASE WHEN env[j + 1] > env[j + 2] THEN '1' ELSE '0' END),
          'string_agg', '') AS bits
        FROM env),
      pr AS (SELECT a.id AS idA, b.id AS idB, a.bits AS ba, b.bits AS bb
        FROM bits a JOIN bits b ON a.id < b.id),
      h AS (SELECT idA, idB,
          len(list_filter(generate_series(1, 64),
            i -> substr(ba, i, 1) <> substr(bb, i, 1))) AS hamming
        FROM pr)
      SELECT idA, idB, CAST(hamming AS BIGINT) AS hamming
      FROM h WHERE hamming <= 3 ORDER BY idA, idB"""

  // ---- q238: audio_near_dup TVF — the audio twin of q237's door -------
  // Same pattern: the IDENTICAL planted envelope corpus q234 mines,
  // reached as audio_near_dup('view', 'id', 'env', 3, 4); the TVF
  // fingerprints the envelopes (null-degrading on short arrays) and
  // runs the banded pair mine. Oracle = q234's full replay verbatim.

  private[queries] val q238: GraftQuery = GraftQuery(
    "q238_sql_audio_near_dup",
    (s, d) => {
      audioEnvFixture(s, d)
        .createOrReplaceTempView("audio_envs_sql")
      s.sql("""SELECT * FROM
        audio_near_dup('audio_envs_sql', 'id', 'env', 3, 4)
        ORDER BY idA, idB""")
    },
    Some(audioNearDupOracleSql))

}
