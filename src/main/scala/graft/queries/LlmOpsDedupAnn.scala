package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{DatasetOps, Dedup, Multimodal, Similarity}
import graft.sources.Tables

/** Dedup / similarity-search / text-analysis / base multimodal queries (q38-q69 region) — one section of the [[LlmOps]] registry, split from the
  * single 3.8k-line file along its section comments (VERDICT r9 item
  * 4; no behavior change). The self-type gives every section
  * unqualified access to the shared helpers and to sibling sections'
  * materialized artifacts, exactly as when all sections shared one
  * object body. */
private[queries] trait LlmOpsDedupAnn { this: LlmOps.type =>

  // ---- q40/q41: exact deduplication -----------------------------------

  private[queries] val q40 = GraftQuery(
    "q40_dedup_exact",
    (s, d) =>
      docs(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id")),
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY text ORDER BY keep_id"""))

  // Hash-based variant: the 100 TB form — the shuffle key is a 32-char
  // digest, not the document body.
  private[queries] val q41 = GraftQuery(
    "q41_dedup_hash",
    (s, d) =>
      docs(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("content_hash")),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY content_hash"""))

  // ---- q42/q43: MinHash-LSH and SimHash near-dup (oracled r6) ---------
  // VERDICT r5 item 1: both queries emit an EXACT-verified verdict the
  // DuckDB oracle replays in full, with the approximate tier serving
  // as the candidate generator — the production near-dup shape
  // (candidates are approximate, the emitted decision is exact). The
  // oracle enumerates ALL qualifying pairs; the Spark side only sees
  // pairs its LSH surfaced, so ANY recall loss in the signature
  // machinery (a missed candidate) flips the row hash red on the
  // driver's board — recall regressions are now driver-visible
  // instead of spec-only.

  private[queries] val q42 = GraftQuery(
    "q42_minhash_dedup",
    (s, d) => {
      val dd = docs(s, d)
      // minhashDupPairs = LSH candidates -> exact word-3-shingle
      // Jaccard >= 0.5 verification; output decisions derive only from
      // verified pairs. The pair table is the SHARED per-(JVM, dir)
      // materialization q156 already reads (identical operator +
      // params) — the build bill lands once in whichever consumer
      // runs first (Bench's first_run), steady state reads parquet
      // (r12: the honest collect() consumer priced the live feed at
      // ~11 s/pass; the q53→q63 deployment shape applies verbatim)
      val pairs = docPairsMaterialized(s, d)
      val norm = pairs.select(col("idA").as("doc_id"), col("idB").as("other"))
        .union(pairs.select(col("idB").as("doc_id"), col("idA").as("other")))
      val stats = norm.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dups"), min(col("other")).as("_min_other"))
      dd.select(col("doc_id"))
        .join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          (col("_min_other").isNull || col("_min_other") > col("doc_id")).as("is_kept"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
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
      norm AS (
        SELECT idA AS doc_id, idB AS other FROM pairs
        UNION ALL SELECT idB, idA FROM pairs),
      stats AS (
        SELECT doc_id, count(*) AS n_dups, min(other) AS min_other
        FROM norm GROUP BY doc_id)
      SELECT d.doc_id, coalesce(s.n_dups, 0) AS n_dups,
        (s.min_other IS NULL OR s.min_other > d.doc_id) AS is_kept
      FROM documents d LEFT JOIN stats s USING (doc_id)
      ORDER BY doc_id"""))

  private[queries] val q43 = GraftQuery(
    "q43_simhash",
    (s, d) => {
      val dd = docs(s, d)
      // simhash bands (8 x 8 bits) generate candidates, hamming <= 8
      // gates them, and the emitted verdict is exact word-3-shingle
      // Jaccard >= 0.5. The hash family is md5-derived (md5Hash64) so
      // the ORACLE REPLAYS THE WHOLE OPERATOR — signature bit-sums,
      // band keys, hamming, verify — rather than enumerating the exact
      // Jaccard pair set and hoping simhash recall is total: it is NOT
      // on short docs (measured at sf0.1: a 1-token edit on a 15-token
      // doc flips 11/64 signature bits — over any banding pigeonhole
      // AND over the hamming gate; that variance is simhash's nature,
      // so the gate pins what the operator DOES, and the recall-vs-
      // exact-truth trade stays a DedupSpec property). The q46/q55
      // replay trick, widened to 64-bit token hashes.
      // the verified pair set rides the per-(JVM, dir) materialization
      // (simhashPairsMaterialized — the q42/q156 deployment shape;
      // build bill in first_run, steady state reads parquet)
      val verified = simhashPairsMaterialized(s, d)
      val norm = verified.select(col("idA").as("doc_id"))
        .union(verified.select(col("idB").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))
      dd.select(col("doc_id")).join(norm, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\s+'),
            t -> len(t) > 0) AS tk
        FROM documents),
      th AS (
        SELECT doc_id,
          (CAST(concat('0x', substring(md5(t), 1, 8)) AS UBIGINT)
             * 4294967296::UBIGINT) |
            CAST(concat('0x', substring(md5(t), 9, 8)) AS UBIGINT) AS h
        FROM (SELECT doc_id, unnest(tk) AS t FROM toks WHERE len(tk) >= 1)),
      bits0 AS (
        SELECT doc_id, h, unnest(generate_series(0, 63)) AS k FROM th),
      bits AS (
        SELECT doc_id, k,
          sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM bits0 GROUP BY doc_id, k),
      bandbits AS (
        SELECT doc_id, k // 8 AS band,
          CAST(sum(CASE WHEN s >= 0 THEN 1 << (k % 8) ELSE 0 END)
            AS BIGINT) AS bkey
        FROM bits GROUP BY doc_id, k // 8),
      cand AS (
        SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
        FROM bandbits a JOIN bandbits b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      ham AS (
        SELECT c.idA, c.idB
        FROM cand c JOIN bandbits a ON a.doc_id = c.idA
          JOIN bandbits b ON b.doc_id = c.idB AND b.band = a.band
        GROUP BY c.idA, c.idB
        HAVING sum(bit_count(xor(a.bkey, b.bkey))) <= 8),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(tk) >= 3
            THEN list_distinct(list_transform(
              generate_series(1, len(tk) - 2),
              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
            ELSE [] END AS sh
        FROM toks),
      ver AS (
        SELECT h.idA, h.idB
        FROM ham h JOIN sh a ON a.doc_id = h.idA
          JOIN sh b ON b.doc_id = h.idB
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND len(list_intersect(a.sh, b.sh)) * 1.0 /
              len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
      norm AS (
        SELECT idA AS doc_id FROM ver
        UNION ALL SELECT idB FROM ver),
      stats AS (SELECT doc_id, count(*) AS n_near FROM norm GROUP BY doc_id)
      SELECT d.doc_id, coalesce(s.n_near, 0) AS n_near
      FROM documents d LEFT JOIN stats s USING (doc_id)
      ORDER BY doc_id"""))

  // ---- q44: n-gram Jaccard similarity (oracled) -----------------------
  // Char-5-gram Jaccard over all same-source pairs. Scale decisions:
  //  - shingles are hashed to 64-bit ints up front, so the pair join
  //    shuffles 8-byte keys instead of 5-char strings (set sizes — and
  //    hence Jaccard — are preserved; a collision inside one pair's
  //    union is ~|union|²/2⁶⁵, negligible);
  //  - docs shorter than the shingle width are dropped, mirroring the
  //    oracle's length guard (an empty∩empty pair would yield 0/0 =
  //    NaN, which Spark orders above every number → spurious rows);
  //  - the projection is repartitioned before the self-join: the
  //    source parquet arrives as one small file, and without the
  //    explicit exchange the whole O(block²) pair generation runs in
  //    a single task;
  //  - the ≥0.5 filter gets pushed into the join condition by
  //    Catalyst, so the size prune lives INSIDE the jaccard expression
  //    (a `when` guard): jaccard ≥ 0.4999995 forces 2·min(|A|,|B|) ≥
  //    max(|A|,|B|)−1, and pairs failing that short-circuit to 0.0
  //    before the native jaccard_sim sorted-merge kernel runs.
  // For corpora where blocks grow with the data (making exact
  // all-pairs quadratic), [[Dedup.jaccardIndexPairs]] (posting-list
  // intersection counting) and [[Dedup.minhashDupPairs]] (LSH
  // candidates, subquadratic, q42) are the scale paths.

  private[queries] val q44 = GraftQuery(
    "q44_ngram_jaccard",
    (s, d) => {
      // array_sort ONCE per row instead of twice per pair inside the
      // kernel (jaccard_sim_sorted); set Jaccard is order-insensitive
      // so the oracle is untouched. Measured ~5% end-to-end here — the
      // dominant cost of the exact tier is the pair-row
      // materialization itself, which is why jaccardIndexPairs
      // (posting lists) and minhashDupPairs (LSH) are the scale paths
      // spread BELOW the projection (r17): the shingle + hash + sort
      // build sat between the one-task narrow scan and the explicit
      // repartition, so it ran serially; the spread parallelizes it
      // while the repartition above still computes it ONCE and feeds
      // both join sides (reused exchange)
      val sh = graft.operators.DatasetOps
        .spreadToCores(docs(s, d).filter(length(col("text")) >= 5))
        .select(col("doc_id"), col("source"),
          array_sort(transform(charShingles(col("text"), 5), x => xxhash64(x)))
            .as("sh"))
        .withColumn("sz", size(col("sh")))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      val a = sh.select(col("source"), col("doc_id").as("idA"),
        col("sh").as("shA"), col("sz").as("szA"))
      val b = sh.select(col("source").as("srcB"), col("doc_id").as("idB"),
        col("sh").as("shB"), col("sz").as("szB"))
      // the native sorted-merge jaccard_sim expression: both
      // cardinalities in one pass, no per-pair hash set and no
      // materialized intersection array (see JaccardSimilarity)
      val guarded = when(
        greatest(col("szA"), col("szB")) <= least(col("szA"), col("szB")) * 2 + 1,
        round(call_function("jaccard_sim_sorted", col("shA"), col("shB")), 6))
        .otherwise(lit(0.0))
      a.join(b, col("source") === col("srcB") && col("idA") < col("idB"))
        .withColumn("jaccard", guarded)
        .filter(col("jaccard") >= 0.5)
        .select(col("source"), col("idA"), col("idB"), col("jaccard"))
        .orderBy(col("source"), col("idA"), col("idB"))
    },
    Some("""WITH sh AS (
        SELECT doc_id, source,
          list_distinct(list_transform(generate_series(1, length(text) - 4),
            i -> substring(text, i, 5))) AS sh
        FROM documents WHERE length(text) >= 5)
      SELECT a.source AS source, a.doc_id AS idA, b.doc_id AS idB,
        round(len(list_intersect(a.sh, b.sh)) /
              len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.sh, b.sh)) /
              len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
      ORDER BY source, idA, idB"""))

  // ---- q45/q46: similarity search over embeddings ---------------------

  private[queries] def queryVecs(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), toDoubleVec(col("embedding")).as("qvec"))

  private[queries] def candVecs(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(col("vec_id").as("cid"), toDoubleVec(col("embedding")).as("cvec"))

  private[queries] val q45 = GraftQuery(
    "q45_knn_cosine",
    (s, d) =>
      Similarity.bruteForceTopK(queryVecs(s, d), candVecs(s, d), 5)
        .orderBy(col("qid"), col("rank")),
    Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings),
      s AS (SELECT qid, cid,
        round(list_dot_product(qv, cv) /
          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)
          AS sim
        FROM q CROSS JOIN c WHERE cid <> qid)
      SELECT qid, rank, cid, sim FROM (
        SELECT qid, cid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
        FROM s) t
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // q46/q55 (oracled r6, VERDICT r5 item 1): the approximate operators
  // are oracled IN FULL — not just their exact tiers — by making the
  // "random" geometry engine-portable: hyperplanes/centroids are
  // md5-derived ([[VectorFunctions.md5Vectors]], the same replay trick
  // as the synthetic order generator), so the DuckDB oracle rebuilds
  // the identical planes, signatures, probe sets, cells and rankings.
  // A regression anywhere in the ANN machinery — bucketing, probe
  // expansion, cell argmax, tie-breaks — flips the row hash red.

  private[queries] val q46 = GraftQuery(
    "q46_ann_lsh",
    (s, d) =>
      Similarity.lshTopKWithPlanes(queryVecs(s, d), candVecs(s, d), k = 5,
        planes = md5Vectors(4, 64, "plane"), probeHamming = 2)
        .orderBy(col("qid"), col("rank")),
    Some("""WITH planes AS (
        SELECT p.p AS p, list(
            CAST(concat('0x', substring(md5('plane:'||p.p||':'||d.d), 1, 8)) AS BIGINT)
              / 4294967296.0 * 2 - 1 ORDER BY d.d) AS pv
        FROM generate_series(0, 3) p(p), generate_series(0, 63) d(d)
        GROUP BY p.p),
      sigs AS (
        SELECT e.vec_id,
          sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pv) >= 0
              THEN (1 << pl.p) ELSE 0 END) AS sig
        FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
      masks(m) AS (VALUES (0),(1),(2),(4),(8),(3),(5),(6),(9),(10),(12)),
      qs AS (
        SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qv,
          xor(s.sig, m.m) AS psig
        FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id
        CROSS JOIN masks m WHERE e.vec_id < 10),
      cands AS (
        SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv, s.sig
        FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id),
      scored AS (
        SELECT q.qid, c.cid,
          round(list_dot_product(q.qv, c.cv) /
            (sqrt(list_dot_product(q.qv, q.qv)) *
             sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM qs q JOIN cands c ON c.sig = q.psig AND c.cid <> q.qid)
      SELECT qid, rank, cid, sim FROM (
        SELECT qid, cid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
        FROM scored) t
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // IVF tier of ANN, oracled the same way: md5-derived centroids make
  // cell assignment (argmax cosine, lowest-cell tie-break), the
  // nProbe=4 probe ranking, and the within-cell top-5 all
  // DuckDB-replayable.
  private[queries] val q55 = GraftQuery(
    "q55_ann_ivf",
    (s, d) =>
      Similarity.ivfTopKWithCentroids(queryVecs(s, d), candVecs(s, d), k = 5,
        cents = md5Vectors(16, 64, "cent"), nProbe = 4)
        .orderBy(col("qid"), col("rank")),
    Some("""WITH cents AS (
        SELECT c.c AS c, list(
            CAST(concat('0x', substring(md5('cent:'||c.c||':'||d.d), 1, 8)) AS BIGINT)
              / 4294967296.0 * 2 - 1 ORDER BY d.d) AS cv
        FROM generate_series(0, 15) c(c), generate_series(0, 63) d(d)
        GROUP BY c.c),
      vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ranked AS (
        SELECT vec_id, v, c,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
        FROM (SELECT t.vec_id, t.v, k.c,
                list_dot_product(t.v, k.cv) /
                  (sqrt(list_dot_product(t.v, t.v)) *
                   sqrt(list_dot_product(k.cv, k.cv))) AS sim
              FROM vecs t CROSS JOIN cents k)),
      cells AS (SELECT vec_id, v, c AS cell FROM ranked WHERE rn = 1),
      probes AS (
        SELECT vec_id AS qid, v AS qv, c AS cell
        FROM ranked WHERE rn <= 4 AND vec_id < 10),
      scored AS (
        SELECT p.qid, ce.vec_id AS cid,
          round(list_dot_product(p.qv, ce.v) /
            (sqrt(list_dot_product(p.qv, p.qv)) *
             sqrt(list_dot_product(ce.v, ce.v))), 6) AS sim
        FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.qid)
      SELECT qid, rank, cid, sim FROM (
        SELECT qid, cid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
        FROM scored) t
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---- q173: ANN recall@k evaluation ----------------------------------
  // The quality gate over the approximate tier: q46's multi-probe LSH
  // ranking scored against q45's exact kNN per query, recall in ppm.
  // The oracle recomputes BOTH rankings from scratch (q45's exact
  // cross-scan CTEs + q46's md5-hyperplane replay) and then the hit
  // join — so a recall regression anywhere in the LSH machinery, or a
  // scoring drift in either tier, flips the row hash red even if each
  // tier's own query happens to stay green.

  private[queries] val q173 = GraftQuery(
    "q173_ann_recall",
    (s, d) => Similarity.recallAtK(
      Similarity.bruteForceTopK(queryVecs(s, d), candVecs(s, d), 5),
      Similarity.lshTopKWithPlanes(queryVecs(s, d), candVecs(s, d), k = 5,
        planes = md5Vectors(4, 64, "plane"), probeHamming = 2),
      k = 5),
    Some("""WITH planes AS (
        SELECT p.p AS p, list(
            CAST(concat('0x', substring(md5('plane:'||p.p||':'||d.d), 1, 8)) AS BIGINT)
              / 4294967296.0 * 2 - 1 ORDER BY d.d) AS pv
        FROM generate_series(0, 3) p(p), generate_series(0, 63) d(d)
        GROUP BY p.p),
      sigs AS (
        SELECT e.vec_id,
          sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pv) >= 0
              THEN (1 << pl.p) ELSE 0 END) AS sig
        FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
      masks(m) AS (VALUES (0),(1),(2),(4),(8),(3),(5),(6),(9),(10),(12)),
      aq AS (
        SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qv,
          xor(s.sig, m.m) AS psig
        FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id
        CROSS JOIN masks m WHERE e.vec_id < 10),
      ac AS (
        SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv, s.sig
        FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id),
      ascored AS (
        SELECT q.qid, c.cid,
          round(list_dot_product(q.qv, c.cv) /
            (sqrt(list_dot_product(q.qv, q.qv)) *
             sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM aq q JOIN ac c ON c.sig = q.psig AND c.cid <> q.qid),
      atop AS (SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
          FROM ascored) t WHERE rank <= 5),
      eq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10),
      ec AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings),
      escored AS (SELECT qid, cid,
          round(list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)
            AS sim
        FROM eq CROSS JOIN ec WHERE cid <> qid),
      etop AS (SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
          FROM escored) t WHERE rank <= 5),
      base AS (SELECT qid, count(*) AS n_exact FROM etop GROUP BY qid),
      h AS (SELECT e.qid, count(*) AS n_hit FROM etop e
        JOIN atop a ON a.qid = e.qid AND a.cid = e.cid GROUP BY e.qid)
      SELECT b.qid, CAST(b.n_exact AS BIGINT) AS n_exact,
        CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        CAST(coalesce(h.n_hit, 0) * 1000000 // b.n_exact AS BIGINT)
          AS recall_ppm
      FROM base b LEFT JOIN h ON h.qid = b.qid ORDER BY b.qid"""))

  // ---- q47–q50: text analysis -----------------------------------------

  private[queries] val q47 = GraftQuery(
    "q47_langid",
    (s, d) =>
      docs(s, d)
        // tokens projected and FENCED once: the decision ladder's
        // CaseWhen branches are exempt from codegen CSE, so inlined
        // letterTokens would re-run its regex per branch (r12:
        // 0.9 s → 0.35 s at sf0.1)
        .select(col("lang"), col("text"),
          org.apache.spark.sql.functions.call_function("no_inline",
            graft.functions.TextFunctions.letterTokens(col("text")))
            .as("_tks"))
        .select(col("lang"),
          graft.functions.TextFunctions
            .langidFromTokens(col("_tks"), col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("predicted")),
    Some("""WITH toks AS (
        SELECT lang, regexp_extract_all(lower(text), '[a-z]+') AS t,
          regexp_matches(text, '[一-鿿]') AS has_cjk
        FROM documents),
      scored AS (
        SELECT lang, has_cjk,
          len(list_filter(t, x -> list_contains(['the','and','of','is','a'], x))) AS s_en,
          len(list_filter(t, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
          len(list_filter(t, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
          len(list_filter(t, x -> list_contains(['el','los','las','y','es'], x))) AS s_es
        FROM toks)
      SELECT lang,
        CASE WHEN has_cjk THEN 'zh'
          WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0 THEN 'und'
          WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
          WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
          WHEN s_de >= s_es THEN 'de'
          ELSE 'es' END AS predicted,
        count(*) AS n_docs
      FROM scored GROUP BY 1, 2 ORDER BY lang, predicted"""))

  private[queries] val q48 = GraftQuery(
    "q48_quality_by_source",
    (s, d) =>
      docs(s, d)
        .select(col("source"), qualityMetrics(col("text")).as("m"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("m.n_chars")).as("total_chars"),
          sum(col("m.n_words")).as("total_words"),
          round(sum(col("m.punct_ratio").cast(DecimalType(12, 6)))
            .cast(DoubleType) / count(lit(1)), 6).as("avg_punct_ratio"),
          round(sum(col("m.stopword_ratio").cast(DecimalType(12, 6)))
            .cast(DoubleType) / count(lit(1)), 6).as("avg_stopword_ratio"))
        .orderBy(col("source")),
    Some("""WITH m AS (
        SELECT source,
          length(text) AS n_chars,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0)) AS n_words,
          round((length(text) - length(regexp_replace(text,
            '[.,;:!?''"()\-]', '', 'g'))) / greatest(length(text), 1), 6)
            AS punct_ratio,
          round(len(list_filter(list_filter(
              regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0),
              t -> list_contains(['the','a','an','and','or','of','in','to',
                'is','it','that','for','on','with','as'], t)))
            / greatest(len(list_filter(regexp_split_to_array(lower(text),
                '\s+'), x -> length(x) > 0)), 1), 6) AS stopword_ratio
        FROM documents)
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(sum(n_words) AS BIGINT) AS total_words,
        round(CAST(sum(CAST(punct_ratio AS DECIMAL(12,6))) AS DOUBLE)
          / count(*), 6) AS avg_punct_ratio,
        round(CAST(sum(CAST(stopword_ratio AS DECIMAL(12,6))) AS DOUBLE)
          / count(*), 6) AS avg_stopword_ratio
      FROM m GROUP BY source ORDER BY source"""))

  private[queries] val q49 = GraftQuery(
    "q49_token_stats",
    (s, d) =>
      docs(s, d)
        .select(col("lang"),
          tokenCount(col("text")).as("ws_tokens"),
          bpeishTokenCount(col("text")).as("bpe_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("total_ws_tokens"),
          sum(col("bpe_tokens")).as("total_bpe_tokens"),
          round(sum(col("ws_tokens")).cast(DoubleType) / count(lit(1)), 4)
            .as("avg_ws_tokens"))
        .orderBy(col("lang")),
    Some("""WITH t AS (
        SELECT lang,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0)) AS ws_tokens,
          len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
            AS bpe_tokens
        FROM documents)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
        CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
        round(CAST(sum(ws_tokens) AS DOUBLE) / count(*), 4) AS avg_ws_tokens
      FROM t GROUP BY lang ORDER BY lang"""))

  private[queries] val q50 = GraftQuery(
    "q50_fingerprint",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          fingerprint(whitespaceTokens(col("text"))).as("fingerprint"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(
            list_filter(regexp_split_to_array(lower(text), '\s+'),
              x -> length(x) > 0),
            t -> CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT)
                   % 1000000007)),
        (acc, h) -> (acc * 1000003 + h) % 1000000007) AS fingerprint
      FROM documents ORDER BY doc_id"""))

  // ---- q51: multimodal column plumbing (binary + metadata) ------------
  // The opaque-binary convention: media as `binary`, typed metadata
  // alongside. Here the binary is fabricated from text (the container
  // has no media libs — graft.operators.Multimodal carries the format
  // sniffer, metadata extractor, and the clearly-marked decode stub;
  // q38 exercises it on real magic-numbered bytes); byte-level
  // metadata is the oracled part.

  private[queries] val q51 = GraftQuery(
    "q51_multimodal_meta",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("media"),
          ascii(substring(col("text"), 1, 1)).as("head_byte"))
        .select(col("doc_id"),
          octet_length(col("media")).as("n_bytes"),
          col("head_byte"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      CAST(ascii(substring(text, 1, 1)) AS INT) AS head_byte
      FROM documents ORDER BY doc_id"""))

  // ---- q52: embedding column statistics -------------------------------

  private[queries] val q52 = GraftQuery(
    "q52_embedding_stats",
    (s, d) =>
      emb(s, d)
        .select(col("label"),
          round(l2Norm(toDoubleVec(col("embedding"))), 6)
            .cast(DecimalType(18, 6)).as("norm_dec"),
          element_at(col("embedding"), 1).cast(DoubleType).as("first_dim"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("norm_dec")).cast(DoubleType) / count(lit(1)), 4)
            .as("avg_norm"),
          min(col("first_dim")).as("min_first_dim"),
          max(col("first_dim")).as("max_first_dim"))
        .orderBy(col("label")),
    Some("""WITH v AS (
        SELECT label,
          CAST(round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
            CAST(embedding AS DOUBLE[]))), 6) AS DECIMAL(18,6)) AS norm_dec,
          CAST(embedding[1] AS DOUBLE) AS first_dim
        FROM embeddings)
      SELECT label, count(*) AS n_vecs,
        round(CAST(sum(norm_dec) AS DOUBLE) / count(*), 4) AS avg_norm,
        min(first_dim) AS min_first_dim,
        max(first_dim) AS max_first_dim
      FROM v GROUP BY label ORDER BY label"""))

  // ---- q38: real binary media columns (Multimodal operator) -----------
  // Binaries with genuine PNG/JPEG/RIFF magic numbers + an md5-derived
  // payload are built per doc; the Spark side then treats them as
  // opaque bytes — sniffing the format from the LEADING BYTES,
  // measuring octet length, fingerprinting the payload. The oracle
  // specifies the expected answers from the construction (DuckDB has
  // no blob slicing), so a sniffer bug cannot hash-match.

  private[queries] val q38 = GraftQuery(
    "q38_multimodal_binary",
    (s, d) => {
      val magic = when(col("doc_id") % 3 === 0, Multimodal.magics(0)._2)
        .when(col("doc_id") % 3 === 1, Multimodal.magics(1)._2)
        .otherwise(Multimodal.magics(2)._2)
      val media = docs(s, d)
        .select(col("doc_id"), unhex(concat(magic, md5(col("text")))).as("media"))
      Multimodal.withMedia(media, "media")
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.payload_md5").as("payload_md5"))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bytes")).as("total_bytes"),
          count_distinct(col("payload_md5")).as("n_distinct_payloads"))
        .orderBy(col("format"))
    },
    Some("""WITH m AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'png'
               WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'riff' END AS format,
          CASE WHEN doc_id % 3 = 0 THEN 8 + 16
               WHEN doc_id % 3 = 1 THEN 3 + 16 ELSE 4 + 16 END AS n_bytes,
          md5(CASE WHEN doc_id % 3 = 0 THEN '89504E470D0A1A0A'
               WHEN doc_id % 3 = 1 THEN 'FFD8FF' ELSE '52494646' END
               || upper(md5(text))) AS payload_md5
        FROM documents)
      SELECT format, count(*) AS n_docs,
        CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        count(DISTINCT payload_md5) AS n_distinct_payloads
      FROM m GROUP BY format ORDER BY format"""))

  // ---- q39: URL decoding (E15, processor.py:168 unquote_plus) ---------
  // Fabricated %-encoded query strings are decoded with the engine's
  // url_decode + parse_url; DuckDB (no url functions) specifies the
  // expected plaintext via the inverse construction.

  private[queries] val q39 = GraftQuery(
    "q39_url_decode",
    (s, d) => {
      val payload = substring(regexp_replace(col("text"), "[^A-Za-z ]", ""), 1, 30)
      val url = concat(lit("https://shop.example/search?q="),
        regexp_replace(payload, " ", "%20"), lit("&lang="), col("lang"))
      docs(s, d)
        .select(col("doc_id"), url.as("url"), payload.as("expected"))
        .select(col("doc_id"),
          url_decode(parse_url(col("url"), lit("QUERY"), lit("q"))).as("q_decoded"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("lang_param"),
          (url_decode(parse_url(col("url"), lit("QUERY"), lit("q"))) === col("expected"))
            .as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        substring(regexp_replace(text, '[^A-Za-z ]', '', 'g'), 1, 30) AS q_decoded,
        lang AS lang_param,
        true AS roundtrip_ok
      FROM documents ORDER BY doc_id"""))

  // ---- q53: embedding-cosine near-duplicate pairs (exact, oracled) ----
  // The exact tier of embedding near-dup detection: all-pairs cosine
  // via the native codegen'd cosine_sim expression (one fused loop per
  // pair, no array allocation). The scan side is explicitly
  // repartitioned — the embeddings parquet is one small file, and the
  // O(n²) pair generation must not run in a single task. At corpus
  // scale the LSH-bucketed [[Similarity.cosineNearDupPairs]] (rows-only
  // q46 family) replaces the all-pairs enumeration; this exact form is
  // the ground truth it is tested against (SimilaritySpec).

  private[queries] val q53 = GraftQuery(
    "q53_cosine_near_dup",
    (s, d) =>
      exactPairsMaterialized(s, d)
        .orderBy(col("idA"), col("idB")),
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      SELECT a.vec_id AS idA, b.vec_id AS idB,
        round(list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
          6) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
          6) >= 0.4
      ORDER BY idA, idB"""))

  // ---- q54: exact dedup as a kept-rows operator (Dedup.exactDedup) ----
  // The window-over-content-hash form: keeps the lowest-id row per
  // distinct text, shuffling on xxhash64(text) — at 100 TB the shuffle
  // key is 8 bytes, never the document body. The oracle replays the
  // same keep-first semantics with a window over the text itself
  // (equal results absent a 64-bit collision).

  private[queries] val q54 = GraftQuery(
    "q54_dedup_keep_first",
    (s, d) =>
      Dedup.exactDedup(docs(s, d), "text", "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents) t
      WHERE rn = 1 ORDER BY doc_id"""))

  // ---- q60: repetition quality signals (C4/Gopher-style filters) ------
  // Duplicate word-n-gram fractions and the most-frequent-word share —
  // the standard "is this document degenerate/boilerplate" signals a
  // training-data pipeline filters on. All intra-row array math: one
  // narrow projection over the corpus.

  private[queries] val q60 = GraftQuery(
    "q60_repetition_signals",
    (s, d) => {
      def dupFrac(grams: Column): Column =
        when(size(grams) > 0,
          round((size(grams) - size(array_distinct(grams))).cast(DoubleType) /
            size(grams).cast(DoubleType), 6)).otherwise(0.0)
      val topWordCount = array_max(transform(array_distinct(col("t")),
        w => size(filter(col("t"), t => t === w))))
      // spread ahead of the projection (r17): top_word_frac is an
      // O(|distinct|·|tokens|) per-row fold and the narrow scan ran
      // the WHOLE corpus in one task (r16 bench: 4 tasks / 4 serial
      // stages, cpu_frac 1.0, 2.4 s of single-threaded task time)
      graft.operators.DatasetOps.spreadToCores(docs(s, d))
        // tokens projected BEFORE shingling (lambda-CSE rule: an
        // inlined tokenizer re-splits the text once per shingle)
        .select(col("doc_id"), whitespaceTokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          wordShingles(col("t"), 2).as("g2"), wordShingles(col("t"), 3).as("g3"))
        .select(col("doc_id"),
          size(col("t")).as("n_words"),
          dupFrac(col("g2")).as("dup_2gram_frac"),
          dupFrac(col("g3")).as("dup_3gram_frac"),
          when(size(col("t")) > 0,
            round(topWordCount.cast(DoubleType) / size(col("t")).cast(DoubleType), 6))
            .otherwise(0.0).as("top_word_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0) AS toks
        FROM documents),
      g AS (
        SELECT doc_id, toks,
          CASE WHEN len(toks) >= 2 THEN
            list_transform(generate_series(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS g2,
          CASE WHEN len(toks) >= 3 THEN
            list_transform(generate_series(1, len(toks) - 2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE [] END AS g3
        FROM t)
      SELECT doc_id,
        CAST(len(toks) AS INT) AS n_words,
        CASE WHEN len(g2) > 0 THEN
          round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
          ELSE 0.0 END AS dup_2gram_frac,
        CASE WHEN len(g3) > 0 THEN
          round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
          ELSE 0.0 END AS dup_3gram_frac,
        CASE WHEN len(toks) > 0 THEN
          round(CAST(list_max(list_transform(list_distinct(toks),
            w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / len(toks), 6)
          ELSE 0.0 END AS top_word_frac
      FROM g ORDER BY doc_id"""))

  // ---- q63: duplicate-cluster resolution (Dedup.clusterReps) ----------
  // Pairwise verdicts → one kept doc per duplicate SET: the q53 pair
  // graph is closed transitively by distributed min-label propagation
  // (A~B, B~C collapse to one cluster though A~C was never compared),
  // then every vector joins its component's min id as representative —
  // singletons are their own rep. The oracle replays reachability with
  // a recursive CTE. Output is the cluster census: rep + member count.
  // Bench shape (VERDICT r3): the pair feed is the materialized q53
  // verdict table — this query's plan has NO pair enumeration at all,
  // just a parquet scan of 24-byte verdict rows plus 2-3 fixpoint
  // barriers (a per-JOB floor; at corpus scale rounds stay
  // O(log diameter) and every shuffled row is a 16-byte tuple).
  // PlanSpec pins the absence of any non-equi join.

  private[queries] val q63 = GraftQuery(
    "q63_dup_clusters",
    (s, d) => {
      val pairs = exactPairsMaterialized(s, d)
      val reps = Dedup.clusterReps(pairs, "idA", "idB",
        checkpointPairs = false)
      emb(s, d).select(col("vec_id").as("id"))
        .join(reps, Seq("id"), "left")
        .select(col("id"), coalesce(col("rep"), col("id")).as("cluster_rep"))
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("cluster_rep"))
    },
    Some("""WITH RECURSIVE e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      p AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6) >= 0.4),
      sym AS (
        SELECT ida AS id, idb AS nbr FROM p
        UNION SELECT idb, ida FROM p),
      reach(id, lab) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT s.id, r.lab FROM sym s JOIN reach r ON r.id = s.nbr)
      SELECT cluster_rep, count(*) AS n_members FROM (
        SELECT id, min(lab) AS cluster_rep FROM reach GROUP BY id)
      GROUP BY cluster_rep ORDER BY cluster_rep"""))

  // ---- q64: deterministic train/val/test split (DatasetOps.hashSplit) -
  // Membership is md5(id) — stable under reshuffles/retries/appends
  // where rand() would re-deal and leak; the oracle replays the draw.

  private[queries] val q64 = GraftQuery(
    "q64_hash_split",
    (s, d) =>
      DatasetOps.hashSplit(docs(s, d), "doc_id")
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("source")),
    Some(s"""SELECT CASE
        WHEN u < ${DatasetOps.thr(0.9)} THEN 'train'
        WHEN u < ${DatasetOps.thr(0.9 + 0.05)} THEN 'val'
        ELSE 'test' END AS split, source, count(*) AS n_docs
      FROM (SELECT source,
        CAST(concat('0x', substring(md5('split:'||doc_id),1,8)) AS BIGINT) AS u
        FROM documents)
      GROUP BY 1, 2 ORDER BY split, source"""))

  // ---- q191: leakage-free split ---------------------------------------
  // hashSplit's near-dup-aware sibling: membership draws on the
  // cluster representative, so a test doc's near-duplicate cannot
  // land in train. Fed from the materialized verdict table; the
  // oracle recomputes the exact pair set (q156's CTEs), the min-label
  // reachability, the md5 draw ON THE REP and the census — a single
  // doc split apart from its cluster flips n_groups or n_docs.

  private[queries] val q191: GraftQuery = GraftQuery(
    "q191_leakage_free_split",
    (s, d) =>
      DatasetOps.leakageFreeSplit(docs(s, d), "doc_id",
          docPairsMaterialized(s, d), checkpointPairs = false)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("split_group")).as("n_groups"))
        .orderBy(col("split")),
    Some(s"""WITH RECURSIVE toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\\s+'),
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
      lab AS (SELECT id, min(lab) AS rep FROM reach GROUP BY id),
      drawn AS (SELECT l.id, l.rep,
          CAST(concat('0x', substring(md5('split:' || l.rep), 1, 8))
            AS BIGINT) AS u
        FROM lab l),
      sp AS (SELECT id, rep, CASE
          WHEN u < ${DatasetOps.thr(0.9)} THEN 'train'
          WHEN u < ${DatasetOps.thr(0.95)} THEN 'val'
          ELSE 'test' END AS split
        FROM drawn)
      SELECT split, count(*) AS n_docs,
        count(DISTINCT rep) AS n_groups
      FROM sp GROUP BY split ORDER BY split"""))

  // ---- q65: benchmark decontamination (DatasetOps.contaminatedIds) ----
  // A deterministic slice of the corpus (doc_id % 97 = 0) plays the
  // benchmark; remaining docs are flagged when they share any word
  // 5-gram with it. The oracle re-derives the grams with the same
  // tokenization SQL the token/shingle queries use and joins on the
  // raw gram strings (the Spark side joins on xxhash64 of the same
  // strings — q41/q54's collision tolerance).

  private[queries] val q65 = GraftQuery(
    "q65_decontaminate",
    (s, d) => {
      val bench = docs(s, d).filter(col("doc_id") % 97 === 0)
      val corpus = docs(s, d).filter(col("doc_id") % 97 =!= 0)
      val cont = DatasetOps.contaminatedIds(corpus, bench, "doc_id", "text")
        .withColumn("_hit", lit(1))
      corpus.join(cont, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("_hit")).as("n_contaminated"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, source,
          list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0) AS tk
        FROM documents),
      g AS (
        SELECT doc_id, source, unnest(list_distinct(
          list_transform(generate_series(1, len(tk) - 4),
            i -> array_to_string(tk[i:i+4], ' ')))) AS gram
        FROM toks),
      bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      cont AS (
        SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)
        WHERE g.doc_id % 97 <> 0)
      SELECT d.source, count(*) AS n_docs,
        count(c.doc_id) AS n_contaminated
      FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
      WHERE d.doc_id % 97 <> 0
      GROUP BY d.source ORDER BY d.source"""))

  // ---- q66: document-frequency census ---------------------------------
  // Distinct tokens per doc → docs-per-token: the vocabulary/stopword
  // census feeding IDF weighting and df-threshold filters. One explode
  // + one count shuffle on token strings; top-50 with a total order.

  private[queries] val q66 = GraftQuery(
    "q66_doc_freq",
    (s, d) =>
      docs(s, d)
        .select(explode(array_distinct(whitespaceTokens(col("text"))))
          .as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("token"))
        .limit(50),
    Some("""SELECT token, count(*) AS doc_freq FROM (
        SELECT doc_id, unnest(list_distinct(
          list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0))) AS token
        FROM documents)
      GROUP BY token ORDER BY doc_freq DESC, token LIMIT 50"""))

  // ---- q67: ingestion-time dedup against the existing corpus ----------
  // The incremental form of exact dedup: an incoming batch is checked
  // against the already-ingested corpus by content digest — the batch
  // never rescans corpus bodies, only its distinct 32-char digests
  // (at 100 TB the digest set is the only thing that shuffles, and a
  // bloom/bucketed digest table would make it a local probe).

  private[queries] val q67 = GraftQuery(
    "q67_ingest_dedup",
    (s, d) => {
      val incoming = docs(s, d).filter(col("doc_id") % 3 === 0)
      val seen = docs(s, d).filter(col("doc_id") % 3 =!= 0)
        .select(md5(col("text")).as("_h")).distinct()
        .withColumn("_seen", lit(1))
      incoming.withColumn("_h", md5(col("text")))
        .join(seen, Seq("_h"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_incoming"),
          count(when(col("_seen").isNull, 1)).as("n_new"))
        .orderBy(col("source"))
    },
    Some("""WITH seen AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0)
      SELECT d.source, count(*) AS n_incoming,
        count(*) FILTER (WHERE s.h IS NULL) AS n_new
      FROM documents d LEFT JOIN seen s ON md5(d.text) = s.h
      WHERE d.doc_id % 3 = 0
      GROUP BY d.source ORDER BY d.source"""))

  // ---- q68: stratified corpus sampling (DatasetOps.stratifiedSample) --
  // Corpus mixing: keep all of src0, half of src1, 10% of the rest —
  // membership by md5(id) so weights can change without re-dealing
  // untouched strata. The oracle replays the draws and the CASE cuts.

  private[queries] val q68 = GraftQuery(
    "q68_stratified_sample",
    (s, d) =>
      DatasetOps.stratifiedSample(docs(s, d), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5), defaultFrac = 0.1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source")),
    Some(s"""SELECT source, count(*) AS n_kept FROM (
        SELECT source,
          CAST(concat('0x', substring(md5('sample:'||doc_id),1,8)) AS BIGINT) AS u
        FROM documents)
      WHERE u < CASE WHEN source = 'src0' THEN ${DatasetOps.thr(1.0)}
        WHEN source = 'src1' THEN ${DatasetOps.thr(0.5)}
        ELSE ${DatasetOps.thr(0.1)} END
      GROUP BY source ORDER BY source"""))

  // ---- q69: int8 embedding quantization error -------------------------
  // The 4×-memory ANN index trade, measured: symmetric max-abs int8
  // roundtrip per vector, then the reconstruction-error profile per
  // bucket. Per-row math is pure IEEE (identical in any engine); the
  // cross-row average uses the q48 DECIMAL-sum pattern so aggregation
  // order can't perturb the hash.

  private[queries] val q69 = GraftQuery(
    "q69_quantization_error",
    (s, d) => {
      val v = toDoubleVec(col("embedding"))
      val sc = int8Scale(v)
      val err = when(sc > 0,
        array_max(zip_with(v, int8Roundtrip(v, sc), (a, b) => abs(b - a))))
        .otherwise(0.0)
      graft.operators.DatasetOps.spreadToCores(emb(s, d))
        .select((col("vec_id") % 8).as("bucket"), err.as("err"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("err").cast(DecimalType(12, 6))).cast(DoubleType)
            / count(lit(1)), 6).as("avg_max_err"),
          round(max(col("err")), 6).as("worst_err"))
        .orderBy(col("bucket"))
    },
    Some("""WITH e AS (
        SELECT vec_id % 8 AS bucket,
          list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127 AS s,
          CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      r AS (
        SELECT bucket,
          CASE WHEN s > 0 THEN
            list_max(list_transform(v, x -> abs(floor(x/s + 0.5)*s - x)))
          ELSE 0.0 END AS err
        FROM e)
      SELECT bucket, count(*) AS n_vecs,
        round(CAST(sum(CAST(err AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6)
          AS avg_max_err,
        round(max(err), 6) AS worst_err
      FROM r GROUP BY bucket ORDER BY bucket"""))

  // ---- q239: Unicode script census ------------------------------------
  // The alphabet-level companion to q47's langid (which guesses ONE
  // language; this measures what scripts the bytes actually carry —
  // the mC4/ROOTS-style multilingual-curation signal for catching
  // mis-tagged languages, transliterated spam, and encoding damage
  // via the U+FFFD replacement-character count): per tagged language,
  // corpus-total chars and integer ppm of each script class. The
  // script patterns are `\x{...}` BMP ranges shared VERBATIM between
  // Java regex and DuckDB's RE2, so the oracle runs the identical
  // census; ratios are ppm integer divisions (bit-replayable). One
  // narrow scan, one lang-sized aggregate — the 100 TB shape.

  private[queries] val q239: GraftQuery = GraftQuery(
    "q239_script_census",
    (s, d) => {
      val agg = docs(s, d)
        .select(col("lang"), length(col("text")).as("n"),
          graft.functions.TextFunctions.scriptCounts(col("text")).as("sc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast(LongType).as("total_chars") +:
            graft.functions.TextFunctions.scriptClasses.map { case (sn, _) =>
              sum(col(s"sc.$sn")).cast(LongType).as(s"_$sn")
            }: _*)
      graft.functions.TextFunctions.scriptClasses
        .foldLeft(agg) { case (df, (sn, _)) =>
          df.withColumn(s"${sn}_ppm",
            expr(s"(_$sn * 1000000L) div greatest(total_chars, 1L)"))
        }
        .select(col("lang") +: col("n_docs") +: col("total_chars") +:
          graft.functions.TextFunctions.scriptClasses
            .map { case (sn, _) => col(s"${sn}_ppm") }: _*)
        .orderBy(col("lang"))
    },
    Some(s"""SELECT lang, count(*) AS n_docs,
        CAST(sum(length(text)) AS BIGINT) AS total_chars,
        ${graft.functions.TextFunctions.scriptClasses.map { case (sn, pat) =>
          // the pattern string embeds verbatim: SQL single-quoted
          // literals pass backslashes through untouched, so RE2 sees
          // exactly what Java regex saw
          s"""CAST(sum(len(regexp_extract_all(text, '$pat'))) * 1000000
            // greatest(sum(length(text)), 1) AS BIGINT) AS ${sn}_ppm"""
        }.mkString(",\n        ")}
      FROM documents GROUP BY lang ORDER BY lang"""))

  // ---- q240: content-defined chunk dedup census -----------------------
  // Block-level duplication measured with FastCDC-shaped chunking
  // (Dedup.cdcChunks): boundaries depend only on local content (a
  // rolling polynomial hash, zero residue mod 64), so shared
  // boilerplate lands in identical chunks at ANY byte offset — the
  // seam line dedup (q97) misses when templating shifts text
  // mid-line. Per source: chunk counts, distinct-chunk counts, and
  // the dedupable-bytes ratio a storage/cleaning planner acts on. The
  // oracle rebuilds every boundary (the same residue per window
  // position), every chunk substring, and both censuses.

  private[queries] val q240: GraftQuery = GraftQuery(
    "q240_cdc_chunk_census",
    (s, d) => {
      // the scan is spread first (r17): the chunker is the heaviest
      // per-row compute in the battery's serial tier and ran entirely
      // inside the one-task narrow scan (r16/r17 bench: 8 tasks over 8
      // serial stages, cpu_frac 0.99)
      val ch = graft.operators.DatasetOps.spreadToCores(docs(s, d))
        .select(col("source"),
          explode(Dedup.cdcChunks(col("text"))).as("chunk"))
      // ONE two-level aggregation instead of separate total and
      // distinct censuses (r17): the old tot/dst pair re-derived the
      // whole chunk pipeline per consumer (4 parquet scans in the
      // plan) and joined at the end — per (source, chunk) count first,
      // then per source both censuses fall out of the same groups:
      // Σcnt = n_chunks, Σcnt·len = total_chars, count = distinct,
      // Σlen = distinct_chars (guide §2.4; values identical, oracle-
      // confirmed)
      val perChunk = ch.groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).as("_cnt"))
      perChunk.groupBy(col("source"))
        .agg(sum(col("_cnt")).cast(LongType).as("n_chunks"),
          count(lit(1)).as("n_distinct_chunks"),
          sum(col("_cnt") * length(col("chunk"))).cast(LongType)
            .as("total_chars"),
          sum(length(col("chunk"))).cast(LongType).as("distinct_chars"))
        .withColumn("dup_chars_ppm",
          expr("((total_chars - distinct_chars) * 1000000L) " +
            "div greatest(total_chars, 1L)"))
        .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
          col("total_chars"), col("distinct_chars"), col("dup_chars_ppm"))
        .orderBy(col("source"))
    },
    Some({
      // B^(16-j) mod M for j = 1..16 — the per-slot powers whose
      // window sum equals the engine's incremental rolling hash
      val powers = (1 to 16).map(j =>
        BigInt(131L).modPow(16 - j, BigInt(1000000007L))).mkString(", ")
      s"""WITH d AS (SELECT doc_id, source, text, length(text) AS n
        FROM documents),
      cd AS (SELECT doc_id, source, text, n,
          list_transform(generate_series(1, n), i ->
            CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS codes
        FROM d WHERE n > 0),
      ends AS (SELECT doc_id, source, text, n,
          list_sort(list_distinct(list_append(
            list_filter(generate_series(16, greatest(n, 16)),
              i -> i <= n AND
                list_sum(list_transform(generate_series(1, 16),
                  j -> codes[i - 16 + j] * ([$powers])[j]))
                  % 1000000007 % 64 = 0),
            n))) AS e
        FROM cd),
      ch AS (SELECT source,
          unnest(list_transform(generate_series(1, len(e)),
            j -> substr(text,
              (CASE WHEN j = 1 THEN 0 ELSE e[j - 1] END) + 1,
              e[j] - CASE WHEN j = 1 THEN 0 ELSE e[j - 1] END))) AS chunk
        FROM ends),
      tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
          CAST(sum(length(chunk)) AS BIGINT) AS total_chars
        FROM ch GROUP BY source),
      dst AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_chunks,
          CAST(sum(length(chunk)) AS BIGINT) AS distinct_chars
        FROM (SELECT DISTINCT source, chunk FROM ch) GROUP BY source)
      SELECT source, n_chunks, n_distinct_chunks, total_chars,
        distinct_chars,
        CAST(((total_chars - distinct_chars) * 1000000)
          // greatest(total_chars, 1) AS BIGINT) AS dup_chars_ppm
      FROM tot JOIN dst USING (source) ORDER BY source"""
    }))

  // ---- q243: Johnson-Lindenstrauss random projection -------------------
  // Dimensionality reduction for the vector tier: project 64-d
  // embeddings onto 16 md5-derived random directions (y_j = v·r_j /
  // √16 — the JL scaling that makes E[‖ya−yb‖²] = ‖va−vb‖²), the
  // cheap pre-step that cuts ANN shuffle bytes 4× before banding/IVF.
  // The projection is a narrow per-row map — no shuffle, codegen'd
  // dot products against plan literals. The census is the evaluation
  // tier: every pair among vec_id < 40, original vs projected L2 and
  // the distortion ratio, all 6dp-rounded — the md5-portable geometry
  // (q46/q55's replay trick) lets the oracle rebuild the planes, the
  // projections, and every distance bit-for-bit, so a drift anywhere
  // in the projection math flips the row hash. DedupSpec-side: the JL
  // guarantee itself (distortion concentrated near 1) is the
  // spec-pinned property.

  private[queries] val q243: GraftQuery = {
    val planes = md5Vectors(16, 64, "jl")
    // uniform[-1,1) components have variance 1/3, so the
    // distance-preserving scale is √(3/k) = √3/4, not 1/√k; the
    // oracle embeds the identical shortest-round-trip double literal
    val scale = math.sqrt(3.0) / 4.0
    GraftQuery(
      "q243_jl_projection",
      (s, d) => {
        val vecs = emb(s, d).filter(col("vec_id") < 40)
          .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
        val proj = vecs.select(col("vec_id"), col("v"),
          array(planes.map(p => dot(col("v"), typedLit(p)) * scale): _*)
            .as("y"))
        val a = proj.select(col("vec_id").as("a"), col("v").as("va"),
          col("y").as("ya"))
        val b = proj.select(col("vec_id").as("b"), col("v").as("vb"),
          col("y").as("yb"))
        a.join(broadcast(b), col("a") < col("b"))
          .where(l2Distance(col("va"), col("vb")) > 0)
          .select(col("a"), col("b"),
            round(l2Distance(col("va"), col("vb")), 6).as("orig_dist"),
            round(l2Distance(col("ya"), col("yb")), 6).as("proj_dist"),
            round(l2Distance(col("ya"), col("yb")) /
              l2Distance(col("va"), col("vb")), 6).as("distortion"))
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH planes AS (
          SELECT p.p AS p, list(
              CAST(concat('0x', substring(md5('jl:'||p.p||':'||d.d), 1, 8)) AS BIGINT)
                / 4294967296.0 * 2 - 1 ORDER BY d.d) AS pv
          FROM generate_series(0, 15) p(p), generate_series(0, 63) d(d)
          GROUP BY p.p),
        vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 40),
        proj AS (SELECT vec_id, first(v) AS v, list(dp ORDER BY p) AS y
          FROM (SELECT t.vec_id, t.v, pl.p,
              list_dot_product(t.v, pl.pv) * $scale AS dp
            FROM vecs t CROSS JOIN planes pl)
          GROUP BY vec_id),
        pairs AS (SELECT pa.vec_id AS a, pb.vec_id AS b,
            list_transform(generate_series(1, 64),
              i -> pa.v[i] - pb.v[i]) AS da,
            list_transform(generate_series(1, 16),
              i -> pa.y[i] - pb.y[i]) AS dy
          FROM proj pa JOIN proj pb ON pa.vec_id < pb.vec_id)
        SELECT a, b,
          round(sqrt(list_dot_product(da, da)), 6) AS orig_dist,
          round(sqrt(list_dot_product(dy, dy)), 6) AS proj_dist,
          round(sqrt(list_dot_product(dy, dy)) /
            sqrt(list_dot_product(da, da)), 6) AS distortion
        FROM pairs WHERE list_dot_product(da, da) > 0
        ORDER BY a, b"""))
  }

  // ---- q257: semantic kNN from raw TEXT --------------------------------
  // The end-to-end text→vector→serving composition with ZERO external
  // models: docs → hashing-trick term-frequency vectors (q204's
  // 'feat:' bucketing, 64 buckets) → JL projection to 16 dims (q243's
  // md5 planes and √(3/k) scale) → exact cosine top-5 (q45's ranking
  // contract). Every stage is an already-oracled operator; this query
  // gates that they COMPOSE — the deterministic answer to "find me
  // documents like this one" when no embedding model exists yet, and
  // the feed a bootstrap semantic-dedup pass runs on. Scale shape:
  // the tf build and the projection are narrow maps over (id, bucket)
  // censuses; the exact scan is the q45 ground-truth tier (queries
  // broadcast, corpus scanned once, bounded-heap ranking) — the
  // banded/IVF tiers take over at production scale, fed by the SAME
  // projected vectors.

  private[queries] val q257: GraftQuery = {
    val planes = md5Vectors(16, 64, "jl")
    val scale = math.sqrt(3.0) / 4.0
    GraftQuery(
      "q257_text_semantic_knn",
      (s, d) => {
        val toks = docs(s, d).select(col("doc_id"),
          explode(whitespaceTokens(col("text"))).as("tok"))
        val tf = toks.groupBy(col("doc_id"),
            (conv(substring(md5(concat(lit("feat:"), col("tok"))), 1, 8),
              16, 10).cast(LongType) % 64).as("b"))
          .agg(count(lit(1)).as("tf"))
        val dense = tf.groupBy(col("doc_id"))
          .agg(array((0 until 64).map(j =>
            sum(when(col("b") === j, col("tf")).otherwise(0L))
              .cast(DoubleType)): _*).as("v"))
        val proj = dense.select(col("doc_id"),
          array(planes.map(p => dot(col("v"), typedLit(p)) * scale): _*)
            .as("y"))
        Similarity.bruteForceTopK(
          proj.filter(col("doc_id") < 10)
            .select(col("doc_id").as("qid"), col("y").as("qvec")),
          proj.select(col("doc_id").as("cid"), col("y").as("cvec")), 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH d0 AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '\\s+'),
            x -> length(x) > 0) AS tk
        FROM documents),
      d1 AS (SELECT doc_id, tk FROM d0 WHERE len(tk) > 0),
      tx AS (SELECT doc_id, unnest(tk) AS tok FROM d1),
      tf AS (SELECT doc_id,
          CAST(concat('0x', substring(md5('feat:' || tok), 1, 8))
            AS BIGINT) % 64 AS b,
          count(*) AS tf
        FROM tx GROUP BY 1, 2),
      grid AS (SELECT d1.doc_id, g.b
        FROM d1 CROSS JOIN generate_series(0, 63) g(b)),
      dense AS (SELECT grid.doc_id,
          list(CAST(coalesce(tf.tf, 0) AS DOUBLE) ORDER BY grid.b) AS v
        FROM grid LEFT JOIN tf
          ON tf.doc_id = grid.doc_id AND tf.b = grid.b
        GROUP BY grid.doc_id),
      planes AS (SELECT p.p AS p, list(
            CAST(concat('0x', substring(md5('jl:'||p.p||':'||d.d), 1, 8))
              AS BIGINT) / 4294967296.0 * 2 - 1 ORDER BY d.d) AS pv
        FROM generate_series(0, 15) p(p), generate_series(0, 63) d(d)
        GROUP BY p.p),
      proj AS (SELECT doc_id, list(dp ORDER BY p) AS y
        FROM (SELECT t.doc_id, pl.p,
            list_dot_product(t.v, pl.pv) * $scale AS dp
          FROM dense t CROSS JOIN planes pl)
        GROUP BY doc_id),
      q AS (SELECT doc_id AS qid, y AS qy FROM proj WHERE doc_id < 10),
      sc AS (SELECT qid, proj.doc_id AS cid,
          round(list_dot_product(qy, y) /
            (sqrt(list_dot_product(qy, qy)) *
             sqrt(list_dot_product(y, y))), 6) AS sim
        FROM q CROSS JOIN proj WHERE proj.doc_id <> qid)
      SELECT qid, rank, cid, sim FROM (
        SELECT qid, cid, sim, row_number() OVER (
            PARTITION BY qid ORDER BY sim DESC, cid) AS rank
        FROM sc) t
      WHERE rank <= 5 ORDER BY qid, rank"""))
  }

  // ---- q249: scalar quantization (int8) census -------------------------
  // The SQ member of the quantization family beside PQ (q221): per-dim
  // (min, max) → int8 codes → 4× memory cut on the serving tier, a
  // narrow per-row map with NO shuffle (the training pass is 2·64
  // map-side-combined aggregates picked up as one row). Codes use
  // floor, not round — round-half ties break differently across
  // engines — and both engines run the IDENTICAL operand order, so
  // the oracle rebuilds every code and every reconstruction double
  // bit-for-bit: census gates the per-label code checksum (encode
  // exactness) and the floor(err·10⁶) reconstruction stats (decode
  // exactness via the q243-proven l2/list_dot_product parity).

  private[queries] val q249: GraftQuery = GraftQuery(
    "q249_sq_quantization",
    (s, d) => {
      val vecs = emb(s, d).select(col("vec_id"), col("label"),
        toDoubleVec(col("embedding")).as("v"))
      val (mns, mxs) = Similarity.Sq.minMax(vecs, "v", 64)
      vecs
        .withColumn("codes", Similarity.Sq.encode(col("v"), mns, mxs))
        .withColumn("vhat", Similarity.Sq.decode(col("codes"), mns, mxs))
        .select(col("label"),
          aggregate(col("codes"), lit(0L), (acc, x) => acc + x)
            .as("code_sum"),
          floor(l2Distance(col("v"), col("vhat")) * 1e6)
            .cast(LongType).as("err_e6"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("code_sum")).cast(LongType).as("codes_checksum"),
          expr("sum(err_e6) div count(1)").as("mean_err_e6"),
          max(col("err_e6")).as("max_err_e6"))
        .orderBy(col("label"))
    },
    Some("""WITH vecs AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      dims AS (
        SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
        FROM vecs CROSS JOIN generate_series(1, 64) t(j) GROUP BY j),
      mm AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
        FROM dims),
      enc AS (
        SELECT label, v, mns, mxs,
          list_transform(generate_series(1, 64), j ->
            CASE WHEN mxs[j] > mns[j] THEN
              CAST(least(greatest(
                floor((v[j] - mns[j]) * 255.0 / (mxs[j] - mns[j])),
                0.0), 255.0) AS BIGINT)
            ELSE 0 END) AS codes
        FROM vecs CROSS JOIN mm),
      errs AS (
        SELECT label, codes,
          list_transform(generate_series(1, 64), j ->
            v[j] - (mns[j] + codes[j] * (mxs[j] - mns[j]) / 255.0)) AS dv
        FROM enc)
      SELECT label, count(*) AS n_vecs,
        CAST(sum(list_sum(codes)) AS BIGINT) AS codes_checksum,
        CAST(sum(CAST(floor(sqrt(list_dot_product(dv, dv)) * 1000000.0)
          AS BIGINT)) // count(*) AS BIGINT) AS mean_err_e6,
        CAST(max(CAST(floor(sqrt(list_dot_product(dv, dv)) * 1000000.0)
          AS BIGINT)) AS BIGINT) AS max_err_e6
      FROM errs GROUP BY label ORDER BY label"""))

  // ---- q290: duplicate-span excision (exact substring dedup) ----------
  // The Lee et al. 2022 tier between whole-doc dedup (q40 — misses
  // every partial overlap) and the CDC chunk CENSUS (q240 — measures
  // duplication, rewrites nothing): positions whose 25-char gram
  // recurs anywhere in the corpus (keep-first: each gram's min
  // (doc_id, pos) occurrence stays) merge into maximal spans that are
  // CUT OUT of the text, so shared boilerplate vanishes while each
  // document's unique remainder survives. Two boilerplate blocks are
  // planted deterministically (an appended newsletter plea on
  // doc_id % 7 = 0, a prepended cookie banner on doc_id % 11 = 3 —
  // start-of-doc and end-of-doc spans both exercised); natural
  // repetition in the synthetic text marks additional spans, which
  // both engines replay identically. The census pins docs affected,
  // exact chars removed, and an md5 mass over every cleaned text —
  // one mis-assembled segment anywhere flips a cell.

  private[queries] val q290: GraftQuery = {
    val tailAd = " Subscribe to our newsletter for weekly updates" +
      " and exclusive offers today."
    val headAd = "Cookie notice: this site stores tracking cookies" +
      " in your browser. "
    GraftQuery(
      "q290_dup_span_excision",
      (s, d) => {
        val planted = docs(s, d).select(col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(tailAd)))
            .when(col("doc_id") % 11 === 3, concat(lit(headAd), col("text")))
            .otherwise(col("text")).as("text"))
        val spans = Dedup.dupSpans(planted, "doc_id", "text", k = 25)
        Dedup.exciseSpans(planted, spans, "doc_id", "text")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("chars_removed") > 0, 1L).otherwise(0L))
              .cast(LongType).as("docs_affected"),
            sum(length(col("text"))).cast(LongType).as("chars_before"),
            sum(col("chars_removed")).cast(LongType).as("chars_removed"),
            sum(conv(substring(md5(concat(col("doc_id").cast(StringType),
              lit(":"), col("clean_text"))), 1, 8), 16, 10)
              .cast(LongType)).cast(LongType).as("clean_mass"))
          .withColumn("removed_ppm",
            expr("(chars_removed * 1000000L) div greatest(chars_before, 1L)"))
          .select(col("source"), col("n_docs"), col("docs_affected"),
            col("chars_before"), col("chars_removed"), col("removed_ppm"),
            col("clean_mass"))
          // ALWAYS-TRUE having (md5 of a non-null string never sums to
          // NULL on a non-empty group) that exists for the BENCH, not
          // the result: under the bench's count() consumer Catalyst
          // prunes unreferenced aggregate expressions and then
          // eliminates the excise join entirely — r11 benched this
          // query at 0.21 s while its real composition costs ~1.5 s
          // (the count-pruning trap; the optimized count plan was a
          // bare `source` scan). Referencing clean_mass in a filter
          // keeps the span pipeline in every consumer's plan, so the
          // published number is the operator's true cost.
          .where(col("clean_mass").isNotNull)
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (
          SELECT doc_id, source,
            CASE WHEN doc_id % 7 = 0 THEN text || '$tailAd'
              WHEN doc_id % 11 = 3 THEN '$headAd' || text
              ELSE text END AS text
          FROM documents),
        g AS (
          SELECT doc_id, pos,
            CAST(concat('0x', substring(md5(substr(text,
              CAST(pos AS INT), 25)), 1, 15)) AS BIGINT) AS h
          FROM d, unnest(generate_series(1, length(text) - 24)) AS u(pos)
          WHERE length(text) >= 25),
        f AS (
          SELECT doc_id, pos,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
          FROM g),
        iv AS (
          SELECT doc_id, pos,
            CASE WHEN pos > coalesce(max(pos + 24) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                CAST(-1 AS BIGINT))
              THEN 1 ELSE 0 END AS flag
          FROM f WHERE rn >= 2),
        grp AS (
          SELECT doc_id, pos,
            sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
          FROM iv),
        spans AS (
          SELECT doc_id, min(pos) AS s, max(pos) + 24 AS e
          FROM grp GROUP BY doc_id, gid
          HAVING max(pos) + 24 - min(pos) + 1 >= 25),
        seg AS (
          SELECT doc_id,
            coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS p,
            s - 1 AS q
          FROM spans
          UNION ALL
          SELECT doc_id, max(e) AS p, NULL AS q FROM spans GROUP BY doc_id),
        cleanedS AS (
          SELECT seg.doc_id,
            string_agg(substr(d.text, CAST(seg.p + 1 AS INT),
              CAST(coalesce(seg.q, length(d.text)) - seg.p AS INT)), ''
              ORDER BY seg.p) AS clean,
            (SELECT sum(e - s + 1) FROM spans sp
              WHERE sp.doc_id = seg.doc_id) AS removed
          FROM seg JOIN d ON seg.doc_id = d.doc_id
          GROUP BY seg.doc_id),
        alldocs AS (
          SELECT d.doc_id, d.source, length(d.text) AS n0,
            coalesce(c.clean, d.text) AS clean,
            coalesce(c.removed, 0) AS removed
          FROM d LEFT JOIN cleanedS c ON d.doc_id = c.doc_id)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_affected,
          CAST(sum(n0) AS BIGINT) AS chars_before,
          CAST(sum(removed) AS BIGINT) AS chars_removed,
          CAST(sum(removed) * 1000000 // greatest(sum(n0), 1) AS BIGINT)
            AS removed_ppm,
          CAST(sum(CAST(concat('0x', substring(md5(doc_id || ':' || clean),
            1, 8)) AS BIGINT)) AS BIGINT) AS clean_mass
        FROM alldocs GROUP BY source
        HAVING clean_mass IS NOT NULL
        ORDER BY source"""))
  }

  // ---- q293: span excision from SQL (the TVF door) ----------------------
  // q290's operator reached from pure SQL text over the UNPLANTED
  // corpus (the synthetic text carries natural 25-gram repetition):
  // the `dup_span_excise` TVF expands into the same dupSpans →
  // exciseSpans composition, and the oracle replays gram marking,
  // keep-first, interval merge and reassembly per affected doc — the
  // md5 signature over each cleaned text pins the rewrite row by row.

  private[queries] val q293: GraftQuery = GraftQuery(
    "q293_sql_span_excise",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT doc_id, chars_removed,
          substring(md5(clean_text), 1, 8) AS clean_sig
        FROM dup_span_excise('documents', 'doc_id', 'text', 25)
        WHERE chars_removed > 0 ORDER BY doc_id""")
    },
    Some("""WITH g AS (
        SELECT doc_id, pos,
          CAST(concat('0x', substring(md5(substr(text,
            CAST(pos AS INT), 25)), 1, 15)) AS BIGINT) AS h
        FROM documents, unnest(generate_series(1, length(text) - 24))
          AS u(pos)
        WHERE length(text) >= 25),
      f AS (
        SELECT doc_id, pos,
          row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM g),
      iv AS (
        SELECT doc_id, pos,
          CASE WHEN pos > coalesce(max(pos + 24) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              CAST(-1 AS BIGINT))
            THEN 1 ELSE 0 END AS flag
        FROM f WHERE rn >= 2),
      grp AS (
        SELECT doc_id, pos,
          sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        FROM iv),
      spans AS (
        SELECT doc_id, min(pos) AS s, max(pos) + 24 AS e
        FROM grp GROUP BY doc_id, gid
        HAVING max(pos) + 24 - min(pos) + 1 >= 25),
      seg AS (
        SELECT doc_id,
          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS p,
          s - 1 AS q
        FROM spans
        UNION ALL
        SELECT doc_id, max(e) AS p, NULL AS q FROM spans GROUP BY doc_id),
      cleanedS AS (
        SELECT seg.doc_id,
          string_agg(substr(d.text, CAST(seg.p + 1 AS INT),
            CAST(coalesce(seg.q, length(d.text)) - seg.p AS INT)), ''
            ORDER BY seg.p) AS clean,
          (SELECT sum(e - s + 1) FROM spans sp
            WHERE sp.doc_id = seg.doc_id) AS removed
        FROM seg JOIN documents d ON seg.doc_id = d.doc_id
        GROUP BY seg.doc_id)
      SELECT doc_id, CAST(removed AS BIGINT) AS chars_removed,
        substring(md5(clean), 1, 8) AS clean_sig
      FROM cleanedS ORDER BY doc_id"""))
}
