package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{DatasetOps, Dedup, Multimodal, Similarity}
import graft.operators.Seam.Pins
import graft.sources.Tables

/** Corpus recipes, CDC, packing/chunking, cleaning pipeline queries (q75-q105 region) — one section of the [[LlmOps]] registry, split from the
  * single 3.8k-line file along its section comments (VERDICT r9 item
  * 4; no behavior change). The self-type gives every section
  * unqualified access to the shared helpers and to sibling sections'
  * materialized artifacts, exactly as when all sections shared one
  * object body. */
private[queries] trait LlmOpsCorpus { this: LlmOps.type =>

  // ---- q75: the corpus-cleaning recipe, end to end --------------------
  // The composition a real training-data build runs as one job:
  // language filter → token-count quality floor → exact dedup
  // (keep-first) → deterministic split → census. Each stage is an
  // already-oracled operator; this query gates that they COMPOSE —
  // one plan, narrow until the dedup window and the final census.

  private[queries] val q75 = GraftQuery(
    "q75_corpus_recipe",
    (s, d) => {
      val base = docs(s, d)
        .filter(col("lang") === "en" && tokenCount(col("text")) >= 20)
      val kept = Dedup.exactDedup(base, "text", "doc_id")
      DatasetOps.hashSplit(kept, "doc_id")
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("source"))
    },
    Some(s"""WITH base AS (
        SELECT doc_id, source, text FROM documents
        WHERE lang = 'en' AND len(list_filter(
          regexp_split_to_array(lower(text), '\\s+'),
          x -> length(x) > 0)) >= 20),
      kept AS (
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
            row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM base) WHERE rn = 1)
      SELECT CASE
          WHEN u < ${DatasetOps.thr(0.9)} THEN 'train'
          WHEN u < ${DatasetOps.thr(0.9 + 0.05)} THEN 'val'
          ELSE 'test' END AS split,
        source, count(*) AS n_docs
      FROM (SELECT source,
        CAST(concat('0x', substring(md5('split:'||doc_id),1,8)) AS BIGINT) AS u
        FROM kept)
      GROUP BY 1, 2 ORDER BY split, source"""))

  // ---- q84: temperature-rebalanced language mixing (α = 0.5) ----------
  // The low-resource upsampling step of a multilingual training mix:
  // language shares flatten from ∝n to ∝√n at constant corpus size,
  // per-doc replication decided by the integer part of target/n plus
  // an md5 draw for the remainder (DatasetOps.temperatureMix). The
  // oracle replays the whole computation — √ sums pinned through
  // DECIMAL, draws through the md5 convention — and the census gates
  // original count, target, and realized post-mix count per language.

  private[queries] val q84 = GraftQuery(
    "q84_temperature_mix",
    (s, d) => {
      val dd = docs(s, d)
      val mixed = DatasetOps.temperatureMix(dd, "lang", "doc_id")
      mixed.groupBy(col("lang"))
        .agg(min(col("mix_target")).cast(LongType).as("target"),
          count(lit(1)).as("n_after"))
        .join(dd.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")), Seq("lang"))
        .select(col("lang"), col("n_docs"), col("target"), col("n_after"))
        .orderBy(col("lang"))
    },
    Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      s AS (SELECT CAST(sum(n) AS DOUBLE) AS tot_n,
        CAST(sum(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(24,12))) AS DOUBLE) AS tot_w
        FROM c),
      t AS (SELECT lang, n,
        floor(tot_n * (sqrt(CAST(n AS DOUBLE)) / tot_w) + 0.5) AS tgt FROM c, s),
      d AS (SELECT doc.doc_id, doc.lang, t.n, t.tgt,
        tgt / CAST(n AS DOUBLE) AS ratio,
        CAST(concat('0x', substring(md5('mix:'||doc.doc_id),1,8)) AS BIGINT) AS u
        FROM documents doc JOIN t USING (lang)),
      k AS (SELECT lang, n, tgt,
        CAST(floor(ratio) AS BIGINT) +
          CASE WHEN u < CAST(floor((ratio - floor(ratio)) * 4294967296.0) AS BIGINT)
            THEN 1 ELSE 0 END AS copies
        FROM d)
      SELECT lang, CAST(min(n) AS BIGINT) AS n_docs,
        CAST(min(tgt) AS BIGINT) AS target,
        CAST(sum(copies) AS BIGINT) AS n_after
      FROM k GROUP BY lang
      HAVING sum(copies) > 0
      ORDER BY lang"""))
  // ^ HAVING matches the operator's semantics exactly: a stratum whose
  // every document draws zero copies has vanished from the MIXED
  // corpus, so its census row does not exist (possible only for
  // pathological strata far below the √n pivot; every fixture stratum
  // is far above it)

  // ---- q85: vocabulary coverage / OOV-rate census ----------------------
  // Tokenizer-coverage sweep: the top-50 corpus tokens (count desc,
  // token asc — a total order, so the vocab is deterministic) play the
  // vocabulary; each doc's out-of-vocabulary token fraction rolls up
  // to a per-language average. Per-doc fractions are IEEE-rounded to
  // 6dp, then averaged through the DECIMAL-sum rule so the cross-row
  // summation order cannot diverge between engines.

  private[queries] val q85 = GraftQuery(
    "q85_oov_census",
    (s, d) => {
      val toks = docs(s, d).select(col("doc_id"), col("lang"),
        explode(whitespaceTokens(col("text"))).as("_t"))
      val vocab = toks.groupBy(col("_t")).agg(count(lit(1)).as("_c"))
        .orderBy(col("_c").desc, col("_t")).limit(50)
        .select(col("_t"), lit(1).as("_in"))
      val perDoc = toks.join(broadcast(vocab), Seq("_t"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg((floor(
          sum(when(col("_in").isNull, 1).otherwise(0)).cast(DoubleType) /
            count(lit(1)).cast(DoubleType) * 1e6 + 0.5) / 1e6).as("_frac"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (floor(
            sum(col("_frac").cast(DecimalType(12, 6))).cast(DoubleType) /
              count(lit(1)).cast(DoubleType) * 1e6 + 0.5) / 1e6).as("avg_oov"))
        .orderBy(col("lang"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, lang,
          unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0)) AS t
        FROM documents),
      vocab AS (
        SELECT t FROM tok GROUP BY t
        ORDER BY count(*) DESC, t LIMIT 50),
      per_doc AS (
        SELECT doc_id, lang,
          floor(CAST(count(*) FILTER (WHERE t NOT IN (SELECT t FROM vocab))
              AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS frac
        FROM tok GROUP BY doc_id, lang)
      SELECT lang, count(*) AS n_docs,
        floor(CAST(sum(CAST(frac AS DECIMAL(12,6))) AS DOUBLE)
          / count(*) * 1e6 + 0.5) / 1e6 AS avg_oov
      FROM per_doc GROUP BY lang ORDER BY lang"""))

  // ---- q86: corpus snapshot diff (dataset versioning) ------------------
  // Two crawl epochs derived deterministically from the documents
  // table: epoch 1 lacks every doc_id ≡ 0 (mod 3); epoch 2 drops
  // doc_id ≡ 3 (mod 7) and rewrites the text of doc_id ≡ 0 (mod 5).
  // snapshotDiff classifies every id by digest comparison across a
  // full outer join; the census gates all four classes non-vacuously.

  private[queries] val q86 = GraftQuery(
    "q86_snapshot_diff",
    (s, d) => {
      val dd = docs(s, d).select(col("doc_id"), col("text"))
      val epoch1 = dd.filter(col("doc_id") % 3 =!= 0)
      val epoch2 = dd.filter(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      DatasetOps.snapshotDiff(epoch1, epoch2, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("status"))
    },
    Some("""WITH e1 AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
      e2 AS (
        SELECT doc_id,
          md5(CASE WHEN doc_id % 5 = 0 THEN text||' v2' ELSE text END) AS h
        FROM documents WHERE doc_id % 7 <> 3)
      SELECT CASE WHEN e1.h IS NULL THEN 'added'
          WHEN e2.h IS NULL THEN 'removed'
          WHEN e1.h = e2.h THEN 'retained'
          ELSE 'changed' END AS status,
        count(*) AS n_docs
      FROM e1 FULL OUTER JOIN e2 USING (doc_id)
      GROUP BY 1 ORDER BY status"""))

  // ---- q90: token heavy hitters (approximate frequent items) ----------
  // The sketch tier of vocabulary analysis: one distributed
  // Misra-Gries pass (`stat.freqItems`) over the exploded token
  // stream. Same self-gating pattern as the other sketches (q62/q70):
  // the sketch CANNOT be replayed by the oracle, but its one hard
  // guarantee — no false negatives above the support threshold — can
  // be: the query emits the EXACT top-5 tokens (deterministic,
  // replayable) plus a boolean asserting each is contained in the
  // sketch's candidate set, and the oracle expects literal `true`.
  // The exact top-5 all sit far above the 1% support on this corpus,
  // so containment is a theorem, not a flake.

  private[queries] val q90 = GraftQuery(
    "q90_heavy_hitters",
    (s, d) => {
      val toks = docs(s, d)
        .select(explode(whitespaceTokens(col("text"))).as("tok"))
      // freqItems is an aggregate-to-one-row stat API: the sketch's
      // candidate set (≤ 1/support entries by construction) comes back
      // as a single row and re-enters the plan as a literal — the same
      // tiny-aggregate-to-driver shape as an Observation read, not a
      // per-row collect
      val sketch: Seq[String] = toks.stat.freqItems(Seq("tok"), 0.01)
        .head().getSeq[String](0)
      toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(5)
        .select(col("tok"), col("n"),
          col("tok").isin(sketch: _*).as("in_sketch"))
        .orderBy(col("tok"))
    },
    Some("""WITH tok AS (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
          x -> length(x) > 0)) AS tok
        FROM documents),
      top5 AS (
        SELECT tok, count(*) AS n FROM tok GROUP BY tok
        ORDER BY n DESC, tok LIMIT 5)
      SELECT tok, n, true AS in_sketch FROM top5 ORDER BY tok"""))

  // ---- q91: changelog merge (CDC apply) --------------------------------
  // Upsert semantics without a table format: a deterministic changelog
  // over the documents snapshot — deletes (id ≡ 1 mod 4), updates
  // (id ≡ 0 mod 10: text gains a suffix), inserts (id ≡ 3 mod 4, the
  // ids the base snapshot lacks; the three op classes are disjoint by
  // construction). DatasetOps.applyChangelog merges in one full-outer
  // join; the census groups the merged snapshot by id lane so every
  // op's effect (rows gone, payloads rewritten, rows added) lands in
  // a hash-gated count + char-mass.

  private[queries] val q91 = GraftQuery(
    "q91_cdc_merge",
    (s, d) => {
      val dd = docs(s, d).select(col("doc_id"), col("text"))
      val base = dd.filter(col("doc_id") % 4 =!= 3)
      val changelog = dd.select(col("doc_id"),
        when(col("doc_id") % 4 === 1, "D")
          .when(col("doc_id") % 10 === 0, "U")
          .when(col("doc_id") % 4 === 3, "I").as("op"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text"))
        .filter(col("op").isNotNull)
      DatasetOps.applyChangelog(base, changelog, "doc_id", "text")
        .groupBy((col("doc_id") % 4).as("lane"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("chars"))
        .orderBy(col("lane"))
    },
    Some("""WITH merged AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0 THEN text||' updated' ELSE text END AS text
        FROM documents
        WHERE doc_id % 4 <> 1)
      SELECT doc_id % 4 AS lane, count(*) AS n_docs,
        CAST(sum(length(text)) AS BIGINT) AS chars
      FROM merged GROUP BY 1 ORDER BY lane"""))

  // ---- q168: corpus-curation recipe (this round's ops composed) -------
  // The composed curation read a training-data team actually runs,
  // interop at every stage boundary (the q75/q102/q141 recipe
  // pattern): classifier gate (score ≥ 0) ∩ surprisal cap (≤ 5000
  // milli-bits/token — drops the rare-token tail) → near-dup clusters
  // among the SURVIVORS resolved keep-best → per-source census of the
  // final corpus. Survivor pairs come from the materialized
  // full-corpus verdict table restricted by two semi-joins (pairwise
  // Jaccard is corpus-independent, so the restriction is exact). The
  // oracle replays all four stages in one SQL composition — drift at
  // any boundary flips the hash.

  private[queries] val q168: GraftQuery = GraftQuery(
    "q168_curation_recipe",
    (s, d) => {
      val dd = docs(s, d)
      val cls = DatasetOps.classifierScores(dd, "doc_id", "text",
        threshold = 0L).filter(col("keep")).select(col("doc_id"))
      val sur = DatasetOps.surprisalScores(dd, "doc_id", "text")
        .filter(col("milli_bits_per_token") <= 5000L).select(col("doc_id"))
      // keepIds feeds FOUR subtrees (the survivor filter, both pair
      // semi-joins, and keep-best's internal df duplication) — left
      // lazy, each consumer re-derives both full-corpus scorers and
      // the final plan balloons to ~80 exchanges of pure scheduler
      // tax (measured 23 s/pass at sf0.1; ~2 s with the cut). The
      // frame is id-sized at ANY corpus scale, so the eager
      // materialization is the cheap side of the trade everywhere.
      val keepIds = cls.join(sur, Seq("doc_id")).pin()
      val filtered = dd.join(keepIds, Seq("doc_id"), "left_semi")
      val pairs = docPairsMaterialized(s, d)
        .join(keepIds.withColumnRenamed("doc_id", "idA"),
          Seq("idA"), "left_semi")
        .join(keepIds.withColumnRenamed("doc_id", "idB"),
          Seq("idB"), "left_semi")
      val resolved = Dedup.keepBestPerCluster(filtered, "doc_id",
          "n_chars", pairs, checkpointPairs = false)
        .filter(col("kept")).select(col("doc_id"))
      filtered.join(resolved, Seq("doc_id"), "left_semi")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast(LongType)).as("n_tokens"))
        .orderBy(col("source"))
    },
    Some("""WITH RECURSIVE tk AS (
        SELECT doc_id, list_filter(
          regexp_split_to_array(lower(text), '\s+'),
          x -> length(x) > 0) AS tk
        FROM documents),
      feats AS (
        SELECT doc_id, unnest(list_concat(
          list_transform(tk, t -> 'clf:u:' || t),
          list_transform(generate_series(1, len(tk) - 1),
            i -> 'clf:b:' || tk[i] || ' ' || tk[i + 1]))) AS f
        FROM tk),
      bw AS (
        SELECT doc_id,
          CAST(concat('0x', substring(md5('w:clf:' ||
            (CAST(concat('0x', substring(md5(f), 1, 8)) AS BIGINT)
              % 262144)), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
        FROM feats),
      clf AS (SELECT doc_id, sum(w) AS s FROM bw GROUP BY doc_id),
      occ AS (SELECT doc_id, unnest(tk) AS t FROM tk),
      census AS (SELECT t, count(*) AS c FROM occ GROUP BY t),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM census),
      dt AS (SELECT doc_id, t, count(*) AS tf FROM occ GROUP BY doc_id, t),
      sq AS (SELECT doc_id, sum(tf) AS nt,
          sum(tf * (length(bin(tot.n)) - length(bin(census.c)))) AS bits
        FROM dt JOIN census USING (t), tot GROUP BY doc_id),
      surv AS (
        SELECT d.doc_id FROM documents d
        LEFT JOIN clf ON clf.doc_id = d.doc_id
        LEFT JOIN sq ON sq.doc_id = d.doc_id
        WHERE coalesce(clf.s, 0) >= 0
          AND (CASE WHEN coalesce(sq.nt, 0) = 0 THEN 0
            ELSE sq.bits * 1000 // sq.nt END) <= 5000),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(tk) >= 3
            THEN list_distinct(list_transform(
              generate_series(1, len(tk) - 2),
              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
            ELSE [] END AS sh
        FROM tk WHERE doc_id IN (SELECT doc_id FROM surv)),
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
        SELECT doc_id, doc_id FROM surv
        UNION
        SELECT s.id, r.lab FROM sym s JOIN reach r ON r.id = s.nbr),
      lab AS (SELECT id, min(lab) AS cluster_rep FROM reach GROUP BY id),
      best AS (SELECT l.cluster_rep,
          (list(d.doc_id ORDER BY d.n_chars DESC, d.doc_id))[1] AS best_id
        FROM lab l JOIN documents d ON d.doc_id = l.id
        GROUP BY l.cluster_rep)
      SELECT d.source, count(*) AS n_docs,
        CAST(sum(len(t.tk)) AS BIGINT) AS n_tokens
      FROM best b
      JOIN documents d ON d.doc_id = b.best_id
      JOIN tk t ON t.doc_id = b.best_id
      GROUP BY d.source ORDER BY d.source"""))

  // ---- q170: corpus data card ------------------------------------------
  // The one-row release profile every dataset ships with: doc/token/
  // char totals, language and source cardinalities, exact-dup count,
  // vocabulary size, English share in ppm and mean chars per doc
  // (integer div). Two narrow aggregates (row stats; exploded vocab
  // census) joined by a 1×1 broadcast — nothing here shuffles more
  // than census rows at any corpus size.

  private[queries] val q170: GraftQuery = GraftQuery(
    "q170_data_card",
    (s, d) => {
      val dd = docs(s, d)
      val stats = dd.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(tokenCount(col("text")).cast(LongType)), lit(0L))
          .as("n_tokens"),
        coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        (count(lit(1)) - count_distinct(col("text"))).as("n_dup_docs"),
        coalesce(sum(when(col("lang") === "en", 1L).otherwise(0L)),
          lit(0L)).as("_n_en"))
      val vocab = dd
        .select(explode(whitespaceTokens(col("text"))).as("_t"))
        .agg(count_distinct(col("_t")).as("n_vocab"))
      stats.crossJoin(broadcast(vocab))
        .select(col("n_docs"), col("n_tokens"), col("n_chars"),
          col("n_langs"), col("n_sources"), col("n_dup_docs"),
          col("n_vocab"),
          when(col("n_docs") === 0L, lit(0L))
            .otherwise(expr("(_n_en * 1000000L) div n_docs"))
            .as("en_ppm"),
          when(col("n_docs") === 0L, lit(0L))
            .otherwise(expr("n_chars div n_docs")).as("mean_chars"))
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\s+'),
        x -> length(x) > 0)) AS t FROM documents),
      v AS (SELECT count(DISTINCT t) AS n_vocab FROM toks),
      st AS (SELECT count(*) AS n_docs,
          coalesce(sum(len(list_filter(
            regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0))), 0) AS n_tokens,
          coalesce(sum(n_chars), 0) AS n_chars,
          count(DISTINCT lang) AS n_langs,
          count(DISTINCT source) AS n_sources,
          count(*) - count(DISTINCT text) AS n_dup_docs,
          coalesce(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS n_en
        FROM documents)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_chars AS BIGINT) AS n_chars,
        CAST(n_langs AS BIGINT) AS n_langs,
        CAST(n_sources AS BIGINT) AS n_sources,
        CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
        CAST(v.n_vocab AS BIGINT) AS n_vocab,
        CAST(CASE WHEN n_docs = 0 THEN 0
          ELSE (n_en * 1000000) // n_docs END AS BIGINT) AS en_ppm,
        CAST(CASE WHEN n_docs = 0 THEN 0
          ELSE n_chars // n_docs END AS BIGINT) AS mean_chars
      FROM st, v"""))

  // ---- q179: bigram conditional-LM surprisal --------------------------
  // The sharper perplexity proxy beside q157's unigram model: per-doc
  // conditional surprisal in exact bitlen arithmetic. The oracle
  // replays both censuses (bigram and context counts), the per-doc
  // fold and both integer divisions.

  private[queries] val q179: GraftQuery = GraftQuery(
    "q179_bigram_surprisal",
    (s, d) =>
      DatasetOps.bigramSurprisalScores(docs(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '\s+'),
        x -> length(x) > 0) AS tk FROM documents),
      bgr AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg, tk[i] AS cx
        FROM (SELECT doc_id, tk,
            unnest(generate_series(1, len(tk) - 1)) AS i
          FROM toks)),
      cb AS (SELECT bg, count(*) AS cb FROM bgr GROUP BY bg),
      cc AS (SELECT cx, count(*) AS cc FROM bgr GROUP BY cx),
      dbg AS (SELECT doc_id, bg, cx, count(*) AS tf
        FROM bgr GROUP BY doc_id, bg, cx),
      sc AS (SELECT doc_id, sum(tf) AS nb,
          sum(tf * (length(bin(cc.cc)) - length(bin(cb.cb)))) AS bits
        FROM dbg JOIN cb USING (bg) JOIN cc USING (cx)
        GROUP BY doc_id)
      SELECT d.doc_id, CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
        CAST(coalesce(s.bits, 0) AS BIGINT) AS surprisal_bits,
        CAST(CASE WHEN coalesce(s.nb, 0) = 0 THEN 0
          ELSE (s.bits * 1000) // s.nb END AS BIGINT)
          AS milli_bits_per_bigram
      FROM documents d LEFT JOIN sc s ON s.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  // ---- q185: histogram from pure SQL (the TVF path) -------------------
  // q181's operator over the documents length column, reached through
  // the injected histogram table function; the oracle replays the bin
  // formula directly (n_chars is already integral, so no fixed-point
  // conversion rides along here).

  private[queries] val q185: GraftQuery = GraftQuery(
    "q185_sql_histogram",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT bin, n_rows
        FROM histogram('documents', 'n_chars', 10, 50, 500)
        ORDER BY bin""")
    },
    Some("""WITH b AS (SELECT CASE WHEN n_chars < 50 THEN -1
          WHEN n_chars >= 500 THEN 10
          ELSE ((n_chars - 50) * 10) // (500 - 50) END AS bin
        FROM documents WHERE n_chars IS NOT NULL)
      SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_rows
      FROM b GROUP BY bin ORDER BY bin"""))

  // ---- q174: HTML/markup stripping ------------------------------------
  // The first transform of every web-crawl pipeline, exercised over
  // deterministically constructed markup (the q160 raster pattern —
  // the corpus is synthetic, so the query builds the HTML it strips):
  // each doc wrapped in head/style/script scaffolding with an
  // entity-escaped token planted mid-text. The oracle replays the
  // wrap AND the whole strip chain (script/style blocks, tag removal,
  // entity ordering with &amp; last, whitespace collapse) — the
  // regexes are RE2-compatible by construction, so both engines run
  // the identical automaton.

  private[queries] val q174: GraftQuery = GraftQuery(
    "q174_markup_strip",
    (s, d) => {
      val marked = docs(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(
            lit("<html><head><style type=\"text/css\">body{margin:0}" +
              "</style></head><body><p id=\""),
            col("doc_id").cast(StringType), lit("\">"),
            regexp_replace(col("text"), "table", "&amp;lt;table&gt;"),
            lit("</p><script src=\"x.js\">var i=0;</script> <br/>" +
              "</body></html>")).as("html"))
      marked
        .select(col("doc_id"), stripMarkup(col("html")).as("stripped"))
        .select(col("doc_id"),
          length(col("stripped")).cast(LongType).as("n_chars"),
          col("stripped"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH m AS (
        SELECT doc_id,
          '<html><head><style type="text/css">body{margin:0}</style></head><body><p id="'
            || CAST(doc_id AS VARCHAR) || '">'
            || regexp_replace(text, 'table', '&amp;lt;table&gt;', 'g')
            || '</p><script src="x.js">var i=0;</script> <br/></body></html>'
            AS html
        FROM documents WHERE doc_id < 100),
      s1 AS (SELECT doc_id, regexp_replace(html,
          '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM m),
      s2 AS (SELECT doc_id, regexp_replace(t,
          '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t,
          '(?s)<[^>]*>', ' ', 'g') AS t FROM s2),
      e AS (SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(t,
            '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
            '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&amp;', '&', 'g')
            AS t FROM s3),
      f AS (SELECT doc_id,
          trim(regexp_replace(t, '\s+', ' ', 'g')) AS stripped FROM e)
      SELECT doc_id, CAST(length(stripped) AS BIGINT) AS n_chars, stripped
      FROM f ORDER BY doc_id"""))

  // ---- q167: k-anonymity suppression ----------------------------------
  // Privacy.kAnonymize over the (lang, source) quasi pair at k=5 —
  // 55 of the sf0.01 groups fall below the threshold, so the
  // suppressed '*'/'*' bucket is well-populated. Output is the census
  // of the ANONYMIZED release; the oracle replays the group census,
  // the k test and the collapse.

  private[queries] val q167: GraftQuery = GraftQuery(
    "q167_k_anonymity",
    (s, d) =>
      graft.operators.Privacy.kAnonymize(docs(s, d),
          Seq("lang", "source"), k = 5)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("source")),
    Some("""WITH g AS (SELECT lang, source, count(*) AS n
        FROM documents GROUP BY 1, 2),
      a AS (SELECT
          CASE WHEN g.n < 5 THEN '*' ELSE d.lang END AS lang,
          CASE WHEN g.n < 5 THEN '*' ELSE d.source END AS source
        FROM documents d JOIN g USING (lang, source))
      SELECT lang, source, count(*) AS n_docs FROM a
      GROUP BY 1, 2 ORDER BY lang, source"""))

  // ---- q165: snapshot-as-of (changelog time travel) -------------------
  // The data-lake time-travel read over q91's CDC machinery: a
  // 3-version changelog (v1 updates the %10 lane, v2 deletes the %7
  // lane, v3 updates the %5 lane) read AS OF version 2 — v3 must be
  // invisible and the v2 delete must override a v1 update on ids
  // divisible by 70. The oracle is the as-of state computed directly.

  private[queries] val q165: GraftQuery = GraftQuery(
    "q165_snapshot_asof",
    (s, d) => {
      val dd = docs(s, d).select(col("doc_id"), col("text"))
      val chg = dd
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("version"), lit("U").as("op"),
          concat(col("text"), lit(" v1")).as("text"))
        .union(dd.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit(2L), lit("D"), col("text")))
        .union(dd.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lit(3L), lit("U"),
            concat(col("text"), lit(" v3"))))
      DatasetOps.applyChangelogAsOf(dd, chg, "doc_id", "text",
          "version", asOf = 2L)
        .groupBy((col("doc_id") % 5).as("lane"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("chars"))
        .orderBy(col("lane"))
    },
    Some("""WITH merged AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0 THEN text || ' v1' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0)
      SELECT doc_id % 5 AS lane, count(*) AS n_docs,
        CAST(sum(length(text)) AS BIGINT) AS chars
      FROM merged GROUP BY 1 ORDER BY lane"""))

  // ---- q97: line-level boilerplate dedup (RefinedWeb/CCNet) -----------
  // The remaining dedup granularity between document-level (q40–q44)
  // and n-gram-level (q65): lines recurring across documents are
  // template chrome and are cut from every doc, which is then
  // REASSEMBLED from its surviving lines in order — the emitted
  // cleaned text is what gates reassembly-order correctness. The
  // synthetic docs have no newlines, so "line" here is an 8-token
  // chunk — the decomposition is part of the query spec and the
  // oracle replays it exactly (the operator itself takes any
  // array<string> decomposition).

  /** Deterministic pseudo-lines for newline-free fixtures: consecutive
    * `w`-token chunks (last chunk may be short). `tk` MUST be a
    * projected attribute, not the tokenizer expression itself —
    * Catalyst does not CSE inside lambdas, so an inlined tokenizer
    * would re-split the whole text once per LINE (quadratic per doc;
    * measured 3.1s → 0.6s at sf0.1 from this alone). */
  private[queries] def chunkLines(tk: Column, w: Int): Column =
    graft.functions.TextFunctions.tokenChunks(tk, window = w, stride = w)

  private[queries] val q97 = GraftQuery(
    "q97_line_dedup",
    (s, d) =>
      Dedup.removeBoilerplateLines(
          docs(s, d).select(col("doc_id"),
            whitespaceTokens(col("text")).as("_tk")),
          "doc_id", chunkLines(col("_tk"), 8), minDocs = 2, sep = " ")
        .filter(col("n_removed") > 0)
        .select(col("doc_id"), col("n_lines"), col("n_removed"), col("cleaned"))
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
          x -> length(x) > 0) AS tk
        FROM documents),
      lp AS (
        SELECT doc_id, unnest(list_transform(
          generate_series(1, CAST(ceil(len(tk)/8.0) AS BIGINT)),
          i -> struct_pack(pos := i,
            line := array_to_string(tk[(i-1)*8+1 : i*8], ' ')))) AS u
        FROM toks),
      l AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lp),
      boiler AS (
        SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
      kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM boiler)),
      re AS (
        SELECT doc_id, count(*) AS n_kept,
          string_agg(line, ' ' ORDER BY pos) AS cleaned
        FROM kept GROUP BY doc_id),
      base AS (
        SELECT doc_id, CAST(ceil(len(tk)/8.0) AS BIGINT) AS n_lines FROM toks)
      SELECT b.doc_id, b.n_lines,
        b.n_lines - coalesce(r.n_kept, 0) AS n_removed,
        coalesce(r.cleaned, '') AS cleaned
      FROM base b LEFT JOIN re r USING (doc_id)
      WHERE b.n_lines - coalesce(r.n_kept, 0) > 0
      ORDER BY b.doc_id"""))

  // ---- q98: per-doc contamination scoring ------------------------------
  // The soft form of q65: a threshold policy consumes the FRACTION of
  // a doc's distinct 5-grams hitting the benchmark, not a boolean.
  // Same %97 bench/corpus split as q65; integer counts + exact double
  // division keep the score engine-portable.

  private[queries] val q98 = GraftQuery(
    "q98_contamination_score",
    (s, d) => {
      val dd = docs(s, d)
      DatasetOps.contaminationScores(
          dd.filter(col("doc_id") % 97 =!= 0),
          dd.filter(col("doc_id") % 97 === 0),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
          x -> length(x) > 0) AS tk
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(
          list_transform(generate_series(1, len(tk) - 4),
            i -> array_to_string(tk[i:i+4], ' ')))) AS gram
        FROM toks),
      bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      sc AS (
        SELECT g.doc_id, count(*) AS n_grams, count(b.gram) AS n_hit
        FROM g LEFT JOIN bg b ON g.gram = b.gram
        WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
      SELECT d.doc_id,
        coalesce(s.n_grams, 0) AS n_grams,
        coalesce(s.n_hit, 0) AS n_hit,
        CASE WHEN coalesce(s.n_grams, 0) > 0
          THEN round(CAST(s.n_hit AS DOUBLE) / s.n_grams, 6)
          ELSE 0.0 END AS contamination
      FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
      WHERE d.doc_id % 97 <> 0
      ORDER BY d.doc_id"""))

  // ---- q99: greedy sequence packing ------------------------------------
  // Corpus → fixed-length training sequences: md5-sharded, per-shard
  // ordered prefix sum assigns every doc a deterministic starting
  // offset; seqLen=256 so shards pack multiple docs per sequence at
  // this fixture's 8–110-token docs. The oracle replays shard deal,
  // order, and prefix sum bit-for-bit (all integer arithmetic).

  private[queries] val q99 = GraftQuery(
    "q99_sequence_packing",
    (s, d) =>
      DatasetOps.packSequences(docs(s, d), "doc_id",
          tokenCount(col("text")), seqLen = 256, nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          ceil(sum(col("n_tokens")) / lit(256.0)).cast(LongType).as("n_seqs"),
          countDistinct(col("bin")).as("n_start_bins"),
          max(col("offset")).as("max_offset"))
        .orderBy(col("shard")),
    Some("""WITH t AS (
        SELECT doc_id,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0)) AS n_tok,
          CAST(concat('0x', substring(md5('pack:'||doc_id), 1, 8)) AS BIGINT) AS u
        FROM documents),
      w AS (
        SELECT doc_id, u % 8 AS shard, n_tok,
          sum(n_tok) OVER (PARTITION BY u % 8 ORDER BY u, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
        FROM t)
      SELECT shard, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        CAST(ceil(sum(n_tok) / 256.0) AS BIGINT) AS n_seqs,
        count(DISTINCT off // 256) AS n_start_bins,
        CAST(max(off) AS BIGINT) AS max_offset
      FROM w GROUP BY shard ORDER BY shard"""))

  // ---- q348: packing-efficiency report (r14) -----------------------------
  // VERDICT r13 Missing #5: both packers existed, nothing reported the
  // waste either incurs — the number that decides which one a training
  // run uses. Concatenate-and-cut (q99's 256-token sequences) wastes
  // only each shard's final partial sequence but buys a cross-doc
  // attention seam per interior boundary; length-bucketing (16-row
  // batches, power-of-two buckets 16..2048) has zero seams but pads
  // every row to its bucket ceiling. One comparative row per packer:
  // unit count, padded capacity, filled mass, padding mass, fill ppm,
  // and total cross-doc boundaries. The oracle replays BOTH packers'
  // md5 deals, the prefix sums, the sequence cuts, the power-of-two
  // CASE ladder, the batch slicing, and every census sum.

  private[queries] val q348 = GraftQuery(
    "q348_packing_efficiency",
    (s, d) => {
      val dd = docs(s, d)
      val pe = DatasetOps.packingEfficiency(
        DatasetOps.packSequences(dd, "doc_id", tokenCount(col("text")),
          seqLen = 256, nShards = 8), seqLen = 256)
      val be = DatasetOps.bucketBatchEfficiency(
        DatasetOps.lengthBucketBatches(dd, "doc_id",
          tokenCount(col("text")), batchSize = 16))
      val a = pe.agg(count(lit(1)).as("n_units"),
          sum(col("fill")).as("fill"),
          sum(col("n_boundaries")).as("n_boundaries"))
        .select(lit("concat_cut").as("packer"), col("n_units"),
          (col("n_units") * 256L).as("capacity"), col("fill"),
          (col("n_units") * 256L - col("fill")).as("padding"),
          expr("fill * 1000000L div (n_units * 256L)").as("fill_ppm"),
          col("n_boundaries"))
      val b = be.agg(count(lit(1)).as("n_units"),
          sum(col("capacity")).as("capacity"), sum(col("fill")).as("fill"))
        .select(lit("length_bucket").as("packer"), col("n_units"),
          col("capacity"), col("fill"),
          (col("capacity") - col("fill")).as("padding"),
          expr("fill * 1000000L div capacity").as("fill_ppm"),
          lit(0L).as("n_boundaries"))
      a.unionByName(b).orderBy(col("packer"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0)) AS n_tok
        FROM documents),
      w AS (
        SELECT doc_id, u % 8 AS shard, n_tok,
          sum(n_tok) OVER (PARTITION BY u % 8 ORDER BY u, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
        FROM (SELECT doc_id, n_tok,
          CAST(concat('0x', substring(md5('pack:'||doc_id), 1, 8))
            AS BIGINT) AS u FROM t)),
      pieces AS (SELECT shard, seq,
          least(off + n_tok, (seq + 1) * 256)
            - greatest(off, seq * 256) AS piece,
          1 AS d
        FROM (SELECT shard, off, n_tok,
            unnest(generate_series(CAST(off // 256 AS BIGINT),
              CAST((off + n_tok - 1) // 256 AS BIGINT))) AS seq
          FROM w WHERE n_tok > 0)),
      ps AS (SELECT shard, seq, count(*) AS n_docs, sum(piece) AS fill
        FROM pieces GROUP BY shard, seq),
      pa AS (SELECT count(*) AS n_units, sum(fill) AS fill,
          sum(n_docs - 1) AS nb FROM ps),
      b0 AS (SELECT doc_id, n_tok, u % 8 AS shard, u,
          CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
            WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
            WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
            WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END AS bucket
        FROM (SELECT doc_id, n_tok,
          CAST(concat('0x', substring(md5('batch:'||doc_id), 1, 8))
            AS BIGINT) AS u FROM t)),
      br AS (SELECT bucket, shard,
          (row_number() OVER (PARTITION BY bucket, shard
            ORDER BY u, doc_id) - 1) // 16 AS batch_idx, n_tok
        FROM b0),
      bb AS (SELECT bucket, shard, batch_idx, count(*) AS n_rows,
          sum(n_tok) AS fill FROM br GROUP BY bucket, shard, batch_idx),
      ba AS (SELECT count(*) AS n_units, sum(bucket * n_rows) AS capacity,
          sum(fill) AS fill FROM bb)
      SELECT * FROM (
        SELECT 'concat_cut' AS packer, CAST(n_units AS BIGINT) AS n_units,
          CAST(n_units * 256 AS BIGINT) AS capacity,
          CAST(fill AS BIGINT) AS fill,
          CAST(n_units * 256 - fill AS BIGINT) AS padding,
          CAST(fill * 1000000 // (n_units * 256) AS BIGINT) AS fill_ppm,
          CAST(nb AS BIGINT) AS n_boundaries
        FROM pa
        UNION ALL
        SELECT 'length_bucket', CAST(n_units AS BIGINT),
          CAST(capacity AS BIGINT), CAST(fill AS BIGINT),
          CAST(capacity - fill AS BIGINT),
          CAST(fill * 1000000 // capacity AS BIGINT), CAST(0 AS BIGINT)
        FROM ba)
      ORDER BY packer"""))

  // ---- q358: persisted shard manifest + verifiable export (r15) ----------
  // VERDICT r14 #7: q337's per-boundary membership checksums made
  // DURABLE — per q99-shard doc count, token mass, and Σ md5-u32
  // membership checksum, persisted (shards + totals sidecar) and read
  // back through the loud-refusal reader, so the query gates the
  // whole write → sidecar-check → read round trip. A second export of
  // the same corpus reproduces the artifact byte-identically and
  // checkPackManifest re-verifies it (both spec-pinned); the oracle
  // replays the md5 shard deal, the token census, and every checksum.

  private[queries] val pmDirByInput = new graft.sources.JvmMemo[String]
  private[queries] val q358 = GraftQuery(
    "q358_pack_manifest",
    (s, d) => {
      val dir = pmDirByInput.getOrElseCompute(d) {
        val out = java.nio.file.Files
          .createTempDirectory("graft_packmanifest_").toString
        DatasetOps.writePackManifest(
          DatasetOps.packSequences(docs(s, d), "doc_id",
            tokenCount(col("text")), seqLen = 256, nShards = 8),
          "doc_id", out)
        out
      }
      DatasetOps.readPackManifest(s, dir).orderBy(col("shard"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0)) AS n_tok,
          CAST(concat('0x', substring(md5('pack:'||doc_id), 1, 8))
            AS BIGINT) AS u,
          CAST(concat('0x', substring(md5('manifest:'||doc_id), 1, 8))
            AS BIGINT) AS h
        FROM documents)
      SELECT u % 8 AS shard, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS token_mass,
        CAST(sum(h) AS BIGINT) AS checksum
      FROM t GROUP BY shard ORDER BY shard"""))

  // ---- q100: sliding-window chunking -----------------------------------
  // Long-doc training prep: overlapping 32-token windows every 24
  // tokens; the emitted chunk TEXT (not just counts) gates the
  // window/stride arithmetic and the clip at doc end.

  private[queries] val q100 = GraftQuery(
    "q100_doc_chunking",
    (s, d) =>
      DatasetOps.chunkDocs(
          docs(s, d).select(col("doc_id"),
            whitespaceTokens(col("text")).as("_tk")),
          "doc_id", col("_tk"), window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
          x -> length(x) > 0) AS tk
        FROM documents),
      n AS (
        SELECT doc_id, tk, len(tk) AS n,
          CASE WHEN len(tk) <= 32 THEN 1
               ELSE (len(tk) - 32 + 24 - 1) // 24 + 1 END AS nchunks
        FROM toks WHERE len(tk) > 0),
      c AS (
        SELECT doc_id, unnest(list_transform(
          generate_series(0, nchunks - 1),
          i -> struct_pack(idx := i,
            txt := array_to_string(tk[i*24+1 : i*24+32], ' ')))) AS u
        FROM n)
      SELECT doc_id, CAST(u.idx AS BIGINT) AS chunk_idx,
        u.txt AS chunk_text,
        CAST(len(string_split(u.txt, ' ')) AS BIGINT) AS n_chunk_tokens
      FROM c ORDER BY doc_id, chunk_idx"""))

  // ---- q101: TF-IDF top terms per source -------------------------------
  // The classic corpus analytic, shaped so the whole plan is
  // integer-deterministic: the score is tf·10⁶ DIV df (integer
  // division — no float logs, so any engine replays it), and the
  // per-source top-5 is written as the row_number()<=k idiom so
  // WindowTopKRewrite plans the bounded heap (PlanSpec pins it): a
  // brand-new analytic gets the heap plan for free, which is the
  // point of having the rewrite.

  private[queries] val q101 = GraftQuery(
    "q101_tfidf_terms",
    (s, d) => {
      val dd = docs(s, d)
        .select(col("doc_id"), col("source"),
          whitespaceTokens(col("text")).as("_tk"))
      val tf = dd.select(col("source"), explode(col("_tk")).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df_ = dd.select(col("doc_id"),
          explode(array_distinct(col("_tk"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df_, Seq("token"))
        .withColumn("score", expr("tf * 1000000L div df"))
      // plain DSL window idiom (no session-state temp view) — the
      // rewrite fires on the logical Window node either way, and q92/
      // q94/q95 already pin the SQL-text route; the rank filter sits
      // directly on the un-cast window column so the rule matches
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("score").desc, col("token"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("source"), col("token"), col("tf"), col("df"),
          col("score"), col("rnk").cast(LongType).as("rnk"))
        .orderBy(col("source"), col("rnk"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, source,
          list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0) AS tk
        FROM documents),
      tf AS (
        SELECT source, unnest(tk) AS token FROM toks),
      tfc AS (
        SELECT source, token, count(*) AS tf FROM tf GROUP BY source, token),
      dfc AS (
        SELECT token, count(*) AS df FROM (
          SELECT doc_id, unnest(list_distinct(tk)) AS token FROM toks)
        GROUP BY token),
      scored AS (
        SELECT s.source, s.token, s.tf, d.df, (s.tf * 1000000) // d.df AS score
        FROM tfc s JOIN dfc d USING (token)),
      ranked AS (
        SELECT source, token, tf, df, score,
          row_number() OVER (PARTITION BY source
            ORDER BY score DESC, token) AS rnk
        FROM scored)
      SELECT source, token, CAST(tf AS BIGINT) AS tf,
        CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score, rnk
      FROM ranked WHERE rnk <= 5 ORDER BY source, rnk"""))

  // ---- q102: the training-prep recipe, end to end ----------------------
  // The q75 pattern one layer up: the NEW operators composed as a real
  // dataset build runs them — line-level boilerplate dedup (cleaned
  // text flows downstream) → token-count quality floor → contamination
  // gate vs the %97 benchmark → deterministic split → per-split
  // sequence packing census. One plan; every stage is an
  // already-oracled operator, this row gates that they COMPOSE.

  /** The line-dedup'd corpus — q102's stage-1 product — materialized
    * once per (session, sfDir), exactly like the q53 pair verdicts:
    * the recipe's three downstream consumers (gram scoring, the
    * keep-set join, the packing census) would otherwise each replay
    * the full boilerplate-removal plan. This mirrors what a real
    * training-data build does at 100 TB — the cleaned corpus is
    * WRITTEN once (it is itself a product) and every later stage
    * reads the columnar output. The bench's `first_run` carries the
    * one-time write, like q30's corrupted-table build. */
  private[queries] val cleanedDirByInput = new graft.sources.JvmMemo[String]
  private[queries] def cleanedDocsMaterialized(s: SparkSession, d: String): DataFrame =
    s.read.parquet(
      materializedTempDir(cleanedDirByInput, d, "graft_cleaned_") { out =>
        val base = docs(s, d).select(col("doc_id"),
          whitespaceTokens(col("text")).as("_tk"))
        Dedup.removeBoilerplateLines(
            base, "doc_id", chunkLines(col("_tk"), 8), minDocs = 2, sep = " ")
          .select(col("doc_id"), col("cleaned"))
          .write.mode("overwrite").parquet(out)
      })

  private[queries] val q102 = GraftQuery(
    "q102_trainprep_recipe",
    (s, d) => {
      val cleaned = cleanedDocsMaterialized(s, d)
        .select(col("doc_id"), col("cleaned"),
          whitespaceTokens(col("cleaned")).as("_ctk"))
        .filter(size(col("_ctk")) >= 8)
      val scores = DatasetOps.contaminationScores(
        cleaned.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), col("cleaned").as("text")),
        docs(s, d).filter(col("doc_id") % 97 === 0),
        "doc_id", "text")
      val keep = cleaned.join(
          scores.filter(col("contamination") < 0.25).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      // packSequences preserves input columns, so the split label rides
      // along — re-joining it would replay the whole cleaning plan
      val split = DatasetOps.hashSplit(keep, "doc_id")
        .select(col("doc_id"), col("split"),
          size(col("_ctk")).cast(LongType).as("_nt"))
      DatasetOps.packSequences(split, "doc_id", col("_nt"),
          seqLen = 256, nShards = 4)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("shard"), col("bin")).as("n_start_bins"))
        .orderBy(col("split"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
          x -> length(x) > 0) AS tk
        FROM documents),
      lp AS (
        SELECT doc_id, unnest(list_transform(
          generate_series(1, CAST(ceil(len(tk)/8.0) AS BIGINT)),
          i -> struct_pack(pos := i,
            line := array_to_string(tk[(i-1)*8+1 : i*8], ' ')))) AS u
        FROM toks),
      l AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lp),
      boiler AS (
        SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
      re AS (
        SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS cleaned
        FROM l WHERE line NOT IN (SELECT line FROM boiler)
        GROUP BY doc_id),
      cl AS (
        SELECT doc_id, cleaned,
          list_filter(regexp_split_to_array(lower(cleaned), '\\s+'),
            x -> length(x) > 0) AS ctk
        FROM re
        WHERE len(list_filter(regexp_split_to_array(lower(cleaned), '\\s+'),
          x -> length(x) > 0)) >= 8),
      cg AS (
        SELECT doc_id, unnest(list_distinct(
          list_transform(generate_series(1, len(ctk) - 4),
            i -> array_to_string(ctk[i:i+4], ' ')))) AS gram
        FROM cl WHERE doc_id % 97 <> 0),
      bg AS (
        SELECT DISTINCT unnest(list_distinct(
          list_transform(generate_series(1, len(tk) - 4),
            i -> array_to_string(tk[i:i+4], ' ')))) AS gram
        FROM toks WHERE doc_id % 97 = 0),
      sc AS (
        SELECT cg.doc_id, count(*) AS n_grams, count(b.gram) AS n_hit
        FROM cg LEFT JOIN bg b ON cg.gram = b.gram GROUP BY cg.doc_id),
      keep AS (
        SELECT cl.doc_id, len(cl.ctk) AS n_tok
        FROM cl JOIN sc ON cl.doc_id = sc.doc_id
        WHERE cl.doc_id % 97 <> 0
          AND (CASE WHEN sc.n_grams > 0
            THEN round(CAST(sc.n_hit AS DOUBLE) / sc.n_grams, 6)
            ELSE 0.0 END) < 0.25),
      sp AS (
        SELECT doc_id, n_tok,
          CAST(concat('0x', substring(md5('split:'||doc_id), 1, 8)) AS BIGINT)
            AS su,
          CAST(concat('0x', substring(md5('pack:'||doc_id), 1, 8)) AS BIGINT)
            AS pu
        FROM keep),
      lab AS (
        SELECT doc_id, n_tok, pu,
          CASE WHEN su < ${DatasetOps.thr(0.9)} THEN 'train'
               WHEN su < ${DatasetOps.thr(0.95)} THEN 'val'
               ELSE 'test' END AS split
        FROM sp),
      packed AS (
        SELECT doc_id, n_tok, split, pu % 4 AS shard,
          sum(n_tok) OVER (PARTITION BY pu % 4 ORDER BY pu, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
        FROM lab)
      SELECT split, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        count(DISTINCT (shard, off // 256))
          AS n_start_bins
      FROM packed GROUP BY split ORDER BY split"""))

  // ---- q103: ingest-time decontamination census -------------------------
  // The batch twin of DocIngest.ingestDecontaminated (the streaming
  // gate StreamingSpec proves streamed-equals-batch): incoming docs →
  // quality floor → digest dedup → benchmark-gram gate. A GLOBAL
  // census, deliberately not per-source: sf0.1 has 8 duplicate texts
  // spanning sources, so per-source counts after keep-one dedup would
  // depend on which survivor dropDuplicates picked — distinct-hash
  // counts are survivor-independent.

  private[queries] val q103 = GraftQuery(
    "q103_ingest_decontam",
    (s, d) => {
      val dd = docs(s, d)
      val hashes = graft.streaming.DocIngest.benchGramHashes(
        dd.filter(col("doc_id") % 97 === 0), "text")
      val incoming = dd.filter(col("doc_id") % 97 =!= 0)
      val landed = graft.streaming.DocIngest
        .ingestDecontaminated(incoming, hashes)
      incoming
        .withColumn("_tks", whitespaceTokens(col("text")))
        .agg(count(lit(1)).as("n_incoming"),
          countDistinct(when(size(col("_tks")) >= 3, md5(col("text"))))
            .as("n_quality_distinct"))
        .crossJoin(broadcast(landed.agg(count(lit(1)).as("n_landed"))))
        .withColumn("n_blocked", col("n_quality_distinct") - col("n_landed"))
        .select(col("n_incoming"), col("n_quality_distinct"),
          col("n_blocked"), col("n_landed"))
    },
    Some("""WITH inc AS (
        SELECT doc_id, text, md5(text) AS h,
          list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0) AS tk
        FROM documents WHERE doc_id % 97 <> 0),
      g AS (
        SELECT h, unnest(list_distinct(
          list_transform(generate_series(1, len(tk) - 4),
            i -> array_to_string(tk[i:i+4], ' ')))) AS gram
        FROM inc),
      bg AS (
        SELECT DISTINCT unnest(list_distinct(
          list_transform(generate_series(1, len(tk) - 4),
            i -> array_to_string(tk[i:i+4], ' ')))) AS gram
        FROM (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0) AS tk
          FROM documents WHERE doc_id % 97 = 0)),
      cont AS (SELECT DISTINCT g.h FROM g JOIN bg ON g.gram = bg.gram),
      q AS (SELECT DISTINCT h FROM inc WHERE len(tk) >= 3)
      SELECT (SELECT count(*) FROM inc) AS n_incoming,
        (SELECT count(*) FROM q) AS n_quality_distinct,
        (SELECT count(*) FROM q WHERE h IN (SELECT h FROM cont))
          AS n_blocked,
        (SELECT count(*) FROM q WHERE h NOT IN (SELECT h FROM cont))
          AS n_landed"""))

  // ---- q104/q105: the SQL (table-function) surface for the r6 ops ------
  // The q92/q93 pattern: the operators reached entirely through SQL
  // text must hash-match the same DuckDB oracles as their DataFrame
  // twins (q97/q99) — the TVF layer adds a parser/analyzer path, not
  // new semantics.

  private[queries] val q104 = GraftQuery(
    "q104_sql_line_dedup",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT doc_id, n_lines, n_removed, cleaned
        FROM line_dedup('documents', 'doc_id', 'text', 2, 8)
        WHERE n_removed > 0 ORDER BY doc_id""")
    },
    q97.oracle)

  private[queries] val q105 = GraftQuery(
    "q105_sql_pack",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT CAST(shard AS BIGINT) AS shard,
          count(*) AS n_docs,
          sum(n_tokens) AS n_tokens,
          CAST(ceil(sum(n_tokens) / 256.0) AS BIGINT) AS n_seqs,
          count(DISTINCT bin) AS n_start_bins,
          max(offset) AS max_offset
        FROM pack_sequences('documents', 'doc_id', 'text', 256, 8)
        GROUP BY shard ORDER BY shard""")
    },
    q99.oracle)

  // ---- q241: mojibake repair census -----------------------------------
  // The repair companion to q239's detection census: fixMojibake's
  // replace chain (generated from the JDK CP1252 tables,
  // TextFunctions.mojibakePairs) undoes UTF-8-read-as-Windows-1252
  // damage. The synthetic corpus is clean ASCII, so the round-trip is
  // exercised on PLANTED damage: each doc gets a deterministic
  // 8-char accented string (md5-indexed into the repairable-char
  // alphabet — the q234 planted-fixture pattern), corrupted per-char
  // through the INVERSE map, then repaired. The oracle rebuilds the
  // plant, the corruption and the ENTIRE repair chain (same pairs,
  // same order, literals generated from the same Seq), so a drift in
  // any of the ~100 pairs, the chain order, or the replace semantics
  // flips the row hash. Census per source: docs, clean vs mojibake
  // char mass (the inflation a storage planner sees), and the
  // round-trip-exact count — n_docs when the chain is right (planted
  // chars are separator-delimited, the real-text shape; PACKED
  // adjacent mojibake can interfere under a greedy chain, which is
  // why the plant mirrors text, not a worst-case byte soup).

  private def sqlQuote(c: String): String = c.replace("'", "''")

  /** The q241/q246 planted-damage frame: per doc a deterministic
    * 8-char accented string (md5-indexed into the repairable
    * alphabet), clean and CP1252-corrupted spellings side by side —
    * space-joined because adjacent mojibake sequences can interfere
    * under a greedy replace chain (repairing one char can expose a
    * substring an earlier pair matches); the separator mirrors real
    * text, where mojibake sits inside otherwise-intact words. */
  private def mojibakePlant(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.functions.TextFunctions.mojibakePairs
    val alph = pairs.map(_._2)
    val alphLit = typedLit(alph)
    val mojiByFixed = typedLit(pairs.map { case (m, t) => t -> m }.toMap)
    docs(s, d)
      .select(col("doc_id"), col("source"),
        transform(sequence(lit(0), lit(7)), i =>
          element_at(alphLit,
            (conv(substring(md5(concat(lit("moji:"),
              col("doc_id").cast(StringType), lit(":"),
              i.cast(StringType))), 1, 8), 16, 10)
              .cast(LongType) % alph.size).cast(IntegerType) + 1)).as("ca"))
      .select(col("doc_id"), col("source"),
        array_join(col("ca"), " ").as("clean"),
        array_join(transform(col("ca"),
          c => element_at(mojiByFixed, c)), " ").as("corrupted"))
  }

  private[queries] val q241: GraftQuery = {
    val pairs = graft.functions.TextFunctions.mojibakePairs
    val alph = pairs.map(_._2)
    val n = alph.size
    val alphSql = alph.map(c => s"'${sqlQuote(c)}'").mkString("[", ", ", "]")
    val mojiSql = pairs.map { case (m, _) => s"'${sqlQuote(m)}'" }
      .mkString("[", ", ", "]")
    val chainSql = pairs.foldLeft("corrupted") { case (e, (m, t)) =>
      s"replace($e, '${sqlQuote(m)}', '${sqlQuote(t)}')"
    }
    GraftQuery(
      "q241_mojibake_repair",
      (s, d) => {
        mojibakePlant(s, d)
          .withColumn("repaired", fixMojibake(col("corrupted")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("clean"))).cast(LongType).as("clean_chars"),
            sum(length(col("corrupted"))).cast(LongType).as("moji_chars"),
            sum(when(col("repaired") === col("clean"), 1L).otherwise(0L))
              .cast(LongType).as("round_trip_ok"))
          .orderBy(col("source"))
      },
      Some(s"""WITH planted AS (
          SELECT doc_id, source, a, mj,
            list_transform(generate_series(0, 7), i ->
              a[CAST(CAST(concat('0x', substr(md5(
                'moji:' || CAST(doc_id AS VARCHAR) || ':' ||
                CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % $n AS INT) + 1])
              AS ca
          FROM documents
          CROSS JOIN (SELECT $alphSql AS a, $mojiSql AS mj)),
        built AS (
          SELECT doc_id, source,
            array_to_string(ca, ' ') AS clean,
            array_to_string(list_transform(ca,
              c -> mj[list_position(a, c)]), ' ') AS corrupted
          FROM planted)
        SELECT source, count(*) AS n_docs,
          CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
          CAST(sum(length(corrupted)) AS BIGINT) AS moji_chars,
          CAST(sum(CASE WHEN $chainSql = clean THEN 1 ELSE 0 END)
            AS BIGINT) AS round_trip_ok
        FROM built GROUP BY source ORDER BY source"""))
  }

  // ---- q242: dictionary tagging ---------------------------------------
  // Lexicon tagging the RELATIONAL way: explode tokens (and 2-gram
  // shingles for phrases) and broadcast-hash-join the dictionary,
  // instead of a regex alternation that grows linearly in pattern
  // size per char scanned. At 100 TB the docs side never shuffles —
  // the dictionary (KBs to low MBs: topic lexicons, blocklists, PII
  // term lists) broadcasts, the join is map-side, and the per-doc
  // rollup is the only exchange. The phrase path rides the same
  // machinery through wordShingles — no automaton needed for
  // word-boundary dictionaries. Census per (tag, source): tagged-doc
  // and hit counts.

  private[queries] val q242: GraftQuery = {
    val termDict = Seq(
      "scan" -> "exec", "filter" -> "exec", "sort" -> "exec",
      "merge" -> "exec", "join" -> "exec",
      "table" -> "storage", "row" -> "storage", "column" -> "storage",
      "part" -> "storage",
      "stream" -> "streaming", "window" -> "streaming", "batch" -> "streaming",
      "slow" -> "perf", "fast" -> "perf")
    val phraseDict = Seq(
      "hash join" -> "exec", "merge join" -> "exec", "sort merge" -> "exec",
      "big table" -> "storage", "fast scan" -> "perf")
    def valuesSql(dd: Seq[(String, String)]) =
      dd.map { case (t, g) => s"('$t', '$g')" }.mkString(", ")
    GraftQuery(
      "q242_dict_tagging",
      (s, d) => {
        val uni = s.createDataFrame(termDict).toDF("term", "tag")
        val bi = s.createDataFrame(phraseDict).toDF("term", "tag")
        val toks = docs(s, d).select(col("doc_id"), col("source"),
          whitespaceTokens(col("text")).as("t"))
        val uniHits = toks.select(col("doc_id"), col("source"),
          explode(col("t")).as("term")).join(broadcast(uni), "term")
        val biHits = toks.select(col("doc_id"), col("source"),
          explode(wordShingles(col("t"), 2)).as("term"))
          .join(broadcast(bi), "term")
        uniHits.unionByName(biHits)
          .groupBy(col("tag"), col("source"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_hits"))
          .orderBy(col("tag"), col("source"))
      },
      Some(s"""WITH dict(term, tag) AS (VALUES ${valuesSql(termDict)}),
        pdict(term, tag) AS (VALUES ${valuesSql(phraseDict)}),
        toks AS (SELECT doc_id, source,
            list_filter(regexp_split_to_array(lower(text), '\\s+'),
              x -> length(x) > 0) AS t
          FROM documents),
        uni AS (SELECT doc_id, source, unnest(t) AS term FROM toks),
        bi AS (SELECT doc_id, source, unnest(CASE WHEN len(t) >= 2 THEN
            list_transform(generate_series(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1]) ELSE [] END) AS term FROM toks),
        hits AS (
          SELECT u.doc_id, u.source, d.tag
          FROM uni u JOIN dict d ON d.term = u.term
          UNION ALL
          SELECT b.doc_id, b.source, p.tag
          FROM bi b JOIN pdict p ON p.term = b.term)
        SELECT tag, source, count(DISTINCT doc_id) AS n_docs,
          count(*) AS n_hits
        FROM hits GROUP BY tag, source ORDER BY tag, source"""))
  }

  // ---- q244: Bloom-filter decontamination gate -------------------------
  // The 100 TB decontamination shape: instead of JOINING every corpus
  // shingle against a benchmark table (q98's exact tier — a shuffle
  // of the whole corpus's n-gram stream), the benchmark's 8-gram set
  // is folded into a Bloom BITMAP (m = 2^18 bits here, 32 KB; a few
  // hundred MB at real benchmark scale) that ships inside the plan as
  // one array literal — the probe is a codegen'd per-row bit test,
  // zero shuffle, zero join. k = 3 md5-derived hash positions per
  // shingle; a shingle "hits" iff all three bits are set, so hits ⊇
  // true overlaps with a deterministic, replayable false-positive set
  // (~1e-6 at this fill ratio). The oracle rebuilds the position set
  // and replays membership semantics exactly — FPs included — so the
  // hash arithmetic, the bitmap fold and the probe are all gated.
  // "Benchmark" here: the deterministic doc_id % 97 slice, the
  // planted-contamination convention.

  private[queries] val q244: GraftQuery = {
    val m = 1 << 18
    val nHash = 3
    GraftQuery(
      "q244_bloom_decontamination",
      (s, d) => {
        // token array PROJECTED before the shingle HOF (the lambda-CSE
        // rule — the inlined composition re-split the text once per
        // shingle; the honest collect() consumer priced it at 5.5 s,
        // projected: ~2 s)
        val toks = docs(s, d)
          .select(col("doc_id"), col("source"),
            whitespaceTokens(col("text")).as("_tk"))
          .select(col("doc_id"), col("source"),
            wordShingles(col("_tk"), 8).as("gs"))
        // build: ≤ m/64 bitmap words from the benchmark slice — a
        // bounded driver pickup (4096 rows max), the index-build tier
        val bits = DatasetOps.bloomBitmap(
          toks.filter(col("doc_id") % 97 === 0)
            .select(explode(col("gs")).as("g")), "g", m, nHash)
        // probe: the bitmap is ONE array literal in the plan — no
        // join, no broadcast exchange, whole-stage codegen throughout
        toks.withColumn("bits", typedLit(bits.toSeq))
          .withColumn("n_hits",
            DatasetOps.bloomHitCount("gs", "bits", m, nHash))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("gs"))).cast(LongType).as("n_shingles"),
            sum(col("n_hits")).cast(LongType).as("n_bloom_hits"),
            sum(when(col("n_hits") > 0, 1L).otherwise(0L)).cast(LongType)
              .as("flagged_docs"))
          .orderBy(col("source"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, source,
            list_filter(regexp_split_to_array(lower(text), '\\s+'),
              x -> length(x) > 0) AS t
          FROM documents),
        sh AS (SELECT doc_id, source,
            CASE WHEN len(t) >= 8 THEN
              list_transform(generate_series(1, len(t) - 7),
                i -> array_to_string(list_slice(t, i, i + 7), ' '))
            ELSE [] END AS gs
          FROM toks),
        bpos AS (SELECT DISTINCT
            (CAST(concat('0x', substr(md5(
              'bf:' || CAST(h AS VARCHAR) || ':' || g), 1, 8)) AS BIGINT)
              % $m) AS p
          FROM (SELECT unnest(gs) AS g FROM sh WHERE doc_id % 97 = 0)
          CROSS JOIN generate_series(0, ${nHash - 1}) hs(h)),
        bl AS (SELECT list(p ORDER BY p) AS pl FROM bpos),
        dh AS (SELECT doc_id, source, len(gs) AS n_sh,
            len(list_filter(gs, g ->
              ${(0 until nHash).map(h =>
                s"list_contains(pl, CAST(concat('0x', substr(md5('bf:$h:' || g), 1, 8)) AS BIGINT) % $m)")
                .mkString(" AND ")})) AS n_hits
          FROM sh CROSS JOIN bl)
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_sh) AS BIGINT) AS n_shingles,
          CAST(sum(n_hits) AS BIGINT) AS n_bloom_hits,
          CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS flagged_docs
        FROM dh GROUP BY source ORDER BY source"""))
  }

  // ---- q245: PII detection + redaction census --------------------------
  // The pre-training hygiene pass (C4/RefinedWeb lineage): email /
  // phone / 16-digit card / IPv4 patterns (TextFunctions.piiPatterns,
  // the RE2-safe subset shared VERBATIM with the oracle) detected
  // with regexp_extract_all and scrubbed with an ordered
  // regexp_replace chain — one narrow codegen'd scan, no shuffle
  // beyond the census rollup. Card-SHAPED digit runs are classified
  // by the Luhn checksum (exact integer fold), so the census reports
  // detected vs actually-valid separately — the precision knob a real
  // scrub policy needs. The synthetic corpus is PII-free, so each doc
  // gets a deterministic planted contact blob (md5-digit card/phone/
  // IP + a doc_id email — the q241 planting pattern); the oracle
  // rebuilds the plant, every pattern count, the Luhn verdicts and
  // the full redaction chain, so a drift in any pattern, the chain
  // order, or the Luhn arithmetic flips the row hash.

  /** The q245/q247 planted-PII frame: each doc's text extended with a
    * deterministic contact blob — doc_id email, md5-digit phone,
    * md5-octet IP, md5-digit 16-char card — so the pattern counts,
    * Luhn verdicts and redaction all have non-trivial mass to gate. */
  private def piiPlant(s: SparkSession, d: String): DataFrame = {
    val h = md5(concat(lit("pii:"), col("doc_id").cast(StringType)))
    docs(s, d)
      .select(col("doc_id"), col("source"), col("text"), h.as("h"))
      .withColumn("ds", transform(sequence(lit(1), lit(26)), i =>
        (conv(col("h").substr(i, lit(1)), 16, 10)
          .cast(LongType) % 10).cast(StringType)))
      .withColumn("txt", concat_ws(" ", col("text"),
        concat(lit("user"), col("doc_id").cast(StringType), lit("@ex"),
          (col("doc_id") % 7).cast(StringType), lit(".com")),
        concat(lit("+1-"), array_join(slice(col("ds"), 17, 3), ""),
          lit("-"), array_join(slice(col("ds"), 20, 3), ""),
          lit("-"), array_join(slice(col("ds"), 23, 4), "")),
        concat(lit("10."),
          (conv(substring(col("h"), 27, 2), 16, 10).cast(LongType) % 256)
            .cast(StringType), lit("."),
          (conv(substring(col("h"), 29, 2), 16, 10).cast(LongType) % 256)
            .cast(StringType), lit("."),
          (conv(substring(col("h"), 31, 2), 16, 10).cast(LongType) % 256)
            .cast(StringType)),
        array_join(slice(col("ds"), 1, 16), "")))
      .select(col("doc_id"), col("source"), col("txt"))
  }

  /** DuckDB replay of [[piiPlant]] — the `p`/`built` CTE pair ending
    * in `built(source, txt)`, shared by the q245 and q247 oracles. */
  private val piiPlantOracleSql: String = """p AS (
          SELECT doc_id, source, text,
            md5('pii:' || CAST(doc_id AS VARCHAR)) AS h,
            list_transform(generate_series(1, 26), i ->
              CAST(CAST(concat('0x', substr(md5('pii:' ||
                CAST(doc_id AS VARCHAR)), i, 1)) AS BIGINT) % 10
                AS VARCHAR)) AS ds
          FROM documents),
        built AS (
          SELECT source,
            text || ' ' ||
            'user' || CAST(doc_id AS VARCHAR) || '@ex' ||
              CAST(doc_id % 7 AS VARCHAR) || '.com' || ' ' ||
            '+1-' || array_to_string(list_slice(ds, 17, 19), '') || '-' ||
              array_to_string(list_slice(ds, 20, 22), '') || '-' ||
              array_to_string(list_slice(ds, 23, 26), '') || ' ' ||
            '10.' || CAST(CAST(concat('0x', substr(h, 27, 2)) AS BIGINT)
              % 256 AS VARCHAR) || '.' ||
              CAST(CAST(concat('0x', substr(h, 29, 2)) AS BIGINT)
                % 256 AS VARCHAR) || '.' ||
              CAST(CAST(concat('0x', substr(h, 31, 2)) AS BIGINT)
                % 256 AS VARCHAR) || ' ' ||
            array_to_string(list_slice(ds, 1, 16), '') AS txt
          FROM p)"""

  private[queries] val q245: GraftQuery = {
    val pats = graft.functions.TextFunctions.piiPatterns.map {
      case (n, p, r) => n -> ((p, r))
    }.toMap
    val (emailPat, phonePat, cardPat, ipPat) =
      (pats("email")._1, pats("phone")._1, pats("card")._1, pats("ipv4")._1)
    GraftQuery(
      "q245_pii_redaction",
      (s, d) => piiPlant(s, d)
          .select(col("source"), col("txt"),
            piiMatches(col("txt"), emailPat).as("em"),
            piiMatches(col("txt"), phonePat).as("ph"),
            piiMatches(col("txt"), cardPat).as("cd"),
            piiMatches(col("txt"), ipPat).as("ip"),
            redactPii(col("txt")).as("red"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("em"))).cast(LongType).as("n_emails"),
            sum(size(col("ph"))).cast(LongType).as("n_phones"),
            sum(size(col("cd"))).cast(LongType).as("n_cards"),
            sum(size(filter(col("cd"), c =>
              graft.functions.TextFunctions.luhnValid16(c))))
              .cast(LongType).as("n_luhn_valid"),
            sum(size(col("ip"))).cast(LongType).as("n_ips"),
            sum(length(col("txt"))).cast(LongType).as("raw_chars"),
            sum(length(col("red"))).cast(LongType).as("redacted_chars"))
          .orderBy(col("source")),
      Some(s"""WITH $piiPlantOracleSql
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(regexp_extract_all(txt, '$emailPat')))
            AS BIGINT) AS n_emails,
          CAST(sum(len(regexp_extract_all(txt, '$phonePat')))
            AS BIGINT) AS n_phones,
          CAST(sum(len(regexp_extract_all(txt, '$cardPat')))
            AS BIGINT) AS n_cards,
          CAST(sum(len(list_filter(regexp_extract_all(txt, '$cardPat'),
            c -> list_sum(list_transform(generate_series(1, 16), i ->
              CASE WHEN i % 2 = 1 THEN
                CASE WHEN CAST(c[i] AS INT) * 2 > 9
                  THEN CAST(c[i] AS INT) * 2 - 9
                  ELSE CAST(c[i] AS INT) * 2 END
              ELSE CAST(c[i] AS INT) END)) % 10 = 0)))
            AS BIGINT) AS n_luhn_valid,
          CAST(sum(len(regexp_extract_all(txt, '$ipPat')))
            AS BIGINT) AS n_ips,
          CAST(sum(length(txt)) AS BIGINT) AS raw_chars,
          CAST(sum(length(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(txt, '$emailPat', '<EMAIL>', 'g'),
            '$phonePat', '<PHONE>', 'g'),
            '$cardPat', '<CARD>', 'g'),
            '$ipPat', '<IP>', 'g'))) AS BIGINT) AS redacted_chars
        FROM built GROUP BY source ORDER BY source"""))
  }

  // ---- q246/q247: the text-cleaner SQL doors ---------------------------
  // The parser-door probes for the repair tier (the q93/q111/q161
  // convention — every operator the SQL persona can reach gets an
  // oracled query THROUGH the SQL surface): `fix_mojibake` and
  // `redact_pii` expand at resolution into the same
  // StringReplace/RegExpReplace chains the Column API builds, so the
  // door queries replay the q241/q245 plants verbatim through pure
  // SQL text. q246's oracle IS q241's; q247's reuses the shared
  // plant-replay CTE with the redaction chain alone.

  private[queries] val q246: GraftQuery = GraftQuery(
    "q246_sql_mojibake_door",
    (s, d) => {
      mojibakePlant(s, d).createOrReplaceTempView("moji_plant")
      s.sql("""SELECT source, count(*) AS n_docs,
          CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
          CAST(sum(length(corrupted)) AS BIGINT) AS moji_chars,
          CAST(sum(CASE WHEN fix_mojibake(corrupted) = clean
            THEN 1 ELSE 0 END) AS BIGINT) AS round_trip_ok
        FROM moji_plant GROUP BY source ORDER BY source""")
    },
    q241.oracle)

  private[queries] val q247: GraftQuery = {
    val chain = graft.functions.TextFunctions.piiPatterns
      .foldLeft("txt") { case (e, (_, p, r)) =>
        s"regexp_replace($e, '$p', '$r', 'g')"
      }
    GraftQuery(
      "q247_sql_redact_door",
      (s, d) => {
        piiPlant(s, d).createOrReplaceTempView("pii_plant")
        s.sql("""SELECT source, count(*) AS n_docs,
            CAST(sum(length(txt)) AS BIGINT) AS raw_chars,
            CAST(sum(length(redact_pii(txt))) AS BIGINT) AS redacted_chars,
            CAST(sum(CASE WHEN redact_pii(txt) <> txt THEN 1 ELSE 0 END)
              AS BIGINT) AS changed_docs
          FROM pii_plant GROUP BY source ORDER BY source""")
      },
      Some(s"""WITH $piiPlantOracleSql
        SELECT source, count(*) AS n_docs,
          CAST(sum(length(txt)) AS BIGINT) AS raw_chars,
          CAST(sum(length($chain)) AS BIGINT) AS redacted_chars,
          CAST(sum(CASE WHEN $chain <> txt THEN 1 ELSE 0 END)
            AS BIGINT) AS changed_docs
        FROM built GROUP BY source ORDER BY source"""))
  }

  // ---- q252: within-doc repetition signals (Gopher rules) -------------
  // The self-repetition quality tier (Rae et al. 2021): q97/q113 cut
  // text repeated ACROSS docs and q48 measures character classes, but
  // a scraper-loop / keyword-stuffed doc that repeats ITSELF passes
  // all three. Per-source board over per-doc signals: characters in
  // the most frequent word 2-gram and characters COVERED by
  // duplicated word 3-grams (coverage via distinct positions —
  // overlapping duplicate grams count each char once), both in ppm
  // (integer div). The oracle replays tokenization, adjacency, the
  // (cnt, gram-DESC) argmax, the coverage expansion and every
  // division — a drifted tie-break or a double-counted overlap flips
  // the hash.

  private[queries] val q252: GraftQuery = GraftQuery(
    "q252_repetition_signals",
    (s, d) => {
      val sig = DatasetOps.repetitionSignals(docs(s, d), "doc_id", "text")
      docs(s, d).select(col("doc_id"), col("source"))
        .join(sig, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(top2_ppm) div count(1)").as("avg_top2_ppm"),
          expr("sum(dup3_ppm) div count(1)").as("avg_dup3_ppm"),
          max(col("dup3_ppm")).as("max_dup3_ppm"))
        .orderBy(col("source"))
    },
    Some(repetitionOracleSql))

  /** The q252/q254 full-replay oracle — shared verbatim by the SQL
    * door: the TVF must score exactly like the library call. */
  private[queries] lazy val repetitionOracleSql: String =
    ("""WITH d AS (
        SELECT doc_id, source, list_filter(
            regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0) AS ws
        FROM documents),
      toksr AS (
        SELECT doc_id, source, ws,
          unnest(generate_series(1, len(ws))) AS pos
        FROM d),
      toks AS (
        SELECT doc_id, source, pos, ws[pos] AS w FROM toksr),
      totals AS (
        SELECT doc_id, count(*) AS n_words,
          sum(length(w)) AS word_chars
        FROM toks GROUP BY doc_id),
      g2 AS (
        SELECT a.doc_id, a.w || ' ' || b.w AS g,
          length(a.w) + length(b.w) AS gchars
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      c2 AS (
        SELECT doc_id, g, gchars, count(*) AS cnt
        FROM g2 GROUP BY 1, 2, 3),
      top2 AS (
        SELECT doc_id, cnt AS top2_cnt, cnt * gchars AS top2_chars
        FROM (SELECT doc_id, cnt, gchars, row_number() OVER (
            PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn
          FROM c2) WHERE rn = 1),
      g3 AS (
        SELECT a.doc_id, a.pos, a.w || ' ' || b.w || ' ' || c.w AS g
        FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
      dup3 AS (
        SELECT doc_id, g FROM g3 GROUP BY 1, 2 HAVING count(*) >= 2),
      covr AS (
        SELECT g3.doc_id,
          unnest(generate_series(g3.pos, g3.pos + 2)) AS p
        FROM g3 JOIN dup3 ON g3.doc_id = dup3.doc_id AND g3.g = dup3.g),
      cov AS (SELECT DISTINCT doc_id, p FROM covr),
      covch AS (
        SELECT t.doc_id, sum(length(t.w)) AS cov_chars
        FROM cov JOIN toks t
          ON t.doc_id = cov.doc_id AND t.pos = cov.p
        GROUP BY t.doc_id),
      per AS (
        SELECT d.doc_id, d.source,
          CASE WHEN coalesce(t.word_chars, 0) > 0 THEN
            coalesce(top2.top2_chars, 0) * 1000000 // t.word_chars
          ELSE 0 END AS top2_ppm,
          CASE WHEN coalesce(t.word_chars, 0) > 0 THEN
            coalesce(covch.cov_chars, 0) * 1000000 // t.word_chars
          ELSE 0 END AS dup3_ppm
        FROM d
        LEFT JOIN totals t ON d.doc_id = t.doc_id
        LEFT JOIN top2 ON d.doc_id = top2.doc_id
        LEFT JOIN covch ON d.doc_id = covch.doc_id)
      SELECT source, count(*) AS n_docs,
        CAST(sum(top2_ppm) // count(*) AS BIGINT) AS avg_top2_ppm,
        CAST(sum(dup3_ppm) // count(*) AS BIGINT) AS avg_dup3_ppm,
        CAST(max(dup3_ppm) AS BIGINT) AS max_dup3_ppm
      FROM per GROUP BY source ORDER BY source""")

  // ---- q258: WARC record extraction (crawl stage zero) ----------------
  // The seam every web-crawl pipeline STARTS at, previously absent
  // from the inventory: documents are rendered as WARC/1.0 response
  // records (the writer side of the seam — deterministic, so the
  // oracle rebuilds the identical blobs), concatenated per source in
  // doc_id order, then the parser recovers every record and the
  // census gates structure (n_records), integrity (Content-Length ==
  // recovered payload, the mis-split detector) and CONTENT (payload
  // byte-equal to the original text, per record via the URI join) —
  // a parser off by one CRLF anywhere flips at least one of the
  // three.

  private[queries] def warcBlobs(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Warc
    val uri = concat(lit("http://"), col("source"), lit("/"),
      col("doc_id"))
    docs(s, d).select(col("source"), col("doc_id"),
        Warc.record(uri, col("text")).as("r"))
      .groupBy(col("source"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id").as("i"),
          col("r").as("r")))),
        e => e.getField("r")), "\r\n\r\n").as("blob"))
  }

  private[queries] val q258: GraftQuery = GraftQuery(
    "q258_warc_extract",
    (s, d) => {
      val uri = concat(lit("http://"), col("source"), lit("/"),
        col("doc_id"))
      val parsed = graft.sources.Warc.parseRecords(warcBlobs(s, d), "blob")
        .select(col("source"), col("uri"), col("payload"), col("len_ok"))
      parsed
        .join(docs(s, d).select(col("source"), uri.as("uri"),
          col("text")), Seq("source", "uri"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("len_ok"), 1L).otherwise(0L)).as("n_len_ok"),
          sum(length(col("payload"))).cast(LongType).as("payload_chars"),
          sum(when(col("payload") === col("text"), 1L).otherwise(0L))
            .as("n_roundtrip"))
        .orderBy(col("source"))
    },
    Some(warcOracleSql))

  /** The q258/q259 full-replay oracle — shared verbatim by the SQL
    * door: the TVF must parse exactly like the library call. */
  private[queries] lazy val warcOracleSql: String =
    ("""WITH rec AS (
        SELECT source, doc_id,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/' || doc_id ||
            e'\r\n' || 'Content-Length: ' || strlen(text) ||
            e'\r\n\r\n' || text AS r
        FROM documents),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM rec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      parsed AS (
        SELECT source,
          regexp_extract(rc, 'WARC-Target-URI: ([^\r]*)', 1) AS uri,
          TRY_CAST(regexp_extract(rc, 'Content-Length: (\d+)', 1)
            AS BIGINT) AS cl,
          regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1) AS payload
        FROM norm),
      d2 AS (
        SELECT source, 'http://' || source || '/' || doc_id AS uri, text
        FROM documents)
      SELECT p.source, count(*) AS n_records,
        CAST(sum(CASE WHEN p.cl IS NOT NULL AND p.cl = strlen(p.payload)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
        CAST(sum(length(p.payload)) AS BIGINT) AS payload_chars,
        CAST(sum(CASE WHEN p.payload = d2.text THEN 1 ELSE 0 END)
          AS BIGINT) AS n_roundtrip
      FROM parsed p JOIN d2 ON p.source = d2.source AND p.uri = d2.uri
      GROUP BY p.source ORDER BY p.source""")

  // ---- q259: warc_records TVF — the SQL door ---------------------------
  // Crawl stage zero from pure SQL: the registered blob table flows
  // through the injected parser and the census aggregates the TVF's
  // rows exactly like q258's Scala side; oracle shared verbatim.

  private[queries] val q259: GraftQuery = GraftQuery(
    "q259_sql_warc_door",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      warcBlobs(s, d).createOrReplaceTempView("warc_blobs_sql")
      s.sql("""SELECT w.source, count(*) AS n_records,
          sum(CASE WHEN w.len_ok THEN 1L ELSE 0L END) AS n_len_ok,
          CAST(sum(length(w.payload)) AS BIGINT) AS payload_chars,
          sum(CASE WHEN w.payload = d.text THEN 1L ELSE 0L END)
            AS n_roundtrip
        FROM warc_records('warc_blobs_sql', 'blob') w
        JOIN (SELECT source,
            concat('http://', source, '/', doc_id) AS uri, text
          FROM documents) d
          ON w.source = d.source AND w.uri = d.uri
        GROUP BY w.source ORDER BY w.source""")
    },
    Some(warcOracleSql))

  // ---- q260: URL canonicalization census --------------------------------
  // The crawl-frontier dedup key: deterministic spelling variants
  // (scheme/www case, default ports, trailing slash, fragments) are
  // planted around a canonical (scheme-class, host, path) identity,
  // and the census gates that normalization collapses raw spellings
  // to exactly the canonical count — plus an md5 mass over the
  // DISTINCT normalized strings, so a normalization that drifts while
  // preserving counts (lowercasing the path, say — which is WRONG,
  // paths are case-sensitive) still flips the hash.

  private[queries] val q260: GraftQuery = GraftQuery(
    "q260_url_normalize",
    (s, d) => {
      val id = col("doc_id")
      val raw = concat(
        when(id % 4 === 0, "HTTP://").when(id % 4 === 1, "http://")
          .when(id % 4 === 2, "https://").otherwise("HTTPS://"),
        when(id % 3 === 0, "WWW.").when(id % 3 === 1, "www.")
          .otherwise(""),
        col("source"), lit(".example.com"),
        when(id % 5 === 0 && id % 4 < 2, ":80")
          .when(id % 5 === 0, ":443").otherwise(""),
        lit("/p/"), id % 7,
        when(id % 2 === 0, "/").otherwise(""),
        when(id % 6 === 0, "#sec").otherwise(""))
      val withN = docs(s, d).select(col("source"), raw.as("u"))
        .withColumn("n", urlNormalize(col("u")))
      val counts = withN.groupBy(col("source"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("u")).as("n_raw_distinct"),
          countDistinct(col("n")).as("n_norm_distinct"))
      val mass = withN.select(col("source"), col("n")).distinct()
        .groupBy(col("source"))
        .agg(sum(conv(substring(md5(col("n")), 1, 8), 16, 10)
          .cast(LongType)).cast(LongType).as("norm_mass"))
      counts.join(mass, Seq("source")).orderBy(col("source"))
    },
    Some(urlOracleSql))

  /** The q260/q261 full-replay oracle — shared verbatim by the SQL
    * door: `url_normalize` must normalize exactly like the Column
    * chain it expands to. */
  private[queries] lazy val urlOracleSql: String =
    ("""WITH u0 AS (
        SELECT source,
          CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
            WHEN doc_id % 4 = 1 THEN 'http://'
            WHEN doc_id % 4 = 2 THEN 'https://'
            ELSE 'HTTPS://' END ||
          CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
            WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END ||
          source || '.example.com' ||
          CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
            WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
          '/p/' || (doc_id % 7) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS u
        FROM documents),
      parts AS (
        SELECT source, u, regexp_replace(u, '#.*$', '') AS nofrag
        FROM u0),
      norm AS (
        SELECT source, u,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(nofrag, '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(nofrag,
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM parts)
      SELECT nm.source, nm.n_urls, nm.n_raw_distinct,
        nm.n_norm_distinct, ms.norm_mass
      FROM (SELECT source, count(*) AS n_urls,
          count(DISTINCT u) AS n_raw_distinct,
          count(DISTINCT n) AS n_norm_distinct
        FROM norm GROUP BY source) nm
      JOIN (SELECT source, CAST(sum(CAST(concat('0x',
            substring(md5(n), 1, 8)) AS BIGINT)) AS BIGINT) AS norm_mass
        FROM (SELECT DISTINCT source, n FROM norm) GROUP BY source) ms
        ON nm.source = ms.source
      ORDER BY nm.source""")

  // ---- q261: url_normalize SQL door -------------------------------------
  // q260's census through pure SQL text: the injected scalar expands
  // into the identical RegExp/Lower/Concat chain at resolution, so
  // one implementation serves both doors; oracle shared verbatim.

  private[queries] val q261: GraftQuery = GraftQuery(
    "q261_sql_url_door",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""WITH u0 AS (
          SELECT source, concat(
            CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
              WHEN doc_id % 4 = 1 THEN 'http://'
              WHEN doc_id % 4 = 2 THEN 'https://'
              ELSE 'HTTPS://' END,
            CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
              WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END,
            source, '.example.com',
            CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
              WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
            '/p/', CAST(doc_id % 7 AS STRING),
            CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
            CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS u
          FROM documents),
        n0 AS (SELECT source, u, url_normalize(u) AS n FROM u0),
        c AS (SELECT source, count(*) AS n_urls,
            count(DISTINCT u) AS n_raw_distinct,
            count(DISTINCT n) AS n_norm_distinct
          FROM n0 GROUP BY source),
        m AS (SELECT source, CAST(sum(CAST(conv(substring(md5(n), 1, 8),
              16, 10) AS BIGINT)) AS BIGINT) AS norm_mass
          FROM (SELECT DISTINCT source, n FROM n0) GROUP BY source)
        SELECT c.source, c.n_urls, c.n_raw_distinct, c.n_norm_distinct,
          m.norm_mass
        FROM c JOIN m ON c.source = m.source ORDER BY c.source""")
    },
    Some(urlOracleSql))

  // ---- q262: robots.txt verdict census -----------------------------------
  // Crawl politeness between the frontier (q260) and the fetch
  // (q258): every host publishes the same deterministic robots body
  // (three groups, comments, an ignored Crawl-delay, a boundary where
  // an agent line follows a rule line, a wildcard rule, a rule-less
  // whitelist group), and three agents — one with its own group, one
  // falling back to `*`, one whose exact group carries only the
  // empty allow-all Disallow — take verdicts over the frontier's
  // paths. The oracle replays the ENTIRE stack: line classification,
  // group numbering, agent fallback (incl. the rule-less-group
  // existence rule), most-specific match with the RFC's `*`/`$`
  // pattern forms, allow-wins-ties. Expected shape: graftbot sees
  // only its Allow'd path, otherbot the `*` group's /p/3 AND the
  // wildcard-Allow'd /p/4, nullbot everything — one flipped verdict
  // anywhere flips a census cell.

  private[queries] val robotsFixture: String =
    "# graft test\nUser-agent: *\nDisallow: /p\nAllow: /p/3\n" +
      "Allow: /*/4$\nCrawl-delay: 5\n\nUser-agent: graftbot\n" +
      "Disallow: /\nAllow: /p/5\n\nUser-agent: nullbot\nDisallow:"

  private[queries] val q262: GraftQuery = GraftQuery(
    "q262_robots_verdicts",
    (s, d) => {
      import graft.operators.Robots
      val host = concat(col("source"), lit(".example.com"))
      val hosts = docs(s, d).select(host.as("host")).distinct()
        .withColumn("txt", lit(robotsFixture))
      val reqs = docs(s, d)
        .select(host.as("host"),
          concat(lit("/p/"), col("doc_id") % 7).as("upath"))
        .withColumn("agent",
          explode(array(lit("graftbot"), lit("otherbot"),
            lit("nullbot"))))
      Robots.verdicts(Robots.rules(hosts, "host", "txt"), reqs)
        .withColumn("source",
          regexp_replace(col("host"), "\\.example\\.com$", ""))
        .groupBy(col("source"), col("agent"))
        .agg(count(lit(1)).as("n_paths"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("allowed"), 0L).otherwise(1L)).as("n_denied"))
        .orderBy(col("source"), col("agent"))
    },
    Some(robotsOracleSql))

  /** The q262/q268 full-replay oracle — shared verbatim by the SQL
    * door: the TVF must gate exactly like the library call. */
  private[queries] lazy val robotsOracleSql: String =
    ("""WITH hosts AS (
        SELECT DISTINCT source || '.example.com' AS host, source
        FROM documents),
      base AS (SELECT host, source, string_split(
          e'# graft test\nUser-agent: *\nDisallow: /p\nAllow: /p/3\nAllow: /*/4$\nCrawl-delay: 5\n\nUser-agent: graftbot\nDisallow: /\nAllow: /p/5\n\nUser-agent: nullbot\nDisallow:',
          e'\n') AS ls
        FROM hosts),
      lr AS (SELECT host, source, ls,
          unnest(generate_series(1, len(ls))) AS ln
        FROM base),
      lines AS (SELECT host, source, ln,
          trim(regexp_replace(ls[ln], '#.*$', '')) AS line
        FROM lr),
      typed AS (SELECT host, source, ln, line,
          CASE WHEN regexp_matches(line, '(?i)^user-agent:') THEN 'agent'
            WHEN regexp_matches(line, '(?i)^allow:') THEN 'allow'
            WHEN regexp_matches(line, '(?i)^disallow:') THEN 'disallow'
            ELSE 'other' END AS kind,
          trim(regexp_extract(line, '^[A-Za-z-]+:\s*(.*)$', 1)) AS val
        FROM lines WHERE length(line) > 0),
      lagged AS (SELECT *, coalesce(lag(kind)
            OVER (PARTITION BY host ORDER BY ln), '') AS prev_kind
        FROM typed),
      grpd AS (SELECT *, sum(CASE WHEN kind = 'agent' AND
            prev_kind <> 'agent' THEN 1 ELSE 0 END)
          OVER (PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING)
          AS grp
        FROM lagged),
      agents AS (SELECT host, grp, lower(val) AS agent
        FROM grpd WHERE kind = 'agent'),
      rls AS (SELECT host, grp, kind = 'allow' AS allow, val AS rpath
        FROM grpd WHERE kind IN ('allow', 'disallow')
          AND length(val) > 0),
      rr AS (SELECT a.host, a.agent, r.allow, r.rpath
        FROM agents a LEFT JOIN rls r
          ON a.host = r.host AND a.grp = r.grp),
      reqs AS (SELECT DISTINCT source || '.example.com' AS host, source,
          ag.agent, '/p/' || (doc_id % 7) AS upath
        FROM documents,
          (VALUES ('graftbot'), ('otherbot'), ('nullbot')) ag(agent)),
      eff AS (SELECT q.*, CASE WHEN EXISTS (SELECT 1 FROM rr
            WHERE rr.host = q.host AND rr.agent = lower(q.agent))
          THEN lower(q.agent) ELSE '*' END AS e
        FROM reqs q),
      scored AS (SELECT eff.host, eff.source, eff.agent, eff.upath,
          CASE WHEN rr.rpath IS NULL THEN -1
            WHEN rr.rpath NOT LIKE '%*%' AND rr.rpath NOT LIKE '%$'
              THEN CASE WHEN substring(eff.upath, 1,
                  length(rr.rpath)) = rr.rpath
                THEN length(rr.rpath) ELSE -1 END
            WHEN regexp_matches(eff.upath,
                '^' || regexp_replace(regexp_replace(regexp_replace(
                  rr.rpath, '\$$', ''),
                  '([\\.\[\]{}()+?^$|])', '\\\1', 'g'),
                  '\*', '.*', 'g') ||
                CASE WHEN rr.rpath LIKE '%$' THEN '$' ELSE '' END)
              THEN length(rr.rpath) ELSE -1 END AS mlen,
          CASE WHEN coalesce(rr.allow, false) THEN 1 ELSE 0 END AS aint
        FROM eff LEFT JOIN rr
          ON rr.host = eff.host AND rr.agent = eff.e),
      best AS (SELECT *, row_number() OVER (
            PARTITION BY host, agent, upath
            ORDER BY mlen DESC, aint DESC) AS rn
        FROM scored),
      verd AS (SELECT source, agent, upath,
          (mlen < 0 OR aint = 1) AS allowed
        FROM best WHERE rn = 1)
      SELECT source, agent, count(*) AS n_paths,
        CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
          AS n_allowed,
        CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
          AS n_denied
      FROM verd GROUP BY 1, 2 ORDER BY 1, 2""")

  // ---- q268: robots_verdicts TVF — the SQL door -----------------------
  // Crawl politeness from pure SQL: the registered robots and request
  // tables flow through the injected parser/matcher and the census
  // aggregates the TVF's verdicts exactly like q262's Scala side;
  // oracle shared verbatim.

  private[queries] val q268: GraftQuery = GraftQuery(
    "q268_sql_robots_door",
    (s, d) => {
      val host = concat(col("source"), lit(".example.com"))
      docs(s, d).select(host.as("host")).distinct()
        .withColumn("txt", lit(robotsFixture))
        .createOrReplaceTempView("robots_sql")
      docs(s, d)
        .select(host.as("host"),
          concat(lit("/p/"), col("doc_id") % 7).as("upath"))
        .withColumn("agent",
          explode(array(lit("graftbot"), lit("otherbot"),
            lit("nullbot"))))
        .createOrReplaceTempView("robots_reqs_sql")
      s.sql("""SELECT regexp_replace(host, '\\.example\\.com$', '')
            AS source, agent,
          count(*) AS n_paths,
          sum(CASE WHEN allowed THEN 1L ELSE 0L END) AS n_allowed,
          sum(CASE WHEN allowed THEN 0L ELSE 1L END) AS n_denied
        FROM robots_verdicts('robots_sql', 'robots_reqs_sql')
        GROUP BY 1, 2 ORDER BY 1, 2""")
    },
    Some(robotsOracleSql))

  // ---- q263: the crawl-frontier recipe, end to end ---------------------
  // The crawl-side composition capstone (the q75 pattern applied to
  // stage zero): raw spelling variants → urlNormalize → DISTINCT
  // (frontier dedup — the re-fetch eliminator) → robots verdicts for
  // the crawler's own agent → fetchable census, in ONE plan. Each
  // stage is already oracled (q260, q262); this query gates that they
  // COMPOSE — the counts narrow monotonically raw → frontier →
  // fetchable, and the oracle replays both stacks stitched.

  private[queries] val q263: GraftQuery = GraftQuery(
    "q263_crawl_recipe",
    (s, d) => {
      import graft.operators.Robots
      val id = col("doc_id")
      val raw = concat(
        when(id % 4 === 0, "HTTP://").when(id % 4 === 1, "http://")
          .when(id % 4 === 2, "https://").otherwise("HTTPS://"),
        when(id % 3 === 0, "WWW.").when(id % 3 === 1, "www.")
          .otherwise(""),
        col("source"), lit(".example.com"),
        when(id % 5 === 0 && id % 4 < 2, ":80")
          .when(id % 5 === 0, ":443").otherwise(""),
        lit("/p/"), id % 7,
        when(id % 2 === 0, "/").otherwise(""),
        when(id % 6 === 0, "#sec").otherwise(""))
      val urls = docs(s, d).select(col("source"), raw.as("u"))
      // materialized once (r17, the q271 fix): the frontier feeds the
      // verdict chain (reqs → hosts → rules ×2 inside) AND the
      // n_frontier census — each reference re-derived the docs scan +
      // regexp normalize + distinct exchange (guide §2.4)
      val frontier = urls
        .select(col("source"), urlNormalize(col("u")).as("n")).distinct()
        .pin()
      val reqs = frontier
        .select(col("source"),
          regexp_extract(col("n"), "^https?://([^/]+)", 1).as("host"),
          regexp_replace(col("n"), "^https?://[^/]+", "").as("upath"))
        .withColumn("agent", lit("graftbot"))
      val hosts = reqs.select(col("host")).distinct()
        .withColumn("txt", lit(robotsFixture))
      val fetchable = Robots
        .verdicts(Robots.rules(hosts, "host", "txt"), reqs)
        .filter(col("allowed"))
        .withColumn("source",
          regexp_replace(col("host"), "\\.example\\.com$", ""))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_fetchable"))
      val counts = urls.groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"))
        .join(frontier.groupBy(col("source"))
          .agg(count(lit(1)).as("n_frontier")), Seq("source"))
      counts.join(fetchable, Seq("source")).orderBy(col("source"))
    },
    Some("""WITH u0 AS (
        SELECT source,
          CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
            WHEN doc_id % 4 = 1 THEN 'http://'
            WHEN doc_id % 4 = 2 THEN 'https://'
            ELSE 'HTTPS://' END ||
          CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
            WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END ||
          source || '.example.com' ||
          CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
            WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
          '/p/' || (doc_id % 7) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS u
        FROM documents),
      parts AS (
        SELECT source, u, regexp_replace(u, '#.*$', '') AS nofrag
        FROM u0),
      norm AS (
        SELECT source, u,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(nofrag, '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(nofrag,
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM parts),
      frontier AS (SELECT DISTINCT source, n FROM norm),
      reqs AS (
        SELECT DISTINCT source,
          regexp_extract(n, '^https?://([^/]+)', 1) AS host,
          regexp_replace(n, '^https?://[^/]+', '') AS upath
        FROM frontier),
      base AS (SELECT DISTINCT host, string_split(
          e'# graft test\nUser-agent: *\nDisallow: /p\nAllow: /p/3\nAllow: /*/4$\nCrawl-delay: 5\n\nUser-agent: graftbot\nDisallow: /\nAllow: /p/5\n\nUser-agent: nullbot\nDisallow:',
          e'\n') AS ls
        FROM reqs),
      lr AS (SELECT host, ls, unnest(generate_series(1, len(ls))) AS ln
        FROM base),
      lines AS (SELECT host, ln,
          trim(regexp_replace(ls[ln], '#.*$', '')) AS line
        FROM lr),
      typed AS (SELECT host, ln, line,
          CASE WHEN regexp_matches(line, '(?i)^user-agent:') THEN 'agent'
            WHEN regexp_matches(line, '(?i)^allow:') THEN 'allow'
            WHEN regexp_matches(line, '(?i)^disallow:') THEN 'disallow'
            ELSE 'other' END AS kind,
          trim(regexp_extract(line, '^[A-Za-z-]+:\s*(.*)$', 1)) AS val
        FROM lines WHERE length(line) > 0),
      lagged AS (SELECT *, coalesce(lag(kind)
            OVER (PARTITION BY host ORDER BY ln), '') AS prev_kind
        FROM typed),
      grpd AS (SELECT *, sum(CASE WHEN kind = 'agent' AND
            prev_kind <> 'agent' THEN 1 ELSE 0 END)
          OVER (PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING)
          AS grp
        FROM lagged),
      agents AS (SELECT host, grp, lower(val) AS agent
        FROM grpd WHERE kind = 'agent'),
      rls AS (SELECT host, grp, kind = 'allow' AS allow, val AS rpath
        FROM grpd WHERE kind IN ('allow', 'disallow')
          AND length(val) > 0),
      rr AS (SELECT a.host, a.agent, r.allow, r.rpath
        FROM agents a JOIN rls r ON a.host = r.host AND a.grp = r.grp),
      eff AS (SELECT q.*, CASE WHEN EXISTS (SELECT 1 FROM rr
            WHERE rr.host = q.host AND rr.agent = 'graftbot')
          THEN 'graftbot' ELSE '*' END AS e
        FROM reqs q),
      scored AS (SELECT eff.host, eff.source, eff.upath,
          CASE WHEN rr.rpath IS NOT NULL AND
            substring(eff.upath, 1, length(rr.rpath)) = rr.rpath
            THEN length(rr.rpath) ELSE -1 END AS mlen,
          CASE WHEN coalesce(rr.allow, false) THEN 1 ELSE 0 END AS aint
        FROM eff LEFT JOIN rr
          ON rr.host = eff.host AND rr.agent = eff.e),
      best AS (SELECT *, row_number() OVER (
            PARTITION BY host, upath ORDER BY mlen DESC, aint DESC)
          AS rn
        FROM scored),
      fb AS (SELECT source, count(*) AS n_fetchable
        FROM best WHERE rn = 1 AND (mlen < 0 OR aint = 1)
        GROUP BY source)
      SELECT c.source, c.n_raw, f2.n_frontier, fb.n_fetchable
      FROM (SELECT source, count(*) AS n_raw FROM u0 GROUP BY source) c
      JOIN (SELECT source, count(*) AS n_frontier FROM frontier
        GROUP BY source) f2 ON c.source = f2.source
      JOIN fb ON c.source = fb.source
      ORDER BY c.source"""))

  // ---- q264: sitemap discovery feeds the frontier -----------------------
  // The discovery side of crawl stage zero (robots gates the FETCH;
  // sitemaps announce WHAT EXISTS): each host publishes its raw
  // spelling-variant URLs as a sitemap body (whitespace-padded <loc>
  // entries — the trim is part of the extraction contract), the
  // extractor recovers every loc in document order, and the census
  // gates extraction (n_locs == docs) AND the handoff: normalized
  // distinct locs must equal q260's frontier width exactly.

  private[queries] val q264: GraftQuery = GraftQuery(
    "q264_sitemap_discovery",
    (s, d) => {
      val id = col("doc_id")
      val raw = concat(
        when(id % 4 === 0, "HTTP://").when(id % 4 === 1, "http://")
          .when(id % 4 === 2, "https://").otherwise("HTTPS://"),
        when(id % 3 === 0, "WWW.").when(id % 3 === 1, "www.")
          .otherwise(""),
        col("source"), lit(".example.com"),
        when(id % 5 === 0 && id % 4 < 2, ":80")
          .when(id % 5 === 0, ":443").otherwise(""),
        lit("/p/"), id % 7,
        when(id % 2 === 0, "/").otherwise(""),
        when(id % 6 === 0, "#sec").otherwise(""))
      val xml = docs(s, d)
        .select(col("source"), col("doc_id"),
          concat(lit("  <url><loc>\n    "), raw,
            lit("\n  </loc></url>")).as("e"))
        .groupBy(col("source"))
        .agg(concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          array_join(transform(array_sort(collect_list(
            struct(col("doc_id").as("i"), col("e").as("e")))),
            x => x.getField("e")), "\n"),
          lit("\n</urlset>")).as("xml"))
      xml.select(col("source"),
          explode(sitemapLocs(col("xml"))).as("u"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_locs"),
          countDistinct(urlNormalize(col("u"))).as("n_frontier"))
        .orderBy(col("source"))
    },
    Some("""WITH u0 AS (
        SELECT source, doc_id,
          CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
            WHEN doc_id % 4 = 1 THEN 'http://'
            WHEN doc_id % 4 = 2 THEN 'https://'
            ELSE 'HTTPS://' END ||
          CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
            WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END ||
          source || '.example.com' ||
          CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
            WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
          '/p/' || (doc_id % 7) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS u
        FROM documents),
      xmls AS (
        SELECT source, '<?xml version="1.0"?>' || e'\n<urlset>\n' ||
          string_agg('  <url><loc>' || e'\n    ' || u ||
            e'\n  </loc></url>', e'\n' ORDER BY doc_id) ||
          e'\n</urlset>' AS xml
        FROM u0 GROUP BY source),
      locs AS (
        SELECT source, unnest(regexp_extract_all(xml,
          '(?s)<loc>\s*(.*?)\s*</loc>', 1)) AS u
        FROM xmls),
      norm AS (
        SELECT source, u,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM locs)
      SELECT source, count(*) AS n_locs,
        count(DISTINCT n) AS n_frontier
      FROM norm GROUP BY source ORDER BY source"""))

  // ---- q265: link extraction closes the crawl loop ----------------------
  // fetch → DISCOVER → frontier: deterministic HTML bodies carry an
  // absolute external anchor, a root-relative internal one (with a
  // query string whose VALUE ends in '/' — pinning that the frontier
  // normalization never trims query data), page-relative, ./ and
  // one-level ../ anchors (the majority shape on real pages, resolved
  // against the page URL's directory), and four drop-cases
  // (fragment-only, mailto:, protocol-relative, ../../ past the
  // one-level contract) — both quote styles exercised. The census
  // gates extraction counts, the internal/external split, the
  // frontier handoff (distinct normalized targets) and an md5 mass
  // over the distinct normalized strings, so a resolution that lands
  // on the wrong directory — or a normalization that collapses query
  // data — flips the hash even when counts survive.

  private[queries] val q265: GraftQuery = GraftQuery(
    "q265_link_extraction",
    (s, d) => {
      val id = col("doc_id")
      val site = concat(lit("https://"), col("source"),
        lit(".example.com"))
      val page = concat(site, lit("/sec/"), id % 3, lit("/page.html"))
      val html = concat(
        lit("<html><body><p>t</p><a href=\"http://hub.example.com/p/"),
        id % 7,
        lit("\">e</a><a href='/p/"), id % 5,
        lit("'>i</a><a href=\"#top\">f</a>" +
          "<a href=\"mailto:x@y.z\">m</a>" +
          "<a href=\"//cdn.example.com/x\">p</a>" +
          "<a href=\"rel"), id % 2,
        lit(".html\">r</a><a href=\"./dot.html\">s</a>" +
          "<a href=\"../up.html\">u</a>" +
          "<a href=\"../../deep.html\">d</a>" +
          "<a href=\"/q?next=/\">q</a></body></html>"))
      val links = docs(s, d)
        .select(col("source"), site.as("site"),
          explode(extractLinks(html, page)).as("u"))
      val counts = links.groupBy(col("source"))
        .agg(count(lit(1)).as("n_links"),
          sum(when(substring(col("u"), lit(1), length(col("site"))) ===
            col("site"), 1L).otherwise(0L)).as("n_internal"),
          sum(when(substring(col("u"), lit(1), length(col("site"))) ===
            col("site"), 0L).otherwise(1L)).as("n_external"),
          countDistinct(urlNormalize(col("u"))).as("n_frontier"))
      val mass = links
        .select(col("source"), urlNormalize(col("u")).as("n")).distinct()
        .groupBy(col("source"))
        .agg(sum(conv(substring(md5(col("n")), 1, 8), 16, 10)
          .cast(LongType)).cast(LongType).as("frontier_mass"))
      counts.join(mass, Seq("source")).orderBy(col("source"))
    },
    Some("""WITH pages AS (
        SELECT source,
          'https://' || source || '.example.com' AS site,
          '/sec/' || (doc_id % 3) || '/' AS dir,
          '<html><body><p>t</p><a href="http://hub.example.com/p/' ||
          (doc_id % 7) || '">e</a><a href=''/p/' || (doc_id % 5) ||
          '''>i</a><a href="#top">f</a>' ||
          '<a href="mailto:x@y.z">m</a>' ||
          '<a href="//cdn.example.com/x">p</a>' ||
          '<a href="rel' || (doc_id % 2) || '.html">r</a>' ||
          '<a href="./dot.html">s</a>' ||
          '<a href="../up.html">u</a>' ||
          '<a href="../../deep.html">d</a>' ||
          '<a href="/q?next=/">q</a></body></html>' AS html
        FROM documents),
      links AS (
        SELECT source, site, unnest(list_filter(list_transform(
          regexp_extract_all(html,
            '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["'']', 1),
          h -> CASE WHEN regexp_matches(h, '^https?://') THEN h
            WHEN regexp_matches(h, '^//') THEN NULL
            WHEN regexp_matches(h, '^/') THEN site || h
            WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:')
              THEN NULL
            WHEN regexp_matches(h, '^#') THEN NULL
            WHEN regexp_matches(h, '^\.\./') THEN
              CASE WHEN regexp_matches(regexp_replace(h, '^\.\./', ''),
                  '^\.\.?(/|$)') THEN NULL
                ELSE site || '/sec/' ||
                  regexp_replace(h, '^\.\./', '') END
            WHEN regexp_matches(h, '^\.\.?$') THEN NULL
            WHEN regexp_matches(h, '^\./') THEN
              site || dir || regexp_replace(h, '^\./', '')
            ELSE site || dir || h END), x -> x IS NOT NULL)) AS u
        FROM pages),
      norm AS (
        SELECT source, site, u,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM links),
      c AS (SELECT source, count(*) AS n_links,
          CAST(sum(CASE WHEN substring(u, 1, length(site)) = site
            THEN 1 ELSE 0 END) AS BIGINT) AS n_internal,
          CAST(sum(CASE WHEN substring(u, 1, length(site)) = site
            THEN 0 ELSE 1 END) AS BIGINT) AS n_external,
          count(DISTINCT n) AS n_frontier
        FROM norm GROUP BY source),
      m AS (SELECT source, CAST(sum(CAST(concat('0x',
            substring(md5(n), 1, 8)) AS BIGINT)) AS BIGINT)
            AS frontier_mass
        FROM (SELECT DISTINCT source, n FROM norm) GROUP BY source)
      SELECT c.source, c.n_links, c.n_internal, c.n_external,
        c.n_frontier, m.frontier_mass
      FROM c JOIN m ON c.source = m.source ORDER BY c.source"""))

  // ---- q266: polite fetch schedule ---------------------------------------
  // The frontier's ORDER (the gate decides what to fetch; politeness
  // decides WHEN): the q260 frontier interleaved round-robin across
  // hosts by the q127 stride scheduler at equal weights — any prefix
  // of the schedule carries hosts evenly, so no host is hammered
  // while others idle, epoch-free. The oracle stitches the q260
  // normalization stack to the q127 interleave arithmetic (md5 deal,
  // per-(host, shard) rank, round-robin reconstruction, stride
  // division) — a drifted rank anywhere reorders the prefix and
  // flips the hash.

  private[queries] val q266: GraftQuery = GraftQuery(
    "q266_polite_schedule",
    (s, d) => {
      val id = col("doc_id")
      val raw = concat(
        when(id % 4 === 0, "HTTP://").when(id % 4 === 1, "http://")
          .when(id % 4 === 2, "https://").otherwise("HTTPS://"),
        when(id % 3 === 0, "WWW.").when(id % 3 === 1, "www.")
          .otherwise(""),
        col("source"), lit(".example.com"),
        when(id % 5 === 0 && id % 4 < 2, ":80")
          .when(id % 5 === 0, ":443").otherwise(""),
        lit("/p/"), id % 7,
        when(id % 2 === 0, "/").otherwise(""),
        when(id % 6 === 0, "#sec").otherwise(""))
      val frontier = docs(s, d)
        .select(urlNormalize(raw).as("n")).distinct()
        .withColumn("host",
          regexp_extract(col("n"), "^https?://([^/]+)", 1))
      DatasetOps.interleaveSources(frontier, "n", "host",
          Map.empty[String, Long], defaultWeight = 1L, nShards = 8)
        .select(col("vtime"), col("host"), col("n"),
          col("src_rank"), col("shard"))
        .orderBy(col("vtime"), col("host"), col("n"))
        .limit(60)
    },
    Some("""WITH u0 AS (
        SELECT source,
          CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
            WHEN doc_id % 4 = 1 THEN 'http://'
            WHEN doc_id % 4 = 2 THEN 'https://'
            ELSE 'HTTPS://' END ||
          CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
            WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END ||
          source || '.example.com' ||
          CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
            WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
          '/p/' || (doc_id % 7) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS u
        FROM documents),
      norm AS (
        SELECT
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM u0),
      frontier AS (SELECT DISTINCT n FROM norm),
      f2 AS (SELECT n,
          regexp_extract(n, '^https?://([^/]+)', 1) AS host,
          CAST(concat('0x', substring(md5('mix:' || n), 1, 8))
            AS BIGINT) AS u
        FROM frontier),
      s2 AS (SELECT *, u % 8 AS shard FROM f2),
      r AS (SELECT n, host, shard,
          (row_number() OVER (PARTITION BY host, shard ORDER BY u, n)
            - 1) * 8 + shard + 1 AS src_rank
        FROM s2),
      v AS (SELECT n, host, shard, src_rank,
          (src_rank * 1000000) // 1 AS vtime
        FROM r)
      SELECT vtime, host, n, src_rank, shard FROM v
      ORDER BY vtime, host, n LIMIT 60"""))

  // ---- q267: crawl-delay extraction ---------------------------------------
  // The politeness KNOB behind q266's scheduler: per-(host, agent)
  // Crawl-delay seconds recovered from robots bodies — shared agent
  // lines inherit the group's delay, several delays keep the largest
  // (the conservative read), fractional delays ceil up to whole
  // seconds (rounding a declared limit UP is the polite direction;
  // dropping it would remove a rate limit the site asked for), and
  // truly non-numeric values drop (a crawler must not guess a rate
  // limit). Delay varies by host so a cross-host mixup flips a cell;
  // the oracle replays classification, grouping, the numeric guard,
  // the ceil and the max.

  private[queries] val q267: GraftQuery = GraftQuery(
    "q267_crawl_delays",
    (s, d) => {
      import graft.operators.Robots
      val robots = docs(s, d)
        .select(concat(col("source"), lit(".example.com")).as("host"),
          col("source")).distinct()
        .withColumn("txt", concat(
          lit("User-agent: *\nCrawl-delay: "), length(col("source")),
          lit("\nDisallow: /x\n\nUser-agent: graftbot\n" +
            "User-agent: mirrorbot\nCrawl-delay: 1\nCrawl-delay: "),
          length(col("source")) * 2,
          lit("\n\nUser-agent: brokenbot\nCrawl-delay: fast\n" +
            "Crawl-delay: 0.5")))
      Robots.crawlDelays(robots, "host", "txt")
        .withColumn("source",
          regexp_replace(col("host"), "\\.example\\.com$", ""))
        .select(col("source"), col("agent"), col("delay_s"))
        .orderBy(col("source"), col("agent"))
    },
    Some("""WITH hosts AS (
        SELECT DISTINCT source || '.example.com' AS host, source
        FROM documents),
      base AS (SELECT host, source, string_split(
          'User-agent: *' || e'\n' || 'Crawl-delay: ' ||
            length(source) || e'\n' || 'Disallow: /x' || e'\n\n' ||
            'User-agent: graftbot' || e'\n' || 'User-agent: mirrorbot' ||
            e'\n' || 'Crawl-delay: 1' || e'\n' || 'Crawl-delay: ' ||
            (length(source) * 2) || e'\n\n' ||
            'User-agent: brokenbot' || e'\n' || 'Crawl-delay: fast' ||
            e'\n' || 'Crawl-delay: 0.5',
          e'\n') AS ls
        FROM hosts),
      lr AS (SELECT host, source, ls,
          unnest(generate_series(1, len(ls))) AS ln
        FROM base),
      lines AS (SELECT host, source, ln,
          trim(regexp_replace(ls[ln], '#.*$', '')) AS line
        FROM lr),
      typed AS (SELECT host, source, ln, line,
          CASE WHEN regexp_matches(line, '(?i)^user-agent:') THEN 'agent'
            WHEN regexp_matches(line, '(?i)^allow:') THEN 'allow'
            WHEN regexp_matches(line, '(?i)^disallow:') THEN 'disallow'
            WHEN regexp_matches(line, '(?i)^crawl-delay:') THEN 'delay'
            ELSE 'other' END AS kind,
          trim(regexp_extract(line, '^[A-Za-z-]+:\s*(.*)$', 1)) AS val
        FROM lines WHERE length(line) > 0),
      lagged AS (SELECT *, coalesce(lag(kind)
            OVER (PARTITION BY host ORDER BY ln), '') AS prev_kind
        FROM typed),
      grpd AS (SELECT *, sum(CASE WHEN kind = 'agent' AND
            prev_kind <> 'agent' THEN 1 ELSE 0 END)
          OVER (PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING)
          AS grp
        FROM lagged),
      agents AS (SELECT host, source, grp, lower(val) AS agent
        FROM grpd WHERE kind = 'agent'),
      delays AS (SELECT host, grp,
          CAST(ceil(CAST(val AS DECIMAL(18,6))) AS BIGINT) AS delay_s
        FROM grpd WHERE kind = 'delay'
          AND regexp_matches(val, '^\d+(\.\d+)?$'))
      SELECT a.source, a.agent,
        CAST(max(d.delay_s) AS BIGINT) AS delay_s
      FROM agents a JOIN delays d
        ON a.host = d.host AND a.grp = d.grp
      GROUP BY a.source, a.agent
      ORDER BY a.source, a.agent"""))

  // ---- q254: repetition_signals TVF — the SQL door --------------------
  // The quality persona reaches the Gopher rules from pure SQL text:
  // the TVF plans the identical operator, the query aggregates its
  // per-doc rows exactly like q252's Scala side, and the oracle is
  // q252's verbatim.

  // ---- q256: shard provenance manifest ---------------------------------
  // The ops census a 100 TB backfill debug starts from: docs land in
  // an md5-sharded hive layout (the deterministic q64 draw family, so
  // the oracle replays the assignment), the manifest reads them BACK
  // and censuses by input_file_name — the physical file each row
  // actually came from — then rolls files up to their parsed
  // `shard=` component. Counts are invariant to how many part-files
  // each shard dir holds (the file census re-aggregates exactly), so
  // the row is deterministic while input_file_name stays load-bearing:
  // a row attributed to the wrong physical file lands in the wrong
  // shard and flips the hash.

  private[queries] val manifestDirByInput = new graft.sources.JvmMemo[String]

  private[queries] val q256: GraftQuery = GraftQuery(
    "q256_shard_manifest",
    (s, d) => {
      val dir = LlmOps.materializedTempDir(manifestDirByInput, d,
        "graft_mfst_") { out =>
        docs(s, d)
          .withColumn("shard",
            expr("cast(conv(substring(md5(concat('mfst:', " +
              "cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 4"))
          .write.partitionBy("shard").mode("overwrite").parquet(out)
      }
      DatasetOps.shardManifest(s.read.parquet(dir), length(col("text")))
        .withColumn("shard",
          regexp_extract(col("file"), "shard=(\\d+)", 1).cast(LongType))
        .groupBy(col("shard"))
        .agg(sum(col("n_rows")).cast(LongType).as("n_docs"),
          sum(col("payload_sum")).cast(LongType).as("n_chars"))
        .orderBy(col("shard"))
    },
    Some("""WITH h AS (
        SELECT doc_id, text,
          CAST(concat('0x', substring(md5('mfst:' ||
            CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard
        FROM documents)
      SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
        CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM h GROUP BY 1 ORDER BY 1"""))

  private[queries] val q254: GraftQuery = GraftQuery(
    "q254_sql_repetition_door",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT d.source, count(*) AS n_docs,
          sum(r.top2_ppm) div count(1) AS avg_top2_ppm,
          sum(r.dup3_ppm) div count(1) AS avg_dup3_ppm,
          max(r.dup3_ppm) AS max_dup3_ppm
        FROM repetition_signals('documents', 'doc_id', 'text') r
        JOIN documents d ON r.doc_id = d.doc_id
        GROUP BY d.source ORDER BY d.source""")
    },
    Some(repetitionOracleSql))

  // ---- q269: HTTP message split inside WARC payloads --------------------
  // The realism layer q258 stopped short of: a real crawl record's
  // block is a full HTTP response (status line, headers, blank line,
  // body), and a cleaning stack fed the whole block would score
  // headers as document text. Documents are wrapped as HTTP messages
  // (status 200/404 by doc, Content-Type text/html+charset vs
  // text/plain by parity), framed as WARC records, and the parse →
  // split pipeline must recover status, media type, charset and the
  // EXACT body (per-record roundtrip via the URI join) — the oracle
  // replays render, record split, header walk and message split
  // end to end; one CRLF miscount anywhere flips a census cell.

  private[queries] def httpWarcBlobs(s: SparkSession,
                                     d: String): DataFrame = {
    import graft.sources.Warc
    val id = col("doc_id")
    val uri = concat(lit("http://"), col("source"), lit("/"), id)
    val status = when(id % 11 === 0, lit(404)).otherwise(lit(200))
    // moduli coprime to the testdata's per-source doc_id stride (20),
    // so both branches occur WITHIN every source
    val ct = when(id % 3 === 0, lit("text/html; charset=UTF-8"))
      .otherwise(lit("text/plain"))
    docs(s, d).select(col("source"), id.as("doc_id"),
        Warc.record(uri, Warc.httpResponse(status, ct, col("text")))
          .as("r"))
      .groupBy(col("source"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id").as("i"),
          col("r").as("r")))),
        e => e.getField("r")), "\r\n\r\n").as("blob"))
  }

  private[queries] val q269: GraftQuery = GraftQuery(
    "q269_http_split",
    (s, d) => {
      import graft.sources.Warc
      val uri = concat(lit("http://"), col("source"), lit("/"),
        col("doc_id"))
      val parsed = Warc.httpSplit(
        Warc.parseRecords(httpWarcBlobs(s, d), "blob"), "payload")
      parsed
        .join(docs(s, d).select(col("source"), uri.as("uri"),
          col("text")), Seq("source", "uri"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("len_ok"), 1L).otherwise(0L)).as("n_len_ok"),
          sum(when(col("http_status") === 200, 1L).otherwise(0L))
            .as("n_200"),
          sum(when(col("http_status") === 404, 1L).otherwise(0L))
            .as("n_404"),
          sum(when(col("content_type") === "text/html", 1L)
            .otherwise(0L)).as("n_html"),
          sum(when(col("charset") === "utf-8", 1L).otherwise(0L))
            .as("n_charset"),
          sum(when(col("body") === col("text"), 1L).otherwise(0L))
            .as("n_body_roundtrip"))
        .orderBy(col("source"))
    },
    Some(httpOracleSql))

  /** The q269/q270 full-replay oracle — shared verbatim by the SQL
    * door: the TVF must split exactly like the library call. */
  private[queries] lazy val httpOracleSql: String =
    ("""WITH rec AS (
        SELECT source, doc_id,
          'HTTP/1.1 ' ||
            CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END ||
            ' S' || e'\r\n' || 'Content-Type: ' ||
            CASE WHEN doc_id % 3 = 0 THEN 'text/html; charset=UTF-8'
              ELSE 'text/plain' END ||
            e'\r\n' || 'Content-Length: ' || strlen(text) ||
            e'\r\n\r\n' || text AS msg
        FROM documents),
      wrec AS (
        SELECT source, doc_id,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/' || doc_id ||
            e'\r\n' || 'Content-Length: ' || strlen(msg) ||
            e'\r\n\r\n' || msg AS r
        FROM rec),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM wrec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      parsed AS (
        SELECT source,
          regexp_extract(rc, 'WARC-Target-URI: ([^\r]*)', 1) AS uri,
          TRY_CAST(regexp_extract(rc, 'Content-Length: (\d+)', 1)
            AS BIGINT) AS cl,
          regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1) AS payload
        FROM norm),
      http AS (
        SELECT source, uri, cl, payload,
          TRY_CAST(regexp_extract(payload,
            '^HTTP/\d(?:\.\d)? (\d{3})', 1) AS INTEGER) AS status,
          regexp_extract(payload, '(?s)^(.*?)\r\n\r\n', 1) AS head,
          regexp_extract(payload, '(?s)^.*?\r\n\r\n(.*)$', 1) AS body
        FROM parsed),
      fin AS (
        SELECT source, uri, cl, payload, status, body,
          lower(trim(regexp_extract(regexp_extract(head,
            '(?im)^Content-Type:[ \t]*([^\r\n]*)', 1),
            '^([^;]*)', 1))) AS media,
          lower(regexp_extract(regexp_extract(head,
            '(?im)^Content-Type:[ \t]*([^\r\n]*)', 1),
            '(?i)charset="?([A-Za-z0-9_.:-]+)', 1)) AS cs
        FROM http),
      d2 AS (
        SELECT source, 'http://' || source || '/' || doc_id AS uri, text
        FROM documents)
      SELECT f.source, count(*) AS n_records,
        CAST(sum(CASE WHEN f.cl IS NOT NULL AND f.cl = strlen(f.payload)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
        CAST(sum(CASE WHEN f.status = 200 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_200,
        CAST(sum(CASE WHEN f.status = 404 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_404,
        CAST(sum(CASE WHEN f.media = 'text/html' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_html,
        CAST(sum(CASE WHEN f.cs = 'utf-8' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_charset,
        CAST(sum(CASE WHEN f.body = d2.text THEN 1 ELSE 0 END)
          AS BIGINT) AS n_body_roundtrip
      FROM fin f JOIN d2 ON f.source = d2.source AND f.uri = d2.uri
      GROUP BY f.source ORDER BY f.source""")

  // ---- q270: http_split TVF — the SQL door ------------------------------
  // The message split from pure SQL: blobs flow through the
  // warc_records TVF into a temp view, that view through the
  // http_split TVF, and the census aggregates the split rows exactly
  // like q269's Scala side; oracle shared verbatim.

  private[queries] val q270: GraftQuery = GraftQuery(
    "q270_sql_http_door",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      httpWarcBlobs(s, d).createOrReplaceTempView("http_blobs_sql")
      s.sql("""CREATE OR REPLACE TEMP VIEW http_msgs_sql AS
        SELECT * FROM warc_records('http_blobs_sql', 'blob')""")
      s.sql("""SELECT h.source, count(*) AS n_records,
          sum(CASE WHEN h.len_ok THEN 1L ELSE 0L END) AS n_len_ok,
          sum(CASE WHEN h.http_status = 200 THEN 1L ELSE 0L END)
            AS n_200,
          sum(CASE WHEN h.http_status = 404 THEN 1L ELSE 0L END)
            AS n_404,
          sum(CASE WHEN h.content_type = 'text/html' THEN 1L ELSE 0L END)
            AS n_html,
          sum(CASE WHEN h.charset = 'utf-8' THEN 1L ELSE 0L END)
            AS n_charset,
          sum(CASE WHEN h.body = d.text THEN 1L ELSE 0L END)
            AS n_body_roundtrip
        FROM http_split('http_msgs_sql', 'payload') h
        JOIN (SELECT source,
            concat('http://', source, '/', doc_id) AS uri, text
          FROM documents) d
          ON h.source = d.source AND h.uri = d.uri
        GROUP BY h.source ORDER BY h.source""")
    },
    Some(httpOracleSql))

  // ---- q271: delay-weighted polite schedule ------------------------------
  // The politeness pieces COMPOSED (q266 interleaves at equal
  // weights; q267 extracts delays that previously sat unconsumed):
  // each host's robots body declares a FRACTIONAL crawl-delay
  // (length(source) + .5 — so the ceil is load-bearing), the
  // extracted per-host delay becomes the stride period, and the
  // schedule's any-prefix invariant flips from "hosts evenly" to
  // "hosts inversely proportional to their declared delay". The
  // oracle stitches the q260 normalization, the expected crawl-delay
  // semantics (ceil of the declared fraction) and the stride
  // arithmetic with the delay multiplier — a drifted rank OR a
  // mis-extracted delay reorders the prefix.

  private[queries] val q271: GraftQuery = GraftQuery(
    "q271_delay_weighted_schedule",
    (s, d) => {
      import graft.operators.Robots
      val id = col("doc_id")
      val raw = concat(
        when(id % 4 === 0, "HTTP://").when(id % 4 === 1, "http://")
          .when(id % 4 === 2, "https://").otherwise("HTTPS://"),
        when(id % 3 === 0, "WWW.").when(id % 3 === 1, "www.")
          .otherwise(""),
        col("source"), lit(".example.com"),
        when(id % 5 === 0 && id % 4 < 2, ":80")
          .when(id % 5 === 0, ":443").otherwise(""),
        lit("/p/"), id % 7,
        when(id % 2 === 0, "/").otherwise(""),
        when(id % 6 === 0, "#sec").otherwise(""))
      // materialize the normalized frontier ONCE (r17): it feeds the
      // schedule AND (via hosts → synthesized robots → crawlDelays'
      // agents/delays self-join) THREE more subtree references — the
      // r16 plan re-derived the docs scan + the 8-regexp normalize
      // chain per reference (guide §2.4), and the robots branches
      // evaluated the chain twice per row (filter + project)
      val frontier = docs(s, d)
        .select(urlNormalize(raw).as("n")).distinct()
        .withColumn("host",
          regexp_extract(col("n"), "^https?://([^/]+)", 1))
        .pin()
      val robots = frontier.select(col("host")).distinct()
        .withColumn("txt", concat(lit("User-agent: *\nCrawl-delay: "),
          length(regexp_replace(col("host"), "\\.example\\.com$", "")),
          lit(".5\nDisallow: /x")))
      val delays = Robots.crawlDelays(robots, "host", "txt")
        .filter(col("agent") === "*")
        .select(col("host"), col("delay_s"))
      DatasetOps.politeFetchSchedule(frontier, "n", "host", delays,
          defaultDelayS = 1L, nShards = 8)
        .select(col("vtime"), col("host"), col("n"),
          col("src_rank"), col("delay_s"))
        .orderBy(col("vtime"), col("host"), col("n"))
        .limit(60)
    },
    Some("""WITH u0 AS (
        SELECT source,
          CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
            WHEN doc_id % 4 = 1 THEN 'http://'
            WHEN doc_id % 4 = 2 THEN 'https://'
            ELSE 'HTTPS://' END ||
          CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
            WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END ||
          source || '.example.com' ||
          CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
            WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
          '/p/' || (doc_id % 7) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS u
        FROM documents),
      norm AS (
        SELECT
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM u0),
      f2 AS (SELECT n,
          regexp_extract(n, '^https?://([^/]+)', 1) AS host,
          CAST(concat('0x', substring(md5('mix:' || n), 1, 8))
            AS BIGINT) AS u
        FROM (SELECT DISTINCT n FROM norm)),
      s2 AS (SELECT *, u % 8 AS shard FROM f2),
      r AS (SELECT n, host, shard,
          (row_number() OVER (PARTITION BY host, shard ORDER BY u, n)
            - 1) * 8 + shard + 1 AS src_rank
        FROM s2),
      dl AS (SELECT DISTINCT host,
          CAST(strlen(regexp_replace(host, '\.example\.com$', '')) + 1
            AS BIGINT) AS delay_s
        FROM f2),
      v AS (SELECT r.n, r.host, r.src_rank, dl.delay_s,
          r.src_rank * 1000000 * dl.delay_s AS vtime
        FROM r JOIN dl ON r.host = dl.host)
      SELECT vtime, host, n, src_rank, delay_s FROM v
      ORDER BY vtime, host, n LIMIT 60"""))

  // ---- q272: WARC record-type census ------------------------------------
  // Real crawl files interleave a request/response/metadata record
  // triple per fetch (the Common Crawl layout); a consumer that
  // cannot tell them apart either ingests HTTP requests as documents
  // or quarantines valid records as corrupt. Each doc renders all
  // three types (metadata only every third doc — so the counts
  // differ per type), and the census gates type attribution,
  // integrity per type, and that ONLY response payloads roundtrip
  // the document text. The oracle replays render, interleave, split
  // and type extraction.

  private[queries] val q272: GraftQuery = GraftQuery(
    "q272_warc_type_census",
    (s, d) => {
      import graft.sources.Warc
      val id = col("doc_id")
      val uri = concat(lit("http://"), col("source"), lit("/"), id)
      val reqRec = Warc.record(uri,
        concat(lit("GET /"), id, lit(" HTTP/1.1")), lit("request"))
      val respRec = Warc.record(uri, col("text"), lit("response"))
      val metaRec = Warc.record(uri, lit("fetchTimeMs: 7"),
        lit("metadata"))
      val per = when(id % 3 === 0,
        concat_ws("\r\n\r\n", reqRec, respRec, metaRec))
        .otherwise(concat_ws("\r\n\r\n", reqRec, respRec))
      val blobs = docs(s, d)
        .select(col("source"), id.as("doc_id"), per.as("r"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("r").as("r")))),
          e => e.getField("r")), "\r\n\r\n").as("blob"))
      Warc.parseRecords(blobs, "blob")
        .join(docs(s, d).select(col("source"), uri.as("uri"),
          col("text")), Seq("source", "uri"))
        .groupBy(col("source"), col("warc_type"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("len_ok"), 1L).otherwise(0L)).as("n_len_ok"),
          sum(when(col("payload") === col("text"), 1L).otherwise(0L))
            .as("n_roundtrip"))
        .orderBy(col("source"), col("warc_type"))
    },
    Some("""WITH rec AS (
        SELECT source, doc_id,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: request' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/' || doc_id ||
            e'\r\n' || 'Content-Length: ' ||
            strlen('GET /' || doc_id || ' HTTP/1.1') || e'\r\n\r\n' ||
            'GET /' || doc_id || ' HTTP/1.1' ||
          e'\r\n\r\n' ||
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/' || doc_id ||
            e'\r\n' || 'Content-Length: ' || strlen(text) ||
            e'\r\n\r\n' || text ||
          CASE WHEN doc_id % 3 = 0 THEN e'\r\n\r\n' ||
            'WARC/1.0' || e'\r\n' || 'WARC-Type: metadata' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/' || doc_id ||
            e'\r\n' || 'Content-Length: ' || strlen('fetchTimeMs: 7') ||
            e'\r\n\r\n' || 'fetchTimeMs: 7' ELSE '' END AS r
        FROM documents),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM rec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      parsed AS (
        SELECT source,
          regexp_extract(rc, 'WARC-Type: ([^\r]*)', 1) AS warc_type,
          regexp_extract(rc, 'WARC-Target-URI: ([^\r]*)', 1) AS uri,
          TRY_CAST(regexp_extract(rc, 'Content-Length: (\d+)', 1)
            AS BIGINT) AS cl,
          regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1) AS payload
        FROM norm),
      d2 AS (
        SELECT source, 'http://' || source || '/' || doc_id AS uri, text
        FROM documents)
      SELECT p.source, p.warc_type, count(*) AS n_records,
        CAST(sum(CASE WHEN p.cl IS NOT NULL AND p.cl = strlen(p.payload)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
        CAST(sum(CASE WHEN p.payload = d2.text THEN 1 ELSE 0 END)
          AS BIGINT) AS n_roundtrip
      FROM parsed p JOIN d2 ON p.source = d2.source AND p.uri = d2.uri
      GROUP BY p.source, p.warc_type
      ORDER BY p.source, p.warc_type"""))

  // ---- q273: sitemap discovery from robots.txt --------------------------
  // The missing hop between q262 (robots rules) and q264 (sitemap
  // parsing): where the sitemap URLS come from. The Sitemap:
  // directive is host-wide — it may sit before any group, inside
  // one, or after all of them, in any case spelling, and applies to
  // every agent — so extraction ignores grouping entirely and
  // duplicates collapse. Full URL values are the output (one row per
  // declared sitemap), so a drifted extraction shows up verbatim.

  private[queries] val q273: GraftQuery = GraftQuery(
    "q273_robots_sitemaps",
    (s, d) => {
      import graft.operators.Robots
      val host = concat(col("source"), lit(".example.com"))
      val robots = docs(s, d)
        .select(host.as("host")).distinct()
        .withColumn("txt", concat(
          lit("Sitemap: https://"), col("host"), lit("/s1.xml\n"),
          lit("User-agent: *\nDisallow: /x\n"),
          lit("SITEMAP: https://"), col("host"), lit("/s2.xml\n\n"),
          lit("User-agent: a\nDisallow: /y\n"),
          lit("sitemap: https://"), col("host"), lit("/s1.xml\n"),
          lit("Sitemap:")))
      Robots.sitemaps(robots, "host", "txt")
        .withColumn("source",
          regexp_replace(col("host"), "\\.example\\.com$", ""))
        .select(col("source"), col("sitemap_url"))
        .orderBy(col("source"), col("sitemap_url"))
    },
    Some(sitemapsOracleSql))

  /** The q273/q281 full-replay oracle — shared verbatim by the SQL
    * door: the TVF must extract exactly like the library call. */
  private[queries] lazy val sitemapsOracleSql: String =
    ("""WITH hosts AS (
        SELECT DISTINCT source || '.example.com' AS host, source
        FROM documents),
      base AS (SELECT host, source, string_split(
          'Sitemap: https://' || host || '/s1.xml' || e'\n' ||
          'User-agent: *' || e'\n' || 'Disallow: /x' || e'\n' ||
          'SITEMAP: https://' || host || '/s2.xml' || e'\n\n' ||
          'User-agent: a' || e'\n' || 'Disallow: /y' || e'\n' ||
          'sitemap: https://' || host || '/s1.xml' || e'\n' ||
          'Sitemap:',
          e'\n') AS ls
        FROM hosts),
      lr AS (SELECT host, source, ls,
          unnest(generate_series(1, len(ls))) AS ln
        FROM base),
      lines AS (SELECT host, source,
          trim(regexp_replace(ls[ln], '#.*$', '')) AS line
        FROM lr),
      sm AS (SELECT DISTINCT host, source,
          trim(regexp_extract(line, '^[A-Za-z-]+:\s*(.*)$', 1))
            AS sitemap_url
        FROM lines
        WHERE length(line) > 0
          AND regexp_matches(line, '(?i)^sitemap:'))
      SELECT source, sitemap_url FROM sm
      WHERE length(sitemap_url) > 0
      ORDER BY source, sitemap_url""")

  // ---- q274: redirect-target discovery ----------------------------------
  // The 3xx half of a fetch: a redirect's Location header is new-URL
  // DISCOVERY (resolve, normalize, hand to the frontier), and its
  // stub body must never reach the cleaning stack (the q269 status
  // gate already drops it — this query closes the loop on where the
  // TARGET goes). Every fifth doc 301s, alternating absolute and
  // root-relative Location values; the census gates redirect
  // attribution, absolute/relative resolution against the record's
  // own host, and the normalized-frontier handoff with an md5 mass.

  private[queries] val q274: GraftQuery = GraftQuery(
    "q274_redirect_census",
    (s, d) => {
      import graft.sources.Warc
      val id = col("doc_id")
      val uri = concat(lit("http://"), col("source"),
        lit(".example.com/p/"), id)
      // moduli coprime to the per-source doc_id stride (20): every
      // source carries 200s AND 301s, absolute AND relative targets
      val locHdr = when(id % 7 < 4,
        concat(lit("https://moved."), col("source"),
          lit(".example.com/t/"), id % 7))
        .otherwise(concat(lit("/t/"), id % 7))
      val msg = when(id % 3 === 0,
        concat(lit("HTTP/1.1 301 S\r\nLocation: "), locHdr,
          lit("\r\nContent-Length: 0\r\n\r\n")))
        .otherwise(Warc.httpResponse(lit(200), lit("text/html"),
          col("text")))
      val blobs = docs(s, d)
        .select(col("source"), id.as("doc_id"),
          Warc.record(uri, msg).as("r"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("r").as("r")))),
          e => e.getField("r")), "\r\n\r\n").as("blob"))
      val split = Warc.httpSplit(Warc.parseRecords(blobs, "blob"),
        "payload")
      val redirects = split.filter(col("location").isNotNull)
        .withColumn("target",
          when(col("location").rlike("^https?://"), col("location"))
            .otherwise(concat(
              regexp_extract(col("uri"), "^(https?://[^/]+)", 1),
              col("location"))))
        .withColumn("n", urlNormalize(col("target")))
      val counts = split.groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("http_status") === 301, 1L).otherwise(0L))
            .as("n_redirects"),
          sum(when(col("location").rlike("^https?://"), 1L)
            .otherwise(0L)).as("n_abs"))
      val mass = redirects.select(col("source"), col("n")).distinct()
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_frontier"),
          sum(conv(substring(md5(col("n")), 1, 8), 16, 10)
            .cast(LongType)).cast(LongType).as("target_mass"))
      counts.join(mass, Seq("source")).orderBy(col("source"))
    },
    Some("""WITH m AS (
        SELECT source, doc_id,
          CASE WHEN doc_id % 3 = 0 THEN
            'HTTP/1.1 301 S' || e'\r\n' || 'Location: ' ||
              CASE WHEN doc_id % 7 < 4 THEN 'https://moved.' || source ||
                  '.example.com/t/' || (doc_id % 7)
                ELSE '/t/' || (doc_id % 7) END ||
              e'\r\n' || 'Content-Length: 0' || e'\r\n\r\n'
          ELSE
            'HTTP/1.1 200 S' || e'\r\n' ||
              'Content-Type: text/html' || e'\r\n' ||
              'Content-Length: ' || strlen(text) || e'\r\n\r\n' || text
          END AS msg
        FROM documents),
      wrec AS (
        SELECT source, doc_id,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: http://' || source ||
            '.example.com/p/' || doc_id ||
            e'\r\n' || 'Content-Length: ' || strlen(msg) ||
            e'\r\n\r\n' || msg AS r
        FROM m),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM wrec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm0 AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      parsed AS (
        SELECT source,
          regexp_extract(rc, 'WARC-Target-URI: ([^\r]*)', 1) AS uri,
          regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1) AS payload
        FROM norm0),
      http AS (
        SELECT source, uri,
          TRY_CAST(regexp_extract(payload,
            '^HTTP/\d(?:\.\d)? (\d{3})', 1) AS INTEGER) AS status,
          regexp_extract(regexp_extract(payload,
            '(?s)^(.*?)\r\n\r\n', 1),
            '(?im)^Location:[ \t]*([^\r\n]*)', 1) AS loc
        FROM parsed),
      rt AS (
        SELECT source, uri, status,
          CASE WHEN length(loc) = 0 THEN NULL
            WHEN regexp_matches(loc, '^https?://') THEN loc
            ELSE regexp_extract(uri, '^(https?://[^/]+)', 1) || loc
            END AS target
        FROM http),
      nn AS (
        SELECT source,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(target, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(target,
            '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM rt WHERE target IS NOT NULL),
      c AS (
        SELECT source, count(*) AS n_records,
          CAST(sum(CASE WHEN status = 301 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_redirects,
          CAST(sum(CASE WHEN target IS NOT NULL AND
            regexp_matches(target, '^https?://moved')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_abs
        FROM rt GROUP BY source),
      f AS (
        SELECT source, count(*) AS n_frontier,
          CAST(sum(CAST(concat('0x', substring(md5(n), 1, 8))
            AS BIGINT)) AS BIGINT) AS target_mass
        FROM (SELECT DISTINCT source, n FROM nn) GROUP BY source)
      SELECT c.source, c.n_records, c.n_redirects, c.n_abs,
        f.n_frontier, f.target_mass
      FROM c JOIN f ON c.source = f.source ORDER BY c.source"""))

  // ---- q275: the binary-exact WARC tier equals the relational one -------
  // parseRecordsBinary is the Content-Length-driven byte walker that
  // CLOSES the boundary-in-payload caveat (WarcSpec proves the evil
  // case); on boundary-free data the two tiers must agree exactly —
  // so this query runs q258's census through the BINARY walker
  // (blobs as bytes, payloads decoded back) against q258's oracle
  // VERBATIM. One oracle, two engines, two tiers.

  private[queries] val q275: GraftQuery = GraftQuery(
    "q275_warc_binary_tier",
    (s, d) => {
      import graft.sources.Warc
      val uri = concat(lit("http://"), col("source"), lit("/"),
        col("doc_id"))
      val blobs = warcBlobs(s, d)
        .select(col("source"), encode(col("blob"), "UTF-8").as("bb"))
      val parsed = Warc.parseRecordsBinary(blobs, "bb", "source")
        .withColumn("payload", decode(col("payload_bytes"), "UTF-8"))
      parsed
        .join(docs(s, d).select(col("source"), uri.as("uri"),
          col("text")), Seq("source", "uri"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("len_ok"), 1L).otherwise(0L)).as("n_len_ok"),
          sum(length(col("payload"))).cast(LongType).as("payload_chars"),
          sum(when(col("payload") === col("text"), 1L).otherwise(0L))
            .as("n_roundtrip"))
        .orderBy(col("source"))
    },
    Some(warcOracleSql))

  // ---- q276: effective-charset census ------------------------------------
  // The WHATWG-ordered charset decision a crawl pipeline must make
  // before decoding bytes: HTTP header charset first, then the
  // in-document meta sniff, then the UTF-8 default. Docs rotate the
  // three cases (header-declared / meta-only / neither, modulus
  // coprime to the per-source doc_id stride), and the census gates
  // the priority order — a sniff that reads the meta tag when the
  // header already decided (or misses the meta form) moves counts
  // between cells.

  private[queries] val q276: GraftQuery = GraftQuery(
    "q276_effective_charset",
    (s, d) => {
      import graft.sources.Warc
      val id = col("doc_id")
      val uri = concat(lit("http://"), col("source"), lit("/"), id)
      val ct = when(id % 3 === 0, lit("text/html; charset=ISO-8859-1"))
        .otherwise(lit("text/html"))
      val body = when(id % 3 === 1,
        concat(lit("<meta charset=\"windows-1252\">"), col("text")))
        .otherwise(col("text"))
      val blobs = docs(s, d)
        .select(col("source"), id.as("doc_id"),
          Warc.record(uri, Warc.httpResponse(lit(200), ct, body))
            .as("r"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("r").as("r")))),
          e => e.getField("r")), "\r\n\r\n").as("blob"))
      Warc.httpSplit(Warc.parseRecords(blobs, "blob"), "payload")
        .withColumn("eff", coalesce(col("charset"),
          htmlCharset(col("body")), lit("utf-8")))
        .groupBy(col("source"), col("eff"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("eff"))
    },
    Some(charsetOracleSql))

  /** The q276/q282 full-replay oracle — shared verbatim by the SQL
    * door: the TVF + scalar pair must decide exactly like the
    * library calls. */
  private[queries] lazy val charsetOracleSql: String =
    ("""WITH rec AS (
        SELECT source, doc_id,
          CASE WHEN doc_id % 3 = 1 THEN
            '<meta charset="windows-1252">' || text ELSE text END
            AS body,
          CASE WHEN doc_id % 3 = 0 THEN 'text/html; charset=ISO-8859-1'
            ELSE 'text/html' END AS ct
        FROM documents),
      msg AS (
        SELECT source, doc_id,
          'HTTP/1.1 200 S' || e'\r\n' || 'Content-Type: ' || ct ||
            e'\r\n' || 'Content-Length: ' || strlen(body) ||
            e'\r\n\r\n' || body AS m
        FROM rec),
      wrec AS (
        SELECT source, doc_id,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/' || doc_id ||
            e'\r\n' || 'Content-Length: ' || strlen(m) ||
            e'\r\n\r\n' || m AS r
        FROM msg),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM wrec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm0 AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      http AS (
        SELECT source,
          regexp_extract(regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1),
            '(?s)^(.*?)\r\n\r\n', 1) AS head,
          regexp_extract(regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1),
            '(?s)^.*?\r\n\r\n(.*)$', 1) AS hbody
        FROM norm0),
      eff0 AS (
        SELECT source,
          lower(regexp_extract(regexp_extract(head,
            '(?im)^Content-Type:[ \t]*([^\r\n]*)', 1),
            '(?i)charset="?([A-Za-z0-9_.:-]+)', 1)) AS hcs,
          lower(regexp_extract(hbody,
            '(?is)<meta[^>]*charset\s*=\s*["'']?([A-Za-z0-9_.:-]+)',
            1)) AS mcs
        FROM http),
      eff AS (
        SELECT source,
          CASE WHEN length(hcs) > 0 THEN hcs
            WHEN length(mcs) > 0 THEN mcs
            ELSE 'utf-8' END AS eff
        FROM eff0)
      SELECT source, eff, count(*) AS n_docs
      FROM eff GROUP BY source, eff ORDER BY source, eff""")

  // ---- q277: payload-digest revisit census -------------------------------
  // Crawl-LEVEL dedup, the WARC-native form: every record carries a
  // WARC-Payload-Digest, and a deduplicating crawler stores each
  // distinct payload once, writing later captures as `revisit`
  // records keyed on the digest. Docs share payloads by (source,
  // id%7) so each source fetches the same few bodies many times; the
  // census gates digest integrity (header == recomputed md5 of the
  // recovered payload — a parse off by one byte flips it), the
  // distinct-digest count, and the revisit count (captures beyond
  // each digest's first — exactly what a crawler would dedup away).
  // Fixture digests are `md5:<hex>` (engine-replayable on both
  // sides; the wire spec's sha1:base32 differs in label only).

  private[queries] val q277: GraftQuery = GraftQuery(
    "q277_digest_revisits",
    (s, d) => {
      import graft.sources.Warc
      val id = col("doc_id")
      val uri = concat(lit("http://"), col("source"), lit("/p/"), id)
      val payload = concat(lit("shared body "), col("source"),
        lit(" "), id % 7, lit(" content"))
      val digest = concat(lit("md5:"), md5(payload))
      val blobs = docs(s, d)
        .select(col("source"), id.as("doc_id"),
          Warc.record(uri, payload, lit("response"), digest).as("r"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("r").as("r")))),
          e => e.getField("r")), "\r\n\r\n").as("blob"))
      Warc.parseRecords(blobs, "blob")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("payload_digest") ===
            concat(lit("md5:"), md5(col("payload"))), 1L)
            .otherwise(0L)).as("n_digest_ok"),
          countDistinct(col("payload_digest")).as("n_digests"),
          (count(lit(1)) - countDistinct(col("payload_digest")))
            .as("n_revisits"))
        .orderBy(col("source"))
    },
    Some("""WITH p AS (
        SELECT source, doc_id,
          'shared body ' || source || ' ' || (doc_id % 7) ||
            ' content' AS payload
        FROM documents),
      rec AS (
        SELECT source, doc_id,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/p/' || doc_id ||
            e'\r\n' || 'WARC-Payload-Digest: md5:' || md5(payload) ||
            e'\r\n' || 'Content-Length: ' || strlen(payload) ||
            e'\r\n\r\n' || payload AS r
        FROM p),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM rec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm0 AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      parsed AS (
        SELECT source,
          regexp_extract(rc, 'WARC-Payload-Digest: ([^\r]*)', 1) AS pd,
          regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1) AS payload
        FROM norm0)
      SELECT source, count(*) AS n_records,
        CAST(sum(CASE WHEN pd = 'md5:' || md5(payload) THEN 1 ELSE 0
          END) AS BIGINT) AS n_digest_ok,
        count(DISTINCT pd) AS n_digests,
        count(*) - count(DISTINCT pd) AS n_revisits
      FROM parsed GROUP BY source ORDER BY source"""))

  // ---- q278: spider-trap census ------------------------------------------
  // The frontier-explosion detector every crawler needs: a trap host
  // (session ids, calendars, faceted search) mints unboundedly many
  // DISTINCT URLs over the same few pages, and urlNormalize
  // deliberately preserves query strings — so the trap shows up as a
  // URL-to-content ratio, not as frontier dedup. Odd-length sources
  // append a per-doc ?sid= (every URL distinct); the census compares
  // distinct normalized URLs against distinct content digests per
  // host and flags ratio ≥ 3 — the signal that a per-host budget cap
  // (capPerGroup) must step in before the frontier does the crawling
  // equivalent of an infinite loop.

  private[queries] val q278: GraftQuery = GraftQuery(
    "q278_trap_census",
    (s, d) => {
      val id = col("doc_id")
      val trap = length(col("source")) % 2 === 1
      val raw = concat(lit("https://"), col("source"),
        lit(".example.com/cat/"), id % 3,
        when(trap, concat(lit("?sid="), id)).otherwise(lit("")))
      val content = concat(lit("category page "), col("source"),
        lit(" "), id % 3)
      docs(s, d)
        .select(col("source"), urlNormalize(raw).as("n"),
          md5(content).as("digest"))
        .groupBy(col("source"))
        .agg(countDistinct(col("n")).as("n_urls"),
          countDistinct(col("digest")).as("n_contents"))
        .withColumn("urls_per_content_ppm",
          expr("n_urls * 1000000L div n_contents"))
        .withColumn("is_trap", col("n_urls") >= col("n_contents") * 3)
        .orderBy(col("source"))
    },
    Some("""WITH u AS (
        SELECT source,
          'https://' || source || '.example.com/cat/' || (doc_id % 3) ||
            CASE WHEN strlen(source) % 2 = 1
              THEN '?sid=' || doc_id ELSE '' END AS raw,
          md5('category page ' || source || ' ' || (doc_id % 3))
            AS digest
        FROM documents),
      nn AS (
        SELECT source, digest,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(raw, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(raw, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM u),
      c AS (
        SELECT source, count(DISTINCT n) AS n_urls,
          count(DISTINCT digest) AS n_contents
        FROM nn GROUP BY source)
      SELECT source, n_urls, n_contents,
        n_urls * 1000000 // n_contents AS urls_per_content_ppm,
        n_urls >= n_contents * 3 AS is_trap
      FROM c ORDER BY source"""))

  // ---- q279: WET-style export (conversion records) -----------------------
  // The OTHER direction of the WARC seam: after the cleaning stack
  // runs, a corpus re-exports as text-only `conversion` records (the
  // WET layout downstream consumers read). Docs are wrapped in
  // deterministic markup, stripped (q174's chain), framed as
  // conversion records and parsed BACK — the census gates the type,
  // integrity, and that every recovered payload equals the stripped
  // text exactly (render → strip → frame → parse, one flipped byte
  // anywhere breaks the roundtrip).

  private[queries] val q279: GraftQuery = GraftQuery(
    "q279_wet_export",
    (s, d) => {
      import graft.sources.Warc
      val id = col("doc_id")
      val uri = concat(lit("http://"), col("source"), lit("/"), id)
      val html = concat(
        lit("<html><head><style>b{}</style></head><body><p>"),
        col("text"),
        lit("</p><script>var i=1;</script></body></html>"))
      val wet = Warc.record(uri, stripMarkup(html), lit("conversion"))
      val blobs = docs(s, d)
        .select(col("source"), id.as("doc_id"), wet.as("r"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("r").as("r")))),
          e => e.getField("r")), "\r\n\r\n").as("blob"))
      val expected = docs(s, d)
        .select(col("source"), uri.as("uri"),
          stripMarkup(html).as("stripped"))
      Warc.parseRecords(blobs, "blob")
        .join(expected, Seq("source", "uri"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("warc_type") === "conversion", 1L)
            .otherwise(0L)).as("n_conversion"),
          sum(when(col("len_ok"), 1L).otherwise(0L)).as("n_len_ok"),
          sum(when(col("payload") === col("stripped"), 1L)
            .otherwise(0L)).as("n_roundtrip"))
        .orderBy(col("source"))
    },
    Some("""WITH m AS (
        SELECT source, doc_id,
          '<html><head><style>b{}</style></head><body><p>' || text ||
            '</p><script>var i=1;</script></body></html>' AS html
        FROM documents),
      s1 AS (SELECT source, doc_id, regexp_replace(html,
          '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM m),
      s2 AS (SELECT source, doc_id, regexp_replace(t,
          '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s1),
      s3 AS (SELECT source, doc_id, regexp_replace(t,
          '(?s)<[^>]*>', ' ', 'g') AS t FROM s2),
      e AS (SELECT source, doc_id,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(t,
            '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
            '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&amp;', '&', 'g')
            AS t FROM s3),
      f AS (SELECT source, doc_id,
          trim(regexp_replace(t, '\s+', ' ', 'g')) AS stripped FROM e),
      rec AS (
        SELECT source, doc_id, stripped,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: conversion' || e'\r\n' ||
            'WARC-Target-URI: http://' || source || '/' || doc_id ||
            e'\r\n' || 'Content-Length: ' || strlen(stripped) ||
            e'\r\n\r\n' || stripped AS r
        FROM f),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM rec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm0 AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      parsed AS (
        SELECT source,
          regexp_extract(rc, 'WARC-Type: ([^\r]*)', 1) AS wt,
          regexp_extract(rc, 'WARC-Target-URI: ([^\r]*)', 1) AS uri,
          TRY_CAST(regexp_extract(rc, 'Content-Length: (\d+)', 1)
            AS BIGINT) AS cl,
          regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1) AS payload
        FROM norm0),
      x AS (
        SELECT source, 'http://' || source || '/' || doc_id AS uri,
          stripped
        FROM f)
      SELECT p.source, count(*) AS n_records,
        CAST(sum(CASE WHEN p.wt = 'conversion' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_conversion,
        CAST(sum(CASE WHEN p.cl IS NOT NULL AND p.cl = strlen(p.payload)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
        CAST(sum(CASE WHEN p.payload = x.stripped THEN 1 ELSE 0 END)
          AS BIGINT) AS n_roundtrip
      FROM parsed p JOIN x ON p.source = x.source AND p.uri = x.uri
      GROUP BY p.source ORDER BY p.source"""))

  // ---- q280: budgeted frontier — the trap's countermeasure ---------------
  // q278 DETECTS frontier explosion; this bounds it: the same
  // trap-vs-clean frontier capped at n URLs per host via capPerGroup
  // (md5-draw membership — a pure function of the normalized URL, so
  // the budget survives reshuffles, retries and later discoveries
  // displacing but never promoting). Trap hosts clamp to the cap,
  // clean hosts pass untouched; the census gates both and the oracle
  // replays the draw and the cut.

  private[queries] val q280: GraftQuery = GraftQuery(
    "q280_budgeted_frontier",
    (s, d) => {
      val id = col("doc_id")
      val trap = length(col("source")) % 2 === 1
      val raw = concat(lit("https://"), col("source"),
        lit(".example.com/cat/"), id % 3,
        when(trap, concat(lit("?sid="), id)).otherwise(lit("")))
      val frontier = docs(s, d)
        .select(urlNormalize(raw).as("n")).distinct()
        .withColumn("host",
          regexp_extract(col("n"), "^https?://([^/]+)", 1))
      val budgeted = DatasetOps.capPerGroup(frontier, "host", "n",
        n = 5)
      frontier.groupBy(col("host"))
        .agg(count(lit(1)).as("n_frontier"))
        .join(budgeted.groupBy(col("host"))
          .agg(count(lit(1)).as("n_budgeted")), Seq("host"))
        .withColumn("capped", col("n_frontier") > col("n_budgeted"))
        .orderBy(col("host"))
    },
    Some("""WITH u AS (
        SELECT source,
          'https://' || source || '.example.com/cat/' || (doc_id % 3) ||
            CASE WHEN strlen(source) % 2 = 1
              THEN '?sid=' || doc_id ELSE '' END AS raw
        FROM documents),
      nn AS (
        SELECT DISTINCT
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(raw, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(raw, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM u),
      f AS (
        SELECT n, regexp_extract(n, '^https?://([^/]+)', 1) AS host,
          CAST(concat('0x', substring(md5('cap:' || n), 1, 8))
            AS BIGINT) AS u
        FROM nn),
      r AS (
        SELECT host, n,
          row_number() OVER (PARTITION BY host ORDER BY u, n) AS rn
        FROM f),
      c AS (
        SELECT host, count(*) AS n_frontier,
          CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_budgeted
        FROM r GROUP BY host)
      SELECT host, n_frontier, n_budgeted,
        n_frontier > n_budgeted AS capped
      FROM c ORDER BY host"""))

  // ---- q281: robots_sitemaps TVF — the SQL door -------------------------
  // Sitemap discovery from pure SQL: the registered robots table
  // flows through the injected extractor and the query orders its
  // rows exactly like q273's Scala side; oracle shared verbatim.

  private[queries] val q281: GraftQuery = GraftQuery(
    "q281_sql_sitemaps_door",
    (s, d) => {
      val host = concat(col("source"), lit(".example.com"))
      docs(s, d)
        .select(host.as("host")).distinct()
        .withColumn("txt", concat(
          lit("Sitemap: https://"), col("host"), lit("/s1.xml\n"),
          lit("User-agent: *\nDisallow: /x\n"),
          lit("SITEMAP: https://"), col("host"), lit("/s2.xml\n\n"),
          lit("User-agent: a\nDisallow: /y\n"),
          lit("sitemap: https://"), col("host"), lit("/s1.xml\n"),
          lit("Sitemap:")))
        .createOrReplaceTempView("robots_sm_sql")
      s.sql("""SELECT regexp_replace(host, '\\.example\\.com$', '')
            AS source, sitemap_url
        FROM robots_sitemaps('robots_sm_sql')
        ORDER BY source, sitemap_url""")
    },
    Some(sitemapsOracleSql))

  // ---- q282: the charset decision from pure SQL -------------------------
  // q276's census through SQL text alone: blobs → warc_records TVF →
  // http_split TVF → the injected html_charset scalar inside the
  // same coalesce priority — the whole decision reachable from the
  // Athena-layer surface; oracle shared verbatim.

  private[queries] val q282: GraftQuery = GraftQuery(
    "q282_sql_charset_door",
    (s, d) => {
      import graft.sources.Warc
      val id = col("doc_id")
      val uri = concat(lit("http://"), col("source"), lit("/"), id)
      val ct = when(id % 3 === 0, lit("text/html; charset=ISO-8859-1"))
        .otherwise(lit("text/html"))
      val body = when(id % 3 === 1,
        concat(lit("<meta charset=\"windows-1252\">"), col("text")))
        .otherwise(col("text"))
      docs(s, d)
        .select(col("source"), id.as("doc_id"),
          Warc.record(uri, Warc.httpResponse(lit(200), ct, body))
            .as("r"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("r").as("r")))),
          e => e.getField("r")), "\r\n\r\n").as("blob"))
        .createOrReplaceTempView("charset_blobs_sql")
      s.sql("""CREATE OR REPLACE TEMP VIEW charset_msgs_sql AS
        SELECT * FROM warc_records('charset_blobs_sql', 'blob')""")
      s.sql("""SELECT source,
          coalesce(charset, html_charset(body), 'utf-8') AS eff,
          count(*) AS n_docs
        FROM http_split('charset_msgs_sql', 'payload')
        GROUP BY source, eff ORDER BY source, eff""")
    },
    Some(charsetOracleSql))

  // ---- q283: the binary-exact HTTP tier equals the relational one -------
  // q275's argument extended one layer down: the full BYTE pipeline
  // (Content-Length-driven record walk → head/body byte split →
  // wire-layer decode → charset) must agree with the relational
  // string tier on data the string tier can represent — so q269's
  // census runs through parseRecordsBinary + decodeHttpBinary
  // against q269's oracle VERBATIM. The binary tier's extra powers
  // (chunked, gzip, non-UTF-8 — WarcSpec's composed-wire-layers
  // battery) are exactly what the oracle CANNOT replay, which is why
  // the equivalence-on-common-ground query is the right gate.

  private[queries] val q283: GraftQuery = GraftQuery(
    "q283_http_binary_tier",
    (s, d) => {
      import graft.sources.Warc
      val uri = concat(lit("http://"), col("source"), lit("/"),
        col("doc_id"))
      val blobs = httpWarcBlobs(s, d)
        .select(col("source"), encode(col("blob"), "UTF-8").as("bb"))
      val recs = Warc.parseRecordsBinary(blobs, "bb", "source")
      val msgs = Warc.decodeHttpBinary(recs, "payload_bytes", "uri")
      recs.select(col("source"), col("uri"), col("len_ok"))
        .join(msgs, Seq("uri"))
        .join(docs(s, d).select(col("source"), uri.as("uri"),
          col("text").as("doc_text")), Seq("source", "uri"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("len_ok"), 1L).otherwise(0L)).as("n_len_ok"),
          sum(when(col("http_status") === 200, 1L).otherwise(0L))
            .as("n_200"),
          sum(when(col("http_status") === 404, 1L).otherwise(0L))
            .as("n_404"),
          sum(when(col("content_type") === "text/html", 1L)
            .otherwise(0L)).as("n_html"),
          sum(when(col("declared_charset") === "utf-8", 1L)
            .otherwise(0L)).as("n_charset"),
          sum(when(col("text") === col("doc_text"), 1L).otherwise(0L))
            .as("n_body_roundtrip"))
        .orderBy(col("source"))
    },
    Some(httpOracleSql))

  // ---- q284: CDX-style capture index over the binary tier ---------------
  // The sidecar artifact a real WARC corpus SHIPS WITH (the Common
  // Crawl index layout): per capture, the SURT urlkey, the record's
  // byte OFFSET and LENGTH in its shard (what lets a reader seek
  // straight to one record without re-walking terabytes), HTTP
  // status, media type, and a payload digest. Offsets come from the
  // binary walker (the only tier that KNOWS byte positions); the
  // oracle rebuilds every record's octet length and derives each
  // offset as the running sum of predecessors + separators — one
  // byte of drift anywhere shifts every subsequent offset, and the
  // SURT/normalize replay gates the urlkey character-for-character.
  // URIs are built SURT-adversarial: multi-label mixed-case host,
  // non-default port, mixed-case path, unsorted query parameters,
  // trailing-slash spellings.

  private[queries] def cdxWarcBlobs(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Warc
    val id = col("doc_id")
    // both shapes keyed on %7 (coprime to the per-source stride 20,
    // so each occurs within every source) and DISJOINT: the trailing
    // slash (%7=5) and the query string (%7<3) never co-occur, so
    // normalize's guarded trim stays exercised on the slash side
    // while query spellings stay verbatim on the other
    val uri = concat(lit("http://WWW."), col("source"),
      lit(".Example.COM"),
      when(id % 13 === 0, lit(":8080")).otherwise(lit("")),
      lit("/Dir"), id % 3, lit("/p"), id,
      when(id % 7 === 5, lit("/")).otherwise(lit("")),
      when(id % 7 < 3, concat(lit("?b="), id % 11, lit("&a="), id % 3))
        .otherwise(lit("")))
    val status = when(id % 11 === 0, lit(404)).otherwise(lit(200))
    val ct = when(id % 3 === 0, lit("text/html; charset=UTF-8"))
      .otherwise(lit("text/plain"))
    docs(s, d).select(col("source"), id.as("doc_id"),
        Warc.record(uri, Warc.httpResponse(status, ct, col("text")))
          .as("r"))
      .groupBy(col("source"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id").as("i"),
          col("r").as("r")))),
        e => e.getField("r")), "\r\n\r\n").as("blob"))
  }

  private[queries] val q284: GraftQuery = GraftQuery(
    "q284_cdx_index",
    (s, d) => {
      import graft.sources.Warc
      import graft.functions.TextFunctions
      val blobs = cdxWarcBlobs(s, d)
        .select(col("source"), encode(col("blob"), "UTF-8").as("bb"))
      val recs = Warc.parseRecordsBinary(blobs, "bb", "source")
      val msgs = Warc.decodeHttpBinary(recs, "payload_bytes", "uri")
      recs.select(col("source"), col("uri"), col("offset"),
          col("rlength"))
        .join(msgs, Seq("uri"))
        .select(col("source").as("filename"),
          TextFunctions.surtKey(
            TextFunctions.urlNormalize(col("uri"))).as("urlkey"),
          col("offset").as("roffset"), col("rlength"),
          col("http_status").as("status"),
          col("content_type").as("mime"),
          md5(col("text")).as("digest"))
        .orderBy(col("filename"), col("roffset"))
    },
    Some(cdxOracleSql))

  /** The q284 full-replay oracle: render → octet lengths → running-sum
    * offsets → normalize → SURT, row for row. */
  private[queries] lazy val cdxOracleSql: String =
    ("""WITH rec AS (
        SELECT source, doc_id,
          'http://WWW.' || source || '.Example.COM' ||
            CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END ||
            '/Dir' || (doc_id % 3) || '/p' || doc_id ||
            CASE WHEN doc_id % 7 = 5 THEN '/' ELSE '' END ||
            CASE WHEN doc_id % 7 < 3
              THEN '?b=' || (doc_id % 11) || '&a=' || (doc_id % 3)
              ELSE '' END AS uri,
          CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS status,
          CASE WHEN doc_id % 3 = 0 THEN 'text/html; charset=UTF-8'
            ELSE 'text/plain' END AS ct,
          text
        FROM documents),
      msg AS (
        SELECT source, doc_id, uri, status, ct, text,
          'HTTP/1.1 ' || status || ' S' || e'\r\n' ||
            'Content-Type: ' || ct || e'\r\n' ||
            'Content-Length: ' || strlen(text) || e'\r\n\r\n' || text AS m
        FROM rec),
      wrec AS (
        SELECT source, doc_id, uri, status, ct, text,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: ' || uri || e'\r\n' ||
            'Content-Length: ' || strlen(m) || e'\r\n\r\n' || m AS r
        FROM msg),
      pos AS (
        SELECT source, doc_id, uri, status, ct, text,
          CAST(strlen(r) AS BIGINT) AS rlength,
          CAST(COALESCE(SUM(strlen(r) + 4) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS roffset
        FROM wrec),
      norm AS (
        SELECT *, regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(uri, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(uri, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM pos),
      parts AS (
        SELECT *,
          regexp_extract(n, '^[a-z]+://([^/?]*)', 1) AS hostport,
          regexp_replace(n, '^[a-z]+://[^/?]*', '') AS rest
        FROM norm),
      parts2 AS (
        SELECT *,
          regexp_extract(hostport, '^([^:]*)', 1) AS host,
          regexp_extract(hostport, '(:\d+)$', 1) AS prt,
          lower(regexp_extract(rest, '^([^?]*)', 1)) AS pth,
          regexp_extract(rest, '\?(.*)$', 1) AS q
        FROM parts),
      keyed AS (
        SELECT *,
          array_to_string(list_reverse(string_split(host, '.')), ',')
            || prt || ')' ||
            CASE WHEN length(pth) > 0 THEN pth ELSE '/' END ||
            CASE WHEN length(q) > 0 THEN '?' ||
              lower(array_to_string(list_sort(string_split(q, '&')),
                '&'))
              ELSE '' END AS urlkey
        FROM parts2)
      SELECT source AS filename, urlkey, roffset, rlength, status,
        lower(regexp_extract(ct, '^([^;]*)', 1)) AS mime,
        md5(text) AS digest
      FROM keyed ORDER BY filename, roffset""")

  // ---- q285: surt_key SQL door ------------------------------------------
  // The SURT key from pure SQL text: the injected scalar expands into
  // the identical Split/Reverse/ArraySort/ArrayJoin chain at
  // resolution, composed over url_normalize exactly as the Column
  // twins compose in q284 — q260's spelling variants all collapse to
  // one key per (source, path) identity, and the md5 mass over the
  // distinct keys gates every character of the key.

  private[queries] val q285: GraftQuery = GraftQuery(
    "q285_sql_surt_door",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""WITH u0 AS (
          SELECT source, concat(
            CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
              WHEN doc_id % 4 = 1 THEN 'http://'
              WHEN doc_id % 4 = 2 THEN 'https://'
              ELSE 'HTTPS://' END,
            CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
              WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END,
            source, '.example.com',
            CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
              WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
            '/p/', CAST(doc_id % 7 AS STRING),
            CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
            CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS u
          FROM documents),
        k0 AS (SELECT source, surt_key(url_normalize(u)) AS k FROM u0),
        c AS (SELECT source, count(*) AS n_urls,
            count(DISTINCT k) AS n_keys
          FROM k0 GROUP BY source),
        m AS (SELECT source, CAST(sum(CAST(conv(substring(md5(k), 1, 8),
              16, 10) AS BIGINT)) AS BIGINT) AS key_mass
          FROM (SELECT DISTINCT source, k FROM k0) GROUP BY source)
        SELECT c.source, c.n_urls, c.n_keys, m.key_mass
        FROM c JOIN m ON c.source = m.source ORDER BY c.source""")
    },
    Some(surtOracleSql))

  /** The q285 oracle: q260's variant builder + normalize replay, then
    * the SURT chain replay, then the distinct-key census. */
  private[queries] lazy val surtOracleSql: String =
    ("""WITH u0 AS (
        SELECT source,
          CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
            WHEN doc_id % 4 = 1 THEN 'http://'
            WHEN doc_id % 4 = 2 THEN 'https://'
            ELSE 'HTTPS://' END ||
          CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
            WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END ||
          source || '.example.com' ||
          CASE WHEN doc_id % 5 = 0 AND doc_id % 4 < 2 THEN ':80'
            WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
          '/p/' || (doc_id % 7) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS u
        FROM documents),
      norm AS (
        SELECT source, regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM u0),
      parts AS (
        SELECT source, n,
          regexp_extract(n, '^[a-z]+://([^/?]*)', 1) AS hostport,
          regexp_replace(n, '^[a-z]+://[^/?]*', '') AS rest
        FROM norm),
      parts2 AS (
        SELECT source,
          regexp_extract(hostport, '^([^:]*)', 1) AS host,
          regexp_extract(hostport, '(:\d+)$', 1) AS prt,
          lower(regexp_extract(rest, '^([^?]*)', 1)) AS pth,
          regexp_extract(rest, '\?(.*)$', 1) AS q
        FROM parts),
      k0 AS (
        SELECT source,
          array_to_string(list_reverse(string_split(host, '.')), ',')
            || prt || ')' ||
            CASE WHEN length(pth) > 0 THEN pth ELSE '/' END ||
            CASE WHEN length(q) > 0 THEN '?' ||
              lower(array_to_string(list_sort(string_split(q, '&')),
                '&'))
              ELSE '' END AS k
        FROM parts2),
      c AS (SELECT source, count(*) AS n_urls,
          count(DISTINCT k) AS n_keys
        FROM k0 GROUP BY source),
      m AS (SELECT source, CAST(sum(CAST(concat('0x',
            substring(md5(k), 1, 8)) AS BIGINT)) AS BIGINT) AS key_mass
        FROM (SELECT DISTINCT source, k FROM k0) GROUP BY source)
      SELECT c.source, c.n_urls, c.n_keys, m.key_mass
      FROM c JOIN m ON c.source = m.source ORDER BY c.source""")

  // ---- q286: link-authority crawl prioritization -------------------------
  // The frontier-ORDERING signal the politeness stack doesn't have:
  // which hosts DESERVE fetch budget. Composes the crawl loop's own
  // discovery output into centrality — extracted anchors → host link
  // graph (self-edges dropped, symmetrized: Graph.pageRank's dangling
  // policy) → 3 damped integer PageRank rounds → per-host fetch-budget
  // allocation (score-proportional integer split). The fixture links
  // each source host to a PREFIX of the hub set sized by
  // length(source) % 3 + 1 (hub index doc_id % 3 — coprime to the
  // testdata's per-source stride 20, so every index occurs within
  // every source), so host degrees differ and the scores carry real
  // structure (a complete bipartite fixture would reduce PR to
  // degree). The oracle replays extraction, normalization, the edge
  // build and all three PR rounds in the same int64 DIV arithmetic —
  // a drifted join or a float anywhere flips the budget split.

  private[queries] val q286: GraftQuery = GraftQuery(
    "q286_crawl_authority",
    (s, d) => {
      val id = col("doc_id")
      val site = concat(lit("https://"), col("source"),
        lit(".example.com"))
      val page = concat(site, lit("/sec/page.html"))
      val html = concat(lit("<html><body>"),
        when(id % 3 <= length(col("source")) % 3,
          concat(lit("<a href=\"http://h"), id % 3,
            lit(".example.com/\">e</a>"))).otherwise(lit("")),
        lit("<a href='/p/"), id % 7, lit("'>i</a></body></html>"))
      val raw = docs(s, d).select(col("source"),
          concat(col("source"), lit(".example.com")).as("page_host"),
          explode(extractLinks(html, page)).as("u"))
        .withColumn("n", urlNormalize(col("u")))
        .withColumn("host",
          regexp_extract(col("n"), "^https?://([^/]+)", 1))
      val counts = raw.select(col("n"), col("host")).distinct()
        .groupBy(col("host")).agg(count(lit(1)).as("n_urls"))
      val hp = raw.filter(col("host") =!= col("page_host"))
        .select(col("page_host").as("a"), col("host").as("b")).distinct()
      val edges = hp
        .union(hp.select(col("b").as("a"), col("a").as("b")))
      val pr = graft.operators.Graph.pageRank(edges, "a", "b",
        iters = 3, assumeDistinct = true)
      val total = pr.agg(sum(col("score")).as("t"))
      pr.join(counts, col("node") === col("host"))
        .crossJoin(broadcast(total))
        .select(col("host"), col("score"), col("n_urls"),
          expr("(score * 10000L) div t").as("fetch_budget"))
        .orderBy(col("score").desc, col("host"))
    },
    Some("""WITH pages AS (
        SELECT source, source || '.example.com' AS page_host,
          'https://' || source || '.example.com' AS site,
          '<html><body>' ||
          CASE WHEN doc_id % 3 <= length(source) % 3
            THEN '<a href="http://h' || (doc_id % 3) ||
              '.example.com/">e</a>'
            ELSE '' END ||
          '<a href=''/p/' || (doc_id % 7) || '''>i</a></body></html>'
            AS html
        FROM documents),
      links AS (
        SELECT source, page_host, unnest(list_filter(list_transform(
          regexp_extract_all(html,
            '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["'']', 1),
          h -> CASE WHEN regexp_matches(h, '^https?://') THEN h
            WHEN regexp_matches(h, '^/') THEN site || h
            ELSE NULL END), x -> x IS NOT NULL)) AS u
        FROM pages),
      norm AS (
        SELECT source, page_host,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM links),
      f AS (SELECT DISTINCT n,
          regexp_extract(n, '^https?://([^/]+)', 1) AS host
        FROM norm),
      counts AS (SELECT host, count(*) AS n_urls FROM f GROUP BY host),
      hp AS (SELECT DISTINCT page_host AS a,
          regexp_extract(n, '^https?://([^/]+)', 1) AS b
        FROM norm
        WHERE regexp_extract(n, '^https?://([^/]+)', 1) <> page_host),
      e AS (SELECT a, b FROM hp UNION SELECT b, a FROM hp),
      nd AS (SELECT DISTINCT a AS node FROM e),
      c AS (SELECT count(*) AS nn FROM nd),
      deg AS (SELECT a, count(*) AS d FROM e GROUP BY a),
      r0 AS (SELECT node, 1000000000000 // c.nn AS base,
          1000000000000 // c.nn AS r FROM nd, c),
      i1 AS (SELECT e.b AS node, sum(r0.r // deg.d) AS m
        FROM r0 JOIN deg ON deg.a = r0.node JOIN e ON e.a = r0.node
        GROUP BY e.b),
      r1 AS (SELECT r0.node, r0.base,
          (15 * r0.base) // 100 + (85 * coalesce(i1.m, 0)) // 100 AS r
        FROM r0 LEFT JOIN i1 ON i1.node = r0.node),
      i2 AS (SELECT e.b AS node, sum(r1.r // deg.d) AS m
        FROM r1 JOIN deg ON deg.a = r1.node JOIN e ON e.a = r1.node
        GROUP BY e.b),
      r2 AS (SELECT r1.node, r1.base,
          (15 * r1.base) // 100 + (85 * coalesce(i2.m, 0)) // 100 AS r
        FROM r1 LEFT JOIN i2 ON i2.node = r1.node),
      i3 AS (SELECT e.b AS node, sum(r2.r // deg.d) AS m
        FROM r2 JOIN deg ON deg.a = r2.node JOIN e ON e.a = r2.node
        GROUP BY e.b),
      r3 AS (SELECT r2.node, r2.base,
          (15 * r2.base) // 100 + (85 * coalesce(i3.m, 0)) // 100 AS r
        FROM r2 LEFT JOIN i3 ON i3.node = r2.node),
      t AS (SELECT sum(r) AS t FROM r3)
      SELECT r3.node AS host, CAST(r3.r AS BIGINT) AS score,
        counts.n_urls,
        CAST((r3.r * 10000) // t.t AS BIGINT) AS fetch_budget
      FROM r3 JOIN counts ON r3.node = counts.host, t
      ORDER BY score DESC, host"""))

  // ---- q287: conditional revisit (ETag / 304) ----------------------------
  // The recrawl's ECONOMICS: a crawler that re-downloads unchanged
  // pages wastes most of its bandwidth. Round 1's captures retain the
  // validator (`ETag`) and payload digest; the round-2 fetch sends the
  // validator back, and the server answers 304 (empty body, validator
  // echoed — the prior capture still stands, its digest carries
  // forward, zero bytes re-downloaded) or 200 with new content and a
  // NEW validator. The whole exchange rides the real seam — rendered
  // as WARC response records, re-parsed, split — so a missed ETag
  // header or a body fed to the digest on a 304 flips the census. The
  // oracle replays render, parse, split, the validator echo and the
  // digest carry-forward.

  private[queries] val q287: GraftQuery = GraftQuery(
    "q287_conditional_revisit",
    (s, d) => {
      import graft.sources.Warc
      val id = col("doc_id")
      val uri = concat(lit("http://"), col("source"), lit("/"), id)
      val etag1 = concat(lit("\""), substring(md5(col("text")), 1, 12),
        lit("\""))
      val prior = docs(s, d).select(uri.as("uri"),
        etag1.as("prior_etag"), md5(col("text")).as("prior_digest"),
        octet_length(col("text")).cast(LongType).as("prior_octets"))
      val changed = id % 3 =!= 0
      val status2 = when(changed, lit(200)).otherwise(lit(304))
      val body2 = when(changed, concat(col("text"), lit(" v2")))
        .otherwise(lit(""))
      val etag2 = when(changed,
        concat(lit("\""),
          substring(md5(concat(col("text"), lit(" v2"))), 1, 12),
          lit("\""))).otherwise(etag1)
      val blobs = docs(s, d).select(col("source"), id.as("doc_id"),
          Warc.record(uri, Warc.httpResponse(status2, lit("text/html"),
            body2, concat(lit("ETag: "), etag2, lit("\r\n")))).as("r"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"),
            col("r").as("r")))),
          e => e.getField("r")), "\r\n\r\n").as("blob"))
      Warc.httpSplit(Warc.parseRecords(blobs, "blob"), "payload")
        .join(prior, Seq("uri"))
        .withColumn("not_modified", col("http_status") === 304)
        .withColumn("digest",
          when(col("not_modified"), col("prior_digest"))
            .otherwise(md5(col("body"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_fetches"),
          sum(when(col("not_modified"), 1L).otherwise(0L)).as("n_304"),
          sum(when(col("etag") === col("prior_etag"), 1L).otherwise(0L))
            .as("n_tag_match"),
          sum(when(col("not_modified"), col("prior_octets"))
            .otherwise(0L)).cast(LongType).as("octets_saved"),
          sum(conv(substring(col("digest"), 1, 8), 16, 10)
            .cast(LongType)).cast(LongType).as("digest_mass"))
        .orderBy(col("source"))
    },
    Some("""WITH base AS (
        SELECT source, doc_id,
          'http://' || source || '/' || doc_id AS uri, text,
          '"' || substring(md5(text), 1, 12) || '"' AS etag1,
          md5(text) AS digest1, strlen(text) AS octets1,
          doc_id % 3 <> 0 AS changed
        FROM documents),
      r2 AS (
        SELECT *,
          CASE WHEN changed THEN 200 ELSE 304 END AS status2,
          CASE WHEN changed THEN text || ' v2' ELSE '' END AS body2,
          CASE WHEN changed
            THEN '"' || substring(md5(text || ' v2'), 1, 12) || '"'
            ELSE etag1 END AS etag2
        FROM base),
      msg AS (
        SELECT source, doc_id, uri, etag1, digest1, octets1,
          'HTTP/1.1 ' || status2 || ' S' || e'\r\n' ||
            'Content-Type: text/html' || e'\r\n' ||
            'ETag: ' || etag2 || e'\r\n' ||
            'Content-Length: ' || strlen(body2) || e'\r\n\r\n' ||
            body2 AS m
        FROM r2),
      wrec AS (
        SELECT source, doc_id,
          'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n' ||
            'WARC-Target-URI: ' || uri || e'\r\n' ||
            'Content-Length: ' || strlen(m) || e'\r\n\r\n' || m AS r
        FROM msg),
      blobs AS (
        SELECT source, string_agg(r, e'\r\n\r\n' ORDER BY doc_id) AS blob
        FROM wrec GROUP BY source),
      split_r AS (
        SELECT source, unnest(regexp_split_to_array(blob,
          '\r\n\r\nWARC/1\.0\r\n')) AS rc
        FROM blobs),
      norm AS (
        SELECT source, regexp_replace(rc, '^WARC/1\.0\r\n', '') AS rc
        FROM split_r WHERE length(rc) > 0),
      parsed AS (
        SELECT source,
          regexp_extract(rc, 'WARC-Target-URI: ([^\r]*)', 1) AS uri,
          regexp_extract(rc, '(?s)\r\n\r\n(.*)$', 1) AS payload
        FROM norm),
      http AS (
        SELECT source, uri,
          TRY_CAST(regexp_extract(payload,
            '^HTTP/\d(?:\.\d)? (\d{3})', 1) AS INTEGER) AS status,
          regexp_extract(regexp_extract(payload,
            '(?s)^(.*?)\r\n\r\n', 1),
            '(?im)^ETag:[ \t]*([^\r\n]*)', 1) AS etag_r,
          regexp_extract(payload, '(?s)^.*?\r\n\r\n(.*)$', 1) AS body
        FROM parsed),
      fin AS (
        SELECT h.source, h.status = 304 AS not_modified, h.etag_r,
          b.etag1, b.octets1,
          CASE WHEN h.status = 304 THEN b.digest1 ELSE md5(h.body) END
            AS digest
        FROM http h JOIN base b ON h.uri = b.uri)
      SELECT source, count(*) AS n_fetches,
        CAST(sum(CASE WHEN not_modified THEN 1 ELSE 0 END) AS BIGINT)
          AS n_304,
        CAST(sum(CASE WHEN etag_r = etag1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tag_match,
        CAST(sum(CASE WHEN not_modified THEN octets1 ELSE 0 END)
          AS BIGINT) AS octets_saved,
        CAST(sum(CAST(concat('0x', substring(digest, 1, 8)) AS BIGINT))
          AS BIGINT) AS digest_mass
      FROM fin GROUP BY source ORDER BY source"""))

  // ---- q288: registered-domain quality prior -----------------------------
  // Domain-LEVEL curation (the C4/FineWeb shape): per-doc quality
  // signals roll up to the REGISTERED domain (news.x.co.uk and
  // x.co.uk are one publisher — the effective-TLD heuristic decides
  // where registration starts), and the domain's mean quality against
  // the corpus mean becomes the keep/filter prior every doc of that
  // domain inherits. Integer ppm arithmetic end to end (the 6dp
  // ratio is exact DECIMAL, so both engines agg identically). The
  // oracle replays host build, suffix classification, the ppm
  // integerization and both means.

  private[queries] val q288: GraftQuery = GraftQuery(
    "q288_domain_prior",
    (s, d) => {
      val id = col("doc_id")
      // modulus 7 is coprime to the testdata's per-source doc_id
      // stride (20), so every host shape occurs WITHIN every source —
      // the subdomain rollup (two hosts, one domain) is exercised per
      // source, not just across the corpus
      val m7 = id % 7
      val host = when(m7 === 0,
          concat(lit("news."), col("source"), lit(".co.uk")))
        .when(m7 === 1, concat(col("source"), lit(".co.uk")))
        .when(m7 === 2 || m7 === 5,
          concat(lit("a.b."), col("source"), lit(".com")))
        .when(m7 === 4, concat(col("source"), lit(".io")))
        .otherwise(concat(lit("cdn."), col("source"), lit(".com")))
      val perDoc = docs(s, d).select(
        registeredDomain(host).as("domain"), host.as("host"),
        (qualityMetrics(col("text")).getField("stopword_ratio")
          .cast(DecimalType(12, 6)) * 1000000).cast(LongType).as("q_ppm"))
      val agg = perDoc.groupBy(col("domain"))
        .agg(countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_docs"),
          expr("sum(q_ppm) div count(1)").as("mean_ppm"))
      val global = perDoc.agg(
        expr("sum(q_ppm) div count(1)").as("g_ppm"))
      agg.crossJoin(broadcast(global))
        .withColumn("kept", col("mean_ppm") >= col("g_ppm"))
        .select(col("domain"), col("n_hosts"), col("n_docs"),
          col("mean_ppm"), col("kept"))
        .orderBy(col("domain"))
    },
    Some("""WITH m AS (
        SELECT source, doc_id,
          CASE WHEN doc_id % 7 = 0 THEN 'news.' || source || '.co.uk'
            WHEN doc_id % 7 = 1 THEN source || '.co.uk'
            WHEN doc_id % 7 IN (2, 5) THEN 'a.b.' || source || '.com'
            WHEN doc_id % 7 = 4 THEN source || '.io'
            ELSE 'cdn.' || source || '.com' END AS host,
          CAST(CAST(round(len(list_filter(list_filter(
              regexp_split_to_array(lower(text), '\s+'),
              x -> length(x) > 0),
              t -> list_contains(['the','a','an','and','or','of','in',
                'to','is','it','that','for','on','with','as'], t)))
            / greatest(len(list_filter(regexp_split_to_array(lower(text),
                '\s+'), x -> length(x) > 0)), 1), 6) AS DECIMAL(12,6))
            * 1000000 AS BIGINT) AS q_ppm
        FROM documents),
      dom AS (SELECT *, string_split(host, '.') AS parts FROM m),
      dom2 AS (
        SELECT host, q_ppm,
          CASE WHEN len(parts) <= 2 THEN host
            WHEN (parts[-2] || '.' || parts[-1]) IN ('co.uk','org.uk',
              'ac.uk','gov.uk','com.au','net.au','org.au','co.jp',
              'ac.jp','co.kr','com.br','com.cn','com.mx','co.in',
              'co.nz')
              THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
            ELSE parts[-2] || '.' || parts[-1] END AS domain
        FROM dom),
      agg AS (SELECT domain, count(DISTINCT host) AS n_hosts,
          count(*) AS n_docs, sum(q_ppm) // count(*) AS mean_ppm
        FROM dom2 GROUP BY domain),
      g AS (SELECT sum(q_ppm) // count(*) AS g_ppm FROM dom2)
      SELECT domain, n_hosts, n_docs, CAST(mean_ppm AS BIGINT)
          AS mean_ppm,
        mean_ppm >= g.g_ppm AS kept
      FROM agg, g ORDER BY domain"""))

  // ---- q289: domain blocklist gate ---------------------------------------
  // The UT1-blocklist shape: a TABLE of banned registered domains
  // (here minted deterministically — md5-first-hex < '4', ~25% of
  // domains — so the oracle rebuilds the identical list), and the
  // corpus gated by a BROADCAST anti-join on the rolled-up domain —
  // the blocklist is list-sized (millions at worst), the corpus is
  // the 100 TB side, so the ban ships to the data and no shuffle
  // touches the corpus. Subdomains inherit the ban through
  // registeredDomain (blocking x.com must block a.b.x.com — a
  // host-keyed gate would miss every subdomain). The census counts
  // blocked vs kept per source with an md5 mass over kept hosts.

  private[queries] val q289: GraftQuery = GraftQuery(
    "q289_domain_blocklist",
    (s, d) => {
      val id = col("doc_id")
      val m7 = id % 7
      val host = when(m7 === 0,
          concat(lit("news."), col("source"), lit(".co.uk")))
        .when(m7 === 1, concat(col("source"), lit(".co.uk")))
        .when(m7 === 2 || m7 === 5,
          concat(lit("a.b."), col("source"), lit(".com")))
        .when(m7 === 4, concat(col("source"), lit(".io")))
        .otherwise(concat(lit("cdn."), col("source"), lit(".com")))
      val dd = docs(s, d).select(col("source"), host.as("host"))
        .withColumn("domain", registeredDomain(col("host")))
      val blocklist = dd.select(col("domain")).distinct()
        .filter(substring(md5(col("domain")), 1, 1)
          .isin("0", "1", "2", "3"))
      val kept = dd.join(broadcast(blocklist), Seq("domain"), "left_anti")
      val tot = dd.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val kc = kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(conv(substring(md5(col("host")), 1, 8), 16, 10)
            .cast(LongType)).cast(LongType).as("kept_mass"))
      tot.join(kc, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L)))
            .as("n_blocked"),
          coalesce(col("kept_mass"), lit(0L)).as("kept_mass"))
        .orderBy(col("source"))
    },
    Some("""WITH dd AS (
        SELECT source,
          CASE WHEN doc_id % 7 = 0 THEN 'news.' || source || '.co.uk'
            WHEN doc_id % 7 = 1 THEN source || '.co.uk'
            WHEN doc_id % 7 IN (2, 5) THEN 'a.b.' || source || '.com'
            WHEN doc_id % 7 = 4 THEN source || '.io'
            ELSE 'cdn.' || source || '.com' END AS host
        FROM documents),
      dom AS (SELECT source, host, string_split(host, '.') AS parts
        FROM dd),
      dom2 AS (
        SELECT source, host,
          CASE WHEN len(parts) <= 2 THEN host
            WHEN (parts[-2] || '.' || parts[-1]) IN ('co.uk','org.uk',
              'ac.uk','gov.uk','com.au','net.au','org.au','co.jp',
              'ac.jp','co.kr','com.br','com.cn','com.mx','co.in',
              'co.nz')
              THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
            ELSE parts[-2] || '.' || parts[-1] END AS domain
        FROM dom),
      bl AS (SELECT DISTINCT domain FROM dom2
        WHERE substring(md5(domain), 1, 1) IN ('0', '1', '2', '3')),
      kept AS (SELECT d.* FROM dom2 d
        WHERE NOT EXISTS (SELECT 1 FROM bl WHERE bl.domain = d.domain)),
      tot AS (SELECT source, count(*) AS n_docs FROM dom2
        GROUP BY source),
      kc AS (SELECT source, count(*) AS n_kept,
          CAST(sum(CAST(concat('0x', substring(md5(host), 1, 8))
            AS BIGINT)) AS BIGINT) AS kept_mass
        FROM kept GROUP BY source)
      SELECT t.source, t.n_docs, coalesce(kc.n_kept, 0) AS n_kept,
        t.n_docs - coalesce(kc.n_kept, 0) AS n_blocked,
        coalesce(kc.kept_mass, 0) AS kept_mass
      FROM tot t LEFT JOIN kc ON t.source = kc.source
      ORDER BY t.source"""))

  // ---- q291: anchor-text census (the WAT-shaped signal) ------------------
  // What the rest of the web CALLS a page: `extractAnchors` pairs
  // each href with its anchor text under ONE pattern (so href and
  // text can never pair off different anchors; nested-markup anchors
  // drop whole — the fixture plants one), targets resolve through
  // the extractLinks chain and normalize through urlNormalize
  // (the mixed-case wiki host collapses), internal anchors are
  // excluded, and each external target gets its incoming-anchor
  // count, distinct referring hosts, and top-3 anchor TERMS (count
  // desc, term asc — the rank-window idiom WindowTopKRewrite lowers
  // onto the bounded-heap node; the window ranks the collapsed
  // (target, term) census, never raw anchors). This is how web
  // corpora mint query-independent titles/keywords for pages and a
  // core retrieval signal (WAT files exist to carry it).

  private[queries] val q291: GraftQuery = GraftQuery(
    "q291_anchor_text_census",
    (s, d) => {
      val id = col("doc_id")
      val site = concat(lit("https://"), col("source"),
        lit(".example.com"))
      val page = concat(site, lit("/sec/"), id % 3, lit("/page.html"))
      val phrase = when(id % 4 === 0, "Best Cheap Deals")
        .when(id % 4 === 1, "best deals today")
        .when(id % 4 === 2, "Review and deals")
        .otherwise("cheap review")
      val html = concat(
        lit("<html><body><a href=\"http://hub.example.com/p/"), id % 7,
        lit("\">"), phrase,
        lit("</a><a href='/p/"), id % 5,
        lit("'>internal nav</a><a href=\"https://WIKI.example.org/w/"),
        id % 4,
        lit("/\">wiki "), id % 2,
        lit(" entry</a><a href=\"http://hub.example.com/x\">" +
          "<b>nested</b></a></body></html>"))
      val anchors = docs(s, d)
        .select(col("source"), site.as("site"),
          explode(extractAnchors(html, page)).as("a"))
        .select(col("source"),
          urlNormalize(col("a.url")).as("target"),
          lower(col("a.text")).as("t"), col("site"))
        .where(substring(col("target"), lit(1), length(col("site"))) =!=
          col("site"))
        .select(col("source"), col("target"), col("t"))
      val tot = anchors.groupBy(col("target"))
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("source")).as("n_hosts"))
      val terms = anchors
        .select(col("target"),
          explode(split(col("t"), "\\s+")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy(col("target"), col("term"))
        .agg(count(lit(1)).as("term_count"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("target"))
        .orderBy(col("term_count").desc, col("term").asc)
      terms.withColumn("rank", row_number().over(w).cast(LongType))
        .where(col("rank") <= 3)
        .join(tot, Seq("target"))
        .select(col("target"), col("n_anchors"), col("n_hosts"),
          col("rank"), col("term"), col("term_count"))
        .orderBy(col("target"), col("rank"))
    },
    Some("""WITH pages AS (
        SELECT doc_id, source,
          'https://' || source || '.example.com' AS site,
          '<html><body><a href="http://hub.example.com/p/' ||
          (doc_id % 7) || '">' ||
          CASE WHEN doc_id % 4 = 0 THEN 'Best Cheap Deals'
            WHEN doc_id % 4 = 1 THEN 'best deals today'
            WHEN doc_id % 4 = 2 THEN 'Review and deals'
            ELSE 'cheap review' END ||
          '</a><a href=''/p/' || (doc_id % 5) ||
          '''>internal nav</a><a href="https://WIKI.example.org/w/' ||
          (doc_id % 4) || '/">wiki ' || (doc_id % 2) ||
          ' entry</a><a href="http://hub.example.com/x">' ||
          '<b>nested</b></a></body></html>' AS html
        FROM documents),
      pairs AS (
        SELECT source, site,
          unnest(regexp_extract_all(html,
            '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*>([^<]*)</a>',
            1)) AS h,
          unnest(regexp_extract_all(html,
            '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*>([^<]*)</a>',
            2)) AS t
        FROM pages),
      resolved AS (
        SELECT source, site,
          CASE WHEN regexp_matches(h, '^https?://') THEN h
            WHEN regexp_matches(h, '^//') THEN NULL
            WHEN regexp_matches(h, '^/') THEN site || h
            ELSE NULL END AS u,
          lower(t) AS t
        FROM pairs),
      norm AS (
        SELECT source, site, t,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS target
        FROM resolved WHERE u IS NOT NULL),
      ext AS (
        SELECT source, target, t FROM norm
        WHERE substring(target, 1, length(site)) <> site),
      tot AS (
        SELECT target, count(*) AS n_anchors,
          count(DISTINCT source) AS n_hosts
        FROM ext GROUP BY target),
      terms AS (
        SELECT target, term, count(*) AS term_count
        FROM (SELECT target, unnest(string_split_regex(t, '\s+')) AS term
          FROM ext)
        WHERE length(term) > 0
        GROUP BY target, term),
      ranked AS (
        SELECT target, term, term_count,
          row_number() OVER (PARTITION BY target
            ORDER BY term_count DESC, term ASC) AS rank
        FROM terms)
      SELECT r.target, tot.n_anchors, tot.n_hosts,
        CAST(r.rank AS BIGINT) AS rank, r.term, r.term_count
      FROM ranked r JOIN tot ON r.target = tot.target
      WHERE r.rank <= 3
      ORDER BY r.target, r.rank"""))

  // ---- q296: the anchor census from pure SQL text ------------------------
  // q291 reached entirely through the parser: `extract_anchors` and
  // `extract_links` expand AT RESOLUTION into the identical Column
  // chains the Scala surface builds (GraftPlanBridge.columnOf/exprOf —
  // these chains carry zip_with/filter lambdas, impractical as
  // hand-built raw trees, which is why the earlier lambda-free doors
  // re-spelled their chains node by node), url_normalize is the
  // existing door, and the rank window is plain SQL. The oracle IS
  // q291's, verbatim — the doors must add no semantics.

  private[queries] val q296: GraftQuery = GraftQuery(
    "q296_sql_anchor_census",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""WITH pages AS (
          SELECT source,
            concat('https://', source, '.example.com') AS site,
            concat('https://', source, '.example.com/sec/',
              doc_id % 3, '/page.html') AS page,
            concat('<html><body><a href="http://hub.example.com/p/',
              doc_id % 7, '">',
              CASE WHEN doc_id % 4 = 0 THEN 'Best Cheap Deals'
                WHEN doc_id % 4 = 1 THEN 'best deals today'
                WHEN doc_id % 4 = 2 THEN 'Review and deals'
                ELSE 'cheap review' END,
              '</a><a href=''/p/', doc_id % 5,
              '''>internal nav</a>',
              '<a href="https://WIKI.example.org/w/', doc_id % 4,
              '/">wiki ', doc_id % 2, ' entry</a>',
              '<a href="http://hub.example.com/x"><b>nested</b></a>',
              '</body></html>') AS html
          FROM documents),
        anchors AS (
          SELECT source, site, a.url AS u, lower(a.text) AS t
          FROM pages LATERAL VIEW explode(extract_anchors(html, page))
            g AS a),
        ext AS (
          SELECT source, url_normalize(u) AS target, t
          FROM anchors
          WHERE substring(url_normalize(u), 1, length(site)) <> site),
        tot AS (SELECT target, count(*) AS n_anchors,
            count(DISTINCT source) AS n_hosts
          FROM ext GROUP BY target),
        terms AS (
          SELECT target, term, count(*) AS term_count
          FROM (SELECT target, explode(split(t, '\\s+')) AS term
            FROM ext)
          WHERE length(term) > 0 GROUP BY target, term),
        ranked AS (
          SELECT target, term, term_count,
            row_number() OVER (PARTITION BY target
              ORDER BY term_count DESC, term ASC) AS rank
          FROM terms)
        SELECT r.target, t.n_anchors, t.n_hosts,
          CAST(r.rank AS BIGINT) AS rank, r.term, r.term_count
        FROM ranked r JOIN tot t ON r.target = t.target
        WHERE r.rank <= 3 ORDER BY r.target, r.rank""")
    },
    q291.oracle)

  // ---- q301: sitemap INDEX discovery (the two record types) --------------
  // Big sites ship a sitemap INDEX whose entries point at more
  // SITEMAPS; the flat extractor (q264's sitemapLocs) over an index
  // hands child-sitemap URLs to the frontier as if they were pages —
  // fetched once, scored as documents, never expanded. The split
  // extractors cut at the closing entry tag (RE2-safe — RE2 has no
  // lookahead, and the oracle must replay the exact cut) and route
  // each record type where it belongs: index entries to the NEXT
  // sitemap fetch pass, url entries through urlNormalize to the
  // frontier. The census also pins the confusion identity — the flat
  // extractor's count equals children + pages, which is exactly why
  // the types must be split.

  private[queries] val q301: GraftQuery = GraftQuery(
    "q301_sitemap_index",
    (s, d) => {
      val id = col("doc_id")
      val host = concat(col("source"), lit(".example.com"))
      // (id div 20) % 2: the testdata deals doc_ids mod 20 across
      // sources, so id % 2 is CONSTANT within a source — the div-20
      // parity varies within every source and both record types
      // appear everywhere
      val xml = when(expr("doc_id div 20") % 2 === 0, concat(
          lit("<sitemapindex><sitemap><lastmod>2024-01-01</lastmod>" +
            "<loc> https://"), host, lit("/sm/"), id % 5,
          lit(".xml </loc></sitemap><sitemap><loc>https://"), host,
          lit("/sm/"), id % 3,
          lit("b.xml</loc></sitemap></sitemapindex>")))
        .otherwise(concat(
          lit("<urlset><url><loc>https://"), host, lit("/p/"), id % 7,
          lit("</loc><changefreq>daily</changefreq></url><url><loc> " +
            "https://"), host, lit("/q/"), id % 4,
          lit(" </loc></url></urlset>")))
      val base = docs(s, d).select(col("source"), xml.as("xml"))
        .withColumn("idx", sitemapIndexLocs(col("xml")))
        .withColumn("pages", sitemapUrlLocs(col("xml")))
      val counts = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(size(col("idx")) > 0, 1L).otherwise(0L))
            .cast(LongType).as("n_index_docs"),
          sum(size(col("idx"))).cast(LongType).as("n_child_sitemaps"),
          sum(size(col("pages"))).cast(LongType).as("n_pages"),
          sum(size(sitemapLocs(col("xml")))).cast(LongType)
            .as("n_flat_locs"))
      val childMass = base
        .select(col("source"), explode(col("idx")).as("u")).distinct()
        .groupBy(col("source"))
        .agg(sum(conv(substring(md5(col("u")), 1, 8), 16, 10)
          .cast(LongType)).cast(LongType).as("child_mass"))
      val pageMass = base
        .select(col("source"),
          explode(col("pages")).as("u"))
        .select(col("source"), urlNormalize(col("u")).as("n")).distinct()
        .groupBy(col("source"))
        .agg(sum(conv(substring(md5(col("n")), 1, 8), 16, 10)
          .cast(LongType)).cast(LongType).as("page_mass"))
      counts.join(childMass, Seq("source")).join(pageMass, Seq("source"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (
        SELECT source,
          CASE WHEN (doc_id // 20) % 2 = 0 THEN
            '<sitemapindex><sitemap><lastmod>2024-01-01</lastmod><loc> https://'
            || source || '.example.com/sm/' || (doc_id % 5) ||
            '.xml </loc></sitemap><sitemap><loc>https://' || source ||
            '.example.com/sm/' || (doc_id % 3) ||
            'b.xml</loc></sitemap></sitemapindex>'
          ELSE
            '<urlset><url><loc>https://' || source || '.example.com/p/'
            || (doc_id % 7) ||
            '</loc><changefreq>daily</changefreq></url><url><loc> https://'
            || source || '.example.com/q/' || (doc_id % 4) ||
            ' </loc></url></urlset>' END AS xml
        FROM documents),
      b AS (
        SELECT source, xml,
          list_filter(list_transform(string_split(xml, '</sitemap>'),
            s -> regexp_extract(s,
              '(?s)<sitemap>.*<loc>\s*(.*?)\s*</loc>', 1)),
            x -> length(x) > 0) AS idx,
          list_filter(list_transform(string_split(xml, '</url>'),
            s -> regexp_extract(s,
              '(?s)<url>.*<loc>\s*(.*?)\s*</loc>', 1)),
            x -> length(x) > 0) AS pages,
          regexp_extract_all(xml, '(?s)<loc>\s*(.*?)\s*</loc>', 1)
            AS flat
        FROM d),
      counts AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN len(idx) > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_index_docs,
          CAST(sum(len(idx)) AS BIGINT) AS n_child_sitemaps,
          CAST(sum(len(pages)) AS BIGINT) AS n_pages,
          CAST(sum(len(flat)) AS BIGINT) AS n_flat_locs
        FROM b GROUP BY source),
      cm AS (
        SELECT source, CAST(sum(CAST(concat('0x',
            substring(md5(u), 1, 8)) AS BIGINT)) AS BIGINT)
            AS child_mass
        FROM (SELECT DISTINCT source, unnest(idx) AS u FROM b)
        GROUP BY source),
      pm AS (
        SELECT source, CAST(sum(CAST(concat('0x',
            substring(md5(n), 1, 8)) AS BIGINT)) AS BIGINT)
            AS page_mass
        FROM (SELECT DISTINCT source,
            regexp_replace(regexp_replace(regexp_replace(
              lower(regexp_extract(regexp_replace(u, '#.*$', ''),
                '^([A-Za-z]+://[^/]*)', 1)),
              '^(http://[^/:]*):80$', '\1'),
              '^(https://[^/:]*):443$', '\1'),
              '^(https?://)www\.', '\1') ||
            regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
              '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
          FROM (SELECT source, unnest(pages) AS u FROM b))
        GROUP BY source)
      SELECT counts.*, cm.child_mass, pm.page_mass
      FROM counts JOIN cm USING (source) JOIN pm USING (source)
      ORDER BY source"""))

  // ---- q300: reference-LM scoring from pure SQL ---------------------------
  // q292's scoring tier through the parser: the reference deal is a
  // temp view in SQL text, the `reference_lm_score` TVF runs the
  // exact Scala operator, and the output is the PER-DOC score table
  // (the q292 census consumed it; this door hands it to the SQL
  // persona raw). The oracle replays the deal, both censuses, V, the
  // smoothing and every per-doc fold — per doc, not per bucket.

  private[queries] val q300: GraftQuery = GraftQuery(
    "q300_sql_reference_lm",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW ccnet_ref AS
        SELECT * FROM documents
        WHERE CAST(conv(substring(md5(concat('ccnet:',
          CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 4 = 0""")
      s.sql("""SELECT doc_id, n_bigrams, surprisal_bits,
          milli_bits_per_bigram
        FROM reference_lm_score('documents', 'ccnet_ref',
          'doc_id', 'text')
        ORDER BY doc_id""")
    },
    Some("""WITH ref AS (
        SELECT text FROM documents
        WHERE CAST(concat('0x', substring(md5('ccnet:' || doc_id), 1, 8))
          AS BIGINT) % 4 = 0),
      rt AS (SELECT list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0) AS tk FROM ref),
      rbg AS (SELECT tk[i] || ' ' || tk[i + 1] AS bg, tk[i] AS cx
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
          FROM rt)),
      rb AS (SELECT bg, count(*) AS cb FROM rbg GROUP BY bg),
      rc AS (SELECT cx, count(*) AS cc FROM rbg GROUP BY cx),
      v AS (SELECT greatest(count(DISTINCT t), 1) AS v FROM
        (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0)) AS t FROM ref)),
      toks AS (SELECT doc_id, list_filter(regexp_split_to_array(
          lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      dbg0 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg,
          tk[i] AS cx
        FROM (SELECT doc_id, tk,
            unnest(generate_series(1, len(tk) - 1)) AS i FROM toks)),
      dbg AS (SELECT doc_id, bg, cx, count(*) AS tf
        FROM dbg0 GROUP BY 1, 2, 3),
      sc0 AS (SELECT doc_id, sum(tf) AS nb,
          sum(tf * (length(bin(coalesce(rc.cc, 0) + v.v)) -
            length(bin(coalesce(rb.cb, 0) + 1)))) AS bits
        FROM dbg LEFT JOIN rb USING (bg) LEFT JOIN rc USING (cx)
          CROSS JOIN v
        GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(sc0.nb, 0) AS BIGINT) AS n_bigrams,
        CAST(coalesce(sc0.bits, 0) AS BIGINT) AS surprisal_bits,
        CAST(CASE WHEN coalesce(sc0.nb, 0) = 0 THEN 0
          ELSE (sc0.bits * 1000) // sc0.nb END AS BIGINT)
          AS milli_bits_per_bigram
      FROM documents d LEFT JOIN sc0 USING (doc_id)
      ORDER BY d.doc_id"""))

  // ---- q297: priority-ordered polite fetch schedule -----------------------
  // The last composition the crawl stack lacked: politeness decides
  // WHEN a host is served (the delay stride, q271), authority decides
  // WHAT of that host's queue goes first — and priority must never
  // buy RATE, only position in the host's own line (a scheduler that
  // lets popular hosts jump the delay is impolite by construction).
  // Frontier = q291-shaped discovery (hub pages linked from every
  // source, a /q/ section linked only from even sources — so
  // in-degrees VARY within the hub host and the priority order is
  // load-bearing), priority = distinct referring hosts per normalized
  // target, delays minted per host. The oracle replays extraction,
  // resolution, normalization, the in-degree census, the md5 shard
  // deal, the priority-ordered rank and the delay-multiplied stride.

  private[queries] val q297: GraftQuery = GraftQuery(
    "q297_authority_schedule",
    (s, d) => {
      val id = col("doc_id")
      val site = concat(lit("https://"), col("source"),
        lit(".example.com"))
      val page = concat(site, lit("/sec/"), id % 3, lit("/page.html"))
      val html = concat(
        lit("<html><body><a href=\"http://hub.example.com/p/"), id % 7,
        lit("\">p</a>"),
        when(id % 2 === 0,
          concat(lit("<a href=\"http://hub.example.com/q/"), id % 5,
            lit("\">q</a>"))).otherwise(lit("")),
        lit("<a href='/p/"), id % 5,
        lit("'>i</a><a href=\"https://WIKI.example.org/w/"), id % 4,
        lit("/\">w</a></body></html>"))
      val raw = docs(s, d).select(col("source"),
          concat(col("source"), lit(".example.com")).as("page_host"),
          explode(extractLinks(html, page)).as("u"))
        .withColumn("n", urlNormalize(col("u")))
      val frontier = raw.select(col("n"), col("page_host")).distinct()
        .groupBy(col("n")).agg(count(lit(1)).as("indeg"))
        .withColumn("host",
          regexp_extract(col("n"), "^https?://([^/]+)", 1))
      val delays = frontier.select(col("host")).distinct()
        .withColumn("delay_s", (length(col("host")) % 3 + 1)
          .cast(LongType))
      DatasetOps.politeFetchSchedule(frontier, "n", "host", delays,
          nShards = 8, priorityCol = Some("indeg"))
        .select(col("vtime"), col("host"), col("n"), col("src_rank"),
          col("shard"), col("indeg"))
        .orderBy(col("vtime"), col("host"), col("n"))
        .limit(60)
    },
    Some("""WITH pages AS (
        SELECT source, source || '.example.com' AS page_host,
          'https://' || source || '.example.com' AS site,
          '<html><body><a href="http://hub.example.com/p/' ||
          (doc_id % 7) || '">p</a>' ||
          CASE WHEN doc_id % 2 = 0
            THEN '<a href="http://hub.example.com/q/' || (doc_id % 5)
              || '">q</a>' ELSE '' END ||
          '<a href=''/p/' || (doc_id % 5) || '''>i</a>' ||
          '<a href="https://WIKI.example.org/w/' || (doc_id % 4) ||
          '/">w</a></body></html>' AS html
        FROM documents),
      links AS (
        SELECT source, page_host, unnest(list_filter(list_transform(
          regexp_extract_all(html,
            '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["'']', 1),
          h -> CASE WHEN regexp_matches(h, '^https?://') THEN h
            WHEN regexp_matches(h, '^/') THEN site || h
            ELSE NULL END), x -> x IS NOT NULL)) AS u
        FROM pages),
      norm AS (
        SELECT page_host,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(u, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(u, '#.*$', ''),
            '^[A-Za-z]+://[^/]*', ''), '^([^?]*?)/+$', '\1') AS n
        FROM links),
      f AS (
        SELECT n, count(DISTINCT page_host) AS indeg,
          regexp_extract(n, '^https?://([^/]+)', 1) AS host
        FROM norm GROUP BY n),
      d2 AS (
        SELECT host, length(host) % 3 + 1 AS delay_s
        FROM (SELECT DISTINCT host FROM f)),
      s2 AS (
        SELECT f.n, f.indeg, f.host, d2.delay_s,
          CAST(concat('0x', substring(md5('mix:' || f.n), 1, 8))
            AS BIGINT) % 8 AS shard
        FROM f JOIN d2 ON f.host = d2.host),
      r AS (
        SELECT n, indeg, host, delay_s, shard,
          (row_number() OVER (PARTITION BY host, shard
            ORDER BY indeg DESC, n ASC) - 1) * 8 + shard + 1 AS src_rank
        FROM s2)
      SELECT CAST(src_rank * 1000000 * delay_s AS BIGINT) AS vtime,
        host, n, CAST(src_rank AS BIGINT) AS src_rank,
        CAST(shard AS BIGINT) AS shard, indeg
      FROM r ORDER BY vtime, host, n LIMIT 60"""))

  // ---- q292: CCNet reference-LM quality terciles --------------------------
  // The CCNet gate (Wenzek et al. 2020): an LM trained on a REFERENCE
  // corpus scores the crawl, and each language splits into
  // head/middle/tail perplexity terciles — "looks like the reference"
  // as the quality signal, where the self-corpus models (q157/q179)
  // score crawl boilerplate as predictable BECAUSE the crawl is full
  // of it. Reference = the md5-deterministic 25% of docs (both
  // engines rebuild it); scoring = add-one-smoothed bigram bits in
  // exact bitlen arithmetic (DatasetOps.referenceLmScores). Per-doc
  // scores collapse FIRST to the (lang, scored, milli) census —
  // everything downstream (tercile cutoffs AND the bucket report) is
  // a function of that small table, so the scoring pipeline runs
  // once, never a corpus-wide ntile sort (the first cut consumed the
  // per-doc scores twice and Catalyst cloned the whole scoring
  // pipeline per consumer — 30 parquet scans / 112 aggregates in one
  // plan; the census + lineage cut lands the warm steady state at
  // ~1.8 s for sf0.1, with the cold first pass billing to codegen
  // warmup like every first pass).
  // Cutoffs are the q208 rank arithmetic over the per-lang cumulative
  // census; sub-2-token docs land in 'unscored' rather than
  // masquerading as maximally clean. The oracle replays the
  // reference deal, both LM censuses, the vocabulary size, the
  // smoothing, every per-doc fold, the quantile ranks and the
  // bucket CASE.

  private[queries] val q292: GraftQuery = GraftQuery(
    "q292_ccnet_lm_buckets",
    (s, d) => {
      val dd = docs(s, d)
      val ref = dd.where(
        DatasetOps.md5Draw("ccnet", col("doc_id")) % 4 === 0)
      // eager pin: THREE consumers (cumulative census,
      // rank totals, bucket report) read this census — without the
      // lineage cut Catalyst clones the whole scoring pipeline per
      // consumer (measured: 30 parquet scans / 112 aggregates in one
      // plan; with it the scoring runs once)
      val c = DatasetOps.referenceLmScores(dd, ref, "doc_id", "text")
        .groupBy(col("lang"), (col("n_bigrams") > 0).as("scored"),
          col("milli_bits_per_bigram").as("milli"))
        .agg(count(lit(1)).as("cnt"))
        .pin()
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("milli"))
      val cum = c.where(col("scored"))
        .withColumn("cum", sum(col("cnt")).over(wl.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      val ranks = c.where(col("scored"))
        .groupBy(col("lang")).agg(sum(col("cnt")).as("_n"))
        .select(col("lang"),
          explode(array(lit(333333L), lit(666667L))).as("q_ppm"),
          col("_n"))
        .withColumn("rank_", expr("(q_ppm * _n + 999999L) div 1000000L"))
      val cuts = cum.join(ranks, Seq("lang"))
        .where(col("cum") >= col("rank_"))
        .groupBy(col("lang"), col("q_ppm"))
        .agg(min(col("milli")).as("value"))
        .groupBy(col("lang"))
        .agg(min(when(col("q_ppm") === 333333L, col("value"))).as("c1"),
          min(when(col("q_ppm") === 666667L, col("value"))).as("c2"))
      c.join(broadcast(cuts), Seq("lang"), "left")
        .withColumn("bucket",
          when(!col("scored"), "unscored")
            .when(col("milli") <= col("c1"), "head")
            .when(col("milli") <= col("c2"), "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(sum(col("cnt")).cast(LongType).as("n_docs"),
          sum(col("milli") * col("cnt")).as("_sm"))
        .withColumn("mean_milli_bits",
          expr("_sm div n_docs").cast(LongType))
        .select(col("lang"), col("bucket"), col("n_docs"),
          col("mean_milli_bits"))
        .orderBy(col("lang"), col("bucket"))
    },
    Some("""WITH ref AS (
        SELECT text FROM documents
        WHERE CAST(concat('0x', substring(md5('ccnet:' || doc_id), 1, 8))
          AS BIGINT) % 4 = 0),
      rt AS (SELECT list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0) AS tk FROM ref),
      rbg AS (SELECT tk[i] || ' ' || tk[i + 1] AS bg, tk[i] AS cx
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
          FROM rt)),
      rb AS (SELECT bg, count(*) AS cb FROM rbg GROUP BY bg),
      rc AS (SELECT cx, count(*) AS cc FROM rbg GROUP BY cx),
      v AS (SELECT greatest(count(DISTINCT t), 1) AS v FROM
        (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0)) AS t FROM ref)),
      toks AS (SELECT doc_id, list_filter(regexp_split_to_array(
          lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      dbg0 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg,
          tk[i] AS cx
        FROM (SELECT doc_id, tk,
            unnest(generate_series(1, len(tk) - 1)) AS i FROM toks)),
      dbg AS (SELECT doc_id, bg, cx, count(*) AS tf
        FROM dbg0 GROUP BY 1, 2, 3),
      sc0 AS (SELECT doc_id, sum(tf) AS nb,
          sum(tf * (length(bin(coalesce(rc.cc, 0) + v.v)) -
            length(bin(coalesce(rb.cb, 0) + 1)))) AS bits
        FROM dbg LEFT JOIN rb USING (bg) LEFT JOIN rc USING (cx)
          CROSS JOIN v
        GROUP BY doc_id),
      sc AS (SELECT d.doc_id, d.lang,
          coalesce(sc0.nb, 0) AS nb,
          CASE WHEN coalesce(sc0.nb, 0) = 0 THEN 0
            ELSE (sc0.bits * 1000) // sc0.nb END AS milli
        FROM documents d LEFT JOIN sc0 USING (doc_id)),
      cen AS (SELECT lang, milli, count(*) AS cnt FROM sc
        WHERE nb > 0 GROUP BY 1, 2),
      cum AS (SELECT lang, milli, cnt,
          sum(cnt) OVER (PARTITION BY lang ORDER BY milli) AS cum
        FROM cen),
      n AS (SELECT lang, count(*) AS n FROM sc WHERE nb > 0
        GROUP BY 1),
      q(q_ppm) AS (SELECT unnest([333333, 666667])),
      r AS (SELECT n.lang, q.q_ppm,
          (q.q_ppm * n.n + 999999) // 1000000 AS rank_ FROM n, q),
      qv AS (SELECT r.lang, r.q_ppm, min(cum.milli) AS value
        FROM r JOIN cum ON cum.lang = r.lang AND cum.cum >= r.rank_
        GROUP BY 1, 2),
      cuts AS (SELECT lang,
          min(CASE WHEN q_ppm = 333333 THEN value END) AS c1,
          min(CASE WHEN q_ppm = 666667 THEN value END) AS c2
        FROM qv GROUP BY lang),
      b AS (SELECT sc.lang,
          CASE WHEN nb = 0 THEN 'unscored'
            WHEN milli <= c1 THEN 'head'
            WHEN milli <= c2 THEN 'middle'
            ELSE 'tail' END AS bucket, milli
        FROM sc LEFT JOIN cuts ON sc.lang = cuts.lang)
      SELECT lang, bucket, count(*) AS n_docs,
        CAST(sum(milli) // count(*) AS BIGINT) AS mean_milli_bits
      FROM b GROUP BY 1, 2 ORDER BY lang, bucket"""))

  // ---- q295: cleaning recipe v2 (excise → reference-LM gate) -----------
  // The round's new tiers composing end to end in ONE statement — the
  // q75/q102/q263 recipe pattern: duplicated spans are CUT OUT first
  // (q290's operator — dedup before LM scoring, or the boilerplate
  // you are about to remove poisons the reference model trained on
  // the same corpus), the reference LM then scores the CLEANED texts
  // (reference = the md5 25% of cleaned docs), and the gate keeps
  // scored docs at or below the per-lang middle-tercile cutoff
  // (head + middle — the CCNet keep rule). Interop is the point: the
  // LM tokenizes text whose excised seams created NEW bigrams, and
  // both engines must replay those seams identically. Stage
  // boundaries are eager pins (narrow columns only — the
  // cleaned corpus and the per-doc scores each feed two consumers;
  // a deployment lands them as tables, which the recipe mirrors).
  // Census per lang: docs, kept, kept chars, and an md5 mass over
  // every kept (doc_id, cleaned text) — one wrong seam or one
  // mis-bucketed doc flips a cell.

  private[queries] val q295: GraftQuery = GraftQuery(
    "q295_cleaning_recipe_v2",
    (s, d) => {
      val dd = docs(s, d)
      val spans = Dedup.dupSpans(dd, "doc_id", "text", k = 25)
      val cleaned = Dedup.exciseSpans(dd, spans, "doc_id", "text")
        .select(col("doc_id"), col("lang"),
          col("clean_text").as("text"))
        .pin()
      val ref = cleaned.where(
        DatasetOps.md5Draw("ccnet", col("doc_id")) % 4 === 0)
      val sc = DatasetOps.referenceLmScores(cleaned, ref, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("milli_bits_per_bigram").as("milli"))
        .pin()
      val cum = sc.where(col("n_bigrams") > 0)
        .groupBy(col("lang"), col("milli"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(col("milli"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
      val ranks = sc.where(col("n_bigrams") > 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("_n"))
        .withColumn("rank_", expr("(666667L * _n + 999999L) div 1000000L"))
      val cuts = cum.join(ranks, Seq("lang"))
        .where(col("cum") >= col("rank_"))
        .groupBy(col("lang")).agg(min(col("milli")).as("c2"))
      val gated = sc.join(broadcast(cuts), Seq("lang"), "left")
        .withColumn("kept",
          col("n_bigrams") > 0 && col("milli") <= col("c2"))
      gated.join(cleaned.select(col("doc_id"), col("text")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).cast(LongType)
            .as("n_kept"),
          sum(when(col("kept"), length(col("text"))).otherwise(0L))
            .cast(LongType).as("kept_chars"),
          sum(when(col("kept"),
            conv(substring(md5(concat(col("doc_id").cast(StringType),
              lit(":"), col("text"))), 1, 8), 16, 10).cast(LongType))
            .otherwise(0L)).cast(LongType).as("kept_mass"))
        .orderBy(col("lang"))
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
            ORDER BY seg.p) AS clean
        FROM seg JOIN documents d ON seg.doc_id = d.doc_id
        GROUP BY seg.doc_id),
      corpus AS (
        SELECT d.doc_id, d.lang, coalesce(c.clean, d.text) AS text
        FROM documents d LEFT JOIN cleanedS c ON d.doc_id = c.doc_id),
      ref AS (
        SELECT text FROM corpus
        WHERE CAST(concat('0x', substring(md5('ccnet:' || doc_id), 1, 8))
          AS BIGINT) % 4 = 0),
      rt AS (SELECT list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0) AS tk FROM ref),
      rbg AS (SELECT tk[i] || ' ' || tk[i + 1] AS bg, tk[i] AS cx
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
          FROM rt)),
      rb AS (SELECT bg, count(*) AS cb FROM rbg GROUP BY bg),
      rc AS (SELECT cx, count(*) AS cc FROM rbg GROUP BY cx),
      v AS (SELECT greatest(count(DISTINCT t), 1) AS v FROM
        (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0)) AS t FROM ref)),
      toks AS (SELECT doc_id, list_filter(regexp_split_to_array(
          lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM corpus),
      dbg0 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg,
          tk[i] AS cx
        FROM (SELECT doc_id, tk,
            unnest(generate_series(1, len(tk) - 1)) AS i FROM toks)),
      dbg AS (SELECT doc_id, bg, cx, count(*) AS tf
        FROM dbg0 GROUP BY 1, 2, 3),
      sc0 AS (SELECT doc_id, sum(tf) AS nb,
          sum(tf * (length(bin(coalesce(rc.cc, 0) + v.v)) -
            length(bin(coalesce(rb.cb, 0) + 1)))) AS bits
        FROM dbg LEFT JOIN rb USING (bg) LEFT JOIN rc USING (cx)
          CROSS JOIN v
        GROUP BY doc_id),
      sc AS (SELECT co.doc_id, co.lang, co.text,
          coalesce(sc0.nb, 0) AS nb,
          CASE WHEN coalesce(sc0.nb, 0) = 0 THEN 0
            ELSE (sc0.bits * 1000) // sc0.nb END AS milli
        FROM corpus co LEFT JOIN sc0 USING (doc_id)),
      cen AS (SELECT lang, milli, count(*) AS cnt FROM sc
        WHERE nb > 0 GROUP BY 1, 2),
      cum AS (SELECT lang, milli, cnt,
          sum(cnt) OVER (PARTITION BY lang ORDER BY milli) AS cum
        FROM cen),
      n AS (SELECT lang, count(*) AS n FROM sc WHERE nb > 0
        GROUP BY 1),
      r AS (SELECT n.lang,
          (666667 * n.n + 999999) // 1000000 AS rank_ FROM n),
      cuts AS (SELECT r.lang, min(cum.milli) AS c2
        FROM r JOIN cum ON cum.lang = r.lang AND cum.cum >= r.rank_
        GROUP BY r.lang),
      gated AS (SELECT sc.*,
          sc.nb > 0 AND sc.milli <= cuts.c2 AS kept
        FROM sc LEFT JOIN cuts ON sc.lang = cuts.lang)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept THEN length(text) ELSE 0 END) AS BIGINT)
          AS kept_chars,
        CAST(sum(CASE WHEN kept THEN CAST(concat('0x',
          substring(md5(doc_id || ':' || text), 1, 8)) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS kept_mass
      FROM gated GROUP BY lang ORDER BY lang"""))

  // ---- q302: main-content extraction (boilerplate removal) ---------------
  // The jusText/trafilatura tier (VERDICT r11 Missing #1): pages
  // split into BLOCKS on block-level tag boundaries, and three
  // integer densities classify each — word count (headings/buttons
  // fail), link density (nav/promo blocks are mostly anchor text),
  // stopword density (real prose uses function words; keyword lists
  // and copyright lines do not). The fixture wraps each document's
  // text as the article of a page with nav, heading, promo and
  // footer blocks (every doc) plus one CONSTANT extra paragraph on
  // doc_id % 5 = 0 (multi-block extraction, and — in q304 — the
  // corpus-duplicated block the span exciser then removes). The
  // census pins per-source block counts, verdict counts, kept/raw
  // chars and an md5 mass over every (doc_id, extracted content) —
  // one block mis-classified or one join seam wrong flips a cell.

  /** The q302/q303/q304 page fixture: `text` as the article inside
    * boilerplate every real page carries. Script content varies per
    * doc (a leak into any block moves the mass). */
  private[queries] def contentHtml(id: Column, text: Column): Column =
    concat(
      lit("<html><head><title>T</title><script>var i="), id,
      lit(";</script></head><body><nav><a href=\"/\">Home</a> " +
        "<a href=\"/p/"), id % 5,
      lit("\">Products</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></nav><h1>Catalog "), id % 7,
      lit("</h1><p>"), text, lit("</p>"),
      when(id % 5 === 0, lit("<p>we went to the market and it was a " +
        "good day for the family</p>")).otherwise(lit("")),
      lit("<div class=\"promo\"><a href=\"/buy\">Buy now</a> " +
        "<a href=\"/deals\">Big deal</a> limited offer</div>" +
        "<footer>Copyright 2024 Example Corp All rights reserved" +
        "</footer></body></html>"))

  /** The DuckDB replay of [[graft.functions.TextFunctions.htmlBlocks]]
    * over the [[contentHtml]] fixture — shared by the q302/q303/q304
    * oracles. Ends with `ext(doc_id, source, lang, n_blocks, n_good,
    * raw_chars, main)`. Every step mirrors the Column chain: script/
    * style/comment strip, block split, tag strip + whitespace
    * collapse, anchor-text chars, stopword count, the integer-ppm
    * verdict, newline join in document order. */
  private[queries] lazy val extractCtes: String = {
    val stops = graft.functions.TextFunctions.contentStopwords
      .map("'" + _ + "'").mkString(", ")
    s"""WITH d AS (
        SELECT doc_id, source, lang,
          '<html><head><title>T</title><script>var i=' || doc_id ||
          ';</script></head><body><nav><a href="/">Home</a> ' ||
          '<a href="/p/' || (doc_id % 5) ||
          '">Products</a> <a href="/about">About</a> ' ||
          '<a href="/contact">Contact</a></nav><h1>Catalog ' ||
          (doc_id % 7) || '</h1><p>' || text || '</p>' ||
          CASE WHEN doc_id % 5 = 0 THEN '<p>we went to the market ' ||
            'and it was a good day for the family</p>' ELSE '' END ||
          '<div class="promo"><a href="/buy">Buy now</a> ' ||
          '<a href="/deals">Big deal</a> limited offer</div>' ||
          '<footer>Copyright 2024 Example Corp All rights reserved' ||
          '</footer></body></html>' AS html
        FROM documents),
      frags AS (
        SELECT doc_id, source, lang,
          string_split_regex(
            regexp_replace(regexp_replace(regexp_replace(html,
              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
            '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead' ||
            '|tbody|tr|td|th|section|article|aside|header|footer|nav' ||
            '|main|figure|figcaption|blockquote|pre|form|fieldset|hr' ||
            '|br)(?:\\s[^>]*)?/?>') AS fr
        FROM d),
      b1 AS (
        SELECT doc_id, source, lang,
          list_transform(fr, b -> {
            't': trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ',
              'g'), '\\s+', ' ', 'g')),
            'lc': coalesce(list_aggregate(list_transform(
              regexp_extract_all(b, '(?is)<a[^>]*>([^<]*)</a>', 1),
              a -> CAST(length(trim(regexp_replace(a, '\\s+', ' ',
                'g'))) AS BIGINT)), 'sum'), 0)
          }) AS bl
        FROM frags),
      b2 AS (
        SELECT doc_id, source, lang,
          list_filter(list_transform(bl, s -> {
            't': s.t,
            'nc': CAST(length(s.t) AS BIGINT),
            'nw': CAST(len(list_filter(string_split(s.t, ' '),
              w -> length(w) > 0)) AS BIGINT),
            'sw': CAST(len(list_filter(string_split(s.t, ' '),
              w -> lower(w) IN ($stops))) AS BIGINT),
            'lc': CAST(s.lc AS BIGINT)
          }), s -> s.nc > 0) AS bl
        FROM b1),
      ext AS (
        SELECT doc_id, source, lang,
          CAST(len(bl) AS BIGINT) AS n_blocks,
          CAST(len(list_filter(bl, s -> s.nw >= 5
            AND (s.lc * 1000000) // greatest(s.nc, 1) <= 333333
            AND (s.sw * 1000000) // greatest(s.nw, 1) >= 30000))
            AS BIGINT) AS n_good,
          CAST(coalesce(list_aggregate(list_transform(bl, s -> s.nc),
            'sum'), 0) AS BIGINT) AS raw_chars,
          coalesce(array_to_string(list_transform(list_filter(bl,
            s -> s.nw >= 5
            AND (s.lc * 1000000) // greatest(s.nc, 1) <= 333333
            AND (s.sw * 1000000) // greatest(s.nw, 1) >= 30000),
            s -> s.t), chr(10)), '') AS main
        FROM b2)"""
  }

  private[queries] val q302: GraftQuery = GraftQuery(
    "q302_main_content",
    (s, d) => {
      val base = graft.operators.DatasetOps.spreadToCores(docs(s, d))
        .select(col("doc_id"), col("source"),
          contentHtml(col("doc_id"), col("text")).as("html"))
        // FENCED (NoInline, the q103 lesson): five consumers reference
        // bl (two sizes, a fold, and main twice via chars + mass) —
        // CollapseProject re-inlines the whole block battery into
        // each one (measured at sf0.1: 3.2 s unfenced → 2.6 s fenced)
        .withColumn("bl", call_function("no_inline",
          htmlBlocks(col("html"))))
        .withColumn("main", array_join(transform(filter(col("bl"),
          b => b.getField("good")), b => b.getField("text")), "\n"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("bl"))).cast(LongType).as("n_blocks"),
          sum(size(filter(col("bl"), b => b.getField("good"))))
            .cast(LongType).as("n_good"),
          sum(aggregate(col("bl"), lit(0L),
            (acc, b) => acc + b.getField("n_chars"))).cast(LongType)
            .as("raw_chars"),
          sum(length(col("main"))).cast(LongType).as("main_chars"),
          sum(when(length(col("main")) > 0, 1L).otherwise(0L))
            .cast(LongType).as("n_extracted"),
          sum(conv(substring(md5(concat(col("doc_id").cast(StringType),
            lit(":"), col("main"))), 1, 8), 16, 10).cast(LongType))
            .cast(LongType).as("main_mass"))
        // always-true HAVING that exists for the BENCH (the q290
        // count-pruning fix): without it count() prunes every
        // aggregate expression and the extraction never runs
        .where(col("main_mass").isNotNull)
        .orderBy(col("source"))
    },
    Some(extractCtes + """
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_blocks) AS BIGINT) AS n_blocks,
        CAST(sum(n_good) AS BIGINT) AS n_good,
        CAST(sum(raw_chars) AS BIGINT) AS raw_chars,
        CAST(sum(length(main)) AS BIGINT) AS main_chars,
        CAST(sum(CASE WHEN length(main) > 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_extracted,
        CAST(sum(CAST(concat('0x', substring(md5(doc_id || ':' || main),
          1, 8)) AS BIGINT)) AS BIGINT) AS main_mass
      FROM ext GROUP BY source
      HAVING main_mass IS NOT NULL
      ORDER BY source"""))

  // ---- q303: main-content extraction from SQL -----------------------------
  // q302's operator through the parser door: `html_blocks` /
  // `main_content` expand via the bridge into the identical Column
  // chains (one implementation, two doors), and the per-doc output —
  // block count, extracted length, an md5 signature over the
  // extracted content — pins the rewrite row by row.

  private[queries] val q303: GraftQuery = GraftQuery(
    "q303_sql_main_content",
    (s, d) => {
      // spread before the per-doc block battery: a one-row-group scan
      // would run the whole extraction in one task (r13 stage_metrics:
      // 4 tasks, cpu_frac 0.99, wall == task time)
      graft.operators.DatasetOps.spreadToCores(docs(s, d))
        .select(col("doc_id"), col("source"),
          contentHtml(col("doc_id"), col("text")).as("html"))
        .createOrReplaceTempView("mc_pages_sql")
      // the block battery runs ONCE: bl is computed in a fenced
      // subquery (no_inline — CollapseProject would re-inline it into
      // every consumer; the honest collect() consumer made the 4×
      // recomputation visible at 13 s) and main derives from bl with
      // SQL lambdas, exactly the Column twin's shape
      s.sql("""SELECT doc_id,
          CAST(size(bl) AS BIGINT) AS n_blocks,
          CAST(length(m) AS BIGINT) AS main_chars,
          substring(md5(m), 1, 8) AS main_sig
        FROM (SELECT doc_id, bl,
            no_inline(array_join(transform(filter(bl, b -> b.good),
              b -> b.text), '\n')) AS m
          FROM (SELECT doc_id,
              no_inline(html_blocks(html)) AS bl
            FROM mc_pages_sql))
        ORDER BY doc_id""")
    },
    Some(extractCtes + """
      SELECT doc_id, n_blocks,
        CAST(length(main) AS BIGINT) AS main_chars,
        substring(md5(main), 1, 8) AS main_sig
      FROM ext
      ORDER BY doc_id"""))

  // ---- q304: cleaning recipe v3 (extract → excise → LM gate) -------------
  // q295's successor with the extraction tier IN FRONT — the order a
  // real CCNet/RefinedWeb pass runs: main content is extracted FIRST
  // (nav/footer text must not reach the LM terciles), duplicated
  // spans are cut out of the EXTRACTED corpus (the constant fixture
  // paragraph on doc_id % 5 = 0 survives extraction as real prose
  // and is exactly what span dedup exists to catch — it vanishes
  // from every doc but the keep-first one), and the reference LM
  // then scores the cleaned result with the head+middle gate.
  // Interop is the point: extraction seams feed the gram walk, whose
  // excision seams feed the tokenizer — both engines replay all
  // three seams identically or the kept mass flips.

  private[queries] val q304: GraftQuery = GraftQuery(
    "q304_cleaning_recipe_v3",
    (s, d) => {
      // spread ahead of the extraction stage: on a one-row-group
      // input the whole block battery otherwise runs in one task
      // BEFORE the checkpoint parallelism kicks in (r13)
      val extracted = graft.operators.DatasetOps
        .spreadToCores(docs(s, d))
        .select(col("doc_id"), col("lang"),
          mainContent(contentHtml(col("doc_id"), col("text")))
            .as("text"))
        .pin()
      val spans = Dedup.dupSpans(extracted, "doc_id", "text", k = 25)
      val cleaned = Dedup.exciseSpans(extracted, spans, "doc_id", "text")
        .select(col("doc_id"), col("lang"),
          col("clean_text").as("text"))
        .pin()
      val ref = cleaned.where(
        DatasetOps.md5Draw("ccnet", col("doc_id")) % 4 === 0)
      val sc = DatasetOps.referenceLmScores(cleaned, ref, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("milli_bits_per_bigram").as("milli"))
        .pin()
      val cum = sc.where(col("n_bigrams") > 0)
        .groupBy(col("lang"), col("milli"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(col("milli"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
      val ranks = sc.where(col("n_bigrams") > 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("_n"))
        .withColumn("rank_", expr("(666667L * _n + 999999L) div 1000000L"))
      val cuts = cum.join(ranks, Seq("lang"))
        .where(col("cum") >= col("rank_"))
        .groupBy(col("lang")).agg(min(col("milli")).as("c2"))
      val gated = sc.join(broadcast(cuts), Seq("lang"), "left")
        .withColumn("kept",
          col("n_bigrams") > 0 && col("milli") <= col("c2"))
      gated.join(cleaned.select(col("doc_id"), col("text")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).cast(LongType)
            .as("n_kept"),
          sum(when(col("kept"), length(col("text"))).otherwise(0L))
            .cast(LongType).as("kept_chars"),
          sum(when(col("kept"),
            conv(substring(md5(concat(col("doc_id").cast(StringType),
              lit(":"), col("text"))), 1, 8), 16, 10).cast(LongType))
            .otherwise(0L)).cast(LongType).as("kept_mass"))
        .orderBy(col("lang"))
    },
    Some(extractCtes + """,
      extdocs AS (SELECT doc_id, lang, main AS text FROM ext),
      g AS (
        SELECT doc_id, pos,
          CAST(concat('0x', substring(md5(substr(text,
            CAST(pos AS INT), 25)), 1, 15)) AS BIGINT) AS h
        FROM extdocs, unnest(generate_series(1, length(text) - 24))
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
          string_agg(substr(e2.text, CAST(seg.p + 1 AS INT),
            CAST(coalesce(seg.q, length(e2.text)) - seg.p AS INT)), ''
            ORDER BY seg.p) AS clean
        FROM seg JOIN extdocs e2 ON seg.doc_id = e2.doc_id
        GROUP BY seg.doc_id),
      corpus AS (
        SELECT e3.doc_id, e3.lang, coalesce(c.clean, e3.text) AS text
        FROM extdocs e3 LEFT JOIN cleanedS c ON e3.doc_id = c.doc_id),
      ref AS (
        SELECT text FROM corpus
        WHERE CAST(concat('0x', substring(md5('ccnet:' || doc_id), 1, 8))
          AS BIGINT) % 4 = 0),
      rt AS (SELECT list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0) AS tk FROM ref),
      rbg AS (SELECT tk[i] || ' ' || tk[i + 1] AS bg, tk[i] AS cx
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
          FROM rt)),
      rb AS (SELECT bg, count(*) AS cb FROM rbg GROUP BY bg),
      rc AS (SELECT cx, count(*) AS cc FROM rbg GROUP BY cx),
      v AS (SELECT greatest(count(DISTINCT t), 1) AS v FROM
        (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
          '\s+'), x -> length(x) > 0)) AS t FROM ref)),
      toks AS (SELECT doc_id, list_filter(regexp_split_to_array(
          lower(text), '\s+'), x -> length(x) > 0) AS tk
        FROM corpus),
      dbg0 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg,
          tk[i] AS cx
        FROM (SELECT doc_id, tk,
            unnest(generate_series(1, len(tk) - 1)) AS i FROM toks)),
      dbg AS (SELECT doc_id, bg, cx, count(*) AS tf
        FROM dbg0 GROUP BY 1, 2, 3),
      sc0 AS (SELECT doc_id, sum(tf) AS nb,
          sum(tf * (length(bin(coalesce(rc.cc, 0) + v.v)) -
            length(bin(coalesce(rb.cb, 0) + 1)))) AS bits
        FROM dbg LEFT JOIN rb USING (bg) LEFT JOIN rc USING (cx)
          CROSS JOIN v
        GROUP BY doc_id),
      sc AS (SELECT co.doc_id, co.lang, co.text,
          coalesce(sc0.nb, 0) AS nb,
          CASE WHEN coalesce(sc0.nb, 0) = 0 THEN 0
            ELSE (sc0.bits * 1000) // sc0.nb END AS milli
        FROM corpus co LEFT JOIN sc0 USING (doc_id)),
      cen AS (SELECT lang, milli, count(*) AS cnt FROM sc
        WHERE nb > 0 GROUP BY 1, 2),
      cum AS (SELECT lang, milli, cnt,
          sum(cnt) OVER (PARTITION BY lang ORDER BY milli) AS cum
        FROM cen),
      n AS (SELECT lang, count(*) AS n FROM sc WHERE nb > 0
        GROUP BY 1),
      r AS (SELECT n.lang,
          (666667 * n.n + 999999) // 1000000 AS rank_ FROM n),
      cuts AS (SELECT r.lang, min(cum.milli) AS c2
        FROM r JOIN cum ON cum.lang = r.lang AND cum.cum >= r.rank_
        GROUP BY r.lang),
      gated AS (SELECT sc.*,
          sc.nb > 0 AND sc.milli <= cuts.c2 AS kept
        FROM sc LEFT JOIN cuts ON sc.lang = cuts.lang)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept THEN length(text) ELSE 0 END) AS BIGINT)
          AS kept_chars,
        CAST(sum(CASE WHEN kept THEN CAST(concat('0x',
          substring(md5(doc_id || ':' || text), 1, 8)) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS kept_mass
      FROM gated GROUP BY lang ORDER BY lang"""))

  // ---- q305: sitemap recrawl schedule (lastmod/changefreq → TTL) ---------
  // The metadata tier of the sitemaps protocol consumed (VERDICT r11
  // Missing #2): entries carry the server's own recrawl hints, and a
  // crawler that extracts only <loc> re-validates everything
  // pointlessly. Per entry: changefreq maps to a TTL (integer DIV
  // scaling off the 7-day default), lastmod against the stored
  // last-fetch date decides MODIFIED (requeue now, no TTL wait) vs
  // UNMODIFIED (TTL stretched 4× — the q287 revisit economics:
  // sitemap-validated-unchanged URLs mostly skip, but lastmod is a
  // hint and revalidation stays bounded) vs no-hint (plain TTL).
  // ISO dates compare as STRINGS (both engines, same collation); the
  // day arithmetic is engine date math replayed exactly. The second
  // fixture entry carries no metadata at all — the no-hint leg.

  /** The q305/q306 urlset fixture: one fully-hinted entry (lastmod +
    * changefreq, the id%11=0 slice pinned to `never`) and one bare
    * entry per page. */
  private[queries] def sitemapEntriesXml(id: Column,
                                         host: Column): Column =
    concat(
      lit("<urlset><url><loc>https://"), host, lit("/p/"), id % 7,
      lit("</loc><lastmod>2024-0"), (id % 3) + 1, lit("-"),
      lit(10) + id % 18,
      lit("</lastmod><changefreq>"),
      when(id % 11 === 0, "never")
        .when(id % 6 === 0, "always").when(id % 6 === 1, "hourly")
        .when(id % 6 === 2, "daily").when(id % 6 === 3, "weekly")
        .when(id % 6 === 4, "monthly").otherwise("yearly"),
      lit("</changefreq></url><url><loc> https://"), host,
      lit("/q/"), id % 4, lit(" </loc></url></urlset>"))

  private[queries] val sitemapEntriesOracleXml: String =
    """'<urlset><url><loc>https://' || source || '.example.com/p/' ||
      (doc_id % 7) || '</loc><lastmod>2024-0' || ((doc_id % 3) + 1) ||
      '-' || (10 + doc_id % 18) || '</lastmod><changefreq>' ||
      CASE WHEN doc_id % 11 = 0 THEN 'never'
        WHEN doc_id % 6 = 0 THEN 'always'
        WHEN doc_id % 6 = 1 THEN 'hourly'
        WHEN doc_id % 6 = 2 THEN 'daily'
        WHEN doc_id % 6 = 3 THEN 'weekly'
        WHEN doc_id % 6 = 4 THEN 'monthly'
        ELSE 'yearly' END ||
      '</changefreq></url><url><loc> https://' || source ||
      '.example.com/q/' || (doc_id % 4) || ' </loc></url></urlset>'"""

  private[queries] val sitemapEntriesOracleUnnest: String =
    """e0 AS (
        SELECT doc_id,
          unnest(list_filter(list_transform(string_split(xml, '</url>'),
            s -> {
              'loc': regexp_extract(s,
                '(?s)<url>.*<loc>\s*(.*?)\s*</loc>', 1),
              'lastmod': nullif(regexp_extract(s,
                '(?s)<url>.*<lastmod>\s*(.*?)\s*</lastmod>', 1), ''),
              'changefreq': nullif(regexp_extract(s,
                '(?s)<url>.*<changefreq>\s*(.*?)\s*</changefreq>', 1),
                '')
            }), x -> length(x.loc) > 0)) AS e
        FROM d),
      e1 AS (
        SELECT doc_id, e.loc AS loc, e.lastmod AS lastmod,
          e.changefreq AS changefreq
        FROM e0)"""

  private[queries] val q305: GraftQuery = GraftQuery(
    "q305_sitemap_recrawl",
    (s, d) => {
      val id = col("doc_id")
      val host = concat(col("source"), lit(".example.com"))
      val entries = docs(s, d)
        .select(id.as("doc_id"),
          explode(sitemapUrlEntries(sitemapEntriesXml(id, host)))
            .as("e"))
        .select(col("doc_id"), col("e.loc").as("loc"),
          col("e.lastmod").as("lastmod"),
          col("e.changefreq").as("changefreq"))
        .withColumn("last_fetch", date_format(
          date_add(to_date(lit("2024-01-01")),
            (col("doc_id") % 90).cast(IntegerType)), "yyyy-MM-dd"))
        .withColumn("ttl_days", changefreqTtl(col("changefreq"), lit(7L)))
        .withColumn("modified", col("lastmod").isNotNull &&
          col("lastmod") > col("last_fetch"))
        .withColumn("eff_ttl", col("ttl_days") *
          when(col("lastmod").isNotNull &&
            col("lastmod") <= col("last_fetch"), 4L).otherwise(1L))
        .withColumn("days_since",
          datediff(to_date(lit("2024-03-15")), to_date(col("last_fetch")))
            .cast(LongType))
      entries
        .select(col("doc_id"), col("loc"), col("lastmod"),
          col("changefreq"), col("ttl_days"), col("eff_ttl"),
          col("last_fetch"),
          when(col("modified"), "modified")
            .when(col("days_since") >= col("eff_ttl"), "expired")
            .otherwise("fresh").as("reason"),
          (col("modified") || col("days_since") >= col("eff_ttl"))
            .as("due"))
        .orderBy(col("doc_id"), col("loc"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, source, $sitemapEntriesOracleXml AS xml
        FROM documents),
      $sitemapEntriesOracleUnnest,
      m AS (
        SELECT doc_id, loc, lastmod, changefreq,
          strftime(DATE '2024-01-01' + CAST(doc_id % 90 AS INT),
            '%Y-%m-%d') AS last_fetch,
          CAST(CASE WHEN lower(changefreq) IN ('always', 'hourly')
              THEN greatest(1, 7 // 4)
            WHEN lower(changefreq) = 'daily' THEN greatest(1, 7 // 2)
            WHEN lower(changefreq) = 'weekly' THEN 7
            WHEN lower(changefreq) = 'monthly' THEN 14
            WHEN lower(changefreq) = 'yearly' THEN 28
            WHEN lower(changefreq) = 'never' THEN 1000000000
            ELSE 7 END AS BIGINT) AS ttl_days,
          date_diff('day', DATE '2024-01-01' + CAST(doc_id % 90 AS INT),
            DATE '2024-03-15') AS days_since
        FROM e1),
      m2 AS (
        SELECT *,
          lastmod IS NOT NULL AND lastmod > last_fetch AS modified,
          ttl_days * CASE WHEN lastmod IS NOT NULL
            AND lastmod <= last_fetch THEN 4 ELSE 1 END AS eff_ttl
        FROM m)
      SELECT doc_id, loc, lastmod, changefreq, ttl_days,
        CAST(eff_ttl AS BIGINT) AS eff_ttl, last_fetch,
        CASE WHEN modified THEN 'modified'
          WHEN days_since >= eff_ttl THEN 'expired'
          ELSE 'fresh' END AS reason,
        (modified OR days_since >= eff_ttl) AS due
      FROM m2 ORDER BY doc_id, loc"""))

  // ---- q306: sitemap url entries from SQL ---------------------------------
  // q305's extractor through the parser door (the bridge contract —
  // one implementation, two doors): per-entry rows with the raw
  // metadata, pinned row by row.

  private[queries] val q306: GraftQuery = GraftQuery(
    "q306_sql_sitemap_entries",
    (s, d) => {
      val id = col("doc_id")
      val host = concat(col("source"), lit(".example.com"))
      docs(s, d)
        .select(id.as("doc_id"),
          sitemapEntriesXml(id, host).as("xml"))
        .createOrReplaceTempView("sm_entries_sql")
      s.sql("""SELECT doc_id, e.loc AS loc, e.lastmod AS lastmod,
          e.changefreq AS changefreq
        FROM (SELECT doc_id, explode(sitemap_url_entries(xml)) AS e
          FROM sm_entries_sql)
        ORDER BY doc_id, loc""")
    },
    Some(s"""WITH d AS (
        SELECT doc_id, source, $sitemapEntriesOracleXml AS xml
        FROM documents),
      $sitemapEntriesOracleUnnest
      SELECT doc_id, loc, lastmod, changefreq
      FROM e1 ORDER BY doc_id, loc"""))

  // ---- q307: multi-hop redirect resolution --------------------------------
  // q274's single-hop census extended to what real crawls need
  // (VERDICT r11 Missing #3): 301→301→200 chains resolve to their
  // canonical endpoint with a hop cap and loop detection, so the
  // frontier fetches final URLs instead of re-fetching every
  // intermediate hop. The fixture gives every doc a chain of
  // 1 + doc_id % 3 redirect edges (every intermediate hop is itself
  // a start — the operator's contract) and closes doc_id % 17 = 0
  // chains into a cycle; the oracle unrolls all five hops and the
  // final has-outgoing-edge probe, so one mis-followed hop or one
  // missed cycle flips rows.

  /** The q307/q308 redirect edge fixture: per-doc chains
    * `/c/{id}/0 → … → /c/{id}/L`, the `id % 17 = 0` slice closed
    * back into a cycle. */
  private[queries] def redirectEdges(s: SparkSession,
                                     d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://"), col("source"),
      lit(".example.com/c/"), id, lit("/"))
    val chain = docs(s, d)
      .select(id.as("doc_id"), col("source"),
        explode(sequence(lit(0L), id % 3)).as("j"))
      .select(
        concat(concat(lit("https://"), col("source"),
          lit(".example.com/c/"), col("doc_id"), lit("/")), col("j"))
          .as("src"),
        concat(concat(lit("https://"), col("source"),
          lit(".example.com/c/"), col("doc_id"), lit("/")),
          col("j") + 1L).as("dst"))
    val loops = docs(s, d).filter(id % 17 === 0)
      .select(concat(base, (id % 3) + 1L).as("src"),
        concat(base, lit(0)).as("dst"))
    chain.unionByName(loops)
  }

  private[queries] val redirectOracleEdges: String =
    """d AS (SELECT doc_id, source, (doc_id % 3) + 1 AS l,
        'https://' || source || '.example.com/c/' || doc_id || '/' AS b
      FROM documents),
      ch AS (SELECT b || j AS src, b || (j + 1) AS dst
        FROM d, unnest(generate_series(0, l - 1)) AS u(j)),
      lp AS (SELECT b || l AS src, b || 0 AS dst FROM d
        WHERE doc_id % 17 = 0),
      e AS (SELECT src AS s, min(dst) AS dd
        FROM (SELECT * FROM ch UNION ALL SELECT * FROM lp)
        GROUP BY src),
      c1 AS (SELECT s AS start_url, dd AS cur, 1 AS h FROM e),
      c2 AS (SELECT c.start_url, coalesce(e.dd, c.cur) AS cur,
          c.h + CASE WHEN e.dd IS NULL THEN 0 ELSE 1 END AS h
        FROM c1 c LEFT JOIN e ON c.cur = e.s),
      c3 AS (SELECT c.start_url, coalesce(e.dd, c.cur) AS cur,
          c.h + CASE WHEN e.dd IS NULL THEN 0 ELSE 1 END AS h
        FROM c2 c LEFT JOIN e ON c.cur = e.s),
      c4 AS (SELECT c.start_url, coalesce(e.dd, c.cur) AS cur,
          c.h + CASE WHEN e.dd IS NULL THEN 0 ELSE 1 END AS h
        FROM c3 c LEFT JOIN e ON c.cur = e.s),
      c5 AS (SELECT c.start_url, coalesce(e.dd, c.cur) AS cur,
          c.h + CASE WHEN e.dd IS NULL THEN 0 ELSE 1 END AS h
        FROM c4 c LEFT JOIN e ON c.cur = e.s)"""

  private[queries] val redirectOracleSelect: String =
    """SELECT c.start_url, c.cur AS final_url,
        CAST(c.h AS BIGINT) AS n_hops, e.s IS NOT NULL AS loop_flag
      FROM c5 c LEFT JOIN e ON c.cur = e.s
      WHERE c.cur IS NOT NULL
      ORDER BY c.start_url"""

  private[queries] val q307: GraftQuery = GraftQuery(
    "q307_redirect_chains",
    (s, d) =>
      graft.operators.Graph.resolveRedirects(redirectEdges(s, d),
          "src", "dst", hopCap = 5)
        // always-true, bench-honest (the q290 convention): the hop
        // joins are row-preserving left joins on unique keys, which
        // count() would otherwise eliminate wholesale
        .where(col("final_url").isNotNull)
        .orderBy(col("start_url")),
    Some(s"WITH $redirectOracleEdges $redirectOracleSelect"))

  // ---- q308: redirect resolution from SQL ---------------------------------
  // q307's operator through the parser door (the page_rank/hits TVF
  // shape: the door must add no semantics — oracle shared verbatim).

  private[queries] val q308: GraftQuery = GraftQuery(
    "q308_sql_redirects",
    (s, d) => {
      redirectEdges(s, d).createOrReplaceTempView("redirects_sql")
      s.sql("""SELECT start_url, final_url, n_hops, loop_flag
        FROM resolve_redirects('redirects_sql', 'src', 'dst', 5)
        WHERE final_url IS NOT NULL
        ORDER BY start_url""")
    },
    q307.oracle)

  // ---- q309: rel=canonical census (content-identity dedup) ---------------
  // The SURT key (q284/q285) canonicalizes SPELLINGS; rel=canonical
  // canonicalizes CONTENT identity and beats it when present (VERDICT
  // r11 Missing #4): every fixture page carries a unique tracking
  // parameter, so the plain normalized key never collapses anything —
  // while pages declaring a canonical (absolute on one slice,
  // RELATIVE + attribute-order-flipped + unquoted-rel on another)
  // collapse to their 5 item URLs. The census pins both distinct-key
  // counts side by side plus an md5 mass over every chosen key.

  /** The q309/q310 page fixture: unique-spelling page URLs; absolute
    * (id%3=0), relative href-first unquoted-rel (id%3=1), and absent
    * (id%3=2) canonical declarations. */
  private[queries] def canonicalPages(s: SparkSession,
                                      d: String): DataFrame = {
    val id = col("doc_id")
    val host = concat(col("source"), lit(".example.com"))
    val page = concat(lit("https://"), host, lit("/item/"), id % 5,
      lit("?utm="), id)
    val html = when(id % 3 === 0, concat(
        lit("<html><head><link rel=\"canonical\" href=\"https://"),
        host, lit("/item/"), id % 5,
        lit("\"/></head><body>x</body></html>")))
      .when(id % 3 === 1, concat(
        lit("<html><head><link href=\"/item/"), id % 5,
        lit("\" rel=canonical></head><body>x</body></html>")))
      .otherwise(lit("<html><head><title>t</title></head>" +
        "<body>x</body></html>"))
    docs(s, d).select(id.as("doc_id"), col("source"),
      page.as("page"), html.as("html"))
  }

  private[queries] val canonicalOracleFixture: String =
    """SELECT doc_id, source,
      'https://' || source || '.example.com/item/' || (doc_id % 5) ||
        '?utm=' || doc_id AS page,
      CASE WHEN doc_id % 3 = 0 THEN
          '<html><head><link rel="canonical" href="https://' || source
          || '.example.com/item/' || (doc_id % 5) ||
          '"/></head><body>x</body></html>'
        WHEN doc_id % 3 = 1 THEN
          '<html><head><link href="/item/' || (doc_id % 5) ||
          '" rel=canonical></head><body>x</body></html>'
        ELSE '<html><head><title>t</title></head><body>x</body></html>'
        END AS html
      FROM documents"""

  /** The extract + resolve + normalize replay — shared by q309/q310;
    * ends with `k(doc_id, source, canon, ckey, pkey)`. */
  private[queries] val canonicalOracleCtes: String =
    """c0 AS (
        SELECT doc_id, source, page,
          nullif(coalesce(
            nullif(regexp_extract(html,
              '(?is)<link\s[^>]*rel\s*=\s*["'']?canonical["'']?[^>]*href\s*=\s*["'']([^"'']+)["'']',
              1), ''),
            nullif(regexp_extract(html,
              '(?is)<link\s[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*rel\s*=\s*["'']?canonical["'']?',
              1), '')), '') AS h
        FROM d),
      c1 AS (
        SELECT doc_id, source, page,
          CASE WHEN h IS NULL THEN NULL
            WHEN regexp_matches(h, '^https?://') THEN h
            WHEN regexp_matches(h, '^//') THEN NULL
            WHEN regexp_matches(h, '^/') THEN
              regexp_extract(page, '^(https?://[^/]+)', 1) || h
            ELSE NULL END AS canon
        FROM c0),
      k AS (
        SELECT doc_id, source, canon,
          coalesce(
            regexp_replace(regexp_replace(regexp_replace(
              lower(regexp_extract(regexp_replace(canon, '#.*$', ''),
                '^([A-Za-z]+://[^/]*)', 1)),
              '^(http://[^/:]*):80$', '\1'),
              '^(https://[^/:]*):443$', '\1'),
              '^(https?://)www\.', '\1') ||
            regexp_replace(regexp_replace(regexp_replace(canon,
              '#.*$', ''), '^[A-Za-z]+://[^/]*', ''),
              '^([^?]*?)/+$', '\1'),
            regexp_replace(regexp_replace(regexp_replace(
              lower(regexp_extract(regexp_replace(page, '#.*$', ''),
                '^([A-Za-z]+://[^/]*)', 1)),
              '^(http://[^/:]*):80$', '\1'),
              '^(https://[^/:]*):443$', '\1'),
              '^(https?://)www\.', '\1') ||
            regexp_replace(regexp_replace(regexp_replace(page,
              '#.*$', ''), '^[A-Za-z]+://[^/]*', ''),
              '^([^?]*?)/+$', '\1')) AS ckey,
          regexp_replace(regexp_replace(regexp_replace(
            lower(regexp_extract(regexp_replace(page, '#.*$', ''),
              '^([A-Za-z]+://[^/]*)', 1)),
            '^(http://[^/:]*):80$', '\1'),
            '^(https://[^/:]*):443$', '\1'),
            '^(https?://)www\.', '\1') ||
          regexp_replace(regexp_replace(regexp_replace(page,
            '#.*$', ''), '^[A-Za-z]+://[^/]*', ''),
            '^([^?]*?)/+$', '\1') AS pkey
        FROM c1)"""

  private[queries] val q309: GraftQuery = GraftQuery(
    "q309_canonical_census",
    (s, d) => {
      val base = canonicalPages(s, d)
        .withColumn("canon", extractCanonical(col("html"), col("page")))
        .withColumn("ckey", canonicalKey(col("html"), col("page")))
        .withColumn("pkey", urlNormalize(col("page")))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("canon").isNotNull, 1L).otherwise(0L))
            .cast(LongType).as("n_canonical"),
          countDistinct(col("ckey")).cast(LongType)
            .as("n_keys_canonical"),
          countDistinct(col("pkey")).cast(LongType).as("n_keys_plain"),
          sum(conv(substring(md5(col("ckey")), 1, 8), 16, 10)
            .cast(LongType)).cast(LongType).as("key_mass"))
        // bench-honest always-true HAVING (the q290 convention)
        .where(col("key_mass").isNotNull)
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS ($canonicalOracleFixture),
      $canonicalOracleCtes
      SELECT source, count(*) AS n_pages,
        CAST(sum(CASE WHEN canon IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_canonical,
        CAST(count(DISTINCT ckey) AS BIGINT) AS n_keys_canonical,
        CAST(count(DISTINCT pkey) AS BIGINT) AS n_keys_plain,
        CAST(sum(CAST(concat('0x', substring(md5(ckey), 1, 8))
          AS BIGINT)) AS BIGINT) AS key_mass
      FROM k GROUP BY source
      HAVING key_mass IS NOT NULL
      ORDER BY source"""))

  // ---- q310: rel=canonical from SQL ---------------------------------------
  // q309's extractors through the bridge doors, pinned per doc.

  private[queries] val q310: GraftQuery = GraftQuery(
    "q310_sql_canonical",
    (s, d) => {
      canonicalPages(s, d).createOrReplaceTempView("canon_pages_sql")
      // canon computed ONCE in a fenced subquery, ckey derived from
      // it (canonical_key(html, page) inline would re-expand the
      // whole extract + normalize battery — three copies blew the
      // 64 KB whole-stage-codegen method limit and the row fell back
      // to interpreted eval, caught by the bench's codegen_errs)
      s.sql("""SELECT doc_id, canon,
          coalesce(url_normalize(canon), url_normalize(page)) AS ckey
        FROM (SELECT doc_id, page,
            no_inline(extract_canonical(html, page)) AS canon
          FROM canon_pages_sql)
        ORDER BY doc_id""")
    },
    Some(s"""WITH d AS ($canonicalOracleFixture),
      $canonicalOracleCtes
      SELECT doc_id, canon, ckey FROM k ORDER BY doc_id"""))

  // ---- q311: Content-Encoding deflate at the wire seam --------------------
  // q283's argument one encoding further (VERDICT r11 Missing #5):
  // `deflate` still appears in the wild in BOTH its forms —
  // zlib-wrapped (RFC 1950, the spec's meaning) and raw DEFLATE
  // (RFC 1951, what certain servers send) — and the byte-exact decode
  // must accept both (zlib first, raw fallback: the browser
  // behavior). The fixture deflates every document's text at the
  // codec seam (alternating the two forms on doc_id parity — bytes
  // no Column expression and no oracle can produce), runs the
  // product decoder, and the oracle pins the RESULT: per source, the
  // roundtrip count and an md5 mass over every (doc_id, decoded
  // text) computed from the documents table directly — one
  // mis-inflated byte anywhere flips the mass (the q283 convention:
  // the binary tier's extra powers are exactly what DuckDB cannot
  // replay, so the oracle checks the decode's OUTPUT equals the
  // known plaintext).

  private[queries] val q311: GraftQuery = GraftQuery(
    "q311_deflate_tier",
    (s, d) => {
      import graft.sources.Warc
      val msgs = Warc.deflateHttpResponseBytes(
        docs(s, d).select(col("doc_id"), col("text"),
          (col("doc_id") % 2 === 1).as("nowrap")),
        "doc_id", "text", "nowrap")
      Warc.decodeHttpBinary(msgs, "bb", "doc_id")
        .join(docs(s, d).select(col("doc_id"), col("source"),
          col("text").as("doc_text")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("http_status") === 200, 1L).otherwise(0L))
            .cast(LongType).as("n_200"),
          sum(when(col("text").isNotNull, 1L).otherwise(0L))
            .cast(LongType).as("n_decoded"),
          sum(when(col("text") === col("doc_text"), 1L).otherwise(0L))
            .cast(LongType).as("n_roundtrip"),
          sum(conv(substring(md5(concat(col("doc_id").cast(StringType),
            lit(":"), col("text"))), 1, 8), 16, 10).cast(LongType))
            .cast(LongType).as("decoded_mass"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, count(*) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_200,
        CAST(count(*) AS BIGINT) AS n_decoded,
        CAST(count(*) AS BIGINT) AS n_roundtrip,
        CAST(sum(CAST(concat('0x', substring(md5(doc_id || ':' || text),
          1, 8)) AS BIGINT)) AS BIGINT) AS decoded_mass
      FROM documents GROUP BY source ORDER BY source"""))
}
