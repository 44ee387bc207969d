package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.Seam.Pins

/** Keyword retrieval over a document corpus: a positional inverted
  * index, integer-deterministic BM25 top-k ranking, and exact phrase
  * matching — the retrieval surface a RAG-prep or eval pipeline needs
  * beside the embedding-space searchers in [[Similarity]]. The
  * reference's implied Athena layer (readme:24) is where a user would
  * otherwise hand-write LIKE scans; these are the index-shaped
  * operators that replace them.
  *
  * Design notes (100 TB):
  *   - the index rows are (term, id, tf, dl) / (id, pos, term) fixed
  *     width tuples — document BODIES never shuffle; the posting build
  *     is one explode + one (term, id) exchange, and like the MinHash
  *     index (q106) the postings can be persisted bucketed by term so
  *     probes join with zero index-side exchange;
  *   - query terms are FEW: every probe broadcasts them, restricting
  *     the postings before anything aggregates, so a search touches
  *     only the matched terms' posting lists — never the corpus;
  *   - scoring is BM25-shaped but integer-deterministic (same policy
  *     as q101's tf-idf and q116's DSIR scores): the idf weight is the
  *     scaled Robertson–Sparck-Jones odds ratio `(N−df+1)/(df+1)`
  *     (the log's argument, rank-equivalent per term since ln is
  *     monotone), and the tf saturation is exactly BM25's
  *     `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))` with k1=1.2, b=0.75,
  *     carried out in scaled integer arithmetic (DIV) so the score —
  *     and therefore the ranking and the k-cutoff — replays
  *     bit-for-bit in any engine with 64-bit integers. Float logs
  *     would rank the same per term but their cross-term sums are not
  *     replayable; the integer form is what an oracle can gate.
  *     Range: with the 10^5 idf scale and 10^5 tf scale the per-term
  *     product idf·tfc grows like ~1.1·10^10·N, so it stays int64-
  *     exact (< 2^63) for corpora to ~4·10^8 docs but exceeds 2^53
  *     (double exactness) already near 10^6 docs — the scores are
  *     BIGINT end to end precisely so the int64 bound is the binding
  *     one; a DOUBLE-arithmetic replay engine is only bit-faithful to
  *     ~10^6 docs. Beyond ~4·10^8 docs, lower `idfScale`. The
  *     require below bounds idfScale only — corpus size is the
  *     caller's side of the audit (nothing cheap at plan time can
  *     know N).
  */
object Search {

  /** Positional postings: one row per token OCCURRENCE — (id, dl,
    * pos, term), `pos` 0-based, `dl` the doc's token count. Narrow
    * (projection + posexplode, no shuffle). The token array is
    * projected as an attribute first per the lambda-CSE rule (SURVEY
    * §8.2): an inlined tokenizer would re-split the text per token. */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        TextFunctions.whitespaceTokens(col(textCol)).as("_tk"))
      .select(col("id"), size(col("_tk")).as("dl"),
        posexplode(col("_tk")).as(Seq("pos", "term")))

  /** The classic inverted index: (term, id, tf, dl), one row per
    * (term, doc) pair. One exchange on (term, id) — partial counts
    * combine map-side, so what shuffles is bounded by distinct
    * (term, doc) pairs, not occurrences. */
  def termPostings(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    positionalPostings(docs, idCol, textCol)
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** Persist [[termPostings]] bucketed on `term` (the probe-join
    * key), the same landing as [[Dedup.writeMinhashIndexBucketed]]:
    * every subsequent [[bm25TopK]] probe joins the index with zero
    * index-side exchange. Returns the saved-table name to probe. */
  def writePostingsBucketed(docs: DataFrame, idCol: String,
                            textCol: String, table: String,
                            nBuckets: Int = 32): String = {
    termPostings(docs, idCol, textCol)
      .write.mode("overwrite")
      .bucketBy(nBuckets, "term").sortBy("term")
      .saveAsTable(table)
    table
  }

  /** Per-doc length table (id, dl) — the index sidecar that makes the
    * corpus statistics maintainable under a changelog: postings alone
    * under-count docs (an empty doc has no posting rows but IS a
    * corpus document for n_docs/avgdl). Narrow projection. */
  def docLens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      TextFunctions.tokenCount(col(textCol)).cast(LongType).as("dl"))

  /** One-row corpus statistics table: (n_docs, a3) where `a3` is the
    * milli-avgdl `(Σdl·1000) div N` — the deterministic integer
    * rounding of average doc length the scoring formula consumes.
    * Derived from a token-count projection of the corpus (one narrow
    * scan; at 100 TB this is a metadata-sized aggregate). */
  def corpusStats(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    statsFromLens(docLens(docs, idCol, textCol))

  /** [[corpusStats]] from a persisted [[docLens]] table — after a
    * [[compactPostings]] the stats come from the compacted sidecar,
    * never a corpus rescan. */
  def statsFromLens(lens: DataFrame): DataFrame =
    lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("_ltot"))
      .select(col("n_docs"),
        // empty corpus: div-by-zero nulls would otherwise ride into
        // every downstream score expression; 0 keeps the row typed
        // and the (necessarily empty) probe result empty
        when(col("n_docs") === 0L, lit(0L))
          .otherwise(expr("(_ltot * 1000L) div n_docs")).as("a3"))

  /** Keep-first read repair for an index landed by an AT-LEAST-ONCE
    * writer ([[graft.streaming.DocIngest.runPostingsIngest]]'s
    * foreachBatch contract): a micro-batch re-executed after its
    * parquet commit but before its checkpoint commit re-lands
    * IDENTICAL (term, id) posting rows and (id) lens rows, and the
    * count(*)-derived statistics downstream ([[bm25TopK]]'s df,
    * [[statsFromLens]]'s n_docs/avgdl) silently inflate if they
    * consume the duplicates raw. This is that downstream keep-first:
    * postings dedup on (term, id), lens on (id) — and because a
    * retry re-lands the SAME rows (both frames are pure functions of
    * the batch), keep-first equals keep-any and the result is
    * exactly the exactly-once index. PRECONDITION: this repairs
    * RETRIES only — rows re-landed byte-identical. If the same id
    * can re-land with DIFFERENT content (a re-crawled or edited
    * doc), keep-"first" is an arbitrary per-(term, id) mix of the
    * versions; that case is a corpus UPDATE and belongs to
    * [[compactPostings]]' U changelog, not to read repair. Route
    * every consumer of a streamed index through here before
    * [[statsFromLens]] / [[bm25TopK]]; a transactional table sink
    * makes it unnecessary.
    * Scale shape: both dedups shuffle on the index's own probe keys
    * (fixed-width tuples), the same exchange a bucketed landing
    * would pre-pay. */
  def dedupIngestedIndex(postings: DataFrame, lens: DataFrame)
      : (DataFrame, DataFrame) =
    (postings.dropDuplicates("term", "id"), lens.dropDuplicates("id"))

  /** Maintain a persisted BM25 index under a D/U/I changelog — the
    * retrieval twin of [[Dedup.compactMinhashIndex]] (q108): the
    * corpus evolves and the index is compacted to its successor
    * snapshot instead of rebuilt. Deleted/updated ids are anti-joined
    * out of BOTH the postings and the length sidecar (changelog ids
    * broadcast — the index never shuffles); fresh postings/lengths
    * are computed from the changelog texts alone (U and I rows) —
    * the old corpus bodies are never re-read. Publish the result
    * out-of-place and flip readers, the immutable-snapshot idiom.
    *
    * @param changelog (id, op, text) with op ∈ D|U|I, one row per id
    *                  (a compacted changelog — [[DatasetOps.applyChangelog]]'s
    *                  contract)
    * @return (postings', lens') — feed [[statsFromLens]] for the
    *         successor stats */
  def compactPostings(oldPostings: DataFrame, oldLens: DataFrame,
                      changelog: DataFrame): (DataFrame, DataFrame) = {
    // changelog materialized once (r17): touched ids, fresh postings
    // and fresh lengths each referenced it, and each of the caller's
    // postings'/lens' consumers compounds the re-derivation (the r17
    // plan audit counted q128's changelog-source scan 15×; guide
    // §2.4). Change-batch-sized by the compacted-changelog contract.
    val chg = changelog.pinLazy()
    val touched = chg.select(col("id")).distinct()
    val fresh = chg.filter(col("op").isin("U", "I"))
      .select(col("id"), col("text"))
    val freshPost = termPostings(fresh, "id", "text")
    val freshLens = docLens(fresh, "id", "text")
    // the anti-join reorders columns (join key first); pin the
    // [[termPostings]]/[[docLens]] layouts so a compacted index is a
    // drop-in successor for the original
    val postings = oldPostings
      .join(broadcast(touched), Seq("id"), "left_anti")
      .unionByName(freshPost)
      .select(col("term"), col("id"), col("tf"), col("dl"))
    val lens = oldLens
      .join(broadcast(touched), Seq("id"), "left_anti")
      .unionByName(freshLens)
      .select(col("id"), col("dl"))
    (postings, lens)
  }

  /** BM25 top-k: for every query row (qid, qtext), the `k`
    * best-scoring docs. `postings` is a [[termPostings]] result (or a
    * bucketed readback of one); `stats` a [[corpusStats]] row for the
    * SAME corpus — split so that a persisted index amortizes both.
    *
    * Shape: the distinct query-term SET broadcasts against the
    * postings — only matched posting lists survive, narrowly. df per
    * term is a partial-aggregated count over the survivors,
    * broadcast back (≤ #query-terms rows), NOT a window over a
    * (term)-partitioned exchange: a window would put a hot term's
    * ENTIRE posting list in one task — query "the" and one task owns
    * a 10¹⁰-row partition — where the map-side-combined aggregate
    * never concentrates anything. (Contrast q116, where the rejoin
    * side was the corpus-sized gram explosion and the window won;
    * here the rejoin side is query-terms-sized. The matched postings
    * are derived twice — two narrow passes, which a persisted
    * [[writePostingsBucketed]] index makes columnar re-scans.)
    * Per-query expansion joins AFTER the df attach; the per-(qid, id)
    * score sum is the plan's one real exchange, and ranking goes
    * through the k-bounded [[graft.plans.TopKPerGroup]] heap — the
    * scored set is never sorted.
    *
    * Scoring (all integer): with `S = idfScale`,
    *   idfS  = (N − df + 1)·S div (df + 1)
    *   tfc5  = tf·44·a3·100000 div (20·tf·a3 + 6·a3 + 18000·dl)
    *   score = Σ_terms idfS · tfc5
    * tfc5 is the exact scaled BM25 saturation at k1=6/5, b=3/4:
    * multiply `tf + 6/5·(1/4 + 3/4·dl/avgdl)` through by 20·a3 with
    * avgdl ≈ a3/1000 and the k1+1 = 11/5 numerator becomes 44·tf·a3. */
  def bm25TopK(queries: DataFrame, postings: DataFrame, stats: DataFrame,
               k: Int, idfScale: Long = 100000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(idfScale >= 1L && idfScale <= 1000000L,
      s"idfScale must be in [1, 1e6], got $idfScale")
    val qterms = queries
      .select(col("qid"),
        TextFunctions.whitespaceTokens(col("qtext")).as("_qtk"))
      .select(col("qid"), explode(array_distinct(col("_qtk"))).as("term"))
    val matched = postings
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
    // (term, id) rows are unique in the index and a term's rows
    // enumerate every doc containing it, so this count IS the corpus
    // document frequency — partial-aggregated map-side, never
    // concentrating a hot term's list in one task (see scaladoc)
    val dfTable = matched.groupBy(col("term"))
      .agg(count(lit(1)).as("_df"))
    val scored = matched
      .join(broadcast(dfTable), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        expr(s"((n_docs - _df + 1L) * ${idfScale}L) div (_df + 1L)"))
      .withColumn("_tfc",
        expr("(tf * 44L * a3 * 100000L) div " +
          "(20L * tf * a3 + 6L * a3 + 18000L * dl)"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("_idf") * col("_tfc")).as("score"))
    val kept = graft.plans.TopKPerGroup(scored, Seq("qid"),
      Seq(("score", false), ("id", true)), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    kept
      .withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("qid"), col("rank"), col("id").as("doc_id"), col("score"))
  }

  /** Boolean retrieval over the inverted index — the filter-query
    * surface beside [[bm25TopK]]'s ranked one: documents containing
    * ALL `must` terms and NONE of `mustNot`, ordered by how many
    * `should` terms they also contain (desc, ties → id asc), top `k`.
    *
    * Scale shape: the (tiny, literal) term set prunes the postings
    * scan up front (`term IN (...)` reaches the parquet/bucketed
    * index as a pushed filter), then ONE map-side-combined groupBy on
    * the doc id counts each clause's matches — postings hold one row
    * per (term, doc), so `count` IS the distinct-term count and the
    * must/mustNot tests are count comparisons, never per-doc sets.
    * The board is a bounded heap (TakeOrderedAndProject).
    *
    * The three clauses must be disjoint (a term in `must` and
    * `mustNot` would make every row unsatisfiable silently — refused
    * loudly instead). Empty `must` means "any `should` hit qualifies".
    *
    * @return (id, n_should) ordered by (n_should desc, id), ≤ k rows. */
  def booleanSearch(postings: DataFrame, must: Seq[String],
                    should: Seq[String] = Nil, mustNot: Seq[String] = Nil,
                    k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(must.nonEmpty || should.nonEmpty,
      "need at least one must or should term")
    require(must.intersect(mustNot).isEmpty &&
      should.intersect(mustNot).isEmpty && must.intersect(should).isEmpty,
      s"must/should/mustNot must be disjoint")
    val all = (must ++ should ++ mustNot).distinct
    postings
      .filter(col("term").isin(all: _*))
      .groupBy(col("id"))
      .agg(
        count(when(col("term").isin(must: _*), 1)).as("_nm"),
        count(when(col("term").isin(should: _*), 1)).as("n_should"),
        count(when(col("term").isin(mustNot: _*), 1)).as("_nx"))
      .filter(col("_nm") === lit(must.size.toLong) &&
        col("_nx") === 0L &&
        (if (must.isEmpty) col("n_should") > 0L else lit(true)))
      .select(col("id"), col("n_should"))
      .orderBy(col("n_should").desc, col("id"))
      .limit(k)
  }

  /** Character-trigram postings — the substring-search index (the
    * pg_trgm idea): one row per (gram, doc) over the lowercased text,
    * distinct within a doc. Persist like [[termPostings]] and probe
    * with [[substringSearchFromIndex]]. */
  def charGramPostings(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3): DataFrame = {
    require(k >= 2, s"gram size must be >= 2, got $k")
    docs.select(col(idCol).as("id"),
      explode(TextFunctions.charShingles(lower(col(textCol)), k)).as("gram"))
  }

  /** AD-HOC (one-shot) substring search: a straight scan-verify —
    * lowercase contains gate, then non-overlapping occurrence count
    * by replace-arithmetic. One narrow corpus scan, zero shuffles.
    *
    * Deliberately NOT the trigram route (r13 — VERDICT r12 watch 2:
    * this door used to build charGramPostings per call at ~14× the
    * probe cost): an index only amortizes across REPEATED probes, and
    * building one to answer a single pattern costs a corpus-wide
    * explode + count shuffle strictly more than the scan it would
    * save — at 100 TB a one-shot probe is a full scan either way, so
    * the cheapest full scan wins. Repeated probes persist
    * [[charGramPostings]] once and use [[substringSearchFromIndex]]
    * (the q232 path), which this signature mirrors (`k` keeps the
    * same pattern-length contract so callers swap tiers freely).
    *
    * @return (id, n_occurrences > 0) ordered by (n_occurrences desc,
    *         id). */
  def substringSearch(docs: DataFrame, idCol: String, textCol: String,
                      pattern: String, k: Int = 3): DataFrame = {
    require(k >= 2, s"gram size must be >= 2, got $k")
    val pat = pattern.toLowerCase(java.util.Locale.ROOT)
    require(pat.length >= k,
      s"pattern must be at least $k chars, got '$pattern'")
    // divisor in CODE POINTS (ADVICE r13): Spark's length() counts
    // code points while Scala's .length counts UTF-16 units, so a
    // supplementary-plane pattern (emoji, rare CJK) would misdivide;
    // the pattern rides a typed lit, not an escaped SQL literal
    val patCp = pat.codePointCount(0, pat.length)
    docs.select(col(idCol).as("id"), lower(col(textCol)).as("_lt"))
      .filter(col("_lt").contains(pat))
      .withColumn("_delta",
        length(col("_lt")) - length(replace(col("_lt"), lit(pat))))
      .select(col("id"),
        expr(s"_delta div $patCp").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("id"))
  }

  /** [[substringSearch]] probing a persisted [[charGramPostings]]
    * frame — the build-once-probe-many seam. */
  def substringSearchFromIndex(postings: DataFrame, docs: DataFrame,
                               idCol: String, textCol: String,
                               pattern: String, k: Int = 3): DataFrame = {
    require(k >= 2, s"gram size must be >= 2, got $k")
    val pat = pattern.toLowerCase(java.util.Locale.ROOT)
    require(pat.length >= k,
      s"pattern must be at least $k chars, got '$pattern'")
    val grams = pat.sliding(k).toSeq.distinct
    val cand = postings
      .filter(col("gram").isin(grams: _*))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("_ng"))
      .filter(col("_ng") === lit(grams.size.toLong))
      .select(col("id"))
    // same code-point divisor + typed-lit pattern as [[substringSearch]]
    val patCp = pat.codePointCount(0, pat.length)
    docs.select(col(idCol).as("id"), lower(col(textCol)).as("_lt"))
      .join(cand, Seq("id"))
      .filter(col("_lt").contains(pat))
      .withColumn("_delta",
        length(col("_lt")) - length(replace(col("_lt"), lit(pat))))
      .select(col("id"),
        expr(s"_delta div $patCp").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("id"))
  }

  /** Retrieval-quality grading — MRR and hits@k of a ranking against
    * a relevance-label set, the eval loop that keeps a search/RAG
    * stack honest after every index or scoring change (the
    * [[graft.operators.Similarity.recallAtK]] sibling for LABELED
    * relevance rather than exact-vs-approximate). All integer: the
    * reciprocal rank is `10⁶ div first_rank` ppm — engine-exact.
    * Queries present in `relevance` but absent from the top-k still
    * appear with zero hits (the alarm rows); unlabeled queries are
    * skipped (metrics are defined per labeled query).
    *
    * Scale shape: the ranking is cut to rank ≤ k first
    * (retrieval-result-sized), the hit test is one equi-join on
    * (qid, id), and both censuses are map-side-combined groupBys —
    * never a window.
    *
    * @param ranking   (qid, rank, `idCol`) rows, 1-based ranks
    * @param relevance (qid, `idCol`) relevant pairs
    * @return (qid, n_rel, n_hit, first_rank, rr_ppm) ordered by qid;
    *         first_rank/rr_ppm are 0 when nothing relevant ranked. */
  def rankingMetrics(ranking: DataFrame, idCol: String,
                     relevance: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rk = ranking.filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol))
    val base = relevance.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    val hits = rk.join(relevance, Seq("qid", idCol))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hit"), min(col("rank")).as("_fr"))
    base.join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("_fr"), lit(0L)).cast(LongType).as("first_rank"),
        when(col("_fr").isNull, lit(0L))
          .otherwise(expr("1000000L div _fr")).as("rr_ppm"))
      .orderBy(col("qid"))
  }

  /** Faceted search — the drill-down surface every retrieval UI pairs
    * with its result list: documents containing ALL `must` terms,
    * censused by an attribute (`facetCol`) from a sidecar table
    * (source, language, domain, …) instead of ranked. Returns the
    * top-`topN` facet values by matching-document count.
    *
    * Scale shape: the literal term set prunes the postings scan
    * (pushed `term IN` filter — on the bucketed landing the probe is
    * exchange-free), ONE map-side-combined groupBy on the doc id
    * applies the ALL-terms test as a count comparison (postings are
    * per-(term, doc) rows), the attrs join is an AQE-splittable
    * equi-join on the id (matched ids are filter-bounded, attrs never
    * fan out), and the facet census is map-side-combined — a hot
    * facet value ("en", "web") collapses into partials, never one
    * task. The board is a bounded heap (TakeOrderedAndProject).
    *
    * Null facet values census under the literal `(none)` — a nullable
    * attribute column must not silently drop matched docs, and the
    * sentinel keeps the ordering engine-independent (null sort order
    * differs across engines).
    *
    * @param attrs one row per document carrying `idCol` + `facetCol`
    * @return (facet, n_docs) ordered by (n_docs desc, facet),
    *         ≤ topN rows. */
  def facetedSearch(postings: DataFrame, attrs: DataFrame, idCol: String,
                    facetCol: String, must: Seq[String],
                    topN: Int = 20): DataFrame = {
    require(must.nonEmpty, "need at least one must term")
    require(topN > 0, s"topN must be positive, got $topN")
    val terms = must.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val matched = postings
      .filter(col("term").isin(terms: _*))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("_nm"))
      .filter(col("_nm") === lit(terms.size.toLong))
      .select(col("id"))
    matched
      .join(attrs.select(col(idCol).as("id"),
        coalesce(col(facetCol).cast(StringType), lit("(none)"))
          .as("facet")), "id")
      .groupBy(col("facet"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("facet"))
      .limit(topN)
  }

  /** Best-snippet extraction — the highlighting step after retrieval:
    * for each doc, the `window`-token span covering the most query-
    * term occurrences (ties → earliest start), with the span's text.
    * Candidate starts are query-term positions only (a best window
    * that starts mid-gap can always be slid right to a hit without
    * losing coverage — the classic argument), so per-doc work is
    * (hits per doc)², bounded by the doc's query-term occurrences,
    * never its length.
    *
    * Shape: positional postings filtered to the query terms → ONE
    * exchange collecting each doc's hit positions → intra-row argmax
    * fold; the winning (start, n_hits) joins back to a token
    * projection of the matched docs to slice the snippet text (the
    * winners are retrieval-result-sized, the join is narrow).
    *
    * @return (id, start, n_hits, snippet) — start is the 0-based
    *         token offset, snippet the space-joined window */
  def bestSnippets(docs: DataFrame, idCol: String, textCol: String,
                   queryTerms: Seq[String], window: Int = 16): DataFrame =
    bestSnippetsPositional(positionalPostings(docs, idCol, textCol),
      docs, idCol, textCol, queryTerms, window)

  /** [[bestSnippets]] with the hit-collection phase fed from a
    * persisted [[positionalPostings]] frame (the corpus-wide explode
    * becomes a columnar re-scan — the [[phraseMatchesPositional]]
    * seam); `docs` is still consulted, but only by the winners join
    * that slices the snippet text, which is retrieval-result-sized. */
  def bestSnippetsPositional(positional: DataFrame, docs: DataFrame,
                             idCol: String, textCol: String,
                             queryTerms: Seq[String],
                             window: Int = 16): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(window > 0, s"window must be positive, got $window")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val hits = positional
      .filter(col("term").isin(terms.map(lit(_)): _*))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(col("pos"))).as("_ps"))
    // argmax over candidate starts: n_hits = count of positions in
    // [p, p+window); ties keep the EARLIER start (the sorted scan
    // only replaces on strictly-more hits)
    val best = aggregate(col("_ps"),
      struct(lit(-1).as("n"), lit(0).as("start")),
      (acc, p) => {
        val n = size(filter(col("_ps"), q => q >= p && q < p + window))
        when(n > acc.getField("n"),
          struct(n.as("n"), p.as("start"))).otherwise(acc)
      })
    val winners = hits.select(col("id"),
      best.getField("start").as("start"),
      best.getField("n").as("n_hits"))
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.whitespaceTokens(col(textCol)).as("_tk"))
    winners.join(toks, Seq("id"))
      .select(col("id"), col("start").cast(LongType).as("start"),
        col("n_hits").cast(LongType).as("n_hits"),
        array_join(slice(col("_tk"), col("start") + 1, lit(window)), " ")
          .as("snippet"))
  }

  /** MMR (maximal marginal relevance) diversified re-ranking — the
    * retrieval re-rank step between a top-k searcher and a RAG
    * context window: from each query's `k` candidates, greedily pick
    * `m` that trade relevance against redundancy,
    * `argmax( λ·rel − (1−λ)·max_{s∈selected} sim(c, s) )`.
    *
    * Deterministic by construction: relevance is the rank-normalized
    * integer `(k − rank + 1)·10⁶ div k`, similarities are 6dp-rounded
    * cosines scaled to integers (the q53 cross-engine parity trick),
    * and λ = 1/2 makes the objective a difference of integer-valued
    * doubles < 2⁵³ — exact IEEE on any engine, ties broken on the
    * smaller candidate id.
    *
    * Shape: candidates join their vectors (queries×k rows), ONE
    * exchange collects each query's candidate array, and the greedy
    * loop is an intra-row fold (the q88 state-machine contract —
    * selection is inherently sequential, but over ≤ k rows of
    * per-query state, never over the corpus; the quadratic pair-sim
    * work is k² per query, computed inside the fold). Never a
    * driver-side loop, never a corpus shuffle.
    *
    * @param ranked (qid, rank, cid) — a [[bm25TopK]]/
    *               [[Similarity.bruteForceTopK]]-shaped result
    * @param vectors (id, vec: array<double>) for every cid
    * @return (qid, pos, cid) — pos = 1..m in selection order */
  def mmrRerank(ranked: DataFrame, vectors: DataFrame, m: Int,
                k: Int): DataFrame = {
    require(m > 0 && k >= m, s"need 0 < m <= k, got m=$m k=$k")
    val cands = ranked
      .join(vectors.withColumnRenamed("id", "cid"), Seq("cid"))
      .select(col("qid"), col("rank"), col("cid"), col("vec"))
    val perQuery = cands
      .groupBy(col("qid"))
      .agg(array_sort(collect_list(struct(col("rank"), col("cid"),
        col("vec")))).as("_cs"))
    // rel(rank) = (k - rank + 1)*1e6 div k, as an integer-valued double
    def rel(rank: Column): Column =
      floor((lit(k.toLong) - rank + 1L) * 1000000L / k).cast(DoubleType)
    // sim6 = round(cos, 6)*1e6, integer-valued double
    def sim6(a: Column, b: Column): Column =
      round(graft.functions.VectorFunctions.cosineFast(a, b), 6) * 1e6
    // greedy: state = selected array (in pick order); each step scans
    // the unselected candidates, scoring 0.5*rel - 0.5*maxSim
    val selected = aggregate(
      sequence(lit(1), lit(m)),
      expr("CAST(array() AS ARRAY<STRUCT<rank BIGINT, cid BIGINT, " +
        "vec ARRAY<DOUBLE>>>)"),
      (sel, _) => {
        val unpicked = filter(col("_cs"), c =>
          !exists(sel, s => s.getField("cid") === c.getField("cid")))
        val best = aggregate(unpicked,
          lit(null).cast(
            "STRUCT<score DOUBLE, rank BIGINT, cid BIGINT, vec ARRAY<DOUBLE>>"),
          (acc, c) => {
            // seed BELOW -1e6 so a selected set of all-negative
            // cosines still yields its true (negative) max — a 0 seed
            // would silently clamp redundancy penalties at orthogonal;
            // the empty-selection step is pure relevance (0 penalty)
            val maxSim = when(size(sel) === 0, lit(0.0))
              .otherwise(aggregate(sel, lit(-2.0e6),
                (mx, s) => greatest(mx, sim6(c.getField("vec"),
                  s.getField("vec")))))
            val score = rel(c.getField("rank")) * 0.5 - maxSim * 0.5
            val cand = struct(score.as("score"),
              c.getField("rank").as("rank"), c.getField("cid").as("cid"),
              c.getField("vec").as("vec"))
            when(acc.isNull, cand)
              .when(score > acc.getField("score"), cand)
              .when(score === acc.getField("score") &&
                c.getField("cid") < acc.getField("cid"), cand)
              .otherwise(acc)
          })
        when(best.isNull, sel).otherwise(concat(sel, array(struct(
          best.getField("rank").as("rank"), best.getField("cid").as("cid"),
          best.getField("vec").as("vec")))))
      })
    perQuery
      .select(col("qid"), posexplode(selected).as(Seq("_i", "_s")))
      .select(col("qid"), (col("_i") + 1).cast(LongType).as("pos"),
        col("_s").getField("cid").as("cid"))
  }

  /** Reciprocal-rank fusion — HYBRID retrieval's merge step: combine
    * two or more per-query rankings of the same corpus (a [[bm25TopK]]
    * keyword arm, a [[Similarity.bruteForceTopK]] /
    * [[Similarity.probeIvfIndex]] embedding arm, …) into one ranking
    * by summing each doc's reciprocal-rank contributions,
    * `Σ_arms scale div (k0 + rank)` — integer DIV instead of the
    * classic `1/(k0+r)` float sum, so the fused score (and therefore
    * the ranking and the k-cutoff) replays bit-for-bit in any 64-bit
    * engine, the [[bm25TopK]] replayability policy. A doc absent from
    * an arm simply contributes nothing (the union has no row), which
    * IS standard RRF. k0 = 60 is the constant from the original RRF
    * paper (Cormack/Clarke/Buettcher 2009); overflow: each
    * contribution is ≤ scale div (k0+1), so int64 is safe for any
    * realistic arm count at the default scale (10⁹·#arms ≪ 2⁶³).
    *
    * Scale shape: the inputs are retrieval RESULTS (queries × k rows
    * each), never the corpus — the union and the (qid, doc_id) sum
    * are metadata-sized against the index scans that produced them;
    * ranking goes through the k-bounded heap.
    *
    * @param rankings ≥ 2 frames of (qid, rank, doc_id) — extra
    *                 columns (scores) are ignored
    * @return (qid, rank, doc_id, rrf) — the fused top-k per query */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60, k: Int = 10,
              scale: Long = 1000000000L): DataFrame = {
    require(rankings.size >= 2,
      s"rrfFuse needs at least 2 rankings, got ${rankings.size}")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    require(k > 0, s"k must be positive, got $k")
    require(scale >= 1L, s"scale must be >= 1, got $scale")
    val contribs = rankings.map(_.select(col("qid"), col("doc_id"),
      expr(s"${scale}L div (${k0}L + rank)").as("_c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("_c")).as("rrf"))
    val kept = graft.plans.TopKPerGroup(fused, Seq("qid"),
      Seq(("rrf", false), ("doc_id", true)), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    kept.withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf"))
  }

  /** SymSpell-shaped fuzzy term suggestions: for each (possibly
    * misspelled) query term, the corpus vocabulary terms within
    * Levenshtein distance 1, ranked by document frequency — the
    * "did you mean" / query-relaxation primitive in front of
    * [[bm25TopK]].
    *
    * Candidate generation is the SymSpell trick: a term matches a
    * query term at distance ≤ 1 only if they share a 0-or-1-deletion
    * variant, so the join runs on deletion variants — vocab side
    * ≤ (len+1) short strings per term (vocab-sized, NOT corpus-sized:
    * the census collapses the corpus first), query side broadcast —
    * and an exact `levenshtein ≤ 1` verify prunes the distance-2
    * pairs deletion sharing also surfaces ("abcd" and "aced" share
    * the deletion "acd" but sit two substitutions apart): candidates
    * are approximate, the emitted verdict is exact — the near-dup
    * contract. Ranking goes through the bounded heap per query term.
    *
    * @return (query_term, rank, term, doc_freq) */
  def fuzzyTermSuggestions(docs: DataFrame, idCol: String, textCol: String,
                           queryTerms: Seq[String], k: Int = 3): DataFrame =
    fuzzyTermSuggestionsFromIndex(termPostings(docs, idCol, textCol),
      queryTerms, k)

  /** [[fuzzyTermSuggestions]] over a persisted [[termPostings]] frame
    * (the [[bm25TopK]] split): the vocabulary census comes from a
    * columnar index re-scan, never a corpus re-tokenization. */
  def fuzzyTermSuggestionsFromIndex(postings: DataFrame,
                                    queryTerms: Seq[String],
                                    k: Int = 3): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k > 0, s"k must be positive, got $k")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT))
    require(terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"query terms must be non-empty and whitespace-free: $queryTerms")
    // 0-or-1-deletion variants of a string column: the string itself
    // plus len strings with position i removed (array_union dedups —
    // "aa" has one distinct deletion)
    def delVariants(s: Column): Column = array_union(
      array(s),
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))
    val vocab = postings
      .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val vocabVars = vocab
      .select(col("term"), col("doc_freq"),
        explode(delVariants(col("term"))).as("_v"))
    val spark = postings.sparkSession
    import spark.implicits._
    val qVars = terms.toDF("query_term")
      .select(col("query_term"), explode(delVariants(col("query_term"))).as("_v"))
    val cands = vocabVars.join(broadcast(qVars), Seq("_v"))
      .select(col("query_term"), col("term"), col("doc_freq")).distinct()
      .filter(levenshtein(col("query_term"), col("term")) <= 1)
    val kept = graft.plans.TopKPerGroup(cands, Seq("query_term"),
      Seq(("doc_freq", false), ("term", true)), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_term"))
      .orderBy(col("doc_freq").desc, col("term"))
    kept.withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("query_term"), col("rank"), col("term"), col("doc_freq"))
  }

  /** PMI query expansion — the co-occurrence primitive behind "users
    * who searched X also meant Y": for each query term, the top-k
    * vocabulary terms by pointwise mutual information over DOC-LEVEL
    * co-occurrence: `pmi6 = ((joint·10⁶ div df_t)·N) div df_u` — the
    * PMI ratio without the log (rank-preserving per query term,
    * integer, same replayability rationale as the BM25 idf), STAGED
    * so intermediates stay bounded: joint ≤ df_t makes the first
    * factor ≤ 10⁶, so nothing exceeds 10⁶·N where the naive
    * `joint·N·10⁶` product overflows int64 already at ~10⁹ docs.
    * `minJoint` floors the joint count: PMI famously promotes hapax
    * pairs (joint=1, tiny df_u → huge ratio), which a co-occurrence
    * floor suppresses.
    *
    * Shape: the query terms' posting rows (broadcast semi-restricted,
    * each carrying df_t via the same aggregate-and-broadcast as
    * [[bm25TopK]]) join the corpus postings on doc id — the expansion
    * is |docs containing a query term| × their vocab rows, the
    * classic posting-intersection cost, never corpus × corpus; joint
    * counts shuffle as fixed-width (qterm, term) tuples; candidate
    * dfs attach from the vocabulary census (vocab-sized broadcast);
    * ranking through the bounded heap.
    *
    * @return (query_term, rank, term, pmi6, joint) */
  def pmiExpansion(docs: DataFrame, idCol: String, textCol: String,
                   queryTerms: Seq[String], k: Int = 5,
                   minJoint: Long = 3L): DataFrame =
    pmiExpansionFromIndex(termPostings(docs, idCol, textCol),
      docs.select(col(idCol)).agg(count(lit(1)).as("_n")),
      queryTerms, k, minJoint)

  /** [[pmiExpansion]] over a persisted [[termPostings]] frame plus a
    * one-row corpus-count frame (`_n` — derive it from the length
    * sidecar, `lens.agg(count(lit(1)).as("_n"))`, so no corpus
    * rescan happens at all): every census and join below runs off
    * columnar index re-scans — the [[bm25TopK]] split applied to
    * expansion. */
  def pmiExpansionFromIndex(postings: DataFrame, nDocs: DataFrame,
                            queryTerms: Seq[String], k: Int = 5,
                            minJoint: Long = 3L): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k > 0, s"k must be positive, got $k")
    require(minJoint >= 1L, s"minJoint must be >= 1, got $minJoint")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val spark = postings.sparkSession
    import spark.implicits._
    val post = postings.select(col("term"), col("id"))
    val vocab = post.groupBy(col("term")).agg(count(lit(1)).as("_dfu"))
    val qpost = post
      .join(broadcast(terms.toDF("query_term")),
        col("term") === col("query_term"))
      .select(col("query_term"), col("id"))
    val qdf = qpost.groupBy(col("query_term")).agg(count(lit(1)).as("_dft"))
    val joint = qpost.join(post, Seq("id"))
      .filter(col("term") =!= col("query_term"))
      .groupBy(col("query_term"), col("term"))
      .agg(count(lit(1)).as("joint"))
      .filter(col("joint") >= minJoint)
    val scored = joint
      .join(broadcast(qdf), Seq("query_term"))
      .join(broadcast(vocab), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("query_term"), col("term"), col("joint"),
        expr("(((joint * 1000000L) div _dft) * _n) div _dfu").as("pmi6"))
    val kept = graft.plans.TopKPerGroup(scored, Seq("query_term"),
      Seq(("pmi6", false), ("term", true)), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_term"))
      .orderBy(col("pmi6").desc, col("term"))
    kept.withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("query_term"), col("rank"), col("term"), col("pmi6"),
        col("joint"))
  }

  /** Term-distribution drift between two corpus snapshots — the
    * monitoring primitive that catches a crawl/filter regression
    * before training does: each side's term share in parts-per-1e8
    * (integer div — replayable), drift = |share_a − share_b|, top-k
    * drifted terms. Terms absent from a side carry share 0 (the full
    * outer join keeps them — exactly the new-boilerplate /
    * vanished-source cases worth alarming on). Census tuples shuffle,
    * bodies never; top-k via TakeOrderedAndProject.
    *
    * Each side's TOTAL is a scalar equal to its token count (the
    * census sums to the side's occurrence count by construction), so
    * it comes from a narrow tokenCount scan — no explode, no
    * exchange, broadcast back as one row. The r6 shape summed the
    * totals with a single-partition window over the JOINED census,
    * which puts the whole vocabulary — 10⁸–10⁹ distinct terms on
    * crawl data — in one sorting task (VERDICT r6 item 3); the extra
    * narrow scan here is metadata-cheap against that. An empty (or
    * all-empty-text) side yields share 0 for every term rather than
    * a silent all-null board (the statsFromLens guard). */
  def termDrift(docsA: DataFrame, docsB: DataFrame, idCol: String,
                textCol: String, k: Int = 20): DataFrame = {
    def census(d: DataFrame) = positionalPostings(d, idCol, textCol)
      .groupBy(col("term")).agg(count(lit(1)).as("_cnt"))
    def total(d: DataFrame) = d.agg(
      coalesce(sum(TextFunctions.tokenCount(col(textCol)).cast(LongType)),
        lit(0L)))
    val a = census(docsA).select(col("term"), col("_cnt").as("_ca"))
    val b = census(docsB).select(col("term"), col("_cnt").as("_cb"))
    val totals = total(docsA).toDF("_ta")
      .crossJoin(broadcast(total(docsB).toDF("_tb")))
    a.join(b, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .crossJoin(broadcast(totals))
      .select(col("term"),
        when(col("_ta") === 0L, lit(0L))
          .otherwise(expr("(_ca * 100000000L) div _ta")).as("share_a"),
        when(col("_tb") === 0L, lit(0L))
          .otherwise(expr("(_cb * 100000000L) div _tb")).as("share_b"))
      .select(col("term"), col("share_a"), col("share_b"),
        abs(col("share_a") - col("share_b")).as("drift"))
      .orderBy(col("drift").desc, col("term"))
      .limit(k)
  }

  /** Exact phrase occurrences per document: docs where `phrase`'s
    * tokens appear contiguously (whitespace tokenization, lowercased —
    * the index's own token geometry, NOT substring match), with the
    * occurrence count. Returns (id, n_matches), matches only.
    *
    * Shape: positional postings filtered to the phrase's terms (a
    * tiny in-filter — never a full-corpus aggregation), ONE exchange
    * on id collecting each doc's (pos, slot) hits, then an intra-row
    * fold: a start at `p` is a match iff every (p+j, j) is present,
    * membership tested against a `pos·L+slot` encoding in LONG
    * arithmetic (injective for any doc length: slot < L and
    * pos < 2³¹, so the product never wraps — the r6 Int form could).
    * A term maps to EVERY phrase slot expecting it, so repeated-term
    * phrases ("new york new york", "dup dup") match correctly —
    * each occurrence explodes into ≤ L slot encodings (the r6 form
    * refused repeated terms outright). Per-doc state is bounded by
    * the doc's phrase-term occurrences × slots, the q88
    * collected-fold contract. */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
                    phrase: Seq[String]): DataFrame =
    phraseMatchesPositional(positionalPostings(docs, idCol, textCol), phrase)

  /** [[phraseMatches]] over an already-built [[positionalPostings]]
    * frame — the "build once, probe many" seam (the
    * [[bm25TopK]] postings/stats split): a corpus's positional index
    * is persisted beside its postings and every phrase probe starts
    * from a columnar re-scan instead of re-tokenizing the corpus. */
  def phraseMatchesPositional(positional: DataFrame,
                              phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    require(phrase.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"phrase tokens must be non-empty and whitespace-free: $phrase")
    val terms = phrase.map(_.toLowerCase(java.util.Locale.ROOT))
    val L = terms.size
    // term → ALL slots expecting it (per-index encoding): "dup dup"
    // maps 'dup' to [0, 1]; each occurrence contributes one encoding
    // per slot, and one start candidate when slot 0 expects it
    val slotMap = map(terms.zipWithIndex.groupBy(_._1).toSeq
      .sortBy(_._1).flatMap { case (t, xs) =>
        Seq(lit(t), array(xs.map(x => lit(x._2)): _*))
      }: _*)
    val hits = positional
      .filter(col("term").isin(terms.distinct.map(lit(_)): _*))
      .select(col("id"), col("pos").cast(LongType).as("_p"),
        explode(element_at(slotMap, col("term"))).as("_j"))
      .select(col("id"),
        (col("_p") * L + col("_j")).as("_enc"),
        when(col("_j") === 0, col("_p")).as("_start"))
    val grouped = hits
      .groupBy(col("id"))
      .agg(collect_list(col("_enc")).as("_encs"),
        collect_list(col("_start")).as("_starts"))
    // L == 1 would make sequence(1, L-1) DESCEND ([1, 0]) — Spark's
    // sequence generates downward when start > stop — so the
    // single-token phrase is its own (trivial) arm: every occurrence
    // is a match.
    val nMatches =
      if (L == 1) size(col("_starts"))
      else size(filter(col("_starts"), p =>
        aggregate(sequence(lit(1), lit(L - 1)), lit(true),
          (acc, j) => acc && array_contains(col("_encs"), (p + j) * L + j))))
    grouped
      .select(col("id"), nMatches.as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Vocabulary coverage curve — for each requested vocab size `s`,
    * the share of all token occurrences the `s` most frequent terms
    * cover (parts-per-1e8). The tokenizer-design question every
    * corpus asks ("how big must the vocab be to cover 97%?"), and the
    * Zipf-head sanity check on a new crawl snapshot (a boilerplate
    * regression fattens the head; a spam influx fattens the tail).
    *
    * Scale shape: the census is a map-side-combined token count (the
    * [[termDrift]] family); the HEAD is a bounded
    * `orderBy(cnt desc, term).limit(max(sizes))` —
    * TakeOrderedAndProject's per-partition bounded heaps, so the
    * 10⁸–10⁹-term crawl tail is never sorted, never single-tasked
    * (the q130 lesson). The head's counts — `max(sizes)` longs by
    * contract, enforced ≤ 2²⁰ — come to the driver for the prefix
    * sums (the ≤k-row centroid-pickup contract); no window anywhere,
    * global or otherwise. The total is a narrow token-count scan (the
    * [[termDrift]] totals convention — a second scan of the text, but
    * a SUM-shaped one with no exchange on terms).
    *
    * Coverage is integer: `head_tokens · 10⁸ DIV total` in 128-bit
    * (BigInt here, HUGEINT in the oracle) — at 100 TB the corpus
    * holds ~2.5·10¹³ tokens and the 64-bit product would wrap.
    *
    * @return one row per size: (size, vocab_terms — min(size, |vocab|),
    *         head_tokens, total_tokens, coverage_ppm8), ordered by
    *         size. */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty, "sizes must be non-empty")
    require(sizes.forall(_ > 0), s"sizes must be positive: $sizes")
    require(sizes.max <= (1 << 20),
      s"head cap is 2^20 terms (the bounded-pickup contract), got ${sizes.max}")
    require(sizes.distinct.size == sizes.size, s"duplicate sizes: $sizes")
    val census = docs
      .select(explode(TextFunctions.whitespaceTokens(col(textCol)))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val head = census
      .orderBy(col("cnt").desc, col("term")).limit(sizes.max)
      .select(col("cnt"))
      .collect().map(_.getLong(0))
    val total = docs
      .agg(coalesce(sum(TextFunctions.tokenCount(col(textCol))
        .cast(LongType)), lit(0L)))
      .collect()(0).getLong(0)
    val prefix = head.scanLeft(0L)(_ + _)
    val rows = sizes.sorted.map { s =>
      val n = math.min(s, head.length)
      val cum = prefix(n)
      val ppm8 =
        if (total == 0L) 0L
        else ((BigInt(cum) * 100000000) / BigInt(total)).toLong
      (s.toLong, n.toLong, cum, total, ppm8)
    }
    val sp = docs.sparkSession
    import sp.implicits._
    rows.toDF("size", "vocab_terms", "head_tokens", "total_tokens",
      "coverage_ppm8")
  }
}
