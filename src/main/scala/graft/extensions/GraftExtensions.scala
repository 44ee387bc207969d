package graft.extensions

import scala.language.implicitConversions
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, lit, split}
import org.apache.spark.sql.types.IntegerType
import graft.expressions.{BloomMightContain, CosineSimilarity, JaccardSimilarity, JaccardSimilaritySorted, NfcClean, NoInline}
import graft.functions.TextFunctions
import graft.operators.{Association, ChatOps, DatasetOps, Dedup, Graph, Multimodal, Robots, ScaleOps, Search, Similarity, Sketches, Stats}
import graft.sources.Warc
import Arg._
import Door.{chain, fn, refuse, tvf}

/** Engine extension point (the `SparkSessionExtensions` surface).
  *
  * Registers graft's SQL doors into the session's function registries,
  * making them first-class in BOTH the SQL dialect
  * (`SELECT cosine_sim(a, b)`, `SELECT * FROM page_rank(...)`) and the
  * DataFrame API (`call_function("cosine_sim", a, b)`), with full
  * Catalyst optimization and whole-stage codegen.
  *
  * Every door is one entry in [[GraftExtensions.scalarDoors]] or
  * [[GraftExtensions.tableDoors]]: its name, its typed arguments and a
  * builder ([[Door]]). The arity check and the usage line — shown both
  * in the arity refusal and in the function's `ExpressionInfo` — come
  * from that entry, as do literal parsing and the "table lacks column"
  * check. Table doors return the operator composition's analyzed plan:
  * a whole DataFrame-level operator exposed as a table function.
  *
  * Activate with `.config("spark.sql.extensions",
  * "graft.extensions.GraftExtensions")` on the session builder —
  * every graft session factory (GraftSession, Verify, Bench, tests)
  * does.
  */
object GraftExtensions {
  /** Row ceiling above which the quadratic `cosine_near_dup` TVF
    * refuses to plan without an explicit `allow_quadratic` opt-in:
    * 10k rows ≈ 5·10⁷ candidate pairs, the upper edge of what an
    * oracle-tier run should ever touch. */
  val QuadraticTvfRowCeiling: Int = 10000

  private implicit def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  val scalarDoors: Seq[Door[Expression]] = Seq(
    fn("cosine_sim", "a", "b")(CosineSimilarity(_, _)),
    fn("jaccard_sim", "a", "b")(JaccardSimilarity(_, _)),
    fn("jaccard_sim_sorted", "a", "b")(JaccardSimilaritySorted(_, _)),
    fn("bloom_might_contain", "bloom", "value")(BloomMightContain(_, _)),
    fn("no_inline", "x")(NoInline(_)),
    fn("nfc_clean", "text")(NfcClean(_)),
    // the text-cleaner, URL, link, sitemap and boilerplate tiers: the
    // Scala surface's Column chains, expanded at resolution
    chain("fix_mojibake", "text")(TextFunctions.fixMojibake),
    chain("redact_pii", "text")(TextFunctions.redactPii),
    chain("url_normalize", "url")(TextFunctions.urlNormalize),
    // feed it an url_normalize'd URL, per the Column twin's contract
    chain("surt_key", "url")(TextFunctions.surtKey),
    // NULL when the document declares no meta charset
    chain("html_charset", "html")(TextFunctions.htmlCharset),
    chain("extract_anchors", "html", "page_url")(TextFunctions.extractAnchors),
    chain("extract_links", "html", "page_url")(TextFunctions.extractLinks),
    chain("extract_canonical", "html", "page_url")(TextFunctions.extractCanonical),
    chain("canonical_key", "html", "page_url")(TextFunctions.canonicalKey),
    chain("sitemap_index_locs", "xml")(TextFunctions.sitemapIndexLocs),
    chain("sitemap_url_locs", "xml")(TextFunctions.sitemapUrlLocs),
    chain("sitemap_url_entries", "xml")(TextFunctions.sitemapUrlEntries),
    chain("html_blocks", "html")(TextFunctions.htmlBlocks),
    chain("main_content", "html")(TextFunctions.mainContent))

  private def queries(name: String) =
    table(name, "qid", "qvec").expecting("(qid, qvec: array<double>)")
  private def ranked(name: String) = table(name, "qid", "rank", "doc_id")
  /** The one-row (qid, qtext) batch an ad-hoc keyword probe scores. */
  private def queryFrame(query: String): DataFrame =
    SparkSession.active.range(1).select(lit(0L).as("qid"), lit(query).as("qtext"))

  val tableDoors: Seq[Door[LogicalPlan]] = Seq(
    // the heap plan node for SQL users: order items take an optional
    // ASC/DESC; the optional rank column is the row_number equivalent.
    // Emits the UNRESOLVED node over the table's unresolved relation —
    // the analyzer resolves both as for any FROM-clause table.
    tvf("topk_per_group", table("table"), columns("group_cols"),
        list("order_spec"), int("k", lo = 1), str("rank_col").optional) {
      (t, groups, order, k, rank) =>
        graft.plans.TopKPerGroup(
          groups.map(UnresolvedAttribute.quotedString).toIndexedSeq,
          order.map { item =>
            val lower = item.toLowerCase(java.util.Locale.ROOT)
            val (name, asc) =
              if (lower.endsWith(" desc")) (item.dropRight(5).trim, false)
              else if (lower.endsWith(" asc")) (item.dropRight(4).trim, true)
              else (item, true)
            SortOrder(UnresolvedAttribute.quotedString(name),
              if (asc) Ascending else Descending)
          }.toIndexedSeq, k, t.queryExecution.logical,
          rank.map(AttributeReference(_, IntegerType, nullable = false)()))
    },
    // near-dup pair mining: the exact all-pairs oracle tier (quadratic,
    // guarded by a bounded limit-count unless explicitly opted in) and
    // the banded-LSH production tier for thresholds >= ~0.85
    tvf("cosine_near_dup", table("table"), column("id_col"),
        column("vec_col"), num("threshold"), bool("allow_quadratic").or(false)) {
      (t, id, vec, threshold, allowQuadratic) =>
        val ceiling = QuadraticTvfRowCeiling
        if (!allowQuadratic && t.limit(ceiling + 1).count() > ceiling)
          refuse(s"cosine_near_dup is the exact ALL-PAIRS tier (O(n^2) pairs): " +
            s"its table exceeds $ceiling rows. Use " +
            "cosine_near_dup_banded(table, id_col, vec_col, threshold, dim) " +
            "for production scale, or opt in explicitly with " +
            "cosine_near_dup(table, id_col, vec_col, threshold, true)")
        Similarity.cosineNearDupPairsExact(t, id, vec, threshold)
    },
    tvf("cosine_near_dup_banded", table("table"), column("id_col"),
        column("vec_col"), num("threshold"), int("dim"))(
      Similarity.cosineNearDupPairsBanded(_, _, _, _, _)),
    // newline lines by default; a chunk_width switches to fixed token
    // chunks (the newline-free corpus's decomposition)
    tvf("line_dedup", table("table"), column("id_col"), column("text_col"),
        int("min_docs"), int("chunk_width").optional) {
      (t, id, text, minDocs, width) =>
        val (docs, lines, sep) = width match {
          case Some(w) => (t.select(col(id),
              TextFunctions.whitespaceTokens(col(text)).as("_tk")),
            TextFunctions.tokenChunks(col("_tk"), w, w), " ")
          case None => (t.select(col(id), col(text)),
            split(col(text), "\n", -1), "\n")
        }
        Dedup.removeBoilerplateLines(docs, id, lines, minDocs, sep)
    },
    tvf("pack_sequences", table("table"), column("id_col"), column("text_col"),
        int("seq_len"), int("n_shards")) {
      (t, id, text, seqLen, nShards) => DatasetOps.packSequences(t, id,
        TextFunctions.tokenCount(col(text)), seqLen, nShards)
    },
    tvf("mask_spans", table("table"), column("id_col"), column("text_col"),
        int("k"), int("min_docs").or(2))(DatasetOps.maskRepeatedSpans(_, _, _, _, _)),
    // the EXACT tier; the sketch tier's cut is resolution-dependent,
    // which a SQL surface should not hide
    tvf("quality_gate", table("table"), column("group_col"),
        column("score_col"), column("id_col"), num("keep_frac")) {
      (t, group, score, id, frac) =>
        require(frac > 0.0 && frac <= 1.0,
          s"quality_gate: keep_frac must be in (0, 1], got $frac")
        DatasetOps.qualityGateExact(t, group, score, id, frac)
    },
    // the iterated loops run at resolution; the plan reads the
    // checkpointed score tables
    tvf("page_rank", table("edge_table"), column("src_col"),
        column("dst_col"), int("iters"))(Graph.pageRank(_, _, _, _)),
    tvf("hits", table("edge_table"), column("src_col"), column("dst_col"),
        int("iters"))(Graph.hits(_, _, _, _)),
    tvf("resolve_redirects", table("table"), column("src_col"),
        column("dst_col"), int("hop_cap"))(Graph.resolveRedirects(_, _, _, _)),
    tvf("reference_lm_score", table("docs_table"), table("ref_table"),
        column("id_col"), column("text_col", "docs_table", "ref_table"))(
      DatasetOps.referenceLmScores(_, _, _, _)),
    tvf("dup_span_excise", table("table"), column("id_col"),
        column("text_col"), int("k")) {
      (t, id, text, k) => Dedup.exciseSpans(t, Dedup.dupSpans(t, id, text, k), id, text)
    },
    tvf("warc_records", table("table"), column("blob_col"))(Warc.parseRecords(_, _)),
    tvf("http_split", table("table"), column("payload_col"))(Warc.httpSplit(_, _)),
    tvf("robots_sitemaps", table("robots_table", "host", "txt"))(
      Robots.sitemaps(_, "host", "txt")),
    tvf("robots_verdicts", table("robots_table", "host", "txt"),
        table("requests_table", "host", "agent", "upath")) {
      (robots, reqs) => Robots.verdicts(Robots.rules(robots, "host", "txt"), reqs)
    },
    tvf("repetition_signals", table("table"), column("id_col"),
        column("text_col"))(DatasetOps.repetitionSignals(_, _, _)),
    tvf("chat_flatten", table("table"), column("id_col"), column("json_col"))(
      ChatOps.flatten(_, _, _)),
    tvf("chat_context_fit", table("table"), column("id_col"),
        column("json_col"), long("budget", lo = 1))(ChatOps.fitContextFlat(_, _, _, _)),
    tvf("preference_pairs", table("table"), column("grp_col"),
        column("id_col"), column("score_col"), long("min_gap"))(
      ChatOps.preferencePairs(_, _, _, _, _)),
    tvf("best_of_n", table("table"), column("grp_col"), column("id_col"),
        column("score_col"), int("k"), long("floor"))(ChatOps.bestOfN(_, _, _, _, _, _)),
    tvf("importance_score", table("corpus_table"), table("target_table"),
        column("id_col", "corpus_table", "target_table"),
        column("text_col", "corpus_table", "target_table"), int("k").or(2))(
      DatasetOps.importanceScores(_, _, _, _, _)),
    // the power-of-two and ordering requires surface as analysis
    // errors rather than mid-job failures
    tvf("length_batches", table("table"), column("id_col"), column("text_col"),
        int("batch_size"), int("min_bucket").or(16), int("max_bucket").or(2048),
        int("n_shards").or(8)) {
      (t, id, text, batch, minB, maxB, nShards) => DatasetOps.lengthBucketBatches(
        t, id, TextFunctions.tokenCount(col(text)), batch, minB, maxB, nShards)
    },
    tvf("mean_pool", table("table"), column("group_col"), column("vec_col"))(
      Similarity.meanPoolEmbeddings(_, _, _)),
    tvf("mine_triplets", table("pairs_table", "idA", "idB", "sim"),
        table("ids_table"), column("id_col", "ids_table"), int("n_shards").or(8))(
      Similarity.mineTriplets(_, _, _, _)),
    // ad-hoc keyword probes pay the index build; repeated probes
    // should persist the postings (bm25_search_idx, or Scala)
    tvf("bm25_search", table("table"), column("id_col"), column("text_col"),
        str("query"), int("k")) {
      (t, id, text, query, k) => Search.bm25TopK(queryFrame(query),
        Search.termPostings(t, id, text), Search.corpusStats(t, id, text), k = k)
    },
    tvf("bm25_search_idx", table("postings_table", "term", "id", "tf", "dl")
        .expecting("a Search.termPostings/writePostingsBucketed landing"),
        table("lens_table", "id", "dl").expecting("a Search.docLens landing"),
        str("query"), int("k", lo = 1)) {
      (post, lens, query, k) =>
        Search.bm25TopK(queryFrame(query), post, Search.statsFromLens(lens), k = k)
    },
    tvf("boolean_search", table("table"), column("id_col"), column("text_col"),
        terms("must"), terms("should"), terms("must_not"), int("k")) {
      (t, id, text, must, should, mustNot, k) => Search.booleanSearch(
        Search.termPostings(t, id, text), must, should, mustNot, k)
    },
    tvf("facet_search", table("table"), column("id_col"), column("text_col"),
        column("facet_col"), terms("must"), int("top_n")) {
      (t, id, text, facet, must, topN) => Search.facetedSearch(
        Search.termPostings(t, id, text), t, id, facet, must, topN)
    },
    tvf("skew_report", table("table"), column("key_col"),
        long("target_rows_per_task"), int("top_n"))(ScaleOps.skewReport(_, _, _, _)),
    tvf("histogram", table("table"), column("value_col"), int("n_bins"),
        long("lo"), long("hi"))(DatasetOps.histogram(_, _, _, _, _)),
    tvf("association_rules", table("table"), column("basket_col"),
        column("item_col"), long("min_support"), int("top_n"))(
      Association.associationRules(_, _, _, _, _)),
    tvf("substring_search", table("table"), column("id_col"),
        column("text_col"), str("pattern"))(Search.substringSearch(_, _, _, _)),
    tvf("substring_search_idx", table("grams_table", "id", "gram")
        .expecting("a Search.charGramPostings landing"), table("docs_table"),
        column("id_col", "docs_table"), column("text_col", "docs_table"),
        str("pattern"))(Search.substringSearchFromIndex(_, _, _, _, _)),
    // the persisted vector indexes: each probe recovers its build
    // geometry from the index's sidecar, never guesses
    tvf("pq_search", index("index_dir", "Similarity.Pq.writePqIndex",
          "codes" -> ("cid" +: (0 until Similarity.Pq.m).map(i => s"c$i"))),
        queries("queries_table"), int("k")) {
      (dir, q, k) => Similarity.Pq.probePqIndex(SparkSession.active, dir, q, k)
    },
    tvf("ivf_search", index("index_dir", "Similarity.writeIvfIndex",
          "centroids" -> Seq("_cell", "_cent"), "cells" -> Seq("cid", "cvec", "_cell")),
        queries("queries_table"), int("k"), int("n_probe", lo = 1)) {
      (dir, q, k, nProbe) =>
        Similarity.probeIvfIndex(SparkSession.active, dir, q, k, nProbe)
    },
    tvf("sq_search", index("index_dir", "Similarity.Sq.writeSqIndex",
          "codes" -> Seq("cid", "codes")),
        queries("queries_table"), int("k")) {
      (dir, q, k) => Similarity.Sq.probeSqIndex(SparkSession.active, dir, q, k)
    },
    // perceptual near-dups over the 8×9 gray hex raster (image) and
    // the loudness envelope (audio); pigeonhole-exact at
    // bands > max_hamming, enforced by the operator
    tvf("image_near_dup", table("table"), column("id_col"),
        column("raster_hx_col"), int("max_hamming"), int("bands")) {
      (t, id, hx, maxHamming, bands) => Multimodal.imageNearDupPairs(
        t.select(col(id).as("id"), Multimodal.dHashBits(col(hx), 8, 8).as("bits")),
        "id", "bits", maxHamming, bands)
    },
    tvf("audio_near_dup", table("table"), column("id_col"),
        column("envelope_col"), int("max_hamming"), int("bands")) {
      (t, id, env, maxHamming, bands) => Multimodal.audioNearDupPairs(
        t.select(col(id).as("id"),
          Multimodal.audioFingerprintBits(col(env)).as("bits"))
          .filter(col("bits").isNotNull),
        "id", "bits", maxHamming, bands)
    },
    tvf("surprisal_score", table("table"), column("id_col"),
        column("text_col"))(DatasetOps.surprisalScores(_, _, _)),
    tvf("mixture_waterfill", table("table"), column("source_col"),
        column("text_col"), long("budget"), long("cap_milli"))(
      DatasetOps.mixtureAllocation(_, _, _, _, _)),
    tvf("phrase_match", table("table"), column("id_col"), column("text_col"),
        terms("phrase"))(Search.phraseMatches(_, _, _, _)),
    tvf("fuzzy_terms", table("table"), column("id_col"), column("text_col"),
        terms("query_terms"), int("k").or(3))(Search.fuzzyTermSuggestions(_, _, _, _, _)),
    // weights is a 'src0:3,src1:2' literal; unlisted sources weigh 1
    tvf("interleave_sources", table("table"), column("id_col"),
        column("source_col"), list("weights"), int("n_shards").or(8)) {
      (t, id, source, weights, nShards) =>
        DatasetOps.interleaveSources(t, id, source, weights.map { w =>
          w.split(':') match {
            case Array(src, n) if n.trim.matches("\\d+") => src.trim -> n.trim.toLong
            case _ => refuse(s"interleave_sources: weights must look like " +
              s"'src0:3,src1:2', got '$w'")
          }
        }.toMap, nShards = nShards)
    },
    tvf("mmr_rerank", table("ranked_table", "qid", "rank", "cid"),
        table("vectors_table", "id", "vec"), int("m"), int("k"))(
      Search.mmrRerank(_, _, _, _)),
    tvf("best_snippets", table("table"), column("id_col"), column("text_col"),
        terms("query_terms"), int("window").or(16))(Search.bestSnippets(_, _, _, _, _)),
    tvf("pmi_expand", table("table"), column("id_col"), column("text_col"),
        terms("query_terms"), int("k"), long("min_joint").or(3L))(
      Search.pmiExpansion(_, _, _, _, _, _)),
    tvf("rrf_fuse", ranked("ranked_a"), ranked("ranked_b"), int("k0"), int("k")) {
      (a, b, k0, k) => Search.rrfFuse(Seq(a, b), k0, k)
    },
    // budgets are token COUNTS, routinely > Int.MaxValue at corpus scale
    tvf("select_token_budget", table("table"), column("id_col"),
        column("score_col"), column("token_col"), long("budget"))(
      DatasetOps.selectTokenBudget(_, _, _, _, _)),
    tvf("exact_quantiles", table("table"), column("value_col"), ppms("q_ppms"))(
      Stats.exactQuantiles(_, _, _)),
    tvf("equidepth_hist", table("table"), column("value_col"), int("k"))(
      Stats.equiDepthHistogram(_, _, _)),
    tvf("grouped_quantiles", table("table"), column("group_col"),
        column("value_col"), ppms("q_ppms"))(Stats.groupedExactQuantiles(_, _, _, _)),
    tvf("table_profile", table("table"), columns("cols"))(Stats.profile(_, _)),
    // the ad-hoc sketch tiers: the Scala surface persists and merges
    // the count-min grid and the KMV min-sets for build-once/probe-many
    tvf("count_min_probe", table("table"), column("term_col"), int("depth"),
        int("width"), list("probes")) {
      (t, term, depth, width, probes) =>
        require(probes.nonEmpty, "count_min_probe: at least one probe term required")
        val spark = SparkSession.active
        import spark.implicits._
        Sketches.countMinEstimate(Sketches.countMinBuild(t, term, depth, width),
          probes.toDF("term"), "term", depth, width)
    },
    tvf("kmv_distinct", table("table"), column("group_col"), column("item_col"),
        int("k")) {
      (t, group, item, k) =>
        Sketches.kmvEstimate(Sketches.kmvMins(t, Seq(group), item, k), Seq(group), k)
    },
    tvf("weighted_sample", table("table"), column("group_col"), column("id_col"),
        column("weight_col"), int("k"))(DatasetOps.weightedPrioritySample(_, _, _, _, _)))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for (d <- GraftExtensions.scalarDoors)
      ext.injectFunction((FunctionIdentifier(d.name), d.info,
        (c: Seq[Expression]) => d(c)))
    for (d <- GraftExtensions.tableDoors)
      ext.injectTableFunction((FunctionIdentifier(d.name), d.info,
        (c: Seq[Expression]) => d(c)))
    // the top-k-per-group plan node's strategy (logical node +
    // strategy + physical heaps; see graft.plans) …
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // … and the optimizer rule that gives the SQL/window idiom
    // (`filter(row_number() over (...) <= k)`) the same bounded-heap plan
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}
