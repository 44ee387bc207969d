package graft

import java.nio.file.Files
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}
import org.scalatest.funsuite.AnyFunSuite

/** Every SQL door's refusal paths, table-driven: for each table
  * function a wrong arity (refused with the door's usage line), a
  * column reference where a literal belongs (refused naming the
  * argument) and a missing input column (refused with "lacks"); plus
  * the census of the 20 scalar and 56 table-function names the
  * extension registers, read back from the session's registries. */
class SqlDoorSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val classic =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private val scalarNames = Seq(
    "cosine_sim", "no_inline", "bloom_might_contain", "jaccard_sim",
    "jaccard_sim_sorted", "nfc_clean", "fix_mojibake", "url_normalize",
    "extract_anchors", "extract_links", "extract_canonical", "canonical_key",
    "sitemap_index_locs", "sitemap_url_locs", "sitemap_url_entries",
    "html_blocks", "main_content", "surt_key", "redact_pii", "html_charset")

  /** One table door: its expected signature, a literal argument list
    * that passes every door-side check, and the (position, literal)
    * that makes one required input column go missing. */
  private case class Door(name: String, sig: String, args: Seq[String],
                          miss: (Int, String)) {
    def fn(as: Seq[String]): String = s"$name(${as.mkString(", ")})"
    def call(as: Seq[String]): String = s"SELECT * FROM ${fn(as)}"
    def required: Int = sig.takeWhile(_ != '[').split(",").length
    def argNames: Seq[String] =
      sig.replaceAll("[\\[\\]]", "").split(",").map(_.trim).toSeq
  }

  private val noIdx = Files.createTempDirectory("graft_door_noidx").toString
  private val t = "'door_t'"
  private val bare = "'door_bare'"
  private val nope = "'nope'"

  private val doors = Seq(
    Door("topk_per_group", "table, group_cols, order_spec, k[, rank_col]",
      Seq(t, "'grp'", "'score DESC, id'", "3"), 1 -> nope),
    Door("cosine_near_dup",
      "table, id_col, vec_col, threshold[, allow_quadratic]",
      Seq(t, "'id'", "'vec'", "0.9"), 2 -> nope),
    Door("cosine_near_dup_banded", "table, id_col, vec_col, threshold, dim",
      Seq(t, "'id'", "'vec'", "0.9", "2"), 2 -> nope),
    Door("line_dedup", "table, id_col, text_col, min_docs[, chunk_width]",
      Seq(t, "'id'", "'text'", "2"), 2 -> nope),
    Door("pack_sequences", "table, id_col, text_col, seq_len, n_shards",
      Seq(t, "'id'", "'text'", "64", "2"), 2 -> nope),
    Door("mask_spans", "table, id_col, text_col, k[, min_docs]",
      Seq(t, "'id'", "'text'", "8"), 2 -> nope),
    Door("quality_gate", "table, group_col, score_col, id_col, keep_frac",
      Seq(t, "'grp'", "'score'", "'id'", "0.5"), 2 -> nope),
    Door("page_rank", "edge_table, src_col, dst_col, iters",
      Seq(t, "'src'", "'dst'", "3"), 1 -> nope),
    Door("hits", "edge_table, src_col, dst_col, iters",
      Seq(t, "'src'", "'dst'", "3"), 2 -> nope),
    Door("resolve_redirects", "table, src_col, dst_col, hop_cap",
      Seq(t, "'src'", "'dst'", "4"), 1 -> nope),
    Door("reference_lm_score", "docs_table, ref_table, id_col, text_col",
      Seq(t, t, "'id'", "'text'"), 1 -> bare),
    Door("dup_span_excise", "table, id_col, text_col, k",
      Seq(t, "'id'", "'text'", "20"), 2 -> nope),
    Door("warc_records", "table, blob_col", Seq(t, "'blob'"), 1 -> nope),
    Door("http_split", "table, payload_col", Seq(t, "'payload'"), 1 -> nope),
    Door("robots_sitemaps", "robots_table", Seq(t), 0 -> bare),
    Door("robots_verdicts", "robots_table, requests_table", Seq(t, t),
      1 -> bare),
    Door("repetition_signals", "table, id_col, text_col",
      Seq(t, "'id'", "'text'"), 2 -> nope),
    Door("chat_flatten", "table, id_col, json_col",
      Seq(t, "'id'", "'json'"), 2 -> nope),
    Door("chat_context_fit", "table, id_col, json_col, budget",
      Seq(t, "'id'", "'json'", "100"), 2 -> nope),
    Door("preference_pairs", "table, grp_col, id_col, score_col, min_gap",
      Seq(t, "'grp'", "'id'", "'score'", "1"), 3 -> nope),
    Door("best_of_n", "table, grp_col, id_col, score_col, k, floor",
      Seq(t, "'grp'", "'id'", "'score'", "2", "0"), 3 -> nope),
    Door("importance_score",
      "corpus_table, target_table, id_col, text_col[, k]",
      Seq(t, t, "'id'", "'text'"), 1 -> bare),
    Door("length_batches", "table, id_col, text_col, batch_size" +
      "[, min_bucket[, max_bucket[, n_shards]]]",
      Seq(t, "'id'", "'text'", "8"), 2 -> nope),
    Door("mean_pool", "table, group_col, vec_col",
      Seq(t, "'grp'", "'vec'"), 2 -> nope),
    Door("mine_triplets", "pairs_table, ids_table, id_col[, n_shards]",
      Seq(t, t, "'id'"), 0 -> bare),
    Door("bm25_search", "table, id_col, text_col, query, k",
      Seq(t, "'id'", "'text'", "'red fox'", "3"), 2 -> nope),
    Door("bm25_search_idx", "postings_table, lens_table, query, k",
      Seq(t, t, "'red fox'", "3"), 0 -> bare),
    Door("boolean_search",
      "table, id_col, text_col, must, should, must_not, k",
      Seq(t, "'id'", "'text'", "'red'", "'fox'", "''", "3"), 2 -> nope),
    Door("facet_search", "table, id_col, text_col, facet_col, must, top_n",
      Seq(t, "'id'", "'text'", "'grp'", "'red'", "5"), 3 -> nope),
    Door("skew_report", "table, key_col, target_rows_per_task, top_n",
      Seq(t, "'grp'", "100", "5"), 1 -> nope),
    Door("histogram", "table, value_col, n_bins, lo, hi",
      Seq(t, "'tok'", "4", "0", "100"), 1 -> nope),
    Door("association_rules",
      "table, basket_col, item_col, min_support, top_n",
      Seq(t, "'grp'", "'id'", "1", "5"), 2 -> nope),
    Door("substring_search", "table, id_col, text_col, pattern",
      Seq(t, "'id'", "'text'", "'red f'"), 2 -> nope),
    Door("substring_search_idx",
      "grams_table, docs_table, id_col, text_col, pattern",
      Seq(t, t, "'id'", "'text'", "'red f'"), 0 -> bare),
    Door("pq_search", "index_dir, queries_table, k",
      Seq(s"'$noIdx'", t, "3"), 1 -> bare),
    Door("ivf_search", "index_dir, queries_table, k, n_probe",
      Seq(s"'$noIdx'", t, "3", "2"), 1 -> bare),
    Door("sq_search", "index_dir, queries_table, k",
      Seq(s"'$noIdx'", t, "3"), 1 -> bare),
    Door("image_near_dup",
      "table, id_col, raster_hx_col, max_hamming, bands",
      Seq(t, "'id'", "'hx'", "3", "4"), 2 -> nope),
    Door("audio_near_dup", "table, id_col, envelope_col, max_hamming, bands",
      Seq(t, "'id'", "'env'", "3", "4"), 2 -> nope),
    Door("surprisal_score", "table, id_col, text_col",
      Seq(t, "'id'", "'text'"), 2 -> nope),
    Door("mixture_waterfill", "table, source_col, text_col, budget, cap_milli",
      Seq(t, "'grp'", "'text'", "1000", "2000"), 1 -> nope),
    Door("phrase_match", "table, id_col, text_col, phrase",
      Seq(t, "'id'", "'text'", "'red fox'"), 2 -> nope),
    Door("fuzzy_terms", "table, id_col, text_col, query_terms[, k]",
      Seq(t, "'id'", "'text'", "'red'"), 2 -> nope),
    Door("interleave_sources",
      "table, id_col, source_col, weights[, n_shards]",
      Seq(t, "'id'", "'grp'", "'g:2'"), 2 -> nope),
    Door("mmr_rerank", "ranked_table, vectors_table, m, k",
      Seq(t, t, "2", "4"), 1 -> bare),
    Door("best_snippets", "table, id_col, text_col, query_terms[, window]",
      Seq(t, "'id'", "'text'", "'red'"), 2 -> nope),
    Door("pmi_expand", "table, id_col, text_col, query_terms, k[, min_joint]",
      Seq(t, "'id'", "'text'", "'red'", "3"), 2 -> nope),
    Door("rrf_fuse", "ranked_a, ranked_b, k0, k",
      Seq(t, t, "60", "5"), 1 -> bare),
    Door("select_token_budget",
      "table, id_col, score_col, token_col, budget",
      Seq(t, "'id'", "'score'", "'tok'", "100"), 3 -> nope),
    Door("exact_quantiles", "table, value_col, q_ppms",
      Seq(t, "'tok'", "'500000'"), 1 -> nope),
    Door("equidepth_hist", "table, value_col, k",
      Seq(t, "'tok'", "4"), 1 -> nope),
    Door("grouped_quantiles", "table, group_col, value_col, q_ppms",
      Seq(t, "'grp'", "'tok'", "'500000'"), 2 -> nope),
    Door("table_profile", "table, cols",
      Seq(t, "'tok, score'"), 1 -> "'tok, nope'"),
    Door("count_min_probe", "table, term_col, depth, width, probes",
      Seq(t, "'text'", "2", "64", "'red'"), 1 -> nope),
    Door("kmv_distinct", "table, group_col, item_col, k",
      Seq(t, "'grp'", "'id'", "16"), 2 -> nope),
    Door("weighted_sample", "table, group_col, id_col, weight_col, k",
      Seq(t, "'grp'", "'id'", "'tok'", "2"), 3 -> nope))

  private lazy val fixtures: Unit = {
    spark.range(4).selectExpr("id", "id AS doc_id", "id AS cid",
        "id AS qid", "id AS src", "id AS dst", "id AS idA", "id + 1 AS idB",
        "0.5D AS sim", "CAST(id AS INT) + 1 AS rank", "'red fox' AS text",
        "'g' AS grp", "id AS score", "id AS tok", "'{}' AS json",
        "'' AS blob", "'' AS payload", "'h' AS host", "'' AS txt",
        "'a' AS agent", "'/' AS upath", "array(1.0D, 0.0D) AS vec",
        "array(1.0D, 0.0D) AS qvec", "'red' AS term", "1L AS tf",
        "2L AS dl", "'red' AS gram", "'00' AS hx", "array(1.0D) AS env")
      .createOrReplaceTempView("door_t")
    spark.range(1).selectExpr("id AS zz").createOrReplaceTempView("door_bare")
    // a directory that exists but holds no index layout: every part a
    // probe reads is there, with the wrong columns
    Seq("codes", "centroids", "cells").foreach(p =>
      spark.range(1).selectExpr("id AS zz").write.parquet(s"$noIdx/$p"))
  }

  private def refusal(sql: String): String = {
    fixtures
    intercept[Exception](spark.sql(sql).collect()).getMessage
  }

  test("census: the 20 scalar and 56 table-function names, read back from the session's registries") {
    val fns = classic.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)
    val tvfs = classic.sessionState.tableFunctionRegistry.listFunction()
      .map(_.funcName).toSet --
      TableFunctionRegistry.builtin.listFunction().map(_.funcName)
    assert(scalarNames.size == 20 && doors.size == 56)
    assert(fns == scalarNames.toSet)
    assert(tvfs == doors.map(_.name).toSet)
  }

  test("each door's ExpressionInfo carries its usage line") {
    for (d <- doors) {
      val info = classic.sessionState.tableFunctionRegistry
        .lookupFunction(FunctionIdentifier(d.name))
      assert(info.map(_.getUsage).contains(s"usage: ${d.name}(${d.sig})"),
        d.name)
    }
    for (n <- scalarNames) {
      val usage = classic.sessionState.functionRegistry
        .lookupFunction(FunctionIdentifier(n)).map(_.getUsage).getOrElse("")
      assert(usage.startsWith(s"usage: $n("), n)
    }
  }

  test("a wrong arity is refused with the door's usage line") {
    for (d <- doors; as <- Seq(d.args.take(d.required - 1),
        d.args ++ Seq.fill(d.argNames.size - d.args.size + 1)("1"))) {
      val msg = refusal(d.call(as))
      assert(msg.contains(s"usage: ${d.name}(${d.sig})"), msg.take(300))
    }
  }

  test("a column reference where a literal belongs is refused, naming the argument") {
    for (d <- doors) {
      val msg = refusal(s"SELECT * FROM door_t, LATERAL " +
        d.fn("door_t.txt" +: d.args.tail))
      assert(msg.contains(s"${d.argNames.head} must be a string literal"),
        s"${d.name}: ${msg.take(300)}")
    }
  }

  test("a missing required column is refused with 'lacks'") {
    for (d <- doors) {
      val (i, lit) = d.miss
      val msg = refusal(d.call(d.args.updated(i, lit)))
      assert(msg.contains("lacks"), s"${d.name}: ${msg.take(300)}")
    }
  }

  test("a wrong index directory is refused: the wrong layout with 'lacks', a missing one by name") {
    for (n <- Seq("pq_search", "ivf_search", "sq_search")) {
      val d = doors.find(_.name == n).get
      val msg = refusal(d.call(d.args))
      assert(msg.contains("lacks"), s"$n: ${msg.take(300)}")
      val gone = refusal(d.call(s"'$noIdx/nowhere'" +: d.args.tail))
      assert(gone.contains("cannot read") && gone.contains("layout"),
        s"$n: ${gone.take(300)}")
    }
  }

  test("a number argument takes only finite numeric literals") {
    for (bad <- Seq("'NaN'", "'Infinity'", "'0.9'")) {
      val msg = refusal(
        s"SELECT * FROM cosine_near_dup('door_t', 'id', 'vec', $bad)")
      assert(msg.contains("threshold must be a finite numeric literal"),
        s"$bad: ${msg.take(300)}")
    }
  }

  test("long-width arguments take values above Int.MaxValue") {
    fixtures
    val big = "3000000000"
    for (sql <- Seq(
        s"chat_context_fit('door_t', 'id', 'json', $big)",
        s"preference_pairs('door_t', 'grp', 'id', 'score', $big)",
        s"best_of_n('door_t', 'grp', 'id', 'score', 2, $big)"))
      assert(spark.sql(s"SELECT * FROM $sql").schema.nonEmpty, sql)
  }
}
