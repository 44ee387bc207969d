package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions.whitespaceTokens
import graft.operators.Sketches
import graft.operators.Seam.Pins
import graft.sources.Tables

/** Corpus-scale analytics machinery: mergeable sketches, distributed
  * exact quantiles, robust statistics, weighted sampling, entity
  * resolution, and incremental aggregate-view maintenance. Each query
  * carries a DuckDB oracle replaying the full operator (md5 hash
  * grids, integer arithmetic, cumulative ranks), so the driver's hash
  * gate covers the machinery, not just the output shape.
  */
object AnalyticsQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Shared DuckDB fragment: whitespace tokenization matching
    * TextFunctions.whitespaceTokens (lowercase, drop empties). */
  private val tokensCte =
    """tok AS (
        SELECT unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0)) AS token
        FROM documents)"""

  // ---- q192: count-min sketch census + probe --------------------------
  // The constant-state frequency census: a 3×16 grid deliberately
  // small enough that collisions happen at sf0.01, so the oracle
  // exercises the overcount path (est > exact), not just the identity
  // case. The probe set includes one absent term (est comes from
  // colliding mass only) so the coalesce(0) path is covered too.
  // Scale story in Sketches.scaladoc: shuffle bytes are O(d·w) per
  // partition regardless of corpus size, and the build plan IS the
  // multi-shard merge.

  private val cmsDepth = 3
  private val cmsWidth = 16
  private val cmsProbes = Seq("spark", "table", "the", "merge", "zzxq")

  private val q192 = GraftQuery(
    "q192_count_min",
    (s, d) => {
      val toks = docs(s, d)
        .select(explode(whitespaceTokens(col("text"))).as("token"))
      val sketch = Sketches.countMinBuild(toks, "token",
        cmsDepth, cmsWidth)
      val probes = s.createDataFrame(
        s.sparkContext.parallelize(cmsProbes.map(Tuple1(_)), 1)
      ).toDF("term")
      val est = Sketches.countMinEstimate(sketch, probes, "term",
        cmsDepth, cmsWidth)
      val exact = toks.groupBy(col("token").as("term"))
        .agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, Seq("term"), "left")
        .select(col("term"), col("est"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
          (col("est") - coalesce(col("exact_cnt"), lit(0L)))
            .as("overcount"))
        .orderBy(col("term"))
    },
    Some(s"""WITH $tokensCte,
      rows_(r) AS (SELECT unnest([0, 1, 2])),
      grid AS (
        SELECT r.r AS row_,
          CAST(concat('0x', substring(md5(
            'cms:' || CAST(r.r AS VARCHAR) || ':' || token), 1, 8))
            AS BIGINT) % $cmsWidth AS cell,
          count(*) AS cnt
        FROM tok, rows_ r GROUP BY 1, 2),
      probes(term) AS (
        SELECT unnest(['spark', 'table', 'the', 'merge', 'zzxq'])),
      pc AS (
        SELECT term, r.r AS row_,
          CAST(concat('0x', substring(md5(
            'cms:' || CAST(r.r AS VARCHAR) || ':' || term), 1, 8))
            AS BIGINT) % $cmsWidth AS cell
        FROM probes, rows_ r),
      est AS (
        SELECT term, min(coalesce(g.cnt, 0)) AS est
        FROM pc LEFT JOIN grid g
          ON pc.row_ = g.row_ AND pc.cell = g.cell
        GROUP BY term),
      exact AS (SELECT token AS term, count(*) AS exact_cnt
        FROM tok GROUP BY 1)
      SELECT e.term, e.est, coalesce(x.exact_cnt, 0) AS exact_cnt,
        e.est - coalesce(x.exact_cnt, 0) AS overcount
      FROM est e LEFT JOIN exact x USING (term)
      ORDER BY e.term"""))

  // ---- q193–q195: distributed exact order statistics ------------------
  // All three share Stats.cumulativeValueCensus — census → coarse
  // value-derived buckets → per-bucket prefix windows → relational
  // offset join (no global window anywhere; planscan-clean). Values
  // are order totals in exact cents (the q56/q181 DECIMAL rule). The
  // oracles replay the cumulative census with a plain single-node
  // window and the same integer rank arithmetic.

  private def centsOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast(LongType).as("cents"))

  private val centsCte =
    """c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
          AS BIGINT) AS v
        FROM orders WHERE o_totalprice IS NOT NULL),
      cen AS (SELECT v, count(*) AS cnt FROM c GROUP BY v),
      cum AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM cen),
      n AS (SELECT count(*) AS n FROM c)"""

  private val qPpms = Seq(250000L, 500000L, 750000L, 900000L, 990000L)

  private val q193 = GraftQuery(
    "q193_exact_quantiles",
    (s, d) => graft.operators.Stats.exactQuantiles(
      centsOrders(s, d), "cents", qPpms),
    Some(s"""WITH $centsCte,
      q(q_ppm) AS (SELECT unnest([250000, 500000, 750000, 900000,
        990000])),
      r AS (SELECT q_ppm, (q_ppm * n.n + 999999) // 1000000 AS rank_
        FROM q, n)
      SELECT CAST(r.q_ppm AS BIGINT) AS q_ppm,
        CAST(r.rank_ AS BIGINT) AS rank_, min(cum.v) AS value
      FROM r JOIN cum ON cum.cum >= r.rank_
      GROUP BY r.q_ppm, r.rank_ ORDER BY q_ppm"""))

  private val q194 = GraftQuery(
    "q194_equidepth_hist",
    (s, d) => graft.operators.Stats.equiDepthHistogram(
      centsOrders(s, d), "cents", k = 8),
    Some(s"""WITH $centsCte,
      b AS (SELECT ((cum - cnt) * 8) // n.n AS bucket, v, cnt
        FROM cum, n)
      SELECT CAST(bucket AS BIGINT) AS bucket, min(v) AS lo,
        max(v) AS hi, CAST(sum(cnt) AS BIGINT) AS n_rows
      FROM b GROUP BY bucket ORDER BY bucket"""))

  private val q195 = GraftQuery(
    "q195_winsorized_stats",
    (s, d) => graft.operators.Stats.winsorizedStats(
      centsOrders(s, d), "cents", loPpm = 10000L, hiPpm = 990000L),
    Some(s"""WITH $centsCte,
      q(q_ppm) AS (SELECT unnest([10000, 990000])),
      r AS (SELECT q_ppm, (q_ppm * n.n + 999999) // 1000000 AS rank_
        FROM q, n),
      qv AS (SELECT r.q_ppm, min(cum.v) AS value
        FROM r JOIN cum ON cum.cum >= r.rank_ GROUP BY r.q_ppm),
      clamps AS (SELECT
          min(CASE WHEN q_ppm = 10000 THEN value END) AS lo,
          min(CASE WHEN q_ppm = 990000 THEN value END) AS hi
        FROM qv),
      w AS (SELECT greatest(least(v, clamps.hi), clamps.lo) AS wv
        FROM c, clamps),
      m AS (SELECT count(*) AS n_rows, sum(wv) AS s, sum(wv * wv) AS s2
        FROM w)
      SELECT CAST(m.n_rows AS BIGINT) AS n_rows,
        clamps.lo AS lo_clamp, clamps.hi AS hi_clamp,
        round(CAST(m.s AS DOUBLE) / m.n_rows, 6) AS mean,
        round(sqrt((CAST(m.s2 AS DOUBLE)
          - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE) / m.n_rows)
          / m.n_rows), 6) AS stddev
      FROM m, clamps"""))

  // ---- q196/q197: entity resolution over the part catalog -------------
  // Record linkage: composite blocking (last name-token : size
  // bucket, EntityResolution.blockedCandidates with the block-size
  // skew guard), integer pair scoring (name-token Jaccard milli +
  // brand/type agreement − size distance), transitive resolution via
  // the Dedup.clusterReps fixpoint. The oracle replays blocking,
  // scoring, and (for q197) the connected components as a recursive
  // CTE — the q63 pattern.

  private def partRecords(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey").as("pid"),
        whitespaceTokens(col("p_name")).as("rawtok"),
        col("p_brand").as("brand"), col("p_type").as("typ"),
        col("p_size").as("sz"))
      .filter(size(col("rawtok")) > 0)
      .select(col("pid"), array_distinct(col("rawtok")).as("tok"),
        element_at(col("rawtok"), -1).as("lastt"),
        col("brand"), col("typ"), col("sz"))

  // Matched pairs materialized once per (JVM, sfDir) — q196 and
  // q197 share one scoring pass (the q63 verdict-table pattern):
  // q196 reads the landed pairs; q197's fixpoint consumes them with
  // checkpointPairs=false (a parquet read needs no extra
  // materialization barrier).
  private val erPairsByInput = new graft.sources.JvmMemo[String]
  private def entityPairsMaterialized(s: SparkSession,
                                      d: String): DataFrame = {
    val dir = LlmOps.materializedTempDir(erPairsByInput, d,
      "graft_erpairs_") { out =>
      entityPairs(s, d).write.mode("overwrite").parquet(s"$out/pairs")
    }
    s.read.parquet(s"$dir/pairs")
  }

  private def entityPairs(s: SparkSession, d: String): DataFrame = {
    val recs = partRecords(s, d)
    val blockKey = concat(col("lastt"), lit(":"),
      expr("sz div 4").cast(StringType))
    val cand = graft.operators.EntityResolution.blockedCandidates(
      recs, "pid", blockKey, maxBlockSize = 1024)
    graft.operators.EntityResolution.joinPairFields(
      cand, recs, "pid", Seq("tok", "brand", "typ", "sz"))
      .withColumn("shared",
        size(array_intersect(col("a_tok"), col("b_tok"))))
      .withColumn("jac_milli", expr(
        "(shared * 1000L) div (size(a_tok) + size(b_tok) - shared)"))
      .withColumn("score", expr(
        """(6 * jac_milli) div 10
           + (CASE WHEN a_brand = b_brand THEN 250 ELSE 0 END)
           + (CASE WHEN a_typ = b_typ THEN 100 ELSE 0 END)
           - 30 * abs(a_sz - b_sz)"""))
      .filter(col("score") >= 700)
  }

  /** Shared oracle CTE chain ending in matched pairs `m(id_a, id_b,
    * jac_milli, score)`. */
  private val erPairsCte =
    """r0 AS (SELECT p_partkey AS id,
        list_filter(regexp_split_to_array(lower(p_name), '\s+'),
          x -> length(x) > 0) AS rawtok,
        p_brand AS brand, p_type AS typ, p_size AS sz FROM part),
      r AS (SELECT id, list_distinct(rawtok) AS tok,
          rawtok[len(rawtok)] AS lastt, brand, typ, sz
        FROM r0 WHERE len(rawtok) > 0),
      k AS (SELECT *, lastt || ':' || CAST(sz // 4 AS VARCHAR) AS bk
        FROM r),
      c AS (SELECT bk, count(*) AS bn FROM k GROUP BY bk),
      kk AS (SELECT k.* FROM k JOIN c USING (bk) WHERE c.bn <= 1024),
      p AS (SELECT a.id AS id_a, b.id AS id_b,
          len(list_filter(a.tok, x -> list_contains(b.tok, x)))
            AS shared,
          len(a.tok) + len(b.tok) AS lens,
          CASE WHEN a.brand = b.brand THEN 250 ELSE 0 END AS bs,
          CASE WHEN a.typ = b.typ THEN 100 ELSE 0 END AS ts,
          abs(a.sz - b.sz) AS sd
        FROM kk a JOIN kk b ON a.bk = b.bk AND a.id < b.id),
      sc AS (SELECT id_a, id_b,
          (shared * 1000) // (lens - shared) AS jac_milli,
          (6 * ((shared * 1000) // (lens - shared))) // 10
            + bs + ts - 30 * sd AS score
        FROM p),
      m AS (SELECT * FROM sc WHERE score >= 700)"""

  private val q196 = GraftQuery(
    "q196_entity_pairs",
    (s, d) => entityPairsMaterialized(s, d)
      .select(col("id_a"), col("id_b"), col("jac_milli"),
        col("score").cast(LongType).as("score"))
      .orderBy("id_a", "id_b"),
    Some(s"""WITH $erPairsCte
      SELECT id_a, id_b, jac_milli, CAST(score AS BIGINT) AS score
      FROM m ORDER BY id_a, id_b"""))

  private val q197 = GraftQuery(
    "q197_entity_groups",
    (s, d) => {
      val reps = graft.operators.Dedup.clusterReps(
        entityPairsMaterialized(s, d).select(col("id_a").as("idA"),
          col("id_b").as("idB")), checkpointPairs = false)
      reps.groupBy(col("rep").as("entity_rep"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("entity_rep")
    },
    Some(s"""WITH RECURSIVE $erPairsCte,
      sym AS (SELECT id_a AS id, id_b AS nbr FROM m
        UNION SELECT id_b, id_a FROM m),
      ids AS (SELECT DISTINCT id FROM sym),
      reach(id, lab) AS (
        SELECT id, id FROM ids
        UNION
        SELECT s.id, r.lab FROM sym s JOIN reach r ON r.id = s.nbr)
      SELECT entity_rep, count(*) AS n_members FROM (
        SELECT id, min(lab) AS entity_rep FROM reach GROUP BY id)
      GROUP BY entity_rep ORDER BY entity_rep"""))

  // ---- q198: incremental aggregate-view maintenance -------------------
  // The materialized-view leg of the CDC family: per-customer
  // (count, cents-total) view over orders, maintained under a
  // synthesized disjoint changelog (q91's construction): deletes
  // (key%7=1), group-MOVING updates (key%10=0 → custkey+1, value
  // +12345 cents), inserts (key%5=4, exactly the ids the base
  // lacks). The Spark side goes through the maintenance path
  // (ViewMaintenance.maintainAggView over the pre-built state); the
  // oracle recomputes the view FROM SCRATCH over the merged corpus —
  // so any drift in the delta algebra (old-side fetch, group moves,
  // zero-count eviction) flips the hash.

  private val q198 = GraftQuery(
    "q198_incremental_agg",
    (s, d) => {
      val fact = Tables.orders(s, d).select(
        col("o_orderkey").as("id"), col("o_custkey").as("grp"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("val"))
      val base = fact.filter(col("id") % 5 =!= 4)
      val changelog = fact.select(col("id"),
          when(col("id") % 5 === 4, "I")
            .when(col("id") % 7 === 1, "D")
            .when(col("id") % 10 === 0, "U").as("op"),
          when(col("id") % 10 === 0 && col("id") % 5 =!= 4
              && col("id") % 7 =!= 1, col("grp") + 1)
            .otherwise(col("grp")).as("grp"),
          when(col("id") % 10 === 0 && col("id") % 5 =!= 4
              && col("id") % 7 =!= 1, col("val") + 12345)
            .otherwise(col("val")).as("val"))
        .filter(col("op").isNotNull)
      val state = graft.operators.ViewMaintenance.aggView(
        base, "grp", "val")
      graft.operators.ViewMaintenance.maintainAggView(
        state, base, changelog, "id", "grp", "val")
        .orderBy("grp")
    },
    Some("""WITH fact AS (SELECT o_orderkey AS id, o_custkey AS grp,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS val
        FROM orders),
      base AS (SELECT * FROM fact WHERE id % 5 <> 4),
      chg AS (SELECT id,
          CASE WHEN id % 5 = 4 THEN 'I'
            WHEN id % 7 = 1 THEN 'D'
            WHEN id % 10 = 0 THEN 'U' END AS op,
          CASE WHEN id % 10 = 0 AND id % 5 <> 4 AND id % 7 <> 1
            THEN grp + 1 ELSE grp END AS grp,
          CASE WHEN id % 10 = 0 AND id % 5 <> 4 AND id % 7 <> 1
            THEN val + 12345 ELSE val END AS val
        FROM fact
        WHERE id % 5 = 4 OR id % 7 = 1 OR id % 10 = 0),
      merged AS (
        SELECT id, grp, val FROM base
        WHERE id NOT IN (SELECT id FROM chg WHERE op IN ('D', 'U'))
        UNION ALL
        SELECT id, grp, val FROM chg WHERE op IN ('U', 'I'))
      SELECT grp, count(*) AS cnt, CAST(sum(val) AS BIGINT) AS total
      FROM merged GROUP BY grp ORDER BY grp"""))

  // ---- q199: weighted deterministic sample ----------------------------
  // capPerGroup's quality-weighted sibling: per source, the 5 docs
  // winning the integer priority race u32draw·10⁶ div n_chars —
  // longer docs favored, membership still a pure function of
  // (salt, id). Plans the k-bounded heap (no Window); the oracle
  // replays the draw and the race with row_number.

  private val q199 = GraftQuery(
    "q199_weighted_sample",
    (s, d) => graft.operators.DatasetOps.weightedPrioritySample(
        docs(s, d), "source", "doc_id", "n_chars", k = 5)
      .select(col("source"), col("doc_id"), col("_prio").as("prio"))
      .orderBy("source", "prio", "doc_id"),
    Some("""WITH dr AS (SELECT source, doc_id,
          (CAST(concat('0x', substring(md5('wsamp:' || doc_id), 1, 8))
            AS BIGINT) * 1000000) // n_chars AS prio
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      r AS (SELECT source, doc_id, prio,
          row_number() OVER (PARTITION BY source
            ORDER BY prio, doc_id) AS rn
        FROM dr)
      SELECT source, doc_id, prio FROM r WHERE rn <= 5
      ORDER BY source, prio, doc_id"""))

  // ---- q200: z-order curve census -------------------------------------
  // Gates ScaleOps.zOrder2's interleave arithmetic bit-for-bit (the
  // layout/pruning property itself — disjoint per-file z-ranges — is
  // a filesystem effect, asserted in ScaleOpsSpec; DuckDB can't see
  // files, but it CAN replay the curve). 10 bits per dimension over
  // (l_partkey, l_suppkey); the census buckets the curve into 64
  // bands.

  private val zBits = 10
  private val zExprSql = (0 until zBits).map { i =>
    s"(((a >> $i) & 1) << ${2 * i}) | (((b >> $i) & 1) << ${2 * i + 1})"
  }.mkString(" | ")

  private val q200 = GraftQuery(
    "q200_zorder_census",
    (s, d) => {
      val z = graft.operators.ScaleOps.zOrder2(
        pmod(col("l_partkey"), lit(1024L)),
        pmod(col("l_suppkey"), lit(1024L)), zBits)
      Tables.lineitem(s, d).select(z.as("z"))
        .groupBy(expr("z div 16384").as("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("z").as("z_lo"), max("z").as("z_hi"))
        .orderBy("zbucket")
    },
    Some(s"""WITH ab AS (SELECT l_partkey % 1024 AS a,
          l_suppkey % 1024 AS b FROM lineitem),
      zz AS (SELECT ($zExprSql) AS z FROM ab)
      SELECT z // 16384 AS zbucket, count(*) AS n_rows,
        min(z) AS z_lo, max(z) AS z_hi
      FROM zz GROUP BY zbucket ORDER BY zbucket"""))

  // ---- q201–q203: the SQL TVF surface for the new stats ops -----------
  // Same semantics reached entirely through SQL (the q92/q162
  // tradition): the injected exact_quantiles / equidepth_hist /
  // weighted_sample TVFs plan the very operators q193/q194/q199
  // gate, so each SQL twin reuses that query's oracle VERBATIM — a
  // parser-path or argument-plumbing drift flips the hash against
  // the same ground truth.

  private def registerCentsView(s: SparkSession, d: String): Unit = {
    Tables.registerAllOnce(s, d)
    s.sql("""CREATE OR REPLACE TEMP VIEW graft_cents AS
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        AS cents
      FROM orders WHERE o_totalprice IS NOT NULL""")
  }

  private val q201 = GraftQuery(
    "q201_sql_quantiles",
    (s, d) => {
      registerCentsView(s, d)
      s.sql("""SELECT q_ppm, rank_, value
        FROM exact_quantiles('graft_cents', 'cents',
          '250000,500000,750000,900000,990000')
        ORDER BY q_ppm""")
    },
    q193.oracle)

  private val q202 = GraftQuery(
    "q202_sql_equidepth",
    (s, d) => {
      registerCentsView(s, d)
      s.sql("""SELECT bucket, lo, hi, n_rows
        FROM equidepth_hist('graft_cents', 'cents', 8)
        ORDER BY bucket""")
    },
    q194.oracle)

  private val q203 = GraftQuery(
    "q203_sql_weighted_sample",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT source, doc_id, _prio AS prio
        FROM weighted_sample('documents', 'source', 'doc_id',
          'n_chars', 5)
        ORDER BY source, prio, doc_id""")
    },
    q199.oracle)

  // ---- q204: hashing-trick TF-IDF feature export ----------------------
  // classifierScores' sibling surface: the (doc, bucket, tf, w) rows
  // an external trainer consumes. 64 buckets at sf0.01 forces hash
  // collisions, so the oracle exercises colliding-bucket df, not
  // just the identity mapping. Integer ratio-idf (monotone in
  // log-idf) keeps the weights engine-exact.

  private val q204 = GraftQuery(
    "q204_hashed_tfidf",
    (s, d) => graft.operators.DatasetOps.hashedTfIdf(
        docs(s, d), "doc_id", "text", buckets = 64)
      .orderBy("doc_id", "bucket"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> length(x) > 0) AS tk
        FROM documents),
      t2 AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
      tx AS (SELECT doc_id, unnest(tk) AS tok FROM t2),
      tf AS (SELECT doc_id,
          CAST(concat('0x', substring(md5('feat:' || tok), 1, 8))
            AS BIGINT) % 64 AS bucket,
          count(*) AS tf
        FROM tx GROUP BY 1, 2),
      n AS (SELECT count(*) AS n FROM t2),
      dfq AS (SELECT bucket, count(*) AS df_ FROM tf GROUP BY 1)
      SELECT tf.doc_id, tf.bucket, tf.tf,
        tf.tf * ((n.n * 1000000) // dfq.df_) AS w
      FROM tf JOIN dfq USING (bucket), n
      ORDER BY tf.doc_id, tf.bucket"""))

  // ---- q205: small-file compaction round-trip -------------------------
  // Fixture (once per JVM/sfDir): documents fragmented into 64
  // kilobyte files — the streaming-ingest debris shape — then
  // compacted out-of-place. The query reads the COMPACTED table; the
  // oracle reads the original — so the gate is "compaction preserves
  // every row" while the layout collapses (the report's file counts
  // are environment-sensitive codec facts, deliberately not hashed).

  private val compactDirByInput = new graft.sources.JvmMemo[String]
  private def compactedDocsDir(s: SparkSession, d: String): String =
    LlmOps.materializedTempDir(compactDirByInput, d,
      "graft_compact_") { out =>
      docs(s, d).repartition(64)
        .write.mode("overwrite").parquet(s"$out/frag")
      graft.operators.ScaleOps.compactSmallFiles(s, s"$out/frag",
        s"$out/compacted", smallBytes = 1L << 20,
        targetBytes = 1L << 22).collect()
      ()
    }

  private val q205 = GraftQuery(
    "q205_compaction_roundtrip",
    (s, d) => s.read.parquet(s"${compactedDocsDir(s, d)}/compacted")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(md5Mass(col("text"))).as("text_mass"))
      .orderBy("source"),
    Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars,
        CAST(sum(CAST(concat('0x', substring(md5(text), 1, 8))
          AS BIGINT)) AS BIGINT) AS text_mass
      FROM documents GROUP BY source ORDER BY source"""))

  /** Order-independent content mass: the md5-prefix of each payload,
    * summed — catches a corrupted/duplicated/lost row where plain
    * counts cannot. */
  private def md5Mass(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  // ---- q206: percentile-calibrated classifier scores ------------------
  // The interop composition: raw classifier scores (q150's hashed
  // fold) are corpus-relative — a threshold tuned on one crawl is
  // wrong on the next. Calibration maps each doc's score to its
  // percentile rank via the distributed cumulative census
  // (Stats.cumulativeValueCensus over the score column): pct_milli =
  // cum·1000 div N. The score frame is pinned (it feeds
  // the census AND the rank join — the q168 multiply-consumed-
  // id-frame rule). The oracle replays the classifier fold AND the
  // census chain, so drift at either stage flips the hash.

  private val q206 = GraftQuery(
    "q206_calibrated_scores",
    (s, d) => {
      val scores = graft.operators.DatasetOps.classifierScores(
          docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("score"))
        .pin()
      val cum = graft.operators.Stats
        .cumulativeValueCensus(scores, "score")
        .select(col("v").as("score"), col("cum"))
      val n = scores.agg(count(lit(1)).as("_n"))
      scores.join(cum, Seq("score"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("score"),
          expr("(cum * 1000L) div _n").as("pct_milli"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
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
        SELECT doc_id, sum(w) AS score FROM bw GROUP BY doc_id),
      scores AS (
        SELECT d.doc_id, CAST(coalesce(s.score, 0) AS BIGINT) AS score
        FROM documents d LEFT JOIN sc s USING (doc_id)),
      cen AS (SELECT score AS v, count(*) AS cnt FROM scores GROUP BY 1),
      cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM cen),
      n AS (SELECT count(*) AS n FROM scores)
      SELECT s2.doc_id, s2.score,
        CAST((cum.cum * 1000) // n.n AS BIGINT) AS pct_milli
      FROM scores s2 JOIN cum ON s2.score = cum.v, n
      ORDER BY s2.doc_id"""))

  // ---- q207: top session paths (behavioral sequence mining) -----------
  // The product-analytics "what do users DO" board: 30-min-gap
  // sessions (q26's assignment, verbatim), event-type trigrams via
  // lead() within each session (per-(user, session) windows —
  // parallel, never global), one map-side-combined path census,
  // TakeOrdered board. concat (not concat_ws) so a truncated
  // window yields NULL like SQL's || — the filter and the oracle
  // agree on which rows exist.

  private val q207 = GraftQuery(
    "q207_event_paths",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val sess = Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
        .withColumn("is_new",
          col("prev_us").isNull ||
            (unix_micros(col("ts")) - col("prev_us")) > 1800000000L)
        .withColumn("session_idx",
          count(when(col("is_new"), lit(1))).over(wRun))
      val wS = Window.partitionBy(col("user_id"), col("session_idx"))
        .orderBy(col("ts"), col("event_id"))
      sess
        .withColumn("t2", lead(col("event_type"), 1).over(wS))
        .withColumn("t3", lead(col("event_type"), 2).over(wS))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .select(concat(col("event_type"), lit(">"), col("t2"),
          lit(">"), col("t3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("path"))
        .limit(10)
    },
    Some("""WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
          CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
               THEN 1 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, event_id, ts, event_type,
          count(is_new) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_idx
        FROM flagged),
      paths AS (
        SELECT event_type || '>' || lead(event_type, 1) OVER ws
            || '>' || lead(event_type, 2) OVER ws AS path
        FROM sess
        WINDOW ws AS (PARTITION BY user_id, session_idx
          ORDER BY ts, event_id))
      SELECT path, count(*) AS n_paths FROM paths
      WHERE path IS NOT NULL
      GROUP BY path ORDER BY n_paths DESC, path LIMIT 10"""))

  // ---- q208: per-group exact latency percentiles ----------------------
  // The per-service latency board (p50/p95/p99 by event type) through
  // Stats.groupedCumulativeCensus — the distributed-quantile
  // machinery with the group key threaded through every stage.
  // Values in exact milli units (the DECIMAL rule).

  private val q208 = GraftQuery(
    "q208_grouped_quantiles",
    (s, d) => graft.operators.Stats.groupedExactQuantiles(
      Tables.events(s, d).select(col("event_type"),
        (col("value").cast(DecimalType(12, 3)) * 1000)
          .cast(LongType).as("v_milli")),
      "event_type", "v_milli", Seq(500000L, 950000L, 990000L)),
    Some("""WITH c AS (SELECT event_type AS grp,
          CAST(CAST(value AS DECIMAL(12,3)) * 1000 AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL),
      cen AS (SELECT grp, v, count(*) AS cnt FROM c GROUP BY 1, 2),
      cum AS (SELECT grp, v, cnt,
          sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum FROM cen),
      n AS (SELECT grp, count(*) AS n FROM c GROUP BY 1),
      q(q_ppm) AS (SELECT unnest([500000, 950000, 990000])),
      r AS (SELECT n.grp, q.q_ppm,
          (q.q_ppm * n.n + 999999) // 1000000 AS rank_ FROM n, q)
      SELECT r.grp AS grp, CAST(r.q_ppm AS BIGINT) AS q_ppm,
        CAST(r.rank_ AS BIGINT) AS rank_, min(cum.v) AS value
      FROM r JOIN cum ON cum.grp = r.grp AND cum.cum >= r.rank_
      GROUP BY 1, 2, 3 ORDER BY r.grp, q_ppm"""))

  // ---- q209: Pearson correlation matrix -------------------------------
  // Decimal-exact moment sums (aggregation-order-independent), final
  // arithmetic in IEEE double with an expression shape mirrored
  // TOKEN-FOR-TOKEN in the oracle (same casts, same operation order —
  // double ops are deterministic, so identical expressions over
  // identical integers match bit-for-bit). Quantity in integer units,
  // price in cents, discount in milli.

  private val q209 = GraftQuery(
    "q209_correlation",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_quantity").cast(DecimalType(12, 0)).as("x"),
        (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
          .cast(DecimalType(38, 0)).as("y"),
        (col("l_discount").cast(DecimalType(6, 3)) * 1000)
          .cast(DecimalType(38, 0)).as("z"))
      val m = li.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
      def r(sa: String, sb: String, sab: String, saa: String,
            sbb: String): String =
        s"""round((CAST(n AS DOUBLE) * CAST($sab AS DOUBLE)
           - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST($saa AS DOUBLE)
             - CAST($sa AS DOUBLE) * CAST($sa AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST($sbb AS DOUBLE)
               - CAST($sb AS DOUBLE) * CAST($sb AS DOUBLE))), 6)"""
      m.selectExpr(s"""stack(3,
          'qty_price', ${r("sx", "sy", "sxy", "sxx", "syy")},
          'qty_disc', ${r("sx", "sz", "sxz", "sxx", "szz")},
          'price_disc', ${r("sy", "sz", "syz", "syy", "szz")})
        AS (pair, r)""")
        .orderBy("pair")
    },
    Some("""WITH v AS (SELECT
          CAST(CAST(l_quantity AS DECIMAL(12,0)) AS HUGEINT) AS x,
          CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
            AS DECIMAL(38,0)) AS HUGEINT) AS y,
          CAST(CAST(CAST(l_discount AS DECIMAL(6,3)) * 1000
            AS DECIMAL(38,0)) AS HUGEINT) AS z
        FROM lineitem),
      m AS (SELECT count(*) AS n,
          sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
          sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
          sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
        FROM v)
      SELECT pair, r FROM (
        SELECT 'qty_price' AS pair,
          round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r
        FROM m
        UNION ALL
        SELECT 'qty_disc',
          round((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)
        FROM m
        UNION ALL
        SELECT 'price_disc',
          round((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)
        FROM m)
      ORDER BY pair"""))

  // ---- q210: chi-square independence (lang × source) ------------------
  // The categorical-dependence check in EXACT integers: per-cell
  // contribution floor((o·N − r·c)²·10⁶ / (N·r·c)) in DECIMAL(38)/
  // HUGEINT (the naive double Σ is summation-order-dependent across
  // engines — the same reason the money rule exists), summed to
  // chi2_micro. One contingency census + two marginal censuses,
  // all map-side-combined; dof from the marginal cardinalities.

  private val q210 = GraftQuery(
    "q210_chi2_independence",
    (s, d) => {
      val dd = docs(s, d)
      val cells = dd.groupBy("lang", "source")
        .agg(count(lit(1)).as("o"))
      val rows_ = dd.groupBy("lang").agg(count(lit(1)).as("r"))
      val cols_ = dd.groupBy("source").agg(count(lit(1)).as("c"))
      val n = dd.agg(count(lit(1)).as("nn"))
      cells.join(rows_, Seq("lang")).join(cols_, Seq("source"))
        .crossJoin(broadcast(n))
        .select(expr("""CAST((CAST(o AS DECIMAL(38,0)) * nn
            - CAST(r AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))""")
          .as("_num"), col("r"), col("c"), col("nn"))
        .agg(count(lit(1)).as("n_cells"),
          sum(expr("""CAST(FLOOR(_num * _num * 1000000 /
            (CAST(nn AS DECIMAL(38,0)) * r * c)) AS DECIMAL(38,0))"""))
            .cast(LongType).as("chi2_micro"))
        .crossJoin(broadcast(
          rows_.agg(count(lit(1)).as("_nr"))))
        .crossJoin(broadcast(
          cols_.agg(count(lit(1)).as("_nc"))))
        .select(col("n_cells"),
          expr("(_nr - 1) * (_nc - 1)").as("dof"),
          col("chi2_micro"))
    },
    Some("""WITH cells AS (SELECT lang, source, count(*) AS o
        FROM documents GROUP BY 1, 2),
      rw AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
      cl AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
      n AS (SELECT count(*) AS nn FROM documents),
      terms AS (SELECT
          CAST(cells.o AS HUGEINT) * n.nn
            - CAST(rw.r AS HUGEINT) * cl.c AS num,
          rw.r, cl.c, n.nn
        FROM cells JOIN rw USING (lang) JOIN cl USING (source), n)
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
        CAST((SELECT count(*) FROM rw) - 1 AS BIGINT)
          * ((SELECT count(*) FROM cl) - 1) AS dof,
        CAST(sum((num * num * 1000000)
          // (CAST(nn AS HUGEINT) * r * c)) AS BIGINT) AS chi2_micro
      FROM terms"""))

  // ---- q211: SCD2 temporal dimension join -----------------------------
  // The slowly-changing-dimension read every star-schema warehouse
  // runs: a two-epoch segment history synthesized from customer
  // (epoch 2 moves every custkey≡0 mod 3 to 'MOVED' at 1998-01-01),
  // orders joined to the version covering their order date. The
  // equi-key keeps the plan a hash join (never the nested-loop a
  // bare range join gets); the oracle replays history synthesis,
  // range semantics and the census.

  private val q211 = GraftQuery(
    "q211_scd2_join",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val v1 = cust.select(col("c_custkey"),
        col("c_mktsegment").as("segment"),
        lit("1990-01-01").cast(TimestampType).as("valid_from"),
        lit("1998-01-01").cast(TimestampType).as("valid_to"))
      val v2 = cust.select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("segment"),
        lit("1998-01-01").cast(TimestampType).as("valid_from"),
        lit("2990-01-01").cast(TimestampType).as("valid_to"))
      val facts = Tables.orders(s, d).select(
        col("o_custkey").as("c_custkey"), col("o_orderdate"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
      graft.operators.ScaleOps.scd2Join(facts, v1.union(v2),
          "c_custkey", "o_orderdate", "valid_from", "valid_to")
        .groupBy("segment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        .orderBy("segment")
    },
    Some("""WITH hist AS (
        SELECT c_custkey, c_mktsegment AS segment,
          TIMESTAMP '1990-01-01' AS f, TIMESTAMP '1998-01-01' AS t
        FROM customer
        UNION ALL
        SELECT c_custkey,
          CASE WHEN c_custkey % 3 = 0 THEN 'MOVED'
            ELSE c_mktsegment END,
          TIMESTAMP '1998-01-01', TIMESTAMP '2990-01-01'
        FROM customer)
      SELECT h.segment, count(*) AS n_orders,
        CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
          AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN hist h ON o.o_custkey = h.c_custkey
        AND o.o_orderdate >= h.f AND o.o_orderdate < h.t
      GROUP BY 1 ORDER BY 1"""))

  // ---- q212: numeric table profiler -----------------------------------
  // Stats.profile over orders' cents and custkey — the landing-time
  // "describe" read, long-format so any column count fits one
  // schema. The oracle replays every aggregate AND the median's
  // cumulative-rank definition per column.

  private val q212 = GraftQuery(
    "q212_table_profile",
    (s, d) => graft.operators.Stats.profile(
      Tables.orders(s, d).select(
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"),
        col("o_custkey")),
      Seq("cents", "o_custkey")),
    Some("""WITH src AS (SELECT
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS cents, o_custkey
        FROM orders),
      p50c AS (
        SELECT min(v) AS v FROM (
          SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
            (SELECT count(cents) FROM src) AS n
          FROM (SELECT cents AS v, count(*) AS cnt FROM src
            WHERE cents IS NOT NULL GROUP BY 1))
        WHERE cum >= (500000 * n + 999999) // 1000000),
      p50k AS (
        SELECT min(v) AS v FROM (
          SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
            (SELECT count(o_custkey) FROM src) AS n
          FROM (SELECT o_custkey AS v, count(*) AS cnt FROM src
            WHERE o_custkey IS NOT NULL GROUP BY 1))
        WHERE cum >= (500000 * n + 999999) // 1000000)
      SELECT column_, stat, CAST(value AS BIGINT) AS value FROM (
        SELECT 'cents' AS column_, 'n_nonnull' AS stat,
          count(cents) AS value FROM src
        UNION ALL SELECT 'cents', 'n_distinct',
          count(DISTINCT cents) FROM src
        UNION ALL SELECT 'cents', 'min', min(cents) FROM src
        UNION ALL SELECT 'cents', 'max', max(cents) FROM src
        UNION ALL SELECT 'cents', 'p50', v FROM p50c
        UNION ALL SELECT 'o_custkey', 'n_nonnull',
          count(o_custkey) FROM src
        UNION ALL SELECT 'o_custkey', 'n_distinct',
          count(DISTINCT o_custkey) FROM src
        UNION ALL SELECT 'o_custkey', 'min', min(o_custkey) FROM src
        UNION ALL SELECT 'o_custkey', 'max', max(o_custkey) FROM src
        UNION ALL SELECT 'o_custkey', 'p50', v FROM p50k
        UNION ALL SELECT '_table', 'n_rows', count(*) FROM src)
      ORDER BY column_, stat"""))

  // ---- q214: per-customer time-series features ------------------------
  // The churn-model feature generator: lag, 3-order rolling sum,
  // prior-order count and inter-purchase gap per customer — one
  // shuffle on the customer key, every window sharing that
  // partitioning (parallel per-customer state, never global). All
  // integer (cents, days).

  private val q214 = GraftQuery(
    "q214_ts_features",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
            .cast(LongType).as("cents"))
        .withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .withColumn("roll3_cents",
          sum(col("cents")).over(w.rowsBetween(-2, 0)))
        .withColumn("n_prior",
          (row_number().over(w) - 1).cast(LongType))
        .withColumn("days_since_prev",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast(LongType))
        .select(col("o_custkey"), col("o_orderkey"), col("cents"),
          col("prev_cents"), col("roll3_cents"), col("n_prior"),
          col("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""WITH f AS (SELECT o_custkey, o_orderkey, o_orderdate,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS cents
        FROM orders)
      SELECT o_custkey, o_orderkey, cents,
        lag(cents) OVER w AS prev_cents,
        CAST(sum(cents) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
          AS roll3_cents,
        CAST(row_number() OVER w - 1 AS BIGINT) AS n_prior,
        CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
          CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
      FROM f
      WINDOW w AS (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  // ---- q215: zero-filled date spine -----------------------------------
  // The BI gap-filling read: a calendar spine left-joined to the
  // daily revenue census so empty days report 0 instead of
  // vanishing (a dashboard that skips silent days hides outages).
  // Spine bounds are literals — the report window is a contract, not
  // data-derived.

  private val q215 = GraftQuery(
    "q215_date_spine",
    (s, d) => {
      val spine = s.sql("""SELECT explode(sequence(
          to_date('1995-01-01'), to_date('1995-03-31'),
          interval 1 day)) AS day""")
      val daily = Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("day"),
          (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
            .cast(LongType).as("cents"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("cents"), lit(0L)).as("cents"))
        .orderBy("day")
    },
    Some("""WITH spine AS (SELECT unnest(generate_series(
          DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY))
          AS day),
      daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          count(*) AS n_orders,
          sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
            AS BIGINT)) AS cents
        FROM orders GROUP BY 1)
      SELECT CAST(spine.day AS DATE) AS day,
        CAST(coalesce(daily.n_orders, 0) AS BIGINT) AS n_orders,
        CAST(coalesce(daily.cents, 0) AS BIGINT) AS cents
      FROM spine LEFT JOIN daily USING (day)
      ORDER BY day"""))

  // ---- q216: hard-negative mining -------------------------------------
  // The contrastive-training feed: per query vector, the 3 most
  // cosine-similar candidates with a DIFFERENT label — "looks alike
  // but isn't". Exact tier (queries broadcast, label test fused in
  // the scan filter, bounded-heap rank); oracle is q45's replay with
  // the label clause.

  private val q216 = GraftQuery(
    "q216_hard_negatives",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"),
          col("label").as("qlab"))
      val cs = e.select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cvec"),
        col("label").as("clab"))
      graft.operators.Similarity.hardNegatives(qs, cs, 3)
        .orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid,
          CAST(embedding AS DOUBLE[]) AS qv, label AS ql
        FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
          label AS cl
        FROM embeddings),
      s AS (SELECT qid, cid,
          round(list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))), 6) AS sim
        FROM q CROSS JOIN c WHERE cid <> qid AND cl <> ql)
      SELECT qid, rank, cid, sim FROM (
        SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid
          ORDER BY sim DESC, cid) AS rank FROM s) t
      WHERE rank <= 3 ORDER BY qid, rank"""))

  // ---- q217: class-balance oversampling to exact parity ---------------
  // Every label replicated to the majority count; the remainder pick
  // is sharded (never a one-task class sort — DatasetOps scaladoc).
  // The census gates n_final == target for every label AND the
  // draw-mass gates WHICH rows got the extra copies.

  private val q217 = GraftQuery(
    "q217_class_balance",
    (s, d) => {
      val bal = graft.operators.DatasetOps.oversampleToParity(
        Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        "vec_id", "label")
      val draw = conv(substring(md5(concat(lit("bal:"),
        col("vec_id").cast(StringType))), 1, 8), 16, 10)
        .cast(LongType)
      bal.groupBy("label")
        .agg(countDistinct(col("vec_id")).as("n_orig"),
          count(lit(1)).as("n_final"),
          sum(draw).as("draw_mass"))
        .orderBy("label")
    },
    Some("""WITH e AS (SELECT vec_id, label FROM embeddings
        WHERE label IS NOT NULL),
      c AS (SELECT label, count(*) AS c FROM e GROUP BY 1),
      t AS (SELECT max(c) AS t FROM c),
      d AS (SELECT e.vec_id, e.label,
          CAST(concat('0x', substring(md5('bal:' || vec_id), 1, 8))
            AS BIGINT) AS draw,
          CAST(concat('0x', substring(md5('bal:' || vec_id), 1, 8))
            AS BIGINT) % 64 AS shard
        FROM e),
      ss AS (SELECT label, shard, count(*) AS ss FROM d GROUP BY 1, 2),
      s2 AS (SELECT ss.label, ss.shard, ss.ss, c.c, t.t,
          t.t % c.c AS r,
          ((t.t % c.c) * ss.ss) // c.c AS base,
          ((t.t % c.c) * ss.ss) % c.c AS frac
        FROM ss JOIN c USING (label), t),
      bs AS (SELECT label, sum(base) AS basesum, min(r) AS r
        FROM s2 GROUP BY 1),
      qt AS (SELECT s2.label, s2.shard,
          s2.base + (CASE WHEN row_number() OVER (
              PARTITION BY s2.label ORDER BY s2.frac DESC, s2.shard)
            <= bs.r - bs.basesum THEN 1 ELSE 0 END) AS q
        FROM s2 JOIN bs USING (label)),
      r2 AS (SELECT d.vec_id, d.label, d.draw, qt.q, c.c, t.t,
          row_number() OVER (PARTITION BY d.label, d.shard
            ORDER BY d.draw, d.vec_id) AS rs
        FROM d JOIN qt ON qt.label = d.label AND qt.shard = d.shard
        JOIN c ON c.label = d.label, t),
      x AS (SELECT vec_id, label, draw,
          t // c + (CASE WHEN rs <= q THEN 1 ELSE 0 END) AS copies
        FROM r2)
      SELECT label, count(*) AS n_orig,
        CAST(sum(copies) AS BIGINT) AS n_final,
        CAST(sum(draw * copies) AS BIGINT) AS draw_mass
      FROM x GROUP BY label ORDER BY label"""))

  // ---- q218/q219: SQL TVF twins for profiler + grouped quantiles ------
  // Parser-path parity for the two newest stats surfaces, oracles
  // reused verbatim (the q201 convention).

  private val q218 = GraftQuery(
    "q218_sql_profile",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""CREATE OR REPLACE TEMP VIEW graft_profile_src AS
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          AS cents, o_custkey
        FROM orders""")
      s.sql("""SELECT column_, stat, value
        FROM table_profile('graft_profile_src', 'cents, o_custkey')
        ORDER BY column_, stat""")
    },
    q212.oracle)

  private val q219 = GraftQuery(
    "q219_sql_grouped_quantiles",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""CREATE OR REPLACE TEMP VIEW graft_events_milli AS
        SELECT event_type, CAST(CAST(value AS DECIMAL(12,3)) * 1000
          AS BIGINT) AS v_milli
        FROM events""")
      s.sql("""SELECT grp, q_ppm, rank_, value
        FROM grouped_quantiles('graft_events_milli', 'event_type',
          'v_milli', '500000, 950000, 990000')
        ORDER BY grp, q_ppm""")
    },
    q208.oracle)

  // ---- q220: IQR outlier fences per group -----------------------------
  // Tukey's rule composed over the grouped-quantile machinery: per
  // event type, fences at q1/q3 ∓ 1.5·IQR (3·IQR div 2 — exact
  // integers), outliers counted by one join back to the raw values.

  private val q220 = GraftQuery(
    "q220_iqr_outliers",
    (s, d) => {
      val vals = Tables.events(s, d).select(col("event_type"),
        (col("value").cast(DecimalType(12, 3)) * 1000)
          .cast(LongType).as("v_milli"))
      val qs = graft.operators.Stats.groupedExactQuantiles(
          vals, "event_type", "v_milli", Seq(250000L, 750000L))
        .groupBy(col("grp").as("event_type"))
        .agg(min(when(col("q_ppm") === 250000L, col("value")))
            .as("q1"),
          min(when(col("q_ppm") === 750000L, col("value"))).as("q3"))
        .withColumn("lo_fence", expr("q1 - (3 * (q3 - q1)) div 2"))
        .withColumn("hi_fence", expr("q3 + (3 * (q3 - q1)) div 2"))
      vals.join(qs, Seq("event_type"))
        .groupBy("event_type")
        .agg(min("q1").as("q1"), min("q3").as("q3"),
          min("lo_fence").as("lo_fence"), min("hi_fence").as("hi_fence"),
          sum(when(col("v_milli") < col("lo_fence")
            || col("v_milli") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""WITH c AS (SELECT event_type AS grp,
          CAST(CAST(value AS DECIMAL(12,3)) * 1000 AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL),
      cen AS (SELECT grp, v, count(*) AS cnt FROM c GROUP BY 1, 2),
      cum AS (SELECT grp, v, cnt,
          sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum FROM cen),
      n AS (SELECT grp, count(*) AS n FROM c GROUP BY 1),
      q(q_ppm) AS (SELECT unnest([250000, 750000])),
      r AS (SELECT n.grp, q.q_ppm,
          (q.q_ppm * n.n + 999999) // 1000000 AS rank_ FROM n, q),
      qv AS (SELECT r.grp, r.q_ppm, min(cum.v) AS value
        FROM r JOIN cum ON cum.grp = r.grp AND cum.cum >= r.rank_
        GROUP BY 1, 2),
      f AS (SELECT grp,
          min(CASE WHEN q_ppm = 250000 THEN value END) AS q1,
          min(CASE WHEN q_ppm = 750000 THEN value END) AS q3
        FROM qv GROUP BY 1),
      f2 AS (SELECT grp, q1, q3,
          q1 - (3 * (q3 - q1)) // 2 AS lo_fence,
          q3 + (3 * (q3 - q1)) // 2 AS hi_fence
        FROM f)
      SELECT c.grp AS event_type, min(f2.q1) AS q1, min(f2.q3) AS q3,
        min(f2.lo_fence) AS lo_fence, min(f2.hi_fence) AS hi_fence,
        CAST(sum(CASE WHEN c.v < f2.lo_fence OR c.v > f2.hi_fence
          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM c JOIN f2 USING (grp)
      GROUP BY 1 ORDER BY 1"""))

  // ---- q221: product-quantization ADC search --------------------------
  // The memory half of the ANN stack (Similarity.Pq scaladoc): 64-d
  // vectors → 8 one-byte codes against md5-derived codebooks, top-5
  // by asymmetric-distance lookup sums. The oracle rebuilds
  // codebooks, every argmin code, the 8×16 lookup tables and the
  // integer ADC ranking — the unrolled fixed-order distance text
  // below is GENERATED so Spark and DuckDB evaluate the identical
  // IEEE expression (the float-discipline contract).

  /** DuckDB text of Pq's unrolled squared distance, with `sub`/`k`
    * as column references — must mirror Similarity.Pq.distSq and
    * VectorFunctions.md5Vectors term for term. */
  private def pqDistSql(vecExpr: String): String =
    (0 until 8).map { dd =>
      val c = "(CAST(concat('0x', substring(md5('pq:' " +
        s"|| CAST(sub AS VARCHAR) || ':' || CAST(k AS VARCHAR) " +
        s"|| ':$dd'), 1, 8)) AS BIGINT) / 4294967296.0 * 2.0 - 1.0)"
      val x = s"$vecExpr[sub * 8 + $dd + 1]"
      s"(($x - $c) * ($x - $c))"
    }.mkString(" + ")

  // PQ codes land once per (JVM, sfDir) — the "encode at ingest,
  // probe many" deployment shape every index family here uses; the
  // encode bill rides first_run, steady state is the ADC probe.
  private val pqDirByInput = new graft.sources.JvmMemo[String]
  private def pqCodesDir(s: SparkSession, d: String): String = {
    val dir = LlmOps.materializedTempDir(pqDirByInput, d,
      "graft_pqcodes_") { out =>
      val e = Tables.embeddings(s, d).select(
        col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("v"))
      graft.operators.Similarity.Pq.encodeWide(e, "cid", "v")
        .write.mode("overwrite").parquet(s"$out/codes")
    }
    s"$dir/codes"
  }
  private def pqCodesMaterialized(s: SparkSession,
                                  d: String): DataFrame =
    s.read.parquet(pqCodesDir(s, d))

  private val q221 = GraftQuery(
    "q221_pq_adc",
    (s, d) => {
      val queries = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      graft.operators.Similarity.Pq.adcTopK(queries,
        pqCodesMaterialized(s, d), 5).orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      subs(sub) AS (SELECT unnest(range(8))),
      ks(k) AS (SELECT unnest(range(16))),
      dists AS (SELECT vec_id, sub, k, ${pqDistSql("v")} AS dist
        FROM e, subs, ks),
      codes AS (SELECT vec_id AS cid, sub, k AS code FROM (
          SELECT vec_id, sub, k, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist, k) AS rn
          FROM dists) WHERE rn = 1),
      lut AS (SELECT vec_id AS qid, sub, k AS code,
          CAST(floor(dist * 1000000.0) AS BIGINT) AS lm
        FROM dists WHERE vec_id < 10),
      est AS (SELECT lut.qid, codes.cid, sum(lut.lm) AS est_micro
        FROM codes JOIN lut ON lut.sub = codes.sub
          AND lut.code = codes.code
        WHERE codes.cid <> lut.qid GROUP BY 1, 2),
      r AS (SELECT qid, cid, est_micro, row_number() OVER (
          PARTITION BY qid ORDER BY est_micro, cid) AS rank
        FROM est)
      SELECT qid, CAST(rank AS BIGINT) AS rank, cid,
        CAST(est_micro AS BIGINT) AS est_micro
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---- q222: per-customer spend-trend slopes --------------------------
  // The "top movers" board: least-squares slope of (order day,
  // cents) per customer — q209's moment discipline applied per
  // group (decimal-exact sums, final IEEE division mirrored
  // token-for-token), n ≥ 5 and nonzero day-variance groups only,
  // bounded-heap board by (slope desc, custkey).

  private val q222 = GraftQuery(
    "q222_trend_slopes",
    (s, d) => {
      val f = Tables.orders(s, d).select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
          .cast(DecimalType(38, 0)).as("x"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(DecimalType(38, 0)).as("y"))
      val m = f.groupBy("o_custkey").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
        .filter(col("n") >= 5)
        .withColumn("_den", expr(
          "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
            "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
        .filter(col("_den") > 0d)
        .withColumn("slope", expr(
          """round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / _den, 6)"""))
        .select(col("o_custkey"), col("n"), col("slope"))
      graft.plans.TopKPerGroup(
          m.withColumn("_g", lit(0)), Seq("_g"),
          Seq(("slope", false), ("o_custkey", true)), 10)
        .select("o_custkey", "n", "slope")
        .orderBy(col("slope").desc, col("o_custkey"))
    },
    Some("""WITH f AS (SELECT o_custkey,
          CAST(date_diff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS HUGEINT) AS x,
          CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
            AS BIGINT) AS HUGEINT) AS y
        FROM orders),
      m AS (SELECT o_custkey, count(*) AS n, sum(x) AS sx,
          sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM f GROUP BY 1 HAVING count(*) >= 5),
      sl AS (SELECT o_custkey, n,
          CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
          round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope
        FROM m)
      SELECT o_custkey, CAST(n AS BIGINT) AS n, slope
      FROM sl WHERE den > 0
      ORDER BY slope DESC, o_custkey LIMIT 10"""))

  // ---- q223: k-fold cross-validation assignment -----------------------
  // hashSplit's k-ary sibling: fold = u32draw(id) mod k — membership
  // a pure function of (salt, id), every row in exactly one fold,
  // reshuffle/append-stable. Census per (fold, source) gates the
  // deal.

  private val q223 = GraftQuery(
    "q223_kfold_assign",
    (s, d) => graft.operators.DatasetOps.kFoldAssign(
        docs(s, d), "doc_id", k = 5)
      .groupBy("fold", "source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("fold", "source"),
    Some("""SELECT CAST(concat('0x', substring(md5('fold:' || doc_id),
          1, 8)) AS BIGINT) % 5 AS fold, source,
        count(*) AS n_docs
      FROM documents GROUP BY 1, 2 ORDER BY fold, source"""))

  // ---- q224: warehouse-health recipe ----------------------------------
  // The composed morning-dashboard read (the q75/q168 recipe pattern
  // for the OPS surface): expectation gate over orders + hot-key
  // sizing over events + the numeric profile, normalized into ONE
  // long-format report — the contract under test is interop at all
  // three stage boundaries, replayed by one oracle statement.

  private val q224 = GraftQuery(
    "q224_health_recipe",
    (s, d) => {
      val constraint = graft.operators.DatasetOps.constraintReport(
        Tables.orders(s, d), Seq(
          "order_key_present" -> col("o_orderkey").isNotNull,
          "price_positive" -> (col("o_totalprice") > 0d),
          "price_under_300k" -> (col("o_totalprice") <= 300000d),
          "status_known" -> col("o_orderstatus").isin("O", "F", "P")))
        .select(lit("constraint").as("section"), col("rule").as("key"),
          col("viol_ppm").as("value"))
      val skew = graft.operators.ScaleOps.skewReport(
          Tables.events(s, d), "event_type",
          targetRowsPerTask = 500L, topN = 3)
        .select(lit("skew").as("section"),
          col("key").cast(StringType).as("key"),
          col("share_ppm").as("value"))
      val prof = graft.operators.Stats.profile(
          Tables.orders(s, d).select(
            (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
              .cast(LongType).as("cents")),
          Seq("cents"))
        .select(lit("profile").as("section"),
          concat(col("column_"), lit(":"), col("stat")).as("key"),
          col("value"))
      constraint.union(skew).union(prof)
        .orderBy("section", "key")
    },
    Some("""WITH a AS (SELECT count(*) AS n,
        sum(CASE WHEN coalesce(o_orderkey IS NOT NULL, false)
          THEN 0 ELSE 1 END) AS v1,
        sum(CASE WHEN coalesce(o_totalprice > 0, false)
          THEN 0 ELSE 1 END) AS v2,
        sum(CASE WHEN coalesce(o_totalprice <= 300000, false)
          THEN 0 ELSE 1 END) AS v3,
        sum(CASE WHEN coalesce(o_orderstatus IN ('O', 'F', 'P'), false)
          THEN 0 ELSE 1 END) AS v4
        FROM orders),
      cons(key, v) AS (
        SELECT 'order_key_present', v1 FROM a
        UNION ALL SELECT 'price_positive', v2 FROM a
        UNION ALL SELECT 'price_under_300k', v3 FROM a
        UNION ALL SELECT 'status_known', v4 FROM a),
      consrows AS (SELECT 'constraint' AS section, cons.key,
          CAST(CASE WHEN a.n = 0 THEN 0
            ELSE (coalesce(cons.v, 0) * 1000000) // a.n END AS BIGINT)
            AS value
        FROM cons, a),
      ec AS (SELECT event_type AS key, count(*) AS n_rows
        FROM events GROUP BY 1),
      et AS (SELECT sum(n_rows) AS total FROM ec),
      skewrows AS (SELECT 'skew' AS section, key,
          CAST((n_rows * 1000000) // et.total AS BIGINT) AS value
        FROM ec, et ORDER BY n_rows DESC, key LIMIT 3),
      src AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
          AS BIGINT) AS cents FROM orders),
      p50 AS (SELECT min(v) AS v FROM (
          SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
            (SELECT count(cents) FROM src) AS n
          FROM (SELECT cents AS v, count(*) AS cnt FROM src
            WHERE cents IS NOT NULL GROUP BY 1))
        WHERE cum >= (500000 * n + 999999) // 1000000),
      profrows AS (SELECT 'profile' AS section, key,
          CAST(value AS BIGINT) AS value FROM (
        SELECT 'cents:n_nonnull' AS key, count(cents) AS value FROM src
        UNION ALL SELECT 'cents:n_distinct', count(DISTINCT cents)
          FROM src
        UNION ALL SELECT 'cents:min', min(cents) FROM src
        UNION ALL SELECT 'cents:max', max(cents) FROM src
        UNION ALL SELECT 'cents:p50', v FROM p50
        UNION ALL SELECT '_table:n_rows', count(*) FROM src))
      SELECT section, key, value FROM consrows
      UNION ALL SELECT section, key, value FROM skewrows
      UNION ALL SELECT section, key, value FROM profrows
      ORDER BY section, key"""))

  // ---- q225: collocation board (adjacent-bigram PMI) ------------------
  // The corpus-wide "these words travel together" board beside
  // q136's per-query expansion (doc-level co-occurrence) and q179's
  // per-doc surprisal: ADJACENT bigram PMI over occurrence counts,
  // q136's staged integer division (never the naive product — int64
  // to ~10¹² tokens), support floor, TakeOrdered board. Censuses
  // map-side-combined; the total is the census sum (a scalar, the
  // q130 discipline).

  private val q225 = GraftQuery(
    "q225_collocations",
    (s, d) => {
      val tk = docs(s, d)
        .select(whitespaceTokens(col("text")).as("_tk"))
      val uni = tk.select(explode(col("_tk")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum("c").as("_t"))
      val bg = tk.select(explode(
          graft.functions.TextFunctions.wordShingles(col("_tk"), 2))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("joint"))
        .filter(col("joint") >= 5)
      bg.withColumn("_a", split(col("bigram"), " ").getItem(0))
        .withColumn("_b", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("token").as("_a"), col("c").as("_ca")),
          Seq("_a"))
        .join(uni.select(col("token").as("_b"), col("c").as("_cb")),
          Seq("_b"))
        .crossJoin(broadcast(tot))
        .select(col("bigram"), col("joint"),
          expr("(((joint * 1000000L) div _ca) * _t) div _cb")
            .as("pmi6"))
        .orderBy(col("pmi6").desc, col("bigram"))
        .limit(20)
    },
    Some("""WITH toks AS (SELECT list_filter(
          regexp_split_to_array(lower(text), '\s+'),
          x -> length(x) > 0) AS tk
        FROM documents),
      tok AS (SELECT unnest(tk) AS token FROM toks),
      uni AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
      t AS (SELECT count(*) AS t FROM tok),
      big AS (SELECT unnest(list_transform(
          generate_series(1, len(tk) - 1),
          i -> tk[i] || ' ' || tk[i + 1])) AS bigram
        FROM toks),
      bc AS (SELECT bigram, count(*) AS joint FROM big
        GROUP BY 1 HAVING count(*) >= 5),
      sc AS (SELECT bc.bigram, bc.joint,
          (((bc.joint * 1000000) // ca.c) * t.t) // cb.c AS pmi6
        FROM bc
        JOIN uni ca ON ca.token = split_part(bc.bigram, ' ', 1)
        JOIN uni cb ON cb.token = split_part(bc.bigram, ' ', 2), t)
      SELECT bigram, joint, CAST(pmi6 AS BIGINT) AS pmi6
      FROM sc ORDER BY pmi6 DESC, bigram LIMIT 20"""))

  // ---- q226: MAD robust outliers per group ----------------------------
  // The other robust scale estimator beside q220's IQR — median
  // absolute deviation, composed from TWO grouped-quantile passes
  // (median of values, then median of |v − med|): the stats stack
  // composing with itself. Outlier rule |v − med| > 3·MAD in exact
  // integers; MAD-degenerate groups (mad = 0, a majority-constant
  // column) report -1 outliers instead of a divide-by-zero-shaped
  // lie.

  private val medDirByInput = new graft.sources.JvmMemo[String]
  private def medMaterialized(s: SparkSession, d: String): DataFrame = {
    val dir = LlmOps.materializedTempDir(medDirByInput, d,
      "graft_evmed_") { out =>
      graft.operators.Stats.groupedExactQuantiles(
          Tables.events(s, d).select(col("event_type"),
            (col("value").cast(DecimalType(12, 3)) * 1000)
              .cast(LongType).as("v")),
          "event_type", "v", Seq(500000L))
        .select(col("grp").as("event_type"), col("value").as("med"))
        .write.mode("overwrite").parquet(s"$out/med")
    }
    s.read.parquet(s"$dir/med")
  }

  private val q226 = GraftQuery(
    "q226_mad_outliers",
    (s, d) => {
      val vals = Tables.events(s, d).select(col("event_type"),
        (col("value").cast(DecimalType(12, 3)) * 1000)
          .cast(LongType).as("v"))
      // med feeds EVERY downstream consumer through dev — without a
      // cut its whole census chain re-derives once per consumer via
      // the cumulative-census internals (the q168 multiply-consumed-
      // frame rule; measured 9.4 s in-battery). It is materialized
      // once per (JVM, sfDir) — group-sized, deterministic per dir —
      // so the steady state pays only the deviation chain (~1.8 s at
      // sf0.1); dev itself stays lazy (one scan + a broadcast join
      // per consumer, cheap where a 1M-row checkpoint is not).
      val med = medMaterialized(s, d)
      val dev = vals.join(med, Seq("event_type"))
        .select(col("event_type"), col("v"), col("med"),
          abs(col("v") - col("med")).as("ad"))
      val mad = graft.operators.Stats.groupedExactQuantiles(
          dev, "event_type", "ad", Seq(500000L))
        .select(col("grp").as("event_type"), col("value").as("mad"))
      dev.join(mad, Seq("event_type"))
        .groupBy("event_type")
        .agg(min("med").as("med"), min("mad").as("mad"),
          when(min("mad") === 0L, lit(-1L)).otherwise(
            sum(when(col("ad") > lit(3L) * col("mad"), 1L)
              .otherwise(0L))).as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""WITH c AS (SELECT event_type AS grp,
          CAST(CAST(value AS DECIMAL(12,3)) * 1000 AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL),
      cen AS (SELECT grp, v, count(*) AS cnt FROM c GROUP BY 1, 2),
      cum AS (SELECT grp, v, cnt,
          sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum FROM cen),
      n AS (SELECT grp, count(*) AS n FROM c GROUP BY 1),
      med AS (SELECT n.grp, min(cum.v) AS med
        FROM n JOIN cum ON cum.grp = n.grp
          AND cum.cum >= (500000 * n.n + 999999) // 1000000
        GROUP BY 1),
      dev AS (SELECT c.grp, c.v, med.med, abs(c.v - med.med) AS ad
        FROM c JOIN med USING (grp)),
      dcen AS (SELECT grp, ad, count(*) AS cnt FROM dev GROUP BY 1, 2),
      dcum AS (SELECT grp, ad, cnt,
          sum(cnt) OVER (PARTITION BY grp ORDER BY ad) AS cum
        FROM dcen),
      mad AS (SELECT n.grp, min(dcum.ad) AS mad
        FROM n JOIN dcum ON dcum.grp = n.grp
          AND dcum.cum >= (500000 * n.n + 999999) // 1000000
        GROUP BY 1)
      SELECT dev.grp AS event_type, min(dev.med) AS med,
        min(mad.mad) AS mad,
        CAST(CASE WHEN min(mad.mad) = 0 THEN -1
          ELSE sum(CASE WHEN dev.ad > 3 * mad.mad THEN 1 ELSE 0 END)
          END AS BIGINT) AS n_outliers
      FROM dev JOIN mad USING (grp)
      GROUP BY 1 ORDER BY 1"""))

  // ---- q227: count-min from SQL ---------------------------------------
  // The parser path into the sketch (q201 convention): a token view +
  // the count_min_probe TVF, oracle = q192's grid replay restricted
  // to estimates.

  private val q227 = GraftQuery(
    "q227_sql_count_min",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""CREATE OR REPLACE TEMP VIEW graft_cms_tokens AS
        SELECT explode(filter(split(lower(text), '\\s+'),
          t -> length(t) > 0)) AS token
        FROM documents""")
      s.sql("""SELECT term, est
        FROM count_min_probe('graft_cms_tokens', 'token', 3, 16,
          'spark, table, the, merge, zzxq')
        ORDER BY term""")
    },
    Some(s"""WITH $tokensCte,
      rows_(r) AS (SELECT unnest([0, 1, 2])),
      grid AS (
        SELECT r.r AS row_,
          CAST(concat('0x', substring(md5(
            'cms:' || CAST(r.r AS VARCHAR) || ':' || token), 1, 8))
            AS BIGINT) % 16 AS cell,
          count(*) AS cnt
        FROM tok, rows_ r GROUP BY 1, 2),
      probes(term) AS (
        SELECT unnest(['spark', 'table', 'the', 'merge', 'zzxq'])),
      pc AS (
        SELECT term, r.r AS row_,
          CAST(concat('0x', substring(md5(
            'cms:' || CAST(r.r AS VARCHAR) || ':' || term), 1, 8))
            AS BIGINT) % 16 AS cell
        FROM probes, rows_ r)
      SELECT term, min(coalesce(g.cnt, 0)) AS est
      FROM pc LEFT JOIN grid g
        ON pc.row_ = g.row_ AND pc.cell = g.cell
      GROUP BY term ORDER BY term"""))

  // ---- q228: funnel step-latency percentiles --------------------------
  // "How long do users take between funnel steps": per user the
  // first view → first subsequent click → first subsequent purchase
  // (strict event-time progression, the q88 funnel semantics), stage
  // latencies in exact micros, then the grouped-quantile board
  // (median + p90 per stage). Three min-aggregates + two
  // delta-joins; the quantile machinery gets a stage column with
  // TWO groups — composition, not new plumbing.

  private val q228 = GraftQuery(
    "q228_funnel_latency",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("us") > col("v_us"))
        .groupBy(col("user_id"), col("v_us"))
        .agg(min("us").as("c_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("us") > col("c_us"))
        .groupBy(col("user_id"), col("c_us"))
        .agg(min("us").as("p_us"))
      val stages = c.select(lit("1_view_to_click").as("stage"),
          (col("c_us") - col("v_us")).as("lat_us"))
        .union(p.select(lit("2_click_to_purchase").as("stage"),
          (col("p_us") - col("c_us")).as("lat_us")))
      graft.operators.Stats.groupedExactQuantiles(
        stages, "stage", "lat_us", Seq(500000L, 900000L))
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
        FROM events),
      v AS (SELECT user_id, min(us) AS v_us FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT ev.user_id, v.v_us, min(ev.us) AS c_us
        FROM ev JOIN v USING (user_id)
        WHERE ev.event_type = 'click' AND ev.us > v.v_us
        GROUP BY 1, 2),
      p AS (SELECT ev.user_id, c.c_us, min(ev.us) AS p_us
        FROM ev JOIN c USING (user_id)
        WHERE ev.event_type = 'purchase' AND ev.us > c.c_us
        GROUP BY 1, 2),
      st AS (SELECT '1_view_to_click' AS grp, c_us - v_us AS lat
          FROM c
        UNION ALL
        SELECT '2_click_to_purchase', p_us - c_us FROM p),
      cen AS (SELECT grp, lat AS v, count(*) AS cnt FROM st
        GROUP BY 1, 2),
      cum AS (SELECT grp, v, cnt,
          sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum FROM cen),
      n AS (SELECT grp, count(*) AS n FROM st GROUP BY 1),
      q(q_ppm) AS (SELECT unnest([500000, 900000])),
      r AS (SELECT n.grp, q.q_ppm,
          (q.q_ppm * n.n + 999999) // 1000000 AS rank_ FROM n, q)
      SELECT r.grp AS grp, CAST(r.q_ppm AS BIGINT) AS q_ppm,
        CAST(r.rank_ AS BIGINT) AS rank_, min(cum.v) AS value
      FROM r JOIN cum ON cum.grp = r.grp AND cum.cum >= r.rank_
      GROUP BY 1, 2, 3 ORDER BY r.grp, q_ppm"""))

  // ---- q229: IVF-pruned ADC search ------------------------------------
  // The composed ANN serving shape (Similarity.Pq.ivfAdcTopK
  // scaladoc): q55's md5-centroid cell prune picks the candidates,
  // q221's PQ codes order them. The oracle stitches both proven
  // replay families — cell geometry/argmax/probe ranking AND
  // codebooks/codes/luts — into one statement, so drift at the
  // composition boundary (a candidate leaking across cells, an ADC
  // score off by one lut row) flips the hash.

  private val q229 = GraftQuery(
    "q229_ivf_pq_adc",
    (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qvec"))
      graft.operators.Similarity.Pq.ivfAdcTopK(queries,
        e.select(col("vec_id").as("cid"), col("v").as("cvec")),
        pqCodesMaterialized(s, d),
        cents = graft.functions.VectorFunctions
          .md5Vectors(16, 64, "cent"),
        k = 5, nProbe = 4).orderBy("qid", "rank")
    },
    Some(s"""WITH cents AS (
        SELECT c.c AS c, list(
            CAST(concat('0x', substring(md5('cent:'||c.c||':'||d.d),
              1, 8)) AS BIGINT) / 4294967296.0 * 2 - 1 ORDER BY d.d)
            AS cv
        FROM generate_series(0, 15) c(c), generate_series(0, 63) d(d)
        GROUP BY c.c),
      vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      ranked AS (
        SELECT vec_id, v, c,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, c) AS rn
        FROM (SELECT t.vec_id, t.v, kk.c,
                list_dot_product(t.v, kk.cv) /
                  (sqrt(list_dot_product(t.v, t.v)) *
                   sqrt(list_dot_product(kk.cv, kk.cv))) AS sim
              FROM vecs t CROSS JOIN cents kk)),
      cellm AS (SELECT vec_id, c AS cell FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, c AS cell
        FROM ranked WHERE rn <= 4 AND vec_id < 10),
      subs(sub) AS (SELECT unnest(range(8))),
      ks(k) AS (SELECT unnest(range(16))),
      dists AS (SELECT vec_id, sub, k, ${pqDistSql("v")} AS dist
        FROM vecs, subs, ks),
      codes AS (SELECT vec_id AS cid, sub, k AS code FROM (
          SELECT vec_id, sub, k, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist, k) AS rn
          FROM dists) WHERE rn = 1),
      lut AS (SELECT vec_id AS qid, sub, k AS code,
          CAST(floor(dist * 1000000.0) AS BIGINT) AS lm
        FROM dists WHERE vec_id < 10),
      est AS (SELECT p.qid, ce.vec_id AS cid, sum(l.lm) AS est_micro
        FROM probes p
        JOIN cellm ce ON ce.cell = p.cell AND ce.vec_id <> p.qid
        JOIN codes co ON co.cid = ce.vec_id
        JOIN lut l ON l.qid = p.qid AND l.sub = co.sub
          AND l.code = co.code
        GROUP BY 1, 2),
      r AS (SELECT qid, cid, est_micro, row_number() OVER (
          PARTITION BY qid ORDER BY est_micro, cid) AS rank
        FROM est)
      SELECT qid, CAST(rank AS BIGINT) AS rank, cid,
        CAST(est_micro AS BIGINT) AS est_micro
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---- q230: PQ code-table maintenance (CDC compaction) ---------------
  // The q108/q128/q137 pattern applied to the LAST persisted index
  // artifact without it (VERDICT r7 missing item 2): runPqIngest only
  // appends, so deletes and re-embeddings left stale code rows that
  // adcTopK kept ranking. The q137 changelog family (deleted %13,
  // re-embedded-negated %17, inserted-reversed %19 — deterministic so
  // DuckDB replays it) compacts the stored codes to their successor
  // snapshot; the verdict is the full q221 ADC probe against the
  // compacted snapshot, while the oracle rebuilds the post-changelog
  // corpus and re-derives codebooks/codes/LUTs/ranking from scratch —
  // a stale surviving code row, a lost fresh row, or a mis-encoded
  // update flips the hash red.

  private val pqCmpDirByInput = new graft.sources.JvmMemo[String]
  private def pqCompactedMaterialized(s: SparkSession,
                                      d: String): DataFrame =
    s.read.parquet(
      LlmOps.materializedTempDir(pqCmpDirByInput, d, "graft_pqcmp_") {
        out =>
          val e = Tables.embeddings(s, d).select(
            col("vec_id").as("cid"),
            col("embedding").cast("array<double>").as("v"))
          val del = e.filter(col("cid") % 13 === 0)
            .select(col("cid"), lit("D").as("op"),
              lit(null).cast("array<double>").as("v"))
          val upd = e.filter(col("cid") % 17 === 0 && col("cid") % 13 =!= 0)
            .select(col("cid"), lit("U").as("op"),
              transform(col("v"), x => -x).as("v"))
          val ins = e.filter(col("cid") % 19 === 0)
            .select((col("cid") + 1000000L).as("cid"), lit("I").as("op"),
              reverse(col("v")).as("v"))
          graft.operators.Similarity.Pq.compactPqCodes(s, pqCodesDir(s, d),
            del.unionByName(upd).unionByName(ins), out)
      })

  private val q230 = GraftQuery(
    "q230_pq_compaction",
    (s, d) => {
      val queries = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      graft.operators.Similarity.Pq.adcTopK(queries,
        pqCompactedMaterialized(s, d), 5).orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      corpus2 AS (
        SELECT vec_id, v FROM e
        WHERE vec_id % 13 <> 0 AND vec_id % 17 <> 0
        UNION ALL
        SELECT vec_id, list_transform(v, x -> -x) FROM e
        WHERE vec_id % 17 = 0 AND vec_id % 13 <> 0
        UNION ALL
        SELECT vec_id + 1000000, list_reverse(v) FROM e
        WHERE vec_id % 19 = 0),
      subs(sub) AS (SELECT unnest(range(8))),
      ks(k) AS (SELECT unnest(range(16))),
      cdists AS (SELECT vec_id, sub, k, ${pqDistSql("v")} AS dist
        FROM corpus2, subs, ks),
      codes AS (SELECT vec_id AS cid, sub, k AS code FROM (
          SELECT vec_id, sub, k, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist, k) AS rn
          FROM cdists) WHERE rn = 1),
      qdists AS (SELECT vec_id, sub, k, ${pqDistSql("v")} AS dist
        FROM e, subs, ks WHERE vec_id < 10),
      lut AS (SELECT vec_id AS qid, sub, k AS code,
          CAST(floor(dist * 1000000.0) AS BIGINT) AS lm
        FROM qdists),
      est AS (SELECT lut.qid, codes.cid, sum(lut.lm) AS est_micro
        FROM codes JOIN lut ON lut.sub = codes.sub
          AND lut.code = codes.code
        WHERE codes.cid <> lut.qid GROUP BY 1, 2),
      r AS (SELECT qid, cid, est_micro, row_number() OVER (
          PARTITION BY qid ORDER BY est_micro, cid) AS rank
        FROM est)
      SELECT qid, CAST(rank AS BIGINT) AS rank, cid,
        CAST(est_micro AS BIGINT) AS est_micro
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---- q233: persisted PQ index probe (books sidecar) -----------------
  // The store-through route of the PQ tier (VERDICT r8 missing item
  // 1): writePqIndex lands codes + the codebooks SIDECAR, and the
  // probe recovers EVERYTHING from disk — no session book knowledge,
  // the exact capability the sidecar exists for ("a second session
  // probing a stored code table has no way to recover which books
  // built it"). The md5 tier keeps the oracle bit-replayable (the
  // q221 contract verbatim); the trained-book route through the same
  // store is SimilaritySpec-gated (float means are not replayable).
  // The oracle is q221's full from-scratch rebuild — a sidecar that
  // round-tripped wrong, or a probe that guessed different books,
  // mis-ranks and flips the hash.

  private val pqIdxDirByInput = new graft.sources.JvmMemo[String]
  private def pqIndexDir(s: SparkSession, d: String): String =
    LlmOps.materializedTempDir(pqIdxDirByInput, d, "graft_pqindex_") {
      out =>
        val e = Tables.embeddings(s, d).select(
          col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("v"))
        graft.operators.Similarity.Pq.writePqIndex(e, "cid", "v", out)
    }

  private def pqProbeQueries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qvec"))

  private val q233 = GraftQuery(
    "q233_pq_index_probe",
    (s, d) => {
      graft.operators.Similarity.Pq.probePqIndex(s,
        pqIndexDir(s, d), pqProbeQueries(s, d), 5).orderBy("qid", "rank")
    },
    Some(pqProbeOracleSql))

  /** The q221/q233 full-replay oracle (codes, LUTs, ADC ranking
    * rebuilt from scratch in SQL) — shared verbatim by the SQL-door
    * probe q235: the TVF must rank EXACTLY like the library call it
    * wraps, so it earns exactly the same oracle. */
  private lazy val pqProbeOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      subs(sub) AS (SELECT unnest(range(8))),
      ks(k) AS (SELECT unnest(range(16))),
      dists AS (SELECT vec_id, sub, k, ${pqDistSql("v")} AS dist
        FROM e, subs, ks),
      codes AS (SELECT vec_id AS cid, sub, k AS code FROM (
          SELECT vec_id, sub, k, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist, k) AS rn
          FROM dists) WHERE rn = 1),
      lut AS (SELECT vec_id AS qid, sub, k AS code,
          CAST(floor(dist * 1000000.0) AS BIGINT) AS lm
        FROM dists WHERE vec_id < 10),
      est AS (SELECT lut.qid, codes.cid, sum(lut.lm) AS est_micro
        FROM codes JOIN lut ON lut.sub = codes.sub
          AND lut.code = codes.code
        WHERE codes.cid <> lut.qid GROUP BY 1, 2),
      r AS (SELECT qid, cid, est_micro, row_number() OVER (
          PARTITION BY qid ORDER BY est_micro, cid) AS rank
        FROM est)
      SELECT qid, CAST(rank AS BIGINT) AS rank, cid,
        CAST(est_micro AS BIGINT) AS est_micro
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""

  // ---- q235: pq_search TVF — the SQL door to the stored PQ index ------
  // The parser route to the embedding serving tier (VERDICT r9
  // Missing #2: bm25/trigram search had SQL doors since r7/r8; the
  // vector indexes had none): the IDENTICAL stored index q233 probes,
  // reached as `pq_search('<dir>', 'pq_queries_sql', 5)` — dir codes
  // + books sidecar recovered from disk by the TVF's probePqIndex
  // call, query vectors from a registered temp view. The oracle is
  // q233's full rebuild verbatim: the SQL door must rank exactly
  // like the library call, or it is not a door but a second engine.

  private val q235 = GraftQuery(
    "q235_pq_search_sql",
    (s, d) => {
      val dir = pqIndexDir(s, d)
      pqProbeQueries(s, d).createOrReplaceTempView("pq_queries_sql")
      s.sql(s"SELECT * FROM pq_search('$dir', 'pq_queries_sql', 5) " +
        "ORDER BY qid, rank")
    },
    Some(pqProbeOracleSql))

  // ---- q248: KMV distinct-count sketch --------------------------------
  // The cardinality member of the sketch family: per-source distinct-
  // token estimates from the k=64 smallest md5-uint32 draws, beside
  // the exact distinct count and the error in ppm. Where HLL is
  // engine-opaque, KMV replays exactly: the oracle rebuilds the
  // hashed distinct set, ranks it per source, takes the same k
  // minima, the same kth value and the same integer spacing
  // estimator — a drift in the hash, the heap, the <k exact path or
  // the divisor flips the row hash. The minima ride the bounded-heap
  // TopKPerGroup node (no per-group sort/window); state is
  // sources×64 everywhere.

  private val kmvK = 64

  private val q248 = GraftQuery(
    "q248_kmv_distinct",
    (s, d) => {
      val toks = docs(s, d).select(col("source"),
        explode(whitespaceTokens(col("text"))).as("tok"))
      val est = Sketches.kmvEstimate(
        Sketches.kmvMins(toks, Seq("source"), "tok", kmvK),
        Seq("source"), kmvK)
      val exact = toks.select(col("source"), col("tok")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("n_exact"), col("n_distinct_est"),
          expr("abs(n_distinct_est - n_exact) * 1000000L div n_exact")
            .as("err_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""WITH toks AS (
        SELECT source, unnest(list_filter(
            regexp_split_to_array(lower(text), '\\s+'),
            x -> length(x) > 0)) AS tok
        FROM documents),
      hashed AS (
        SELECT DISTINCT source,
          CAST(concat('0x', substring(md5('kmv:' || tok), 1, 8))
            AS BIGINT) AS h
        FROM toks),
      ranked AS (
        SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed),
      sk AS (
        SELECT source, count(*) AS n, max(h) AS kth
        FROM ranked WHERE rn <= $kmvK GROUP BY source),
      ex AS (
        SELECT source, count(DISTINCT tok) AS n_exact FROM toks
        GROUP BY source)
      SELECT s.source, CAST(ex.n_exact AS BIGINT) AS n_exact,
        CAST(CASE WHEN s.n < $kmvK THEN s.n
          ELSE (${kmvK - 1} * 4294967296) // s.kth END AS BIGINT)
          AS n_distinct_est,
        CAST(abs(CASE WHEN s.n < $kmvK THEN s.n
            ELSE (${kmvK - 1} * 4294967296) // s.kth END - ex.n_exact)
          * 1000000 // ex.n_exact AS BIGINT) AS err_ppm
      FROM sk s JOIN ex ON s.source = ex.source
      ORDER BY s.source"""))

  // ---- q250: persisted SQ index probe (minmax sidecar) ----------------
  // The store-through route of the SQ tier (the q233 shape lifted to
  // scalar quantization): writeSqIndex lands int8 codes + the per-dim
  // (min, max) SIDECAR, and the probe recovers EVERYTHING from disk —
  // ranges trained by the build session, zero session knowledge at
  // probe time. Ranking is exact l2 to the reconstruction in micro
  // units (the only metric an SQ store can serve). The oracle
  // rebuilds ranges, every code, every reconstruction and the full
  // ranking from the raw embeddings — a sidecar that round-tripped
  // wrong, a probe that guessed ranges, or a drifted decode flips
  // the hash (the q249-proven l2/list_dot_product parity carries the
  // float leg).

  private val sqIdxDirByInput = new graft.sources.JvmMemo[String]
  private def sqIndexDir(s: SparkSession, d: String): String =
    LlmOps.materializedTempDir(sqIdxDirByInput, d, "graft_sqindex_") {
      out =>
        val e = Tables.embeddings(s, d).select(
          col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("v"))
        val (mns, mxs) = graft.operators.Similarity.Sq.minMax(e, "v", 64)
        graft.operators.Similarity.Sq.writeSqIndex(e, "cid", "v", out,
          mns, mxs)
    }

  private def sqProbeQueries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qvec"))

  /** The q250/q251 full-replay oracle (ranges, codes, reconstructions
    * and the micro-l2 ranking rebuilt from scratch in SQL) — shared
    * verbatim by the SQL-door probe q251: the TVF must rank EXACTLY
    * like the library call it wraps. */
  private lazy val sqProbeOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      dims AS (
        SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
        FROM e CROSS JOIN generate_series(1, 64) t(j) GROUP BY j),
      mm AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
        FROM dims),
      codes AS (
        SELECT vec_id AS cid,
          list_transform(generate_series(1, 64), j ->
            CASE WHEN mxs[j] > mns[j] THEN
              CAST(least(greatest(
                floor((v[j] - mns[j]) * 255.0 / (mxs[j] - mns[j])),
                0.0), 255.0) AS BIGINT)
            ELSE 0 END) AS codes
        FROM e CROSS JOIN mm),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      pairs AS (
        SELECT q.qid, c.cid,
          list_transform(generate_series(1, 64), j ->
            q.qv[j] - (mm.mns[j] + c.codes[j] * (mm.mxs[j] - mm.mns[j])
              / 255.0)) AS dv
        FROM q, codes c, mm WHERE c.cid <> q.qid),
      est AS (
        SELECT qid, cid,
          CAST(floor(sqrt(list_dot_product(dv, dv)) * 1000000.0)
            AS BIGINT) AS est_micro
        FROM pairs),
      r AS (SELECT qid, cid, est_micro, row_number() OVER (
          PARTITION BY qid ORDER BY est_micro, cid) AS rank
        FROM est)
      SELECT qid, CAST(rank AS BIGINT) AS rank, cid, est_micro
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""

  private val q250 = GraftQuery(
    "q250_sq_index_probe",
    (s, d) => {
      graft.operators.Similarity.Sq.probeSqIndex(s,
        sqIndexDir(s, d), sqProbeQueries(s, d), 5).orderBy("qid", "rank")
    },
    Some(sqProbeOracleSql))

  // ---- q251: sq_search TVF — the SQL door to the stored SQ index ------
  // pq_search's scalar-quantization sibling: the IDENTICAL stored
  // index q250 probes, reached as `sq_search('<dir>',
  // 'sq_queries_sql', 5)` — codes + minmax sidecar recovered from
  // disk by the TVF's probeSqIndex call. Oracle shared verbatim with
  // q250: a door that ranks differently is a second engine.

  private val q251 = GraftQuery(
    "q251_sq_search_sql",
    (s, d) => {
      val dir = sqIndexDir(s, d)
      sqProbeQueries(s, d).createOrReplaceTempView("sq_queries_sql")
      s.sql(s"SELECT * FROM sq_search('$dir', 'sq_queries_sql', 5) " +
        "ORDER BY qid, rank")
    },
    Some(sqProbeOracleSql))

  // ---- q253: kmv_distinct TVF — the SQL door to the KMV sketch --------
  // count_min_probe's cardinality sibling: the SQL persona asks "how
  // many distinct tokens per source, approximately" without knowing
  // the min-set machinery. Oracle = q248's replay (hash, rank, k
  // minima, spacing estimator) trimmed to the estimate — the door
  // must estimate exactly like the library call.

  private val q253 = GraftQuery(
    "q253_sql_kmv_distinct",
    (s, d) => {
      docs(s, d).select(col("source"),
          explode(whitespaceTokens(col("text"))).as("tok"))
        .createOrReplaceTempView("kmv_toks_sql")
      s.sql(s"SELECT * FROM kmv_distinct('kmv_toks_sql', 'source', " +
        s"'tok', $kmvK) ORDER BY source")
    },
    Some(s"""WITH toks AS (
        SELECT source, unnest(list_filter(
            regexp_split_to_array(lower(text), '\\s+'),
            x -> length(x) > 0)) AS tok
        FROM documents),
      hashed AS (
        SELECT DISTINCT source,
          CAST(concat('0x', substring(md5('kmv:' || tok), 1, 8))
            AS BIGINT) AS h
        FROM toks),
      ranked AS (
        SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed),
      sk AS (
        SELECT source, count(*) AS n, max(h) AS kth
        FROM ranked WHERE rn <= $kmvK GROUP BY source)
      SELECT source,
        CAST(CASE WHEN n < $kmvK THEN n
          ELSE (${kmvK - 1} * 4294967296) // kth END AS BIGINT)
          AS n_distinct_est
      FROM sk ORDER BY source"""))

  // ---- q255: IVF-pruned SQ search --------------------------------------
  // q229's scalar-quantization twin, completing the composed-serving
  // matrix ({IVF prune} × {PQ, SQ} order): q55's md5-centroid cell
  // prune picks the candidates, q250's int8 reconstructions order
  // them. The oracle stitches the proven cell replay (geometry,
  // argmax, probe ranking) to the proven SQ replay (ranges, codes,
  // reconstruction l2) — drift at the composition boundary flips the
  // hash.

  private val q255 = GraftQuery(
    "q255_ivf_sq_search",
    (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val ev = e.select(col("vec_id").as("cid"), col("v"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qvec"))
      val (mns, mxs) = graft.operators.Similarity.Sq.minMax(ev, "v", 64)
      graft.operators.Similarity.Sq.ivfSqTopK(queries,
        ev.select(col("cid"), col("v").as("cvec")),
        ev.select(col("cid"), graft.operators.Similarity.Sq
          .encode(col("v"), mns, mxs).as("codes")),
        cents = graft.functions.VectorFunctions
          .md5Vectors(16, 64, "cent"),
        k = 5, nProbe = 4, mins = mns, maxs = mxs).orderBy("qid", "rank")
    },
    Some("""WITH cents AS (
        SELECT c.c AS c, list(
            CAST(concat('0x', substring(md5('cent:'||c.c||':'||d.d),
              1, 8)) AS BIGINT) / 4294967296.0 * 2 - 1 ORDER BY d.d)
            AS cv
        FROM generate_series(0, 15) c(c), generate_series(0, 63) d(d)
        GROUP BY c.c),
      vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      ranked AS (
        SELECT vec_id, v, c,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, c) AS rn
        FROM (SELECT t.vec_id, t.v, kk.c,
                list_dot_product(t.v, kk.cv) /
                  (sqrt(list_dot_product(t.v, t.v)) *
                   sqrt(list_dot_product(kk.cv, kk.cv))) AS sim
              FROM vecs t CROSS JOIN cents kk)),
      cellm AS (SELECT vec_id, c AS cell FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, c AS cell
        FROM ranked WHERE rn <= 4 AND vec_id < 10),
      dims AS (
        SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
        FROM vecs CROSS JOIN generate_series(1, 64) t(j) GROUP BY j),
      mm AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
        FROM dims),
      codes AS (
        SELECT vec_id AS cid,
          list_transform(generate_series(1, 64), j ->
            CASE WHEN mxs[j] > mns[j] THEN
              CAST(least(greatest(
                floor((v[j] - mns[j]) * 255.0 / (mxs[j] - mns[j])),
                0.0), 255.0) AS BIGINT)
            ELSE 0 END) AS codes
        FROM vecs CROSS JOIN mm),
      q AS (SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id < 10),
      cand AS (
        SELECT p.qid, ce.vec_id AS cid
        FROM probes p JOIN cellm ce
          ON ce.cell = p.cell AND ce.vec_id <> p.qid),
      pairs AS (
        SELECT cand.qid, cand.cid,
          list_transform(generate_series(1, 64), j ->
            q.qv[j] - (mm.mns[j] + co.codes[j] * (mm.mxs[j] - mm.mns[j])
              / 255.0)) AS dv
        FROM cand
        JOIN q ON q.qid = cand.qid
        JOIN codes co ON co.cid = cand.cid
        CROSS JOIN mm),
      est AS (
        SELECT qid, cid,
          CAST(floor(sqrt(list_dot_product(dv, dv)) * 1000000.0)
            AS BIGINT) AS est_micro
        FROM pairs),
      r AS (SELECT qid, cid, est_micro, row_number() OVER (
          PARTITION BY qid ORDER BY est_micro, cid) AS rank
        FROM est)
      SELECT qid, CAST(rank AS BIGINT) AS rank, cid, est_micro
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---- q316: mergeable HLL sketch rollup (the incremental tier of
  // distinct counting) ---------------------------------------------------
  // q70's approx_count_distinct answers ONE query over ONE scan; at
  // 100 TB the daily-active / weekly-active dashboard family can't
  // rescan raw events per question. The production shape is a PERSISTED
  // sketch table: one fixed-size Datasketches HLL sketch per (day)
  // lands in parquet when the day's partition arrives, and every
  // coarser rollup (week, month, arbitrary date ranges) is a
  // hll_union_agg over a few KB of sketch bytes — raw data is scanned
  // exactly once, ever. The sketch answer is engine-specific, so the
  // gates are the q62/q70 self-gating shape, INTEGER arithmetic only:
  // within_5pct (|est − exact|·20 ≤ exact) and merge_within_2pct
  // (|union-of-dailies − direct-weekly|·50 ≤ exact). Merge agreement
  // is deliberately an ENVELOPE, not equality: Datasketches HLL union
  // is register-lossless only once both sides are in dense mode — a
  // sparse daily sketch unioned into a dense gadget can land ~½% off
  // the directly-built sketch (measured at 5k ids in SketchesSpec),
  // so an equality gate would be a data-dependent coin flip at other
  // SFs while 2% holds by the lgK=14 error algebra at any scale.
  private val sketchDirByInput = new graft.sources.JvmMemo[String]
  private val q316 = GraftQuery(
    "q316_sketch_rollup",
    (s, d) => {
      val ev = Tables.events(s, d)
      val skDir = LlmOps.materializedTempDir(sketchDirByInput, d,
        "graft_hll_") { out =>
        ev.groupBy(to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
          .write.mode("overwrite").parquet(out)
      }
      val weekly = s.read.parquet(skDir)
        .groupBy(date_trunc("week", col("day")).cast(DateType).as("wk"))
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val direct = ev
        .groupBy(date_trunc("week", to_date(col("ts"))).cast(DateType)
          .as("wk"))
        .agg(count_distinct(col("user_id")).as("exact_users"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"), 14))
            .as("est_direct"))
      weekly.join(direct, Seq("wk"))
        .select(date_format(col("wk"), "yyyy-MM-dd").as("week_start"),
          col("n_days"), col("exact_users"),
          (abs(col("est") - col("exact_users")) * 20 <=
            col("exact_users")).as("within_5pct"),
          (abs(col("est") - col("est_direct")) * 50 <=
            col("exact_users")).as("merge_within_2pct"))
        .orderBy(col("week_start"))
    },
    Some("""SELECT strftime(date_trunc('week', CAST(ts AS DATE)),
          '%Y-%m-%d') AS week_start,
        count(DISTINCT CAST(ts AS DATE)) AS n_days,
        count(DISTINCT user_id) AS exact_users,
        true AS within_5pct, true AS merge_within_2pct
      FROM events GROUP BY 1 ORDER BY week_start"""))

  // ---- q321: bucketed table fingerprint (data reconciliation) ----------
  // Comparing two replicas of a 100 TB table row-by-row is a shuffle
  // of everything; comparing bucketed content checksums is one narrow
  // scan + a 16-row aggregate per side, and a mismatched bucket
  // localizes divergence to 1/16 of the data (recurse to binary-search
  // it). The canonical key string is the CALLER's contract — dates
  // through an explicit format (a raw timestamp cast renders
  // differently across engines and would flag every row) — and the
  // oracle IS the second engine: DuckDB recomputes every md5 bucket
  // checksum, so the query literally demonstrates the reconciliation
  // passing between two independent engines.
  private val q321 = GraftQuery(
    "q321_table_fingerprint",
    (s, d) =>
      graft.operators.DatasetOps.tableFingerprint(
        Tables.lineitem(s, d),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd")),
        nBuckets = 16)
        .orderBy(col("bucket")),
    Some("""WITH h AS (
        SELECT CAST(concat('0x', substring(md5('fp:' || l_orderkey ||
            '|' || l_linenumber || '|' || l_returnflag || '|' ||
            strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d')), 1, 8))
          AS BIGINT) AS h
        FROM lineitem)
      SELECT CAST(h % 16 AS BIGINT) AS bucket, count(*) AS n_rows,
        CAST(sum(h) AS BIGINT) AS checksum
      FROM h GROUP BY 1 ORDER BY bucket"""))

  // ---- q327: JSON key census (schema-drift monitor) --------------------
  // The ingest-side complement of q318's VARIANT reads: an
  // open-content JSONL stream drifts (producers add fields per event
  // class, feature flags appear on a value slice), and the monitor a
  // pipeline actually runs is the per-(event_type, key) presence
  // census — a new key shows up as a new row, a key's retreat shows
  // up in its ppm. json_object_keys is a narrow projection; one
  // count shuffle on (type, key). The fixture drifts deliberately:
  // "code" exists only on error events, "flag" only where value > 80.
  private val q327 = GraftQuery(
    "q327_json_key_census",
    (s, d) => {
      val ev = Tables.events(s, d)
      val j = concat(lit("{\"k\":"),
        get_json_object(col("props"), "$.k"),
        when(col("event_type") === "error",
          concat(lit(",\"code\":"), (col("event_id") % 7).cast(StringType)))
          .otherwise(lit("")),
        when(col("value") > 80, lit(",\"flag\":true")).otherwise(lit("")),
        lit("}"))
      val perType = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      ev.select(col("event_type"),
          explode(json_object_keys(j)).as("key"))
        .groupBy(col("event_type"), col("key"))
        .agg(count(lit(1)).as("n_present"))
        .join(broadcast(perType), Seq("event_type"))
        .select(col("event_type"), col("key"), col("n_present"),
          expr("n_present * 1000000L div n_events").as("presence_ppm"))
        .orderBy(col("event_type"), col("key"))
    },
    Some("""WITH j AS (
        SELECT event_type, event_id, value,
          '{"k":' || json_extract_string(props, '$.k') ||
          CASE WHEN event_type = 'error'
            THEN ',"code":' || (event_id % 7) ELSE '' END ||
          CASE WHEN value > 80 THEN ',"flag":true' ELSE '' END ||
          '}' AS js
        FROM events),
      k AS (SELECT event_type, unnest(json_keys(js)) AS key FROM j),
      t AS (SELECT event_type, count(*) AS n_events FROM events
        GROUP BY event_type)
      SELECT k.event_type, key, count(*) AS n_present,
        CAST(count(*) * 1000000 // max(t.n_events) AS BIGINT)
          AS presence_ppm
      FROM k JOIN t ON k.event_type = t.event_type
      GROUP BY k.event_type, key
      ORDER BY k.event_type, key"""))

  def all: Seq[GraftQuery] =
    Seq(q192, q193, q194, q195, q196, q197, q198, q199, q200,
      q201, q202, q203, q204, q205, q206, q207, q208, q209, q210,
      q211, q212, q214, q215, q216, q217, q218, q219, q220, q221,
      q222, q223, q224, q225, q226, q227, q228, q229, q230, q233, q235,
      q248, q250, q251, q253, q255, q316, q321, q327)
}

