package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Third relational batch: statistical aggregates with decimal-exact
  * co-moments (q56), the analytic-window battery (q57), and scalar
  * string/date batteries (q58/q59) — widening the function surface a
  * reference user would reach for in the Athena layer.
  *
  * The q56 trick: variance/correlation are NOT aggregated in floating
  * point (parallel summation order would diverge from DuckDB's
  * sequential scan). All sums (Σx, Σx², Σxy) are exact DECIMAL with
  * widths sized so no product can overflow precision 38; the final
  * `m₂ = n·Σx² − (Σx)²` co-moments are still exact, and only the last
  * division/sqrt happens in double — on identical inputs, identical
  * IEEE results in every engine. */
object Relational3 {

  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def part(s: SparkSession, d: String) = Tables.part(s, d)

  // ---- q56: moments — mean / sample stddev / correlation --------------

  private val q56 = GraftQuery(
    "q56_stat_moments",
    (s, d) => {
      val x = col("l_quantity").cast(DecimalType(12, 2))
      val y = col("l_extendedprice").cast(DecimalType(12, 2))
      val sums = li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          count_distinct(col("l_suppkey")).as("n_suppliers"),
          // widths match the oracle's DECIMAL(20,2)/(24,4): per-group
          // sums stay exact past 10^12 rows (ADVICE r2 — the old
          // (7,0)/(14,2) casts overflowed to null around sf10), and
          // every co-moment product below still fits precision 38
          sum(x).cast(DecimalType(20, 2)).as("sx"),
          sum(y).cast(DecimalType(20, 2)).as("sy"),
          sum((x * x).cast(DecimalType(18, 4))).cast(DecimalType(24, 4)).as("sxx"),
          sum((y * y).cast(DecimalType(20, 4))).cast(DecimalType(24, 4)).as("syy"),
          sum((x * y).cast(DecimalType(18, 4))).cast(DecimalType(24, 4)).as("sxy"))
      val nDec = col("n").cast(DecimalType(12, 0))
      val m2x = (nDec * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
      val m2y = (nDec * col("syy") - col("sy") * col("sy")).cast(DoubleType)
      val mxy = (nDec * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
      val nn1 = (col("n") * (col("n") - 1)).cast(DoubleType)
      sums.select(
        col("l_returnflag"), col("n"), col("n_suppliers"),
        round(col("sx").cast(DoubleType) / col("n"), 6).as("mean_qty"),
        round(sqrt(m2x / nn1), 6).as("stddev_qty"),
        round(sqrt(m2y / nn1), 6).as("stddev_price"),
        round(mxy / sqrt(m2x * m2y), 6).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH sums AS (
        -- sums land in >=20-digit decimals so DuckDB stores them as
        -- int128 and the co-moment squares below cannot overflow the
        -- int64 multiply path
        SELECT l_returnflag, count(*) AS n,
          count(DISTINCT l_suppkey) AS n_suppliers,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS sx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS sy,
          CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DECIMAL(24,4)) AS sxx,
          CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(20,4))) AS DECIMAL(24,4)) AS syy,
          CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DECIMAL(24,4)) AS sxy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n, n_suppliers,
        round(CAST(sx AS DOUBLE) / n, 6) AS mean_qty,
        round(sqrt(CAST(CAST(n AS DECIMAL(12,0)) * sxx - sx * sx AS DOUBLE)
          / CAST(n * (n - 1) AS DOUBLE)), 6) AS stddev_qty,
        round(sqrt(CAST(CAST(n AS DECIMAL(12,0)) * syy - sy * sy AS DOUBLE)
          / CAST(n * (n - 1) AS DOUBLE)), 6) AS stddev_price,
        round(CAST(CAST(n AS DECIMAL(12,0)) * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(CAST(n AS DECIMAL(12,0)) * sxx - sx * sx AS DOUBLE)
               * CAST(CAST(n AS DECIMAL(12,0)) * syy - sy * sy AS DOUBLE)), 6)
          AS corr_qty_price
      FROM sums ORDER BY l_returnflag"""))

  // ---- q57: analytic window battery -----------------------------------
  // lag/lead/ntile/percent_rank/cume_dist/first_value + a 3-row moving
  // average — frames spelled out explicitly on both sides (default
  // frames differ subtly between engines).

  private val q57 = GraftQuery(
    "q57_window_analytics",
    (s, d) => {
      val price = col("o_totalprice").cast(DecimalType(12, 2))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wMov = w.rowsBetween(-2, 0)
      ord(s, d)
        .filter(col("o_custkey") % 10 === 0)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(price, 1).over(w).cast(DoubleType).as("prev_price"),
          lead(price, 1).over(w).cast(DoubleType).as("next_price"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          first(price).over(wRun).cast(DoubleType).as("first_price"),
          round(sum(price).over(wMov).cast(DoubleType) /
            count(lit(1)).over(wMov), 6).as("moving_avg3"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
        CAST(lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE) AS prev_price,
        CAST(lead(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE) AS next_price,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        round(percent_rank() OVER w, 6) AS pct_rank,
        round(cume_dist() OVER w, 6) AS cume,
        CAST(first_value(CAST(o_totalprice AS DECIMAL(12,2))) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS first_price,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) /
          count(*) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3
      FROM orders WHERE o_custkey % 10 = 0
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  // ---- q58: string-function battery over part -------------------------

  private val q58 = GraftQuery(
    "q58_string_battery",
    (s, d) =>
      part(s, d)
        .filter(col("p_partkey") % 7 === 0)
        .select(
          col("p_partkey"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tname"),
          lpad(col("p_partkey").cast(StringType), 8, "0").as("padded_key"),
          levenshtein(substring(col("p_brand"), 1, 8),
            substring(col("p_type"), 1, 8)).as("brand_type_lev"),
          reverse(col("p_name")).as("rev_name"),
          repeat(substring(col("p_brand"), 1, 3), 2).as("brand2"),
          locate("e", col("p_name")).as("first_e"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
        translate(p_name, 'aeiou', 'AEIOU') AS tname,
        lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
        CAST(levenshtein(substring(p_brand, 1, 8), substring(p_type, 1, 8)) AS INT)
          AS brand_type_lev,
        reverse(p_name) AS rev_name,
        repeat(substring(p_brand, 1, 3), 2) AS brand2,
        CAST(CASE WHEN position('e' IN p_name) IS NULL THEN 0
          ELSE position('e' IN p_name) END AS INT) AS first_e
      FROM part WHERE p_partkey % 7 = 0 ORDER BY p_partkey"""))

  // ---- q59: date-function battery over orders -------------------------

  private val q59 = GraftQuery(
    "q59_date_battery",
    (s, d) => {
      val dt = to_date(col("o_orderdate"))
      ord(s, d)
        .filter(col("o_orderkey") % 13 === 0)
        .select(
          col("o_orderkey"),
          datediff(dt, lit("1992-01-01").cast(DateType)).as("days_since_epoch92"),
          add_months(dt, 3).as("plus3m"),
          last_day(dt).as("month_end"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          dayofyear(dt).as("doy"),
          quarter(dt).as("qtr"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
        CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT)
          AS days_since_epoch92,
        CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        last_day(CAST(o_orderdate AS DATE)) AS month_end,
        date_trunc('month', o_orderdate) AS month_start,
        CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INT) AS doy,
        CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr
      FROM orders WHERE o_orderkey % 13 = 0 ORDER BY o_orderkey"""))

  // ---- q61: exact percentiles -----------------------------------------
  // Selection + linear interpolation (Spark `percentile` ↔ DuckDB
  // `quantile_cont`) — safe to oracle because, unlike floating-point
  // sums, order statistics don't depend on aggregation order; the
  // interpolation arithmetic is the same IEEE ops on both engines.

  private val q61 = GraftQuery(
    "q61_percentiles",
    (s, d) =>
      li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
          percentile(col("l_extendedprice"), lit(0.9)).as("p90_price"),
          percentile(col("l_extendedprice"), lit(0.99)).as("p99_price"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_extendedprice, 0.9) AS p90_price,
        quantile_cont(l_extendedprice, 0.99) AS p99_price,
        min(l_extendedprice) AS min_price,
        max(l_extendedprice) AS max_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- q62: approximate percentiles (the 100 TB tier of q61) ----------
  // Exact `percentile` holds every group value in memory — fine at
  // test SFs, impossible at 10^11 rows. `approx_percentile` (a
  // Greenwald-Khanna mergeable sketch, fixed memory per group) is the
  // scale path. The sketch's answer is engine-specific, so the oracle
  // can't replay it: instead the query SELF-GATES — it computes both
  // tiers and emits within-tolerance booleans that the oracle expects
  // to be true, so the hash check fails if sketch error ever drifts
  // past 1%. ApproxPercentileSpec additionally measures the error at
  // sf0.1.

  private val q62 = GraftQuery(
    "q62_percentiles_approx",
    (s, d) =>
      li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
          percentile(col("l_extendedprice"), lit(0.9)).as("p90_price"),
          approx_percentile(col("l_quantity").cast(DoubleType), lit(0.5),
            lit(10000)).as("_amq"),
          approx_percentile(col("l_extendedprice").cast(DoubleType), lit(0.9),
            lit(10000)).as("_ap90"))
        .select(col("l_returnflag"), col("median_qty"), col("p90_price"),
          (abs(col("_amq") - col("median_qty")) <=
            abs(col("median_qty")) * 0.01).as("median_within_1pct"),
          (abs(col("_ap90") - col("p90_price")) <=
            abs(col("p90_price")) * 0.01).as("p90_within_1pct"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_extendedprice, 0.9) AS p90_price,
        true AS median_within_1pct,
        true AS p90_within_1pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- q70: HyperLogLog distinct counting (the 100 TB tier of
  // count_distinct) ------------------------------------------------------
  // Exact distinct shuffles every distinct key; the HLL++ sketch is
  // fixed-size and mergeable — the only way a 10^11-row distinct
  // count fits a dashboard budget. Same self-gating shape as q62: the
  // sketch answer is engine-specific, so the query emits the exact
  // counts plus within-tolerance booleans the oracle expects true
  // (rsd=0.01 ⇒ ±~3σ bound of 5% is generous; the hash check fails
  // if the sketch ever drifts past it). Exact and sketch tiers run as
  // SEPARATE aggregates joined on the 6-row group key (broadcast):
  // one combined aggregate plans the multi-distinct Expand (rows × 3)
  // and drags the 2^14-register HLL++ buffers through the expanded
  // stream — measured 5.8 s combined vs 0.95 + 1.7 s split at sf0.1,
  // and at 100 TB the Expand triples shuffle input.

  private val q70 = GraftQuery(
    "q70_distinct_approx",
    (s, d) => {
      val ex = li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count_distinct(col("l_suppkey")).as("exact_suppliers"),
          count_distinct(col("l_partkey")).as("exact_parts"))
      val ap = li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_suppkey"), 0.01).as("_as"),
          approx_count_distinct(col("l_partkey"), 0.01).as("_ap"))
      ex.join(broadcast(ap), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          col("exact_suppliers"), col("exact_parts"),
          (abs(col("_as") - col("exact_suppliers")) <=
            col("exact_suppliers") * 0.05).as("suppliers_within_5pct"),
          (abs(col("_ap") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("parts_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS exact_suppliers,
        count(DISTINCT l_partkey) AS exact_parts,
        true AS suppliers_within_5pct,
        true AS parts_within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- q72: RANGE window frames ---------------------------------------
  // Value-based frames (all orders within the last 30 days of THIS
  // row's date, per customer) — the W2 surface rows frames can't
  // express. Peers are included by value, so the framed sums are
  // order-independent under ties; frames spelled out on both sides.

  private val q72 = GraftQuery(
    "q72_range_frames",
    (s, d) => {
      val price = col("o_totalprice").cast(DecimalType(12, 2))
      val epochDay = datediff(col("o_orderdate"), lit("1970-01-01").cast(DateType))
      val w = Window.partitionBy(col("o_custkey")).orderBy(epochDay)
        .rangeBetween(-30, 0)
      ord(s, d)
        .filter(col("o_custkey") % 25 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          count(lit(1)).over(w).as("n_last_30d"),
          sum(price).over(w).cast(DoubleType).as("rev_last_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        count(*) OVER w AS n_last_30d,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
          AS rev_last_30d
      FROM orders WHERE o_custkey % 25 = 0
      WINDOW w AS (PARTITION BY o_custkey
        ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""))

  // ---- q73: GROUPING SETS (the general form of rollup/cube) -----------
  // Through the spark.sql text path over the registered catalog (S6),
  // with grouping() disambiguating real NULLs from subtotal rows.

  private val q73 = GraftQuery(
    "q73_grouping_sets",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT n_regionkey, n_name, count(*) AS n,
          CAST(grouping(n_regionkey) AS INT) AS g_region,
          CAST(grouping(n_name) AS INT) AS g_name
        FROM nation
        GROUP BY GROUPING SETS ((n_regionkey, n_name), (n_regionkey), ())
        ORDER BY g_region, g_name, n_regionkey, n_name""")
    },
    Some("""SELECT n_regionkey, n_name, count(*) AS n,
        CAST(grouping(n_regionkey) AS INT) AS g_region,
        CAST(grouping(n_name) AS INT) AS g_name
      FROM nation
      GROUP BY GROUPING SETS ((n_regionkey, n_name), (n_regionkey), ())
      ORDER BY g_region, g_name, n_regionkey, n_name"""))

  // ---- q74: unpivot (wide → long) --------------------------------------
  // stack() melts per-column measures into (metric, value) rows — the
  // inverse of q23's pivot; the oracle spells the same melt as UNION
  // ALL (engine-neutral).

  private val q74 = GraftQuery(
    "q74_unpivot",
    (s, d) =>
      part(s, d)
        .filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"),
          expr("stack(2, 'retail_price', CAST(p_retailprice AS DOUBLE), " +
            "'size', CAST(p_size AS DOUBLE)) AS (metric, value)"))
        .orderBy(col("p_partkey"), col("metric")),
    Some("""SELECT p_partkey, metric, value FROM (
        SELECT p_partkey, 'retail_price' AS metric,
          CAST(p_retailprice AS DOUBLE) AS value
        FROM part WHERE p_partkey % 50 = 0
        UNION ALL
        SELECT p_partkey, 'size', CAST(p_size AS DOUBLE)
        FROM part WHERE p_partkey % 50 = 0)
      ORDER BY p_partkey, metric"""))

  // ---- q87: native top-k-per-group plan node (W1's scale twin) --------
  // The q07 semantics through the custom TopKPerGroup operator
  // (graft.plans — logical node + injected strategy + two-phase heap
  // physical operator) instead of the window encoding: no per-group
  // full sort, one exchange carrying only per-partition winners. The
  // oracle is the row_number formulation — identical rows prove the
  // operator against the reference semantics; PlanSpec proves the
  // plan shape (heap phases present, Window/Sort absent).

  private val q87 = GraftQuery(
    "q87_native_topk_group",
    (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      graft.plans.TopKPerGroup(base, Seq("o_custkey"),
          Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3 ORDER BY o_custkey, o_orderkey"""))

  // ---- q92: the SQL (table-valued-function) surface for top-k --------
  // Same semantics as q87, reached entirely through SQL: the injected
  // `topk_per_group` TVF (GraftExtensions) plans the native heap node
  // from a plain SELECT — the Athena-layer user never touches Scala.
  // Oracle is the row_number formulation again; PlanSpec pins that
  // this SQL path gets the same heap plan as the DataFrame API.

  private val q92 = GraftQuery(
    "q92_sql_topk",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      // the optional 5th arg asks the heap's final phase to emit the
      // row_number-equivalent rank — oracled against the real thing
      s.sql("""SELECT o_custkey, CAST(rn AS BIGINT) AS rn,
               o_orderkey, o_totalprice
        FROM topk_per_group('orders', 'o_custkey',
                            'o_totalprice DESC, o_orderkey', 3, 'rn')
        ORDER BY o_custkey, o_orderkey""")
    },
    Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3 ORDER BY o_custkey, o_orderkey"""))

  // ---- q94/q95: tie-aware top-k idioms (rank / dense_rank) ------------
  // The hand-written-SQL forms of top-k that keep ties — at least as
  // common as row_number in ad-hoc analytics (it's what a user writes
  // when boundary ties must not be dropped). WindowTopKRewrite plans
  // BOTH through the bounded-heap node with the matching tie contract
  // (RankKind.RankTies / RankKind.Dense) — no per-group full sort.
  // l_quantity is a small-integer domain, so boundary ties are dense:
  // the oracle (DuckDB running the same rank()/dense_rank() SQL)
  // fails loudly if the heap's tie semantics diverge. PlanSpec pins
  // that neither query plans a Window.

  private val q94 = GraftQuery(
    "q94_rank_topk_ties",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
               CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
                rank() OVER (PARTITION BY l_suppkey
                  ORDER BY l_quantity DESC) AS rnk
              FROM lineitem)
        WHERE rnk <= 3
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, rnk FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
          rank() OVER (PARTITION BY l_suppkey
            ORDER BY l_quantity DESC) AS rnk
        FROM lineitem)
      WHERE rnk <= 3 ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  private val q95 = GraftQuery(
    "q95_dense_rank_topk",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
               CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
                dense_rank() OVER (PARTITION BY l_suppkey
                  ORDER BY l_quantity DESC) AS rnk
              FROM lineitem)
        WHERE rnk <= 2
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, rnk FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
          dense_rank() OVER (PARTITION BY l_suppkey
            ORDER BY l_quantity DESC) AS rnk
        FROM lineitem)
      WHERE rnk <= 2 ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  // ---- q177: data-quality constraint report ---------------------------
  // DatasetOps.constraintReport over orders — the ingest expectation
  // gate: four named rules in ONE aggregate pass, two clean and two
  // deliberately tight so nonzero violation counts exercise the ppm
  // arithmetic. The oracle replays each rule with the same fail-closed
  // null semantics and the integer rate division.

  private val q177 = GraftQuery(
    "q177_constraint_report",
    (s, d) => graft.operators.DatasetOps.constraintReport(ord(s, d), Seq(
      "order_key_present" -> col("o_orderkey").isNotNull,
      "price_positive" -> (col("o_totalprice") > 0d),
      "price_under_300k" -> (col("o_totalprice") <= 300000d),
      "status_known" -> col("o_orderstatus").isin("O", "F", "P"))),
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
      u(rule, v) AS (
        SELECT 'order_key_present', v1 FROM a
        UNION ALL SELECT 'price_positive', v2 FROM a
        UNION ALL SELECT 'price_under_300k', v3 FROM a
        UNION ALL SELECT 'status_known', v4 FROM a)
      SELECT u.rule, CAST(a.n AS BIGINT) AS n_rows,
        CAST(coalesce(u.v, 0) AS BIGINT) AS n_violations,
        CAST(CASE WHEN a.n = 0 THEN 0
          ELSE (coalesce(u.v, 0) * 1000000) // a.n END AS BIGINT)
          AS viol_ppm
      FROM u, a ORDER BY u.rule"""))

  // ---- q181: equi-width price histogram -------------------------------
  // DatasetOps.histogram over order totals in exact cents (DECIMAL
  // cast, the q56 money rule — a double→int cast truncates in one
  // engine and rounds in the other, so the fixed-point conversion
  // happens decimal-exactly on both sides). Bounds chosen so BOTH
  // out-of-range bins are exercised at sf0.01.

  private val q181 = GraftQuery(
    "q181_price_histogram",
    (s, d) => graft.operators.DatasetOps.histogram(
      ord(s, d).select(
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents")),
      "cents", nBins = 16, lo = 102000L, hi = 30000000L),
    Some("""WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
          AS BIGINT) AS cents FROM orders),
      b AS (SELECT CASE WHEN cents < 102000 THEN -1
          WHEN cents >= 30000000 THEN 16
          ELSE ((cents - 102000) * 16) // (30000000 - 102000) END AS bin
        FROM c WHERE cents IS NOT NULL)
      SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_rows
      FROM b GROUP BY bin ORDER BY bin"""))

  // ---- q318: VARIANT schema-on-read (the semi-structured tier) ---------
  // Spark 4's VARIANT type applied to the events `props` JSON: the
  // open-content column a 100 TB event stream carries (every producer
  // adds fields; no schema declaration is ever current). parse_json
  // builds the shredded binary encoding ONCE per row; each
  // variant_get decodes only its path — the schema-on-read contract
  // that replaces a per-query from_json with a full StructType. The
  // fixture nests the raw props under richer structure (object,
  // string, array) so typed extraction at depth, 0-based array paths
  // and the try_variant_get null contract (absent path → null, never
  // error) are all gated; the oracle replays every path arithmetically
  // or via DuckDB's own JSON extraction on the same raw column.
  private val q318 = GraftQuery(
    "q318_variant_props",
    (s, d) => {
      val ev = Tables.events(s, d)
      val j = concat(lit("{\"base\":"), col("props"),
        lit(",\"tier\":\""),
        when(col("value") > 50, "high").otherwise("low"),
        lit("\",\"dims\":["), (col("event_id") % 3).cast(StringType),
        lit(","), (col("event_id") % 7).cast(StringType), lit("]}"))
      ev.withColumn("v", parse_json(j))
        .select(col("event_type"),
          variant_get(col("v"), "$.tier", "string").as("tier"),
          variant_get(col("v"), "$.base.k", "bigint").as("k"),
          variant_get(col("v"), "$.dims[1]", "bigint").as("dim1"),
          try_variant_get(col("v"), "$.base.missing", "bigint").as("_m"))
        .groupBy(col("event_type"), col("tier"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          sum(col("dim1")).as("sum_dim1"),
          count(col("_m")).as("n_phantom"))
        .orderBy(col("event_type"), col("tier"))
    },
    Some("""SELECT event_type,
        CASE WHEN value > 50 THEN 'high' ELSE 'low' END AS tier,
        count(*) AS n,
        CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
          AS BIGINT) AS sum_k,
        CAST(sum(event_id % 7) AS BIGINT) AS sum_dim1,
        CAST(0 AS BIGINT) AS n_phantom
      FROM events GROUP BY 1, 2 ORDER BY event_type, tier"""))

  // ---- q328: LATERAL correlated subquery -------------------------------
  // The SQL-surface sibling of the top-1-per-group operators: a
  // per-row correlated derived table (each customer's single largest
  // order) via ANSI LATERAL — the form analysts write when the
  // "group" is the outer row itself. Catalyst decorrelates the
  // LIMIT-ed subquery into a ranked join rather than executing one
  // probe per outer row — the only plan shape that survives a 10^9
  // customer table.
  private val q328 = GraftQuery(
    "q328_lateral_topk",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql("""SELECT c.c_custkey, o.o_orderkey,
          CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
            AS top_price
        FROM customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        WHERE c.c_custkey % 10 = 0
        ORDER BY c.c_custkey""")
    },
    Some("""SELECT c.c_custkey, o.o_orderkey,
        CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
          AS top_price
      FROM customer c JOIN LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o ON true
      WHERE c.c_custkey % 10 = 0
      ORDER BY c.c_custkey"""))

  // ---- q329: try_* error-tolerance battery -----------------------------
  // Spark 4 runs ANSI by default: a bad cast or a zero divisor is a
  // query-killing error unless the ingestion layer opts into the
  // try_ family — which is exactly what a pipeline fed by untrusted
  // JSONL does. The fixture plants both legs per row class: a
  // non-numeric string reaching try_cast, a zero divisor reaching
  // try_divide; nulls are counted, never thrown. Non-zero divisors
  // are POWERS OF TWO so every quotient and the grouped sums are
  // IEEE-exact (order-independent across Spark's partial aggregation
  // vs DuckDB's sequential scan — the q84 sqrt argument). The oracle
  // replays with DuckDB's TRY_CAST and an explicit zero-divisor CASE.
  private val q329 = GraftQuery(
    "q329_try_family",
    (s, d) => {
      val ev = Tables.events(s, d)
      val raw = when(col("event_id") % 9 === 0, lit("not-a-number"))
        .otherwise(get_json_object(col("props"), "$.k"))
      val divisor = when(col("event_id") % 7 === 0, lit(0L))
        .when(col("event_id") % 3 === 0, lit(1L))
        .when(col("event_id") % 3 === 1, lit(2L))
        .otherwise(lit(4L))
      ev.select(col("event_type"),
          raw.try_cast(IntegerType).as("k_int"),
          try_divide(lit(1000L), divisor).as("q"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("k_int")).as("n_cast_ok"),
          sum(col("k_int")).cast(LongType).as("k_sum"),
          count(col("q")).as("n_div_ok"),
          sum(col("q")).cast(LongType).as("q_sum"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
        count(k_int) AS n_cast_ok,
        CAST(sum(k_int) AS BIGINT) AS k_sum,
        count(q) AS n_div_ok,
        CAST(sum(q) AS BIGINT) AS q_sum
      FROM (
        SELECT event_type,
          TRY_CAST(CASE WHEN event_id % 9 = 0 THEN 'not-a-number'
            ELSE json_extract_string(props, '$.k') END AS INT) AS k_int,
          CASE WHEN event_id % 7 = 0 THEN NULL
            WHEN event_id % 3 = 0 THEN 1000.0
            WHEN event_id % 3 = 1 THEN 500.0
            ELSE 250.0 END AS q
        FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  // ---- q331: parameterized SQL (named-argument binding) ----------------
  // Spark 4's `spark.sql(text, args)` named-parameter surface — the
  // injection-safe route an application layer actually uses (string
  // interpolation into SQL text is the classic injection and
  // plan-cache-miss source; bound parameters keep one parse/plan
  // shape per statement). Two typed parameters (numeric threshold,
  // date cutoff) bound into a grouped DECIMAL-exact revenue census.
  private val q331 = GraftQuery(
    "q331_parameterized_sql",
    (s, d) => {
      Tables.registerAllOnce(s, d)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
            AS revenue
        FROM orders
        WHERE o_totalprice > :minPrice AND o_orderdate < :cutoff
        GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        Map("minPrice" -> Int.box(150000),
          "cutoff" -> "1996-01-01"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
          AS revenue
      FROM orders
      WHERE o_totalprice > 150000 AND o_orderdate < '1996-01-01'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  def all: Seq[GraftQuery] =
    Seq(q56, q57, q58, q59, q61, q62, q70, q72, q73, q74, q87, q92, q94,
      q95, q177, q181, q318, q328, q329, q331)
}
