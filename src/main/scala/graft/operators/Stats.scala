package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Seam.Pins

/** Distributed EXACT order statistics over integer-valued columns:
  * global cumulative census, exact quantiles, equi-depth histograms,
  * winsorized moments.
  *
  * Why not `ntile`/one big window: an exact global rank is a total
  * order, and the naive formulation (`Window.orderBy(v)` with no
  * partition) funnels the whole table through ONE task — the q130
  * anti-pattern. This module's shape instead:
  *
  *   1. census: `groupBy(value) → count` — map-side combine collapses
  *      each partition to its distinct values before the one shuffle;
  *      for bounded integer domains (cents, sizes, token counts) the
  *      census is orders of magnitude smaller than the table;
  *   2. coarse bucket per distinct value, computed FROM THE VALUE
  *      (min/max scaled, decimal-exact) — deterministic under
  *      recomputation, unlike `spark_partition_id()` after a sampled
  *      `repartitionByRange`;
  *   3. per-bucket prefix sums — parallel windows, one per bucket;
  *   4. bucket offsets: an exclusive prefix over ≤ `coarseBuckets`
  *      bucket totals, computed as a triangular self-join (B² pairs,
  *      a CONSTANT ≤ ~10⁶, fully parallel — no global window, so the
  *      planscan audit stays clean), broadcast back;
  *   5. global cum = bucket offset + local prefix.
  *
  * Everything through the quantile pick is integer/decimal-exact, so
  * the DuckDB oracles replay it bit-for-bit with a plain cumulative
  * window (single-node DuckDB has no skew concern).
  *
  * Values must be integral (LongType after the caller's decimal-cents
  * conversion — the q56 money rule). Nulls are excluded from the
  * census, matching SQL aggregate semantics.
  */
object Stats {

  private val D = DecimalType(38, 0)

  /** Distinct-value census with exact global cumulative counts.
    * Output: (v, cnt, cum) where cum = #rows with value ≤ v. */
  def cumulativeValueCensus(df: DataFrame, valueCol: String,
                            coarseBuckets: Int = 1024): DataFrame = {
    require(coarseBuckets > 0, s"coarseBuckets must be > 0")
    // census materialized ONCE (r17): bounds, the bucket projection
    // and the bucket totals each reference this frame, and every
    // reference re-derived the caller's WHOLE input pipeline — the
    // r17 plan audit counted the source scan 10× in q201's plan and
    // 50× in q228's (each quantile consumer compounds the multiplier;
    // guide §2.4). The census is distinct-value-sized — bounded by
    // the module contract (integer domains), never corpus-sized
    val census = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast(LongType).as("v"))
      .agg(count(lit(1)).as("cnt"))
      .pinLazy()
    val bounds = census.agg(min("v").as("_lo"), max("v").as("_hi"))
    // decimal-exact scaling: ((v - lo) * B) / (hi - lo + 1) — never
    // overflows long even for full-range values
    val withB = census.crossJoin(broadcast(bounds))
      .withColumn("_cb",
        floor((col("v").cast(D) - col("_lo").cast(D)) * lit(coarseBuckets)
          / (col("_hi").cast(D) - col("_lo").cast(D) + 1))
          .cast(LongType))
      .drop("_lo", "_hi")
    val wLocal = Window.partitionBy(col("_cb")).orderBy(col("v"))
    val local = withB.withColumn("_local", sum("cnt").over(wLocal))
    // exclusive bucket offsets WITHOUT a global window (the planscan
    // audit rightly flags those): a triangular self-join over the
    // ≤ coarseBuckets bucket totals — B² is a constant ≤ ~10⁶ pairs,
    // fully parallel, and keeps the whole operator window-clean
    // except the per-bucket locals
    val totals = withB.groupBy("_cb").agg(sum("cnt").as("_bt"))
    val below = totals.select(col("_cb").as("_cbb"), col("_bt").as("_btb"))
    val offsets = totals.join(broadcast(below), col("_cbb") < col("_cb"),
        "left")
      .groupBy("_cb")
      .agg(coalesce(sum("_btb"), lit(0L)).as("_off"))
    local.join(broadcast(offsets), Seq("_cb"))
      .select(col("v"), col("cnt"),
        (col("_local") + col("_off")).as("cum"))
  }

  /** Exact quantiles at ppm probes (500000 = median). For each probe,
    * rank = ceil(q_ppm · N / 10⁶) and the result is the smallest
    * value whose cumulative count reaches that rank — a definition
    * (not a library's) so any engine can replay it. Output:
    * (q_ppm, rank_, value), ordered by q_ppm. */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     qPpms: Seq[Long],
                     coarseBuckets: Int = 1024): DataFrame = {
    require(qPpms.nonEmpty && qPpms.forall(q => q > 0 && q <= 1000000L),
      s"q_ppm probes must be in (0, 1000000]")
    val spark = df.sparkSession
    val cum = cumulativeValueCensus(df, valueCol, coarseBuckets)
    val n = cum.agg(sum("cnt").as("_n"))
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(qPpms.map(Tuple1(_)), 1)
    ).toDF("q_ppm")
      .crossJoin(broadcast(n))
      // ceil(q·N/1e6) in exact decimal: (q·N + 999999) div 1e6
      // floor, NOT a decimal down-cast: Spark's decimal cast rounds
      // HALF_UP while the oracle's `//` floors — they differ whenever
      // the quotient's fraction reaches .5
      .withColumn("rank_",
        floor((col("q_ppm").cast(D) * col("_n").cast(D) + 999999)
          / 1000000).cast(LongType))
      .drop("_n")
    cum.join(broadcast(probes), cum("cum") >= probes("rank_"))
      .groupBy(col("q_ppm"), col("rank_"))
      .agg(min("v").as("value"))
      .orderBy("q_ppm")
  }

  /** Per-GROUP cumulative census — [[cumulativeValueCensus]] with a
    * group key threaded through every stage: census on (grp, v),
    * per-group value-derived coarse buckets (bounds joined on the
    * group key — AQE-splittable, never broadcast-assumed: the group
    * count is unbounded in general), per-(grp, bucket) prefix
    * windows, triangular offset join WITHIN each group. Output:
    * (grp, v, cnt, cum). */
  def groupedCumulativeCensus(df: DataFrame, grpCol: String,
                              valueCol: String,
                              coarseBuckets: Int = 1024): DataFrame = {
    require(coarseBuckets > 0, s"coarseBuckets must be > 0")
    // materialized once — the cumulativeValueCensus rationale, per
    // group (r17): (grp, value)-census-sized by the module contract
    val census = df
      .filter(col(valueCol).isNotNull && col(grpCol).isNotNull)
      .groupBy(col(grpCol).as("grp"),
        col(valueCol).cast(LongType).as("v"))
      .agg(count(lit(1)).as("cnt"))
      .pinLazy()
    val bounds = census.groupBy("grp")
      .agg(min("v").as("_lo"), max("v").as("_hi"))
    val withB = census.join(bounds, Seq("grp"))
      .withColumn("_cb",
        floor((col("v").cast(D) - col("_lo").cast(D)) * lit(coarseBuckets)
          / (col("_hi").cast(D) - col("_lo").cast(D) + 1))
          .cast(LongType))
      .drop("_lo", "_hi")
    val wLocal = Window.partitionBy(col("grp"), col("_cb"))
      .orderBy(col("v"))
    val local = withB.withColumn("_local", sum("cnt").over(wLocal))
    val totals = withB.groupBy("grp", "_cb").agg(sum("cnt").as("_bt"))
    val below = totals.select(col("grp").as("_grpb"),
      col("_cb").as("_cbb"), col("_bt").as("_btb"))
    val offsets = totals.join(below,
        col("_grpb") === col("grp") && col("_cbb") < col("_cb"), "left")
      .groupBy("grp", "_cb")
      .agg(coalesce(sum("_btb"), lit(0L)).as("_off"))
    local.join(offsets, Seq("grp", "_cb"))
      .select(col("grp"), col("v"), col("cnt"),
        (col("_local") + col("_off")).as("cum"))
  }

  /** Per-group exact quantiles — the per-service latency-percentile
    * board shape. Same rank definition as [[exactQuantiles]], applied
    * within each group. Output: (grp, q_ppm, rank_, value) ordered by
    * (grp, q_ppm). */
  def groupedExactQuantiles(df: DataFrame, grpCol: String,
                            valueCol: String, qPpms: Seq[Long],
                            coarseBuckets: Int = 1024): DataFrame = {
    require(qPpms.nonEmpty && qPpms.forall(q => q > 0 && q <= 1000000L),
      s"q_ppm probes must be in (0, 1000000]")
    val cum = groupedCumulativeCensus(df, grpCol, valueCol,
      coarseBuckets)
    val ns = cum.groupBy("grp").agg(sum("cnt").as("_n"))
    val qlits = array(qPpms.map(q => lit(q)): _*)
    val probes = ns
      .select(col("grp").as("_grpq"), explode(qlits).as("q_ppm"),
        col("_n"))
      .withColumn("rank_",
        floor((col("q_ppm").cast(D) * col("_n").cast(D) + 999999)
          / 1000000).cast(LongType))
      .drop("_n")
    cum.join(probes,
        col("_grpq") === col("grp") && cum("cum") >= probes("rank_"))
      .groupBy(col("grp"), col("q_ppm"), col("rank_"))
      .agg(min("v").as("value"))
      .orderBy("grp", "q_ppm")
  }

  /** Equi-depth histogram with k buckets. Each DISTINCT value lands
    * whole in the bucket of its first row (rank cum−cnt), so bucket
    * populations are as even as duplicate mass allows while bucket
    * ranges stay disjoint in value space. Output per non-empty
    * bucket: (bucket, lo, hi, n_rows). */
  def equiDepthHistogram(df: DataFrame, valueCol: String, k: Int,
                         coarseBuckets: Int = 1024): DataFrame = {
    require(k > 0, "k must be > 0")
    val cum = cumulativeValueCensus(df, valueCol, coarseBuckets)
    val n = cum.agg(sum("cnt").as("_n"))
    cum.crossJoin(broadcast(n))
      .withColumn("bucket",
        floor((col("cum").cast(D) - col("cnt").cast(D)) * k
          / col("_n").cast(D)).cast(LongType))
      .groupBy("bucket")
      .agg(min("v").as("lo"), max("v").as("hi"),
        sum("cnt").as("n_rows"))
      .orderBy("bucket")
  }

  /** Long-format numeric profiler — the "describe this table" read a
    * data platform runs when a dataset lands: per column, non-null
    * count, distinct count, min, max and the exact median, as
    * (column_, stat, value) rows. One aggregate pass plus one
    * [[exactQuantiles]] chain per column (columns are few; each
    * chain is the distributed-census shape), plus a table row-count
    * row. A column whose values are ALL null contributes its
    * aggregate stats but no p50 row (there is no median of nothing).
    * Values must be integral — the caller pre-projects decimal
    * conversions (the cents rule). */
  def profile(df: DataFrame, cols: Seq[String],
              coarseBuckets: Int = 1024): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val perCol = cols.map { c =>
      val base = df.select(col(c).cast(LongType).as("v"))
      val agg = base.agg(
          count(col("v")).as("n_nonnull"),
          countDistinct(col("v")).as("n_distinct"),
          min("v").as("min_"), max("v").as("max_"))
        .selectExpr(s"'$c' AS column_",
          """stack(4, 'n_nonnull', n_nonnull, 'n_distinct', n_distinct,
            'min', min_, 'max', max_) AS (stat, value)""")
      val med = exactQuantiles(base, "v", Seq(500000L), coarseBuckets)
        .select(lit(c).as("column_"), lit("p50").as("stat"),
          col("value"))
      agg.union(med)
    }
    val nRows = df.agg(count(lit(1)).as("value"))
      .select(lit("_table").as("column_"), lit("n_rows").as("stat"),
        col("value"))
    (perCol :+ nRows).reduce(_ union _).orderBy("column_", "stat")
  }

  /** Winsorized mean/stddev: clamp to the [loPpm, hiPpm] exact
    * quantiles, then decimal-exact moment sums (aggregation-order-
    * independent), final division/sqrt in double with fixed rounding.
    * Output one row: (n_rows, lo_clamp, hi_clamp, mean, stddev). */
  def winsorizedStats(df: DataFrame, valueCol: String,
                      loPpm: Long, hiPpm: Long,
                      coarseBuckets: Int = 1024): DataFrame = {
    require(loPpm < hiPpm, s"loPpm must be < hiPpm")
    val clamps = exactQuantiles(df, valueCol, Seq(loPpm, hiPpm),
      coarseBuckets)
      .agg(min(when(col("q_ppm") === loPpm, col("value"))).as("_lo"),
        min(when(col("q_ppm") === hiPpm, col("value"))).as("_hi"))
    val v = col(valueCol).cast(LongType)
    val w = greatest(least(v, col("_hi")), col("_lo")).cast(D)
    df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(clamps))
      .agg(count(lit(1)).as("n_rows"),
        min("_lo").as("lo_clamp"), min("_hi").as("hi_clamp"),
        sum(w).as("_s"), sum(w * w).as("_s2"))
      .select(col("n_rows"), col("lo_clamp"), col("hi_clamp"),
        round(col("_s").cast(DoubleType) / col("n_rows"), 6).as("mean"),
        round(sqrt(
          (col("_s2").cast(DoubleType)
            - col("_s").cast(DoubleType) * col("_s").cast(DoubleType)
              / col("n_rows")) / col("n_rows")), 6).as("stddev"))
  }
}
