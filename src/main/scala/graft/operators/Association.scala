package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Seam.Pins

/** Market-basket association mining — the "bought X also bought Y"
  * primitive behind recommendations, substitution detection, and
  * bundling analytics. Kept deliberately relational: counts, two
  * integer divisions, a bounded board — no candidate-generation
  * machinery, because at pair length the Apriori frontier IS just the
  * pair census.
  */
object Association {

  /** The ONE `(basket, item)` dedup every consumer shares,
    * materialized: the pair self-join's two sides, the item census
    * and the basket total each referenced this subtree, and Spark
    * re-derives a DataFrame subtree once per reference — the r16
    * plans showed 3 copies of the scan + distinct exchange in q182
    * and 5 in q186 (guide §2.4: remove shuffles outright).
    * The pin materializes the dedup once; Spark 4 carries
    * the origin plan's stats across the checkpoint, so downstream
    * broadcast decisions are unchanged. */
  private def dedupedBasketItems(baskets: DataFrame, basketCol: String,
                                 itemCol: String): DataFrame =
    baskets.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct().pin()

  /** Directed co-occurrence census `(ante, cons, n_ab)` — the
    * expensive half of rule mining (the basket self-join, fan-out
    * Σ basket_size², the [[Graph.triangleCensus]] wedge argument —
    * bounded by the caller's basket semantics and AQE-splittable on a
    * hot basket). Persist this once and probe with
    * [[associationRulesFromCounts]] — the postings/FromIndex
    * deployment shape; duplicate (basket, item) rows collapse
    * first. */
  def directedPairCounts(baskets: DataFrame, basketCol: String,
                         itemCol: String): DataFrame =
    pairCensus(dedupedBasketItems(baskets, basketCol, itemCol))

  private def pairCensus(bi: DataFrame): DataFrame =
    bi.as("a")
      .join(bi.as("b"),
        col("a._b") === col("b._b") && col("a._i") =!= col("b._i"))
      .groupBy(col("a._i").as("ante"), col("b._i").as("cons"))
      .agg(count(lit(1)).as("n_ab"))

  /** Rules `ante → cons` from a PRE-BUILT directed pair census:
    * support counts, confidence `c(ab)·10⁶ div c(a)` and lift as the
    * STAGED division `conf_ppm·N div c(b)` (the PMI convention — two
    * integer divs, deterministic everywhere, and the staging keeps
    * the product inside int64 up to ~9·10¹² baskets where the naive
    * `c(ab)·N·10⁶` overflows at ~10⁴ baskets × web-scale counts).
    * lift_ppm > 10⁶ means positively associated. `baskets` is still
    * consulted — but only for the item census and the basket total,
    * two map-side-combined aggregates; the quadratic half is the
    * census the caller persisted.
    *
    * Scale shape: support floor prunes BEFORE the census joins; the
    * board is a bounded heap.
    *
    * @return (ante, cons, n_ab, n_a, n_b, conf_ppm, lift_ppm) ordered
    *         by (lift_ppm desc, ante, cons), ≤ topN rows. */
  def associationRulesFromCounts(pairCounts: DataFrame, baskets: DataFrame,
                                 basketCol: String, itemCol: String,
                                 minPairSupport: Long,
                                 topN: Int): DataFrame = {
    require(minPairSupport >= 1L,
      s"minPairSupport must be >= 1, got $minPairSupport")
    require(topN > 0, s"topN must be positive, got $topN")
    rulesFromCounts(pairCounts,
      dedupedBasketItems(baskets, basketCol, itemCol), minPairSupport, topN)
  }

  private def rulesFromCounts(pairCounts: DataFrame, bi: DataFrame,
                              minPairSupport: Long,
                              topN: Int): DataFrame = {
    val total = bi.agg(count_distinct(col("_b")).as("_n"))
    val items = bi.groupBy(col("_i")).agg(count(lit(1)).as("_ni"))
    pairCounts
      .filter(col("n_ab") >= minPairSupport)
      .join(items.select(col("_i").as("ante"), col("_ni").as("n_a")), "ante")
      .join(items.select(col("_i").as("cons"), col("_ni").as("n_b")), "cons")
      .crossJoin(broadcast(total))
      .select(col("ante"), col("cons"), col("n_ab"), col("n_a"),
        col("n_b"), col("_n"),
        expr("(n_ab * 1000000L) div n_a").as("conf_ppm"))
      .withColumn("lift_ppm", expr("(conf_ppm * _n) div n_b"))
      .drop("_n")
      .orderBy(col("lift_ppm").desc, col("ante"), col("cons"))
      .limit(topN)
  }

  /** [[directedPairCounts]] + [[associationRulesFromCounts]] in one
    * call — the ad-hoc tier; repeated mining over the same corpus
    * should persist the census instead. */
  def associationRules(baskets: DataFrame, basketCol: String,
                       itemCol: String, minPairSupport: Long,
                       topN: Int): DataFrame = {
    require(minPairSupport >= 1L,
      s"minPairSupport must be >= 1, got $minPairSupport")
    require(topN > 0, s"topN must be positive, got $topN")
    // ONE materialized dedup feeds the pair census AND the rule
    // censuses (the ad-hoc tier previously derived it 5×)
    val bi = dedupedBasketItems(baskets, basketCol, itemCol)
    rulesFromCounts(pairCensus(bi), bi, minPairSupport, topN)
  }
}
