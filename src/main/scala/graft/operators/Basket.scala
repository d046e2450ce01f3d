package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.PairCounts.PairTail

/** Market-basket association mining (Agrawal & Srikant's Apriori pruning,
  * 1994): which item pairs co-occur in the same basket more than chance,
  * with support / confidence / lift — the classic co-occurrence mining
  * query, and (for a training-data pipeline) the template for any
  * "what co-occurs in the same document/session" analysis.
  *
  * Scale discipline — the pair explosion is the whole problem, and the
  * Apriori property is the cure applied BEFORE any pair is formed: on
  * distinct (basket, item) rows a pair's support is at most either item's,
  * so items are pruned to those with support ≥ the pair support first (one
  * bounded aggregate + semi-join). The pairs of the survivors then come
  * from [[PairCounts]] with items as ids and baskets as keys: one task up
  * to its cap, the self-join on the basket key above it — quadratic in the
  * FREQUENT items per basket, not in basket size. All scores are
  * integral-milli from exact counts (lift's `(1000·pair·N) div (sa·sb)` is
  * division-order-pinned), so the whole operator is cross-engine exact.
  */
object Basket {

  /** Frequent co-occurring item pairs over `(orderCol, itemCol)` baskets:
    * one row per unordered pair `a < b` bought together in at least
    * `minPairSup` orders, its item supports, confidence a→b (milli) and
    * lift (milli). Duplicate (order, item) rows collapse first —
    * multiplicity is not co-occurrence — and a null order is no basket.
    * Order keys are integral ([[PairCounts.oneKeyPerRow]]). */
  def frequentPairs(baskets: DataFrame, orderCol: String, itemCol: String,
      minPairSup: Long): DataFrame = {
    require(minPairSup >= 1, s"need minPairSup >= 1, got $minPairSup")
    val b = baskets
      .select(col(orderCol).as("ord"), col(itemCol).as("item"))
      .filter(col("ord").isNotNull)
      .distinct()
      .localCheckpoint(eager = false) // feeds the order count and the prune
    val nOrders = b.agg(countDistinct("ord").as("n_orders"))
    val frequent = b.groupBy("item").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minPairSup)
    val pairs = PairCounts(
      PairCounts.oneKeyPerRow(b.join(frequent, Seq("item"), "left_semi"),
        "item", "ord"),
      PairTail.Support(minPairSup))
    pairs.select(col("a_id").as("a"), col("b_id").as("b"),
        col("i").as("pair_sup"), col("ca").as("sa"), col("cb").as("sb"))
      .crossJoin(broadcast(nOrders))
      .select(col("a"), col("b"), col("pair_sup"), col("sa"), col("sb"),
        expr("(1000 * pair_sup) div sa").as("conf_milli"),
        // DECIMAL(38,0): 10³·pair·N reaches 10²³ at 10¹⁰ orders — int64 wraps
        expr("(1000 * CAST(pair_sup AS DECIMAL(38,0)) * n_orders) " +
          "div (CAST(sa AS DECIMAL(38,0)) * sb)").cast("long")
          .as("lift_milli"))
  }
}
