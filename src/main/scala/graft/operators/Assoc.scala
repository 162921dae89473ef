package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association-rule mining at the item-pair level
  * (Agrawal & Srikant, VLDB '94 — the A-priori support/confidence/lift
  * measures; pair-level enumeration is the distributed FP-growth
  * fallback every SQL engine uses).
  *
  * Determinism contract: every measure is INTEGER arithmetic —
  * `support_ppm = (10^6·n_ab) div n_baskets`,
  * `conf = (10^6·n_ab) div n_a`,
  * `lift_micro = (10^6·n_ab·n_baskets) div (n_a·n_b)` — positive
  * floor-division only, so an independent SQL engine replays every row
  * bit-for-bit. (At counts where `10^6·n_ab·n_baskets` would exceed
  * int64 — n_ab·n_baskets > ~9·10^12 — switch the lift numerator to
  * DECIMAL(38,0); the gate corpus stays far below it.)
  *
  * Scale shape: one distinct over (basket, item), then a self-join
  * co-partitioned on `basket` — pair fan-out is B·(B−1)/2 per basket,
  * bounded by `maxBasketSize` (pathological mega-baskets are dropped
  * from the analysis deterministically, the same skew discipline as
  * `Dedup.candidatePairs`' maxBucketSize). The basket-count and
  * item-count rollups stay in-plan as aggregates (no driver collect),
  * so the whole rule table is a single declarative DAG Catalyst can
  * pipeline; the item-pair aggregation gets map-side partial counts.
  */
object Assoc {

  /** Distinct (basket, item) pairs from baskets of ≤ `maxBasketSize`
    * distinct items. */
  def cappedItems(
      baskets: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val it = baskets
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
    // size-cap as a window count over `basket`. The distinct hash-
    // partitions on (basket, item) so the window still adds its own
    // basket-keyed exchange — the win over the aggregate+join form is
    // SINGLE CONSUMPTION of `it` (the old shape fed it to both the
    // groupBy-count rollup and the join probe side, re-deriving the
    // distinct per consumer), not exchange sharing. Interleaved A/B at
    // sf0.1 (OPTIMIZATION_r19 `assoc`, hash-identical): wins every rep,
    // ~15-30%. The window is basket-partitioned (bounded groups),
    // never corpus-wide.
    it.withColumn("_bsize", count(lit(1)).over(Window.partitionBy("basket")))
      .filter(col("_bsize") <= maxBasketSize)
      .select("basket", "item")
  }

  /** Association rules over every item pair co-occurring in
    * ≥ `minPairCount` baskets. One row per unordered pair (a < b) with
    * both rule directions' confidence:
    * `(item_a, item_b, n_ab, n_a, n_b, support_ppm, conf_ab_ppm,
    * conf_ba_ppm, lift_micro)`. */
  def rules(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L, maxBasketSize: Int = 64): DataFrame = {
    require(minPairCount >= 1L, "minPairCount >= 1")
    require(maxBasketSize >= 2, "maxBasketSize >= 2")
    // ok feeds 4 consumers (n_baskets, item counts, both self-join
    // sides): localCheckpoint so the distinct + size-cap join run once
    val ok = cappedItems(baskets, basketCol, itemCol, maxBasketSize)
      .localCheckpoint()
    // basket universe and per-item counts as in-plan 1-row / item-sized
    // aggregates (cross-joined, not collected — the collocations shape)
    val nb = ok.agg(countDistinct("basket").as("n_baskets"))
    val ic = ok.groupBy("item").agg(count(lit(1)).as("n"))
    val pc = ok.select(col("basket"), col("item").as("item_a"))
      .join(ok.select(col("basket"), col("item").as("item_b")), "basket")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pc
      .join(ic.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(ic.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .crossJoin(broadcast(nb))
      .select(
        col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST((1000000L * n_ab) div n_baskets AS BIGINT)").as("support_ppm"),
        expr("CAST((1000000L * n_ab) div n_a AS BIGINT)").as("conf_ab_ppm"),
        expr("CAST((1000000L * n_ab) div n_b AS BIGINT)").as("conf_ba_ppm"),
        expr("CAST((1000000L * n_ab * n_baskets) div (n_a * n_b) AS BIGINT)")
          .as("lift_micro"))
  }
}
