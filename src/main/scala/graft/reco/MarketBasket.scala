package graft.reco

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Market-basket co-occurrence (bipartite projection) with confidence
  * and lift — the association-rule primitive behind co-purchase
  * recommendations and "items bought together" analytics.
  *
  * The naive projection (self-join baskets on the basket key) is
  * quadratic in basket size and explodes on popular items, so the
  * operator prunes BEFORE pairing, in support order:
  *
  *  1. distinct (basket, item) — repeat purchases within one basket
  *     collapse, so a basket contributes each pair at most once;
  *  2. item-support filter (count of distinct baskets ≥ `minSupport`)
  *     applied via a broadcast semi-side — the frequent-item dimension
  *     is bounded above by |facts| / minSupport rows, which is what
  *     makes the broadcast safe at any corpus size;
  *  3. the per-basket self-join then pairs only frequent items, and the
  *     pair aggregate drops pairs under `minPairCount`.
  *
  * Per-basket pairing cost is quadratic in the basket's FREQUENT-item
  * count only; a hot basket (one order with thousands of distinct
  * frequent items) is the residual skew risk — pass `maxBasketItems`
  * to drop such baskets with a logged count (exactly the hot-document
  * cap of shingle dedup), or length-cap upstream.
  *
  * Plan: one shuffle to distinct the incidence, one broadcast join, one
  * shuffle on the basket key for the pairing, one pair aggregate with
  * map-side partials. The support counts ride the pair groupBy as
  * grouping keys (they are functionally dependent on the item), so no
  * re-join with the frequency table is needed.
  *
  * lift = P(a,b) / (P(a)·P(b)) computed in DOUBLE from the start — at
  * 100 TB, pair_count × n_baskets overflows BIGINT.
  */
object MarketBasket {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Opt-in hot-basket cap: drop baskets whose (support-pruned) item
    * count exceeds `cap`, so one pathological order cannot quadratic
    * a task — the Dedup maxBucket discipline, but as an explicit
    * parameter so the truncation is LOGGED, never silent. The hot
    * baskets are found with one bounded aggregate over the persisted
    * incidence (hot keys are few by definition) and removed with a
    * broadcast anti-join, so the cap adds no extra shuffle. */
  private def capBaskets(pruned: DataFrame, cap: Option[Int],
                         op: String): DataFrame = cap match {
    case Some(c) =>
      val big = pruned.groupBy(col("__bk"))
        .agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > c).select(col("__bk"))
      val nBig = big.count()
      if (nBig > 0) log.warn(
        s"$op: dropped $nBig baskets with more than $c frequent items" +
          " — co-occurrence is uncounted for their members")
      pruned.join(broadcast(big), Seq("__bk"), "left_anti")
    case None => pruned
  }

  /** Frequent co-occurring item pairs with support, confidence and
    * lift. Output: (item_a, item_b, pair_count BIGINT,
    * confidence = P(b|a) rounded 4dp, lift rounded 4dp), item_a < item_b.
    * `maxBasketItems` enables the logged hot-basket cap (see
    * [[capBaskets]]); None (default) leaves every basket in.
    */
  def liftPairs(df: DataFrame, basket: String, item: String,
                minSupport: Long, minPairCount: Long,
                maxBasketItems: Option[Int] = None): DataFrame = Pin.scope { pin =>
    // incidence feeds three consumers (basket count, item support, the
    // two self-join sides) — pin it so the distinct shuffle runs once.
    val b = pin(df.select(col(basket).as("__bk"), col(item).as("__it"))
      .distinct())
    val nBaskets = b.agg(countDistinct(col("__bk")).as("__nb"))
    val freq = b.groupBy(col("__it")).agg(count(lit(1)).as("__sup"))
      .filter(col("__sup") >= minSupport)
    val pruned = capBaskets(b.join(broadcast(freq), Seq("__it")),
      maxBasketItems, "liftPairs")
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.__bk") === col("b.__bk") && col("a.__it") < col("b.__it"))
      .groupBy(col("a.__it").as("item_a"), col("b.__it").as("item_b"),
        col("a.__sup").as("__sup_a"), col("b.__sup").as("__sup_b"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minPairCount)
    pairs.crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("pair_count"),
        round(col("pair_count").cast("double") / col("__sup_a"), 4)
          .as("confidence"),
        round(col("pair_count").cast("double") * col("__nb") /
          (col("__sup_a").cast("double") * col("__sup_b")), 4).as("lift"))
      .localCheckpoint()
  }

  /** Frequent ordered 3-itemsets with the {a,b}→c rule confidence.
    * Two successive basket self-joins with strict item ordering
    * (a < b < c) emit each combination once; per-basket item counts
    * are caller-bounded (an order has a bounded brand set), so the
    * blow-up is C(k,3) per basket, not quadratic in the table. The
    * support-pruned incidence is persisted once across the three join
    * sides (same discipline as [[liftPairs]]). Output: (item_a,
    * item_b, item_c, triple_count, pair_ab_count,
    * confidence = sup(abc)/sup(ab) 4dp), support-filtered.
    */
  def tripleRules(df: DataFrame, basket: String, item: String,
                  minItemSupport: Long, minTripleCount: Long,
                  maxBasketItems: Option[Int] = None): DataFrame = Pin.scope { pin =>
    val b = pin(df.select(col(basket).as("__bk"), col(item).as("__it"))
      .distinct())
    val freq = b.groupBy(col("__it")).agg(count(lit(1)).as("__sup"))
      .filter(col("__sup") >= minItemSupport)
    val pruned = capBaskets(
      b.join(broadcast(freq.select(col("__it"))), Seq("__it")),
      maxBasketItems, "tripleRules")
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.__bk") === col("b.__bk") && col("a.__it") < col("b.__it"))
      .select(col("a.__bk").as("__bk"), col("a.__it").as("item_a"),
        col("b.__it").as("item_b"))
    val pairCounts = pairs.groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("pair_ab_count"))
    val triples = pairs.as("p")
      .join(pruned.as("c"),
        col("p.__bk") === col("c.__bk") && col("p.item_b") < col("c.__it"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"),
        col("c.__it").as("item_c"))
      .agg(count(lit(1)).as("triple_count"))
      .filter(col("triple_count") >= minTripleCount)
    triples.join(pairCounts, Seq("item_a", "item_b"))
      .select(col("item_a"), col("item_b"), col("item_c"),
        col("triple_count"), col("pair_ab_count"),
        round(col("triple_count").cast("double") / col("pair_ab_count"), 4)
          .as("confidence"))
      .localCheckpoint()
  }
}
