package graft.reco

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Item–item collaborative filtering neighbors — the cosine companion
  * to [[MarketBasket.liftPairs]]: over binary basket–item incidence,
  * cosine(i, j) = co(i, j) / √(sup(i)·sup(j)), reported as each item's
  * top-k neighbor list. The Amazon-style "customers who bought X"
  * precompute.
  *
  * Same scale posture as the lift pairs: distinct incidence first,
  * support pruning broadcast BEFORE the per-basket self-join (the
  * candidate generator never sees unfrequent items), supports ride the
  * pair groupBy keys so no re-join, and the top-k is a per-item
  * row_number that WindowGroupLimit pushes ahead of the shuffle.
  * Integer counts → cosine is one double expression both engines
  * compute identically; it is rounded to 6 dp BEFORE ranking, with
  * the neighbor id as tie-break, so the cut is engine-stable. */
object ItemSim {

  /** (item, neighbor, pair_count BIGINT, cosine 6-dp, rk INT): the
    * top-k cosine neighbors of each item with support ≥ minSupport and
    * co-count ≥ minPairCount; both orientations are reported (i's list
    * and j's list each contain the other). */
  def topNeighbors(df: DataFrame, basket: String, item: String,
                   minSupport: Long, minPairCount: Long,
                   k: Int): DataFrame = Pin.scope { pin =>
    require(k >= 1, "k must be >= 1")
    val b = pin(df.select(col(basket).as("__bk"), col(item).as("__it"))
      .distinct())
    val freq = b.groupBy(col("__it")).agg(count(lit(1)).as("__sup"))
      .filter(col("__sup") >= minSupport)
    val pruned = b.join(broadcast(freq), Seq("__it"))
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.__bk") === col("b.__bk") && col("a.__it") < col("b.__it"))
      .groupBy(col("a.__it").as("__i"), col("b.__it").as("__j"),
        col("a.__sup").as("__si"), col("b.__sup").as("__sj"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minPairCount)
    val both = pairs.select(col("__i").as("item"), col("__j").as("neighbor"),
        col("pair_count"), col("__si").as("__sa"), col("__sj").as("__sb"))
      .unionByName(pairs.select(col("__j").as("item"),
        col("__i").as("neighbor"), col("pair_count"),
        col("__sj").as("__sa"), col("__si").as("__sb")))
      .withColumn("cosine", round(col("pair_count").cast("double") /
        sqrt((col("__sa") * col("__sb")).cast("double")), 6))
    val wTop = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor").asc)
    both
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("item"), col("neighbor"), col("pair_count"),
        col("cosine"), col("rk"))
      .localCheckpoint()
  }
}
