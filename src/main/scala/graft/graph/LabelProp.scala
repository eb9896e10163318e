package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Synchronous label propagation community detection (Raghavan et al.
  * 2007, Phys. Rev. E 76): labels start as node ids; each round every
  * node adopts the most frequent label among its neighbors, ties
  * broken by the SMALLEST label (the deterministic variant — the
  * random-order asynchronous original is not reproducible across
  * engines). Fixed iteration count, synchronous updates.
  *
  * Scale shape: one symmetric edge list reused every round; each round
  * is (labels ⋈ edges) → count per (node, label) → one argmax window —
  * two shuffles per round, all keyed by node, and `localCheckpoint`
  * truncates lineage so the loop's plan does not snowball (the
  * PageRank/eigenvector discipline). State is one label per node.
  * Feeds [[Modularity.modularity]] for partition quality.
  */
object LabelProp {

  /** `edges` (src, dst) is canonicalized (undirected, self-loops
    * dropped, deduped). Output: (node, community) after `iters`
    * synchronous rounds; isolated nodes keep their own id (they have
    * no neighbors to vote).
    */
  def propagate(edges: DataFrame, src: String, dst: String,
                iters: Int): DataFrame = Pin.scope { pin =>
    require(iters >= 0, "iters must be non-negative")
    val e = edges.select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val sym = pin(e.union(e.select(col("b").as("a"), col("a").as("b"))))
    val nodes = sym.select(col("a").as("node")).distinct()
    var labels = nodes.withColumn("lbl", col("node")).localCheckpoint()
    var i = 0
    while (i < iters) {
      val votes = sym
        .join(labels.select(col("node").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a").as("node"), col("lbl"))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("__c").desc, col("lbl").asc)
      val winners = votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("lbl"))
      // isolated nodes never appear in votes; keep their current label
      labels = labels.select(col("node"), col("lbl").as("__old"))
        .join(winners, Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("__old")).as("lbl"))
        .localCheckpoint()
      i += 1
    }
    labels.select(col("node"), col("lbl").as("community"))
  }
}
