package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Hierarchy flattening — the classic warehouse recursive shape (org
  * charts, bill-of-materials, category trees): given child→parent
  * edges, resolve every node's ROOT ancestor and its depth.
  *
  * The naive translation iterates one parent-hop per round — O(depth)
  * joins. This operator uses POINTER DOUBLING (path halving): each
  * round joins the current ancestor table to itself, so the resolved
  * distance doubles per round and a depth-d forest settles in ⌈log₂ d⌉
  * self-joins — 20 rounds cover a million-level chain; each round is
  * one co-partitioned self-join at node grain with a localCheckpoint
  * lineage pin (the X7/X44 loop discipline).
  *
  * Contract: edges are (child, parent) with at most one parent per
  * child (a forest — enforced); roots are nodes that never appear as a
  * child, or whose parent is null, or are their own parent. Cycles
  * (not a forest) would never settle; the loop therefore stops when
  * every row is settled OR the doubling exceeds `maxDepthLog2`, and
  * throws on leftover unsettled rows rather than silently mislabeling.
  */
object Hierarchy {

  /** (node, root, depth BIGINT): every node of the forest with its
    * root ancestor and hop count to it (roots: depth 0, root = node).
    */
  def flattenToRoot(edges: DataFrame, child: String, parent: String,
                    maxDepthLog2: Int = 40): DataFrame = Pin.scope { pin =>
    val e = pin(edges.select(col(child).as("node"), col(parent).as("par"))
      .filter(col("node").isNotNull))
    val dupCheck = e.groupBy(col("node")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).count()
    require(dupCheck == 0, "not a forest: a child has multiple parents")
    // Universe: children ∪ parents. Initial ancestor pointer: the
    // parent (distance 1), or self for roots (settled immediately).
    val nodes = e.select(col("node"))
      .unionByName(e.select(col("par").as("node")))
      .filter(col("node").isNotNull).distinct()
    var cur = nodes.join(e, Seq("node"), "left")
      .select(col("node"),
        when(col("par").isNull || col("par") === col("node"),
          col("node")).otherwise(col("par")).as("anc"),
        when(col("par").isNull || col("par") === col("node"), lit(0L))
          .otherwise(lit(1L)).as("depth"),
        (col("par").isNull || col("par") === col("node")).as("settled"))
      .localCheckpoint()
    var round = 0
    var done = cur.filter(!col("settled")).limit(1).count() == 0
    while (!done && round < maxDepthLog2) {
      // Join each unsettled node's ancestor to THAT ancestor's row:
      // distance doubles (or settles when the ancestor is settled).
      val anc = cur.select(col("node").as("anc"),
        col("anc").as("anc2"), col("depth").as("d2"),
        col("settled").as("s2"))
      cur = cur.join(anc, Seq("anc"), "left")
        .select(col("node"),
          when(col("settled"), col("anc"))
            .otherwise(coalesce(col("anc2"), col("anc"))).as("anc"),
          when(col("settled"), col("depth"))
            .otherwise(col("depth") + coalesce(col("d2"), lit(0L)))
            .as("depth"),
          (col("settled") || coalesce(col("s2"), lit(true))).as("settled"))
        .localCheckpoint()
      done = cur.filter(!col("settled")).limit(1).count() == 0
      round += 1
    }
    require(done, s"hierarchy did not settle in 2^$maxDepthLog2 hops " +
      "— cycle in the input?")
    cur.select(col("node").as(child), col("anc").as("root"),
      col("depth"))
  }
}
