package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Articulation points and bridges (X269/X270) — the single points of
  * failure of an undirected graph: vertices/edges whose removal
  * disconnects a component. One iterative (stack-safe) Hopcroft–Tarjan
  * DFS computes disc/low for every vertex, from which both readouts
  * fall out in O(V + E):
  *
  *  - non-root v is an articulation point iff some DFS child c has
  *    low(c) ≥ disc(v); the root iff it has ≥ 2 DFS children. The
  *    number of pieces v's component shatters into is 1 + (#children
  *    with low ≥ disc) for a non-root, #children for the root — so
  *    components_if_removed is exact, not just a boolean.
  *  - tree edge (v, c) is a bridge iff low(c) > disc(v); non-tree
  *    (back) edges are never bridges.
  *
  * Like [[Centrality.betweennessCentrality]], the graph is collected
  * to the driver under an explicit dimension-bounded contract (the
  * operator exists for top-N / entity graphs, not fact-scale edges) —
  * a `require` fails fast with the cap message instead of letting a
  * fact-scale edge list OOM the driver. Self-loops are dropped and
  * parallel/bidirectional edges collapse to one undirected edge before
  * any analysis (reference: co-expression graphs in
  * pipeline2.py build_network are undirected and simple).
  */
object Cut {

  /** (sorted node array, adjacency by index) of the collapsed simple
    * undirected graph, driver-side, size-guarded. */
  private def collect(edges: DataFrame, srcCol: String, dstCol: String,
                      maxDriverNodes: Long, maxDriverEdges: Long)
      : (Array[String], Array[Array[Int]]) = {
    val und = edges
      .select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val collected = DriverCollect.ifFits(und, maxDriverEdges)
    require(collected.isDefined,
      s"Cut: the undirected edges exceed the driver-collectable " +
        s"contract ($maxDriverEdges); this operator collects the " +
        "adjacency — reduce the graph (top-N edges) or raise the cap")
    val es = collected.get.map(r => (r.getString(0), r.getString(1)))
    val ns = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    require(ns.length <= maxDriverNodes,
      s"Cut: ${ns.length} nodes exceed the driver-collectable " +
        s"contract ($maxDriverNodes)")
    val idx = ns.zipWithIndex.toMap
    val adj = Array.fill(ns.length)(mutable.ArrayBuffer.empty[Int])
    es.foreach { case (a, b) =>
      adj(idx(a)) += idx(b); adj(idx(b)) += idx(a)
    }
    (ns, adj.map(_.sorted.toArray))
  }

  /** disc/low arrays + per-vertex piece count + bridge list from one
    * iterative DFS over every component (deterministic: roots and
    * neighbors visited in sorted-node order). Returns (pieces per
    * vertex if removed, bridges as (minIdx, maxIdx), component
    * count). */
  private def tarjan(n: Int, adj: Array[Array[Int]])
      : (Array[Int], Seq[(Int, Int)], Int) = {
    val disc = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val parent = Array.fill(n)(-1)
    val splitChildren = new Array[Int](n) // children with low >= disc
    val children = new Array[Int](n)
    val bridges = mutable.ArrayBuffer.empty[(Int, Int)]
    var timer = 0
    var comps = 0
    val isRoot = new Array[Boolean](n)
    var r = 0
    while (r < n) {
      if (disc(r) == -1) {
        comps += 1
        isRoot(r) = true
        // explicit stack of (vertex, next-neighbor cursor)
        val stack = mutable.ArrayBuffer((r, 0))
        disc(r) = timer; low(r) = timer; timer += 1
        while (stack.nonEmpty) {
          val (v, ci) = stack.last
          if (ci < adj(v).length) {
            stack(stack.length - 1) = (v, ci + 1)
            val w = adj(v)(ci)
            if (disc(w) == -1) {
              parent(w) = v
              children(v) += 1
              disc(w) = timer; low(w) = timer; timer += 1
              stack += ((w, 0))
            } else if (w != parent(v)) {
              low(v) = math.min(low(v), disc(w))
            }
          } else {
            stack.remove(stack.length - 1)
            val p = parent(v)
            if (p >= 0) {
              low(p) = math.min(low(p), low(v))
              if (low(v) >= disc(p)) splitChildren(p) += 1
              if (low(v) > disc(p)) bridges += ((math.min(p, v),
                math.max(p, v)))
            }
          }
        }
      }
      r += 1
    }
    val pieces = Array.tabulate(n) { v =>
      if (adj(v).isEmpty) 0
      else if (isRoot(v)) children(v)
      else 1 + splitChildren(v)
    }
    (pieces, bridges.toSeq, comps)
  }

  /** Per-node articulation readout: (node, degree BIGINT,
    * components_if_removed BIGINT — component count of the WHOLE graph
    * with this node deleted — is_articulation BOOLEAN). Isolated-node
    * removal lowers the count (never articulation); leaf removal
    * preserves it. */
  def articulationPoints(edges: DataFrame, srcCol: String,
                         dstCol: String,
                         maxDriverNodes: Long = 2000000L,
                         maxDriverEdges: Long = 20000000L): DataFrame = {
    val spark = edges.sparkSession
    val (ns, adj) = collect(edges, srcCol, dstCol, maxDriverNodes,
      maxDriverEdges)
    val (pieces, _, comps) = tarjan(ns.length, adj)
    import spark.implicits._
    ns.indices.map { v =>
      val after = comps - 1 + pieces(v)
      (ns(v), adj(v).length.toLong, after.toLong, after > comps)
    }.toDF("node", "degree", "components_if_removed", "is_articulation")
  }

  /** Per-undirected-edge bridge readout over the collapsed simple
    * graph: (src, dst, is_bridge) with src < dst canonical order. */
  def bridgeEdges(edges: DataFrame, srcCol: String, dstCol: String,
                  maxDriverNodes: Long = 2000000L,
                  maxDriverEdges: Long = 20000000L): DataFrame = {
    val spark = edges.sparkSession
    val (ns, adj) = collect(edges, srcCol, dstCol, maxDriverNodes,
      maxDriverEdges)
    val (_, bridges, _) = tarjan(ns.length, adj)
    val bset = bridges.toSet
    import spark.implicits._
    val rows = for {
      v <- ns.indices
      w <- adj(v) if v < w
    } yield (ns(v), ns(w), bset.contains((v, w)))
    rows.toDF("src", "dst", "is_bridge")
  }
}
