package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Strongly connected components of a DIRECTED graph — the missing
  * directed sibling of [[graft.dedup.Dedup.connectedComponents]]
  * (undirected): node v and u share a component iff each reaches the
  * other. Labels are the MINIMUM node id in the component (the CC
  * convention, so downstream group-bys read the same way).
  *
  * Size dispatch, the pageRank/CC precedent:
  *  - under the driver thresholds, iterative Tarjan (explicit stack —
  *    no recursion, so a 2M-node path graph cannot overflow) runs the
  *    whole thing in one job's worth of work;
  *  - above them, the Orzan coloring algorithm runs distributed:
  *    propagate max id forward to a fixed point (the color), take the
  *    color roots, walk BACKWARD from each root inside its own color
  *    to collect that root's SCC, remove, repeat. Every step is a
  *    keyed join + aggregate; no driver-side graph. Rounds needed is
  *    bounded by the condensation's depth; `maxRounds` caps a
  *    pathological chain (then the REMAINING nodes would come back
  *    unlabeled — so the loop throws instead of returning silently
  *    wrong labels).
  */
object Scc {

  /** (node BIGINT, component BIGINT = min node id of its SCC). `nodes`
    * has column `node`; `edges` (src, dst) directed. */
  def components(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                 driverNodeThreshold: Long = graft.util.Dispatch.threshold(2000000L),
                 driverEdgeThreshold: Long = graft.util.Dispatch.threshold(20000000L),
                 maxRounds: Int = 50): DataFrame =
    DriverCollect.ifFits(
        nodes.select(col("node").cast("long")).distinct(),
        driverNodeThreshold,
        edges.select(col("src").cast("long"), col("dst").cast("long"))
          .distinct(), driverEdgeThreshold) match {
      case Some((nodeRows, edgeRows)) =>
        tarjanDriver(spark, nodeRows, edgeRows)
      case None => coloringDistributed(spark, nodes, edges, maxRounds)
    }

  /** Iterative Tarjan (explicit work stack; lowlink via the standard
    * two-phase visit) over the collected distinct (node) and
    * (src, dst) rows. */
  private def tarjanDriver(spark: SparkSession, nodeRows: Array[Row],
                           edgeRows: Array[Row]): DataFrame = {
    val ns = nodeRows.map(_.getLong(0)).sorted
    val idx = ns.zipWithIndex.toMap
    val n = ns.length
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    edgeRows.foreach { r =>
      (idx.get(r.getLong(0)), idx.get(r.getLong(1))) match {
        case (Some(u), Some(v)) if u != v => adj(u) += v
        case _ => ()
      }
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    val comp = new Array[Long](n)
    var counter = 0
    // work-stack frames: (vertex, next-child pointer)
    val work = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var root = 0
    while (root < n) {
      if (index(root) < 0) {
        work += ((root, 0))
        while (work.nonEmpty) {
          val (v, ci) = work.remove(work.length - 1)
          if (ci == 0) {
            index(v) = counter; low(v) = counter; counter += 1
            stack += v; onStack(v) = true
          }
          var i = ci
          var descended = false
          while (i < adj(v).length && !descended) {
            val w = adj(v)(i)
            if (index(w) < 0) {
              work += ((v, i + 1)); work += ((w, 0)); descended = true
            } else {
              if (onStack(w)) low(v) = math.min(low(v), index(w))
              i += 1
            }
          }
          if (!descended) {
            if (low(v) == index(v)) {
              // pop the SCC; label with its min node id
              var j = stack.length - 1
              var cut = j
              while (stack(cut) != v) cut -= 1
              var mn = Long.MaxValue
              j = cut
              while (j < stack.length) {
                mn = math.min(mn, ns(stack(j))); j += 1
              }
              j = cut
              while (j < stack.length) {
                comp(stack(j)) = mn; onStack(stack(j)) = false; j += 1
              }
              stack.remove(cut, stack.length - cut)
            }
            // propagate lowlink to the parent frame, if any
            if (work.nonEmpty) {
              val (p, pi) = work(work.length - 1)
              low(p) = math.min(low(p), low(v))
              work(work.length - 1) = (p, pi)
            }
          }
        }
      }
      root += 1
    }
    import spark.implicits._
    ns.indices.map(i => (ns(i), comp(i))).toDF("node", "component")
      .orderBy(col("node"))
  }

  /** Orzan forward-color / backward-collect rounds, fully distributed. */
  private def coloringDistributed(spark: SparkSession, nodes: DataFrame,
                                  edges: DataFrame,
                                  maxRounds: Int): DataFrame = Pin.scope { pin =>
    val e0 = pin(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct())
    var active = nodes.select(col("node").cast("long")).distinct()
      .localCheckpoint()
    var result: DataFrame = null
    var round = 0
    while (active.limit(1).count() > 0) {
      require(round < maxRounds,
        s"Scc: $maxRounds coloring rounds exhausted with nodes left — " +
          "raise maxRounds (condensation deeper than expected)")
      val eA = e0.join(active.select(col("node").as("src")), Seq("src"))
        .join(active.select(col("node").as("dst")), Seq("dst"))
        .select(col("src"), col("dst")).localCheckpoint()
      // forward max-propagation to fixed point: color(v) ≥ color(u) ∀ u→v
      var color = active.select(col("node"), col("node").as("color"))
        .localCheckpoint()
      var changed = 1L
      while (changed > 0) {
        val pushed = color.join(eA, color("node") === eA("src"))
          .groupBy(col("dst").as("node"))
          .agg(max(col("color")).as("__in"))
        val next = color.join(pushed, Seq("node"), "left")
          .select(col("node"),
            greatest(col("color"), coalesce(col("__in"), col("color")))
              .as("color"))
          .localCheckpoint()
        changed = next.join(color.select(col("node"),
            col("color").as("__old")), Seq("node"))
          .filter(col("color") =!= col("__old")).count()
        color = next
      }
      // backward collect: from each root (color(v) = v), walk reversed
      // edges restricted to the SAME color — the reached set is the SCC
      var scc = color.filter(col("node") === col("color"))
        .select(col("node"), col("color")).localCheckpoint()
      var grew = 1L
      while (grew > 0) {
        val prev = scc.count()
        val step = scc.join(eA, scc("node") === eA("dst"))
          .select(col("src").as("node"), col("color"))
          .join(color.select(col("node"), col("color").as("__c")),
            Seq("node"))
          .filter(col("color") === col("__c"))
          .select(col("node"), col("color"))
        scc = scc.union(step).distinct().localCheckpoint()
        grew = scc.count() - prev
      }
      val labeled = scc.groupBy(col("color"))
        .agg(min(col("node")).as("component"))
        .join(scc, Seq("color"))
        .select(col("node"), col("component"))
      result = if (result == null) labeled.localCheckpoint()
               else result.union(labeled).localCheckpoint()
      active = active.join(scc.select(col("node")), Seq("node"),
        "left_anti").localCheckpoint()
      round += 1
    }
    val out = if (result == null)
      nodes.sparkSession.emptyDataFrame
        .select(lit(0L).as("node"), lit(0L).as("component")).limit(0)
    else result
    out.orderBy(col("node"))
  }
}
