package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Seeded/attenuated spectral walks: personalized PageRank (random
  * walk with restart) and Katz centrality. Both size-dispatch (the
  * [[Centrality.pageRank]] discipline): dimension-bounded graphs run
  * the identical update as an in-memory loop (20 distributed rounds of
  * micro-joins are pure job overhead there), while above the node/edge
  * thresholds the fixed-iteration DataFrame loop keeps edges
  * partitioned — each round one degree-weighted join + aggregate plus
  * (for PPR) a 1-row dangling broadcast, `localCheckpoint` pinning
  * lineage — and never collects the graph.
  */
object Walks {

  /** Personalized PageRank with restart to a single seed:
    * x'(v) = (1−d)·[v = seed] + d·(Σ_{u→v} x(u)/outdeg(u) +
    * dangling·[v = seed]) — dangling mass restarts at the seed, the
    * standard RWR convention. `nodes` has column `node`; `edges`
    * (src, dst) are directed (symmetrize upstream for undirected
    * semantics). Output: (node, ppr 6dp).
    */
  def personalizedPageRank(spark: SparkSession, nodes: DataFrame,
                           edges: DataFrame, seed: Long,
                           damping: Double = 0.85, iters: Int = 20,
                           driverThreshold: Long = graft.util.Dispatch.threshold(100000L),
                           edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
    // size dispatch (the Centrality.pageRank discipline): a
    // fixed-iteration DataFrame loop on a dimension-bounded graph pays
    // ~20 rounds of job overhead for micro-work; below the thresholds
    // the identical update runs as an in-memory loop (same math, same
    // 6dp rounding — the recursive-CTE oracles match either path).
    // Both paths check the seed: one outside the node set would
    // otherwise silently return an all-zero vector.
    DriverCollect.ifFits(nodes.select(col("node")).distinct(), driverThreshold,
        edges.select(col("src"), col("dst")), edgeThreshold) match {
      case Some((nodeRows, edgeRows)) =>
        pprDriver(spark, nodeRows, edgeRows, seed, damping, iters)
      case None =>
        pprDistributedImpl(spark, nodes, edges, seed, damping, iters)
    }

  private def pprDistributedImpl(spark: SparkSession, nodes: DataFrame,
                                 edges: DataFrame, seed: Long,
                                 damping: Double, iters: Int): DataFrame = Pin.scope { pin =>
    val v = pin(nodes.select(col("node")).distinct())
    requireSeed(!v.filter(col("node") === seed).isEmpty, seed)
    val e = pin(edges.select(col("src"), col("dst"))
      .join(v.select(col("node").as("src")), Seq("src"))
      .join(v.select(col("node").as("dst")), Seq("dst")))
    val deg = pin(e.groupBy(col("src")).agg(count(lit(1)).as("__deg")))
    var x = v.withColumn("x",
      when(col("node") === seed, 1.0).otherwise(0.0)).localCheckpoint()
    var i = 0
    while (i < iters) {
      val withDeg = x.join(deg, x("node") === deg("src"), "left")
      val dangling = withDeg.filter(col("__deg").isNull)
        .agg(coalesce(sum(col("x")), lit(0.0)).as("__dang"))
      val contrib = withDeg.filter(col("__deg").isNotNull)
        .select(col("node").as("src"), (col("x") / col("__deg")).as("__c"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__c")).as("__in"))
      x = v.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(damping) * (coalesce(col("__in"), lit(0.0)) +
            when(col("node") === seed, col("__dang")).otherwise(0.0)) +
            when(col("node") === seed, lit(1.0 - damping))
              .otherwise(lit(0.0))).as("x"))
        .localCheckpoint()
      i += 1
    }
    x.select(col("node"), round(col("x"), 6).as("ppr"))
      .localCheckpoint()
  }

  /** Katz centrality by fixed-point iteration:
    * x'(v) = β + α·Σ_{u→v} x(u), x₀ = β·1 — counts walks of every
    * length into v, geometrically attenuated by α (α must be below
    * 1/λ_max for the series to converge; callers pick it per graph).
    * No degree normalization and no dangling term — that's the
    * defining contrast with PageRank. Output: (node, katz 6dp).
    */
  def katz(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
           alpha: Double, beta: Double = 1.0, iters: Int = 10,
           driverThreshold: Long = graft.util.Dispatch.threshold(100000L),
           edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
    DriverCollect.ifFits(nodes.select(col("node")).distinct(), driverThreshold,
        edges.select(col("src"), col("dst")), edgeThreshold) match {
      case Some((nodeRows, edgeRows)) =>
        katzDriver(spark, nodeRows, edgeRows, alpha, beta, iters)
      case None =>
        katzDistributedImpl(spark, nodes, edges, alpha, beta, iters)
    }

  private def katzDistributedImpl(spark: SparkSession, nodes: DataFrame,
                                  edges: DataFrame, alpha: Double,
                                  beta: Double, iters: Int): DataFrame = Pin.scope { pin =>
    val v = pin(nodes.select(col("node")).distinct())
    val e = pin(edges.select(col("src"), col("dst"))
      .join(v.select(col("node").as("src")), Seq("src"))
      .join(v.select(col("node").as("dst")), Seq("dst")))
    var x = v.withColumn("x", lit(beta)).localCheckpoint()
    var i = 0
    while (i < iters) {
      val contrib = x.select(col("node").as("src"), col("x"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("x")).as("__in"))
      x = v.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(beta) + lit(alpha) * coalesce(col("__in"), lit(0.0)))
            .as("x"))
        .localCheckpoint()
      i += 1
    }
    x.select(col("node"), round(col("x"), 6).as("katz"))
      .localCheckpoint()
  }

  /** Collected graph as (sorted node array, in-adjacency by node index,
    * out-degree by node index). */
  private def indexGraph(nodeRows: Array[Row], edgeRows: Array[Row])
      : (Array[Long], Array[Array[Int]], Array[Int]) = {
    val ns = nodeRows.map(_.getLong(0)).sorted
    val idx = ns.zipWithIndex.toMap
    val inAdj = Array.fill(ns.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    val outDeg = new Array[Int](ns.length)
    edgeRows.foreach { r =>
      (idx.get(r.getLong(0)), idx.get(r.getLong(1))) match {
        case (Some(u), Some(v)) =>
          inAdj(v) += u
          outDeg(u) += 1
        case _ => ()
      }
    }
    (ns, inAdj.map(_.sorted.toArray), outDeg)
  }

  private def requireSeed(found: Boolean, seed: Long): Unit =
    require(found, s"personalizedPageRank: seed $seed is not in the node set")

  private def pprDriver(spark: SparkSession, nodeRows: Array[Row],
                        edgeRows: Array[Row], seed: Long, damping: Double,
                        iters: Int): DataFrame = {
    val (ns, inAdj, outDeg) = indexGraph(nodeRows, edgeRows)
    val n = ns.length
    val si = ns.indexWhere(_ == seed)
    requireSeed(si >= 0, seed)
    var x = Array.tabulate(n)(i => if (i == si) 1.0 else 0.0)
    var it = 0
    while (it < iters) {
      var dang = 0.0
      var i = 0
      while (i < n) { if (outDeg(i) == 0) dang += x(i); i += 1 }
      val xn = new Array[Double](n)
      i = 0
      while (i < n) {
        var s = 0.0
        val nb = inAdj(i); var k = 0
        while (k < nb.length) { val u = nb(k); s += x(u) / outDeg(u); k += 1 }
        xn(i) = damping * (s + (if (i == si) dang else 0.0)) +
          (if (i == si) 1.0 - damping else 0.0)
        i += 1
      }
      x = xn
      it += 1
    }
    import spark.implicits._
    // HALF_UP to match the distributed path's round(col, 6)
    ns.zipWithIndex.map { case (id, i) =>
      (id, BigDecimal(x(i)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.toDF("node", "ppr")
  }

  private def katzDriver(spark: SparkSession, nodeRows: Array[Row],
                         edgeRows: Array[Row], alpha: Double, beta: Double,
                         iters: Int): DataFrame = {
    val (ns, inAdj, _) = indexGraph(nodeRows, edgeRows)
    val n = ns.length
    var x = Array.fill(n)(beta)
    var it = 0
    while (it < iters) {
      val xn = new Array[Double](n)
      var i = 0
      while (i < n) {
        var s = 0.0
        val nb = inAdj(i); var k = 0
        while (k < nb.length) { s += x(nb(k)); k += 1 }
        xn(i) = beta + alpha * s
        i += 1
      }
      x = xn
      it += 1
    }
    import spark.implicits._
    ns.zipWithIndex.map { case (id, i) =>
      (id, BigDecimal(x(i)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.toDF("node", "katz")
  }
}
