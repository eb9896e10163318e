package graft.graph

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.{DriverOrder, Pin}

/** Graph centrality kernels (G2–G4, `pipeline2.py:747-749`), networkx
  * numeric parity.
  *
  * Degree is pure DataFrame. Betweenness and eigenvector operate on a
  * collected, integer-indexed adjacency — the graph is dimension-bounded by
  * construction (top-N genes, A12), so the edge list fits on the driver /
  * in a broadcast even when the expression data is 100 TB. Betweenness
  * distributes its per-source Brandes passes over the cluster (source
  * vertices are an RDD; adjacency is a broadcast), which is the standard
  * scale-out for exact betweenness: embarrassingly parallel per source.
  *
  * The pipeline's network is already on the driver when it is scored, so
  * [[networkScores]] computes all three centralities and the composite
  * score there, with no Spark job: the same Brandes slices, loop and merge
  * order as [[betweennessCentrality]], the same power iteration as
  * [[eigenvectorCentrality]]'s driver branch, and the arithmetic of
  * [[degreeCentrality]] and [[compositeScores]], so its rows carry the
  * bits of the frame composition `deg ⋈ btw ⋈ eig → compositeScores`.
  */
object Centrality {

  /** G2: nx.degree_centrality = degree / (n-1). Isolated nodes (added via
    * add_node, never in an edge) get 0. Matches nx.Graph edge semantics:
    * parallel/bidirectional duplicates collapse to one edge and
    * self-loops are dropped; a single-node graph scores 1 (nx
    * special-cases len(G) <= 1). An edge to a node outside `nodes`
    * still counts for its known endpoint.
    *
    * The pipeline scores its network with [[networkScores]]; this frame
    * form's callers are the benchmark's traced pipeline and the specs,
    * and it goes with that mirror. */
  def degreeCentrality(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val n = nodes.count()
    if (n <= 1)
      return nodes.select(col("gene"), lit(1.0).as("degree_centrality"))
    val denom = (n - 1L).toDouble
    val simple = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val endpoints = simple.select(col("src").as("gene"))
      .unionAll(simple.select(col("dst").as("gene")))
      .groupBy("gene").agg(count(lit(1)).as("__deg"))
    nodes.join(endpoints, Seq("gene"), "left")
      .select(col("gene"),
        (coalesce(col("__deg"), lit(0L)) / denom).as("degree_centrality"))
  }

  /** An undirected adjacency by node index over `nodes` in the given
    * order: sorted, distinct, no self-loops, edges to unknown nodes
    * dropped. */
  private def adjacency(nodes: Seq[String], edges: Iterator[(String, String)])
      : Array[Array[Int]] = {
    val idx = nodes.zipWithIndex.toMap
    val adj = Array.fill(nodes.length)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (s, d) =>
      (idx.get(s), idx.get(d)) match {
        case (Some(i), Some(j)) if i != j => adj(i) += j; adj(j) += i
        case _ => ()
      }
    }
    adj.map(_.distinct.sorted.toArray)
  }

  /** The collected (gene) node rows and (src, dst) edge rows as node
    * names in collected order and their [[adjacency]]. */
  private def indexGraph(nodeRows: Array[Row], edgeRows: Array[Row])
      : (Seq[String], Array[Array[Int]]) = {
    val nodes = nodeRows.map(_.getString(0)).toSeq
    (nodes, adjacency(nodes,
      edgeRows.iterator.map(r => (r.getString(0), r.getString(1)))))
  }

  /** The (gene) node and (src, dst) edge rows of an unweighted graph
    * when they fit under the two caps ([[DriverCollect.ifFits]]). */
  private def collectGraph(nodes: DataFrame, edges: DataFrame,
                           nodeCap: Long, edgeCap: Long)
      : Option[(Array[Row], Array[Row])] =
    DriverCollect.ifFits(nodes.select("gene"), nodeCap,
      edges.select("src", "dst"), edgeCap)

  /** G3: exact betweenness centrality, Brandes' algorithm, unweighted,
    * normalized — matches `nx.betweenness_centrality(G)` defaults. The
    * per-source BFS passes run distributed: sources are parallelized
    * ([[brandesSlices]] of them), adjacency broadcast, and each slice's
    * [[brandes]] vector summed in partition order.
    *
    * `sampleSources = Some(k)` switches to the Brandes–Pich estimator:
    * k evenly-spread source vertices, dependencies scaled by n/k — the
    * scale path when exact O(V·E) is too much (sampling error
    * ~O(1/sqrt(k)); with k >= n it is exact). Deterministic source
    * choice (every n/k-th vertex in key order), never random.
    *
    * The pipeline scores its network with [[networkScores]], which runs
    * the same slices, loop and merge on the driver; this frame form
    * serves the catalog (`CatalogDomain`) and the benchmark's traced
    * pipeline.
    */
  def betweennessCentrality(spark: SparkSession, nodes: DataFrame,
                            edges: DataFrame,
                            sampleSources: Option[Int] = None,
                            maxDriverNodes: Long = 2000000L,
                            maxDriverEdges: Long = 20000000L): DataFrame = {
    // Explicit contract guard: Brandes broadcasts the full adjacency,
    // so the edge list must be driver-collectable. The operator is
    // documented for dimension-bounded graphs (top-N construction);
    // feeding a fact-scale graph must fail with THIS message, not a
    // driver OOM minutes later. Sampling (Brandes–Pich) bounds the BFS
    // work, not the adjacency size, so the guard applies either way.
    val graph = collectGraph(nodes, edges, maxDriverNodes, maxDriverEdges)
    require(graph.isDefined,
      s"betweennessCentrality: the graph exceeds the driver-collectable " +
        s"contract ($maxDriverNodes nodes / $maxDriverEdges edges); this " +
        "operator broadcasts the full adjacency — reduce the graph " +
        "(top-N edges) or raise the caps if the driver has headroom")
    val (nodeRows, edgeRows) = graph.get
    val (nodeSeq, adj) = indexGraph(nodeRows, edgeRows)
    val n = nodeSeq.length
    val bcAdj = spark.sparkContext.broadcast(adj)

    val sources: Seq[Int] = sampleSources match {
      case Some(k) if k > 0 && k < n =>
        val step = n.toDouble / k
        (0 until k).map(i => (i * step).toInt).distinct
      case _ => 0 until n
    }
    val perPartition = spark.sparkContext
      .parallelize(sources, brandesSlices(sources.length))
      .mapPartitions(ss => Iterator.single(brandes(bcAdj.value, ss)))
    val partial = sumInPartitionOrder(perPartition)
    val scale = betweennessScale(n, sources.length)
    val rows = nodeSeq.zipWithIndex.map { case (g, i) =>
      Row(g, partial(i) * scale)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("gene", StringType, nullable = false),
        StructField("betweenness_centrality", DoubleType, nullable = false))))
  }

  /** How many slices betweenness cuts its sources into: 16 sources per
    * slice, between 1 and 256 slices. */
  private[graph] def brandesSlices(nSources: Int): Int =
    math.min(math.max(nSources / 16, 1), 256)

  /** The slices `SparkContext.parallelize(0 until n, k)` cuts: slice i
    * holds sources [i·n/k, (i+1)·n/k). */
  private[graph] def sourceSlices(n: Int, k: Int): IndexedSeq[Range] =
    (0 until k).map(i => ((i.toLong * n) / k).toInt until (((i + 1L) * n) / k).toInt)

  /** nx _rescale, normalized=True, undirected: 1/((n-1)(n-2)) over the
    * double-counted raw sums, identity for n <= 2, times the estimator
    * scale n/k for k sampled sources (1.0 when exact). */
  private def betweennessScale(n: Int, nSources: Int): Double =
    (if (n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0) * (n.toDouble / nSources)

  /** Brandes' single-source shortest-path accumulation for each of
    * `sources` in turn, summed into one node-length vector: the work of
    * one betweenness slice. */
  private[graph] def brandes(adj: Array[Array[Int]], sources: Iterator[Int])
      : Array[Double] = {
    val nn = adj.length
    val acc = new Array[Double](nn)
    sources.foreach { s =>
      val sigma = new Array[Double](nn)
      val dist = Array.fill(nn)(-1)
      val delta = new Array[Double](nn)
      val preds = Array.fill(nn)(mutable.ArrayBuffer.empty[Int])
      val stack = mutable.ArrayBuffer.empty[Int]
      val queue = mutable.Queue.empty[Int]
      sigma(s) = 1.0; dist(s) = 0; queue.enqueue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        stack += v
        var k = 0
        val nbrs = adj(v)
        while (k < nbrs.length) {
          val w = nbrs(k)
          if (dist(w) < 0) { dist(w) = dist(v) + 1; queue.enqueue(w) }
          if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) += v }
          k += 1
        }
      }
      var i = stack.length - 1
      while (i >= 0) {
        val w = stack(i)
        preds(w).foreach { v =>
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        }
        if (w != s) acc(w) += delta(w)
        i -= 1
      }
    }
    acc
  }

  /** The widths of the merge levels for `p` per-partition vectors,
    * grouped as `treeReduce` (depth 2) groups them: the level count
    * shrinks by ⌈√p⌉ while that saves work, so at most about √p vectors
    * are left for the last merge. */
  private[graph] def mergeWidths(p: Int): Seq[Int] = {
    val scale = math.max(math.ceil(math.sqrt(p)).toInt, 2)
    Iterator.iterate(p)(_ / scale)
      .takeWhile(w => w > scale + math.ceil(w.toDouble / scale)).map(_ / scale)
      .toSeq
  }

  /** Element-wise sum of (index, vector) pairs in ascending index,
    * accumulated into the first vector. */
  private def merged(vs: Iterator[(Int, Array[Double])]): Array[Double] =
    vs.toSeq.sortBy(_._1).map(_._2).reduceLeft { (x, y) =>
      var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x
    }

  /** The element-wise sum of one vector per partition, over the
    * [[mergeWidths]] levels: at each level partition i goes to key i mod
    * the level's width. Every merge runs in ascending partition index,
    * so the sum does not depend on shuffle fetch or task completion
    * order (`treeReduce` folds the task results on the driver in
    * completion order, which moved the last bits of betweenness between
    * reruns). [[sumInOrder]] is the same merge over local vectors. */
  private def sumInPartitionOrder(parts: RDD[Array[Double]])
      : Array[Double] = {
    var level = parts.mapPartitionsWithIndex((i, vs) => vs.map(i -> _))
    mergeWidths(level.getNumPartitions).foreach { w =>
      level = level.map { case (i, v) => (i % w, (i, v)) }
        .partitionBy(new HashPartitioner(w))
        .mapPartitionsWithIndex { (k, vs) =>
          if (vs.hasNext) Iterator.single(k -> merged(vs.map(_._2)))
          else Iterator.empty
        }
    }
    merged(level.collect().iterator)
  }

  /** [[sumInPartitionOrder]] over vectors already on the driver, vector
    * i standing for partition i: the same levels, groups and order, so
    * the same bits. */
  private[graph] def sumInOrder(parts: Seq[Array[Double]]): Array[Double] = {
    var level = parts.zipWithIndex.map(_.swap)
    mergeWidths(parts.length).foreach { w =>
      level = level.groupBy(_._1 % w).toSeq.sortBy(_._1)
        .map { case (k, vs) => k -> merged(vs.iterator) }
    }
    merged(level.iterator)
  }

  /** G4: eigenvector centrality, nx semantics: power iteration on (I + A)
    * from x = 1/n, L2-normalized each step, stop when sum|Δ| < n·tol.
    * Throws IllegalStateException past maxIter like nx's
    * PowerIterationFailedConvergence — the pipeline catches it into the
    * zero-filled frame (G7, `pipeline2.py:778-792`).
    *
    * Dispatches on graph size: below `distributedThreshold` nodes the
    * collected driver loop runs ([[eigenvector]]: exact, no
    * per-iteration job overhead); above it the iteration runs as a
    * distributed DataFrame loop ([[eigenvectorCentralityDistributed]])
    * that never collects the graph. The pipeline scores its network
    * with [[networkScores]] (the same driver loop); this frame form
    * serves the catalog (`CatalogDomain`) and the benchmark's traced
    * pipeline.
    */
  def eigenvectorCentrality(spark: SparkSession, nodes: DataFrame,
                            edges: DataFrame, maxIter: Int = 1000,
                            tol: Double = 1e-6,
                            distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
                            edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
    // dense sub-threshold-node graphs must also go distributed — the
    // driver path collects the edge list (see pageRank's dispatch note)
    collectGraph(nodes, edges, distributedThreshold, edgeThreshold) match {
      case Some((nodeRows, edgeRows)) =>
        val (nodeSeq, adj) = indexGraph(nodeRows, edgeRows)
        val x = eigenvector(adj, maxIter, tol)
        val rows = nodeSeq.zipWithIndex.map { case (g, i) => Row(g, x(i)) }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("gene", StringType, nullable = false),
            StructField("eigenvector_centrality", DoubleType, nullable = false))))
      case None => Pin.scope { pin =>
        eigenvectorCentralityDistributed(spark, pin(nodes), pin(edges), maxIter, tol)
      }
    }

  /** The driver power iteration of [[eigenvectorCentrality]] over an
    * [[adjacency]]: scores by node index. */
  private def eigenvector(adj: Array[Array[Int]], maxIter: Int,
                          tol: Double): Array[Double] = {
    val n = adj.length
    var x = Array.fill(n)(1.0 / n)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val xNew = x.clone()
      var v = 0
      while (v < n) {
        val nbrs = adj(v); var k = 0
        while (k < nbrs.length) { xNew(nbrs(k)) += x(v); k += 1 }
        v += 1
      }
      val norm = math.sqrt(xNew.map(d => d * d).sum) match {
        case 0.0 => 1.0
        case d => d
      }
      var i = 0
      while (i < n) { xNew(i) /= norm; i += 1 }
      var err = 0.0
      i = 0
      while (i < n) { err += math.abs(xNew(i) - x(i)); i += 1 }
      x = xNew
      if (err < n * tol) converged = true
      iter += 1
    }
    if (!converged && n > 0)
      throw new IllegalStateException(
        s"eigenvector centrality failed to converge in $maxIter iterations")
    x
  }

  /** G4 at scale: the same (I + A) power iteration as a distributed
    * DataFrame loop — scores and edges stay partitioned; each step is one
    * join + aggregate (neighbor sums), a 1-row norm aggregate, and an
    * error aggregate against the previous scores. The graph is never
    * collected, so this is the path for graphs that outgrow the driver
    * (the GraphX-PageRank iteration pattern with per-round persist /
    * unpersist to keep lineage flat).
    */
  def eigenvectorCentralityDistributed(spark: SparkSession, nodes: DataFrame,
                                       edges: DataFrame, maxIter: Int = 1000,
                                       tol: Double = 1e-6): DataFrame = Pin.scope { pin =>
    import org.apache.spark.storage.StorageLevel
    val n = nodes.count()
    val sym = pin(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    if (n == 0) nodes.select(col("gene"),
      lit(0.0).as("eigenvector_centrality"))
    else {
      // Each round references x twice (neighbor sums + the error diff), so
      // without lineage truncation the logical plan doubles per iteration.
      // Each round is cut to a persisted + locally-checkpointed typed
      // RDD (constant-size LogicalRDD plan), and THE PREVIOUS round's RDD
      // is unpersisted once the new one is materialized — the GraphX
      // Pregel lifecycle. Dataset.localCheckpoint alone would leave one
      // cached n-row frame per iteration to ContextCleaner's mercy, which
      // on hundreds of rounds over a big graph fills the block store.
      import spark.implicits._
      var prevRdd: Option[org.apache.spark.rdd.RDD[(String, Double, Double)]] =
        None
      def cut(df: DataFrame): DataFrame = {
        val rdd = df.as[(String, Double, Double)].rdd
          .persist(StorageLevel.MEMORY_AND_DISK)
        rdd.localCheckpoint()
        rdd.count()
        val round = spark.createDataFrame(rdd).toDF("gene", "__x0", "x")
        prevRdd.foreach(_.unpersist(false))
        prevRdd = Some(rdd)
        round
      }
      var x = cut(nodes.select(col("gene"), lit(0.0).as("__x0"),
        lit(1.0 / n).as("x"))).select("gene", "x")
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val contrib = sym.join(x, sym("src") === x("gene"))
          .groupBy(sym("dst").as("gene"))
          .agg(sum(col("x")).as("__nbr"))
        val xRaw = x.withColumnRenamed("x", "__x0")
          .join(contrib, Seq("gene"), "left")
          .select(col("gene"), col("__x0"),
            (col("__x0") + coalesce(col("__nbr"), lit(0.0))).as("__xr"))
        val norm = xRaw.agg(sqrt(sum(col("__xr") * col("__xr"))).as("__norm"))
        val xNew = cut(xRaw.crossJoin(broadcast(norm))
          .select(col("gene"), col("__x0"),
            when(col("__norm") === 0.0, col("__xr"))
              .otherwise(col("__xr") / col("__norm")).as("x")))
        val err = xNew.agg(sum(abs(col("x") - col("__x0"))).as("e"))
          .collect()(0).getDouble(0)
        x = xNew.select("gene", "x")
        converged = err < n * tol
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"eigenvector centrality failed to converge in $maxIter iterations")
      x.select(col("gene"), col("x").as("eigenvector_centrality"))
    }
  }

  /** PageRank (undirected form: edges symmetrized, contributions split
    * by degree) with damping d and a FIXED iteration count — fixed, not
    * convergence-tested, so the result is a deterministic function of
    * the graph that an independent engine can replay step-for-step
    * (the q53 oracle lesson: a data-dependent stopping rule makes the
    * oracle chase the engine's float noise). Dangling (isolated) nodes
    * redistribute their mass uniformly, the standard correction, so
    * scores sum to 1 every iteration.
    *
    * Driver/distributed dispatch mirrors [[eigenvectorCentrality]]: the
    * co-expression graphs this library builds are dimension-bounded
    * (top-N genes), so the driver path is the common case; above the
    * threshold the same iteration runs as a DataFrame loop
    * ([[pageRankDistributed]]) that never collects the graph.
    * Neighbor sums accumulate in sorted-index order on the driver path —
    * the same order the list-based SQL oracle uses.
    */
  def pageRank(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
               damping: Double = 0.85, iters: Int = 20,
               distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
               edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
    // dispatch on BOTH dimensions: a sub-threshold node count says
    // nothing about density, and the driver path collects the full edge
    // list — a 50k-node graph with 500M edges must take the distributed
    // branch (the union-find ≤2M-edge precedent)
    collectGraph(nodes, edges, distributedThreshold, edgeThreshold) match {
      case Some((nodeRows, edgeRows)) =>
        pageRankDriverImpl(spark, nodes, nodeRows, edgeRows, damping, iters)
      case None => Pin.scope { pin =>
        pageRankDistributed(spark, pin(nodes), pin(edges), damping, iters)
      }
    }

  /** `nodes` is read only for the empty-graph result (the distributed
    * path's schema). */
  private def pageRankDriverImpl(spark: SparkSession, nodes: DataFrame,
                                 nodeRows: Array[Row], edgeRows: Array[Row],
                                 damping: Double, iters: Int): DataFrame = {
    val (nodeSeq, adj) = indexGraph(nodeRows, edgeRows)
    val n = nodeSeq.length
    if (n == 0)
      return nodes.select(col("gene"), lit(0.0).as("pagerank"))

    var x = Array.fill(n)(1.0 / n)
    var iter = 0
    while (iter < iters) {
      // contribution pull: x'(v) = (1-d)/n + d*(sum_{u in adj(v)} x(u)/deg(u)
      //                                         + danglingMass/n)
      var dangling = 0.0
      var v = 0
      while (v < n) { if (adj(v).isEmpty) dangling += x(v); v += 1 }
      val xNew = new Array[Double](n)
      v = 0
      while (v < n) {
        var s = 0.0
        val nbrs = adj(v); var k = 0
        while (k < nbrs.length) {
          val u = nbrs(k); s += x(u) / adj(u).length; k += 1
        }
        xNew(v) = (1.0 - damping) / n + damping * (s + dangling / n)
        v += 1
      }
      x = xNew
      iter += 1
    }
    val rows = nodeSeq.zipWithIndex.map { case (g, i) => Row(g, x(i)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("gene", StringType, nullable = false),
        StructField("pagerank", DoubleType, nullable = false))))
  }

  /** PageRank at scale: the same fixed-iteration update as a DataFrame
    * loop — edges and scores stay partitioned; each round is one
    * join + aggregate (degree-weighted neighbor sums), a 1-row dangling
    * aggregate broadcast back, and a localCheckpoint pin (bounded
    * lineage; iteration count is fixed and small, so per-round RDD
    * bookkeeping beyond the pin is unnecessary — contrast the
    * convergence-driven eigenvector loop). */
  def pageRankDistributed(spark: SparkSession, nodes: DataFrame,
                          edges: DataFrame, damping: Double = 0.85,
                          iters: Int = 20): DataFrame = Pin.scope { pin =>
    val n = nodes.count()
    // Edges referencing vertices absent from `nodes` are dropped BEFORE
    // the degree count — the driver path's indexGraph skips them, and
    // keeping them here would inflate deg(u) and leak u's mass through
    // contributions to a vertex that never joins back (scores would
    // stop summing to 1 and diverge from the driver result).
    val vertexSet = nodes.select(col("gene"))
    val sym = pin(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .join(vertexSet.withColumnRenamed("gene", "src"), Seq("src"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "dst"), Seq("dst"), "left_semi"))
    val deg = pin(sym.groupBy(col("src").as("gene"))
      .agg(count(lit(1)).as("__deg")))
    if (n == 0) nodes.select(col("gene"), lit(0.0).as("pagerank"))
    else {
      var x = nodes.select(col("gene"), lit(1.0 / n).as("x"))
        .join(deg, Seq("gene"), "left")
        .select(col("gene"), col("x"), coalesce(col("__deg"), lit(0L)).as("__deg"))
        .localCheckpoint()
      var iter = 0
      while (iter < iters) {
        val dangling = x.filter(col("__deg") === 0L)
          .agg(coalesce(sum(col("x")), lit(0.0)).as("__dang"))
        val contrib = sym.join(x, sym("src") === x("gene"))
          .groupBy(sym("dst").as("gene"))
          .agg(sum(col("x") / col("__deg")).as("__nbr"))
        x = x.drop("x")
          .join(contrib, Seq("gene"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("gene"),
            (lit((1.0 - damping) / n) + lit(damping) *
              (coalesce(col("__nbr"), lit(0.0)) + col("__dang") / n)).as("x"),
            col("__deg"))
          .localCheckpoint()
        iter += 1
      }
      x.select(col("gene"), col("x").as("pagerank"))
    }
  }

  /** Weighted directed PageRank: mass flows along arcs in proportion to
    * edge weight — x'(v) = (1−d)/n + d·(Σ_{u→v} x(u)·w(u,v)/W(u) +
    * dangling/n), W(u) the out-weight sum. The unweighted kernel treats
    * a $1 and a $1M trade link identically; weighted is what ranking a
    * flow graph actually means. Multi-arcs collapse by weight sum;
    * non-positive weights are rejected (they break the random-walk
    * semantics). Same dual dispatch and loop shape as [[pageRank]]. */
  def pageRankWeighted(spark: SparkSession, nodes: DataFrame,
                       edges: DataFrame, damping: Double = 0.85,
                       iters: Int = 20,
                       distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
                       edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
    DriverCollect.ifFits(nodes.select("gene"), distributedThreshold,
        edges.select(col("src"), col("dst"), col("w")), edgeThreshold) match {
      case Some((nodeRows, arcRows)) =>
        pageRankWeightedDriverImpl(spark, nodes, nodeRows, arcRows,
          damping, iters)
      case None =>
        pageRankWeightedDistributed(spark, nodes, edges, damping, iters)
    }

  /** `nodes` is read only for the empty-graph result. */
  private def pageRankWeightedDriverImpl(spark: SparkSession,
                                         nodes: DataFrame,
                                         nodeRows: Array[Row],
                                         arcRows: Array[Row],
                                         damping: Double,
                                         iters: Int): DataFrame = {
    val nodeSeq = nodeRows.map(_.getString(0)).toSeq
    val idx = nodeSeq.zipWithIndex.toMap
    val arcs = arcRows
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .filter { case (u, v, _) => u != v && idx.contains(u) && idx.contains(v) }
      .groupBy(a => (a._1, a._2))
      .map { case ((u, v), as) => (idx(u), idx(v), as.map(_._3).sum) }
      .toSeq.sortBy(a => (a._1, a._2))
    require(arcs.forall(_._3 > 0), "edge weights must be positive")
    val nn = nodeSeq.length
    if (nn == 0)
      return nodes.select(col("gene"), lit(0.0).as("pagerank"))
    val outW = new Array[Double](nn)
    arcs.foreach { case (u, _, w) => outW(u) += w }
    var x = Array.fill(nn)(1.0 / nn)
    var it = 0
    while (it < iters) {
      var dang = 0.0
      var i = 0
      while (i < nn) { if (outW(i) == 0.0) dang += x(i); i += 1 }
      val xn = Array.fill(nn)((1.0 - damping) / nn + damping * dang / nn)
      arcs.foreach { case (u, v, w) =>
        xn(v) += damping * x(u) * w / outW(u)
      }
      x = xn; it += 1
    }
    val rows = nodeSeq.zipWithIndex.map { case (g, i) => Row(g, x(i)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("gene", StringType, nullable = false),
        StructField("pagerank", DoubleType, nullable = false))))
  }

  /** The unbounded-scale weighted PageRank path — see
    * [[pageRankWeighted]] for semantics. */
  def pageRankWeightedDistributed(spark: SparkSession, nodes: DataFrame,
                                  edges: DataFrame, damping: Double = 0.85,
                                  iters: Int = 20): DataFrame = Pin.scope { pin =>
    val vertexSet = pin(nodes.select(col("gene")))
    val e = pin(edges.select(col("src"), col("dst"), col("w"))
      .filter(col("src") =!= col("dst") && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .join(vertexSet.withColumnRenamed("gene", "src"), Seq("src"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "dst"), Seq("dst"), "left_semi"))
    val n = vertexSet.count()
    if (n == 0) nodes.select(col("gene"), lit(0.0).as("pagerank"))
    else {
      val outW = e.groupBy(col("src").as("gene"))
        .agg(sum(col("w")).as("__ow"))
      var x = vertexSet.join(outW, Seq("gene"), "left")
        .select(col("gene"), lit(1.0 / n).as("x"),
          coalesce(col("__ow"), lit(0.0)).as("__ow"))
        .localCheckpoint()
      var iter = 0
      while (iter < iters) {
        val dangling = x.filter(col("__ow") === 0.0)
          .agg(coalesce(sum(col("x")), lit(0.0)).as("__dang"))
        val contrib = e.join(x, e("src") === x("gene"))
          .groupBy(e("dst").as("gene"))
          .agg(sum(col("x") * col("w") / col("__ow")).as("__nbr"))
        x = x.drop("x")
          .join(contrib, Seq("gene"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("gene"),
            (lit((1.0 - damping) / n) + lit(damping) *
              (coalesce(col("__nbr"), lit(0.0)) + col("__dang") / n)).as("x"),
            col("__ow"))
          .localCheckpoint()
        iter += 1
      }
      x.select(col("gene"), col("x").as("pagerank"))
    }
  }

  /** HITS hubs & authorities on a DIRECTED graph — fixed-iteration
    * mutual recursion: a ← normalize(Aᵀh), h ← normalize(A·a), L2 per
    * half-step. Where PageRank ranks by received mass, HITS separates
    * "points at good pages" (hub) from "is pointed at by good hubs"
    * (authority) — the natural decomposition for buyer→seller or
    * citing→cited flows.
    *
    * Scale shape mirrors [[pageRankDistributed]]: each half-step is one
    * edge⋈score join + one grouped sum (shuffles bounded by edges), the
    * L2 norm is a 1-row aggregate broadcast back via crossJoin, and a
    * localCheckpoint pins each round's bounded lineage. Vertices with
    * no in-edges (resp. out-edges) zero-fill through the left join —
    * dropped rows would silently renormalize over a shrinking support.
    * Output: (gene, hub, authority), all nodes present. */
  def hits(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
           iters: Int = 10,
           distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
           edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
    // size dispatch, the pageRank/eigenvector precedent: under the
    // thresholds a driver loop does the whole fixed-point in ONE job's
    // worth of work, where the DataFrame loop pays ~4 jobs/iteration of
    // fixed overhead (q132's 25-node graph: 7.4 s looped, <1 s here)
    collectGraph(nodes, edges, distributedThreshold, edgeThreshold) match {
      case Some((nodeRows, edgeRows)) =>
        hitsDriverImpl(spark, nodes, nodeRows, edgeRows, iters)
      case None => Pin.scope { pin =>
        hitsDistributed(spark, pin(nodes), edges, iters)
      }
    }

  /** `nodes` is read only for the empty-graph result. */
  private def hitsDriverImpl(spark: SparkSession, nodes: DataFrame,
                             nodeRows: Array[Row], edgeRows: Array[Row],
                             iters: Int): DataFrame = {
    val nodeSeq = nodeRows.map(_.getString(0)).toSeq
    val edgeSeq = edgeRows
      .map(r => (r.getString(0), r.getString(1)))
      .filter { case (u, vv) => u != vv }.distinct
    val nn = nodeSeq.length
    if (nn == 0)
      return nodes.select(col("gene"), lit(0.0).as("hub"),
        lit(0.0).as("authority"))
    val idx = nodeSeq.zipWithIndex.toMap
    val dir = edgeSeq.collect {
      case (u, vv) if idx.contains(u) && idx.contains(vv) =>
        (idx(u), idx(vv))
    }
    var h = Array.fill(nn)(1.0 / nn)
    var a = Array.fill(nn)(0.0)
    def norm(x: Array[Double]): Array[Double] = {
      val s = math.sqrt(x.map(v => v * v).sum)
      if (s == 0.0) x else x.map(_ / s)
    }
    var it = 0
    while (it < iters) {
      val ar = Array.fill(nn)(0.0)
      dir.foreach { case (u, vv) => ar(vv) += h(u) }
      a = norm(ar)
      val hr = Array.fill(nn)(0.0)
      dir.foreach { case (u, vv) => hr(u) += a(vv) }
      h = norm(hr)
      it += 1
    }
    val rows = nodeSeq.zipWithIndex.map { case (g, i) =>
      Row(g, h(i), a(i))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("gene", StringType, nullable = false),
        StructField("hub", DoubleType, nullable = false),
        StructField("authority", DoubleType, nullable = false))))
  }

  /** The unbounded-scale HITS path — see [[hits]] for semantics. */
  def hitsDistributed(spark: SparkSession, nodes: DataFrame,
                      edges: DataFrame, iters: Int = 10): DataFrame = Pin.scope { pin =>
    // the vertex set is re-joined TWICE PER ITERATION (zero-fill of both
    // score vectors) — unpersisted, a nodes frame derived from a fact
    // join would be recomputed ~2·iters times (observed: q132 at 12.9 s
    // from ~22 replays of a 4-table join; 1.9 s persisted)
    val vertexSet = pin(nodes.select(col("gene")))
    val e = pin(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .join(vertexSet.withColumnRenamed("gene", "src"), Seq("src"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "dst"), Seq("dst"), "left_semi"))
    val n = vertexSet.count()
    if (n == 0) nodes.select(col("gene"), lit(0.0).as("hub"),
      lit(0.0).as("authority"))
    else {
      def normalized(raw: DataFrame, value: String): DataFrame = {
        val nrm = raw.agg(sqrt(sum(col(value) * col(value))).as("__nrm"))
        raw.crossJoin(broadcast(nrm))
          .select(col("gene"), (col(value) /
            when(col("__nrm") === 0.0, lit(1.0)).otherwise(col("__nrm")))
            .as(value))
          .localCheckpoint()
      }
      var h = nodes.select(col("gene"), lit(1.0 / n).as("h")).localCheckpoint()
      var a = nodes.select(col("gene"), lit(0.0).as("a")).localCheckpoint()
      var iter = 0
      while (iter < iters) {
        a = normalized(vertexSet
          .join(e.join(h, e("src") === h("gene"))
            .groupBy(e("dst").as("gene")).agg(sum(col("h")).as("__s")),
            Seq("gene"), "left")
          .select(col("gene"), coalesce(col("__s"), lit(0.0)).as("a")), "a")
        h = normalized(vertexSet
          .join(e.join(a, e("dst") === a("gene"))
            .groupBy(e("src").as("gene")).agg(sum(col("a")).as("__s")),
            Seq("gene"), "left")
          .select(col("gene"), coalesce(col("__s"), lit(0.0)).as("h")), "h")
        iter += 1
      }
      // h and a are localCheckpointed — the returned plan no longer
      // references either pinned frame
      h.join(a, Seq("gene"))
        .select(col("gene"), col("h").as("hub"), col("a").as("authority"))
    }
  }

  /** A14 + A15: min-max normalize the three centralities (sklearn
    * MinMaxScaler: zero range -> 0) and average them into the composite
    * score (`pipeline2.py:758-769`), sorted descending with gene as the
    * deterministic tiebreak. Global min/max come from a 1-row aggregate
    * cross join — no single-partition window.
    *
    * The pipeline scores its network with [[networkScores]]; this frame
    * form's callers are the benchmark's traced pipeline and the specs,
    * and it goes with that mirror. */
  def compositeScores(centralities: DataFrame): DataFrame = {
    val cols = Seq("degree_centrality", "betweenness_centrality",
      "eigenvector_centrality")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val stats = centralities.agg(aggs.head, aggs.tail: _*)
    val normed = cols.foldLeft(centralities.crossJoin(broadcast(stats))) {
      (df, c) =>
        val range = col(s"__max_$c") - col(s"__min_$c")
        df.withColumn(c,
          when(range === 0.0, lit(0.0))
            .otherwise((col(c) - col(s"__min_$c")) / range))
    }.drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
    normed
      .withColumn("composite_score",
        (col("degree_centrality") + col("betweenness_centrality") +
          col("eigenvector_centrality")) / 3)
      .orderBy(col("composite_score").desc, col("gene"))
  }

  /** The columns of [[networkScores]]'s rows: the min-max normalized
    * centralities and the composite score, as [[compositeScores]] names
    * them. */
  val ScoreSchema: StructType = StructType(
    StructField("gene", StringType, nullable = false) +:
      Seq("degree_centrality", "betweenness_centrality",
        "eigenvector_centrality", "composite_score")
        .map(StructField(_, DoubleType, nullable = false)))

  /** G2–G4 + A14/A15 on a graph already on the driver: one row per node,
    * `(gene, degree, betweenness, eigenvector, composite)` in
    * [[ScoreSchema]], sorted by composite descending, then gene, in
    * Spark's order (the double compare; `UTF8String` byte order). The
    * bits equal the frame composition
    * `compositeScores(deg ⋈ btw ⋈ eig)` over the same graph with the
    * nodes collected in the order given:
    *   - degree: distinct neighbours over (n − 1), a long over a double;
    *   - betweenness: the sources `0 until n` cut into
    *     [[brandesSlices]] slices as `parallelize` cuts them, one
    *     [[brandes]] vector per slice, summed in [[sumInPartitionOrder]]'s
    *     grouping ([[sumInOrder]]);
    *   - eigenvector: the driver power iteration (default `maxIter` and
    *     `tol`); non-convergence throws the same IllegalStateException;
    *   - composite: min-max per column (zero range → 0), then the mean
    *     of the three.
    *
    * Edges are undirected (src, dst) pairs; duplicates, self-loops and
    * edges to unknown nodes are dropped. No size decision is made here:
    * the caller holds the graph already (the pipeline's is bounded by
    * [[graft.net.CoExpressionNetwork.MaxDriverGenes]] nodes), so
    * `SPARK_GRAFT_FORCE_DISPATCH` does not reach it. */
  def networkScores(nodes: IndexedSeq[String],
                    edges: Seq[(String, String, Double)]): IndexedSeq[Row] = {
    val n = nodes.length
    val adj = adjacency(nodes, edges.iterator.map(e => (e._1, e._2)))
    val degree =
      if (n <= 1) Array.fill(n)(1.0)
      else { val denom = (n - 1L).toDouble; adj.map(_.length.toLong / denom) }
    val scale = betweennessScale(n, n)
    val betweenness = sumInOrder(sourceSlices(n, brandesSlices(n))
      .map(slice => brandes(adj, slice.iterator))).map(_ * scale)
    val cols = Seq(degree, betweenness, eigenvector(adj, 1000, 1e-6)).map { c =>
      val lo = c.reduceOption((a, b) => if (SQLOrderingUtil.compareDoubles(b, a) < 0) b else a)
      val hi = c.reduceOption((a, b) => if (SQLOrderingUtil.compareDoubles(b, a) > 0) b else a)
      (lo, hi) match {
        case (Some(mn), Some(mx)) =>
          val range = mx - mn
          c.map(v => if (range == 0.0) 0.0 else (v - mn) / range)
        case _ => c
      }
    }
    val Seq(d, b, e) = cols
    nodes.indices
      .map(i => Row(nodes(i), d(i), b(i), e(i), (d(i) + b(i) + e(i)) / 3))
      .sortWith { (x, y) =>
        val byScore = SQLOrderingUtil.compareDoubles(y.getDouble(4), x.getDouble(4))
        if (byScore != 0) byScore < 0
        else DriverOrder.strings(x.getString(0), y.getString(0)) < 0
      }
  }
}
