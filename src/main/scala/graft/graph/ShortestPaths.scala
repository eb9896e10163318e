package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.util.Pin

/** Single-source shortest paths by distributed Bellman–Ford relaxation —
  * the reachability/distance kernel under dependency-depth analysis,
  * influence radius, and "how many hops from a trusted seed" scoring.
  *
  * Each round relaxes every arc once: dist'(v) = min(dist(v),
  * min_{u→v} dist(u) + w(u,v)); after at most |V|−1 rounds the
  * distances are exact (non-negative weights assumed; the loop also
  * stops early as soon as a round changes nothing, so diameter-bounded
  * graphs converge in diameter rounds, not |V|). INTEGER weights keep
  * every distance exact on any engine — there is no floating-point
  * anywhere in this operator, which is what makes its oracle a plain
  * value compare rather than a rounding contract.
  *
  * Scale shape mirrors [[Centrality.pageRankDistributed]]: per round
  * one edge⋈dist join + one grouped min (shuffles bounded by edges),
  * localCheckpoint pins the round, and the change detector is a 1-row
  * count. Unreachable vertices keep a null distance. Same dual
  * dispatch: a driver array loop under the thresholds.
  */
object ShortestPaths {

  /** (gene, dist BIGINT nullable): minimal summed weight from `source`
    * to every vertex; null = unreachable. Edges (src, dst, w BIGINT,
    * w ≥ 0) are directed. */
  def fromSource(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                 source: String,
                 distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
                 edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
    DriverCollect.ifFits(nodes.select("gene"), distributedThreshold,
        edges.select(col("src"), col("dst"), col("w")), edgeThreshold) match {
      case Some((nodeRows, arcRows)) =>
        fromSourceDriver(spark, nodeRows, arcRows, source)
      case None => fromSourceDistributed(spark, nodes, edges, source)
    }

  /** Node names in collected order and the non-negative arcs between
    * known nodes as (src index, dst index, w). */
  private def indexArcs(nodeRows: Array[Row], arcRows: Array[Row])
      : (Seq[String], Array[(Int, Int, Long)]) = {
    val nodeSeq = nodeRows.map(_.getString(0)).toSeq
    val idx = nodeSeq.zipWithIndex.toMap
    val arcs = arcRows
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .filter { case (u, v, w) =>
        idx.contains(u) && idx.contains(v) && w >= 0 }
      .map { case (u, v, w) => (idx(u), idx(v), w) }
    (nodeSeq, arcs)
  }

  private def fromSourceDriver(spark: SparkSession, nodeRows: Array[Row],
                               arcRows: Array[Row], source: String): DataFrame = {
    val (nodeSeq, arcs) = indexArcs(nodeRows, arcRows)
    val idx = nodeSeq.zipWithIndex.toMap
    val dist = Array.fill[Long](nodeSeq.length)(Long.MaxValue)
    idx.get(source).foreach(dist(_) = 0L)
    var changed = dist.exists(_ == 0L)
    var round = 0
    while (changed && round < nodeSeq.length) {
      changed = false
      arcs.foreach { case (u, v, w) =>
        if (dist(u) != Long.MaxValue && dist(u) + w < dist(v)) {
          dist(v) = dist(u) + w; changed = true
        }
      }
      round += 1
    }
    val rows = nodeSeq.zipWithIndex.map { case (g, i) =>
      Row(g, if (dist(i) == Long.MaxValue) null else java.lang.Long.valueOf(dist(i)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("gene", StringType, nullable = false),
        StructField("dist", LongType, nullable = true))))
  }

  /** The unbounded-scale relaxation loop — see [[fromSource]]. */
  def fromSourceDistributed(spark: SparkSession, nodes: DataFrame,
                            edges: DataFrame, source: String): DataFrame = Pin.scope { pin =>
    val vertexSet = pin(nodes.select(col("gene")))
    val e = pin(edges.select(col("src"), col("dst"), col("w"))
      .filter(col("w") >= 0)
      .join(vertexSet.withColumnRenamed("gene", "src"), Seq("src"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "dst"), Seq("dst"), "left_semi"))
    val n = vertexSet.count()
    var dist = vertexSet
      .select(col("gene"),
        when(col("gene") === source, lit(0L)).as("dist"))
      .localCheckpoint()
    var changed = n > 0
    var round = 0L
    while (changed && round < n) {
      val relaxed = e.join(dist, e("src") === dist("gene"))
        .filter(col("dist").isNotNull)
        .groupBy(e("dst").as("gene"))
        .agg(min(col("dist") + col("w")).as("__cand"))
      val next = dist.join(relaxed, Seq("gene"), "left")
        .select(col("gene"),
          when(col("dist").isNull, col("__cand"))
            .when(col("__cand").isNull, col("dist"))
            .otherwise(least(col("dist"), col("__cand"))).as("dist"))
        .localCheckpoint()
      changed = next.join(dist.withColumnRenamed("dist", "__old"), Seq("gene"))
        .filter(!(col("dist") <=> col("__old"))).limit(1).count() > 0
      dist = next
      round += 1
    }
    dist
  }

  /** All-pairs distances (src, gene, dist BIGINT nullable; null =
    * unreachable, self-distance 0) — the input to eccentricity /
    * closeness / diameter readouts. Same dual dispatch as
    * [[fromSource]]: a driver loop (per-source array Bellman–Ford,
    * O(|V|·|V|·|E|) worst case but diameter-bounded in practice) below
    * the thresholds; above them the SAME distributed relaxation with
    * the frontier keyed by (src, gene) — one edge⋈dist join + one
    * grouped min per round, shuffles bounded by |V|·|E| rows, which is
    * the honest cost of exact APSP and why callers at web scale should
    * restrict `nodes` to the (small) graph whose geometry they need,
    * e.g. the nation/category flow graph, not the raw entity graph. */
  def allPairs(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
               distributedThreshold: Long = graft.util.Dispatch.threshold(2000L),
               edgeThreshold: Long = graft.util.Dispatch.threshold(200000L)): DataFrame =
    DriverCollect.ifFits(nodes.select("gene"), distributedThreshold,
        edges.select(col("src"), col("dst"), col("w")), edgeThreshold) match {
      case Some((nodeRows, arcRows)) =>
        allPairsDriver(spark, nodeRows, arcRows)
      case None => allPairsDistributed(spark, nodes, edges)
    }

  private def allPairsDriver(spark: SparkSession, nodeRows: Array[Row],
                             arcRows: Array[Row]): DataFrame = {
    val (nodeSeq, arcs) = indexArcs(nodeRows, arcRows)
    val rows = nodeSeq.indices.flatMap { s =>
      val dist = Array.fill[Long](nodeSeq.length)(Long.MaxValue)
      dist(s) = 0L
      var changed = true
      var round = 0
      while (changed && round < nodeSeq.length) {
        changed = false
        arcs.foreach { case (u, v, w) =>
          if (dist(u) != Long.MaxValue && dist(u) + w < dist(v)) {
            dist(v) = dist(u) + w; changed = true
          }
        }
        round += 1
      }
      nodeSeq.indices.map { i =>
        Row(nodeSeq(s), nodeSeq(i),
          if (dist(i) == Long.MaxValue) null
          else java.lang.Long.valueOf(dist(i)))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("src", StringType, nullable = false),
        StructField("gene", StringType, nullable = false),
        StructField("dist", LongType, nullable = true))))
  }

  /** The unbounded-scale multi-source relaxation — [[fromSourceDistributed]]
    * with the state keyed by (src, gene); every source's frontier
    * advances in the same round, so the round count is the graph
    * DIAMETER, not |V|·sources. */
  def allPairsDistributed(spark: SparkSession, nodes: DataFrame,
                          edges: DataFrame): DataFrame = Pin.scope { pin =>
    val vertexSet = pin(nodes.select(col("gene")))
    val e = pin(edges.select(col("src").as("eu"), col("dst").as("ev"),
        col("w"))
      .filter(col("w") >= 0)
      .join(vertexSet.withColumnRenamed("gene", "eu"), Seq("eu"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "ev"), Seq("ev"), "left_semi"))
    val n = vertexSet.count()
    var dist = vertexSet.select(col("gene").as("src"))
      .crossJoin(vertexSet)
      .select(col("src"), col("gene"),
        when(col("src") === col("gene"), lit(0L)).as("dist"))
      .localCheckpoint()
    var changed = n > 0
    var round = 0L
    while (changed && round < n) {
      val relaxed = e.join(dist, e("eu") === dist("gene"))
        .filter(col("dist").isNotNull)
        .groupBy(col("src"), e("ev").as("gene"))
        .agg(min(col("dist") + col("w")).as("__cand"))
      val next = dist.join(relaxed, Seq("src", "gene"), "left")
        .select(col("src"), col("gene"),
          when(col("dist").isNull, col("__cand"))
            .when(col("__cand").isNull, col("dist"))
            .otherwise(least(col("dist"), col("__cand"))).as("dist"))
        .localCheckpoint()
      changed = next
        .join(dist.withColumnRenamed("dist", "__old"), Seq("src", "gene"))
        .filter(!(col("dist") <=> col("__old"))).limit(1).count() > 0
      dist = next
      round += 1
    }
    dist
  }

  /** Per-vertex geometry readout off [[allPairs]]: reach count,
    * eccentricity (max dist — exact BIGINT), classic closeness
    * n_reachable/Σd and harmonic centrality Σ 1/d, both 6 dp (the
    * harmonic sum is the disconnection-robust variant — unreachable
    * vertices contribute 0 instead of poisoning the mean). Self rows
    * are excluded from every aggregate. */
  def closenessStats(spark: SparkSession, nodes: DataFrame,
                     edges: DataFrame): DataFrame = {
    val ap = allPairs(spark, nodes, edges)
    ap.filter(col("src") =!= col("gene"))
      .groupBy(col("src").as("gene"))
      .agg(
        sum(when(col("dist").isNotNull, 1L).otherwise(0L))
          .as("n_reachable"),
        max(col("dist")).as("eccentricity"),
        sum(col("dist")).as("__sumd"),
        sum(when(col("dist") > 0, lit(1.0) / col("dist"))).as("__harm"))
      .select(col("gene"), col("n_reachable"), col("eccentricity"),
        when(col("__sumd") > 0,
          round(col("n_reachable") / col("__sumd").cast("double"), 6))
          .as("closeness"),
        round(coalesce(col("__harm"), lit(0.0)), 6).as("harmonic"))
  }
}
