package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.util.Pin

/** k-core decomposition by iterative peeling (graph-analytics extension
  * beyond the reference's G1–G7 family; same undirected edge-list data
  * model as [[Triangles]]).
  *
  * The k-core of a graph is the maximal subgraph in which every vertex
  * has degree ≥ k — the standard "dense nucleus" extractor (Seidman 1983,
  * "Network structure and minimum degree"). Peeling computes it exactly:
  * repeatedly delete every vertex whose current degree is < k until none
  * remains. The deletion order does not matter (the k-core is unique), so
  * the driver and distributed paths — and the SQL oracle's synchronous
  * replay — all land on the identical vertex set. No floating point
  * anywhere: the result is a set plus integer degrees, making the
  * cross-engine compare a plain value match.
  *
  * Distributed round = one degree aggregate over the live symmetric edge
  * list + two anti-joins dropping arcs incident to under-degree vertices.
  * All shuffles are edge-bounded; the peel cascade depth (not |V|) bounds
  * the round count, and each round strictly shrinks the edge frame.
  * `localCheckpoint` pins every round's frame so the lineage never
  * re-derives round i−1 inside round i — the [[Centrality]] loop
  * precedent.
  *
  * At 100 TB scale the edge frame is the only large state; degrees and
  * the weak-vertex set are |V|-bounded and shrink monotonically. A graph
  * whose peel cascade is pathologically deep (a long path peels one
  * vertex per round at k=2... but only when peeling *reaches* it — real
  * corpora cascade in a handful of rounds) is capped by `maxRounds`,
  * after which the loop fails loudly rather than running unbounded jobs.
  */
object KCore {

  /** Vertices of the k-core with their degree inside the core:
    * (node, core_degree BIGINT). Empty result when no vertex survives.
    *
    * Dispatch mirrors [[Centrality.pageRank]]: below `edgeThreshold` the
    * canonical edge list is collected and peeled in one driver pass (the
    * common case for the dimension-bounded graphs this library builds);
    * above it the same fixpoint runs as a DataFrame loop that never
    * collects the graph. Both paths return the identical unique k-core.
    */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int,
            src: String = "src", dst: String = "dst",
            edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L),
            maxRounds: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canon = Triangles.canonicalize(edges, src, dst)
    DriverCollect.ifFits(canon, edgeThreshold) match {
      case Some(edgeRows) =>
        kCoreDriver(spark, canon.schema("src").dataType, edgeRows, k)
      case None => Pin.scope { pin =>
        kCoreDistributed(spark, pin(canon), k, maxRounds)
      }
    }
  }

  /** Driver peeling: one pass over the collected (src, dst) edge rows
    * with a min-degree worklist; O(E) total work. */
  private def kCoreDriver(spark: SparkSession, nodeType: DataType,
                          edgeRows: Array[Row], k: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("node", nodeType, nullable = true),
      StructField("core_degree", LongType, nullable = false)))
    val edgeSeq = edgeRows.map(r => (r.get(0), r.get(1)))
    val adj = scala.collection.mutable.Map.empty[Any,
      scala.collection.mutable.Set[Any]]
    edgeSeq.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val alive = scala.collection.mutable.Set[Any](adj.keys.toSeq: _*)
    // Worklist peel: seed with every under-degree vertex, cascade removals.
    val queue = scala.collection.mutable.Queue[Any](
      alive.filter(v => adj(v).size < k).toSeq: _*)
    val queued = scala.collection.mutable.Set[Any](queue.toSeq: _*)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      if (alive.remove(v)) {
        adj(v).foreach { u =>
          if (alive.contains(u) && !queued.contains(u)) {
            val d = adj(u).count(alive.contains)
            if (d < k) { queue.enqueue(u); queued += u }
          }
        }
      }
    }
    val rows = alive.toSeq.map { v =>
      Row(v, adj(v).count(alive.contains).toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), outSchema)
  }

  /** Distributed synchronous peeling: each round removes ALL currently
    * under-degree vertices at once (the oracle's replay order); the
    * fixpoint is the same k-core the sequential worklist reaches. */
  private def kCoreDistributed(spark: SparkSession, canon: DataFrame,
                               k: Int, maxRounds: Int): DataFrame = {
    var sym = canon.select(col("src"), col("dst"))
      .union(canon.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var round = 0
    var done = false
    while (!done) {
      require(round < maxRounds,
        s"k-core peel exceeded $maxRounds rounds — raise maxRounds")
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("__deg"))
      // this round's weak set is pinned until the round's cut
      Pin.scope { pin =>
        val weak = pin(deg.filter(col("__deg") < k).select(col("node")))
        if (weak.count() == 0L) done = true
        else {
          sym = sym
            .join(weak.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
            .join(weak.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
            .localCheckpoint()
          round += 1
        }
      }
    }
    sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("core_degree"))
  }
}
