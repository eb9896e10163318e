package graft.graph

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.SparkSuite
import graft.pipeline.{DrugTargetPipeline, PipelineConfig}

/** [[Centrality.networkScores]] against the frame composition it replaces
  * in the pipeline, `compositeScores(deg ⋈ btw ⋈ eig)`: every double
  * compared with `==` and the rows in the same order, no tolerance. */
class NetworkScoresSpec extends SparkSuite {
  import spark.implicits._

  private def frameScores(nodes: Seq[String],
                          edges: Seq[(String, String, Double)]): Seq[Row] = {
    val n = nodes.toDF("gene")
    val e = edges.toDF("src", "dst", "weight")
    Centrality.compositeScores(Centrality.degreeCentrality(n, e)
      .join(Centrality.betweennessCentrality(spark, n, e), Seq("gene"))
      .join(Centrality.eigenvectorCentrality(spark, n, e), Seq("gene")))
      .collect().toSeq
  }

  private def assertSameBits(nodes: IndexedSeq[String],
                             edges: Seq[(String, String, Double)]): Unit = {
    val want = frameScores(nodes, edges)
    val got = Centrality.networkScores(nodes, edges)
    assert(got.map(_.getString(0)) == want.map(_.getString(0)), "row order")
    for ((g, w) <- got.zip(want); c <- 1 to 4)
      assert(g.getDouble(c) == w.getDouble(c),
        s"${g.getString(0)} column $c: ${g.getDouble(c)} vs ${w.getDouble(c)}")
  }

  /** G(n, p) over n named nodes, plus isolated nodes whose names order
    * differently in UTF-8 bytes and in UTF-16 units (the tiebreak among
    * equal composites is Spark's byte order). */
  private def randomGraph(n: Int, p: Double, seed: Long)
      : (IndexedSeq[String], Seq[(String, String, Double)]) = {
    val rnd = new scala.util.Random(seed)
    val names = (0 until n).map(i => f"g$i%03d")
    val edges = for {
      i <- names.indices; j <- i + 1 until n if rnd.nextDouble() < p
    } yield (names(i), names(j), 0.7 + 0.3 * rnd.nextDouble())
    (names ++ Seq("zＡ", "z𝐀", "z~"), edges)
  }

  test("the driver slices are the ones parallelize cuts") {
    for ((n, k) <- Seq(0 -> 1, 2 -> 1, 37 -> 2, 300 -> 18, 503 -> 31, 4100 -> 256)) {
      val want = spark.sparkContext.parallelize(0 until n, k).glom().collect()
        .map(_.toSeq).toSeq
      assert(Centrality.sourceSlices(n, k).map(_.toSeq) == want, s"n=$n k=$k")
    }
    assert(Centrality.brandesSlices(303) == 18 && Centrality.mergeWidths(18) == Seq(3))
    assert(Centrality.brandesSlices(503) == 31 && Centrality.mergeWidths(31) == Seq(5))
    assert(Centrality.mergeWidths(1).isEmpty)
  }

  test("seeded random graphs of ~300 and 500 nodes with isolated nodes: " +
    "18 and 31 Brandes slices, one merge level each, same bits") {
    for ((n, seed) <- Seq(300 -> 11L, 500 -> 12L)) {
      val (nodes, edges) = randomGraph(n, 0.01, seed)
      val isolated = nodes.toSet -- edges.flatMap(e => Seq(e._1, e._2))
      assert(isolated.size > 3, s"n=$n: ${isolated.size} isolated")
      assertSameBits(nodes, edges)
    }
  }

  test("n = 2 and n = 3, with and without edges") {
    assertSameBits(IndexedSeq("b", "a"), Seq(("b", "a", 0.9)))
    assertSameBits(IndexedSeq("b", "a"), Seq.empty)
    assertSameBits(IndexedSeq("c", "a", "b"), Seq(("a", "b", 0.8), ("b", "c", 0.75)))
    assertSameBits(IndexedSeq("c", "a", "b"), Seq(("a", "c", 0.8)))
  }

  test("zero-range centrality columns score 0") {
    // C6: every node has the same degree, betweenness and eigenvector
    val nodes = (1 to 6).map(i => s"c$i")
    val edges = nodes.indices.map(i => (nodes(i), nodes((i + 1) % 6), 0.9))
    assertSameBits(nodes, edges)
    assert(Centrality.networkScores(nodes, edges).forall(r =>
      (1 to 4).forall(r.getDouble(_) == 0.0)))
  }

  test("the medium fixture's network: same bits") {
    val out = Files.createTempDirectory("graft-scores").toString
    val result = new DrugTargetPipeline(spark, PipelineConfig(
      matrixPath = resource("medium_geo_matrix.txt"),
      mappingCsvPath = resource("medium_probe_mapping.csv"),
      outputDir = out)).run()
    assert(result.failures.isEmpty, result.failures)
    // the GEXF the pipeline wrote: nodes in network order, edges by id
    val gexf = Files.readString(Paths.get(s"$out/data/gene_network.gexf"))
    val nodes = """<node id="\d+" label="([^"]+)" />""".r
      .findAllMatchIn(gexf).map(_.group(1)).toIndexedSeq
    val edges = """<edge source="(\d+)" target="(\d+)" id="\d+" weight="([^"]+)" />""".r
      .findAllMatchIn(gexf)
      .map(m => (nodes(m.group(1).toInt), nodes(m.group(2).toInt), m.group(3).toDouble))
      .toSeq
    assert(nodes.size == 9 && edges.nonEmpty)
    assertSameBits(nodes, edges)
  }

  test("non-convergence throws the frame form's IllegalStateException") {
    // P500: the (I + A) power iteration's spectral gap is ~4e-5, far from
    // sum|Δ| < n·tol in 1000 steps
    val nodes = (0 until 500).map(i => f"p$i%03d")
    val edges = (1 until 500).map(i => (nodes(i - 1), nodes(i), 0.9))
    val want = intercept[IllegalStateException](Centrality.eigenvectorCentrality(
      spark, nodes.toDF("gene"), edges.toDF("src", "dst", "weight")))
    val got = intercept[IllegalStateException](Centrality.networkScores(nodes, edges))
    assert(got.getMessage == "eigenvector centrality failed to converge in 1000 iterations")
    assert(got.getMessage == want.getMessage)
  }
}
