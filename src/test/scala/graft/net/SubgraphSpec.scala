package graft.net

import org.apache.spark.sql.Row

import graft.SparkSuite
import graft.report.Sinks

class SubgraphSpec extends SparkSuite {
  import spark.implicits._

  private val edges = Seq(
    ("A", "B", 0.9), ("B", "C", 0.8), ("C", "D", 0.75), ("A", "D", 0.71))
    .toDF("src", "dst", "weight")

  test("subgraph keeps only edges with both endpoints in the node set (G5)") {
    val nodes = Seq("A", "B", "C").toDF("gene")
    val got = CoExpressionNetwork.subgraph(edges, nodes)
      .as[(String, String, Double)].collect().map(e => (e._1, e._2)).toSet
    assert(got == Set(("A", "B"), ("B", "C")))
  }

  test("networkVizData drops PLACEHOLDER (F10), sizes nodes by composite (J6)") {
    val scores = Seq(
      ("A", 0.9), ("B", 0.8), ("C", 0.5), ("D", 0.4), ("PLACEHOLDER", 0.0))
      .toDF("gene", "composite_score")
    val (nodes, sub) = Sinks.networkVizData(scores, edges, topN = 3)
    val n = nodes.as[(String, Double)].collect().toMap
    assert(n.keySet == Set("A", "B", "C") && n("A") == 0.9)
    val e = sub.as[(String, String, Double)].collect().map(x => (x._1, x._2)).toSet
    assert(e == Set(("A", "B"), ("B", "C")))
  }

  test("barplotData: top-N by composite, placeholder-free (F10)") {
    val scores = Seq(("PLACEHOLDER", 9.9), ("A", 0.9), ("B", 0.8), ("C", 0.5))
      .toDF("gene", "composite_score")
    val got = Sinks.barplotData(scores, topN = 2)
      .as[(String, Double)].collect().toSeq
    assert(got == Seq(("A", 0.9), ("B", 0.8)))
  }

  test("networkVizRows / barplotRows: the frame forms' tables from score " +
    "rows already sorted by composite") {
    val rows = Seq(("PLACEHOLDER", 9.9), ("A", 0.9), ("B", 0.8), ("C", 0.5),
      ("D", 0.4)).map { case (g, c) => Row(g, 0.0, 0.0, 0.0, c) }
    val es = Seq(("A", "B", 0.9), ("B", "C", 0.8), ("C", "D", 0.75), ("A", "D", 0.71))
    val (nodes, sub) = Sinks.networkVizRows(rows, es, topN = 3)
    assert(nodes == Seq(Row("A", 0.9), Row("B", 0.8), Row("C", 0.5)))
    assert(sub == Seq(Row("A", "B", 0.9), Row("B", "C", 0.8)))
    assert(Sinks.barplotRows(rows, topN = 2) == Seq(Row("A", 0.9), Row("B", 0.8)))
  }
}
