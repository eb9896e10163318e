package graft.graph

import graft.SparkSuite

class WalksSpec extends SparkSuite {
  import spark.implicits._

  private def pathGraph = {
    // directed path 1 -> 2 -> 3
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    (nodes, edges)
  }

  test("personalizedPageRank: mass flows from the seed down the path") {
    val (nodes, edges) = pathGraph
    val r = Walks.personalizedPageRank(spark, nodes, edges, seed = 1L,
        damping = 0.5, iters = 30)
      .orderBy("node").as[(Long, Double)].collect()
    // fixed point: x1 = 0.5 + 0.5*dang, dang = x3; x2 = 0.5*x1;
    // x3 = 0.5*x2 = 0.25*x1. So x1 = 0.5 + 0.125*x1 -> x1 = 4/7,
    // x2 = 2/7, x3 = 1/7
    assert(math.abs(r(0)._2 - 4.0 / 7) < 1e-5)
    assert(math.abs(r(1)._2 - 2.0 / 7) < 1e-5)
    assert(math.abs(r(2)._2 - 1.0 / 7) < 1e-5)
  }

  test("personalizedPageRank: a seed outside the node set fails fast") {
    val (nodes, edges) = pathGraph
    // the driver loop, then the distributed loop (node cap 0)
    Seq(100000L, 0L).foreach { cap =>
      val e = intercept[IllegalArgumentException] {
        Walks.personalizedPageRank(spark, nodes, edges, seed = 99L,
          driverThreshold = cap)
      }
      assert(e.getMessage.contains("seed 99 is not in the node set"))
    }
  }

  test("personalizedPageRank: zero iterations keeps the seed indicator") {
    val (nodes, edges) = pathGraph
    val r = Walks.personalizedPageRank(spark, nodes, edges, seed = 2L,
        iters = 0)
      .orderBy("node").as[(Long, Double)].collect()
    assert(r.map(_._2).toSeq == Seq(0.0, 1.0, 0.0))
  }

  test("katz: path graph walk counts attenuate") {
    val (nodes, edges) = pathGraph
    // alpha=0.5, beta=1, enough iters to converge on a DAG:
    // x1 = 1 (no in-edges); x2 = 1 + 0.5*x1 = 1.5; x3 = 1 + 0.5*x2 = 1.75
    val r = Walks.katz(spark, nodes, edges, alpha = 0.5, iters = 10)
      .orderBy("node").as[(Long, Double)].collect()
    assert(r.map(_._2).toSeq == Seq(1.0, 1.5, 1.75))
  }

  test("driver and distributed paths agree on the path graph") {
    val (nodes, edges) = pathGraph
    val drv = Walks.personalizedPageRank(spark, nodes, edges, seed = 1L,
        damping = 0.5, iters = 15)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    val dst = Walks.personalizedPageRank(spark, nodes, edges, seed = 1L,
        damping = 0.5, iters = 15, driverThreshold = 0L)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    assert(drv == dst)
    val kd = Walks.katz(spark, nodes, edges, alpha = 0.5, iters = 6)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    val kx = Walks.katz(spark, nodes, edges, alpha = 0.5, iters = 6,
        driverThreshold = 0L)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    assert(kd == kx)
  }

  test("katz: isolated node keeps beta") {
    val nodes = Seq(1L, 2L, 9L).toDF("node")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val r = Walks.katz(spark, nodes, edges, alpha = 0.25, beta = 2.0,
        iters = 5)
      .orderBy("node").as[(Long, Double)].collect()
    assert(r(2)._2 == 2.0)      // 9 has no in-edges
    assert(r(1)._2 == 2.5)      // 2 = beta + 0.25*x1 = 2 + 0.5
  }
}
