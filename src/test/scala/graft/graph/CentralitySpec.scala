package graft.graph

import graft.SparkSuite

class CentralitySpec extends SparkSuite {

  private def graph(nodes: Seq[String], edges: Seq[(String, String)]) = {
    import spark.implicits._
    (nodes.toDF("gene"),
      edges.map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "weight"))
  }

  private def byGene(df: org.apache.spark.sql.DataFrame, col: String) =
    df.collect().map(r => r.getString(0) -> r.getAs[Double](col)).toMap

  test("star S4: center degree/betweenness 1.0, leaves 0") {
    val (nodes, edges) = graph(Seq("c", "l1", "l2", "l3"),
      Seq("c" -> "l1", "c" -> "l2", "c" -> "l3"))
    val deg = byGene(Centrality.degreeCentrality(nodes, edges), "degree_centrality")
    assert(approx(deg("c"), 1.0) && approx(deg("l1"), 1.0 / 3))
    val btw = byGene(Centrality.betweennessCentrality(spark, nodes, edges),
      "betweenness_centrality")
    assert(approx(btw("c"), 1.0) && approx(btw("l1"), 0.0))
  }

  test("betweenness: a graph past the driver-collectable caps fails " +
    "with the contract message, not an OOM") {
    val (nodes, edges) = graph(Seq("c", "l1", "l2"),
      Seq("c" -> "l1", "c" -> "l2"))
    val e = intercept[IllegalArgumentException] {
      Centrality.betweennessCentrality(spark, nodes, edges,
        maxDriverEdges = 1L)
    }
    assert(e.getMessage.contains("driver-collectable"))
  }

  test("betweenness: reruns on a many-partition graph are bit-identical") {
    // G(n, p), n = 500, p = 0.02, seed 7: 500 sources run in 31
    // partitions, so the per-partition Brandes vectors pass a shuffle
    // merge level and a driver-side merge. Merged in completion order,
    // most reruns differed from the first in the last bits.
    val rnd = new scala.util.Random(7)
    val names = (0 until 500).map(i => f"g$i%03d")
    val pairs = for {
      i <- names.indices; j <- i + 1 until names.length
      if rnd.nextDouble() < 0.02
    } yield names(i) -> names(j)
    val (nodes, edges) = graph(names, pairs)
    def bits(): Map[String, Long] =
      Centrality.betweennessCentrality(spark, nodes, edges).collect()
        .map(r => r.getString(0) ->
          java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val runs = Seq.fill(8)(bits())
    runs.tail.zipWithIndex.foreach { case (r, i) =>
      val moved = names.count(g => r(g) != runs.head(g))
      assert(moved == 0, s"rerun ${i + 2}: $moved of 500 nodes differ")
    }
  }

  test("path P4: nx-parity centralities") {
    val (nodes, edges) = graph(Seq("a", "b", "c", "d"),
      Seq("a" -> "b", "b" -> "c", "c" -> "d"))
    val deg = byGene(Centrality.degreeCentrality(nodes, edges), "degree_centrality")
    assert(approx(deg("a"), 1.0 / 3) && approx(deg("b"), 2.0 / 3))
    val btw = byGene(Centrality.betweennessCentrality(spark, nodes, edges),
      "betweenness_centrality")
    // nx.betweenness_centrality(path_graph(4)) = {0: 0, 1: 2/3, 2: 2/3, 3: 0}
    assert(approx(btw("a"), 0.0) && approx(btw("b"), 2.0 / 3) &&
      approx(btw("c"), 2.0 / 3) && approx(btw("d"), 0.0))
    // analytic eigenvector of P4: proportional to sin(k*pi/5)
    val eig = byGene(Centrality.eigenvectorCentrality(spark, nodes, edges),
      "eigenvector_centrality")
    val raw = Seq(math.sin(math.Pi / 5), math.sin(2 * math.Pi / 5),
      math.sin(3 * math.Pi / 5), math.sin(4 * math.Pi / 5))
    val norm = math.sqrt(raw.map(x => x * x).sum)
    assert(approx(eig("a"), raw.head / norm, 1e-4))
    assert(approx(eig("b"), raw(1) / norm, 1e-4))
  }

  test("cycle C5: uniform centralities") {
    val ns = (0 until 5).map("n" + _)
    val (nodes, edges) = graph(ns,
      (0 until 5).map(i => ns(i) -> ns((i + 1) % 5)))
    val deg = byGene(Centrality.degreeCentrality(nodes, edges), "degree_centrality")
    assert(ns.forall(n => approx(deg(n), 0.5)))
    val btw = byGene(Centrality.betweennessCentrality(spark, nodes, edges),
      "betweenness_centrality")
    assert(ns.forall(n => approx(btw(n), 1.0 / 6)))
    val eig = byGene(Centrality.eigenvectorCentrality(spark, nodes, edges),
      "eigenvector_centrality")
    assert(ns.forall(n => approx(eig(n), 1.0 / math.sqrt(5), 1e-6)))
  }

  test("isolated node gets zero degree; disconnected handled") {
    val (nodes, edges) = graph(Seq("a", "b", "iso"), Seq("a" -> "b"))
    val deg = byGene(Centrality.degreeCentrality(nodes, edges), "degree_centrality")
    assert(approx(deg("iso"), 0.0) && approx(deg("a"), 0.5))
    val btw = byGene(Centrality.betweennessCentrality(spark, nodes, edges),
      "betweenness_centrality")
    assert(btw.values.forall(_ == 0.0))
  }

  test("sampled betweenness: exact at k>=n, symmetric-graph parity at k<n") {
    // cycle C6: all nodes symmetric, so any evenly-spread sample gives
    // the exact answer after the n/k estimator correction
    val ns = (0 until 6).map("n" + _)
    val (nodes, edges) = graph(ns, (0 until 6).map(i => ns(i) -> ns((i + 1) % 6)))
    val exact = byGene(Centrality.betweennessCentrality(spark, nodes, edges),
      "betweenness_centrality")
    val full = byGene(Centrality.betweennessCentrality(spark, nodes, edges,
      sampleSources = Some(6)), "betweenness_centrality")
    val sampled = byGene(Centrality.betweennessCentrality(spark, nodes, edges,
      sampleSources = Some(3)), "betweenness_centrality")
    ns.foreach(g => assert(approx(full(g), exact(g))))
    // C6 is vertex-transitive: every source contributes the same total
    // dependency, so the n/k estimator preserves the total mass exactly
    assert(approx(sampled.values.sum, exact.values.sum, 1e-9),
      s"${sampled.values.sum} vs ${exact.values.sum}")
  }

  test("distributed eigenvector matches the driver loop (P4 + C5 + star)") {
    for ((ns, es) <- Seq(
        (Seq("a", "b", "c", "d"), Seq("a" -> "b", "b" -> "c", "c" -> "d")),
        ((0 until 5).map("n" + _),
          (0 until 5).map(i => ("n" + i) -> ("n" + (i + 1) % 5))),
        (Seq("c", "l1", "l2", "l3"),
          Seq("c" -> "l1", "c" -> "l2", "c" -> "l3")))) {
      val (nodes, edges) = graph(ns, es)
      val driver = byGene(
        Centrality.eigenvectorCentrality(spark, nodes, edges),
        "eigenvector_centrality")
      val dist = byGene(
        Centrality.eigenvectorCentralityDistributed(spark, nodes, edges),
        "eigenvector_centrality")
      ns.foreach { n =>
        assert(approx(driver(n), dist(n), 1e-5), s"node $n: ${driver(n)} vs ${dist(n)}")
      }
    }
  }

  test("pageRank: probability distribution, structure-consistent ranks") {
    // path a-b-c: ends symmetric, middle highest; scores sum to 1
    val (nodes, edges) = graph(Seq("a", "b", "c"),
      Seq("a" -> "b", "b" -> "c"))
    val pr = byGene(Centrality.pageRank(spark, nodes, edges), "pagerank")
    assert(approx(pr("a"), pr("c"), 1e-12))
    assert(pr("b") > pr("a"))
    assert(approx(pr.values.sum, 1.0, 1e-9))
  }

  test("pageRank: fixpoint parity on the P4 path graph") {
    // independently computed fixpoint of the alpha=0.85 update on P4
    // (power iteration to convergence): ends 0.175439, middles 0.324561;
    // 20 fixed iterations are already inside 1e-6 on this graph
    val (nodes, edges) = graph(Seq("a", "b", "c", "d"),
      Seq("a" -> "b", "b" -> "c", "c" -> "d"))
    val pr = byGene(Centrality.pageRank(spark, nodes, edges), "pagerank")
    assert(approx(pr("a"), 0.175439, 1e-4) && approx(pr("b"), 0.324561, 1e-4))
  }

  test("pageRank: dangling (isolated) node mass is redistributed") {
    val (nodes, edges) = graph(Seq("a", "b", "x"), Seq("a" -> "b"))
    val pr = byGene(Centrality.pageRank(spark, nodes, edges), "pagerank")
    assert(approx(pr.values.sum, 1.0, 1e-9))
    assert(pr("x") > 0.0 && pr("x") < pr("a"))
  }

  test("distributed pageRank matches the driver loop") {
    for ((ns, es) <- Seq(
        (Seq("a", "b", "c", "d"), Seq("a" -> "b", "b" -> "c", "c" -> "d")),
        ((0 until 5).map("n" + _),
          (0 until 5).map(i => ("n" + i) -> ("n" + (i + 1) % 5))),
        (Seq("c", "l1", "l2", "l3", "iso"),
          Seq("c" -> "l1", "c" -> "l2", "c" -> "l3")))) {
      val (nodes, edges) = graph(ns, es)
      val driver = byGene(Centrality.pageRank(spark, nodes, edges), "pagerank")
      val dist = byGene(
        Centrality.pageRankDistributed(spark, nodes, edges), "pagerank")
      ns.foreach { n =>
        assert(approx(driver(n), dist(n), 1e-9), s"node $n: ${driver(n)} vs ${dist(n)}")
      }
    }
  }

  test("compositeScores: min-max + mean, zero-range column -> 0") {
    import spark.implicits._
    val df = Seq(
      ("g1", 0.2, 0.0, 5.0), ("g2", 0.6, 0.0, 10.0), ("g3", 1.0, 0.0, 7.5))
      .toDF("gene", "degree_centrality", "betweenness_centrality",
        "eigenvector_centrality")
    val out = Centrality.compositeScores(df).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("composite_score")).toMap
    // degree normalizes to 0/0.5/1, betweenness all 0, eigen 0/1/0.5
    assert(approx(out("g1"), 0.0))
    assert(approx(out("g2"), (0.5 + 0.0 + 1.0) / 3))
    assert(approx(out("g3"), (1.0 + 0.0 + 0.5) / 3))
  }

  test("pageRankWeighted: weight-proportional mass, both paths agree") {
    import spark.implicits._
    // a sends 9/10 of its mass to b, 1/10 to c; d dangles
    val edges = Seq(("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0),
      ("c", "a", 1.0)).toDF("src", "dst", "w")
    val nodes = Seq("a", "b", "c", "d").toDF("gene")
    val paths = Seq(
      Centrality.pageRankWeighted(spark, nodes, edges),
      Centrality.pageRankWeightedDistributed(spark, nodes, edges))
      .map(_.as[(String, Double)].collect().toMap)
    paths.foreach { pr =>
      // probability distribution; b far above c (9× the inbound share)
      assert(approx(pr.values.sum, 1.0, 1e-9))
      assert(pr("b") > pr("c") * 3 && pr("a") > pr("b"))
    }
    // driver and distributed paths agree to summation noise
    paths(0).keys.foreach(k => assert(approx(paths(0)(k), paths(1)(k), 1e-9)))
    // uniform weights must reduce to the directed unweighted update:
    // hand-check a 2-cycle — symmetric, so both nodes get 1/2
    val cyc = Seq(("x", "y", 5.0), ("y", "x", 5.0)).toDF("src", "dst", "w")
    val got = Centrality.pageRankWeighted(spark,
        Seq("x", "y").toDF("gene"), cyc)
      .as[(String, Double)].collect().toMap
    assert(approx(got("x"), 0.5, 1e-12) && approx(got("y"), 0.5, 1e-12))
  }

  test("hits matches a driver-side reference on a directed graph") {
    import spark.implicits._
    // a,b both point at c; c points at d; e isolated
    val edgeSeq = Seq(("a", "c"), ("b", "c"), ("c", "d"))
    val nodeSeq = Seq("a", "b", "c", "d", "e")
    val edges = edgeSeq.toDF("src", "dst")
    val nodes = nodeSeq.toDF("gene")
    val iters = 10
    // reference: same fixed iteration, dense arrays
    val idx = nodeSeq.zipWithIndex.toMap
    var h = Array.fill(nodeSeq.size)(1.0 / nodeSeq.size)
    var a = Array.fill(nodeSeq.size)(0.0)
    def norm(x: Array[Double]): Array[Double] = {
      val n = math.sqrt(x.map(v => v * v).sum)
      if (n == 0.0) x else x.map(_ / n)
    }
    (1 to iters).foreach { _ =>
      val ar = Array.fill(nodeSeq.size)(0.0)
      edgeSeq.foreach { case (u, v) => ar(idx(v)) += h(idx(u)) }
      a = norm(ar)
      val hr = Array.fill(nodeSeq.size)(0.0)
      edgeSeq.foreach { case (u, v) => hr(idx(u)) += a(idx(v)) }
      h = norm(hr)
    }
    // both dispatch paths must agree with the reference (and so with
    // each other, within summation-order noise)
    Seq(
      Centrality.hits(spark, nodes, edges, iters),
      Centrality.hitsDistributed(spark, nodes, edges, iters)
    ).foreach { df =>
      val got = df.as[(String, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      nodeSeq.foreach { g =>
        assert(approx(got(g)._1, h(idx(g))), s"hub $g")
        assert(approx(got(g)._2, a(idx(g))), s"authority $g")
      }
      // structure: c is the sole authority sink of two hubs; e is nothing
      assert(got("c")._2 > got("d")._2 && got("e") == (0.0, 0.0))
    }
  }
}
