package graft.graph

import graft.SparkSuite

class TrianglesSpec extends SparkSuite {
  import spark.implicits._

  test("countTriangles: hand-checked graph with hub, dups, self-loops") {
    // K4 on 1-4 (4 triangles) + hub 5 connected to 1,2,3 (3 more
    // triangles through the K4 edges) + pendant 6 (none). Duplicate and
    // reversed edges plus a self-loop must not change the count.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (1L, 5L), (5L, 2L), (5L, 3L),
      (2L, 1L), (3L, 3L)
    ).toDF("src", "dst")
    val n = Triangles.countTriangles(edges).as[Long].head()
    assert(n == 7L)
  }

  test("countTriangles matches brute force on a random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L
      if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val brute = (for {
      (a, b) <- pairs; (c, d) <- pairs if c == b
      if pairs.contains((a, d))
    } yield (a, b, d)).toSet
    val edges = pairs.toDF("src", "dst")
    assert(Triangles.countTriangles(edges).as[Long].head() == brute.size)
  }

  test("clusteringCoefficient matches brute force on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = (for {
      a <- 0L until 25L; b <- (a + 1) until 25L
      if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = adj.collect {
      case (v, ns) if ns.size >= 2 =>
        val tri = ns.toSeq.combinations(2)
          .count { case Seq(x, y) => adj(x).contains(y) }
        val coeff = BigDecimal(2.0 * tri / (ns.size.toLong * (ns.size - 1)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (v, ns.size.toLong, tri.toLong, coeff)
    }.toSet
    val got = Triangles.clusteringCoefficient(pairs.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expected)
  }

  test("clusteringCoefficient: triangle-free star has zero coefficients") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val got = Triangles.clusteringCoefficient(edges)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // leaves have degree 1 → dropped; the hub has 3 neighbors, 0 closed
    assert(got == Seq((0L, 3L, 0L, 0.0)))
  }
}
