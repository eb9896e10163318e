package graft.ml

import graft.SparkSuite

class RrfFusionSpec extends SparkSuite {
  import spark.implicits._

  // one query, four candidates with hand-computable ranks:
  //   sysA scores: a=4 > b=3 > c=2 > d=1   → ranks 1,2,3,4
  //   sysB scores: d=9 > c=8 > b=7 > a=6   → ranks 4,3,2,1 reversed
  private val scored = Seq(
    ("q1", "a", 4.0, 6.0), ("q1", "b", 3.0, 7.0),
    ("q1", "c", 2.0, 8.0), ("q1", "d", 1.0, 9.0))
    .toDF("q", "item", "sa", "sb")

  private def rrf(r1: Int, r2: Int, k: Int = 60): Double =
    1.0 / (k + r1) + 1.0 / (k + r2)

  test("hand-computed ranks, fused score, and tie-break by item") {
    val got = Ranking.rrfFusion(scored, "q", "item", Seq("sa", "sb"),
        k = 60, topN = 4)
      .orderBy("fused_rank").collect()
    // symmetric rank pairs (1,4)/(4,1) and (2,3)/(3,2) fuse to exactly
    // equal scores -> item asc breaks the ties; 1/(k+r) is convex in
    // r, so the extreme pair (1,4) beats the central (2,3):
    // 1/61+1/64 > 1/62+1/63. Order: a, d, b, c.
    assert(got.map(_.getAs[String]("item")).toSeq ==
      Seq("a", "d", "b", "c"))
    val top = got.head
    assert(top.getAs[Int]("rank_1") == 1)
    assert(top.getAs[Int]("rank_2") == 4)
    assert(approx(top.getAs[Double]("rrf_score"), rrf(1, 4), 1e-6))
    assert(got.map(_.getAs[Int]("fused_rank")).toSeq == Seq(1, 2, 3, 4))
  }

  test("topN truncates per query independently") {
    val two = Seq(
      ("q1", "a", 2.0, 2.0), ("q1", "b", 1.0, 1.0),
      ("q2", "x", 5.0, 1.0), ("q2", "y", 1.0, 5.0),
      ("q2", "z", 3.0, 3.0)).toDF("q", "item", "sa", "sb")
    val got = Ranking.rrfFusion(two, "q", "item", Seq("sa", "sb"),
      topN = 1).collect()
    assert(got.length == 2)
    val byQ = got.map(r => r.getAs[String]("q") ->
      r.getAs[String]("item")).toMap
    assert(byQ("q1") == "a")
    // q2: x=(1,3) and y=(3,1) tie exactly and beat z=(2,2) by
    // convexity (1/61+1/63 > 2/62); item asc picks x
    assert(byQ("q2") == "x")
  }

  test("null score ranks last but the candidate still fuses") {
    val withNull = Seq(
      ("q1", "a", Some(3.0), Some(1.0)),
      ("q1", "b", None, Some(9.0)),
      ("q1", "c", Some(1.0), Some(5.0)))
      .toDF("q", "item", "sa", "sb")
    val got = Ranking.rrfFusion(withNull, "q", "item",
        Seq("sa", "sb"), topN = 3)
      .collect().map(r => r.getAs[String]("item") ->
        (r.getAs[Int]("rank_1"), r.getAs[Int]("rank_2"))).toMap
    assert(got("b") == (3, 1)) // null sa -> last in system A
    assert(got("a") == (1, 3))
  }

  test("single system degenerates to its own ranking") {
    val got = Ranking.rrfFusion(scored, "q", "item", Seq("sa"),
      topN = 4).orderBy("fused_rank").collect()
    assert(got.map(_.getAs[String]("item")).toSeq ==
      Seq("a", "b", "c", "d"))
  }

  test("invalid params rejected") {
    assert(intercept[IllegalArgumentException] {
      Ranking.rrfFusion(scored, "q", "item", Seq.empty)
    }.getMessage == "requirement failed: need at least one score column")
    assert(intercept[IllegalArgumentException] {
      Ranking.rrfFusion(scored, "q", "item", Seq("sa"), k = 0)
    }.getMessage == "requirement failed: k must be >= 1, got 0")
  }
}
