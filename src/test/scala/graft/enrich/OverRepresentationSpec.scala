package graft.enrich

import graft.SparkSuite
import graft.functions.gfunctions.hypergeom_pvalue

class OverRepresentationSpec extends SparkSuite {
  import spark.implicits._

  test("hypergeom_pvalue matches the closed-form urn probabilities") {
    // N=10, K=4, n=3. P(X>=1) = 1 − C(6,3)/C(10,3) = 1 − 20/120 = 5/6;
    // P(X>=3) = C(4,3)/C(10,3) = 4/120 = 1/30.
    val df = Seq((1L, 4L, 3L, 10L), (3L, 4L, 3L, 10L),
      (0L, 4L, 3L, 10L), (4L, 4L, 3L, 10L)).toDF("k", "bigK", "n", "bigN")
    val got = df.select(
      hypergeom_pvalue($"k", $"bigK", $"n", $"bigN").as("p"))
      .collect().map(_.getAs[Double]("p"))
    assert(approx(got(0), 5.0 / 6, 1e-12))
    assert(approx(got(1), 1.0 / 30, 1e-12))
    assert(got(2) == 1.0)            // k=0: whole support
    assert(got(3) == 0.0)            // k > min(K, n): empty tail
  }

  test("hypergeom_pvalue: inconsistent margins yield null") {
    val df = Seq((1L, 11L, 3L, 10L), (1L, 4L, 12L, 10L))
      .toDF("k", "bigK", "n", "bigN")
    val got = df.select(
      hypergeom_pvalue($"k", $"bigK", $"n", $"bigN").as("p")).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("enrich: overlap counts, universe margins, fold enrichment") {
    val membership = Seq((1L, "s1"), (2L, "s1"), (3L, "s1"),
      (4L, "s2"), (5L, "s2"), (6L, "s2"), (7L, "s2"), (8L, "s2"))
      .toDF("item", "set")
    val selected = Seq(1L, 2L, 4L).toDF("item")
    val rows = OverRepresentation.enrich(membership, selected,
      "item", "set").collect().map(r => r.getString(0) -> r).toMap
    val s1 = rows("s1")
    assert(s1.getAs[Long]("set_size") == 3L)
    assert(s1.getAs[Long]("n_hits") == 2L)
    assert(s1.getAs[Long]("n_draw") == 3L)
    assert(s1.getAs[Long]("big_n") == 8L)
    // fold = (2/3)/(3/8) = 16/9 ≈ 1.7778
    assert(s1.getAs[Double]("fold_enrichment") == 1.7778)
    // P(X>=2), N=8 K=3 n=3: [C(3,2)C(5,1)+C(3,3)]/C(8,3) = 16/56
    assert(approx(s1.getAs[Double]("pvalue"),
      math.rint(16.0 / 56 * 1e6) / 1e6, 1e-9))
    val s2 = rows("s2")
    assert(s2.getAs[Long]("n_hits") == 1L)
  }

  test("enrich: a set with zero hits gets p-value 1") {
    val membership = Seq((1L, "hit"), (2L, "none")).toDF("item", "set")
    val selected = Seq(1L).toDF("item")
    val rows = OverRepresentation.enrich(membership, selected,
      "item", "set").collect().map(r => r.getString(0) -> r).toMap
    assert(rows("none").getAs[Long]("n_hits") == 0L)
    assert(rows("none").getAs[Double]("pvalue") == 1.0)
  }
}
