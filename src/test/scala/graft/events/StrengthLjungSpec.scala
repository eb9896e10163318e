package graft.events

import graft.SparkSuite

class StrengthLjungSpec extends SparkSuite {
  import spark.implicits._

  test("strength: a strongly weekly series scores f_seasonal near 1; " +
    "pure noise-free linear trend scores f_trend 1") {
    val weekly = (0 until 56).map(i =>
      ("w", i, 100.0 + (if (i % 7 == 0) 50.0 else 0.0)))
    val linear = (0 until 56).map(i => ("l", i, 10.0 + 2.0 * i))
    val r = Decompose.strength((weekly ++ linear).toDF("g", "d", "v"),
      "g", "d", "v", m = 7).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("w").getAs[Double]("f_seasonal") > 0.95)
    assert(r("l").getAs[Double]("f_trend") > 0.99)
    assert(r("l").getAs[Double]("f_seasonal") < 0.2)
  }

  test("ljungBox2: strong lag-1 autocorrelation rejects whiteness; " +
    "alternating +/- pattern also rejects via negative r1") {
    // slow sine -> big positive r1 -> q large -> p ~ 0
    val smooth = (0 until 60).map(i =>
      ("s", i, math.sin(i / 10.0) * 10))
    val alt = (0 until 60).map(i =>
      ("a", i, if (i % 2 == 0) 1.0 else -1.0))
    val r = graft.ml.TrendStats.ljungBox2(
      (smooth ++ alt).toDF("g", "d", "v"), "g", "d", "v")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("s").getAs[Double]("r1") > 0.8)
    assert(r("s").getAs[Double]("p_value") < 1e-6)
    assert(r("a").getAs[Double]("r1") < -0.8)
    assert(r("a").getAs[Double]("p_value") < 1e-6)
  }

  test("ljungBox2: constant series yields null statistics") {
    val r = graft.ml.TrendStats.ljungBox2(
      (1 to 10).map(i => ("c", i, 5.0)).toDF("g", "d", "v"),
      "g", "d", "v").head()
    assert(r.isNullAt(r.fieldIndex("q")))
  }

  test("hodgesLehmann: symmetric data recovers the center; the " +
    "series-grain guard fires") {
    val sym = Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(("s", _))
    val r = graft.de.RobustStats.hodgesLehmann(sym.toDF("g", "v"),
      "g", "v").head()
    assert(r.getAs[Double]("hl_estimate") == 3.0)
    assert(r.getAs[Long]("n_pairs") == 15L)
    assert(intercept[IllegalArgumentException] {
      graft.de.RobustStats.hodgesLehmann(
        (1 to 50).map(i => ("g", i.toDouble)).toDF("g", "v"),
        "g", "v", maxGroupRows = 10L)
    }.getMessage == "requirement failed: hodgesLehmann input has a group " +
      "with 50 rows — above the series-grain contract (10); pre-aggregate first")
  }
}
