package graft.de

import graft.SparkSuite

class NormalityTrendSpec extends SparkSuite {
  import spark.implicits._

  test("jarqueBera: symmetric mesokurtic data scores ~0; skewed data " +
    "rejects") {
    // {-1, 0, 1} has S=0 and K=-1.5 -> JB = n/6 * (1.5^2/4)
    val sym = Seq.fill(40)(Seq(-1.0, 0.0, 1.0)).flatten
      .map(("s", _)).toDF("g", "v")
    val r = Moments.jarqueBera(sym, "g", "v").head()
    assert(r.getAs[Double]("skewness") == 0.0)
    assert(r.getAs[Double]("kurtosis") == -1.5)
    val jb = 120.0 / 6 * (1.5 * 1.5 / 4)
    assert(r.getAs[Double]("jb") == jb)
    assert(r.getAs[Double]("p_value") ==
      math.round(math.exp(-jb / 2) * 1e6) / 1e6)
  }

  test("jarqueBera: degenerate groups yield null statistics") {
    val df = Seq(("one", 5.0), ("const", 2.0), ("const", 2.0))
      .toDF("g", "v")
    val r = Moments.jarqueBera(df, "g", "v").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("one").isNullAt(r("one").fieldIndex("jb")))
    assert(r("const").isNullAt(r("const").fieldIndex("jb")))
  }

  test("theilSen: one outlier day cannot move the slope (OLS would)") {
    // perfect y = 2x + 1 over 9 points, one wild outlier at x=9
    val pts = (0 to 8).map(i => ("t", i.toDouble, 2.0 * i + 1)) :+
      (("t", 9.0, 1000.0))
    val r = RobustStats.theilSen(pts.toDF("g", "x", "y"), "g", "x", "y")
      .head()
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("intercept") == 1.0)
    assert(r.getAs[Long]("n_pairs") == 45L)
  }

  test("theilSen: series-grain guard fails fast on oversized groups") {
    val big = (1 to 50).map(i => ("g", i.toDouble, i.toDouble))
      .toDF("g", "x", "y")
    assert(intercept[IllegalArgumentException] {
      RobustStats.theilSen(big, "g", "x", "y", maxSeriesRows = 10L)
    }.getMessage == "requirement failed: theilSen input has a group with " +
      "50 rows — above the series-grain contract (10); pre-aggregate the " +
      "series (e.g. to daily grain) before calling")
  }
}
