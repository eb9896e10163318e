package graft.events

import graft.SparkSuite

class DecomposeSpec extends SparkSuite {
  import spark.implicits._

  test("pure seasonal signal: trend flat at the mean, seasonal " +
    "recovers the pattern, residual zero") {
    // period-3 pattern [9, 3, 6] repeated 6 times: mean 6
    val xs = Seq.fill(6)(Seq(9L, 3L, 6L)).flatten
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i, x) }
      .toDF("g", "t", "x")
    val rows = Decompose.classical(df, "g", "t", "x", m = 3).collect()
    val mid = rows.filter(!_.isNullAt(3))    // complete-window rows
    assert(mid.nonEmpty)
    mid.foreach { r =>
      assert(r.getAs[Double]("trend") == 6.0)
      assert(r.getAs[Double]("residual") == 0.0)
    }
    val byPhase = rows.filter(_.getAs[Long]("idx") < 3)
      .map(r => r.getAs[Long]("idx") -> r.getAs[Double]("seasonal")).toMap
    assert(byPhase(0L) == 3.0)
    assert(byPhase(1L) == -3.0)
    assert(byPhase(2L) == 0.0)
  }

  test("linear trend passes through: seasonal ~ 0, trend = signal") {
    val df = (0 until 21).map(i => ("g", i, 10L + 2L * i))
      .toDF("g", "t", "x")
    val rows = Decompose.classical(df, "g", "t", "x", m = 3).collect()
    rows.filter(!_.isNullAt(3)).foreach { r =>
      // centered MA of a linear series is the series itself
      assert(r.getAs[Double]("trend") ==
        10.0 + 2.0 * r.getAs[Long]("idx"))
      assert(math.abs(r.getAs[Double]("seasonal")) < 1e-9)
    }
  }

  test("edges get null trend and residual; seasonal still assigned") {
    val df = (0 until 9).map(i => ("g", i, i.toLong)).toDF("g", "t", "x")
    val rows = Decompose.classical(df, "g", "t", "x", m = 3).collect()
      .sortBy(_.getAs[Long]("idx"))
    assert(rows.head.isNullAt(rows.head.fieldIndex("trend")))
    assert(rows.head.isNullAt(rows.head.fieldIndex("residual")))
    assert(!rows.head.isNullAt(rows.head.fieldIndex("seasonal")))
    assert(rows.last.isNullAt(rows.last.fieldIndex("trend")))
    assert(!rows(4).isNullAt(rows(4).fieldIndex("trend")))
  }

  test("seasonal terms sum to ~zero per key (re-centering)") {
    val xs = Seq(5L, 1L, 9L, 4L, 2L, 8L, 6L, 3L, 7L, 5L, 2L, 9L)
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i, x) }
      .toDF("g", "t", "x")
    val seas = Decompose.classical(df, "g", "t", "x", m = 3)
      .collect().filter(_.getAs[Long]("idx") < 3)
      .map(_.getAs[Double]("seasonal"))
    assert(math.abs(seas.sum) < 1e-5)
  }

  test("even or tiny periods are rejected") {
    val df = Seq(("g", 0, 1L)).toDF("g", "t", "x")
    assert(intercept[IllegalArgumentException] {
      Decompose.classical(df, "g", "t", "x", m = 4)
    }.getMessage == "requirement failed: period must be odd and >= 3, got 4")
    assert(intercept[IllegalArgumentException] {
      Decompose.classical(df, "g", "t", "x", m = 1)
    }.getMessage == "requirement failed: period must be odd and >= 3, got 1")
  }

  test("multiplicativeIndex: exact-fraction ratio-to-MA indexes " +
    "averaging to 1") {
    import spark.implicits._
    // x = 5,10,15,10,20,30 m=3: ratios 2/3 (p0), 1,1 (p1), 9/7 (p2)
    // -> indexes 21/31-scaled: 0.677419, 1.016129, 1.306452
    val df = Seq(5, 10, 15, 10, 20, 30).zipWithIndex
      .map { case (x, t) => ("g", t, x) }.toDF("g", "t", "x")
    val got = Decompose.multiplicativeIndex(df, "g", "t", "x", m = 3)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getAs[Double]("seasonal_index")))).toMap
    assert(got(0L) == ((1L, 0.677419)))
    assert(got(1L) == ((2L, 1.016129)))
    assert(got(2L) == ((1L, 1.306452)))
  }

  test("runLengths: state persistence per (key, state)") {
    import spark.implicits._
    // A A B A A A -> A runs (2, 3), B run (1)
    val ev = Seq("A", "A", "B", "A", "A", "A").zipWithIndex
      .map { case (st, t) => (1L, t, t.toLong, st) }
      .toDF("u", "ts", "tie", "state")
    val got = Sessionize.runLengths(ev, "u", "ts", "tie", "state")
      .collect().map(r => r.getString(1) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_runs"),
          r.getAs[Double]("mean_run_len"), r.getAs[Long]("max_run_len"))))
      .toMap
    assert(got("A") == ((5L, 2L, 2.5, 3L)))
    assert(got("B") == ((1L, 1L, 1.0, 1L)))
  }
}
