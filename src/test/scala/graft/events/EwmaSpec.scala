package graft.events

import graft.SparkSuite

class EwmaSpec extends SparkSuite {
  import spark.implicits._

  private def ref(xs: Seq[Double], a: Double): Double =
    xs.tail.foldLeft(xs.head)((acc, x) => (1 - a) * acc + a * x)

  test("ewmaLast replays the driver fold bit-for-bit (pre-round)") {
    val xs = Seq(10.0, 14.0, 9.0, 30.0, 12.0, 11.0, 50.0, 8.0)
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i, x) }
      .toDF("g", "t", "x")
    val got = Ewma.ewmaLast(df, "g", "t", "x", alpha = 0.25).head()
    assert(got.getAs[Long]("n") == 8)
    assert(got.getAs[Double]("ewma_last") == BigDecimal(ref(xs, 0.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("order comes from orderCol, not input order") {
    val df = Seq(("g", 3, 100.0), ("g", 1, 1.0), ("g", 2, 1.0),
      ("g", 0, 1.0)).toDF("g", "t", "x")
    val got = Ewma.ewmaLast(df, "g", "t", "x", 0.5).head()
      .getAs[Double]("ewma_last")
    assert(got == ref(Seq(1.0, 1.0, 1.0, 100.0), 0.5))
  }

  test("single point seeds itself; constant series is a fixpoint") {
    val one = Seq(("g", 0, 42.0)).toDF("g", "t", "x")
    assert(Ewma.ewmaLast(one, "g", "t", "x", 0.3).head()
      .getAs[Double]("ewma_last") == 42.0)
    val const = (0 until 9).map(i => ("g", i, 7.0)).toDF("g", "t", "x")
    assert(Ewma.ewmaLast(const, "g", "t", "x", 0.3).head()
      .getAs[Double]("ewma_last") == 7.0)
  }

  test("alpha = 1 tracks the last value; invalid alpha rejected") {
    val df = Seq(("g", 0, 5.0), ("g", 1, 17.0)).toDF("g", "t", "x")
    assert(Ewma.ewmaLast(df, "g", "t", "x", 1.0).head()
      .getAs[Double]("ewma_last") == 17.0)
    assert(intercept[IllegalArgumentException] {
      Ewma.ewmaLast(df, "g", "t", "x", 0.0)
    }.getMessage == "requirement failed: alpha must be in (0,1], got 0.0")
  }

  test("holt: matches a driver-side fold of the same recurrence") {
    val xs = Seq(10.0, 12.0, 15.0, 13.0, 18.0, 21.0, 20.0, 25.0)
    val (alpha, beta) = (0.3, 0.1)
    var l = xs.head; var b = 0.0
    xs.tail.foreach { x =>
      val lNew = alpha * x + (1.0 - alpha) * (l + b)
      b = beta * (lNew - l) + (1.0 - beta) * b
      l = lNew
    }
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i, x) }
      .toDF("g", "t", "x")
    val r = Ewma.holtForecast(df, "g", "t", "x", alpha, beta)
      .collect().head
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Double]("level") ==
      BigDecimal(l).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Double]("trend") ==
      BigDecimal(b).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Double]("forecast_next") ==
      BigDecimal(l + b).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("holt: single point is level = x, trend = 0; constant series has zero trend") {
    val df = (Seq(("one", 0, 7.0)) ++
      (0 until 5).map(i => ("const", i, 4.0))).toDF("g", "t", "x")
    val m = Ewma.holtForecast(df, "g", "t", "x", 0.5, 0.2)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("level"), r.getAs[Double]("trend"),
          r.getAs[Double]("forecast_next"))).toMap
    assert(m("one") == ((7.0, 0.0, 7.0)))
    assert(m("const") == ((4.0, 0.0, 4.0)))
  }

  test("holt: linear series trend approaches the true slope") {
    // x_t = 5 + 3t for 40 steps: with b seeded 0 the trend estimate
    // converges toward 3
    val df = (0 until 40).map(i => ("g", i, 5.0 + 3.0 * i))
      .toDF("g", "t", "x")
    val r = Ewma.holtForecast(df, "g", "t", "x", 0.5, 0.3)
      .collect().head
    assert(math.abs(r.getAs[Double]("trend") - 3.0) < 0.05)
  }

  private def hwRef(xs: Seq[Double], m: Int, a: Double, b: Double,
                    g: Double): (Double, Double, Double) = {
    val l0 = xs.take(m).foldLeft(0.0)(_ + _) / m
    var l = l0; var tr = 0.0
    var s = xs.take(m).map(_ - l0).toVector
    xs.drop(m).foreach { x =>
      val sh = s.head
      val lN = a * (x - sh) + (1 - a) * (l + tr)
      val bN = b * (lN - l) + (1 - b) * tr
      val sN = g * (x - lN) + (1 - g) * sh
      l = lN; tr = bN; s = s.tail :+ sN
    }
    (l, tr, s.head)
  }

  test("holtWinters replays the driver fold bit-for-bit (pre-round)") {
    val xs = Seq(10.0, 20.0, 12.0, 22.0, 11.0, 21.0, 13.0, 23.0, 10.0)
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i, x) }
      .toDF("g", "t", "x")
    val r = Ewma.holtWinters(df, "g", "t", "x", m = 2,
      alpha = 0.3, beta = 0.1, gamma = 0.2).collect().head
    val (l, tr, sh) = hwRef(xs, 2, 0.3, 0.1, 0.2)
    def rd(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("level") == rd(l))
    assert(r.getAs[Double]("trend") == rd(tr))
    assert(r.getAs[Double]("season_next") == rd(sh))
    assert(r.getAs[Double]("forecast_next") == rd(l + tr + sh))
  }

  test("holtWinters: perfectly periodic series is captured by the " +
    "seasonal terms with near-zero trend") {
    // period-4 pattern repeated 10 times
    val pat = Seq(100.0, 50.0, 80.0, 20.0)
    val xs = Seq.fill(10)(pat).flatten
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i, x) }
      .toDF("g", "t", "x")
    val r = Ewma.holtWinters(df, "g", "t", "x", m = 4,
      alpha = 0.3, beta = 0.1, gamma = 0.3).collect().head
    assert(math.abs(r.getAs[Double]("trend")) < 0.01)
    // next observation would be pat(0): forecast = level + season ≈ 100
    assert(math.abs(r.getAs[Double]("forecast_next") - 100.0) < 1.0)
  }

  test("holtWinters: series shorter than one season yields nulls") {
    val df = Seq(("g", 0, 1.0), ("g", 1, 2.0)).toDF("g", "t", "x")
    val r = Ewma.holtWinters(df, "g", "t", "x", m = 4,
      alpha = 0.3, beta = 0.1, gamma = 0.2).collect().head
    assert(r.isNullAt(r.fieldIndex("level")))
    assert(r.isNullAt(r.fieldIndex("forecast_next")))
    assert(r.getAs[Long]("n") == 2L)
  }
}
