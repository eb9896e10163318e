package graft.events

import graft.SparkSuite

class KalmanSpec extends SparkSuite {
  import spark.implicits._

  /** Driver-side reference of the identical recursion. */
  private def ref(zs: Seq[Double], q: Double,
                  r: Double): (Double, Double, Option[Double]) = {
    var x = zs.head; var p = r
    var k: Option[Double] = None
    zs.tail.foreach { z =>
      val pp = p + q
      val kk = pp / (pp + r)
      x = x + kk * (z - x)
      p = (1.0 - kk) * pp
      k = Some(kk)
    }
    (x, p, k)
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("localLevel replays the driver recursion (pre-round)") {
    val zs = Seq(10.0, 14.0, 9.0, 30.0, 12.0, 11.0, 50.0, 8.0)
    val df = zs.zipWithIndex.map { case (z, i) => ("g", i, z) }
      .toDF("g", "t", "z")
    val got = Kalman.localLevel(df, "g", "t", "z", 4.0, 9.0).head()
    val (x, p, k) = ref(zs, 4.0, 9.0)
    assert(got.getAs[Long]("n") == 8)
    assert(got.getAs[Double]("level") == r6(x))
    assert(got.getAs[Double]("level_var") == r6(p))
    assert(got.getAs[Double]("gain") == r6(k.get))
    assert(got.getAs[Double]("forecast_next") == r6(x))
    assert(got.getAs[Double]("forecast_var") == r6(p + 4.0 + 9.0))
  }

  test("gain shrinks toward steady state; variance contracts") {
    // long constant-ish series: P converges to the steady-state
    // Riccati fixpoint p* = (q + sqrt(q^2 + 4 q r)) / 2 ... (1-k)(p+q)
    val zs = (0 until 400).map(i => 20.0 + (i % 3))
    val df = zs.zipWithIndex.map { case (z, i) => ("g", i, z) }
      .toDF("g", "t", "z")
    val got = Kalman.localLevel(df, "g", "t", "z", 1.0, 100.0).head()
    val p = got.getAs[Double]("level_var")
    // steady state: p = (1-k)(p+q) with k = (p+q)/(p+q+r)
    val pp = p + 1.0
    val k = pp / (pp + 100.0)
    assert(approx((1.0 - k) * pp, p, 1e-6))
    assert(got.getAs[Double]("gain") > 0 &&
      got.getAs[Double]("gain") < 1)
  }

  test("high rVar trusts the prior; low rVar tracks observations") {
    // seed P = rVar means the FIRST update always has gain ~0.5, so
    // the filter needs a settled prefix before the spike lands
    // with r >> q the early gain decays like 1/t (running mean), so
    // after 99 settled points the spike's gain is ~1%
    val zs = Seq.fill(99)(0.0) :+ 100.0
    val df = zs.zipWithIndex.map { case (z, i) => ("g", i, z) }
      .toDF("g", "t", "z")
    val trusting = Kalman.localLevel(df, "g", "t", "z", 1.0, 1e6)
      .head().getAs[Double]("level")
    val tracking = Kalman.localLevel(df, "g", "t", "z", 1e6, 1.0)
      .head().getAs[Double]("level")
    assert(trusting < 2.0)    // spike barely moves the settled level
    assert(tracking > 99.0)   // gain ~1 jumps to the new observation
  }

  test("n = 1 seeds and reports null gain; nulls are dropped") {
    val df = Seq(("g", 0, Some(42.0)), ("g", 1, None),
      ("h", 0, Some(1.0)), ("h", 1, Some(3.0)))
      .toDF("g", "t", "z")
    val rows = Kalman.localLevel(df, "g", "t", "z", 1.0, 2.0)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(rows("g").getAs[Long]("n") == 1)
    assert(rows("g").getAs[Double]("level") == 42.0)
    assert(rows("g").isNullAt(rows("g").fieldIndex("gain")))
    assert(rows("h").getAs[Long]("n") == 2)
  }

  test("order comes from orderCol, not input order") {
    val df = Seq(("g", 2, 9.0), ("g", 0, 10.0), ("g", 1, 14.0))
      .toDF("g", "t", "z")
    val got = Kalman.localLevel(df, "g", "t", "z", 4.0, 9.0).head()
    val (x, _, _) = ref(Seq(10.0, 14.0, 9.0), 4.0, 9.0)
    assert(got.getAs[Double]("level") == r6(x))
  }

  test("invalid variances rejected") {
    val df = Seq(("g", 0, 1.0)).toDF("g", "t", "z")
    assert(intercept[IllegalArgumentException] {
      Kalman.localLevel(df, "g", "t", "z", -1.0, 1.0)
    }.getMessage == "requirement failed: process variance must be >= 0, got -1.0")
    assert(intercept[IllegalArgumentException] {
      Kalman.localLevel(df, "g", "t", "z", 1.0, 0.0)
    }.getMessage == "requirement failed: observation variance must be > 0, got 0.0")
  }
}
