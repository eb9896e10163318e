package graft.ml

import graft.SparkSuite

class QuantileRegSpec extends SparkSuite {
  import spark.implicits._

  /** Driver-side replay of the identical IRLS recipe (centered
    * Cramer solve, OLS seed, ε-capped asymmetric weights). */
  private def refFit(rows: Seq[(Double, Double, Double)], tau: Double,
                     iters: Int, eps: Double): Array[Double] = {
    def solve(w: Seq[Double]): Array[Double] = {
      val sw = w.sum
      val s1 = w.zip(rows).map { case (wi, r) => wi * r._2 }.sum
      val s2 = w.zip(rows).map { case (wi, r) => wi * r._3 }.sum
      val sy = w.zip(rows).map { case (wi, r) => wi * r._1 }.sum
      val s11 = w.zip(rows).map { case (wi, r) => wi * r._2 * r._2 }.sum
      val s22 = w.zip(rows).map { case (wi, r) => wi * r._3 * r._3 }.sum
      val s12 = w.zip(rows).map { case (wi, r) => wi * r._2 * r._3 }.sum
      val s1y = w.zip(rows).map { case (wi, r) => wi * r._2 * r._1 }.sum
      val s2y = w.zip(rows).map { case (wi, r) => wi * r._3 * r._1 }.sum
      val c11 = s11 - s1 * s1 / sw; val c22 = s22 - s2 * s2 / sw
      val c12 = s12 - s1 * s2 / sw
      val c1y = s1y - s1 * sy / sw; val c2y = s2y - s2 * sy / sw
      val det = c11 * c22 - c12 * c12
      val b1 = (c1y * c22 - c2y * c12) / det
      val b2 = (c2y * c11 - c1y * c12) / det
      Array((sy - b1 * s1 - b2 * s2) / sw, b1, b2)
    }
    var beta = solve(rows.map(_ => 1.0))
    (0 until iters).foreach { _ =>
      val w = rows.map { case (y, x1, x2) =>
        val r = y - beta(0) - beta(1) * x1 - beta(2) * x2
        val below = BigDecimal(r)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) < 0
        math.abs(tau - (if (below) 1.0 else 0.0)) /
          math.max(math.abs(r), eps)
      }
      beta = solve(w)
    }
    beta
  }

  private val data: Seq[(Double, Double, Double)] = {
    // deterministic heteroscedastic plane: y = 2 + 3 x1 - x2 + noise
    // whose spread grows with x1 (so quantile lines fan out)
    val rng = new scala.util.Random(7)
    (0 until 400).map { _ =>
      val x1 = rng.nextDouble() * 10
      val x2 = rng.nextDouble() * 5
      val noise = (rng.nextDouble() - 0.5) * (1 + x1)
      (2.0 + 3.0 * x1 - x2 + noise, x1, x2)
    }
  }

  test("matches the driver-side replay of the same recipe (4dp)") {
    val df = data.toDF("y", "x1", "x2")
    val got = Regression.quantile2(df, "y", "x1", "x2", 0.8).head()
    val ref = refFit(data, 0.8, 16, 0.01)
    assert(got.getAs[Long]("n") == 400)
    assert(math.abs(got.getAs[Double]("b0") - ref(0)) <= 1e-3)
    assert(math.abs(got.getAs[Double]("b1") - ref(1)) <= 1e-3)
    assert(math.abs(got.getAs[Double]("b2") - ref(2)) <= 1e-3)
  }

  test("share_below calibrates to tau; quantile lines fan out") {
    // the reweighting is geometric, not quadratic — give the
    // calibration assertion a converged fit (40 steps)
    val df = data.toDF("y", "x1", "x2")
    val lo = Regression.quantile2(df, "y", "x1", "x2", 0.1,
      iters = 40).head()
    val hi = Regression.quantile2(df, "y", "x1", "x2", 0.9,
      iters = 40).head()
    assert(math.abs(lo.getAs[Double]("share_below") - 0.1) < 0.05)
    assert(math.abs(hi.getAs[Double]("share_below") - 0.9) < 0.05)
    // noise scales with x1, so the τ-slope must increase with τ
    assert(hi.getAs[Double]("b1") > lo.getAs[Double]("b1") + 0.3)
  }

  test("tau = 0.5 tracks the median on skewed data better than OLS") {
    // y = 5 + x1 + exponential-ish right-skew noise
    val rng = new scala.util.Random(11)
    val skew = (0 until 500).map { _ =>
      val x1 = rng.nextDouble() * 4
      val x2 = rng.nextDouble()
      (5.0 + x1 - math.log(rng.nextDouble()) * 3.0, x1, x2)
    }
    val df = skew.toDF("y", "x1", "x2")
    val med = Regression.quantile2(df, "y", "x1", "x2", 0.5).head()
    val ols = Regression.ols2(df, "y", "x1", "x2").head()
    // mean intercept is dragged up by the skew tail; median is not:
    // E[noise] = 3, median[noise] = 3 ln 2 ≈ 2.08
    assert(med.getAs[Double]("b0") < ols.getAs[Double]("b0") - 0.4)
    assert(math.abs(med.getAs[Double]("share_below") - 0.5) < 0.05)
  }

  test("singular design nulls out; invalid params rejected") {
    val df = Seq((1.0, 2.0, 4.0), (2.0, 3.0, 6.0), (3.0, 4.0, 8.0))
      .toDF("y", "x1", "x2") // x2 = 2 x1, collinear
    val got = Regression.quantile2(df, "y", "x1", "x2", 0.5).head()
    assert(got.getAs[Long]("n") == 3)
    assert(got.isNullAt(got.fieldIndex("b0")))
    assert(got.isNullAt(got.fieldIndex("pinball")))
    assert(intercept[IllegalArgumentException] {
      Regression.quantile2(df, "y", "x1", "x2", 0.0)
    }.getMessage == "requirement failed: tau must be in (0,1), got 0.0")
    assert(intercept[IllegalArgumentException] {
      Regression.quantile2(df, "y", "x1", "x2", 0.5, eps = 0.0)
    }.getMessage == "requirement failed: eps must be > 0, got 0.0")
  }

  test("null rows are dropped (complete-case)") {
    val df = Seq((Some(1.0), Some(1.0), Some(1.0)),
      (None, Some(2.0), Some(1.0)), (Some(2.0), None, Some(0.0)),
      (Some(3.0), Some(2.0), Some(2.0)), (Some(0.5), Some(0.0), Some(1.0)),
      (Some(4.0), Some(3.0), Some(1.0)))
      .toDF("y", "x1", "x2")
    assert(Regression.quantile2(df, "y", "x1", "x2", 0.5).head()
      .getAs[Long]("n") == 4)
  }
}
