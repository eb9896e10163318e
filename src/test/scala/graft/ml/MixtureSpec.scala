package graft.ml

import graft.SparkSuite

class MixtureSpec extends SparkSuite {
  import spark.implicits._

  private def normalGrid(mu: Double, sd: Double, n: Int): Seq[Double] = {
    val nd = new org.apache.commons.math3.distribution
      .NormalDistribution(mu, sd)
    (1 to n).map(i => nd.inverseCumulativeProbability((i - 0.5) / n))
  }

  test("clean bimodal data: recovers both components in seed order " +
    "and beats the single-Gaussian log-likelihood") {
    val xs = normalGrid(10.0, 1.5, 300) ++ normalGrid(40.0, 3.0, 700)
    val got = Mixture.gmm2(xs.toDF("x"), "x", iters = 25).head()
    assert(got.getAs[Long]("n") == 1000)
    assert(math.abs(got.getAs[Double]("mu1") - 10.0) < 0.5)
    assert(math.abs(got.getAs[Double]("mu2") - 40.0) < 0.5)
    assert(math.abs(got.getAs[Double]("weight1") - 0.3) < 0.03)
    assert(math.abs(got.getAs[Double]("sd1") - 1.5) < 0.4)
    assert(math.abs(got.getAs[Double]("sd2") - 3.0) < 0.4)
    // single-Gaussian reference log-likelihood
    val m = xs.sum / xs.size
    val v = xs.map(x => (x - m) * (x - m)).sum / xs.size
    val ll1 = xs.map(x => -0.5 * math.log(2 * math.Pi * v) -
      (x - m) * (x - m) / (2 * v)).sum / xs.size
    assert(got.getAs[Double]("avg_loglik") > ll1 + 0.5)
  }

  test("unimodal data: fit is stable and components stay ordered") {
    val xs = normalGrid(20.0, 4.0, 500)
    val got = Mixture.gmm2(xs.toDF("x"), "x").head()
    assert(got.getAs[Double]("mu1") <= got.getAs[Double]("mu2"))
    // both components sit inside the data range
    assert(got.getAs[Double]("mu1") > 5 &&
      got.getAs[Double]("mu2") < 35)
  }

  test("degenerate inputs: empty and constant yield null fits") {
    val empty = Seq.empty[Double].toDF("x")
    val ge = Mixture.gmm2(empty, "x").head()
    assert(ge.getAs[Long]("n") == 0)
    assert(ge.isNullAt(ge.fieldIndex("mu1")))
    val const = Seq.fill(50)(7.0).toDF("x")
    val gc = Mixture.gmm2(const, "x").head()
    assert(gc.getAs[Long]("n") == 50)
    assert(gc.isNullAt(gc.fieldIndex("mu2")))
  }

  test("nulls are dropped; iters must be positive") {
    val df = Seq(Some(1.0), None, Some(2.0), Some(30.0), Some(31.0))
      .toDF("x")
    assert(Mixture.gmm2(df, "x").head().getAs[Long]("n") == 4)
    assert(intercept[IllegalArgumentException] {
      Mixture.gmm2(df, "x", iters = 0)
    }.getMessage == "requirement failed: iters must be >= 1")
  }
}
