package graft.de

import graft.SparkSuite

class SprtSpec extends SparkSuite {
  import spark.implicits._

  private val wPos = math.log(0.9 / 0.5)   // p0=0.5, p1=0.9
  private val lnA = math.log(0.95 / 0.05)

  private def run(xs: Seq[Int], g: String = "g") =
    Experiment.sprtBernoulli(
      xs.zipWithIndex.map { case (x, i) => (g, i, x) }
        .toDF("g", "i", "x"),
      "g", Seq("i"), "x", p0 = 0.5, p1 = 0.9)

  test("sprtBernoulli: a run of successes crosses the H1 boundary at " +
    "the first-crossing index") {
    // each success adds ln(1.8)=0.587; lnA = ln(19) = 2.944 -> 6th
    val r = run(Seq.fill(10)(1)).head()
    assert(r.getAs[String]("decision") == "accept_h1")
    assert(r.getAs[Long]("n_decision") ==
      math.ceil(lnA / wPos).toLong)
    assert(r.getAs[Double]("llr") ==
      math.round(10 * wPos * 1e6) / 1e6)
  }

  test("sprtBernoulli: failures accept H0; a crossed walk that " +
    "drifts back still stops at the first crossing") {
    val h0 = run(Seq.fill(5)(0)).head()
    assert(h0.getAs[String]("decision") == "accept_h0")
    // 6 successes cross H1 (at index 6), then 20 failures drag the
    // final LLR deep negative — sequential semantics still say H1
    val drift = run(Seq.fill(6)(1) ++ Seq.fill(20)(0)).head()
    assert(drift.getAs[String]("decision") == "accept_h1")
    assert(drift.getAs[Long]("n_decision") == 6L)
    assert(drift.getAs[Double]("llr") < 0)
  }

  test("sprtBernoulli: an inconclusive short walk continues") {
    val r = run(Seq(1, 0, 1, 0)).head()
    assert(r.getAs[String]("decision") == "continue")
    assert(r.isNullAt(r.fieldIndex("n_decision")))
  }
}
