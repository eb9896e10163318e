package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Doubly-robust average treatment effect (X283; AIPW — Robins,
  * Rotnitzky & Zhao 1994): the estimator that stays consistent if
  * EITHER the propensity model OR the outcome model is right —
  * composed entirely from this library's own GLM kernels:
  *
  *  1. propensity ê(x) = σ(x'γ) via [[Regression.newtonLogistic]]
  *     (fixed-iteration Newton, the q379 recipe),
  *  2. outcome models m̂₁(x) / m̂₀(x) = two-regressor OLS fit on the
  *     treated / control halves ([[Regression.olsBeta]]),
  *  3. ψᵢ = m̂₁ − m̂₀ + Tᵢ(yᵢ − m̂₁)/ê − (1−Tᵢ)(yᵢ − m̂₀)/(1−ê),
  *     ATE = mean ψ — ONE final aggregate over the scored frame.
  *
  * Propensities are clipped to [clip, 1−clip] before the inverse
  * weighting (the standard overlap guard — without it one extreme ê
  * owns the estimate). Next to the AIPW point the naive difference
  * of means and the pure regression-imputation ATE are reported, so
  * the confounding correction is visible, not asserted. Singular
  * propensity or outcome designs (or an empty arm) null everything
  * but the counts.
  *
  * Scale shape: 8 + 2 sufficient-stats aggregates to fit, one scored
  * pass to estimate — nothing fact-scale leaves the executors; the
  * oracle replays the identical fixed recipe.
  *
  * Output (one row): n BIGINT, n_treated BIGINT, ate_naive 4dp,
  * ate_regression 4dp, ate_aipw 4dp, mean_propensity 4dp. */
object Causal {

  def aipwAte(df: DataFrame, treatCol: String, yCol: String,
              x1: String, x2: String, iters: Int = 8,
              clip: Double = 0.01): DataFrame = Pin.scope { pin =>
    require(clip > 0 && clip < 0.5, "clip in (0, 0.5)")
    val spark = df.sparkSession
    val d = pin(df.select(col(treatCol).cast("double").as("__t"),
        col(yCol).cast("double").as("__yv"),
        col(x1).cast("double").as("__x1"),
        col(x2).cast("double").as("__x2"))
      .filter(col("__t").isNotNull && col("__yv").isNotNull &&
        col("__x1").isNotNull && col("__x2").isNotNull))
    val counts = d.agg(count(lit(1)).as("n"),
      sum(col("__t")).as("nt")).head()
    val n = if (counts.isNullAt(0)) 0L else counts.getLong(0)
    val nt = if (counts.isNullAt(1)) 0L
      else math.round(counts.getDouble(1))
    val prop = Regression.newtonLogistic(
      d.select(col("__t").as("__y"), col("__x1"), col("__x2")), iters)
    val mT = Regression.olsBeta(
      d.filter(col("__t") === 1.0)
        .select(col("__yv").as("__y"), col("__x1"), col("__x2")),
      lit(1.0))
    val mC = Regression.olsBeta(
      d.filter(col("__t") === 0.0)
        .select(col("__yv").as("__y"), col("__x1"), col("__x2")),
      lit(1.0))
    import spark.implicits._
    (prop, mT, mC) match {
      case (Some(g), Some(bt), Some(bc)) =>
        val e = least(lit(1.0 - clip), greatest(lit(clip),
          lit(1.0) / (lit(1.0) + exp(-(lit(g(0)) +
            lit(g(1)) * col("__x1") + lit(g(2)) * col("__x2"))))))
        val m1 = lit(bt(0)) + lit(bt(1)) * col("__x1") +
          lit(bt(2)) * col("__x2")
        val m0 = lit(bc(0)) + lit(bc(1)) * col("__x1") +
          lit(bc(2)) * col("__x2")
        val psi = (m1 - m0) +
          col("__t") * (col("__yv") - m1) / e -
          (lit(1.0) - col("__t")) * (col("__yv") - m0) /
            (lit(1.0) - e)
        val r = d.agg(
          avg(when(col("__t") === 1.0, col("__yv"))).as("__my1"),
          avg(when(col("__t") === 0.0, col("__yv"))).as("__my0"),
          avg(m1 - m0).as("__reg"),
          avg(psi).as("__aipw"),
          avg(e).as("__pe")).head()
        Seq((n, nt, math.rint((r.getDouble(0) - r.getDouble(1)) * 1e4) / 1e4,
          math.rint(r.getDouble(2) * 1e4) / 1e4,
          math.rint(r.getDouble(3) * 1e4) / 1e4,
          math.rint(r.getDouble(4) * 1e4) / 1e4))
          .toDF("n", "n_treated", "ate_naive", "ate_regression",
            "ate_aipw", "mean_propensity")
      case _ =>
        Seq((n, nt)).toDF("n", "n_treated")
          .select(col("n"), col("n_treated"),
            lit(null).cast("double").as("ate_naive"),
            lit(null).cast("double").as("ate_regression"),
            lit(null).cast("double").as("ate_aipw"),
            lit(null).cast("double").as("mean_propensity"))
    }
  }
}
