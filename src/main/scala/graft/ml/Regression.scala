package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Distributed closed-form regression beyond the univariate
  * [[RankStats.groupedOls]]: two-regressor OLS via the normal
  * equations. The whole fit is ONE map-side-combinable aggregate of
  * ten sufficient statistics (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂,
  * Σx₁y, Σx₂y, Σy²) followed by a 2×2 Cramer solve on the driver-free
  * single result row — the textbook "ML on 100 TB without a single
  * collect" shape (same statistics a parameter server would
  * accumulate).
  */
object Regression {

  /** Fit y = b0 + b1·x1 + b2·x2. Output (one row): n, b0, b1, b2 (all
    * 4dp), r2 (4dp). Null coefficients when the design is singular
    * (det = 0, e.g. collinear regressors) — never a division error.
    */
  def ols2(df: DataFrame, y: String, x1: String, x2: String): DataFrame = {
    val yv = col(y).cast("double")
    val v1 = col(x1).cast("double")
    val v2 = col(x2).cast("double")
    val a = df
      .filter(yv.isNotNull && v1.isNotNull && v2.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(v1).as("s1"), sum(v2).as("s2"), sum(yv).as("sy"),
        sum(v1 * v1).as("s11"), sum(v2 * v2).as("s22"),
        sum(v1 * v2).as("s12"),
        sum(v1 * yv).as("s1y"), sum(v2 * yv).as("s2y"),
        sum(yv * yv).as("syy"))
    val n = col("n").cast("double")
    val c11 = col("s11") - col("s1") * col("s1") / n
    val c22 = col("s22") - col("s2") * col("s2") / n
    val c12 = col("s12") - col("s1") * col("s2") / n
    val c1y = col("s1y") - col("s1") * col("sy") / n
    val c2y = col("s2y") - col("s2") * col("sy") / n
    val cyy = col("syy") - col("sy") * col("sy") / n
    val det = nullif(c11 * c22 - c12 * c12, lit(0.0))
    val b1 = (c1y * c22 - c2y * c12) / det
    val b2 = (c2y * c11 - c1y * c12) / det
    val b0 = (col("sy") - b1 * col("s1") - b2 * col("s2")) / n
    val r2 = (b1 * c1y + b2 * c2y) / nullif(cyy, lit(0.0))
    a.select(col("n"),
      round(b0, 4).as("b0"), round(b1, 4).as("b1"),
      round(b2, 4).as("b2"), round(r2, 4).as("r2"))
  }

  /** Two-regressor logistic regression by fixed-iteration Newton/IRLS
    * (X272) — the missing GLM next to [[ols2]]: p = σ(b0 + b1·x1 +
    * b2·x2) fit by `iters` exact Newton steps from β = 0. Each step is
    * ONE map-side-combined aggregate of 9 sufficient statistics
    * (XᵀWX's 6 unique cells + Xᵀ(y−μ)'s 3), the 3×3 solve happening
    * driver-side in closed form (cofactors — no pivoting, so the
    * arithmetic is a fixed recipe an oracle can replay; the X239
    * bounded-driver-iteration discipline). A billion rows cost `iters`
    * narrow passes; nothing fact-scale ever leaves the executors.
    *
    * Newton converges quadratically to the unique MLE on any
    * non-separable design, so 8 fixed steps ≡ converged for practical
    * data (engines replaying the same recipe agree to ~1e-12 because
    * the MLE is an attracting fixed point — per-pass float-sum noise
    * cannot accumulate). Singular XᵀWX at any step (constant or
    * collinear regressor) nulls the coefficients.
    *
    * Output (one row): n, b0, b1, b2 (4dp), deviance 4dp (−2·ll at
    * the final β), mcfadden_r2 4dp (1 − ll/ll₀ vs the base-rate-only
    * model; null when the base rate is degenerate 0/1). */
  /** The fixed-iteration Newton walk behind [[logistic2]] (and the
    * AIPW propensity fit in [[Causal]]): expects a frame with __y /
    * __x1 / __x2 double columns, returns the final β or None on a
    * singular step. */
  private[ml] def newtonLogistic(d: DataFrame,
                                 iters: Int): Option[Array[Double]] = {
    var beta = Array(0.0, 0.0, 0.0)
    var singular = false
    var it = 0
    while (it < iters && !singular) {
      // step coefficients as codegen-cache-friendly parameter
      // constants instead of fresh literals, so every step reuses ONE
      // codegen source and Janino compiles only step 1 (util.Param /
      // ScalarParam; artifacts/r15opt/codegen_probe.log, ParamSpec)
      val eta = graft.util.Param.scalar(beta(0)) +
        graft.util.Param.scalar(beta(1)) * col("__x1") +
        graft.util.Param.scalar(beta(2)) * col("__x2")
      val mu = lit(1.0) / (lit(1.0) + exp(-eta))
      val w = mu * (lit(1.0) - mu)
      val r = d.agg(
        sum(w).as("a"), sum(w * col("__x1")).as("b"),
        sum(w * col("__x2")).as("c"),
        sum(w * col("__x1") * col("__x1")).as("dd"),
        sum(w * col("__x1") * col("__x2")).as("e"),
        sum(w * col("__x2") * col("__x2")).as("f"),
        sum(col("__y") - mu).as("g1"),
        sum((col("__y") - mu) * col("__x1")).as("g2"),
        sum((col("__y") - mu) * col("__x2")).as("g3")).head()
      if (r.isNullAt(0)) { singular = true } // empty input: no MLE
      val Seq(a, b, c, dd, e, f, g1, g2, g3) =
        if (singular) Seq.fill(9)(0.0) else (0 until 9).map(r.getDouble)
      // symmetric 3×3 solve by cofactors: M=[[a,b,c],[b,d,e],[c,e,f]]
      val det = a * (dd * f - e * e) - b * (b * f - c * e) +
        c * (b * e - c * dd)
      if (det == 0.0 || det.isNaN) singular = true
      else {
        val i11 = dd * f - e * e; val i12 = c * e - b * f
        val i13 = b * e - c * dd
        val i22 = a * f - c * c; val i23 = b * c - a * e
        val i33 = a * dd - b * b
        beta = Array(
          beta(0) + (i11 * g1 + i12 * g2 + i13 * g3) / det,
          beta(1) + (i12 * g1 + i22 * g2 + i23 * g3) / det,
          beta(2) + (i13 * g1 + i23 * g2 + i33 * g3) / det)
      }
      it += 1
    }
    if (singular) None else Some(beta)
  }

  /** Weighted (or plain, w = 1) two-regressor OLS solve over a
    * __y/__x1/__x2 frame — β or None on singular/empty designs.
    * Shared by [[huber2]]-style callers and [[Causal]]'s outcome
    * models. */
  private[ml] def olsBeta(d: DataFrame,
                          w: Column): Option[Array[Double]] = {
    val r = d.agg(
      sum(w).as("sw"), sum(w * col("__x1")).as("s1"),
      sum(w * col("__x2")).as("s2"), sum(w * col("__y")).as("sy"),
      sum(w * col("__x1") * col("__x1")).as("s11"),
      sum(w * col("__x2") * col("__x2")).as("s22"),
      sum(w * col("__x1") * col("__x2")).as("s12"),
      sum(w * col("__x1") * col("__y")).as("s1y"),
      sum(w * col("__x2") * col("__y")).as("s2y")).head()
    if (r.isNullAt(0)) return None
    val Seq(sw, s1, s2, sy, s11, s22, s12, s1y, s2y) =
      (0 until 9).map(r.getDouble)
    val c11 = s11 - s1 * s1 / sw; val c22 = s22 - s2 * s2 / sw
    val c12 = s12 - s1 * s2 / sw
    val c1y = s1y - s1 * sy / sw; val c2y = s2y - s2 * sy / sw
    val det = c11 * c22 - c12 * c12
    if (det == 0.0 || det.isNaN) None
    else {
      val b1 = (c1y * c22 - c2y * c12) / det
      val b2 = (c2y * c11 - c1y * c12) / det
      Some(Array((sy - b1 * s1 - b2 * s2) / sw, b1, b2))
    }
  }

  /** Fit [[logistic2]] and RETURN THE SCORED FRAME: the input rows
    * plus `p_hat` = σ(x'β̂) (the fitted probability). The calibration
    * and causal operators (Hosmer–Lemeshow, AIPW) consume this; a
    * singular fit yields null p_hat everywhere rather than failing. */
  def logisticScore(df: DataFrame, y: String, x1: String, x2: String,
                    iters: Int = 8): DataFrame = Pin.scope { pin =>
    require(iters >= 1, "iters must be >= 1")
    val d = pin(df.select(col(y).cast("double").as("__y"),
        col(x1).cast("double").as("__x1"),
        col(x2).cast("double").as("__x2"))
      .filter(col("__y").isNotNull && col("__x1").isNotNull &&
        col("__x2").isNotNull))
    val fit = newtonLogistic(d, iters)
    fit match {
      case Some(b) =>
        df.withColumn("p_hat", lit(1.0) / (lit(1.0) +
          exp(-(lit(b(0)) + lit(b(1)) * col(x1).cast("double") +
            lit(b(2)) * col(x2).cast("double")))))
      case None => df.withColumn("p_hat", lit(null).cast("double"))
    }
  }

  def logistic2(df: DataFrame, y: String, x1: String, x2: String,
                iters: Int = 8): DataFrame = Pin.scope { pin =>
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    val d = pin(df.select(col(y).cast("double").as("__y"),
        col(x1).cast("double").as("__x1"),
        col(x2).cast("double").as("__x2"))
      .filter(col("__y").isNotNull && col("__x1").isNotNull &&
        col("__x2").isNotNull))
    val fit = newtonLogistic(d, iters)
    val singular = fit.isEmpty
    val beta = fit.getOrElse(Array(0.0, 0.0, 0.0))
    if (singular)
      d.agg(count(lit(1)).as("n"))
        .select(col("n"), lit(null).cast("double").as("b0"),
          lit(null).cast("double").as("b1"),
          lit(null).cast("double").as("b2"),
          lit(null).cast("double").as("deviance"),
          lit(null).cast("double").as("mcfadden_r2"))
    else {
      val eta = lit(beta(0)) + lit(beta(1)) * col("__x1") +
        lit(beta(2)) * col("__x2")
      // log-likelihood via the numerically-stable single-log form:
      // y·η − ln(1+e^η)  (identical algebra to y·lnμ + (1−y)·ln(1−μ))
      val ll = col("__y") * eta - log(lit(1.0) + exp(eta))
      val fin = d.agg(count(lit(1)).as("n"), sum(ll).as("__ll"),
        sum(col("__y")).as("__s")).head()
      val n = fin.getLong(0); val llv = fin.getDouble(1)
      val s = fin.getDouble(2)
      val pbar = s / n
      val ll0 =
        if (pbar <= 0.0 || pbar >= 1.0) Double.NaN
        else s * math.log(pbar) + (n - s) * math.log(1 - pbar)
      import spark.implicits._
      Seq((n, math.rint(beta(0) * 1e4) / 1e4,
        math.rint(beta(1) * 1e4) / 1e4,
        math.rint(beta(2) * 1e4) / 1e4,
        math.rint(-2.0 * llv * 1e4) / 1e4,
        if (ll0.isNaN) None
        else Some(math.rint((1.0 - llv / ll0) * 1e4) / 1e4)))
        .toDF("n", "b0", "b1", "b2", "deviance", "mcfadden_r2")
    }
  }

  /** Two-regressor Poisson regression (log link) by fixed-iteration
    * Newton (X279) — the count-data GLM next to [[logistic2]], same
    * execution shape: μ = exp(b0 + b1·x1 + b2·x2), each step ONE
    * aggregate of XᵀWX (W = μ) + Xᵀ(y − μ) and a closed-form cofactor
    * solve. Fixed `iters` steps from β = 0; quadratic convergence to
    * the unique MLE on any non-degenerate design. Singular designs
    * null out. Deviance = 2·Σ[y·ln(y/μ) − (y−μ)] (0·ln 0 = 0), the
    * Poisson GOF readout (≫ n−3 flags overdispersion → see the
    * negative-binomial escape hatch in CountModels).
    *
    * Output (one row): n, b0, b1, b2 (4dp), deviance 4dp,
    * mean_rate 4dp. */
  def poisson2(df: DataFrame, y: String, x1: String, x2: String,
               iters: Int = 8): DataFrame = Pin.scope { pin =>
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    val d = pin(df.select(col(y).cast("double").as("__y"),
        col(x1).cast("double").as("__x1"),
        col(x2).cast("double").as("__x2"))
      .filter(col("__y").isNotNull && col("__x1").isNotNull &&
        col("__x2").isNotNull && col("__y") >= 0))
    // start at the intercept-only MLE b0 = ln(ȳ) — the standard GLM
    // init; from β = 0 Newton can overshoot on high-rate data (exp
    // link), from here it contracts quadratically
    val my = d.agg(avg(col("__y"))).head()
    var singular = my.isNullAt(0) || my.getDouble(0) <= 0
    var beta = Array(if (singular) 0.0 else math.log(my.getDouble(0)),
      0.0, 0.0)
    var it = 0
    while (it < iters && !singular) {
      // per-step coefficients via util.Param (see newtonLogistic)
      val mu = exp(graft.util.Param.scalar(beta(0)) +
        graft.util.Param.scalar(beta(1)) * col("__x1") +
        graft.util.Param.scalar(beta(2)) * col("__x2"))
      val r = d.agg(
        sum(mu).as("a"), sum(mu * col("__x1")).as("b"),
        sum(mu * col("__x2")).as("c"),
        sum(mu * col("__x1") * col("__x1")).as("dd"),
        sum(mu * col("__x1") * col("__x2")).as("e"),
        sum(mu * col("__x2") * col("__x2")).as("f"),
        sum(col("__y") - mu).as("g1"),
        sum((col("__y") - mu) * col("__x1")).as("g2"),
        sum((col("__y") - mu) * col("__x2")).as("g3")).head()
      if (r.isNullAt(0)) singular = true
      val Seq(a, b, c, dd, e, f, g1, g2, g3) =
        if (singular) Seq.fill(9)(0.0) else (0 until 9).map(r.getDouble)
      val det = a * (dd * f - e * e) - b * (b * f - c * e) +
        c * (b * e - c * dd)
      if (det == 0.0 || det.isNaN) singular = true
      else {
        val i11 = dd * f - e * e; val i12 = c * e - b * f
        val i13 = b * e - c * dd
        val i22 = a * f - c * c; val i23 = b * c - a * e
        val i33 = a * dd - b * b
        beta = Array(
          beta(0) + (i11 * g1 + i12 * g2 + i13 * g3) / det,
          beta(1) + (i12 * g1 + i22 * g2 + i23 * g3) / det,
          beta(2) + (i13 * g1 + i23 * g2 + i33 * g3) / det)
      }
      it += 1
    }
    if (singular)
      d.agg(count(lit(1)).as("n"))
        .select(col("n"), lit(null).cast("double").as("b0"),
          lit(null).cast("double").as("b1"),
          lit(null).cast("double").as("b2"),
          lit(null).cast("double").as("deviance"),
          lit(null).cast("double").as("mean_rate"))
    else {
      val mu = exp(lit(beta(0)) + lit(beta(1)) * col("__x1") +
        lit(beta(2)) * col("__x2"))
      val dev = lit(2.0) * (
        when(col("__y") > 0,
          col("__y") * log(col("__y") / mu)).otherwise(lit(0.0)) -
          (col("__y") - mu))
      val fin = d.agg(count(lit(1)).as("n"), sum(dev).as("__dev"),
        avg(col("__y")).as("__m")).head()
      import spark.implicits._
      Seq((fin.getLong(0), math.rint(beta(0) * 1e4) / 1e4,
        math.rint(beta(1) * 1e4) / 1e4,
        math.rint(beta(2) * 1e4) / 1e4,
        math.rint(fin.getDouble(1) * 1e4) / 1e4,
        math.rint(fin.getDouble(2) * 1e4) / 1e4))
        .toDF("n", "b0", "b1", "b2", "deviance", "mean_rate")
    }
  }

  /** Two-regressor Huber robust regression (X278) — OLS that outliers
    * can't hijack: start from the plain [[ols2]] solve, fix the scale
    * ONCE as σ = MAD(residuals)/0.6745 (the standard-normal
    * consistency constant), then run `iters` IRLS steps with Huber
    * weights w = min(1, k·σ/|r|), k = 1.345 (95% Gaussian
    * efficiency). Fixed-scale IRLS is the documented recipe — scale
    * re-estimation per step would make the oracle replay needlessly
    * stateful. Every step is ONE weighted-sufficient-stats aggregate +
    * the cofactor solve; the MAD probe is two exact interpolated
    * percentiles. Zero scale (≥ half the residuals identical —
    * the fit is already through them) returns the OLS solution
    * labeled converged.
    *
    * Output (one row): n, b0, b1, b2 (4dp), scale 6dp,
    * share_downweighted 4dp (rows with w < 1 at the final fit). */
  def huber2(df: DataFrame, y: String, x1: String, x2: String,
             iters: Int = 6,
             exactScale: Option[Boolean] = None): DataFrame = Pin.scope { pin =>
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    val K = 1.345
    val d = pin(df.select(col(y).cast("double").as("__y"),
        col(x1).cast("double").as("__x1"),
        col(x2).cast("double").as("__x2"))
      .filter(col("__y").isNotNull && col("__x1").isNotNull &&
        col("__x2").isNotNull))
    // per-step coefficients via util.Param (see newtonLogistic): the
    // residual reads codegen-cache-friendly parameter constants, so
    // the IRLS steps, the two median probes and the final readout
    // share one codegen source instead of recompiling per
    // fresh-literal plan
    def resid(beta: Array[Double]): Column =
      col("__y") - graft.util.Param.scalar(beta(0)) -
        graft.util.Param.scalar(beta(1)) * col("__x1") -
        graft.util.Param.scalar(beta(2)) * col("__x2")
    olsBeta(d, lit(1.0)) match {
      case None =>
        d.agg(count(lit(1)).as("n"))
          .select(col("n"), lit(null).cast("double").as("b0"),
            lit(null).cast("double").as("b1"),
            lit(null).cast("double").as("b2"),
            lit(null).cast("double").as("scale"),
            lit(null).cast("double").as("share_downweighted"))
      case Some(ols) =>
        // MAD probe honors the Preprocess.pctAgg size dispatch: the
        // residual column is ONE group with unbounded cardinality, so
        // exact `percentile` buffers every row in a single task —
        // past ExactPercentileMaxGroupRows switch to
        // approx_percentile's bounded-memory sketch (rank error
        // ≪ the 6-dp scale rounding). `exactScale` skips the probe
        // when the caller knows the cardinality.
        val exact = exactScale.getOrElse(d.count() <=
          graft.prep.Preprocess.ExactPercentileMaxGroupRows)
        // exact medians via distributed histogram narrowing (identical
        // values to the percentile aggregate — util.Quantiles); the
        // buffering aggregate's single-reducer merge was the hottest
        // stage of the whole fit (2.7 s of q385's 6.9 s per median)
        def med50(c: Column): Double =
          if (exact)
            graft.util.Quantiles.exactPercentiles(d, c, Seq(0.5)).get.head
          else d.agg(approx_percentile(c, lit(0.5), lit(10000))
            .cast("double")).head.getDouble(0)
        val r0 = resid(ols)
        val medR = med50(r0)
        val mad = med50(abs(r0 - graft.util.Param.scalar(medR)))
        val scale = mad / 0.6745
        var beta = ols
        if (scale > 0) {
          var it = 0
          var dead = false
          while (it < iters && !dead) {
            val w = least(lit(1.0),
              graft.util.Param.scalar(K * scale) / abs(resid(beta)))
            olsBeta(d, coalesce(w, lit(1.0))) match {
              case Some(b) => beta = b
              case None => dead = true
            }
            it += 1
          }
        }
        val wFin = least(lit(1.0), coalesce(
          graft.util.Param.scalar(K * scale) / abs(resid(beta)),
          lit(1.0)))
        val fin = d.agg(count(lit(1)).as("n"),
          avg(when(wFin < 1.0, 1.0).otherwise(0.0)).as("sh")).head()
        import spark.implicits._
        Seq((fin.getLong(0), math.rint(beta(0) * 1e4) / 1e4,
          math.rint(beta(1) * 1e4) / 1e4,
          math.rint(beta(2) * 1e4) / 1e4,
          math.rint(scale * 1e6) / 1e6,
          math.rint(fin.getDouble(1) * 1e4) / 1e4))
          .toDF("n", "b0", "b1", "b2", "scale", "share_downweighted")
    }
  }

  /** Two-regressor quantile regression (X308): the conditional
    * τ-quantile line Q_τ(y|x) = b0 + b1·x1 + b2·x2, fit by
    * fixed-iteration IRLS on the ε-smoothed pinball loss
    * (Schlossmacher's reweighting generalized to asymmetric weights):
    * from the OLS seed, each step recomputes per-row weights
    *
    *   w = |τ − 1(r < 0)| / max(|r|, ε),   r = y − x'β,
    *
    * and re-solves the weighted normal equations — ONE map-side-
    * combined 9-statistic aggregate per step plus the [[olsBeta]]
    * centered Cramer solve, the exact [[huber2]] execution shape
    * (fixed narrow passes, nothing fact-scale leaves the executors,
    * so a billion rows cost `iters + 1` scans). τ = 0.5 is robust
    * median (L1) regression; τ = 0.9 bounds the "90% of shipments
    * cost at most" line that OLS's mean line cannot give. Unlike
    * Newton-logistic's quadratic contraction, this reweighting
    * converges roughly geometrically — 8 steps still show visible
    * undercoverage at τ = 0.9 on fanned data, 16 land within ~0.02
    * of nominal — hence the higher default.
    *
    * The recipe is a fixed sequence of +/×/÷ on aggregate sums, so a
    * recursive CTE seeded with the same OLS solve replays it — the
    * q379 oracle discipline with the CENTERED solve (c11 = s11 −
    * s1²/sw, …) instead of the cofactor solve. ε (default 0.01 in
    * y-units) caps the weight of near-interpolated rows at
    * max(τ,1−τ)/ε, which both regularizes the classic IRLS
    * zero-residual blowup and keeps the float-order noise of the two
    * engines' sums from amplifying; the discontinuity of the τ vs
    * 1−τ factor at r = 0 is crossed only by rows within float noise
    * of the fitted plane (measure-zero for continuous y, stated).
    * Rows with any null field are dropped (complete-case); singular
    * designs null out, never error.
    *
    * Output (one row): n, b0, b1, b2 (4dp), pinball 6dp (mean
    * check-loss at the final β — the quantity IRLS minimizes),
    * share_below 4dp (empirical P(y < x'β̂), ≈ τ for a good fit — the
    * calibration readout; the residual sign is tested after 6-dp
    * rounding so input-value atoms sitting exactly on the plane
    * cannot flip the count on cross-engine float noise). */
  def quantile2(df: DataFrame, y: String, x1: String, x2: String,
                tau: Double, iters: Int = 16,
                eps: Double = 0.01): DataFrame = Pin.scope { pin =>
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    require(iters >= 1, "iters must be >= 1")
    require(eps > 0, s"eps must be > 0, got $eps")
    val spark = df.sparkSession
    val d = pin(df.select(col(y).cast("double").as("__y"),
        col(x1).cast("double").as("__x1"),
        col(x2).cast("double").as("__x2"))
      .filter(col("__y").isNotNull && col("__x1").isNotNull &&
        col("__x2").isNotNull))
    // per-step coefficients via util.Param (see newtonLogistic); tau
    // and eps are per-CALL constants, so they stay literals — only the
    // step-varying β would bust the codegen cache
    def resid(beta: Array[Double]): Column =
      col("__y") - graft.util.Param.scalar(beta(0)) -
        graft.util.Param.scalar(beta(1)) * col("__x1") -
        graft.util.Param.scalar(beta(2)) * col("__x2")
    olsBeta(d, lit(1.0)) match {
      case None =>
        d.agg(count(lit(1)).as("n"))
          .select(col("n"), lit(null).cast("double").as("b0"),
            lit(null).cast("double").as("b1"),
            lit(null).cast("double").as("b2"),
            lit(null).cast("double").as("pinball"),
            lit(null).cast("double").as("share_below"))
      case Some(ols) =>
        var beta = ols
        var it = 0
        var dead = false
        while (it < iters && !dead) {
          val r = resid(beta)
          // the side decision is pre-rounded 6dp: with discrete
          // inputs, whole residual ATOMS can sit exactly on the
          // current plane, and a raw r < 0 would flip their weight
          // by the τ/(1−τ) factor on the engines' float-order noise,
          // driving the two fits ~1e-5 apart (seen at first oracle
          // contact). The magnitude part stays unrounded — it is
          // continuous, so it cannot flip.
          val w = abs(lit(tau) -
            when(round(r, 6) < 0, lit(1.0)).otherwise(lit(0.0))) /
            greatest(abs(r), lit(eps))
          olsBeta(d, w) match {
            case Some(b) => beta = b
            case None => dead = true
          }
          it += 1
        }
        if (dead)
          d.agg(count(lit(1)).as("n"))
            .select(col("n"), lit(null).cast("double").as("b0"),
              lit(null).cast("double").as("b1"),
              lit(null).cast("double").as("b2"),
              lit(null).cast("double").as("pinball"),
              lit(null).cast("double").as("share_below"))
        else {
          val rF = resid(beta)
          // the sign test is pre-rounded 6dp: discrete inputs put
          // residual ATOMS exactly on the fitted plane, and a raw
          // r < 0 would flip whole atom-groups on the two engines'
          // 1e-12 β disagreement (the q406 fuzz-class bug, caught at
          // first oracle contact); |r| < 5e-7 counts as "on the
          // plane", not below — stated
          val fin = d.agg(count(lit(1)).as("n"),
            avg(greatest(lit(tau) * rF, (lit(tau) - 1.0) * rF))
              .as("pb"),
            avg(when(round(rF, 6) < 0, 1.0).otherwise(0.0)).as("sb"))
            .head()
          import spark.implicits._
          Seq((fin.getLong(0), math.rint(beta(0) * 1e4) / 1e4,
            math.rint(beta(1) * 1e4) / 1e4,
            math.rint(beta(2) * 1e4) / 1e4,
            math.rint(fin.getDouble(1) * 1e6) / 1e6,
            math.rint(fin.getDouble(2) * 1e4) / 1e4))
            .toDF("n", "b0", "b1", "b2", "pinball", "share_below")
        }
    }
  }

  /** Segmented (broken-stick) regression with a KNOWN knot (X268):
    * y = b0 + b1·x + b2·max(0, x − knot) — [[ols2]] on the hinge
    * basis, so the whole fit is still ONE map-side-combined
    * sufficient-statistics aggregate (the 100 TB regression shape).
    * slope_left = b1, slope_right = b1 + b2; b2 is the slope CHANGE at
    * the knot, the quantity a "did the trend bend here" question
    * actually asks. Knot placement is the caller's hypothesis (a
    * launch date, a price threshold) — this is inference on a given
    * breakpoint, not breakpoint search (see chowTest for testing one).
    * Null coefficients when the design is singular (e.g. no data on
    * one side of the knot makes the hinge collinear with x or
    * constant).
    *
    * Output (one row): n, intercept 4dp, slope_left 4dp,
    * slope_change 4dp, slope_right 4dp, r2 4dp. */
  def segmented(df: DataFrame, y: String, x: String,
                knot: Double): DataFrame = {
    val hinged = df.withColumn("__hinge",
      greatest(lit(0.0), col(x).cast("double") - knot))
    ols2(hinged, y, x, "__hinge")
      .select(col("n"), col("b0").as("intercept"),
        col("b1").as("slope_left"), col("b2").as("slope_change"),
        round(col("b1") + col("b2"), 4).as("slope_right"),
        col("r2"))
  }

  /** First-order partial correlation r_xy·z = (r_xy − r_xz·r_zy) /
    * √((1−r_xz²)(1−r_zy²)) — the "does x still correlate with y once z
    * is held fixed" readout, from the same one-aggregate sufficient
    * statistics as [[ols2]]. Output (one row): n, r_xy, r_xz, r_yz,
    * r_xy_z (all 4dp; null when any marginal correlation is
    * degenerate).
    */
  def partialCorr(df: DataFrame, x: String, y: String,
                  z: String): DataFrame = {
    val xv = col(x).cast("double")
    val yv = col(y).cast("double")
    val zv = col(z).cast("double")
    val a = df
      .filter(xv.isNotNull && yv.isNotNull && zv.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(xv).as("sx"), sum(yv).as("sy"), sum(zv).as("sz"),
        sum(xv * xv).as("sxx"), sum(yv * yv).as("syy"),
        sum(zv * zv).as("szz"), sum(xv * yv).as("sxy"),
        sum(xv * zv).as("sxz"), sum(yv * zv).as("syz"))
    val n = col("n").cast("double")
    def cov(spq: String, sp: String, sq: String) =
      col(spq) - col(sp) * col(sq) / n
    val vx = cov("sxx", "sx", "sx")
    val vy = cov("syy", "sy", "sy")
    val vz = cov("szz", "sz", "sz")
    val rxy = cov("sxy", "sx", "sy") / nullif(sqrt(vx * vy), lit(0.0))
    val rxz = cov("sxz", "sx", "sz") / nullif(sqrt(vx * vz), lit(0.0))
    val ryz = cov("syz", "sy", "sz") / nullif(sqrt(vy * vz), lit(0.0))
    val part = (rxy - rxz * ryz) /
      nullif(sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)),
        lit(0.0))
    a.select(col("n"),
      round(rxy, 4).as("r_xy"), round(rxz, 4).as("r_xz"),
      round(ryz, 4).as("r_yz"), round(part, 4).as("r_xy_z"))
  }

  /** Chow structural-break test: did the simple regression y ~ x
    * change between two regimes (pre/post a policy date, two cohorts)?
    * F = ((SSR_pooled − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k)), k = 2
    * (slope + intercept); SSR = Cyy − Cxy²/Cxx per fit, every C from
    * ONE conditional-aggregate pass (regime flags ride the same scan —
    * no per-regime jobs). P(F > f) = I_x(d₂/2, d₁/2), the oneWayF
    * tail. Output (one row): n, n_r0, n_r1, f_stat 4dp, p_value 6dp
    * (nulls on degenerate regimes). */
  def chowTest(df: DataFrame, y: String, x: String,
               regimeCol: String): DataFrame = {
    import graft.functions.gfunctions.reg_inc_beta
    val yv = col(y).cast("double")
    val xv = col(x).cast("double")
    val r = col(regimeCol) === 1
    def block(p: org.apache.spark.sql.Column, tag: String) = Seq(
      count(when(p, 1)).as(s"n$tag"),
      sum(when(p, xv)).as(s"sx$tag"), sum(when(p, yv)).as(s"sy$tag"),
      sum(when(p, xv * xv)).as(s"sxx$tag"),
      sum(when(p, xv * yv)).as(s"sxy$tag"),
      sum(when(p, yv * yv)).as(s"syy$tag"))
    // complete-case on regime as well (fuzz-18: a null regime used
    // to count in the pooled block but in neither regime block)
    val a = df.filter(yv.isNotNull && xv.isNotNull &&
        col(regimeCol).isNotNull)
      .agg(block(lit(true), "P").head,
        (block(lit(true), "P").tail ++ block(!r, "0") ++
          block(r, "1")): _*)
    def ssr(tag: String) = {
      val n = col(s"n$tag").cast("double")
      val cxx = col(s"sxx$tag") - col(s"sx$tag") * col(s"sx$tag") / n
      val cxy = col(s"sxy$tag") - col(s"sx$tag") * col(s"sy$tag") / n
      val cyy = col(s"syy$tag") - col(s"sy$tag") * col(s"sy$tag") / n
      cyy - cxy * cxy / nullif(cxx, lit(0.0))
    }
    val ssrP = ssr("P"); val ssr0 = ssr("0"); val ssr1 = ssr("1")
    val n = col("nP").cast("double")
    val d1 = lit(2.0)
    val d2 = n - 4
    val f = ((ssrP - ssr0 - ssr1) / d1) /
      nullif((ssr0 + ssr1) / nullif(d2, lit(0.0)), lit(0.0))
    val xbeta = d2 / (d2 + d1 * f)
    a.select(col("nP").as("n"), col("n0").as("n_r0"),
      col("n1").as("n_r1"),
      round(f, 4).as("f_stat"),
      when(col("n0") >= 3 && col("n1") >= 3 && f.isNotNull && f >= 0,
        round(reg_inc_beta(xbeta, d2 / 2, d1 / 2), 6)).as("p_value"))
  }

  /** Durbin–Watson statistic of the per-key simple-OLS residuals:
    * DW = Σ_t (e_t − e_{t−1})² / Σ e_t², e_t the residual of y ~ x in
    * `orderCol` order — the serial-correlation diagnostic every
    * time-series regression report carries (DW ≈ 2 none, → 0 positive,
    * → 4 negative autocorrelation). Slope/intercept come from one
    * stats aggregate; residuals are computed by joining those two
    * numbers back (group-bounded broadcast) and the quadratic forms
    * from one lag window. Output: (key, n BIGINT, slope 4dp, dw 4dp —
    * null for degenerate fits). */
  def durbinWatson(df: DataFrame, key: String, orderCol: String,
                   y: String, x: String): DataFrame = {
    val yv = col(y).cast("double")
    val xv = col(x).cast("double")
    val stats = df.groupBy(col(key).as("__k"))
      .agg(count(lit(1)).as("n"), sum(xv).as("sx"), sum(yv).as("sy"),
        sum(xv * xv).as("sxx"), sum(xv * yv).as("sxy"))
    val n = col("n").cast("double")
    val beta = (col("sxy") - col("sx") * col("sy") / n) /
      nullif(col("sxx") - col("sx") * col("sx") / n, lit(0.0))
    val fit = stats.select(col("__k"), col("n"), beta.as("__b"),
      (col("sy") / n - beta * col("sx") / n).as("__a"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col(orderCol))
    val res = df.select(col(key).as("__k"), col(orderCol), yv.as("__y"),
        xv.as("__x"))
      .join(broadcast(fit), Seq("__k"))
      .withColumn("__e", col("__y") - col("__a") - col("__b") * col("__x"))
      .withColumn("__el", lag(col("__e"), 1).over(w))
    res.groupBy(col("__k"))
      .agg(max(col("n")).as("n"),
        round(max(col("__b")), 4).as("slope"),
        round(sum(pow(col("__e") - col("__el"), 2)) /
          nullif(sum(col("__e") * col("__e")), lit(0.0)), 4).as("dw"))
      .select(col("__k").as(key), col("n"), col("slope"), col("dw"))
  }

  /** Cook's distance top-k per group for the simple regression
    * y = a + b·x: D_i = e_i²/(2·MSE) · h_i/(1−h_i)² with leverage
    * h_i = 1/n + (x_i−x̄)²/S_xx and MSE = SSE/(n−2) — "which points
    * own the fit", the influence diagnostic to run before trusting
    * q117/q224 coefficients. Group sufficient statistics broadcast
    * back onto the facts ([[durbinWatson]]'s shape), one window for
    * the per-group top-k cut. Output: (group, x, y, residual 4dp,
    * leverage 4dp, cooks_d 4dp), the k most influential rows per
    * group, influence-descending (ties broken by x); groups with
    * n < 3 or zero MSE drop out. */
  def cooksDistance(df: DataFrame, key: String, x: String, y: String,
                    topK: Int = 3): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val yv = col(y).cast("double")
    val xv = col(x).cast("double")
    val stats = df.groupBy(col(key).as("__k"))
      .agg(count(lit(1)).as("n"), sum(xv).as("sx"), sum(yv).as("sy"),
        sum(xv * xv).as("sxx"), sum(xv * yv).as("sxy"),
        sum(yv * yv).as("syy"))
    val n = col("n").cast("double")
    val cxx = col("sxx") - col("sx") * col("sx") / n
    val cxy = col("sxy") - col("sx") * col("sy") / n
    val cyy = col("syy") - col("sy") * col("sy") / n
    val b = cxy / nullif(cxx, lit(0.0))
    val fit = stats.filter(col("n") >= 3).select(col("__k"),
      col("n"), b.as("__b"),
      (col("sy") / n - b * col("sx") / n).as("__a"),
      (col("sx") / n).as("__mx"), cxx.as("__cxx"),
      (nullif(cyy - b * cxy, lit(0.0)) / (n - 2)).as("__mse"))
    val e = col("__y") - col("__a") - col("__b") * col("__x")
    val h = lit(1.0) / col("n") +
      (col("__x") - col("__mx")) * (col("__x") - col("__mx")) /
        nullif(col("__cxx"), lit(0.0))
    val d = e * e / (lit(2.0) * col("__mse")) *
      h / ((lit(1.0) - h) * (lit(1.0) - h))
    val scored = df.select(col(key).as("__k"), xv.as("__x"),
        yv.as("__y"))
      .join(broadcast(fit), Seq("__k"))
      .select(col("__k"), col("__x"), col("__y"),
        e.as("__e"), h.as("__h"), d.as("__d"))
      .filter(col("__d").isNotNull)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k"))
      .orderBy(col("__d").desc, col("__x").asc)
    scored.withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= topK)
      .select(col("__k").as(key), col("__x").as(x), col("__y").as(y),
        round(col("__e"), 4).as("residual"),
        round(col("__h"), 4).as("leverage"),
        round(col("__d"), 4).as("cooks_d"))
  }

  /** Granger causality at lag 1 per key: does x yesterday improve the
    * prediction of y today beyond y's own history? F-test of adding
    * x_{t−1} to y_t ~ y_{t−1}: F = (RSS_r − RSS_u)/(RSS_u/(n−3)),
    * F_{1,n−3} under H0, whose tail is exactly the two-sided t tail
    * I_v(ν/2, ½) at ν = n−3, x = ν/(ν+F) — evaluated by the
    * reg_inc_beta kernel on key rows only ("Granger-causes" is
    * predictive precedence, not mechanism — the standard caveat).
    * One lag window per key + one ten-statistic aggregate; both OLS
    * fits are closed-form Cramer solves on that row. Output: (key,
    * n BIGINT usable rows, r2_restricted 4dp, r2_unrestricted 4dp,
    * f 4dp, p_value 6dp); singular designs yield nulls. */
  def grangerLag1(df: DataFrame, key: String, orderCol: String,
                  x: String, y: String): DataFrame = {
    import graft.functions.gfunctions.reg_inc_beta
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(orderCol))
    val lagged = df
      .withColumn("__y", col(y).cast("double"))
      .withColumn("__y1", lag(col(y).cast("double"), 1).over(w))
      .withColumn("__x1", lag(col(x).cast("double"), 1).over(w))
      .filter(col("__y1").isNotNull && col("__x1").isNotNull &&
        col("__y").isNotNull)
    val a = lagged.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(col("__y1")).as("s1"), sum(col("__x1")).as("s2"),
        sum(col("__y")).as("sy"),
        sum(col("__y1") * col("__y1")).as("s11"),
        sum(col("__x1") * col("__x1")).as("s22"),
        sum(col("__y1") * col("__x1")).as("s12"),
        sum(col("__y1") * col("__y")).as("s1y"),
        sum(col("__x1") * col("__y")).as("s2y"),
        sum(col("__y") * col("__y")).as("syy"))
    val n = col("n").cast("double")
    val c11 = col("s11") - col("s1") * col("s1") / n
    val c22 = col("s22") - col("s2") * col("s2") / n
    val c12 = col("s12") - col("s1") * col("s2") / n
    val c1y = col("s1y") - col("s1") * col("sy") / n
    val c2y = col("s2y") - col("s2") * col("sy") / n
    val cyy = col("syy") - col("sy") * col("sy") / n
    val rssR = cyy - c1y * c1y / nullif(c11, lit(0.0))
    val det = nullif(c11 * c22 - c12 * c12, lit(0.0))
    val b1 = (c1y * c22 - c2y * c12) / det
    val b2 = (c2y * c11 - c1y * c12) / det
    val rssU = cyy - (b1 * c1y + b2 * c2y)
    val nu = n - 3
    val f = (rssR - rssU) / (nullif(rssU, lit(0.0)) / nu)
    a.filter(col("n") >= 4)
      .select(col(key), col("n"),
        round(lit(1.0) - rssR / nullif(cyy, lit(0.0)), 4)
          .as("r2_restricted"),
        round(lit(1.0) - rssU / nullif(cyy, lit(0.0)), 4)
          .as("r2_unrestricted"),
        round(f, 4).as("f"),
        round(reg_inc_beta(nu / (nu + f), nu / 2, lit(0.5)), 6)
          .as("p_value"))
  }

  /** Breusch–Pagan heteroskedasticity test per group (the
    * Koenker studentized form): regress the squared residuals of
    * y = a + b·x on x; LM = n·R² of that auxiliary regression is
    * χ²₁ under homoskedasticity, p = 2·P(Z > √LM). The "can I trust
    * the OLS standard errors" gate next to [[durbinWatson]]'s
    * autocorrelation gate. Two aggregate passes (fit, then auxiliary
    * sums over the residuals), no window. Output: (group, n BIGINT,
    * lm 4dp, p_value 6dp); degenerate auxiliaries yield nulls. */
  def breuschPagan(df: DataFrame, key: String, x: String,
                   y: String): DataFrame = {
    import graft.functions.gfunctions.normal_sf
    val yv = col(y).cast("double")
    val xv = col(x).cast("double")
    val stats = df.groupBy(col(key).as("__k"))
      .agg(count(lit(1)).as("n"), sum(xv).as("sx"), sum(yv).as("sy"),
        sum(xv * xv).as("sxx"), sum(xv * yv).as("sxy"))
    val n0 = col("n").cast("double")
    val b = (col("sxy") - col("sx") * col("sy") / n0) /
      nullif(col("sxx") - col("sx") * col("sx") / n0, lit(0.0))
    val fit = stats.select(col("__k"), b.as("__b"),
      (col("sy") / n0 - b * col("sx") / n0).as("__a"))
    val e2 = (col("__y") - col("__a") - col("__b") * col("__x")) *
      (col("__y") - col("__a") - col("__b") * col("__x"))
    val aux = df.select(col(key).as("__k"), xv.as("__x"), yv.as("__y"))
      .join(broadcast(fit), Seq("__k"))
      .select(col("__k"), col("__x"), e2.as("__u"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("sx"),
        sum(col("__u")).as("su"), sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__x") * col("__u")).as("sxu"),
        sum(col("__u") * col("__u")).as("suu"))
    val n = col("n").cast("double")
    val cxx = col("sxx") - col("sx") * col("sx") / n
    val cxu = col("sxu") - col("sx") * col("su") / n
    val cuu = col("suu") - col("su") * col("su") / n
    val r2 = cxu * cxu / nullif(cxx * cuu, lit(0.0))
    val lm = n * r2
    aux.select(col("__k").as(key), col("n"),
      round(lm, 4).as("lm"),
      round(lit(2.0) * normal_sf(sqrt(lm)), 6).as("p_value"))
  }
}
