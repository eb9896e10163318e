package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Finite mixture modeling by expectation–maximization — the classic
  * "is this one population or two" decomposition (Dempster, Laird &
  * Rubin 1977), reduced to the engine's fixed-iteration discipline:
  * a deterministic seed, a fixed number of EM rounds, every round ONE
  * map-side-combined aggregate, all driver state O(k) parameters.
  * The reference pipeline has no latent-variable surface at all; in a
  * training-data context this is the bimodality screen (two quality
  * regimes in one source, two length populations after a bad
  * concatenation) that moment summaries miss.
  */
object Mixture {

  /** Two-component 1-D Gaussian mixture fit by `iters` fixed EM
    * rounds. The recipe is part of the replay contract (a recursive
    * CTE carrying (π, μ₁, v₁, μ₂, v₂) replays it — the q379
    * discipline):
    *
    * Seeds: μ₁ = min + (max−min)/4, μ₂ = min + 3·(max−min)/4,
    * v₁ = v₂ = var_pop/4 floored at vfloor = 1e-6·(max−min)², π = ½.
    * E-step per row: φᵢ = exp(−(x−μᵢ)²/(2vᵢ))/√(2π·vᵢ),
    * γ = πφ₁ / (πφ₁ + (1−π)φ₂) (zero denominator → ½, stated).
    * M-step: π' = Σγ/n, μ₁' = Σγx/Σγ, v₁' = max(Σγx²/Σγ − μ₁'²,
    * vfloor) and the complements for component 2 — one 5-sum
    * aggregate per round, so a billion rows cost `iters` narrow
    * passes and nothing fact-scale leaves the executors.
    *
    * EM monotonically increases the likelihood and the parameter map
    * is smooth (no sign knife-edges anywhere — unlike quantile IRLS
    * there is nothing to pre-round), so two engines replaying the
    * same fixed rounds agree to float noise. Components keep the
    * seed's low/high order for any non-pathological trajectory; no
    * relabeling is applied (stated). Degenerate inputs (n = 0 or
    * max = min) yield a null-fit row.
    *
    * Output (one row): n, weight1 4dp, mu1 4dp, sd1 4dp, mu2 4dp,
    * sd2 4dp, avg_loglik 6dp (mean per-row log density at the final
    * parameters — the model-comparison readout vs a single Gaussian).
    */
  def gmm2(df: DataFrame, valueCol: String,
           iters: Int = 12): DataFrame = Pin.scope { pin =>
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val d = pin(df.select(col(valueCol).cast("double").as("__x"))
      .filter(col("__x").isNotNull))
    val base = d.agg(count(lit(1)).as("n"), min(col("__x")).as("mn"),
      max(col("__x")).as("mx"), var_pop(col("__x")).as("vp")).head()
    val n = base.getLong(0)
    if (n == 0 || base.getDouble(1) == base.getDouble(2)) {
      Seq((n, Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Double]))
        .toDF("n", "weight1", "mu1", "sd1", "mu2", "sd2", "avg_loglik")
    } else {
      val mn = base.getDouble(1); val mx = base.getDouble(2)
      val vp = base.getDouble(3)
      val vfloor = 1e-6 * (mx - mn) * (mx - mn)
      var p = 0.5
      var m1 = mn + (mx - mn) / 4.0
      var m2 = mn + 3.0 * (mx - mn) / 4.0
      var v1 = math.max(vp / 4.0, vfloor)
      var v2 = v1
      // round parameters enter as codegen-cache-friendly constants
      // (util.Param.scalar, see Regression.newtonLogistic) so every
      // EM round reuses one codegen source. Pure-double products the
      // driver used to fold (2·v, 1−p, √(2πv)) are STILL computed on
      // the driver and passed pre-folded, so the per-row arithmetic
      // is the literal version's exactly.
      def phi(m: Double, v: Double): Column = {
        import graft.util.Param.scalar
        exp(-(col("__x") - scalar(m)) * (col("__x") - scalar(m)) /
          scalar(2.0 * v)) / scalar(math.sqrt(2.0 * math.Pi * v))
      }
      def denC: Column =
        graft.util.Param.scalar(p) * phi(m1, v1) +
          graft.util.Param.scalar(1.0 - p) * phi(m2, v2)
      def gammaCol(): Column =
        when(denC > 0, graft.util.Param.scalar(p) * phi(m1, v1) / denC)
          .otherwise(lit(0.5))
      var it = 0
      while (it < iters) {
        val g = gammaCol()
        val r = d.agg(
          sum(g).as("sg"), sum(g * col("__x")).as("sgx"),
          sum(g * col("__x") * col("__x")).as("sgxx"),
          sum(col("__x")).as("sx"),
          sum(col("__x") * col("__x")).as("sxx")).head()
        val sg = r.getDouble(0); val sgx = r.getDouble(1)
        val sgxx = r.getDouble(2)
        val sx = r.getDouble(3); val sxx = r.getDouble(4)
        val s2 = n - sg
        if (sg > 0 && s2 > 0) {
          val nm1 = sgx / sg
          val nv1 = math.max(sgxx / sg - nm1 * nm1, vfloor)
          val nm2 = (sx - sgx) / s2
          val nv2 = math.max((sxx - sgxx) / s2 - nm2 * nm2, vfloor)
          p = sg / n; m1 = nm1; v1 = nv1; m2 = nm2; v2 = nv2
        }
        it += 1
      }
      val ll = d.agg(avg(log(denC))).head().getDouble(0)
      Seq((n, math.rint(p * 1e4) / 1e4, math.rint(m1 * 1e4) / 1e4,
        math.rint(math.sqrt(v1) * 1e4) / 1e4,
        math.rint(m2 * 1e4) / 1e4,
        math.rint(math.sqrt(v2) * 1e4) / 1e4,
        math.rint(ll * 1e6) / 1e6))
        .toDF("n", "weight1", "mu1", "sd1", "mu2", "sd2", "avg_loglik")
    }
  }
}
