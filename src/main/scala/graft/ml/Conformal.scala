package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Split-conformal prediction intervals (X282; Vovk et al. / Lei et
  * al. 2018) — distribution-free coverage for ANY point predictor:
  * on a calibration half, take q̂ = the ⌈(n+1)(1−α)⌉-th smallest
  * absolute residual (an exact ORDER STATISTIC, not an interpolated
  * percentile — the finite-sample guarantee depends on it); the
  * interval ŷ ± q̂ then covers a fresh point with probability ≥ 1−α,
  * no matter how wrong the model is. The test half reports the
  * realized coverage — the honesty check.
  *
  * Scale shape: the calibration rank is one row_number window over
  * the calibration residuals (deterministic (residual, id) order) +
  * one filtered row; the coverage pass is one conditional aggregate
  * with the 1-row q̂ frame broadcast-crossed in. Nothing collects.
  *
  * Split discipline: the caller supplies the calibration indicator
  * (deterministic hash/parity upstream — the q69 leakage-safe-split
  * conventions). Too-small calibration sets (⌈(n+1)(1−α)⌉ > n) yield
  * null q̂/coverage rather than a fake guarantee.
  *
  * Output (one row): n_cal BIGINT, n_test BIGINT, rank_k BIGINT,
  * q_hat 6dp, target 4dp (= 1−α), coverage 4dp, mean_width 6dp
  * (= 2·q̂). */
object Conformal {

  def splitConformal(df: DataFrame, idCol: String, yCol: String,
                     predCol: String, calCol: String,
                     alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val res = df.select(col(idCol).as("__id"),
        abs(col(yCol).cast("double") - col(predCol).cast("double"))
          .as("__r"),
        (col(calCol) === 1).as("__cal"))
      .filter(col("__r").isNotNull)
    val cal = res.filter(col("__cal"))
    val nCal = cal.agg(count(lit(1))).head.getLong(0)
    val k = math.ceil((nCal + 1) * (1.0 - alpha)).toLong
    // order-statistic selection via the size-dispatched global rank
    // (nCal is already in hand — the dispatch probe is free): plain
    // window below 2M calibration rows, two-pass distributed rank
    // above — no single-partition sort over the calibration set
    val qhat =
      if (k > nCal || nCal == 0)
        cal.sparkSession.sql("SELECT CAST(NULL AS DOUBLE) AS __q")
      else
        graft.util.Ranks.globalRowNumber(cal,
            Seq(col("__r").asc, col("__id").asc), "__rn", nCal)
          .filter(col("__rn") === k)
          .select(col("__r").as("__q"))
    val test = res.filter(!col("__cal"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        avg(when(col("__r") <= col("__q"), 1.0).otherwise(0.0))
          .as("__cov"),
        max(col("__q")).as("__qv"))
    test.select(lit(nCal).as("n_cal"), col("n_test"),
      lit(k).as("rank_k"),
      round(col("__qv"), 6).as("q_hat"),
      round(lit(1.0 - alpha), 4).as("target"),
      when(col("__qv").isNull, lit(null).cast("double"))
        .otherwise(round(col("__cov"), 4)).as("coverage"),
      round(lit(2.0) * col("__qv"), 6).as("mean_width"))
  }
}
