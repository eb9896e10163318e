package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round L2 gradient boosting with depth-1 trees (X285) — the
  * minimal member of the GBM family, built the graft way: the fact
  * table collapses ONCE to per-feature-value cells (n, Σy, Σy²), and
  * every boosting round is then a driver-side best-split scan over
  * the VALUE-DOMAIN-BOUNDED cell array (feature domains like
  * hour-of-day or integer buckets are the contract, enforced by
  * `maxCells`). Stump predictions are constant within a cell, so
  * residual sufficient statistics per cell are derivable in closed
  * form round-over-round — the raw data is never rescanned.
  *
  * Determinism: the split argmin ranks the 6-dp-ROUNDED SSE with a
  * smallest-threshold tie-break (the bm25 rounded-rank-key
  * discipline), so engines whose cell sums differ in the last ulp
  * still pick the same split; the oracle replays the identical
  * unrolled rounds.
  *
  * Output one row per round: (round, split_at BIGINT — right side
  * strictly greater — left_value 6dp, right_value 6dp,
  * train_mse 6dp). Degenerate domains (< 2 distinct values) return
  * an empty frame. */
object Boost {

  def stumpBoost(df: DataFrame, xCol: String, yCol: String,
                 rounds: Int = 3,
                 maxCells: Long = 100000L): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = df.sparkSession
    val cellsDf = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("long").as("__x"))
      .agg(count(lit(1)).as("__n"),
        sum(col(yCol).cast("double")).as("__sy"),
        sum(col(yCol).cast("double") * col(yCol).cast("double"))
          .as("__syy"))
    val nCells = cellsDf.count()
    require(nCells <= maxCells,
      s"stumpBoost: $nCells distinct feature values exceed the " +
        s"value-domain contract ($maxCells); bucket the feature " +
        "upstream")
    val cells = cellsDf.orderBy(col("__x")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    import spark.implicits._
    if (cells.length < 2)
      return Seq.empty[(Int, Long, Double, Double, Double)]
        .toDF("round", "split_at", "left_value", "right_value",
          "train_mse")
    val nTot = cells.map(_._2).sum
    val pred = scala.collection.mutable.Map(
      cells.map(c => c._1 -> 0.0): _*)
    val out = (1 to rounds).map { r =>
      // residual stats per cell under the current additive model:
      // rsy = Σ(y−P) = sy − n·P ; rs2 = Σ(y−P)² = syy − 2P·sy + n·P²
      val res = cells.map { case (x, n, sy, syy) =>
        val p = pred(x)
        (x, n, sy - n * p, syy - 2 * p * sy + n * p * p)
      }
      val totN = nTot
      val totSy = res.map(_._3).sum
      val totS2 = res.map(_._4).sum
      // candidate split after each cell but the last; prefix sums in
      // sorted-x order
      var best: (Double, Long, Double, Double) = null
      var accN = 0L; var accSy = 0.0
      res.dropRight(1).foreach { case (x, n, rsy, _) =>
        accN += n; accSy += rsy
        val nR = totN - accN
        val syR = totSy - accSy
        val sse = totS2 - accSy * accSy / accN - syR * syR / nR
        val key = math.rint(sse * 1e6) / 1e6
        if (best == null || key < best._1) {
          best = (key, x, accSy / accN, syR / nR)
        }
      }
      val (_, splitAt, lMean, rMean) = best
      cells.foreach { case (x, _, _, _) =>
        pred(x) += (if (x <= splitAt) lMean else rMean)
      }
      // train MSE after this round, from the same closed-form stats
      val mse = cells.map { case (x, n, sy, syy) =>
        val p = pred(x)
        syy - 2 * p * sy + n * p * p
      }.sum / nTot
      (r, splitAt, math.rint(lMean * 1e6) / 1e6,
        math.rint(rMean * 1e6) / 1e6, math.rint(mse * 1e6) / 1e6)
    }
    out.toDF("round", "split_at", "left_value", "right_value",
      "train_mse")
  }
}
