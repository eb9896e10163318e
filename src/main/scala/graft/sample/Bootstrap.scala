package graft.sample

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gfunctions.md5_long
import graft.util.Pin

/** Deterministic percentile-bootstrap confidence interval for a group
  * mean — uncertainty quantification without distributional assumptions,
  * and (unlike the usual RNG bootstrap) REPRODUCIBLE: replicate b's j-th
  * draw is indexed by the md5 hash of "b:j", so any engine (and any
  * re-run) builds the identical resamples. The hash is masked to its low
  * 47 bits before the modulo — a non-negative range both a signed-long
  * engine (Spark) and an unsigned-hugeint engine (DuckDB) compute
  * identically — and the ~2⁻³³ residual modulo bias is irrelevant to a
  * CI.
  *
  * Scale shape: the values frame is rank-indexed once (per-group
  * window), then the replicate driver is a GENERATED (group × B × n)
  * index table joined back by (group, index) — shuffle volume B·n rows,
  * bounded by the pre-aggregated unit table times the replicate count,
  * never the fact table. Replicate means are exact-integer sums over
  * cents divided once; the CI picks order statistics by row_number
  * (ceil(α·B) / ceil((1−α)·B)), so the whole readout is engine-exact.
  */
object Bootstrap {

  private val Mask47 = (1L << 47) - 1

  /** Per-group percentile-bootstrap CI of the mean of an integer-cents
    * column: (group, n_units, b_reps, mean 4dp, ci_lo 4dp, ci_hi 4dp).
    * alpha is the two-sided tail mass (0.05 → 95% CI).
    * broadcastUnitRows: unit-table row count up to which the rank-indexed
    * units are broadcast into the draw join (see dispatch comment). */
  def meanCi(df: DataFrame, groupCol: String, valueCol: String,
             bReps: Int = 200, alpha: Double = 0.05,
             broadcastUnitRows: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame = Pin.scope { pin =>
    require(bReps >= 2 && alpha > 0 && alpha < 1)
    // Index rank ties on value alone: equal values are interchangeable
    // under resampling, so the drawn MULTISET (hence every replicate
    // mean) is deterministic even where the per-row index is not.
    // Pinned: the indexed frame feeds the size probe, the draw join
    // and the point estimate — an unpinned plan would re-run the
    // rank window three times.
    // complete-case on value (fuzz-19: a null value sorts FIRST here
    // and LAST in a SQL replayer, silently permuting every drawn
    // index; a null is no observation to resample anyway)
    val indexed = pin(df
      .select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__idx", row_number().over(
        Window.partitionBy(col("__g")).orderBy(col("__v").asc)) - 1))
    val sizes = indexed.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    // (group, b, j) -> drawn index = md5("b:j") & Mask47 mod n.
    val draws = sizes
      .withColumn("__b", explode(sequence(lit(0), lit(bReps - 1))))
      .withColumn("__j", explode(sequence(lit(0), col("__n") - 1)))
      .withColumn("__idx",
        md5_long(concat_ws(":", col("__b"), col("__j")))
          .bitwiseAND(lit(Mask47)) % col("__n"))
    // The B·n draw table is the big side; the rank-indexed unit table
    // is bounded by the unit domain — when it fits broadcast range the
    // hint ships it to every task so the draws never shuffle (the
    // replicate means then reduce map-side to B rows per group). Past
    // broadcastUnitRows the dispatch drops the hint automatically and
    // both sides hash-partition on (group, idx) — the bhAdjust
    // discipline: the caller never edits code to cross the size cliff.
    // Both paths compute identical draws (parity pinned in the spec).
    val unitSide =
      if (indexed.count() <= broadcastUnitRows) broadcast(indexed)
      else indexed
    val repMeans = draws
      .join(unitSide, Seq("__g", "__idx"))
      .groupBy(col("__g"), col("__b"))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
      .select(col("__g"), col("__b"),
        (col("__s").cast("double") / col("__n")).as("__mean"))
    val loK = math.ceil(alpha / 2 * bReps).toLong
    val hiK = math.ceil((1 - alpha / 2) * bReps).toLong
    val wOrd = Window.partitionBy(col("__g"))
      .orderBy(col("__mean").asc, col("__b").asc)
    val ranked = repMeans.withColumn("__r", row_number().over(wOrd))
    val ci = ranked.groupBy(col("__g"))
      .agg(
        round(max(when(col("__r") === loK, col("__mean"))), 4).as("ci_lo"),
        round(max(when(col("__r") === hiK, col("__mean"))), 4).as("ci_hi"))
    val point = indexed.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_units"),
        round(sum(col("__v")).cast("double") / count(lit(1)), 4)
          .as("mean"))
    point.join(ci, Seq("__g"))
      .select(col("__g").as(groupCol), col("n_units"),
        lit(bReps.toLong).as("b_reps"), col("mean"), col("ci_lo"),
        col("ci_hi"))
      // group-grain output: materialized before indexed's pin is released
      .localCheckpoint()
  }
}
