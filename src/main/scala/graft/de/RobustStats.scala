package graft.de

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Order-statistic summaries that stay exact cross-engine because they
  * select VALUES rather than interpolate: weighted median, deterministic
  * mode, and the Pythagorean-means battery. All three collapse the fact
  * table to (group, value) CELLS first — every window or argmax then
  * runs over the value domain, the gate-sweep scale shape.
  */
object RobustStats {

  /** Lower weighted median per group: the smallest value v whose
    * cumulative weight reaches half the total (2·cumw ≥ totw — integer
    * comparison, no ½ double). Weights must be non-negative integers.
    * Output: (group, n_values BIGINT, total_weight BIGINT,
    * w_median). */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    // complete-case on value AND weight (fuzz-19: a null value has no
    // place on the cumulative-weight axis and engines sort it
    // oppositely; a null weight is no observation). n_values rides
    // the unbounded window instead of a join-back, so a null GROUP
    // survives (the old Seq-join dropped it) and a shuffle disappears.
    val cells = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(col(weightCol)).as("__w"))
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    cells
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .withColumn("__nv", count(lit(1)).over(wAll))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(col(groupCol))
      .agg(max(col("__nv")).as("n_values"),
        max(col("__tot")).as("total_weight"),
        min(col(valueCol)).as("w_median"))
      .select(col(groupCol), col("n_values"), col("total_weight"),
        col("w_median"))
  }

  /** Generalized lower weighted quantiles (X96) — [[weightedMedian]]
    * for arbitrary percent points: per (group, q) the smallest value
    * whose cumulative weight reaches q% of the total, decided in pure
    * integers (100·cumw ≥ q·totw). All requested quantiles ride ONE
    * cell window sort; the per-q selection explodes the (small) cell
    * table by |qs|, never the facts. Output: (group, q INT, value,
    * total_weight BIGINT). */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                        weightCol: String, qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 100))
    // complete-case on value AND weight — [[weightedMedian]]'s fuzz-19
    // contract, found missing here by fuzz-21: a null value has no
    // place on the cumulative-weight axis (engines sort it oppositely,
    // shifting every cum prefix), and a null weight is no observation
    val cells = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(col(weightCol)).as("__w"))
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    cells
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .withColumn("q", explode(lit(qs.toArray)))
      .filter(col("__cum") * 100 >= col("q") * col("__tot"))
      .groupBy(col(groupCol), col("q"))
      .agg(min(col(valueCol)).as("value"),
        max(col("__tot")).as("total_weight"))
  }

  /** Deterministic mode per group: the most frequent value, smallest
    * value on count ties (an explicit convention where `mode()`
    * builtins are tie-unspecified). Output: (group, mode_value,
    * mode_count BIGINT, n_distinct BIGINT). */
  def mode(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val cells = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val wRk = Window.partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col(valueCol).asc)
    cells
      .withColumn("__nd", count(lit(1)).over(
        Window.partitionBy(col(groupCol))))
      .withColumn("__rk", row_number().over(wRk))
      .filter(col("__rk") === 1)
      .select(col(groupCol), col(valueCol).as("mode_value"),
        col("__c").as("mode_count"), col("__nd").as("n_distinct"))
  }

  /** Arithmetic / geometric / harmonic means of a positive integer
    * column per group (AM ≥ GM ≥ HM, pinned by spec). GM = exp(mean ln)
    * and HM = n/Σ(1/x) accumulate doubles — rounded to 4 dp; AM is an
    * exact-integer ratio. Output: (group, n BIGINT, am, gm, hm). */
  def pythagoreanMeans(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol)).as("__s"),
        sum(log(col(valueCol).cast("double"))).as("__sl"),
        sum(lit(1.0) / col(valueCol)).as("__sr"))
      .select(col(groupCol), col("n"),
        round(col("__s").cast("double") / col("n"), 4).as("am"),
        round(exp(col("__sl") / col("n")), 4).as("gm"),
        round(col("n") / col("__sr"), 4).as("hm"))

  /** Trimmed mean: the mean of values inside the [pLo, pHi] exact
    * interpolated percentile band per group — the robust location
    * estimate between the mean (trim 0) and median (trim 0.5).
    * Interpolated cut points are never data values for non-degenerate
    * group sizes, so band membership is float-safe across engines.
    * Output: (group, n, n_kept, p_lo 4dp, p_hi 4dp, trimmed_mean 4dp).
    *
    * Size dispatch (the Preprocess.pctAgg discipline): exact
    * `percentile` buffers every group value in one task, so when the
    * probe sees a hot group past ExactPercentileMaxGroupRows the cut
    * points dispatch to approx_percentile's bounded-memory sketch
    * (rank error 1/accuracy ≪ the trim band width); the same probe's
    * group count decides whether the cuts frame is broadcast or
    * hash-joined. `exactQuantiles` skips the probe when cardinality is
    * known.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  pLo: Double, pHi: Double,
                  exactQuantiles: Option[Boolean] = None): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, "0 <= pLo < pHi <= 1")
    val v = col(valueCol).cast("double")
    val nn = df.filter(v.isNotNull)
    val (nGroups, exact) = exactQuantiles match {
      case Some(e) => (0L, e) // probe skipped: caller vouches; broadcast
      case None =>
        val (ng, mx) = graft.prep.Preprocess.groupSizeProbe(
          nn, Seq(col(groupCol)))
        (ng, mx <= graft.prep.Preprocess.ExactPercentileMaxGroupRows)
    }
    def pct(p: Double) =
      if (exact) percentile(v, lit(p))
      else approx_percentile(v, lit(p), lit(10000)).cast("double")
    val cuts = nn
      .groupBy(col(groupCol).as("__g"))
      .agg(pct(pLo).as("__lo"), pct(pHi).as("__hi"),
        count(lit(1)).as("n"))
    val cutsSide =
      if (nGroups <= 2000000L) broadcast(cuts) else cuts
    nn.join(cutsSide, col(groupCol) === col("__g"))
      .groupBy(col(groupCol))
      .agg(max(col("n")).as("n"),
        sum(when(v >= col("__lo") && v <= col("__hi"), 1L).otherwise(0L))
          .as("n_kept"),
        round(max(col("__lo")), 4).as("p_lo"),
        round(max(col("__hi")), 4).as("p_hi"),
        round(avg(when(v >= col("__lo") && v <= col("__hi"), v)), 4)
          .as("trimmed_mean"))
  }

  /** Hodges–Lehmann location estimator per group: the exact median of
    * the n(n+1)/2 Walsh averages (x_i + x_j)/2 over i ≤ j — the
    * location the Wilcoxon signed-rank test inverts to, more
    * efficient than the plain median under near-symmetric noise while
    * keeping a 29% breakdown point. Same SERIES-GRAIN O(n²) contract
    * and size guard as [[theilSen]]. Row indexing breaks value ties
    * arbitrarily, but the Walsh-average MULTISET is permutation-
    * invariant within a tie, so the estimate is deterministic.
    * Output: (group, n BIGINT, n_pairs BIGINT, hl_estimate 6dp). */
  def hodgesLehmann(df: DataFrame, groupCol: String, valueCol: String,
                    maxGroupRows: Long = 10000L): DataFrame = Pin.scope { pin =>
    val pts = pin(df.select(col(groupCol).as("__g"),
      col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__i", row_number().over(
        Window.partitionBy(col("__g")).orderBy(col("__v")))))
    val worst = pts.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head
    val maxN = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(maxN <= maxGroupRows,
      s"hodgesLehmann input has a group with $maxN rows — above the " +
        s"series-grain contract ($maxGroupRows); pre-aggregate first")
    val a = pts.select(col("__g"), col("__i").as("__ia"),
      col("__v").as("__va"))
    val b = pts.select(col("__g"), col("__i").as("__ib"),
      col("__v").as("__vb"))
    a.join(b, Seq("__g"))
      .filter(col("__ia") <= col("__ib"))
      .groupBy(col("__g"))
      .agg(max(col("__ib")).cast("long").as("n"),
        count(lit(1)).as("n_pairs"),
        round(percentile((col("__va") + col("__vb")) / 2, lit(0.5)), 6)
          .as("hl_estimate"))
      .select(col("__g").as(groupCol), col("n"), col("n_pairs"),
        col("hl_estimate"))
      // group-grain output: materialized before pts' pin is released
      .localCheckpoint()
  }

  /** Theil–Sen robust trend per group: the exact median of all
    * pairwise slopes (y_b − y_a)/(x_b − x_a) over x_a < x_b, with the
    * standard median-anchored intercept median(y) − slope·median(x).
    * 29%-breakdown-point alternative to OLS trend — one outlier day
    * cannot move it.
    *
    * SERIES-GRAIN CONTRACT: the input is a pre-aggregated series
    * (e.g. one row per day), not the fact table — the pair join is
    * O(n²) per group by definition of the estimator. A size probe
    * `require`s every group under `maxSeriesRows` (default 10k → ≤50M
    * pairs/group) so a fact-scale input fails with a message instead
    * of a quadratic blowup — the betweenness-guard discipline.
    * Output: (group, n BIGINT, n_pairs BIGINT, slope 6dp,
    * intercept 6dp); groups with < 2 distinct x yield null slope. */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
               yCol: String, maxSeriesRows: Long = 10000L): DataFrame = Pin.scope { pin =>
    val pts = pin(df.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__x"),
      col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull))
    val worst = pts.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head
    val maxN = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(maxN <= maxSeriesRows,
      s"theilSen input has a group with $maxN rows — above the " +
        s"series-grain contract ($maxSeriesRows); pre-aggregate the " +
        "series (e.g. to daily grain) before calling")
    val a = pts.select(col("__g"), col("__x").as("__xa"),
      col("__y").as("__ya"))
    val b = pts.select(col("__g"), col("__x").as("__xb"),
      col("__y").as("__yb"))
    val slopes = a.join(b, Seq("__g"))
      .filter(col("__xa") < col("__xb"))
      .select(col("__g"),
        ((col("__yb") - col("__ya")) / (col("__xb") - col("__xa")))
          .as("__s"))
    val med = slopes.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_pairs"),
        percentile(col("__s"), lit(0.5)).as("__slope"))
    val anchors = pts.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        percentile(col("__x"), lit(0.5)).as("__mx"),
        percentile(col("__y"), lit(0.5)).as("__my"))
    anchors.join(med, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        round(col("__slope"), 6).as("slope"),
        round(col("__my") - col("__slope") * col("__mx"), 6)
          .as("intercept"))
      // group-grain output: materialized before pts' pin is released
      .localCheckpoint()
  }
}