package graft.prep

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.ProbeRows
import graft.util.Quantiles

/** Expression-matrix preprocessing (F1, A2–A4; `pipeline2.py:476-498`)
  * plus the grouped robust-statistics and normalization screens.
  *
  * The expression steps work on the per-probe rows of [[ProbeRows]]: the
  * reference's pandas pipeline treats each probe row of the wide matrix on
  * its own, and so does [[run]] — a row map, no shuffle.
  */
object Preprocess {

  /** F1 + A2 + A3 + A4 on probe rows.
    *
    *  - F1: keep probes with ≥ 20%·n non-null values (py:484).
    *  - A2: fill a null with the probe's median ([[Quantiles.median]]).
    *  - A3: `log2(x + 1)` when the kept probes' maximum exceeds 100 — one
    *    collected scalar, like the reference's `if data_max > 100`
    *    (py:488-491); null where x + 1 ≤ 0, like Spark's `log2`. The
    *    scalar is taken from the raw values: a median fill never exceeds
    *    its probe's maximum.
    *  - A4: z-score with sklearn StandardScaler semantics (population std,
    *    ddof=0; zero variance maps to 0.0, py:492-494).
    *
    * Each statistic uses Spark's own aggregate arithmetic in sample order
    * (`avg`: a running sum over the count; `stddev_pop`: CentralMomentAgg's
    * update, then sqrt(m2/n); `log2`: `StrictMath.log(x)/StrictMath.log(2)`),
    * so every value is bit-identical to the per-probe window plan this
    * replaced; the specs keep that plan as a reference.
    *
    * @param expr     probe rows in the [[ProbeRows]] layout
    * @param nSamples the denominator of the 20% threshold (py:484)
    * @return probe rows in the same layout and sample order; probes under
    *         the threshold are dropped
    */
  def run(expr: DataFrame, nSamples: Int): DataFrame = {
    val sampleIds = ProbeRows.sampleIds(expr)
    val threshold = 0.2 * nSamples
    val v = col("value")
    val dataMax = expr
      .filter(size(filter(v, _.isNotNull)) >= threshold)
      .agg(max(array_max(v))).first() match {
      case r if r.isNullAt(0) => Double.NegativeInfinity
      case r => r.getDouble(0)
    }
    val logScale = dataMax > 100
    expr.flatMap { r =>
      standardize(r.getSeq[java.lang.Double](1).toArray, threshold, logScale)
        .iterator.map(Row(r.getString(0), _))
    }(Encoders.row(ProbeRows.Schema))
      .select(col("probe_id"), ProbeRows.value(v, sampleIds))
  }

  /** One probe's F1–A4; None when it fails the threshold. */
  private def standardize(raw: Array[java.lang.Double], threshold: Double,
                          logScale: Boolean): Option[Array[java.lang.Double]] = {
    if (raw.count(_ != null) < threshold) return None
    val fill = Quantiles.median(raw)
    val log2 = StrictMath.log(2)
    val xs = raw.map { r =>
      val x = if (r == null) fill else r
      if (!logScale || x == null) x
      else if (x + 1.0 <= 0) null
      else java.lang.Double.valueOf(StrictMath.log(x + 1.0) / log2)
    }
    var sum = 0.0; var count = 0L            // avg
    var n = 0.0; var mean = 0.0; var m2 = 0.0  // stddev_pop
    for (x <- xs if x != null) {
      sum += x; count += 1
      n += 1.0
      val delta = x - mean
      val deltaN = delta / n
      mean += deltaN
      m2 += delta * (delta - deltaN)
    }
    // no value left (every one ≤ −1 on the log branch): avg and stddev are
    // null, and so is every z-score
    if (count == 0) return Some(xs)
    val mu = sum / count
    val sd = math.sqrt(m2 / n)
    Some(xs.map { x =>
      if (sd == 0.0) java.lang.Double.valueOf(0.0)
      else if (x == null) null
      else java.lang.Double.valueOf((x - mu) / sd)
    })
  }

  /** Robust per-group outlier statistics via the median/MAD z-score
    * (Iglewicz–Hoaglin modified z, M = 0.6745·(x − med)/MAD): the
    * outlier screen that survives the outliers it is screening for —
    * mean/stddev-based z-scores are dragged by the very rows they should
    * flag, while the 50% breakdown point of median and MAD is not. The
    * standard pre-training sanity pass over numeric telemetry/feature
    * columns.
    *
    * Two grouped medians (the value's, then the absolute deviation's —
    * MAD requires the first before the second, so two aggregate passes
    * are inherent), each a hash aggregate on the group key; per-group
    * stats join back onto the fact rows co-partitioned on that same key
    * (group-cardinality side, AQE broadcasts it when small). Medians
    * are exact while the hottest group stays under
    * [[ExactPercentileMaxGroupRows]] and dispatch to approx_percentile
    * above it; `exactMedians` skips the size probe when cardinality is
    * known. The flag boundary compares the 6-dp-rounded |M| so it
    * cannot flip on engine noise. Zero-MAD groups (> 50% identical
    * values) yield null M — counted as non-outliers, visible as
    * mad = 0.0 in the output.
    *
    * Output per group: n, med, mad, n_outliers, max_abs_m (4 dp).
    */
  // null-safe stats join-back (a plain join drops null-valued groups) —
  // shared with the k-anonymity filter, see graft.util.Joins
  private def joinGroups(df: DataFrame, stats: DataFrame,
                         groupCols: Seq[String]): DataFrame =
    graft.util.Joins.nullSafeStatsJoin(df, stats, groupCols)

  /** Rows in the hottest group above which the percentile screens stop
    * buffering exact per-group values (ObjectHashAggregate holds every
    * group value in one task) and dispatch to approx_percentile's
    * bounded-memory KLL-style sketch. 4M doubles ≈ 32 MB per hot group
    * — comfortably inside an executor; beyond it a skewed group is an
    * OOM risk, and the sketch's rank error (1/accuracy) is far below
    * the 6-dp rounding the screens already apply at their boundaries. */
  val ExactPercentileMaxGroupRows: Long =
    graft.util.Dispatch.threshold(4L * 1000 * 1000)

  private val ApproxPercentileAccuracy = 10000

  /** Size probe for the dispatch: (group count, hottest group's row
    * count) in ONE count-only aggregate (map-side partial, no value
    * buffering) — one extra scan, traded for never letting an exact
    * percentile path buffer an unbounded hot group, and reused by
    * callers that also size-dispatch a broadcast on the group-bounded
    * stats frame. Callers that know their cardinality skip the probe
    * by forcing `exact`. */
  private[graft] def groupSizeProbe(df: DataFrame,
                                    g: Seq[Column]): (Long, Long) = {
    val r = df.groupBy(g: _*).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("__ng"), max(col("__n")).as("__mx")).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def maxGroupRows(df: DataFrame, g: Seq[Column]): Long =
    groupSizeProbe(df, g)._2

  /** percentile-family aggregate honoring the exact/approx dispatch. */
  private def pctAgg(v: Column, p: Double, exact: Boolean): Column =
    if (exact) {
      if (p == 0.5) median(v) else percentile(v, lit(p))
    } else
      approx_percentile(v, lit(p), lit(ApproxPercentileAccuracy))

  def robustOutlierStats(df: DataFrame, groupCols: Seq[String],
                         valueCol: String, cut: Double = 3.5,
                         exactMedians: Option[Boolean] = None): DataFrame = {
    val g = groupCols.map(col)
    val v = col(valueCol)
    val exact = exactMedians.getOrElse(
      maxGroupRows(df, g) <= ExactPercentileMaxGroupRows)
    val med = df.groupBy(g: _*).agg(pctAgg(v, 0.5, exact).as("__med"))
    val withMed = joinGroups(df, med, groupCols)
    val mad = withMed.groupBy(g: _*)
      .agg(pctAgg(abs(v - col("__med")), 0.5, exact).as("__mad"))
    val m = lit(0.6745) * (v - col("__med")) / nullif(col("__mad"), lit(0.0))
    joinGroups(withMed, mad, groupCols)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        max(col("__med")).as("med"),
        max(col("__mad")).as("mad"),
        count(when(round(abs(m), 6) > cut, 1)).as("n_outliers"),
        round(max(abs(m)), 4).as("max_abs_m"))
  }

  /** Per-group winsorization report: clip values to the group's
    * [lo, hi] exact quantiles and compare the raw vs clipped mean — the
    * bounded-influence companion to [[robustOutlierStats]] (that one
    * FLAGS tail rows; this one shows what neutralizing them does to the
    * statistic a downstream consumer actually reads). Clip boundaries
    * compare against the 6-dp-rounded value so the clip count cannot
    * flip on engine quantile noise.
    *
    * One quantile aggregate on the group key + the co-partitioned
    * join-back + one final aggregate — same two-shuffle shape as the MAD
    * screen. Quantiles are exact while the hottest group stays under
    * [[ExactPercentileMaxGroupRows]] and dispatch to approx_percentile
    * above it (exact buffers every group value in one task); pass
    * `exactQuantiles` to skip the size probe when cardinality is known.
    *
    * Output per group: n, p_lo, p_hi, mean_raw, mean_wins (4 dp),
    * n_clip_lo, n_clip_hi.
    */
  def winsorizedStats(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, lo: Double = 0.05,
                      hi: Double = 0.95,
                      exactQuantiles: Option[Boolean] = None): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val g = groupCols.map(col)
    val v = col(valueCol)
    val exact = exactQuantiles.getOrElse(
      maxGroupRows(df, g) <= ExactPercentileMaxGroupRows)
    val bounds = df.groupBy(g: _*)
      .agg(pctAgg(v, lo, exact).as("__plo"),
        pctAgg(v, hi, exact).as("__phi"))
    val clipped = least(greatest(v, col("__plo")), col("__phi"))
    joinGroups(df, bounds, groupCols)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        round(max(col("__plo")), 4).as("p_lo"),
        round(max(col("__phi")), 4).as("p_hi"),
        round(avg(v), 4).as("mean_raw"),
        round(avg(clipped), 4).as("mean_wins"),
        count(when(round(v, 6) < round(col("__plo"), 6), 1)).as("n_clip_lo"),
        count(when(round(v, 6) > round(col("__phi"), 6), 1)).as("n_clip_hi"))
  }

  /** Quantile normalization (the microarray cross-sample equalizer the
    * reference's domain popularized): every sample's value distribution
    * is replaced by the rank-wise mean across samples, so all samples
    * share one distribution afterwards. Classic QN is defined on
    * equal-length columns; this long-format variant TRIMS each sample
    * to the common minimum length (deterministically, by rank under
    * (value, tieBreak) order) rather than interpolating — callers with
    * aligned samples lose nothing, ragged callers get the documented
    * truncation.
    *
    * Shape: one per-sample rank window + a min-count aggregate
    * (broadcast, 1 row) + a rank-keyed mean aggregate joined back
    * CO-PARTITIONED on the rank key — no global sort; parallelism is
    * rank cardinality for the mean and sample cardinality for the rank.
    * The ranked frame feeds two consumers (rank means + the join-back),
    * so the rank window evaluates twice; the output is fact-sized, so
    * the bounded-output materialize-and-release pattern does not apply —
    * persist the INPUT around this call when its upstream scan dominates
    * (the X3/robust-outliers trade). Complete-case on the value column:
    * a null value has no rank position (the q144 ECDF rationale — and
    * engines disagree on where nulls sort), so null-value rows are
    * dropped, not ranked. Output: input columns + qn_value (4 dp). */
  def quantileNormalize(df0: DataFrame, sampleCol: String,
                        valueCol: String,
                        tieBreak: Seq[String] = Nil): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull)
    val order = (col(valueCol).asc +: tieBreak.map(col(_).asc))
    val ranked = df.withColumn("__rn",
      row_number().over(
        Window.partitionBy(sampleCol).orderBy(order: _*)))
    // min length from the UNranked input: the count branch must not pay
    // (or re-plan) the rank window — counting needs no order
    val minLen = df.groupBy(col(sampleCol))
      .agg(count(lit(1)).as("__len"))
      .agg(min(col("__len")).as("__m"))
    val trimmed = ranked.crossJoin(broadcast(minLen))
      .filter(col("__rn") <= col("__m"))
    val rankMeans = trimmed.groupBy("__rn")
      .agg(round(avg(col(valueCol)), 4).as("qn_value"))
    trimmed.join(rankMeans, Seq("__rn"))
      .drop("__rn", "__m")
  }
}
