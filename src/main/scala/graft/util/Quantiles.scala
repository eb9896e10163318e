package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact percentiles of ONE ungrouped column.
  *
  * `df.agg(percentile(v, p))` buffers every value: each map task fills
  * an OpenHashMap of boxed doubles, serializes it through an exchange,
  * and ONE reduce task merges and sorts the whole domain (measured on
  * q385_huber at sf0.1: 0.9 s map + 1.8 s single-task reduce per
  * median over 600k rows). This helper computes the same values with
  * histogram narrowing — the classic distributed selection:
  *
  *  1. one count/min/max/NaN probe pass (map-side partial agg);
  *  2. one 65536-bucket histogram pass (map-side partial agg, the
  *     driver receives ≤ 65536 (bucket, count) rows);
  *  3. the driver locates the order statistics' buckets from the
  *     cumulative counts; only those buckets' rows (expected n/65536)
  *     are fetched and locally sorted for exact selection. A bucket
  *     concentrating more than [[CollectCap]] rows narrows once more
  *     within its own min/max; beyond [[MaxDepth]] it falls back to a
  *     single-partition ordered selection of just that bucket.
  *
  * Every pass is a full-width parallel scan with a tiny driver result,
  * so the shape is scale-correct where the buffering aggregate's
  * single reducer is not. Selection by rank is method-independent, and
  * the final interpolation reproduces Spark's `Percentile` formula
  * (`lower·(⌈pos⌉−pos) + higher·(pos−⌊pos⌋)`), so results are
  * bit-identical to the `percentile` aggregate — property-checked in
  * QuantilesSpec against the aggregate on adversarial domains.
  *
  * Non-finite domains (any NaN/±Inf, which break bucket arithmetic)
  * and small inputs (≤ [[SmallN]], where buffering is already cheap)
  * fall back to the `percentile` aggregate itself, keeping behavior
  * identical everywhere.
  */
object Quantiles {

  val Buckets = 65536
  val SmallN = 65536L
  val CollectCap = 262144L
  val MaxDepth = 2

  /** Median of one row's values with the arithmetic of Spark's `median`
    * aggregate (`Percentile` at 0.5): nulls ignored, the rest sorted,
    * position `(n−1)·0.5`, and `(⌈pos⌉−pos)·lower + (pos−⌊pos⌋)·higher`
    * unless the position is whole or the two neighbours are equal, in
    * which case the value itself. Null when no value is present. Bit-equal
    * to the aggregate on the same values; with both −0.0 and 0.0 present
    * the sign of a zero result may differ (the aggregate's order between
    * them is its hash map's). */
  def median(values: Array[java.lang.Double]): java.lang.Double = {
    var n = 0
    val xs = new Array[Double](values.length)
    for (v <- values) if (v != null) { xs(n) = v; n += 1 }
    if (n == 0) return null
    java.util.Arrays.sort(xs, 0, n)
    val pos = (n - 1).toLong * 0.5
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val lower = xs(lo.toInt)
    val higher = xs(hi.toInt)
    if (lo == hi || lower == higher) lower
    else (hi - pos) * lower + (pos - lo) * higher
  }

  /** Exact percentiles (Spark `percentile` semantics) of `value` over
    * `df`; None when the column has no non-null rows. NULLs ignored,
    * like the aggregate. */
  def exactPercentiles(df: DataFrame, value: Column,
                       ps: Seq[Double]): Option[Seq[Double]] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentile fractions must be in [0, 1]")
    val base = df.select(value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val a = base.agg(count(lit(1)).as("__n"),
      min(col("__v")).as("__mn"), max(col("__v")).as("__mx"),
      count(when(isnan(col("__v")), 1)).as("__nnan"),
      // negative zero: the percentile aggregate merges ±0.0 under ONE
      // first-encountered key (its value map compares boxed doubles
      // with numeric ==), so domains containing -0.0 must go through
      // the aggregate itself to reproduce that representative choice.
      // Detection via the string cast ("-0.0" is exactly the negative
      // zero rendering) — a single predicate on purpose: an
      // `x === 0.0 && <sign probe>` conjunction is broken by
      // ConstantPropagation (x := 0.0 substituted into the probe folds
      // it to false), and a 1/x reciprocal probe is void under this
      // library's non-ANSI x/0 → NULL division contract.
      count(when(col("__v").cast("string") === "-0.0", 1))
        .as("__nnegz")).head()
    val n = a.getLong(0)
    if (n == 0L) return None
    val nNan = a.getLong(3)
    val nNegZero = a.getLong(4)
    val mn = a.getDouble(1)
    val mx = a.getDouble(2)
    if (nNan > 0 || nNegZero > 0 || mn.isInfinite || mx.isInfinite ||
      n <= SmallN)
      return aggFallback(base, ps)
    if (mn == mx) return Some(ps.map(_ => mn))
    val positions = ps.map(p => p * (n - 1))
    val ranks = positions
      .flatMap(pos => Seq(math.floor(pos).toLong, math.ceil(pos).toLong))
      .distinct.sorted
    selectRanks(base, mn, mx, ranks, depth = 0) match {
      case None => aggFallback(base, ps)
      case Some(sel) => Some(positions.map { pos =>
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        if (lo == hi) sel(lo)
        else sel(lo) * (hi - pos) + sel(hi) * (pos - lo)
      })
    }
  }

  /** The buffering aggregate itself — the identical-semantics escape
    * hatch for non-finite/small domains. */
  private def aggFallback(base: DataFrame,
                          ps: Seq[Double]): Option[Seq[Double]] = {
    val r = base.agg(percentile(col("__v"),
      array(ps.map(lit): _*)).as("__p")).head()
    if (r.isNullAt(0)) None else Some(r.getSeq[Double](0).toSeq)
  }

  /** Values of the given 0-based order statistics of `__v` within
    * `base`, whose non-null values span [mn, mx] with mn < mx; None
    * signals arithmetic degeneracy (caller falls back). */
  private def selectRanks(base: DataFrame, mn: Double, mx: Double,
                          ranks: Seq[Long],
                          depth: Int): Option[Map[Long, Double]] = {
    val w = (mx - mn) / Buckets
    if (!java.lang.Double.isFinite(w) || w <= 0.0) return None
    val idx = least(lit(Buckets - 1), greatest(lit(0),
      floor((col("__v") - lit(mn)) / lit(w)))).cast("int")
    val hist = base.groupBy(idx.as("__b"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    // cumulative start of each bucket, then group the wanted ranks by
    // the bucket that holds them (rank is 0-based within base)
    var cum = 0L
    val starts = hist.map { case (b, c) =>
      val s = cum; cum += c; (b, s, c)
    }
    val byBucket = ranks.groupBy { r =>
      starts.find { case (_, s, c) => r >= s && r < s + c } match {
        case Some((b, _, _)) => b
        case None => return None // rank outside histogram: degenerate
      }
    }
    val out = Map.newBuilder[Long, Double]
    byBucket.foreach { case (bucket, rs) =>
      val (_, start, cnt) = starts.find(_._1 == bucket).get
      val local = rs.map(r => r - start)
      val sub = base.filter(idx === bucket)
      if (cnt <= CollectCap) {
        val vals = sub.collect().map(_.getDouble(0))
          .sorted(Ordering.Double.TotalOrdering)
        local.zip(rs).foreach { case (lr, r) => out += r -> vals(lr.toInt) }
      } else if (depth + 1 < MaxDepth) {
        val mm = sub.agg(min(col("__v")), max(col("__v"))).head()
        val (bmn, bmx) = (mm.getDouble(0), mm.getDouble(1))
        if (bmn == bmx) rs.foreach(r => out += r -> bmn)
        else selectRanks(sub, bmn, bmx, local, depth + 1) match {
          case Some(m) =>
            local.zip(rs).foreach { case (lr, r) => out += r -> m(lr) }
          case None => return None
        }
      } else {
        // beyond-cap concentration twice in a row: ordered selection of
        // just this bucket (single sort task over the bucket only —
        // never wider than the buffering aggregate's single reducer)
        val rows = sub
          .withColumn("__rn", row_number().over(Window.orderBy(col("__v"))))
          .filter(col("__rn").isin(local.map(_ + 1): _*))
          .collect().map(r => (r.getInt(1) - 1).toLong -> r.getDouble(0))
          .toMap
        local.zip(rs).foreach { case (lr, r) => out += r -> rows(lr) }
      }
    }
    Some(out.result())
  }
}
