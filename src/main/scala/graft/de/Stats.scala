package graft.de

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.gfunctions._
import graft.util.{DriverOrder, Pin}

/** Statistical transforms for differential expression: Benjamini–Hochberg
  * FDR adjustment (A8, `pipeline2.py:619-629` / statsmodels `fdr_bh`) and
  * the Welch t-test assembled from per-group sufficient statistics (A6+A7).
  */
object Stats {

  /** Benjamini–Hochberg adjusted p-values.
    *
    * The pipeline adjusts rows it already holds ([[bhAdjustRows]], the same
    * bits); this frame form serves the catalog, [[byAdjust]] and the
    * benchmark's traced pipeline.
    *
    * Matches `statsmodels.stats.multitest.multipletests(method='fdr_bh')`:
    * over the m non-null p's, adj_i = min(1, cummin_{j>=i}(p_j * m / j))
    * with j the ascending p-rank. Null/NaN p's are excluded from m and get
    * a null adjusted value (`pipeline2.py:620-627`).
    *
    * Below `distributedThreshold` valid rows the rank + reverse-cummin run
    * in a single global window (one-partition sort — cheap because BH is
    * applied after heavy per-gene aggregation). Above it the computation
    * switches to [[bhAdjustDistributed]], which never materializes a
    * single-partition sort. Both forms are float-identical (same
    * operations in the same order); equality is property-tested.
    * `tieBreak` makes the rank deterministic under tied p's; tied p's
    * receive identical adjusted values regardless of tie order (the
    * reverse cummin equalizes them).
    */
  def bhAdjust(df: DataFrame, pCol: String, outCol: String,
               tieBreak: Seq[String] = Seq.empty,
               distributedThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame = Pin.scope { pin =>
    // df is consumed by the count() AND the adjusted/invalid branches; at
    // pipeline scale the input is the heavy Welch aggregation, so an
    // unpinned plan would run that aggregation twice. The result is
    // gene-cardinality — materialize it before the pin is released.
    val cached = pin(df)
    val p = col(pCol)
    val bad = p.isNull || isnan(p)
    val invalid = cached.filter(bad).withColumn(outCol, lit(null).cast("double"))
    val valid = cached.filter(!bad)
    val m = valid.count()
    val adjusted =
      if (m == 0) valid.withColumn(outCol, lit(null).cast("double"))
      else if (m <= distributedThreshold) bhWindowed(valid, p, outCol, m, tieBreak)
      else bhAdjustDistributed(valid, pCol, outCol, m, tieBreak)
    adjusted.unionByName(invalid).localCheckpoint()
  }

  /** [[bhAdjust]] over p-values already on the driver, with the windowed
    * branch's bits: the valid p's (neither null nor NaN; m of them) are
    * ranked by p (`SQLOrderingUtil.compareDoubles`), ties by `keys` in
    * Spark's string order (the windowed `tieBreak`, [[DriverOrder]]); each
    * factor is `p * m / rank`, the reverse running min keeps the earlier
    * value on a tie (`min`'s `least` update), then `min(1.0, ·)`. Invalid
    * p's get null. Returns the adjusted values in input order. No size
    * decision is made: the caller holds the rows already, so
    * `SPARK_GRAFT_FORCE_DISPATCH` does not reach it. */
  def bhAdjustRows(keys: IndexedSeq[String],
                   ps: IndexedSeq[java.lang.Double]): Array[java.lang.Double] = {
    val ranked = ps.indices.filter(i => ps(i) != null && !ps(i).isNaN)
      .sortWith { (a, b) =>
        val c = SQLOrderingUtil.compareDoubles(ps(a), ps(b))
        if (c != 0) c < 0 else DriverOrder.strings(keys(a), keys(b)) < 0
      }
    val m = ranked.length.toDouble
    val out = new Array[java.lang.Double](ps.length)
    var run = Double.NaN
    for (r <- ranked.indices.reverse) {
      val f = ps(ranked(r)) * m / (r + 1).toDouble
      if (r == ranked.length - 1 || SQLOrderingUtil.compareDoubles(f, run) < 0) run = f
      out(ranked(r)) = if (SQLOrderingUtil.compareDoubles(run, 1.0) < 0) run else 1.0
    }
    out
  }

  /** Benjamini–Yekutieli FDR (X91): BH's guarantee under ARBITRARY
    * dependence — the conservative variant reviewers ask for when test
    * statistics are correlated (they always are across a co-expression
    * network). BY = BH applied to p·H_m (H_m = Σ 1/i): scaling by a
    * positive constant preserves the p-ranking and multiplies every
    * p·m/rank factor, so the whole adjusted pipeline — including the
    * size-dispatched distributed branch — is REUSED verbatim rather
    * than reimplemented. H_m folds ascending on the driver (O(m) ns —
    * microseconds even at 10⁸ tests); the oracle's unordered Σ 1/i
    * differs only at ~1e-12, far inside the rounding contract. */
  def byAdjust(df: DataFrame, pCol: String, outCol: String,
               tieBreak: Seq[String] = Seq.empty,
               distributedThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame = {
    val p = col(pCol)
    val m = df.filter(p.isNotNull && !isnan(p)).count()
    var hm = 0.0
    var i = 1L
    while (i <= m) { hm += 1.0 / i; i += 1 }
    bhAdjust(df.withColumn("__p_by", p * hm), "__p_by", outCol,
        tieBreak, distributedThreshold)
      .drop("__p_by")
  }

  /** Windowed BH core over m valid rows (single-partition sort). */
  private def bhWindowed(valid: DataFrame, p: Column, outCol: String,
                         m: Long, tieBreak: Seq[String]): DataFrame = {
    val wAsc = Window.orderBy((p.asc +: tieBreak.map(col(_).asc)): _*)
    val wDesc = Window.orderBy(col("__bh_rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valid
      .withColumn("__bh_rk", row_number().over(wAsc))
      .withColumn(outCol,
        least(lit(1.0), min(p * lit(m.toDouble) / col("__bh_rk")).over(wDesc)))
      .drop("__bh_rk")
  }

  /** Scale-safe BH core: distributed rank via range repartitioning + a
    * per-partition offset pass, then the reverse cummin as a per-partition
    * suffix scan combined with the collected suffix-mins of later
    * partitions. Three light jobs over the range-sorted (cached) data,
    * never a single-partition sort; partition row counts are balanced by
    * the range partitioner. p must be a double column.
    */
  def bhAdjustDistributed(valid: DataFrame, pCol: String, outCol: String,
                          m: Long, tieBreak: Seq[String]): DataFrame = Pin.scope { pin =>
    val spark = valid.sparkSession
    val sortCols = col(pCol).asc +: tieBreak.map(col(_).asc)
    val nPart = math.max(spark.sparkContext.defaultParallelism,
      (m / 500000L).toInt + 1)
    val sorted = pin(valid.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    val pIdx = sorted.schema.fieldIndex(pCol)
    val mD = m.toDouble

    // Job 1: per-partition row counts -> global rank offsets.
    val counts = sorted.rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect().sortBy(_._1).map(_._2.toLong)
    val offsets = counts.scanLeft(0L)(_ + _)

    // Job 2: per-partition min of p*m/rank -> suffix mins of later parts.
    val partMins = sorted.rdd
      .mapPartitionsWithIndex { (pi, it) =>
        var r = offsets(pi)
        var mn = Double.MaxValue
        it.foreach { row =>
          r += 1
          mn = math.min(mn, row.getDouble(pIdx) * mD / r)
        }
        Iterator((pi, mn))
      }
      .collect().sortBy(_._1).map(_._2)
    val suffixAfter = new Array[Double](partMins.length + 1)
    suffixAfter(partMins.length) = Double.MaxValue
    for (i <- partMins.length - 1 to 0 by -1)
      suffixAfter(i) = math.min(suffixAfter(i + 1), partMins(i))
    // suffixAfter(i+1) = min factor over all partitions AFTER i.

    // Job 3: within-partition suffix scan (reverse over the materialized
    // partition — bounded by the range partitioner's balanced splits).
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField(outCol,
        org.apache.spark.sql.types.DoubleType, nullable = true))
    val out = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
      val rows = it.toArray
      val n = rows.length
      val adj = new Array[Double](n)
      var run = suffixAfter(pi + 1)
      var i = n - 1
      while (i >= 0) {
        val rank = offsets(pi) + i + 1
        run = math.min(run, rows(i).getDouble(pIdx) * mD / rank)
        adj(i) = math.min(1.0, run)
        i -= 1
      }
      rows.iterator.zipWithIndex.map { case (row, j) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ adj(j))
      }
    }
    // The pin above is correctness-load-bearing, not just a speedup:
    // repartitionByRange samples to pick bounds, so a recompute could
    // place rows differently while offsets/suffixAfter still describe the
    // cached layout. Materialize the result against the cached layout
    // (eager localCheckpoint) before the pin is released, so repeated
    // calls don't accumulate a sorted copy of the input per invocation.
    spark.createDataFrame(out, schema).localCheckpoint()
  }

  /** Welch t-test over a long-form (key..., group, value) DataFrame.
    *
    * One hash aggregation computes per-(key, group) sufficient statistics
    * (partial + final, map-side combine for free); the two groups are then
    * pivoted with conditional aggregates — no self-join, no shuffle beyond
    * the one groupBy. Output: keyCols, mean_case, n_case, mean_control,
    * n_control, log2fc (mean_case - mean_control, valid on standardized
    * log-scale data, `pipeline2.py:594-596`), t_stat, t_df, pvalue
    * ([[welchFromMoments]]).
    *
    * caseVal/controlVal select the two groups; rows with other group values
    * are ignored (matches the reference, which only reads the case/control
    * sample columns).
    */
  def welchTTest(df: DataFrame, keyCols: Seq[String], groupCol: String,
                 valueCol: String, caseVal: String = "case",
                 controlVal: String = "control"): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol)
    welchFromMoments(df
      .filter(g === caseVal || g === controlVal)
      .groupBy(keyCols.map(col): _*)
      .agg(
        avg(when(g === caseVal, v)).as("mean_case"),
        var_samp(when(g === caseVal, v)).as("var_case"),
        count(when(g === caseVal, v)).as("n_case"),
        avg(when(g === controlVal, v)).as("mean_control"),
        var_samp(when(g === controlVal, v)).as("var_control"),
        count(when(g === controlVal, v)).as("n_control")))
  }

  /** Welch t-test over vector rows `(key, value ARRAY<DOUBLE>)`, one row
    * per key: the arms are index masks over the vector, and each arm's
    * moments come from [[Moments.of]] in index order — a row map, no
    * aggregate and no shuffle, so the result does not depend on the
    * partitioning. Same output as [[welchTTest]] with `keyCol` as the key
    * ([[welchFromMoments]]). */
  def welchTTestRows(df: DataFrame, keyCol: String, valueCol: String,
                     isCase: Array[Boolean],
                     isControl: Array[Boolean]): DataFrame = {
    val schema = StructType(df.schema(keyCol) +: Seq(
      "mean_case" -> DoubleType, "var_case" -> DoubleType, "n_case" -> LongType,
      "mean_control" -> DoubleType, "var_control" -> DoubleType,
      "n_control" -> LongType).map { case (n, t) =>
        StructField(n, t, nullable = t == DoubleType) })
    welchFromMoments(df.select(col(keyCol), col(valueCol)).map { r =>
      val xs = r.getSeq[java.lang.Double](1)
      val c = Moments.of(xs, isCase)
      val k = Moments.of(xs, isControl)
      Row(r.get(0), c.mean, c.varSamp, c.n, k.mean, k.varSamp, k.n)
    }(Encoders.row(schema)))
  }

  /** The tail both Welch forms share: (key..., mean_case, var_case,
    * n_case, mean_control, var_control, n_control) to log2fc, t_stat, t_df
    * and pvalue, the variances dropped. */
  private def welchFromMoments(stats: DataFrame): DataFrame = {
    val t = welch_t(col("mean_case"), col("var_case"), col("n_case"),
      col("mean_control"), col("var_control"), col("n_control"))
    val tdf = welch_df(col("var_case"), col("n_case"),
      col("var_control"), col("n_control"))
    stats
      .withColumn("log2fc", nan_inf_to_null(col("mean_case") - col("mean_control")))
      .withColumn("t_stat", t)
      .withColumn("t_df", tdf)
      .withColumn("pvalue", t_test_pvalue(col("t_stat"), col("t_df")))
      .drop("var_case", "var_control")
  }

  /** `avg`, `var_samp` and `count` of a vector's non-null elements. */
  final case class Moments(mean: java.lang.Double, varSamp: java.lang.Double,
                           n: Long)

  object Moments {

    /** The moments of the non-null `xs(i)` where `keep(i)` (all when
      * `keep` is null), with Spark's aggregate arithmetic applied in index
      * order: `avg` is a running sum over the count, `var_samp` is
      * CentralMomentAgg's update, m2 / (n - 1), null below two values.
      * These are the bits the aggregates give over the same values in one
      * partition, in this order. */
    def of(xs: scala.collection.Seq[java.lang.Double],
           keep: Array[Boolean] = null): Moments = {
      var sum = 0.0
      var n = 0.0; var mean = 0.0; var m2 = 0.0
      var i = 0
      val it = xs.iterator
      while (it.hasNext) {
        val x = it.next()
        if (x != null && (keep == null || keep(i))) {
          val v = x.doubleValue
          sum += v
          n += 1.0
          val delta = v - mean
          val deltaN = delta / n
          mean += deltaN
          m2 += delta * (delta - deltaN)
        }
        i += 1
      }
      Moments(if (n == 0.0) null else sum / n,
        if (n < 2.0) null else m2 / (n - 1.0), n.toLong)
    }
  }

  /** Storey's π₀ estimate (Storey 2002) over a λ grid: the estimated
    * fraction of true nulls, π̂₀(λ) = #{p > λ} / ((1−λ)·m), capped at
    * 1 — the q-value ingredient that tells a screening pipeline how
    * much of its p-value mass is noise. ONE conditional-aggregate scan
    * produces every λ's count (no per-λ passes); null/NaN p-values are
    * excluded from m (the bhAdjust convention). Output per λ:
    * (lambda 2dp, m BIGINT, n_above BIGINT, pi0 4dp). */
  def storeyPi0(df: DataFrame, pCol: String,
                lambdas: Seq[Double] = Seq(0.2, 0.35, 0.5, 0.65, 0.8))
      : DataFrame = {
    require(lambdas.nonEmpty && lambdas.forall(l => l > 0 && l < 1),
      "lambdas must lie in (0,1)")
    val p = col(pCol)
    val ok = p.isNotNull && !isnan(p)
    val aggs = count(when(ok, 1)).as("__m") +:
      lambdas.zipWithIndex.map { case (l, i) =>
        count(when(ok && p > l, 1)).as(s"__a$i")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = lambdas.zipWithIndex.map { case (l, i) =>
      struct(round(lit(l), 2).as("lambda"), col(s"__a$i").as("n_above"),
        lit(1.0 - l).as("__den"))
    }
    one.select(col("__m").as("m"), explode(array(rows: _*)).as("__r"))
      .select(col("__r.lambda").as("lambda"), col("m"),
        col("__r.n_above").as("n_above"),
        round(least(lit(1.0), col("__r.n_above").cast("double") /
          nullif(col("__r.__den") * col("m"), lit(0.0))), 4).as("pi0"))
      .orderBy(col("lambda"))
  }

  /** Holm (step-down) and Hochberg (step-up) adjusted p-values in one
    * pass — the FWER companions to [[bhAdjust]]'s FDR: Holm controls
    * family-wise error under any dependence (always valid, most
    * conservative), Hochberg is sharper but needs nonnegative
    * dependence; both are monotone transforms of (m−rank+1)·p —
    * Holm the forward running max, Hochberg the reverse running min,
    * so they share ONE p-sorted window pass (the bhWindowed shape;
    * this is the dimension-bounded-m variant — route genuinely huge
    * m through bhAdjust's distributed rank, FDR being the regime that
    * scale implies anyway). Null/NaN p-values pass through with null
    * adjustments (the bhAdjust convention). Output: input columns +
    * holm, hochberg. */
  def holmHochberg(df: DataFrame, pCol: String,
                   tieBreak: Seq[String] = Seq.empty): DataFrame = Pin.scope { pin =>
    val p = col(pCol)
    val bad = p.isNull || isnan(p)
    val cached = pin(df)
    val invalid = cached.filter(bad)
      .withColumn("holm", lit(null).cast("double"))
      .withColumn("hochberg", lit(null).cast("double"))
    val valid = cached.filter(!bad)
    val m = valid.count()
    // bounded-m guard (the coxPh fail-fast pattern; m is already in
    // hand): this is the dimension-bounded FWER variant — a genuinely
    // huge family belongs on bhAdjust's distributed-rank FDR path
    require(m <= 2000000L,
      s"holmHochberg: $m p-values exceeds the single-sort guard " +
        "(2000000) — use bhAdjust (distributed-rank FDR) for " +
        "fact-scale families")
    val adjusted = if (m == 0) invalid.limit(0)
    else {
      val wAsc = Window.orderBy((p.asc +: tieBreak.map(col(_).asc)): _*)
      val wFwd = Window.orderBy(col("__rk").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBwd = Window.orderBy(col("__rk").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val term = least(lit(1.0), (lit(m.toDouble) - col("__rk") + 1) * p)
      valid
        .withColumn("__rk", row_number().over(wAsc))
        .withColumn("holm", max(term).over(wFwd))
        .withColumn("hochberg", min(term).over(wBwd))
        .drop("__rk")
    }
    adjusted.unionByName(invalid).localCheckpoint()
  }
}
