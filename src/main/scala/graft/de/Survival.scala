package graft.de

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Kaplan–Meier survival estimation over right-censored durations —
  * the retention-curve estimator ("what fraction of users/subjects
  * survive past t") that handles still-active subjects correctly where
  * a naive survival fraction over-counts churn.
  *
  * Input grain is one row per SUBJECT (duration, event 1/0); output
  * grain is one row per DISTINCT duration — so after the first
  * aggregate everything is bounded by the duration domain, never the
  * subject count (the gate-sweep/BH-small-branch scale shape). Both
  * windows share one (global) sort over that collapsed table.
  *
  * Cross-engine determinism: n_risk/n_event/n_censored are exact
  * integers; Ŝ(t) = Π_{tⱼ≤t, dⱼ>0} (nⱼ−dⱼ)/nⱼ is evaluated as
  * exp(Σ ln(·)) where the cumulative sum runs in the SAME deterministic
  * duration order on both engines, so the doubles agree bit-for-bit
  * before the 6-dp round. The Π→0 edge (everyone at risk dies at the
  * last event time) would be ln 0 → null under Spark's non-ANSI `log`,
  * so it is special-cased via the running minimum of (nⱼ−dⱼ).
  */
object Survival {

  /** KM table: (t, n_risk, n_event, n_censored, survival). `df` has one
    * row per subject with a non-negative integer duration and event
    * flag (1 = observed terminal event, 0 = right-censored).
    *
    * Same bounded-duration-grain contract as [[logRank]]/[[coxPh]]:
    * the cumulative windows single-sort the distinct durations, so a
    * continuous (e.g. microsecond) duration domain fails fast with the
    * remediation instead of silently serializing one task.
    *
    * Complete-case on (duration, event), mirroring [[rmstByGroup]]/
    * [[coxPh]]: a null duration is NO observation on the time axis —
    * engines place the null time group at opposite ends of the
    * cumulative-risk window sort, so keeping it shifts every risk set
    * by the null count on one engine only (fuzz-48: the Zipf key
    * remap concentrated null order dates into all-null subjects). */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String,
                  maxDistinctTimes: Long = 200000L): DataFrame = Pin.scope { pin =>
    val byT = pin(df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durationCol).as("t"))
      .agg(sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("n_event"),
        sum(when(col(eventCol) === 1, 0L).otherwise(1L)).as("n_censored")))
    val nTimes = byT.count()
    require(nTimes <= maxDistinctTimes,
      s"kaplanMeier: $nTimes distinct durations exceeds the " +
        s"single-sort guard ($maxDistinctTimes) — bucket the duration " +
        "column before calling")
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // At-risk at t = subjects whose duration >= t = total − (all rows
    // strictly before t).
    val wAll = Window.partitionBy()
    byT
      .withColumn("n_risk",
        sum(col("n_event") + col("n_censored")).over(wAll) -
          coalesce(sum(col("n_event") + col("n_censored")).over(wPrev),
            lit(0L)))
      .withColumn("__lnterm",
        when(col("n_event") === 0 || col("n_event") === col("n_risk"),
          lit(0.0))
          .otherwise(log((col("n_risk") - col("n_event"))
            .cast("double") / col("n_risk"))))
      .withColumn("__dead",
        min(when(col("n_event") === col("n_risk") && col("n_event") > 0,
          0L).otherwise(1L)).over(wAsc))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        when(col("__dead") === 0, lit(0.0))
          .otherwise(round(exp(sum(col("__lnterm")).over(wAsc)), 6))
          .as("survival"))
      // duration-grain output, bounded by the guard above: materialized
      // before byT's pin is released
      .localCheckpoint()
  }

  /** Scalar endpoints of the KM curve: median survival time (smallest
    * t with S(t) ≤ ½ — null while the curve never crosses, the honest
    * heavy-censoring answer) and the restricted mean survival time
    * RMST = ∫₀^τ S dt, τ = the largest observed time — the area under
    * the step curve, computed exactly as t₁·1 + Σ S(tᵢ)·(tᵢ₊₁ − tᵢ)
    * (RMST is the modern reporting endpoint when medians are unstable
    * or uncrossed). One [[kaplanMeier]] pass + one lead window + one
    * aggregate over the time-bounded KM table. Output (one row):
    * (n_times, max_t, median_t, s_at_median 6dp, rmst 4dp).
    */
  def kmSummary(df: DataFrame, durationCol: String,
                eventCol: String): DataFrame = {
    val km = kaplanMeier(df, durationCol, eventCol)
    val wOrd = Window.orderBy(col("t"))
    val withNext = km
      .withColumn("__next", lead(col("t"), 1).over(wOrd))
      .withColumn("__first",
        min(col("t")).over(Window.partitionBy(lit(1))))
    withNext.agg(
      count(lit(1)).as("n_times"),
      max(col("t")).as("max_t"),
      min(when(col("survival") <= 0.5, col("t"))).as("median_t"),
      // S is non-increasing, so the first crossing's survival is the
      // LARGEST among the <= 0.5 values
      round(max(when(col("survival") <= 0.5, col("survival"))), 6)
        .as("s_at_median"),
      round(max(col("__first")).cast("double") +
        sum(when(col("__next").isNotNull,
          col("survival") * (col("__next") - col("t"))).otherwise(0.0)),
        4).as("rmst"))
  }

  /** Restricted mean survival time per group at a FIXED horizon τ
    * (X317) — the between-arm endpoint [[kmSummary]]'s single-curve
    * τ = max(t) readout cannot give: RMST(τ) = ∫₀^τ Ŝ dt per arm, the
    * modern replacement for hazard ratios when proportional hazards
    * fails, comparable across arms because τ is shared.
    *
    * The KM curve is rebuilt PER GROUP with the [[kaplanMeier]]
    * recipe (exp of the duration-ordered ln cumsum — engines agree
    * bit-for-bit, the q168 replay contract) and rounded to 6 dp like
    * the KM output; the step integral then accumulates S·Δt as a
    * duration-ordered cumulative sum, so the total is the SAME
    * ordered float sum on any engine (an unordered aggregate would
    * re-associate). Complete-case on duration/event; one (group, t)
    * aggregate behind the shared maxDistinctTimes guard; every window
    * is partitioned on the group. Output per group: (group,
    * n_subjects BIGINT, n_events BIGINT, t_max, km_end 6dp,
    * rmst 4dp). */
  def rmstByGroup(df: DataFrame, groupCol: String, durationCol: String,
                  eventCol: String, tau: Double,
                  maxDistinctTimes: Long = 200000L): DataFrame = Pin.scope { pin =>
    require(tau > 0, "tau must be positive")
    val byT = pin(df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(durationCol).as("t"))
      .agg(sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("n_event"),
        sum(when(col(eventCol) === 1, 0L).otherwise(1L)).as("n_censored")))
    val nTimes = byT.count()
    require(nTimes <= maxDistinctTimes,
      s"rmstByGroup: $nTimes distinct (group, duration) cells exceeds " +
        s"the single-sort guard ($maxDistinctTimes) — bucket the " +
        "duration column before calling")
    val g = col("__g")
    val wAsc = Window.partitionBy(g).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(g).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLag = Window.partitionBy(g).orderBy(col("t"))
    val wAll = Window.partitionBy(g)
    val curve = byT
      .withColumn("n_risk",
        sum(col("n_event") + col("n_censored")).over(wAll) -
          coalesce(sum(col("n_event") + col("n_censored")).over(wPrev),
            lit(0L)))
      .withColumn("__lnterm",
        when(col("n_event") === 0 || col("n_event") === col("n_risk"),
          lit(0.0))
          .otherwise(log((col("n_risk") - col("n_event"))
            .cast("double") / col("n_risk"))))
      .withColumn("__dead",
        min(when(col("n_event") === col("n_risk") && col("n_event") > 0,
          0L).otherwise(1L)).over(wAsc))
      .withColumn("survival",
        when(col("__dead") === 0, lit(0.0))
          .otherwise(round(exp(sum(col("__lnterm")).over(wAsc)), 6)))
    val tD = col("t").cast("double")
    val prevT = coalesce(lag(tD, 1).over(wLag), lit(0.0))
    val prevS = lag(col("survival"), 1, 1.0).over(wLag)
    val integ = curve
      .withColumn("__seg", prevS * (least(tD, lit(tau)) -
        least(prevT, lit(tau))))
      .withColumn("__cum", sum(col("__seg")).over(wAsc))
      // group totals ride along BEFORE the last-row filter (a window
      // after the filter would only see the surviving row)
      .withColumn("__nsub",
        sum(col("n_event") + col("n_censored")).over(wAll))
      .withColumn("__nev", sum(col("n_event")).over(wAll))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(g).orderBy(col("t").desc)))
    integ.filter(col("__rn") === 1)
      .select(g.as(groupCol),
        col("__nsub").as("n_subjects"),
        col("__nev").as("n_events"),
        col("t").as("t_max"),
        col("survival").as("km_end"),
        round(col("__cum") +
          col("survival") * (lit(tau) - least(tD, lit(tau))), 4)
          .as("rmst"))
      .localCheckpoint()
  }

  /** Nelson–Aalen cumulative hazard and the Fleming–Harrington
    * survival estimate: H(t) = Σ_{t_i ≤ t} d_i/n_i, S_FH(t) = e^−H(t)
    * — the hazard-scale companion to [[kaplanMeier]] (less biased in
    * small risk sets; the standard basis for hazard plots and Cox
    * diagnostics). Same input contract and the same
    * one-aggregate-plus-shared-window shape as the KM estimator.
    * Output: (t, n_risk, n_event, n_censored, cum_hazard 6dp,
    * fh_survival 6dp). */
  def nelsonAalen(df: DataFrame, durationCol: String,
                  eventCol: String,
                  maxDistinctTimes: Long = 200000L): DataFrame = Pin.scope { pin =>
    // complete-case on the time axis — the kaplanMeier contract
    val byT = pin(df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durationCol).as("t"))
      .agg(sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("n_event"),
        sum(when(col(eventCol) === 1, 0L).otherwise(1L)).as("n_censored")))
    // the kaplanMeier bounded-duration-grain guard
    val nTimes = byT.count()
    require(nTimes <= maxDistinctTimes,
      s"nelsonAalen: $nTimes distinct durations exceeds the " +
        s"single-sort guard ($maxDistinctTimes) — bucket the duration " +
        "column before calling")
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    byT
      .withColumn("n_risk",
        sum(col("n_event") + col("n_censored")).over(wAll) -
          coalesce(sum(col("n_event") + col("n_censored")).over(wPrev),
            lit(0L)))
      .withColumn("__h",
        sum(col("n_event").cast("double") / col("n_risk")).over(wAsc))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        round(col("__h"), 6).as("cum_hazard"),
        round(exp(-col("__h")), 6).as("fh_survival"))
      .localCheckpoint()
  }

  /** Two-sample log-rank test (X79): does group `a`'s survival curve
    * differ from group `b`'s, accounting for censoring — the standard
    * companion inference to [[kaplanMeier]]'s estimate.
    *
    * At each distinct duration t with d_t total events: the group-a
    * expected events E_a += d_t·n_at/n_t and hypergeometric variance
    * V += d_t·(n_at/n_t)·(1−n_at/n_t)·(n_t−d_t)/(n_t−1); the statistic
    * is z = (O_a−E_a)/√V (χ² = z²). Every n/d input is an exact BIGINT
    * from ONE (duration) aggregate plus two cumulative windows sharing
    * a single bounded sort over the duration domain — the
    * [[kaplanMeier]] scale shape. Rows from other groups are ignored.
    *
    * Output (one row): n_a, n_b, o_a, e_a 4-dp, o_b, e_b 4-dp, z 4-dp,
    * chi2 4-dp; z is null when V = 0 (no events, or one group absent
    * everywhere). */
  def logRank(df: DataFrame, groupCol: String, durationCol: String,
              eventCol: String, a: String, b: String,
              maxDistinctTimes: Long = 200000L): DataFrame = Pin.scope { pin =>
    val isA = col(groupCol) === a
    // complete-case on the time axis — the kaplanMeier contract
    val byT = pin(df.filter(isA || col(groupCol) === b)
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durationCol).as("t"))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("c_a"),
        sum(when(!isA, 1L).otherwise(0L)).as("c_b"),
        sum(when(isA && col(eventCol) === 1, 1L).otherwise(0L)).as("d_a"),
        sum(when(!isA && col(eventCol) === 1, 1L).otherwise(0L)).as("d_b")))
    // Same bounded-duration-grain contract as [[coxPh]]: the
    // cumulative windows below single-sort the distinct durations.
    val nTimes = byT.count()
    require(nTimes <= maxDistinctTimes,
      s"logRank: $nTimes distinct durations exceeds the single-sort " +
        s"guard ($maxDistinctTimes) — bucket the duration column " +
        "before calling")
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val at = byT
      .withColumn("n_at", sum(col("c_a")).over(wAll) -
        coalesce(sum(col("c_a")).over(wPrev), lit(0L)))
      .withColumn("n_bt", sum(col("c_b")).over(wAll) -
        coalesce(sum(col("c_b")).over(wPrev), lit(0L)))
    val nT = (col("n_at") + col("n_bt")).cast("double")
    val dT = (col("d_a") + col("d_b")).cast("double")
    val expA = dT * col("n_at") / nT
    val varT = when(col("n_at") + col("n_bt") > 1,
      dT * (col("n_at") / nT) * (col("n_bt") / nT) *
        (nT - dT) / (nT - lit(1.0))).otherwise(lit(0.0))
    val agg = at.agg(
      sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"),
      sum(col("d_a")).as("o_a"), sum(col("d_b")).as("o_b"),
      sum(expA).as("__ea"), sum(dT - expA).as("__eb"),
      sum(varT).as("__v"))
    agg.select(col("n_a"), col("n_b"), col("o_a"),
      round(col("__ea"), 4).as("e_a"), col("o_b"),
      round(col("__eb"), 4).as("e_b"),
      when(col("__v") > 0,
        round((col("o_a") - col("__ea")) / sqrt(col("__v")), 4)).as("z"),
      when(col("__v") > 0,
        round(pow(col("o_a") - col("__ea"), 2) / col("__v"), 4))
        .as("chi2"))
      // one row: materialized before byT's pin is released
      .localCheckpoint()
  }

  /** Harrell's concordance index per group — "does a higher risk score
    * actually mean an earlier event": over comparable pairs (the one
    * with the shorter time had an OBSERVED event), count pairs where
    * the shorter-time subject also has the higher score; score ties
    * count ½. The survival generalization of AUC (c = AUC when all
    * events are observed). Inherently pairwise — per-group O(n²) over
    * BOUNDED groups (pre-aggregate or sample to the cohort grain
    * upstream, the kendallTauB contract). All counts exact integers.
    * Rows with null duration or null score are dropped before the
    * sweep and excluded from `n` (they can never form a comparable
    * pair; the old pair-join's nPts counted them).
    * Output: (group, n BIGINT, n_pairs BIGINT, n_concordant BIGINT,
    * n_tied BIGINT, c_index 4dp — null with no comparable pairs). */
  def concordanceIndex(df: DataFrame, groupCol: String,
                       durationCol: String, eventCol: String,
                       scoreCol: String,
                       maxGroupScores: Long = 50000000L): DataFrame = {
    // Pair semantics (Harrell): comparable (i, j) = i's event observed
    // strictly before j's time; concordant = s_i > s_j, tied = s_i =
    // s_j. Rounds ≤ 9 counted these with a within-group self-join —
    // O(n²/g) pair rows, measured 16x at the 10x sf1 gate. Exact
    // replacement in O(n log n) per group: sweep subjects in time-
    // DESCENDING order with a Fenwick tree over per-group score ranks
    // — when an event row i is reached, everything already in the tree
    // has t_j > t_i, so n_pairs(i) = tree size, n_concordant(i) =
    // prefix(rank_i − 1), n_tied(i) = count at rank_i. Equal-time
    // blocks are queried BEFORE insertion (strict t_i < t_j). Groups
    // hash-partition independently (the Brandes per-source shape);
    // tree memory is one Int (4 B) per distinct score in the group, guarded
    // by `maxGroupScores` with the remediation in the message.
    val spark = df.sparkSession
    val wRank = Window.partitionBy(col("__g")).orderBy(col("__s"))
    val ranked = df.select(col(groupCol).as("__g"),
        col(durationCol).cast("double").as("__t"),
        coalesce(col(eventCol).cast("int"), lit(0)).as("__e"),
        col(scoreCol).cast("double").as("__s"))
      .filter(col("__t").isNotNull && col("__s").isNotNull)
      .withColumn("__r", dense_rank().over(wRank))
      .withColumn("__maxr",
        max(col("__r")).over(Window.partitionBy(col("__g"))))
    val gIdx = 0; val tIdx = 1; val eIdx = 2
    val rIdx = 4; val mIdx = 5
    val sorted = ranked
      .repartition(col("__g"))
      .sortWithinPartitions(col("__g"), col("__t").desc)
    val statsRdd = sorted.rdd.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Any, Long, Long, Long, Long)]
      var g: Any = null
      var started = false
      // per-rank counts fit an Int (bounded by group rows <= 2^31);
      // prefix sums accumulate into a Long in bitSum
      var bit: Array[Int] = null
      var seen = 0L; var n = 0L
      var pairs = 0L; var conc = 0L; var tied = 0L
      val block = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var blockT = Double.NaN
      def bitAdd(i0: Int): Unit = {
        var i = i0
        while (i < bit.length) { bit(i) += 1; i += i & (-i) }
      }
      def bitSum(i0: Int): Long = {
        var i = i0; var s = 0L
        while (i > 0) { s += bit(i); i -= i & (-i) }
        s
      }
      def flushBlock(): Unit = {
        // query every row of the equal-t block against strictly-later
        // subjects, THEN insert the block
        block.foreach { case (r, e) =>
          if (e == 1) {
            pairs += seen
            val below = bitSum(r - 1)
            conc += below
            tied += bitSum(r) - below
          }
        }
        block.foreach { case (r, _) => bitAdd(r); seen += 1 }
        block.clear()
      }
      def flushGroup(): Unit = if (started) {
        flushBlock()
        out += ((g, n, pairs, conc, tied))
      }
      it.foreach { row =>
        val rg = row.get(gIdx)
        if (!started || rg != g) {
          flushGroup()
          g = rg; started = true
          val maxr = row.getInt(mIdx)
          require(maxr.toLong <= maxGroupScores,
            s"concordanceIndex: group $g has $maxr distinct scores — " +
              s"exceeds the per-group tree guard ($maxGroupScores); " +
              "bucket the score column or split the group")
          bit = new Array[Int](maxr + 1)
          seen = 0L; n = 0L; pairs = 0L; conc = 0L; tied = 0L
          blockT = Double.NaN
        }
        val t = row.getDouble(tIdx)
        // NaN-safe equality: consecutive NaN durations form ONE
        // equal-time block (Spark SQL's `__ti < __tj` in the old
        // pair-join was false for NaN vs NaN, excluding such pairs)
        if (block.nonEmpty && java.lang.Double.compare(t, blockT) != 0)
          flushBlock()
        blockT = t
        block += ((row.getInt(rIdx), row.getInt(eIdx)))
        n += 1
      }
      flushGroup()
      out.iterator.map { case (gv, nv, p, c, tv) =>
        org.apache.spark.sql.Row(gv, nv, p, c, tv)
      }
    }
    val gType = df.schema(groupCol).dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__g", gType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_pairs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_concordant",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tied",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(statsRdd, schema)
      // pair-less groups drop, as in the pair-join formulation (and
      // the DuckDB oracle): no comparable pair = no row
      .filter(col("n_pairs") > 0)
      .select(col("__g").as(groupCol), col("n"), col("n_pairs"),
        col("n_concordant"), col("n_tied"),
        round((col("n_concordant") + col("n_tied") / 2.0) /
          nullif(col("n_pairs").cast("double"), lit(0.0)), 4)
          .as("c_index"))
  }

  /** Weibull fit per group by median-rank regression (the probability-
    * plot / Weibull-paper method): sort the n UNCENSORED durations,
    * give rank i the Bernard median-rank plotting position
    * F_i = (i − 0.3)/(n + 0.4), and OLS-fit
    * ln(−ln(1−F_i)) = k·ln(t_i) − k·ln(λ) — slope is the shape k
    * (k < 1 infant-mortality, k ≈ 1 memoryless, k > 1 wear-out),
    * intercept gives the scale λ = exp(−b/k). The closed-form
    * parametric complement to [[kaplanMeier]]/[[nelsonAalen]].
    *
    * Equal durations get distinct ranks (order-statistic convention);
    * the OLS sums are permutation-invariant within a tie, so the fit
    * is deterministic. One rank window + one aggregate per group.
    * Output: (group, n BIGINT, shape 4dp, scale 4dp, r2 4dp); groups
    * with < 2 distinct durations yield nulls. */
  def weibullFit(df: DataFrame, groupCol: String,
                 durationCol: String): DataFrame = {
    val t = col(durationCol).cast("double")
    val pts = df.filter(t.isNotNull && t > 0)
      .select(col(groupCol).as("__g"), t.as("__t"))
      .withColumn("__i", row_number().over(
        Window.partitionBy(col("__g")).orderBy(col("__t"))))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("__g"))))
    val x = log(col("__t"))
    val y = log(-log(lit(1.0) -
      (col("__i") - lit(0.3)) / (col("__n") + lit(0.4))))
    val a = pts.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * x).as("sxx"),
        sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val n = col("n").cast("double")
    val vx = col("sxx") - col("sx") * col("sx") / n
    val vy = col("syy") - col("sy") * col("sy") / n
    val cxy = col("sxy") - col("sx") * col("sy") / n
    val slope = cxy / nullif(vx, lit(0.0))
    val inter = (col("sy") - slope * col("sx")) / n
    a.select(col("__g").as(groupCol), col("n"),
      round(slope, 4).as("shape"),
      round(exp(-inter / slope), 4).as("scale"),
      round(cxy * cxy / nullif(vx * vy, lit(0.0)), 4).as("r2"))
  }

  /** Single-covariate Cox proportional hazards (X280; Cox 1972,
    * Breslow tie handling) — the semi-parametric hazard-ratio model
    * the rest of this survival suite reads out against: the partial
    * likelihood needs NO baseline hazard, only risk-set sums, so it
    * fits a fixed-`iters` Newton walk (the logistic2/poisson2
    * discipline) built entirely from cumulative aggregates:
    *
    *   U(β) = Σ_j [s_j − d_j·S1_j/S0_j],
    *   I(β) = Σ_j d_j·(S2_j/S0_j − (S1_j/S0_j)²),
    *
    * with S_k,j = Σ_{i: t_i ≥ t_j} xᵏ e^{βx_i} from ONE descending
    * cumulative window over the per-time cell frame, and (s_j, d_j)
    * the event-covariate sums. Facts collapse ONCE to (time, x) cells
    * (≤ subjects; far fewer for discrete covariates); each Newton
    * step re-weights the CELL frame — e^{βx} per cell, never per
    * subject — one bounded-duration sort per step (the X79 logRank
    * contract). Degenerate information (constant covariate, no
    * events) nulls out.
    *
    * Output (one row): n BIGINT, n_events BIGINT, beta 4dp,
    * hazard_ratio 4dp, se 4dp, z 4dp, p_value 6dp (normal
    * approximation, the Wald test). */
  def coxPh(df: DataFrame, durationCol: String, eventCol: String,
            xCol: String, iters: Int = 8,
            timeBuckets: Int = 0,
            maxDistinctTimes: Long = 200000L): DataFrame = Pin.scope { pin =>
    require(iters >= 1, "iters must be >= 1")
    require(timeBuckets >= 0, "timeBuckets must be >= 0")
    import graft.functions.gfunctions.normal_sf
    val spark = df.sparkSession
    val raw = df.select(col(durationCol).cast("double").as("__t"),
        when(col(eventCol) === 1, 1L).otherwise(0L).as("__e"),
        col(xCol).cast("double").as("__x"))
      .filter(col("__t").isNotNull && col("__x").isNotNull)
    // Optional duration coarsening for continuous (e.g. microsecond)
    // durations at fact scale: fixed-width buckets over [min, max],
    // each represented by its LOWER edge (deterministic; preserves
    // risk-set order). Off by default — exact distinct durations.
    val bucketed = if (timeBuckets == 0) raw else {
      val mm = raw.agg(min(col("__t")), max(col("__t"))).head()
      if (mm.isNullAt(0)) raw else {
        val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
        val width = (hi - lo) / timeBuckets
        if (width <= 0) raw
        else raw.withColumn("__t",
          lit(lo) + floor((col("__t") - lit(lo)) / lit(width)) *
            lit(width))
      }
    }
    val cells = pin(bucketed
      .groupBy(col("__t"), col("__x"))
      .agg(count(lit(1)).as("__n"), sum(col("__e")).as("__d")))
    // The per-step cumulative window below is ordered but
    // unpartitioned — one task sorts the distinct-duration domain
    // (the bounded-duration-grain contract). Continuous durations at
    // fact scale would serialize it: fail fast and point at
    // timeBuckets instead (the Centrality driver-guard pattern).
    // One probe action covers both the guard count and the cell count
    // that sizes the per-iteration scans.
    val probe = cells.agg(count(lit(1)).as("__nc"),
      count_distinct(col("__t")).as("__nt")).head()
    val nCells = probe.getLong(0)
    val nTimes = probe.getLong(1)
    require(nTimes <= maxDistinctTimes,
      s"coxPh: $nTimes distinct durations exceeds the single-sort " +
        s"guard ($maxDistinctTimes); risk-set sums serialize over " +
        "the duration domain — coarsen with timeBuckets (> 0) or " +
        "pre-bucket the duration column")
    // Each Newton step re-scans the persisted cells; size that scan's
    // partitioning from the measured cell count instead of inheriting
    // the cached shuffle layout (32 near-empty blocks = 32 task
    // launches per step; see util.Sized).
    val cellsIt = graft.util.Sized.byRows(cells, nCells)
    val wDesc = Window.orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // score and information at a given beta — one pass over cells.
    // beta enters as a codegen-cache-friendly parameter constant
    // (util.Param.scalar) instead of a fresh literal so every Newton
    // step reuses ONE codegen source (the Janino cache keys on
    // generated Java text; an inlined constant changed per step
    // forced a recompile of every step stage — measured in
    // artifacts/r15opt/codegen_probe.log, pinned by ParamSpec).
    def ui(beta: Double): (Double, Double) = {
      val w = col("__n") * exp(graft.util.Param.scalar(beta) * col("__x"))
      val byT = cellsIt
        .groupBy(col("__t"))
        .agg(sum(w).as("w0"), sum(col("__x") * w).as("w1"),
          sum(col("__x") * col("__x") * w).as("w2"),
          sum(col("__d")).as("d"),
          sum(col("__d") * col("__x")).as("sx"))
        .withColumn("s0", sum(col("w0")).over(wDesc))
        .withColumn("s1", sum(col("w1")).over(wDesc))
        .withColumn("s2", sum(col("w2")).over(wDesc))
        .filter(col("d") > 0)
      val a = col("s1") / col("s0")
      val r = byT.agg(
        sum(col("sx") - col("d") * a).as("u"),
        sum(col("d") * (col("s2") / col("s0") - a * a)).as("i"))
        .head()
      if (r.isNullAt(0) || r.isNullAt(1)) (Double.NaN, Double.NaN)
      else (r.getDouble(0), r.getDouble(1))
    }
    var beta = 0.0
    var singular = false
    var it = 0
    while (it < iters && !singular) {
      val (u, i) = ui(beta)
      if (i.isNaN || i <= 0.0) singular = true
      else beta += u / i
      it += 1
    }
    val info = if (singular) Double.NaN else ui(beta)._2
    if (!singular && (info.isNaN || info <= 0.0)) singular = true
    val counts = cellsIt.agg(sum(col("__n")).as("n"),
      sum(col("__d")).as("ne")).head()
    val n = if (counts.isNullAt(0)) 0L else counts.getLong(0)
    val ne = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    import spark.implicits._
    if (singular)
      Seq((n, ne)).toDF("n", "n_events")
        .select(col("n"), col("n_events"),
          lit(null).cast("double").as("beta"),
          lit(null).cast("double").as("hazard_ratio"),
          lit(null).cast("double").as("se"),
          lit(null).cast("double").as("z"),
          lit(null).cast("double").as("p_value"))
    else {
      val se = 1.0 / math.sqrt(info)
      val z = beta / se
      Seq((n, ne, math.rint(beta * 1e4) / 1e4,
        math.rint(math.exp(beta) * 1e4) / 1e4,
        math.rint(se * 1e4) / 1e4, math.rint(z * 1e4) / 1e4, z))
        .toDF("n", "n_events", "beta", "hazard_ratio", "se", "z",
          "__zraw")
        .select(col("n"), col("n_events"), col("beta"),
          col("hazard_ratio"), col("se"), col("z"),
          round(lit(2.0) * normal_sf(abs(col("__zraw"))), 6)
            .as("p_value"))
    }
  }
}
