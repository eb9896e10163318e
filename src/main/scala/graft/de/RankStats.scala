package graft.de

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Rank- and contingency-based statistics beyond the Welch/BH family in
  * [[Stats]]: chi-square independence, ROC AUC (Mann–Whitney), and
  * grouped simple OLS. All are aggregation-first: the fact table
  * collapses to a bounded statistic table (contingency cells, distinct
  * scores, per-group sums) BEFORE any window or driver-visible step, so
  * the shapes survive 100 TB inputs.
  */
object RankStats {

  /** Chi-square test of independence between two categorical columns:
    * one row (chi2 4-dp, dof BIGINT, n BIGINT). The contingency table is
    * one hash aggregate (cells = |A|×|B|, bounded by the domains);
    * margins are window sums OVER THE CELL TABLE, never the facts. */
  def chiSquare(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a).as("__a"), col(b).as("__b"))
      .agg(count(lit(1)).as("o"))
    val rowTot = sum(col("o")).over(Window.partitionBy("__a"))
    val colTot = sum(col("o")).over(Window.partitionBy("__b"))
    val allTot = sum(col("o")).over(Window.partitionBy())
    val e = cells
      .withColumn("__rt", rowTot).withColumn("__ct", colTot)
      .withColumn("__n", allTot)
      .withColumn("__e",
        col("__rt").cast("double") * col("__ct") / col("__n"))
    // n − Σ_observed e adds the zero cells' (0−e)²/e = e mass in closed
    // form (Σe over ALL cells = n) — see [[contingencyEffects]].
    e.agg(
      round(sum(pow(col("o") - col("__e"), 2) / col("__e")) +
        first(col("__n")) - sum(col("__e")), 4).as("chi2"),
      ((countDistinct(col("__a")) - 1) *
        (countDistinct(col("__b")) - 1)).as("dof"),
      first(col("__n")).as("n"))
  }

  /** Contingency effect sizes (X85): the chi-square statistic PLUS the
    * sample-size-free association measures a readout actually needs —
    * Cramér's V = √(χ²/(n·(min(r,c)−1))) (0 = independent, 1 = perfect
    * association) and the phi-family contingency coefficient
    * C = √(χ²/(χ²+n)). Same single-cell-aggregate shape as
    * [[chiSquare]]; V is what makes χ² comparable across tables of
    * different size, which the bare statistic is not.
    *
    * Output (one row): (chi2 4-dp, dof BIGINT, n BIGINT, n_rows,
    * n_cols, cramers_v 4-dp, contingency_c 4-dp; V null for a 1×k
    * table). */
  def contingencyEffects(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a).as("__a"), col(b).as("__b"))
      .agg(count(lit(1)).as("o"))
    val rowTot = sum(col("o")).over(Window.partitionBy("__a"))
    val colTot = sum(col("o")).over(Window.partitionBy("__b"))
    val allTot = sum(col("o")).over(Window.partitionBy())
    val e = cells
      .withColumn("__rt", rowTot).withColumn("__ct", colTot)
      .withColumn("__n", allTot)
      .withColumn("__e",
        col("__rt").cast("double") * col("__ct") / col("__n"))
    // Zero cells are absent from the observed-cell aggregate but each
    // contributes (0−e)²/e = e to χ²; since Σe over ALL cells = n, the
    // missing mass is n − Σ_observed e — added in closed form, no dense
    // cross-join of the category domains needed.
    val agg = e.agg(
      (sum(pow(col("o") - col("__e"), 2) / col("__e")) +
        first(col("__n")) - sum(col("__e"))).as("__chi2"),
      countDistinct(col("__a")).as("n_rows"),
      countDistinct(col("__b")).as("n_cols"),
      first(col("__n")).as("n"))
    val minDim = least(col("n_rows"), col("n_cols")) - 1
    agg.select(
      round(col("__chi2"), 4).as("chi2"),
      ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
      col("n"), col("n_rows"), col("n_cols"),
      when(minDim > 0,
        round(sqrt(col("__chi2") / (col("n") * minDim)), 4))
        .as("cramers_v"),
      round(sqrt(col("__chi2") / (col("__chi2") + col("n"))), 4)
        .as("contingency_c"))
  }

  /** ROC AUC of `score` against binary `label` (1 = positive), with
    * exact tie handling (ties contribute 1/2 — the Mann–Whitney
    * convention). Facts collapse to one row PER DISTINCT SCORE first;
    * the single global running-sum window runs over that bounded table
    * (the gate-sweep/BH small-branch trade). Contributions are halves
    * of integers, so the double sum is exact — no accumulation-order
    * noise. Returns (auc 4-dp, n_pos, n_neg).
    *
    * The cumulative window single-sorts the DISTINCT-SCORE domain —
    * bounded for pre-rounded scores (the usage contract) but not for
    * raw continuous ones, so the collapsed table is counted and
    * guarded (the coxPh fail-fast pattern) before the sort runs. */
  def rocAuc(df0: DataFrame, label: String, score: String,
             maxDistinctScores: Long = 2000000L): DataFrame = Pin.scope { pin =>
    // complete-case on the score/label axes (fuzz-24: the KS fuzz-14
    // rationale applies to every ranked-axis statistic — a null score
    // has no rank position and engines sort it oppositely, shifting
    // every below-count; a null label is an unjudgeable row)
    val df = df0.filter(col(score).isNotNull && col(label).isNotNull)
    val g = pin(df.groupBy(col(score).as("__s"))
      .agg(sum(col(label)).cast("double").as("np"),
        (count(lit(1)) - sum(col(label))).cast("double").as("nn")))
    val nScores = g.count()
    require(nScores <= maxDistinctScores,
      s"rocAuc: $nScores distinct scores exceeds the single-sort " +
        s"guard ($maxDistinctScores) — the running-rank window would " +
        "serialize over the score domain; pre-round or bucket the " +
        "score column before calling")
    val below = coalesce(
      sum(col("nn")).over(Window.orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0))
    // ANSI-safe: a single-class input has no ranking to score — null auc
    // (not a divide-by-zero) so callers can coalesce or filter.
    val denom = sum(col("np")) * sum(col("nn"))
    g.withColumn("__below", below)
      .agg(
        round(when(denom > 0,
          sum(col("np") * (col("__below") + lit(0.5) * col("nn"))) / denom),
          4).as("auc"),
        sum(col("np")).cast("long").as("n_pos"),
        sum(col("nn")).cast("long").as("n_neg"))
      // one row: materialized before g's pin is released
      .localCheckpoint()
  }

  /** Per-group two-sample Kolmogorov–Smirnov D between the `value`
    * distributions of samples `a` and `b` (rows with other `sample`
    * values are ignored): (group, n_a, n_b, ks_d 6-dp).
    *
    * Complete-case on `value` (fuzz-14 finding): a null value has no
    * place on the ECDF axis, and engines disagree on where a null
    * SORTS (Spark nulls-first, DuckDB nulls-last), which silently
    * shifts both cumulative curves and the max gap — null-value rows
    * are dropped BEFORE the cell collapse, and n_a/n_b count only
    * placed observations.
    *
    * Exactness: facts collapse to one row per (group, value) with the
    * two sample counts, and the ECDF gap is maximized in INTEGER form —
    * D·n_a·n_b = max |cum_a·n_b − cum_b·n_a| — so the statistic is
    * noise-free by construction; only the final ratio is a double
    * (exact while n_a·n_b < 2^63 — ~3e9 rows per side — the documented
    * LONG-arithmetic contract). Ties are handled correctly because the
    * running sums step once per DISTINCT value, counting the full tie
    * group (the right-continuous ECDF both SciPy and R compute).
    *
    * Plan: one hash aggregate at (group, value) grain, then one sorted
    * window and one unbounded window over that AGGREGATE, both
    * partitioned by group (they share the group-key shuffle), then one
    * final hash aggregate. The fact table is scanned once and never
    * sorted; the sort cost is per-group distinct values. A single-class
    * group (either total 0) yields null D. */
  def ksTest(df: DataFrame, group: String, sample: String, value: String,
             a: String, b: String): DataFrame = {
    val cells = df
      .filter(col(sample).isin(a, b) && col(value).isNotNull)
      .groupBy(col(group), col(value).as("__v"))
      .agg(count(when(col(sample) === a, 1)).as("__ca"),
        count(when(col(sample) === b, 1)).as("__cb"))
    val wOrd = Window.partitionBy(col(group)).orderBy(col("__v"))
    val wAll = Window.partitionBy(col(group))
    cells
      .withColumn("__cuma", sum(col("__ca")).over(wOrd))
      .withColumn("__cumb", sum(col("__cb")).over(wOrd))
      .withColumn("__ta", sum(col("__ca")).over(wAll))
      .withColumn("__tb", sum(col("__cb")).over(wAll))
      .groupBy(col(group))
      .agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        round(when(max(col("__ta")) > 0 && max(col("__tb")) > 0,
          max(abs(col("__cuma") * col("__tb") - col("__cumb") * col("__ta")))
            .cast("double") / (max(col("__ta")) * max(col("__tb")))),
          6).as("ks_d"))
  }

  /** Per-group two-sample Cramér–von Mises statistic (X323) — the
    * whole-curve companion to [[ksTest]]'s max-gap D: T = n·m/N² ·
    * Σ_pooled (F_a − F_b)², summing the squared ECDF gap at every
    * pooled observation (tie multiplicity counted), so a distribution
    * shift spread across the whole range registers even when no single
    * point gap is large (KS's known blind spot).
    *
    * Exactness: the same (group, value) cell collapse as [[ksTest]];
    * each pooled point contributes the exact integer w_v·(cum_a·m −
    * cum_b·n)², summed as DECIMAL(38,0) — order-free, no float
    * accumulation noise; Spark's decimal sum ≡ DuckDB's HUGEINT sum
    * while the WHOLE SUM stays under 10^38. The sum is bounded by
    * N·(n·m)² (N = n+m pooled points, each term ≤ (n·m)²), so the
    * documented contract is N·(n·m)² < 10^38 — e.g. balanced groups
    * are safe to n = m ≈ 3×10^7; heavily unbalanced groups hit the
    * ceiling earlier (n = 10^8, m = 10^7 overflows). Past the bound
    * Spark's non-ANSI decimal sum silently NULLS t (DuckDB's HUGEINT
    * errors) — pre-bucket values to shrink N before calling at that
    * grain. Far past any per-group size here. Only the final
    * normalization T = Σ / (N²·n·m) divides in double. Under H0
    * E[T] = (1 + 1/N)/6 rides along so the readout is self-calibrating
    * (the scipy cramervonmises_2samp statistic; its asymptotic p needs
    * the limiting distribution, not shipped — the statistic-vs-
    * expectation pair is the decision readout, the q359 convention).
    * Complete-case on value (the ECDF axis contract). Output per
    * group: (group, n_a, n_b BIGINT, t 6dp, t_expected 6dp). */
  def cramerVonMises(df: DataFrame, group: String, sample: String,
                     value: String, a: String, b: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df
      .filter(col(sample).isin(a, b) && col(value).isNotNull)
      .groupBy(col(group), col(value).as("__v"))
      .agg(count(when(col(sample) === a, 1)).as("__ca"),
        count(when(col(sample) === b, 1)).as("__cb"))
    val wOrd = Window.partitionBy(col(group)).orderBy(col("__v"))
    val wAll = Window.partitionBy(col(group))
    val diff = col("__cuma").cast(dec) * col("__tb").cast(dec) -
      col("__cumb").cast(dec) * col("__ta").cast(dec)
    val term = (col("__ca") + col("__cb")).cast(dec) * diff * diff
    cells
      .withColumn("__cuma", sum(col("__ca")).over(wOrd))
      .withColumn("__cumb", sum(col("__cb")).over(wOrd))
      .withColumn("__ta", sum(col("__ca")).over(wAll))
      .withColumn("__tb", sum(col("__cb")).over(wAll))
      .withColumn("__term", term)
      .groupBy(col(group))
      .agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        sum(col("__term")).as("__s"))
      .select(col(group), col("n_a"), col("n_b"),
        round(when(col("n_a") > 0 && col("n_b") > 0,
          col("__s").cast("double") /
            ((col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")).cast("double") *
              col("n_a").cast("double") * col("n_b").cast("double"))),
          6).as("t"),
        round((lit(1.0) + lit(1.0) /
          (col("n_a") + col("n_b")).cast("double")) / 6.0, 6)
          .as("t_expected"))
  }

  /** Per-group simple OLS of y on x via the codegen'd built-in
    * regression aggregates (one hash aggregate, map-side partial):
    * slope / intercept / r2 (4-dp) and n per group. */
  def groupedOls(df: DataFrame, keys: Seq[String], y: String,
                 x: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(round(regr_slope(col(y), col(x)), 4).as("slope"),
        round(regr_intercept(col(y), col(x)), 4).as("intercept"),
        round(regr_r2(col(y), col(x)), 4).as("r2"),
        regr_count(col(y), col(x)).as("n"))

  /** Kruskal–Wallis H (one-way ANOVA on ranks) per scope: does `value`'s
    * distribution differ across the `cls` classes? Output per scope:
    * (scope, n, dof = k−1, h, h_adj) with the standard tie correction
    * H_adj = H / (1 − Σ(t³−t)/(N³−N)); all-tied scopes get null h_adj.
    *
    * Facts collapse to (scope, cls, value, count) CELLS first — the only
    * fact-grain pass; every window runs over cells (the rocAuc/ksTest
    * shape, cell count bounded by |values|×|classes|). Fractional ranks
    * are never materialized per observation: the doubled rank of value v
    * is 2·cum_before + t + 1 — an INTEGER — so each class's doubled rank
    * sum Σ cnt·r2 is an exact BIGINT and the only floating-point steps
    * are the k per-class square/divide terms and their k-term sum, which
    * the 4-dp round absorbs. A single class in a scope yields H = 0
    * (rank sum is forced), which is the honest degenerate answer. */
  def kruskalWallis(df: DataFrame, scope: String, cls: String,
                    value: String): DataFrame = {
    // complete-case on value (fuzz-17: a null value has no rank, and
    // the engines' opposite null sort order shifts every cumulative
    // rank below it); null SCOPE stays a real group — the internal
    // joins below are null-safe for exactly that reason
    val cells = df
      .filter(col(value).isNotNull)
      .groupBy(col(scope).as("__s"), col(cls).as("__c"),
        col(value).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val perVal = cells.groupBy(col("__s"), col("__v"))
      .agg(sum(col("__cnt")).as("__t"))
    val wOrd = Window.partitionBy(col("__s")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // renamed join keys: ranked derives from cells, so a name-based
    // self-join would hit Spark's ambiguous-lineage resolution
    val ranked = perVal
      .withColumn("__cb", coalesce(sum(col("__t")).over(wOrd), lit(0L)))
      .select(col("__s").as("__rs"), col("__v").as("__rv"),
        (lit(2) * col("__cb") + col("__t") + 1).as("__r2"))
    val perCls = cells.join(ranked,
        col("__s") <=> col("__rs") && col("__v") === col("__rv"))
      .groupBy(col("__s"), col("__c"))
      .agg(sum(col("__cnt") * col("__r2")).as("__rsum"),
        sum(col("__cnt")).as("__nj"))
    val ties = perVal.groupBy(col("__s"))
      .agg(sum(col("__t") * col("__t") * col("__t") - col("__t"))
        .as("__tt"))
      .select(col("__s").as("__ts"), col("__tt"))
    val n = col("__n").cast("double")
    perCls.groupBy(col("__s"))
      .agg(sum(col("__nj")).as("__n"),
        (count(lit(1)) - 1).as("dof"),
        sum(col("__rsum").cast("double") * col("__rsum") /
          (lit(4.0) * col("__nj"))).as("__sqsum"))
      .join(ties, col("__s") <=> col("__ts"))
      .select(col("__s"), col("__n").as("n"), col("dof"),
        round(lit(12.0) / (n * (n + 1)) * col("__sqsum") - lit(3.0) * (n + 1), 4)
          .as("h"),
        round((lit(12.0) / (n * (n + 1)) * col("__sqsum") - lit(3.0) * (n + 1)) /
          nullif(lit(1.0) - col("__tt") / (n * n * n - n), lit(0.0)), 4)
          .as("h_adj"))
      .withColumnRenamed("__s", scope)
  }

  /** Kendall's W coefficient of concordance: how much do m raters
    * agree on the ranking of n items (0 = no agreement, 1 = perfect)?
    * Items are tie-average-ranked WITHIN each rater; W = 12·S /
    * (m²(n³−n) − m·ΣT) over the deviation of item rank-sums from
    * their mean, with the per-rater tie correction T = Σ(t³−t).
    * Only items scored by every rater count (complete-case; the
    * Friedman discipline transposed). Duplicate (rater, item) scores
    * are averaged. Output (one row): (m INT raters, n BIGINT items,
    * s 4dp, w 4dp, chi2 4dp = m(n−1)W — χ²_{n−1} under H0, emitted
    * for external lookup since n−1 is data-dependent); degenerate
    * denominators yield null W. */
  def kendallsW(df0: DataFrame, rater: String, item: String,
                value: String): DataFrame = {
    // complete-case (fuzz-25): a null rater/item labels nothing (and a
    // null item silently vanishes from any equality-joined oracle — the
    // q163 class); a null value is no observation, and an all-null cell
    // would otherwise sit at an engine-dependent end of the rank axis
    val df = df0.filter(col(rater).isNotNull && col(item).isNotNull &&
      col(value).isNotNull)
    val cell = df.groupBy(col(rater).as("__r"), col(item).as("__i"))
      .agg(avg(col(value).cast("double")).as("__v"))
    val m = cell.select(col("__r")).distinct().count()
    val complete = cell
      .withColumn("__mr", count(lit(1)).over(
        Window.partitionBy(col("__i"))))
      .filter(col("__mr") === m)
    val perVal = complete.groupBy(col("__r"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(col("__r")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perVal
      .withColumn("__before", coalesce(sum(col("__c")).over(wOrd),
        lit(0L)))
      .select(col("__r").as("__rr"), col("__v").as("__rv"),
        (col("__before") + (col("__c") + 1) / lit(2.0)).as("__rank"))
    val itemSums = complete.join(ranked,
        col("__r") === col("__rr") && col("__v") === col("__rv"))
      .groupBy(col("__i"))
      .agg(sum(col("__rank")).as("__rs"))
    val ties = perVal.groupBy(col("__r"))
      .agg(sum(col("__c") * col("__c") * col("__c") - col("__c"))
        .as("__t"))
      .agg(sum(col("__t")).as("__tt"))
    val mD = lit(m.toDouble)
    val agg = itemSums.agg(count(lit(1)).as("n"),
      sum(col("__rs")).as("__sum"),
      sum(col("__rs") * col("__rs")).as("__sq"))
    val n = col("n").cast("double")
    val sDev = col("__sq") - col("__sum") * col("__sum") / n
    val w = lit(12.0) * sDev /
      nullif(mD * mD * (n * n * n - n) - mD * col("__tt"), lit(0.0))
    agg.crossJoin(broadcast(ties))
      .select(lit(m.toInt).as("m"), col("n"),
        round(sDev, 4).as("s"),
        round(w, 4).as("w"),
        round(mD * (n - 1) * w, 4).as("chi2"))
  }

  /** Friedman test (the repeated-measures Kruskal–Wallis): k treatments
    * ranked WITHIN each block, Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1) over
    * the per-treatment rank sums. Duplicate (block, treatment)
    * observations are averaged first; blocks not observing every
    * treatment are dropped (complete-block design), and ties within a
    * block take average ranks via the cumulative-count identity
    * avg_rank = before + (t+1)/2 (classic statistic, no tie
    * correction — documented). The p-value is emitted only for
    * dof = 2 (k = 3), where the χ² survival is exactly exp(−Q/2);
    * other dofs yield null rather than an approximation.
    * Output (one row): (k INT, n_blocks BIGINT, q 4dp, dof INT,
    * p_value 6dp). */
  def friedman(df0: DataFrame, block: String, treatment: String,
               value: String): DataFrame = {
    // same complete-case contract as [[kendallsW]] (fuzz-25)
    val df = df0.filter(col(block).isNotNull &&
      col(treatment).isNotNull && col(value).isNotNull)
    val cell = df.groupBy(col(block).as("__b"),
        col(treatment).as("__t"))
      .agg(avg(col(value).cast("double")).as("__v"))
    val k = cell.select(col("__t")).distinct().count()
    val complete = cell
      .withColumn("__kb", count(lit(1)).over(
        Window.partitionBy(col("__b"))))
      .filter(col("__kb") === k)
    // average rank within block: per distinct value, ranks span
    // (before, before + t]; their mean is before + (t+1)/2
    val perVal = complete.groupBy(col("__b"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perVal
      .withColumn("__before", coalesce(sum(col("__c")).over(wOrd),
        lit(0L)))
      .select(col("__b").as("__rb"), col("__v").as("__rv"),
        (col("__before") + (col("__c") + 1) / lit(2.0)).as("__rank"))
    val rankSums = complete.join(ranked,
        col("__b") === col("__rb") && col("__v") === col("__rv"))
      .groupBy(col("__t"))
      .agg(sum(col("__rank")).as("__rsum"),
        count(lit(1)).as("__nb"))
    val kD = lit(k.toDouble)
    rankSums.agg(max(col("__nb")).as("n_blocks"),
        sum(col("__rsum") * col("__rsum")).as("__sq"))
      .select(lit(k.toInt).as("k"), col("n_blocks"),
        round(lit(12.0) / (col("n_blocks") * kD * (kD + 1)) *
          col("__sq") - lit(3.0) * col("n_blocks") * (kD + 1), 4)
          .as("q"),
        lit((k - 1).toInt).as("dof"))
      .withColumn("p_value",
        when(col("dof") === 2, round(exp(-col("q") / 2.0), 6)))
  }

  /** Jonckheere–Terpstra trend test (X288) — the k-sample test for an
    * ORDERED alternative (doses, priority tiers, cohorts): JT =
    * Σ_{i<j} U_ij over the caller-ordered groups, i.e. "do later
    * groups sit stochastically higher". Everything reduces to
    * per-(value, group) cells: with per-group cumulative counts
    * C_g(v) over one shared value sort, U contributions are
    * c_j(v)·(Σ_{i<j} C_i(v) + ½·Σ_{i<j} c_i(v)) — value-domain-
    * bounded, never an O(V²) pair join. Exact-integer mean and
    * tie-corrected variance (Hollander & Wolfe 6.19: the three-term
    * correction over group sizes n_i and tie multiplicities t_v);
    * z two-sided via the normal tail. Groups outside `ordered` are
    * ignored; < 2 non-empty groups or zero variance yield null z/p.
    *
    * Output (one row): n BIGINT, k, jt 1dp (exact half-integer),
    * mean 1dp, z 4dp, p_value 6dp. */
  def jonckheereTerpstra(df: DataFrame, group: String, value: String,
                         ordered: Seq[String]): DataFrame = {
    require(ordered.size >= 2, "need an ordered list of >= 2 groups")
    val v = col(value).cast("double")
    // the cells are pinned until the one driver row is collected
    val agg = Pin.scope { pin =>
      val cells = pin(df
        .filter(col(group).isin(ordered: _*) && v.isNotNull)
        .groupBy(v.as("__v"), col(group).as("__g"))
        .agg(count(lit(1)).as("__c")))
      // bounded-value-grain guard (the coxPh pattern): the cumulative
      // windows below single-sort the distinct-value domain
      val nCells = cells.count()
      require(nCells <= 2000000L,
        s"jonckheereTerpstra: $nCells (value, group) cells exceeds the " +
          "single-sort guard (2000000) — pre-round or bucket the value " +
          "column before calling")
      // one row per distinct value with per-group count columns
      val pivoted = cells.groupBy(col("__v"))
        .agg(ordered.zipWithIndex.map { case (g, i) =>
          sum(when(col("__g") === g, col("__c")).otherwise(0L))
            .as(s"__c$i")
        }.head, ordered.zipWithIndex.drop(1).map { case (g, i) =>
          sum(when(col("__g") === g, col("__c")).otherwise(0L))
            .as(s"__c$i")
        }: _*)
      val wCum = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val withCum = ordered.indices.foldLeft(pivoted) { (d, i) =>
        d.withColumn(s"__cum$i",
          coalesce(sum(col(s"__c$i")).over(wCum), lit(0L)))
      }
      // 2·JT stays integer: 2·Σ_v Σ_j c_j·(Σ_{i<j}C_i) + Σ_v Σ_j c_j·Σ_{i<j}c_i
      val jt2 = ordered.indices.drop(1).map { j =>
        val below = ordered.indices.take(j)
          .map(i => col(s"__cum$i")).reduce(_ + _)
        val tied = ordered.indices.take(j)
          .map(i => col(s"__c$i")).reduce(_ + _)
        col(s"__c$j") * (lit(2) * below + tied)
      }.reduce(_ + _)
      val tv = ordered.indices.map(i => col(s"__c$i")).reduce(_ + _)
      val aggCols =
        ordered.indices.map(i =>
          sum(col(s"__c$i")).as(s"__n$i")) ++ Seq(
          sum(tv * (tv - 1) * (lit(2) * tv + 5)).as("__t25"),
          sum(tv * (tv - 1)).as("__t2"),
          sum(tv * (tv - 1) * (tv - 2)).as("__t3"))
      withCum.agg(sum(jt2).as("__jt2"), aggCols: _*).head()
    }
    val ns = ordered.indices.map(i =>
      agg.getAs[Long](s"__n$i")).filter(_ > 0)
    val n = ns.sum
    val jt = (if (agg.isNullAt(0)) 0L else agg.getLong(0)) / 2.0
    val spark = df.sparkSession
    import spark.implicits._
    if (ns.size < 2 || n < 3) {
      return Seq((n, ns.size)).toDF("n", "k")
        .select(col("n"), col("k"),
          lit(null).cast("double").as("jt"),
          lit(null).cast("double").as("mean"),
          lit(null).cast("double").as("z"),
          lit(null).cast("double").as("p_value"))
    }
    val t25 = agg.getAs[Long]("__t25").toDouble
    val t2 = agg.getAs[Long]("__t2").toDouble
    val t3 = agg.getAs[Long]("__t3").toDouble
    val nD = n.toDouble
    val mean = (nD * nD - ns.map(x => x.toDouble * x).sum) / 4.0
    val n25 = ns.map(x => x.toDouble * (x - 1) * (2.0 * x + 5)).sum
    val n2 = ns.map(x => x.toDouble * (x - 1)).sum
    val n3 = ns.map(x => x.toDouble * (x - 1) * (x - 2)).sum
    val varJt =
      (nD * (nD - 1) * (2 * nD + 5) - n25 - t25) / 72.0 +
        n3 * t3 / (36.0 * nD * (nD - 1) * (nD - 2)) +
        n2 * t2 / (8.0 * nD * (nD - 1))
    import graft.functions.gfunctions.normal_sf
    val base = Seq((n, ns.size, jt, mean,
      if (varJt > 0) (jt - mean) / math.sqrt(varJt) else Double.NaN))
      .toDF("n", "k", "__jt", "__mean", "__z")
    base.select(col("n"), col("k"),
      round(col("__jt"), 1).as("jt"),
      round(col("__mean"), 1).as("mean"),
      when(!isnan(col("__z")), round(col("__z"), 4)).as("z"),
      when(!isnan(col("__z")),
        round(lit(2.0) * normal_sf(abs(col("__z"))), 6)).as("p_value"))
  }

  /** Brunner–Munzel test (X289; scipy.stats.brunnermunzel parity) —
    * the modern two-sample rank test that, unlike Mann–Whitney, does
    * NOT assume equal variances under the null (the "nonparametric
    * Behrens–Fisher" problem): estimates p̂ = P(X<Y)+½P(X=Y) from
    * overall-vs-within midrank placements, with a Welch-style
    * studentization and df.
    *
    * Every sum reduces to per-(value, group) cells: overall and
    * within-group midranks are the exact doubled-integer kernel
    * (2·below + t + 1, the kruskalWallis trick), and the placement
    * variances S²ᵢ = Σ c·(R(v) − Rᵢ(v) − R̄ᵢ + (nᵢ+1)/2)²/(nᵢ−1) are
    * cell-weighted sums. p from the exact t tail at the estimated df.
    * Degenerate inputs (a side < 2 rows, zero variance with p̂ = ½)
    * yield nulls; complete separation (S² = 0, p̂ ∈ {0,1}) yields
    * ±Infinity statistic like scipy — surfaced as null with the
    * p_hat still reported.
    *
    * Output (one row): n_a, n_b BIGINT, p_hat 4dp (P(b > a) +
    * ½ties — the common-language effect size), t_stat 4dp, df 2dp,
    * p_value 6dp. */
  def brunnerMunzel(df: DataFrame, group: String, value: String,
                    a: String, b: String): DataFrame = {
    import graft.functions.gfunctions.t_test_pvalue
    val v = col(value).cast("double")
    // the cells are pinned until the one driver row is collected
    val agg = Pin.scope { pin =>
      val cells = pin(df
        .filter(col(group).isin(a, b) && v.isNotNull)
        .groupBy(v.as("__v"), col(group).as("__g"))
        .agg(count(lit(1)).as("__c")))
      // bounded-value-grain guard (the coxPh pattern): the midrank
      // cumulative windows single-sort the distinct-value domain
      val nCells = cells.count()
      require(nCells <= 2000000L,
        s"brunnerMunzel: $nCells (value, group) cells exceeds the " +
          "single-sort guard (2000000) — pre-round or bucket the value " +
          "column before calling")
      val piv = cells.groupBy(col("__v"))
        .agg(sum(when(col("__g") === a, col("__c")).otherwise(0L))
            .as("__ca"),
          sum(when(col("__g") === b, col("__c")).otherwise(0L))
            .as("__cb"))
      val wCum = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val t = col("__ca") + col("__cb")
      // doubled midranks (exact integers): overall and within-group
      val ranked = piv
        .withColumn("__ba", coalesce(sum(col("__ca")).over(wCum), lit(0L)))
        .withColumn("__bb", coalesce(sum(col("__cb")).over(wCum), lit(0L)))
        .withColumn("__r2", lit(2) * (col("__ba") + col("__bb")) + t + 1)
        .withColumn("__ra2", lit(2) * col("__ba") + col("__ca") + 1)
        .withColumn("__rb2", lit(2) * col("__bb") + col("__cb") + 1)
      ranked.agg(
        sum(col("__ca")).as("na"), sum(col("__cb")).as("nb"),
        sum(col("__ca") * col("__r2")).as("sra2"),
        sum(col("__cb") * col("__r2")).as("srb2"),
        // placement sums in quarters: (R − Rw)·2 is integer, squares /4
        sum(col("__ca") * pow(col("__r2") - col("__ra2"), 2)).as("qa"),
        sum(col("__cb") * pow(col("__r2") - col("__rb2"), 2)).as("qb"),
        sum(col("__ca") * (col("__r2") - col("__ra2"))).as("la"),
        sum(col("__cb") * (col("__r2") - col("__rb2"))).as("lb")).head()
    }
    val spark = df.sparkSession
    import spark.implicits._
    val na = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val nb = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    def nullRow(pHat: Option[Double]) =
      Seq((na, nb)).toDF("n_a", "n_b")
        .select(col("n_a"), col("n_b"),
          pHat.map(p => round(lit(p), 4))
            .getOrElse(lit(null).cast("double")).as("p_hat"),
          lit(null).cast("double").as("t_stat"),
          lit(null).cast("double").as("df"),
          lit(null).cast("double").as("p_value"))
    if (na < 2 || nb < 2) return nullRow(None)
    val naD = na.toDouble; val nbD = nb.toDouble
    val nD = naD + nbD
    // means of doubled ranks
    val mra2 = agg.getLong(2).toDouble / naD
    val mrb2 = agg.getLong(3).toDouble / nbD
    // S² from the doubled-placement sums: placements halve, squares /4
    // the −R̄ + (n+1)/2 shift in scipy's formula equals the MEAN of
    // the placements u = R − Rw exactly, so S² is just the placement
    // variance: (Σu² − n·ū²)/(n−1), with Σu/Σu² held as exact doubled
    // integers until here
    val sa = (agg.getDouble(4) / 4.0 -
      naD * math.pow((agg.getLong(6).toDouble / 2.0) / naD, 2)) /
      (naD - 1)
    val sb = (agg.getDouble(5) / 4.0 -
      nbD * math.pow((agg.getLong(7).toDouble / 2.0) / nbD, 2)) /
      (nbD - 1)
    val pHat = (mrb2 - mra2) / (2.0 * nD) + 0.5
    val denom = math.sqrt(naD * sa + nbD * sb)
    if (denom == 0.0 || denom.isNaN) return nullRow(Some(pHat))
    val tStat = naD * nbD * (mrb2 - mra2) / 2.0 / nD / denom
    val dfree = math.pow(naD * sa + nbD * sb, 2) /
      (math.pow(naD * sa, 2) / (naD - 1) +
        math.pow(nbD * sb, 2) / (nbD - 1))
    Seq((na, nb, pHat, tStat, dfree))
      .toDF("n_a", "n_b", "__p", "__t", "__df")
      .select(col("n_a"), col("n_b"),
        round(col("__p"), 4).as("p_hat"),
        round(col("__t"), 4).as("t_stat"),
        round(col("__df"), 2).as("df"),
        round(t_test_pvalue(col("__t"), col("__df")), 6)
          .as("p_value"))
  }

  /** Ordinal association battery (X320): Goodman–Kruskal γ, Somers'
    * D_yx, and Kendall τ_b between two ORDERED low-cardinality
    * columns, from exact concordant/discordant/tie pair counts — the
    * direction-of-monotone-relation readouts a contingency χ² (q115)
    * throws away and [[kendallTau]]'s continuous machinery
    * over-serves for banded data.
    *
    * Facts collapse to the |X|×|Y| cell grid first; pair counts are
    * then ONE pass over grid × grid (broadcast NLJ, both sides the
    * same counted-and-guarded cell table, ≤ maxCells² pair terms) in
    * EXACT integers: each unordered pair is counted once at its
    * lexicographically-smaller cell (x' > x for the moving side;
    * exact while n² < 2^63 — the documented LONG contract).
    * Complete-case on both columns (the ranked-axis contract).
    *
    * γ = (C−D)/(C+D); D_yx = (C−D)/(C+D+T_y), T_y = pairs tied on y
    * only (y the response); τ_b = (C−D)/√((C+D+T_x)(C+D+T_y)).
    * Output (one row): (n BIGINT, n_concordant, n_discordant,
    * t_x, t_y, t_xy BIGINT, gamma 6dp, somers_d_yx 6dp, tau_b 6dp).
    */
  def ordinalAssociation(df: DataFrame, xCol: String, yCol: String,
                         maxCells: Long = 2000L): DataFrame = Pin.scope { pin =>
    val cells = pin(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c")))
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"ordinalAssociation: $nCells cells exceeds the pair-grid guard " +
        s"($maxCells) — band the columns before calling")
    val other = cells.select(col("__x").as("__x2"),
      col("__y").as("__y2"), col("__c").as("__c2"))
    val pairs = cells.crossJoin(broadcast(other))
    val prod = col("__c") * col("__c2")
    val agg = pairs.agg(
      sum(col("__c")).as("__ntot"),
      count(lit(1)).as("__np"),
      sum(when(col("__x2") > col("__x") && col("__y2") > col("__y"),
        prod).otherwise(0L)).as("c"),
      sum(when(col("__x2") > col("__x") && col("__y2") < col("__y"),
        prod).otherwise(0L)).as("d"),
      sum(when(col("__x2") === col("__x") && col("__y2") > col("__y"),
        prod).otherwise(0L)).as("tx"),
      sum(when(col("__x2") > col("__x") && col("__y2") === col("__y"),
        prod).otherwise(0L)).as("ty"),
      sum(when(col("__x2") === col("__x") && col("__y2") === col("__y"),
        // c·(c−1) is even; shiftright keeps the division in LONG
        shiftright(col("__c") * (col("__c") - 1), 1))
        .otherwise(0L)).as("txy"))
    // __ntot double-counts by the grid fan-out: each cell row meets
    // every broadcast row — recover n as sum(c)/nCells exactly
    val n = (col("__ntot") / lit(nCells)).cast("long")
    val cd = (col("c") + col("d")).cast("double")
    val gamma = (col("c") - col("d")).cast("double") / nullif(cd, lit(0.0))
    val somers = (col("c") - col("d")).cast("double") /
      nullif(cd + col("ty"), lit(0.0))
    val taub = (col("c") - col("d")).cast("double") /
      nullif(sqrt((cd + col("tx")) * (cd + col("ty"))), lit(0.0))
    agg.select(n.as("n"), col("c").as("n_concordant"),
      col("d").as("n_discordant"), col("tx").as("t_x"),
      col("ty").as("t_y"), col("txy").as("t_xy"),
      round(gamma, 6).as("gamma"),
      round(somers, 6).as("somers_d_yx"),
      round(taub, 6).as("tau_b"))
      .localCheckpoint()
  }
}
