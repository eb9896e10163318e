package graft.de

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gfunctions.{normal_sf, reg_inc_beta}

/** Classical inference battery beyond the reference's Welch t-test
  * (`drug_target_gse46602/pipeline2.py:598-603` is two-group only):
  * one-way ANOVA, Brown–Forsythe variance homogeneity, Mann–Whitney U,
  * and standardized effect sizes. All four reduce to per-group
  * sufficient statistics (count/mean/var or exact rank sums), so each
  * is one or two hash aggregates with map-side partials — fact rows are
  * never shuffled wholesale and output is scope×group bounded. The
  * F/normal tails come from [[graft.functions.gfunctions.reg_inc_beta]]
  * / [[graft.functions.gfunctions.normal_sf]] (commons-math3 kernels,
  * group-row cardinality only).
  */
object Inference {

  /** One-way ANOVA per scope: F = (SSB/(k−1)) / (SSW/(N−k)) from
    * group-level sufficient statistics only (n_g, mean_g, var_g —
    * SSB/SSW are exact functions of these, no second pass over facts).
    * P(F_{d1,d2} > f) = I_x(d2/2, d1/2), x = d2/(d2 + d1·f).
    *
    * Output per scope row: (scope…, k, n, f_stat 4dp, df1, df2,
    * p_value 6dp). Degenerate scopes (k < 2, N ≤ k, SSW = 0) yield
    * null f/p, never a division error.
    */
  def oneWayF(df: DataFrame, scope: Seq[String], group: String,
              value: String): DataFrame = {
    val v = col(value).cast("double")
    val sc = scope.map(col)
    val cells = df
      .filter(v.isNotNull)
      .groupBy((sc :+ col(group)): _*)
      .agg(count(lit(1)).as("__n"), avg(v).as("__m"),
        coalesce(var_samp(v), lit(0.0)).as("__v"))
    val agg = cells.groupBy(sc: _*)
      .agg(count(lit(1)).as("k"),
        sum(col("__n")).as("n"),
        (sum(col("__n") * col("__m")) / sum(col("__n"))).as("__grand"),
        sum((col("__n") - 1) * col("__v")).as("__ssw"),
        sum(col("__n") * col("__m") * col("__m")).as("__sq"))
    val ssb = col("__sq") - col("n") * col("__grand") * col("__grand")
    val d1 = (col("k") - 1).cast("double")
    val d2 = (col("n") - col("k")).cast("double")
    val f = (ssb / nullif(d1, lit(0.0))) /
      nullif(col("__ssw") / nullif(d2, lit(0.0)), lit(0.0))
    val x = d2 / (d2 + d1 * f)
    agg.select((sc ++ Seq(col("k"), col("n"),
      round(f, 4).as("f_stat"),
      d1.cast("long").as("df1"), d2.cast("long").as("df2"),
      when(f.isNotNull && d1 > 0 && d2 > 0,
        round(reg_inc_beta(x, d2 / 2, d1 / 2), 6)).as("p_value"))): _*)
  }

  /** Brown–Forsythe homogeneity-of-variance test: one-way ANOVA on
    * z_ij = |x_ij − median_g| (the median-centered Levene variant —
    * robust to non-normality, scipy.stats.levene(center='median')).
    * Group medians are exact (`percentile(v, 0.5)`), joined back
    * broadcast — the medians frame is group-bounded, so the join adds
    * no shuffle to the fact side. Output: (k, n, w_stat 4dp, df1, df2,
    * p_value 6dp).
    */
  def brownForsythe(df: DataFrame, group: String,
                    value: String): DataFrame = {
    val v = col(value).cast("double")
    val med = df.filter(v.isNotNull)
      .groupBy(col(group).as("__g"))
      .agg(percentile(v, lit(0.5)).as("__med"))
    val dev = df.filter(v.isNotNull)
      .join(broadcast(med), col(group) === col("__g"))
      .select(col(group), abs(v - col("__med")).as("__z"))
    oneWayF(dev, Nil, group, "__z")
      .withColumnRenamed("f_stat", "w_stat")
  }

  /** Bartlett's homogeneity-of-variance test (X318) — the
    * normal-theory, variance-ratio-sensitive member next to
    * [[brownForsythe]]'s robust median variant (Bartlett has more
    * power when the data really are normal; SciPy ships both for the
    * same reason): χ² = [(N−k)·ln(s²_pooled) − Σ(n_i−1)·ln(s²_i)] / C
    * with C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)).
    *
    * Complete-case on the value; groups need n_i ≥ 2 AND s²_i > 0 (a
    * zero-variance group puts ln out of domain — such groups are
    * EXCLUDED and counted in k_dropped, the documented contract). The
    * p-value is emitted only for dof = k−1 = 4, where the χ² survival
    * is exactly exp(−x/2)·(1 + x/2) (the even-dof closed form); other
    * dofs yield null rather than an approximation (the
    * [[RankStats.friedman]] convention). One
    * grouped moment aggregate + one k-bounded reduction. The pooled
    * dispersion is reported as the SD, not the variance — engines'
    * var_samp algorithms differ by ulps, and on a ~1e10 variance any
    * fixed-dp round can straddle that noise where the ~1e5 SD
    * absorbs it. Output (one row): (k, k_dropped BIGINT, n BIGINT,
    * pooled_sd 4dp, c 6dp, chi2 4dp, dof, p_value 6dp). */
  def bartlett(df: DataFrame, group: String, value: String): DataFrame = {
    val v = col(value).cast("double")
    val cells = df.filter(v.isNotNull)
      .groupBy(col(group).as("__g"))
      .agg(count(lit(1)).as("__n"), var_samp(v).as("__s2"))
    val ok = col("__n") >= 2 && col("__s2") > 0
    val agg = cells.agg(
      count(when(ok, 1)).as("k"),
      count(when(!ok, 1)).as("k_dropped"),
      sum(when(ok, col("__n"))).as("n"),
      sum(when(ok, (col("__n") - 1) * col("__s2"))).as("__ssw"),
      sum(when(ok, (col("__n") - 1) * log(col("__s2")))).as("__sln"),
      sum(when(ok, lit(1.0) / (col("__n") - 1))).as("__sinv"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val pooled = col("__ssw") / (nD - kD)
    val c = lit(1.0) + (col("__sinv") - lit(1.0) / (nD - kD)) /
      (lit(3.0) * (kD - 1))
    val chi2 = ((nD - kD) * log(pooled) - col("__sln")) / c
    agg.select(col("k"), col("k_dropped"), col("n"),
      round(sqrt(pooled), 4).as("pooled_sd"),
      round(c, 6).as("c"),
      round(chi2, 4).as("chi2"),
      (col("k") - 1).as("dof"),
      when(col("k") === 5,
        round(exp(-chi2 / 2) * (lit(1.0) + chi2 / 2), 6))
        .as("p_value"))
  }

  /** Mann–Whitney U (two-sided, asymptotic, tie-corrected, no
    * continuity correction — scipy.stats.mannwhitneyu(
    * use_continuity=False, method='asymptotic') parity) per scope.
    *
    * Ranks are exact: per distinct value, midrank×2 is the integer
    * 2·cumulative_below + t + 1 (same kernel as
    * [[RankStats.kruskalWallis]]), so rank sums carry no float error.
    * U_a = R_a − n_a(n_a+1)/2; z = (U_a − n_a·n_b/2) / σ with
    * σ² = n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))).
    *
    * Output per scope: (scope, n_a, n_b, u 1dp, z 4dp, p_value 6dp).
    * Degenerate scopes (a group empty, all values tied → σ = 0) yield
    * null z/p.
    */
  def mannWhitney(df: DataFrame, scope: String, group: String,
                  value: String, a: String, b: String): DataFrame = {
    val in = df.filter(col(group).isin(a, b) && col(value).isNotNull)
    val cells = in
      .groupBy(col(scope).as("__s"), col(group).as("__c"),
        col(value).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val perVal = cells.groupBy(col("__s"), col("__v"))
      .agg(sum(col("__cnt")).as("__t"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = perVal
      .withColumn("__cb", coalesce(sum(col("__t")).over(wOrd), lit(0L)))
      .select(col("__s").as("__rs"), col("__v").as("__rv"),
        (lit(2) * col("__cb") + col("__t") + 1).as("__r2"))
    val perCls = cells.join(ranked,
        col("__s") === col("__rs") && col("__v") === col("__rv"))
      .groupBy(col("__s"))
      .agg(
        sum(when(col("__c") === a, col("__cnt")).otherwise(0L)).as("n_a"),
        sum(when(col("__c") === b, col("__cnt")).otherwise(0L)).as("n_b"),
        sum(when(col("__c") === a, col("__cnt") * col("__r2"))
          .otherwise(0L)).as("__r2a"))
    val ties = perVal.groupBy(col("__s"))
      .agg(sum(col("__t") * col("__t") * col("__t") - col("__t"))
        .as("__tt"))
      .select(col("__s").as("__ts"), col("__tt"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = na + nb
    // __r2a is 2·R_a exactly; U in halves to stay exact until the end.
    val u = col("__r2a").cast("double") / 2 - na * (na + 1) / 2
    val sigma2 = na * nb / 12 *
      ((n + 1) - col("__tt") / nullif(n * (n - 1), lit(0.0)))
    val z = (u - na * nb / 2) / nullif(sqrt(sigma2), lit(0.0))
    perCls.join(ties, col("__s") === col("__ts"))
      .select(col("__s").as(scope), col("n_a"), col("n_b"),
        round(u, 1).as("u"),
        when(col("n_a") > 0 && col("n_b") > 0, round(z, 4)).as("z"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(lit(2.0) * normal_sf(abs(z)), 6)).as("p_value"))
  }

  /** Standardized two-group effect sizes per key: Cohen's d (pooled
    * SD), Hedges' g (small-sample correction J ≈ 1 − 3/(4(n_c+n_t)−9),
    * the standard approximation to the exact gamma ratio), and Glass's
    * Δ (control-SD denominator). Pure sufficient statistics — one hash
    * aggregate. Output: (keys…, n_case, n_ctrl, mean_diff 4dp,
    * cohen_d 4dp, hedges_g 4dp, glass_delta 4dp).
    */
  def effectSizes(df: DataFrame, keys: Seq[String], group: String,
                  value: String, caseVal: String,
                  controlVal: String): DataFrame = {
    val v = col(value).cast("double")
    val isC = col(group) === caseVal
    val isK = col(group) === controlVal
    val ks = keys.map(col)
    val agg = df.filter(isC || isK)
      .groupBy(ks: _*)
      .agg(
        count(when(isC, 1)).as("n_case"),
        count(when(isK, 1)).as("n_ctrl"),
        avg(when(isC, v)).as("__mc"),
        avg(when(isK, v)).as("__mk"),
        var_samp(when(isC, v)).as("__vc"),
        var_samp(when(isK, v)).as("__vk"))
    val n1 = col("n_case").cast("double")
    val n2 = col("n_ctrl").cast("double")
    val diff = col("__mc") - col("__mk")
    val pooled = sqrt(((n1 - 1) * col("__vc") + (n2 - 1) * col("__vk")) /
      nullif(n1 + n2 - 2, lit(0.0)))
    val d = diff / nullif(pooled, lit(0.0))
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - 9)
    agg.select((ks ++ Seq(col("n_case"), col("n_ctrl"),
      round(diff, 4).as("mean_diff"),
      round(d, 4).as("cohen_d"),
      round(d * j, 4).as("hedges_g"),
      round(diff / nullif(sqrt(col("__vk")), lit(0.0)), 4)
        .as("glass_delta"))): _*)
  }

  /** Fisher's exact test per stratum over two 0/1 indicator columns —
    * the chi-square replacement for SMALL 2×2 tables (expected cell
    * counts under ~5 make the χ² approximation lie; Fisher sums the
    * exact hypergeometric tail instead). Two-sided p: Σ over k of the
    * hypergeometric pmf for every table at-or-more-extreme than the
    * observed one (pmf(k) ≤ pmf(a)·(1+1e-7), R's fisher.test
    * convention).
    *
    * No lgamma dependency: ln-factorials come from ONE shared
    * cumulative-Σln table over 0..max(N) — a single-partition window
    * over a value-domain-bounded frame (max N rows, documented) that
    * broadcasts into the k-grid — so any engine that evaluates the
    * same sequential cumsum produces bit-identical pmfs (the oracle
    * does exactly that; no engine-specific gamma approximations in the
    * compare). The k-grid per stratum is min(m1, n1) − max(0, n1−m2)
    * rows — margin-bounded, never fact-bounded.
    *
    * Output per stratum: (stratum, a, b, c, d BIGINT, odds_ratio 4dp
    * (ad/bc, null when bc = 0), p_value 6dp). */
  def fisherExact(df: DataFrame, stratumCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val spark = df.sparkSession
    val x = col(xCol) === 1
    val y = col(yCol) === 1
    val cnt = df.groupBy(col(stratumCol).as("__s"))
      .agg(count(when(x && y, 1)).as("a"),
        count(when(x && !y, 1)).as("b"),
        count(when(!x && y, 1)).as("c"),
        count(when(!x && !y, 1)).as("d"))
      .withColumn("__m1", col("a") + col("b"))
      .withColumn("__m2", col("c") + col("d"))
      .withColumn("__n1", col("a") + col("c"))
      .withColumn("__N", col("__m1") + col("__m2"))
    val maxN = cnt.agg(coalesce(max(col("__N")), lit(0L))).head.getLong(0)
    // shared ln-factorial table: lf(i) = Σ_{j≤i} ln j, sequential
    // cumsum (single partition — bounded by the largest stratum size;
    // maxN is already in hand, so the guard is free)
    require(maxN <= 20000000L,
      s"fisherExact: largest stratum has $maxN rows — the shared " +
        "ln-factorial table would single-sort that domain; use the " +
        "normal-approximation tests (chi2/g-test) at this scale")
    val wLf = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val lnfact = spark.range(0L, maxN + 1)
      .select(col("id"),
        sum(when(col("id") > 0, log(col("id").cast("double")))
          .otherwise(0.0)).over(wLf).as("lf"))
    def lf(k: Column, alias: String) =
      broadcast(lnfact.select(col("id").as(s"__i$alias"),
        col("lf").as(s"__lf$alias")))
    // lnP(k) = lf(m1)−lf(k)−lf(m1−k)+lf(m2)−lf(n1−k)−lf(m2−n1+k)
    //          −lf(N)+lf(n1)+lf(N−n1)
    def lnP(base: DataFrame, k: Column, out: String): DataFrame = {
      val keys = Seq(k, col("__m1") - k, col("__n1") - k,
        col("__m2") - col("__n1") + k)
      val names = Seq("k", "m1k", "n1k", "m2k")
      val joined = keys.zip(names).foldLeft(base) { case (d, (kc, nm)) =>
        d.join(lf(kc, nm), kc === col(s"__i$nm")).drop(s"__i$nm")
      }
      joined.withColumn(out,
        col("__lfm1") - col("__lfk") - col("__lfm1k") +
          col("__lfm2") - col("__lfn1k") - col("__lfm2k") -
          col("__lfN") + col("__lfn1") + col("__lfNn1"))
        .drop("__lfk", "__lfm1k", "__lfn1k", "__lfm2k")
    }
    val withMargLf = Seq(("__m1", "m1"), ("__m2", "m2"), ("__n1", "n1"))
      .foldLeft(cnt) { case (d, (c0, nm)) =>
        d.join(lf(col(c0), nm), col(c0) === col(s"__i$nm"))
          .drop(s"__i$nm")
      }
      .join(lf(col("__N"), "N"), col("__N") === col("__iN")).drop("__iN")
      .join(lf(col("__N") - col("__n1"), "Nn1"),
        col("__N") - col("__n1") === col("__iNn1")).drop("__iNn1")
    val obs = lnP(withMargLf, col("a"), "__lnPobs")
    val grid = obs.withColumn("k",
      explode(sequence(greatest(lit(0L), col("__n1") - col("__m2")),
        least(col("__m1"), col("__n1")))))
    val terms = lnP(grid, col("k"), "__lnPk")
    terms
      .groupBy(col("__s"), col("a"), col("b"), col("c"), col("d"))
      .agg(round(sum(when(
        col("__lnPk") <= col("__lnPobs") + lit(1e-7),
        exp(col("__lnPk")))), 6).as("p_value"))
      .select(col("__s").as(stratumCol), col("a"), col("b"), col("c"),
        col("d"),
        round(col("a") * col("d") /
          nullif((col("b") * col("c")).cast("double"), lit(0.0)), 4)
          .as("odds_ratio"),
        col("p_value"))
  }

  /** TOST equivalence test per scope (two one-sided Welch t-tests,
    * Schuirmann 1987): is |mean_a − mean_b| provably SMALLER than the
    * margin δ — the question a non-significant ordinary t-test does
    * NOT answer. t₁ = (Δ + δ)/SE against H0: Δ ≤ −δ,
    * t₂ = (Δ − δ)/SE against H0: Δ ≥ +δ, Welch–Satterthwaite df;
    * p_tost = max of the two one-sided t tails (each from the exact
    * reg_inc_beta kernel), equivalence declared when p_tost < α.
    * Output: (scope, n_a, n_b, diff 4dp, se 4dp, df 2dp, p_tost 6dp,
    * equivalent BOOLEAN at α = 0.05); degenerate groups yield
    * nulls. */
  def tostEquivalence(df: DataFrame, scope: String, group: String,
                      value: String, a: String, b: String,
                      margin: Double): DataFrame = {
    require(margin > 0, "margin must be positive")
    val v = col(value).cast("double")
    val in = df.filter(col(group).isin(a, b) && v.isNotNull)
    val st = in.groupBy(col(scope))
      .agg(
        count(when(col(group) === a, 1)).as("n_a"),
        avg(when(col(group) === a, v)).as("__ma"),
        var_samp(when(col(group) === a, v)).as("__va"),
        count(when(col(group) === b, 1)).as("n_b"),
        avg(when(col(group) === b, v)).as("__mb"),
        var_samp(when(col(group) === b, v)).as("__vb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val se2 = col("__va") / na + col("__vb") / nb
    val se = sqrt(se2)
    val dfW = se2 * se2 / nullif(
      (col("__va") / na) * (col("__va") / na) / (na - 1) +
        (col("__vb") / nb) * (col("__vb") / nb) / (nb - 1), lit(0.0))
    val diff = col("__ma") - col("__mb")
    // one-sided upper tail P(T_df > t): I_x(df/2, ½)/2 for t ≥ 0,
    // 1 − I/2 for t < 0 (reg_inc_beta gives the two-sided tail)
    def tSf(t: org.apache.spark.sql.Column) = {
      val half = reg_inc_beta(dfW / (dfW + t * t), dfW / 2,
        lit(0.5)) / 2
      when(t >= 0, half).otherwise(lit(1.0) - half)
    }
    val t1 = (diff + margin) / nullif(se, lit(0.0))
    val t2 = (diff - margin) / nullif(se, lit(0.0))
    val pTost = greatest(tSf(t1), tSf(-t2))
    st.select(col(scope), col("n_a"), col("n_b"),
      round(diff, 4).as("diff"),
      round(se, 4).as("se"),
      round(dfW, 2).as("df"),
      round(pTost, 6).as("p_tost"),
      (pTost < 0.05).as("equivalent"))
  }

  /** Cliff's delta per scope — the ordinal effect size the
    * [[mannWhitney]] p-value needs next to it: δ = 2U/(n_a·n_b) − 1
    * ∈ [−1, 1], the probability a random `a` exceeds a random `b`
    * minus the reverse. Derived EXACTLY from the tie-averaged U
    * (mannWhitney's u is k/2, exact at 1 decimal), plus Romano's
    * conventional magnitude bands. Output: (scope, n_a, n_b,
    * delta 4dp, magnitude ∈ negligible|small|medium|large; null
    * delta when either sample is empty). */
  def cliffsDelta(df: DataFrame, scope: String, group: String,
                  value: String, a: String, b: String): DataFrame = {
    val mw = mannWhitney(df, scope, group, value, a, b)
    val d = lit(2.0) * col("u") /
      nullif((col("n_a") * col("n_b")).cast("double"), lit(0.0)) -
      lit(1.0)
    val ad = abs(d)
    mw.select(col(scope), col("n_a"), col("n_b"),
      round(d, 4).as("delta"),
      when(d.isNull, lit(null).cast("string"))
        .when(ad < 0.147, lit("negligible"))
        .when(ad < 0.33, lit("small"))
        .when(ad < 0.474, lit("medium"))
        .otherwise(lit("large")).as("magnitude"))
  }

  /** Wilcoxon signed-rank test per scope over PAIRED observations
    * (one row per unit with pre and post): d = post − pre, zeros
    * dropped (the standard Wilcoxon convention), |d| tie-averaged-
    * ranked, W⁺ = Σ ranks of positive d, normal approximation with
    * tie-corrected variance σ² = n(n+1)(2n+1)/24 − Σt(t³−t)/48 and
    * z = (W⁺ − n(n+1)/4)/σ (no continuity correction — documented),
    * p two-sided. The paired complement to [[mannWhitney]]. Exact
    * integer rank arithmetic (doubled ranks) until the final division.
    * Output: (scope, n_pairs BIGINT nonzero pairs, w_plus 1dp,
    * z 4dp, p_value 6dp); scopes with no nonzero pair drop out,
    * all-tied scopes yield null z/p. */
  def wilcoxonSignedRank(df: DataFrame, scope: String, pre: String,
                         post: String): DataFrame = {
    val d = col(post).cast("double") - col(pre).cast("double")
    val base = df.filter(d.isNotNull && d =!= 0)
      .select(col(scope).as("__s"), d.as("__d"), abs(d).as("__a"))
    val cells = base.groupBy(col("__s"), col("__a"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__pos"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s")).orderBy(col("__a"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    // doubled tie-averaged rank of the |d| run: 2·before + t + 1
    val ranked = cells
      .withColumn("__cb", coalesce(sum(col("__t")).over(wOrd), lit(0L)))
      .withColumn("__r2", lit(2) * col("__cb") + col("__t") + 1)
    val agg = ranked.groupBy(col("__s"))
      .agg(sum(col("__t")).as("n_pairs"),
        sum(col("__pos") * col("__r2")).as("__w2"),
        sum(col("__t") * col("__t") * col("__t") - col("__t"))
          .as("__tt"))
    val n = col("n_pairs").cast("double")
    val wPlus = col("__w2").cast("double") / 2
    val sigma2 = n * (n + 1) * (n * 2 + 1) / 24.0 -
      col("__tt").cast("double") / 48.0
    val z = (wPlus - n * (n + 1) / 4) / nullif(sqrt(sigma2), lit(0.0))
    agg.select(col("__s").as(scope), col("n_pairs"),
      round(wPlus, 1).as("w_plus"),
      round(z, 4).as("z"),
      round(lit(2.0) * normal_sf(abs(z)), 6).as("p_value"))
  }

  /** Grubbs' test per group — is the single most extreme value an
    * outlier under normality? G = max|x − x̄|/s (sample s), p =
    * min(1, n·I_x(ν/2, ½)) with ν = n − 2, x = ν/(ν + τ²),
    * τ² = n·ν·G²/((n−1)² − n·G²) — the exact t-tail form, evaluated
    * by the [[graft.functions.gfunctions.reg_inc_beta]] kernel on
    * group rows only. G at its theoretical maximum (τ² denominator
    * ≤ 0, the 2-point degenerate case) reports p = 0. One aggregate +
    * one broadcast-join argmax pass; the reported outlier breaks
    * absolute-deviation ties by the larger value. Output: (group,
    * n BIGINT, outlier, g 4dp, p_value 6dp); groups with n < 3 or
    * zero variance drop out. */
  def grubbs(df: DataFrame, groupCol: String,
             valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.filter(v.isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"), avg(v).as("__m"),
        stddev_samp(v).as("__sd"))
      .filter(col("n") >= 3 && col("__sd") > 0)
    val scored = df.filter(v.isNotNull)
      .select(col(groupCol).as("__g"), v.as("__v"))
      .join(broadcast(stats), Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(col("n")).as("n"),
        max(struct(abs(col("__v") - col("__m")).as("__dev"),
          col("__v").as("__val"))).as("__top"),
        max(col("__sd")).as("__sd"))
    val n = col("n").cast("double")
    val g = col("__top").getField("__dev") / col("__sd")
    val nu = n - 2
    val denom = (n - 1) * (n - 1) - n * g * g
    val tau2 = n * nu * g * g / denom
    val p = when(denom <= 0, lit(0.0))
      .otherwise(least(lit(1.0),
        n * reg_inc_beta(nu / (nu + tau2), nu / 2, lit(0.5))))
    scored.select(col("__g").as(groupCol), col("n"),
      col("__top").getField("__val").as("outlier"),
      round(g, 4).as("g"),
      round(p, 6).as("p_value"))
  }

  /** Yuen's trimmed-mean t-test per stratum (X286; Yuen 1974) — the
    * Welch test that survives heavy tails: per group, drop the lowest
    * and highest ⌊γn⌋ observations (rank cut — tied boundary values
    * retain the same multiset whichever tie wins the rank, so no id
    * column is needed), compare TRIMMED means, and standardize by the
    * WINSORIZED variance:
    *
    *   d_g = s²_w·(n−1)/(h·(h−1)),  h = n − 2⌊γn⌋,
    *   t = (t̄m_A − t̄m_B)/√(d_A + d_B),
    *
    * Welch–Satterthwaite df on the d's with h−1 denominators, p from
    * the exact t tail (the codegen'd `t_test_pvalue` — the q14 Simpson
    * oracle technique). A 20% trim keeps ~95% Gaussian efficiency
    * while shrugging off the outliers that hand q13's plain Welch its
    * false positives.
    *
    * Shape: one rank window per (stratum, group) (series-bounded) +
    * clamp + two aggregates. Groups whose h < 2 yield null stats.
    *
    * Output per stratum: (stratum, h_a BIGINT, h_b BIGINT,
    * tmean_a 4dp, tmean_b 4dp, t_stat 4dp, df 2dp, p_value 6dp). */
  def yuenTrimmed(df: DataFrame, stratumCol: String, groupCol: String,
                  valueCol: String, a: String, b: String,
                  trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5, "trim in (0, 0.5)")
    import graft.functions.gfunctions.t_test_pvalue
    val v = col(valueCol).cast("double")
    val base = df
      .filter(col(groupCol).isin(a, b) && v.isNotNull)
      .select(col(stratumCol).as("__s"), col(groupCol).as("__g"),
        v.as("__v"))
    val w = Window.partitionBy(col("__s"), col("__g"))
      .orderBy(col("__v"))
    val wN = Window.partitionBy(col("__s"), col("__g"))
    val ranked = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wN))
      .withColumn("__cut", floor(col("__n") * trim).cast("long"))
    val kept = col("__rn") > col("__cut") &&
      col("__rn") <= col("__n") - col("__cut")
    // winsorized value: clamp to the retained range (min/max of kept)
    val bounds = ranked.filter(kept)
      .groupBy(col("__s"), col("__g"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val stats = ranked.join(bounds, Seq("__s", "__g"))
      .withColumn("__w",
        least(greatest(col("__v"), col("__lo")), col("__hi")))
      .groupBy(col("__s"), col("__g"))
      .agg(count(lit(1)).as("__nn"),
        (count(lit(1)) - lit(2) * max(col("__cut"))).as("__h"),
        avg(when(kept, col("__v"))).as("__tm"),
        var_samp(col("__w")).as("__sw"))
    def side(g: String, suf: String) =
      stats.filter(col("__g") === g)
        .select(col("__s"), col("__nn").as(s"__n$suf"),
          col("__h").as(s"__h$suf"), col("__tm").as(s"__tm$suf"),
          col("__sw").as(s"__sw$suf"))
    val j = side(a, "a").join(side(b, "b"), Seq("__s"))
    def d(suf: String) =
      col(s"__sw$suf") * (col(s"__n$suf") - 1) /
        (col(s"__h$suf") * (col(s"__h$suf") - 1)).cast("double")
    val ok = col("__ha") >= 2 && col("__hb") >= 2
    val t = (col("__tma") - col("__tmb")) /
      nullif(sqrt(d("a") + d("b")), lit(0.0))
    val dfree = pow(d("a") + d("b"), 2) /
      nullif(pow(d("a"), 2) / (col("__ha") - 1) +
        pow(d("b"), 2) / (col("__hb") - 1), lit(0.0))
    j.select(col("__s").as(stratumCol),
      col("__ha").as("h_a"), col("__hb").as("h_b"),
      round(col("__tma"), 4).as("tmean_a"),
      round(col("__tmb"), 4).as("tmean_b"),
      when(ok, round(t, 4)).as("t_stat"),
      when(ok, round(dfree, 2)).as("df"),
      when(ok, round(t_test_pvalue(t, dfree), 6)).as("p_value"))
  }

  /** Mood's median test (X287) — k-sample location test on nothing
    * but "above or below the GRAND median" counts (scipy
    * median_test, ties='below'): one exact interpolated grand median,
    * one 2×k contingency aggregate, Pearson χ² with dof = k−1. The
    * p-value uses the exact even-dof closed form (e^{−x/2}·Σ(x/2)^i/i!)
    * and is null for odd dof — the honest contract, not a hidden
    * approximation (pin the group count or read the χ² against a
    * table). Groups with zero expectation in either row (possible
    * only in degenerate all-tied data) null the statistic.
    *
    * Output (one row): n BIGINT, k, grand_median 4dp, chi2 4dp, dof,
    * p_value 6dp (null when dof is odd). */
  def moodMedian(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(col(groupCol).as("__g"), v.as("__v"))
    val med = base.agg(percentile(col("__v"), lit(0.5)).as("__m"))
    val cells = base.crossJoin(broadcast(med))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__cn"),
        sum(when(col("__v") > col("__m"), 1L).otherwise(0L))
          .as("__ab"),
        max(col("__m")).as("__m"))
    // totals from BASE, not from cells: a cells-derived aggregate
    // cross-joined back onto cells is a self-join whose duplicated
    // lineage makes every cells column name ambiguous
    val tot = base.crossJoin(broadcast(med))
      .agg(count(lit(1)).as("__N"),
        sum(when(col("__v") > col("__m"), 1L).otherwise(0L))
          .as("__A"),
        countDistinct(col("__g")).as("__k"),
        max(col("__m")).as("__gm"))
    val scored = cells.crossJoin(broadcast(tot))
      .withColumn("__ea",
        col("__cn") * col("__A") / col("__N").cast("double"))
      .withColumn("__eb",
        col("__cn") * (col("__N") - col("__A")) /
          col("__N").cast("double"))
      .withColumn("__term",
        when(col("__ea") === 0.0 || col("__eb") === 0.0,
          lit(null).cast("double"))
          .otherwise(
            pow(col("__ab") - col("__ea"), 2) / col("__ea") +
            pow(col("__cn") - col("__ab") - col("__eb"), 2) /
              col("__eb")))
    val agg = scored.groupBy()
      .agg(max(col("__N")).as("n"), max(col("__k")).as("__k"),
        max(col("__gm")).as("__gm"), sum(col("__term")).as("__chi"),
        max(when(col("__term").isNull, 1).otherwise(0)).as("__bad"))
    val dof = col("__k") - 1
    val half = col("__chi") / 2
    // even-dof closed form, evaluated as a bounded series via a
    // driver-free iterative expression is not possible for a DYNAMIC
    // dof — but k is a GROUP DOMAIN: collect it (1 row) and build the
    // series literally
    val kVal = agg.select(col("__k")).head.getLong(0).toInt
    val chiP =
      if (kVal < 2 || (kVal - 1) % 2 != 0) lit(null).cast("double")
      else {
        val series = (0 until (kVal - 1) / 2).map { i =>
          val fact = (1 to i).foldLeft(1.0)(_ * _)
          pow(half, i) / lit(fact)
        }.reduce(_ + _)
        exp(-half) * series
      }
    agg.select(col("n"), col("__k").as("k"),
      round(col("__gm"), 4).as("grand_median"),
      when(col("__bad") === 1, lit(null).cast("double"))
        .otherwise(round(col("__chi"), 4)).as("chi2"),
      dof.as("dof"),
      when(col("__bad") === 1, lit(null).cast("double"))
        .otherwise(round(chiP, 6)).as("p_value"))
  }
}
