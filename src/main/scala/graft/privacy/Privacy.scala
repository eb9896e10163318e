package graft.privacy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Privacy thresholding for data release — the structural companion to
  * content-level PII scrubbing (q48's regex pass): scrubbing cleans
  * WHAT a row says, suppression controls WHETHER a row is releasable at
  * all. k-anonymity's suppression step (Sweeney 2002): a row is safe
  * only if at least k rows share its full quasi-identifier combination
  * (the columns an adversary could link on — zip, segment, nation…);
  * rarer combinations are dropped. [[suppressionReport]] sizes that
  * step for a release review.
  *
  * Scale shape: one hash aggregate on the quasi-identifier key for the
  * group sizes; everything after it runs on the combination-cardinality
  * sizes table. No window, no global sort; the fact rows are scanned once.
  */
object Privacy {

  /** Quasi-identifier group sizes (quasiCols…, __gn): the one
    * combination-cardinality aggregate behind [[suppressionReport]].
    * Null counts as a value (an all-null combination shared by k rows
    * survives a >= k gate — nulls are linkable too). */
  def groupSizes(df: DataFrame, quasiCols: Seq[String]): DataFrame =
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__gn"))

  /** ε-differentially-private count release via the Laplace mechanism
    * (Dwork et al. 2006): released = count + Lap(Δ/ε), Δ = 1 for
    * counting queries. The noise draw inverts the Laplace CDF at a
    * DETERMINISTIC md5-derived uniform seeded per group key — the
    * mechanism is exact DP math; injecting the seed makes releases
    * replayable and cross-engine testable (production swaps in a CSPRNG
    * at the same seam; the seed column IS that seam). u ∈ [−½, ½) from
    * 47 md5 bits; noise = −(Δ/ε)·sgn(u)·ln(1−2|u|), the ln argument
    * clamped at 1e−12 so the u = −½ grid edge can't produce −∞.
    * Output per group: (group, true_count, noise 4dp, released 4dp,
    * epsilon). true_count and noise are AUDIT-ONLY columns for the
    * data-owner side of the pipeline — publishing them alongside
    * released would disclose the exact counts and void the DP
    * guarantee; the publishable frame is [[dpRelease]] (group,
    * released, epsilon) only.
    */
  def dpCounts(df: DataFrame, group: String, epsilon: Double,
               seedSalt: String): DataFrame = {
    require(epsilon > 0, "epsilon must be positive")
    import graft.functions.gfunctions.md5_long
    val mask = (1L << 47) - 1
    val b = 1.0 / epsilon
    val u0 = md5_long(concat(lit(seedSalt), lit(":"),
      col(group).cast("string")))
      .bitwiseAND(lit(mask)).cast("double") / lit(mask.toDouble)
    val u = u0 - 0.5
    val noise = -lit(b) * signum(u) *
      log(greatest(lit(1.0) - lit(2.0) * abs(u), lit(1e-12)))
    df.groupBy(col(group))
      .agg(count(lit(1)).as("true_count"))
      .select(col(group), col("true_count"),
        round(noise, 4).as("noise"),
        round(col("true_count") + noise, 4).as("released"),
        lit(epsilon).as("epsilon"))
  }

  /** The publishable projection of [[dpCounts]]: only (group,
    * released, epsilon) leave the trust boundary — the noised value
    * carries the full ε-DP guarantee; the audit columns never do.
    */
  def dpRelease(df: DataFrame, group: String, epsilon: Double,
                seedSalt: String): DataFrame =
    dpCounts(df, group, epsilon, seedSalt)
      .select(col(group), col("released"), col("epsilon"))

  /** l-diversity audit: per quasi-identifier equivalence class, the
    * class size and the number of DISTINCT sensitive values (the l of
    * that class). k-anonymity alone leaves a class of k rows that all
    * share one sensitive value fully disclosed (the homogeneity
    * attack, Machanavajjhala et al. 2007); a release is l-diverse iff
    * min over classes of distinct-sensitive ≥ l. Output per class:
    * (quasiCols…, class_size, l_distinct, diverse = l_distinct ≥ l),
    * plus min_l repeated via a window over the class-bounded table so
    * the release-level verdict rides along. One aggregate over facts;
    * the window runs over classes, never rows.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(l >= 1, "l must be >= 1")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("l_distinct"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    classes.select((quasiCols.map(col) ++ Seq(col("class_size"),
      col("l_distinct"), (col("l_distinct") >= l).as("diverse"),
      min(col("l_distinct")).over(w).as("min_l"))): _*)
  }

  /** The release report a privacy review actually reads: per k in
    * `ks`, how many quasi-identifier combinations and rows survive a
    * >= k gate, and the suppressed-row fraction. One group-size
    * aggregate feeds every k (the sizes table is re-aggregated, not the
    * fact), so the sweep costs one extra combination-cardinality pass
    * per k. */
  def suppressionReport(df: DataFrame, quasiCols: Seq[String],
                        ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be >= 1")
    val sizes = groupSizes(df, quasiCols)
    val total = sizes.agg(sum(col("__gn")).as("__rows"))
    val perK = ks.map { k =>
      sizes.filter(col("__gn") >= k)
        .agg(lit(k).as("k"),
          count(lit(1)).as("n_groups_kept"),
          coalesce(sum(col("__gn")), lit(0L)).as("n_rows_kept"))
    }.reduce(_ unionByName _)
    perK.crossJoin(broadcast(total))
      .select(col("k"), col("n_groups_kept"), col("n_rows_kept"),
        round(lit(1.0) - col("n_rows_kept").cast("double") /
          col("__rows").cast("double"), 4).as("suppressed_frac"))
      .orderBy(col("k"))
  }

  /** t-closeness audit (X316, Li et al. 2007) — the third rung of the
    * release ladder after k-anonymity ([[suppressionReport]], class
    * size) and [[lDiversity]] (distinct sensitive values): a class
    * passes iff the DISTRIBUTION of its ordered sensitive attribute is
    * within earth-mover's distance `t` of the release-wide distribution,
    * so a 50-member class that is 96% one salary band still fails even
    * though it is k-anonymous and l-diverse.
    *
    * EMD over an ORDERED attribute with m distinct release-wide values
    * is the mean absolute cumulative gap: Σ_v |F_class(v) − F_all(v)| /
    * (m − 1). The per-value term is kept as the exact integer
    * |cumC·N − cumG·class_size| (order-free sum — no float
    * accumulation-order noise; exact while class_size·N < 2^63 / m,
    * the documented LONG contract), and only the final normalization
    * divides. Complete-case on the sensitive column: a null has no
    * position on the ordered axis (the ranked-axis contract); null
    * QUASI values are kept — nulls are linkable, [[groupSizes]]'
    * convention.
    *
    * Shape: one fact aggregate to (class, value) cells, one to the
    * m-bounded global distribution, a classes × values dense grid
    * (broadcast NLJ — both sides aggregate-bounded), per-class
    * cumulative windows PARTITIONED on the class. Output: (quasi…,
    * class_size BIGINT, emd 6dp, meets_t, max_emd 6dp release verdict).
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(t > 0 && t < 1, "t must be in (0,1)")
    val base = df.filter(col(sensitiveCol).isNotNull)
      .select((quasiCols.map(col) :+
        col(sensitiveCol).as("__v")): _*)
    // cell keys get disambiguated names: cells shares lineage with
    // `classes` below, so a grid(q) <=> cells(q) condition would
    // resolve both sides to the SAME attribute (a trivially-true join)
    val cells = base.groupBy((quasiCols.map(col) :+ col("__v")): _*)
      .agg(count(lit(1)).as("__c"))
      .select((quasiCols.zipWithIndex.map { case (q, i) =>
        col(q).as(s"__cq$i") } ++
        Seq(col("__v").as("__cv"), col("__c"))): _*)
    val classes = base.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
    val wOne = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val wOneOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // m-bounded global distribution with release totals riding along
    // (the lDiversity single-literal-partition pattern)
    val global = base.groupBy(col("__v"))
      .agg(count(lit(1)).as("__gc"))
      .select(col("__v"), sum(col("__gc")).over(wOneOrd).as("__cumG"),
        sum(col("__gc")).over(wOne).as("__N"),
        count(lit(1)).over(wOne).as("__m"))
    val grid = classes.crossJoin(broadcast(global))
    val joinCond = quasiCols.zipWithIndex.map { case (q, i) =>
      col(q) <=> col(s"__cq$i")
    }.reduce(_ && _) && col("__v") <=> col("__cv")
    val dense = grid.join(cells, joinCond, "left")
      .select((quasiCols.map(col) ++ Seq(col("__v"),
        col("class_size"), col("__cumG"), col("__N"), col("__m"),
        coalesce(col("__c"), lit(0L)).as("__c0"))): _*)
    val wClass = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val gap = abs(sum(col("__c0")).over(wClass) * col("__N") -
      col("__cumG") * col("class_size"))
    val perClass = dense
      .withColumn("__gap", gap)
      .groupBy((quasiCols.map(col) :+ col("class_size")): _*)
      .agg(sum(col("__gap")).as("__gapSum"),
        max(col("__N")).as("__N"), max(col("__m")).as("__m"))
    val emd = col("__gapSum").cast("double") /
      (col("class_size") * col("__N")).cast("double") /
      (col("__m") - lit(1)).cast("double")
    perClass
      // a single-valued release (m = 1) has zero distance everywhere
      .withColumn("emd",
        when(col("__m") > 1, round(emd, 6)).otherwise(lit(0.0)))
      .select((quasiCols.map(col) ++ Seq(col("class_size"), col("emd"),
        (col("emd") <= t).as("meets_t"),
        max(col("emd")).over(wOne).as("max_emd"))): _*)
  }
}
