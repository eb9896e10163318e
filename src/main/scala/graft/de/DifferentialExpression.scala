package graft.de

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.GeoLineParser.pyStrip
import graft.geo.ProbeRows

/** Differential-expression stage (J2/J3, A6–A8, F4/F5;
  * `pipeline2.py:540-648`).
  *
  * Sample-group reconciliation (J2) happens on driver-side dimension data
  * (sample lists are bounded by array width, not data volume); the per-gene
  * statistics are a row map over the gene rows (`Stats.welchTTestRows`),
  * then `Stats.bhAdjust`.
  */
object DifferentialExpression {

  /** J2: resolve each expression sample to 'case'/'control'.
    *
    * Mirrors `reconcile_sample_ids` + the in-stage fallback
    * (`pipeline2.py:349-432,564-573`), in the reference's precedence
    * order:
    *  1. id-match against metadata (quote/space-stripped keys);
    *  2. positional fallback (`pipeline2.py:392-401`): when NO id matches
    *     but the sample counts agree, the i-th expression column takes
    *     the i-th metadata sample's condition (metadata ordered by its
    *     `ordinal` source position when present);
    *  3. arbitrary half split of ALL expression samples in source-column
    *     order (first half control, rest case) when either group still
    *     has < 2 samples.
    *
    * @param sampleIds expression sample ids in source-column order
    * @param metadata  (sample_id, condition, ...) — condition may be null;
    *                  an `ordinal` column, if present, fixes the metadata
    *                  sample order for the positional fallback
    */
  def resolveGroups(sampleIds: Seq[String],
                    metadata: DataFrame): Seq[(String, String)] = {
    val ordered =
      if (metadata.columns.contains("ordinal")) metadata.orderBy("ordinal")
      else metadata
    val metaSeq = ordered.select("sample_id", "condition")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // keys stripped too: metadata ids can arrive quoted just like the
    // expression header's (both sides of the match normalize)
    val meta = metaSeq.collect { case (k, v) if v != null => pyStrip(k, "\"' ") -> v }.toMap
    val matched = sampleIds.flatMap { sid =>
      meta.get(pyStrip(sid, "\"' ")).map(sid -> _)
    }
    val positional =
      if (matched.isEmpty && metaSeq.length == sampleIds.length)
        sampleIds.zip(metaSeq).collect {
          case (sid, (_, cond)) if cond != null => sid -> cond
        }
      else matched
    def ok(gs: Seq[(String, String)]) =
      gs.count(_._2 == "control") >= 2 && gs.count(_._2 == "case") >= 2
    if (ok(matched)) matched
    else if (ok(positional)) positional
    else {
      val mid = sampleIds.length / 2
      sampleIds.zipWithIndex.map { case (sid, i) =>
        sid -> (if (i < mid) "control" else "case")
      }
    }
  }

  /** A6–A8 + F4/F5 over gene rows.
    *
    * The case/control masks come from [[resolveGroups]]; each gene's Welch
    * test is a row map over its vector ([[Stats.welchTTestRows]]), so the
    * statistics do not depend on the partitioning.
    *
    * @param genes gene rows, `(gene, value ARRAY<DOUBLE>)` with the sample
    *              ids in the `value` metadata (the probe collapse's output)
    * @return (gene, log2FC, pvalue, adjusted_pvalue) — the reference's
    *         differential_results.csv schema (`pipeline2.py:610-627`)
    */
  def run(spark: SparkSession, genes: DataFrame,
          sampleIds: Seq[String], metadata: DataFrame): DataFrame = {
    val arm = resolveGroups(sampleIds, metadata).toMap            // J3
    val ids = ProbeRows.sampleIds(genes)
    val tested = Stats.welchTTestRows(genes, "gene", "value",
        ids.map(arm.get(_).contains("case")).toArray,
        ids.map(arm.get(_).contains("control")).toArray)
      .select(col("gene"), col("log2fc").as("log2FC"), col("pvalue"))
    Stats.bhAdjust(tested, "pvalue", "adjusted_pvalue", tieBreak = Seq("gene"))
      .select("gene", "log2FC", "pvalue", "adjusted_pvalue")
  }

  /** The significance predicate as a COLUMN — the single copy shared by
    * [[significant]] and the volcano sink's flag, so the thresholds and
    * null handling cannot drift apart. Null inputs -> false (pandas NaN
    * comparison semantics). */
  def isSignificant(pCol: org.apache.spark.sql.Column,
                    fcCol: org.apache.spark.sql.Column,
                    pThreshold: Double = 0.05,
                    fcThreshold: Double = 1.0): org.apache.spark.sql.Column =
    coalesce(pCol < pThreshold && abs(fcCol) > fcThreshold &&
      fcCol.isNotNull, lit(false))

  /** F5: the reference's hard-coded significance cut
    * (`pipeline2.py:639-643`): BH-adjusted p < 0.05, |log2FC| > 1, log2FC
    * not null. */
  def significant(results: DataFrame): DataFrame =
    results.filter(isSignificant(col("adjusted_pvalue"), col("log2FC")))
}
