package graft.de

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.geo.GeoLineParser.pyStrip
import graft.geo.ProbeRows
import graft.util.DriverOrder

/** Differential-expression stage (J2/J3, A6–A8, F4/F5;
  * `pipeline2.py:540-648`).
  *
  * Sample-group reconciliation (J2) happens on driver-side dimension data
  * (sample lists are bounded by array width, not data volume); the per-gene
  * statistics are a row map over the gene rows (`Stats.welchTTestRows`),
  * then Benjamini–Hochberg: on the driver over the collected gene-grain
  * table in the pipeline ([[runRows]]), `Stats.bhAdjust` in the frame form
  * ([[run]]).
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
    resolveGroups(sampleIds, ordered.select("sample_id", "condition")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
  }

  /** [[resolveGroups]] over metadata rows already on the driver,
    * `(sample_id, condition)` in the metadata's `ordinal` order. */
  def resolveGroups(sampleIds: Seq[String],
                    metaSeq: Seq[(String, String)]): Seq[(String, String)] = {
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
    * The pipeline takes [[runRows]], the same table as rows on the driver;
    * this frame form's caller is the benchmark's traced pipeline, and it
    * goes with that mirror.
    *
    * @param genes gene rows, `(gene, value ARRAY<DOUBLE>)` with the sample
    *              ids in the `value` metadata (the probe collapse's output)
    * @return (gene, log2FC, pvalue, adjusted_pvalue) — the reference's
    *         differential_results.csv schema (`pipeline2.py:610-627`)
    */
  def run(spark: SparkSession, genes: DataFrame,
          sampleIds: Seq[String], metadata: DataFrame): DataFrame =
    Stats.bhAdjust(tested(genes, resolveGroups(sampleIds, metadata)),   // J3
        "pvalue", "adjusted_pvalue", tieBreak = Seq("gene"))
      .select("gene", "log2FC", "pvalue", "adjusted_pvalue")

  /** The most gene rows [[runRows]] collects: `bhAdjust`'s windowed
    * threshold. A fixed number, so `SPARK_GRAFT_FORCE_DISPATCH` does not
    * reach it. */
  val MaxDriverRows: Int = 2000000

  /** [[run]]'s table as rows on the driver, in gene order (Spark's string
    * order), with the same bits: the Welch table `(gene, log2FC, pvalue)`
    * is collected once (at most [[MaxDriverRows]] rows, else this fails
    * with the count), and BH runs on the driver ([[Stats.bhAdjustRows]],
    * ties by gene).
    *
    * @param metadata `(sample_id, condition)` in `ordinal` order
    * @return rows in [[ResultSchema]]
    */
  def runRows(genes: DataFrame, sampleIds: Seq[String],
              metadata: Seq[(String, String)]): IndexedSeq[Row] = {
    val welch = tested(genes, resolveGroups(sampleIds, metadata))
    val rows = welch.limit(MaxDriverRows + 1).collect()
    if (rows.length > MaxDriverRows)
      throw new IllegalArgumentException(s"differential analysis: " +
        s"${welch.count()} gene rows exceed the $MaxDriverRows rows " +
        "adjusted on the driver")
    val sorted = rows.toIndexedSeq.sortWith((a, b) =>
      DriverOrder.strings(a.getString(0), b.getString(0)) < 0)
    val p = (r: Row) => if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
    val adjusted = Stats.bhAdjustRows(sorted.map(_.getString(0)), sorted.map(p))
    sorted.indices.map(i => Row(sorted(i).get(0), sorted(i).get(1),
      sorted(i).get(2), adjusted(i)))
  }

  /** The columns of [[run]] and [[runRows]]. */
  val ResultSchema: StructType = StructType(
    StructField("gene", StringType) +: Seq("log2FC", "pvalue", "adjusted_pvalue")
      .map(StructField(_, DoubleType)))

  /** Welch per gene row: (gene, log2FC, pvalue). */
  private def tested(genes: DataFrame,
                     groups: Seq[(String, String)]): DataFrame = {
    val arm = groups.toMap
    val ids = ProbeRows.sampleIds(genes)
    Stats.welchTTestRows(genes, "gene", "value",
        ids.map(arm.get(_).contains("case")).toArray,
        ids.map(arm.get(_).contains("control")).toArray)
      .select(col("gene"), col("log2fc").as("log2FC"), col("pvalue"))
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
    * not null. The pipeline applies it to a local frame of [[runRows]]
    * (evaluated on the driver); the benchmark's traced pipeline applies it
    * to [[run]]'s frame. */
  def significant(results: DataFrame): DataFrame =
    results.filter(isSignificant(col("adjusted_pvalue"), col("log2FC")))
}
