package graft.mapping

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.ProbeRows
import graft.util.Quantiles

/** Probe -> gene-symbol mapping (S4/S5, J1, F3, A5).
  *
  * The reference's Python->R->CSV round trip (`pipeline2.py:53-137`,
  * `generate_probe_mappings_csv.r`) collapses to: load the mapping table,
  * broadcast-hash-join it into the per-probe expression rows (inner join
  * == left-outer-with-UNKNOWN_-default + anti-filter,
  * `pipeline2.py:515-520`), and collapse probes to one row per gene with
  * an element-wise median (`pipeline2.py:523-528`). The mapping is
  * dimension-sized (54k rows at reference scale) — always the broadcast
  * side.
  */
object ProbeMapping {

  /** S5: read a PROBEID,SYMBOL csv; drop blank/NA symbols
    * (`generate_probe_mappings_csv.r:129`, `pipeline2.py:107-108`).
    * Duplicate PROBEIDs keep the last occurrence — dict-insertion semantics
    * of the reference's csv loader (`pipeline2.py:98-119`).
    *
    * "Last" is pinned to the explicit order key (file name asc, line
    * number within file): each file is read whole (`wholetext`) and line
    * numbers assigned with posexplode, because a plain csv read would
    * inherit Spark's size-bin-packed split order — listing- and
    * split-dependent, so "last occurrence" across multiple files (or even
    * across splits of one large file) would be nondeterministic. The
    * mapping is dimension-sized by construction (54k rows at reference
    * scale — always the broadcast side), so one row per file is bounded.
    * Column layout is the reference's fixed PROBEID,SYMBOL; line 0 of
    * each file is its header. */
  def loadMappingCsv(spark: SparkSession, path: String): DataFrame = {
    val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "PROBEID STRING, SYMBOL STRING")
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("__file"),
        posexplode(split(col("value"), "\r?\n")).as(Seq("__line_no", "__line")))
      .filter(col("__line_no") > 0 && trim(col("__line")) =!= "")
      .select(col("__file"), col("__line_no"),
        from_csv(col("__line"), rowSchema, Map.empty[String, String]).as("r"))
      .select(col("__file"), col("__line_no"),
        col("r.PROBEID").as("probe_id"), col("r.SYMBOL").as("symbol"))
      .filter(col("symbol").isNotNull && col("symbol") =!= "" &&
        col("symbol") =!= "NA")
      .groupBy("probe_id")
      .agg(max_by(col("symbol"),
        struct(col("__file"), col("__line_no"))).as("symbol"))
  }

  /** J1 + F3 + A5: inner broadcast join of the mapping into the probe rows
    * ([[ProbeRows]] layout), one group per gene, and the element-wise
    * median over the gene's probes ([[Quantiles.median]]: the `median`
    * aggregate's arithmetic, nulls ignored, null when no probe has a
    * value).
    *
    * Output: gene rows, `(gene, value ARRAY<DOUBLE>)` with the values in
    * the input's sample order and the sample ids in the `value` field's
    * metadata ([[ProbeRows.GeneSchema]]), one row per gene. A median does
    * not depend on the order its probes arrive in, so each gene's vector is
    * the same under any partitioning; the row order is not fixed, and every
    * consumer orders by gene where its output needs an order. */
  def collapseToGenes(expr: DataFrame, mapping: DataFrame): DataFrame = {
    val sampleIds = ProbeRows.sampleIds(expr)
    val n = sampleIds.length
    expr
      .join(broadcast(mapping.select("probe_id", "symbol")), Seq("probe_id"))
      .groupBy(col("symbol").as("gene"))
      .agg(collect_list(col("value")).as("probes"))
      .map { r =>
        val probes = r.getSeq[scala.collection.Seq[java.lang.Double]](1)
        Row(r.getString(0),
          Array.tabulate(n)(i => Quantiles.median(probes.map(_(i)).toArray)))
      }(Encoders.row(ProbeRows.GeneSchema))
      .select(col("gene"), ProbeRows.value(col("value"), sampleIds))
  }
}
