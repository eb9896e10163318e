package graft.de

import graft.SparkSuite
import graft.geo.GeoMatrixReader
import graft.mapping.ProbeMapping
import graft.prep.Preprocess

class DifferentialExpressionSpec extends SparkSuite {

  test("e2e: fixture -> preprocess -> mapping -> DE has reference schema + invariants") {
    val geo = GeoMatrixReader.read(spark, resource("tiny_geo_matrix.txt"))
    val prepped = Preprocess.run(geo.expression, geo.sampleIds.length)
    val mapping = ProbeMapping.loadMappingCsv(spark, resource("tiny_probe_mapping.csv"))
    val genes = ProbeMapping.collapseToGenes(prepped, mapping)
    val res = DifferentialExpression.run(spark, genes, geo.sampleIds, geo.metadata)

    assert(res.columns.toSeq == Seq("gene", "log2FC", "pvalue", "adjusted_pvalue"))
    val rows = res.collect()
    // 3 surviving probes (117_at row dropped at parse) all map -> 3 genes
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("DDR1", "PAX8", "RFC2"))
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val p = r.getDouble(2)
        assert(p >= 0.0 && p <= 1.0)
      }
      if (!r.isNullAt(3)) {
        val adj = r.getDouble(3)
        assert(adj >= 0.0 && adj <= 1.0)
        if (!r.isNullAt(2)) assert(adj >= r.getDouble(2) - 1e-12)
      }
    }
    // DDR1 (8.1, 8.3 vs 5.1, 5.0) is strongly case-up: log2FC > 1
    val ddr1 = rows.find(_.getString(0) == "DDR1").get
    assert(ddr1.getDouble(1) > 1.0)
  }

  test("resolveGroups: id match, then half/half fallback") {
    import spark.implicits._
    val meta = Seq(("GSM1", "case"), ("GSM2", "case"),
      ("GSM3", "control"), ("GSM4", "control")).toDF("sample_id", "condition")
    val ok = DifferentialExpression.resolveGroups(
      Seq("GSM1", "GSM2", "GSM3", "GSM4"), meta)
    assert(ok.toMap == Map("GSM1" -> "case", "GSM2" -> "case",
      "GSM3" -> "control", "GSM4" -> "control"))

    // quoted expression ids still match (J2 normalization)
    val quoted = DifferentialExpression.resolveGroups(
      Seq("\"GSM1\"", "\"GSM2\"", "\"GSM3\"", "\"GSM4\""), meta)
    assert(quoted.map(_._2) == Seq("case", "case", "control", "control"))

    // quoted METADATA ids match too (both sides normalize; previously the
    // map keys kept their quotes and nothing matched -> silent fallback)
    val metaQ = Seq(("\"GSM1\"", "case"), ("\"GSM2\"", "case"),
      ("\"GSM3\"", "control"), ("\"GSM4\"", "control"))
      .toDF("sample_id", "condition")
    val bothQ = DifferentialExpression.resolveGroups(
      Seq("GSM1", "\"GSM2\"", "GSM3", "GSM4"), metaQ)
    assert(bothQ.map(_._2) == Seq("case", "case", "control", "control"))

    // only 1 control matched -> arbitrary halves over ALL samples in order
    val meta2 = Seq(("GSM1", "case"), ("GSM2", "case"), ("GSM3", "control"))
      .toDF("sample_id", "condition")
    val fb = DifferentialExpression.resolveGroups(
      Seq("GSM1", "GSM2", "GSM3", "GSM4"), meta2)
    assert(fb == Seq("GSM1" -> "control", "GSM2" -> "control",
      "GSM3" -> "case", "GSM4" -> "case"))
  }

  test("resolveGroups: positional fallback on count-matched, id-mismatched input") {
    import spark.implicits._
    // Zero ids match but counts agree -> i-th sample takes the i-th
    // metadata condition (`pipeline2.py:392-401`), NOT the half/half split
    // (which would put SAMP_A/SAMP_B in control).
    val meta = Seq(("GSMX1", "case", 0), ("GSMX2", "control", 1),
      ("GSMX3", "case", 2), ("GSMX4", "control", 3))
      .toDF("sample_id", "condition", "ordinal")
    val got = DifferentialExpression.resolveGroups(
      Seq("SAMP_A", "SAMP_B", "SAMP_C", "SAMP_D"), meta)
    assert(got == Seq("SAMP_A" -> "case", "SAMP_B" -> "control",
      "SAMP_C" -> "case", "SAMP_D" -> "control"))

    // metadata order follows ordinal, not incoming row order
    val shuffled = meta.orderBy($"sample_id".desc)
    val got2 = DifferentialExpression.resolveGroups(
      Seq("SAMP_A", "SAMP_B", "SAMP_C", "SAMP_D"), shuffled)
    assert(got2 == got)

    // count mismatch -> straight to half/half
    val got3 = DifferentialExpression.resolveGroups(
      Seq("SAMP_A", "SAMP_B", "SAMP_C", "SAMP_D", "SAMP_E"), meta)
    assert(got3.map(_._2) == Seq("control", "control", "case", "case", "case"))
  }
}
