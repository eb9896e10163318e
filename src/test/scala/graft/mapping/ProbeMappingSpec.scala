package graft.mapping

import graft.SparkSuite
import graft.geo.{LongForm, ProbeRows}

class ProbeMappingSpec extends SparkSuite {

  test("golden mapping csv loads; blank symbols dropped; last duplicate wins") {
    val m = ProbeMapping.loadMappingCsv(spark, resource("tiny_probe_mapping.csv"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("1007_s_at" -> "DDR1", "1053_at" -> "RFC2",
      "117_at" -> "HSPA6", "121_at" -> "PAX8", "1255_g_at" -> "GUCA1A",
      "1294_at" -> "UBA7", "1316_at" -> "THRA"))
  }

  test("collapseToGenes: inner join drops unmapped; per-gene median over probes") {
    import spark.implicits._
    val expr = LongForm.pack(spark, Seq("s2", "s1", "s3"), Seq(
      ("p1", "s1", Some(1.0)), ("p1", "s2", Some(2.0)), ("p1", "s3", None),
      ("p2", "s1", Some(3.0)), ("p2", "s2", Some(4.0)), ("p2", "s3", None),
      ("p3", "s1", Some(9.0)), ("p3", "s2", Some(9.0)),   // unmapped -> dropped (F3)
      ("p4", "s1", Some(5.0)), ("p4", "s2", Some(6.0)), ("p4", "s3", Some(7.0))))
    val mapping = Seq(("p1", "G1"), ("p2", "G1"), ("p4", "G2"))
      .toDF("probe_id", "symbol")
    val genes = ProbeMapping.collapseToGenes(expr, mapping)
    assert(genes.columns.toSeq == Seq("gene", "value"))
    assert(ProbeRows.sampleIds(genes) == Seq("s2", "s1", "s3"))
    val out = genes.collect().map(r =>
      r.getString(0) -> r.getSeq[java.lang.Double](1).map(Option(_))).toMap
    // median(2,4), median(1,3), no value at s3 -> null
    assert(out == Map(
      "G1" -> Seq(Some(3.0), Some(2.0), None),
      "G2" -> Seq(Some(6.0), Some(5.0), Some(7.0))))
    assert(LongForm.expand(genes.withColumnRenamed("gene", "probe_id"))
      .filter($"probe_id" === "G2").collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toSeq ==
      Seq("s2" -> 6.0, "s1" -> 5.0, "s3" -> 7.0))
  }

  test("collapseToGenes: a frame without the sample-id metadata is rejected") {
    import spark.implicits._
    val long = Seq(("p1", "s1", 1.0)).toDF("probe_id", "sample_id", "value")
    val mapping = Seq(("p1", "G1")).toDF("probe_id", "symbol")
    val e = intercept[IllegalArgumentException](
      ProbeMapping.collapseToGenes(long, mapping))
    assert(e.getMessage.startsWith("expression frame carries no sample ids"))
    assert(e.getMessage.contains("'sample_ids' metadata"))
  }

  test("duplicate PROBEID keeps last csv occurrence (dict semantics)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-map").toFile
    val f = new java.io.File(tmp, "dup.csv")
    java.nio.file.Files.writeString(f.toPath,
      "PROBEID,SYMBOL\np1,OLD\np1,NEW\np2,KEEP\np3,\n")
    val m = ProbeMapping.loadMappingCsv(spark, f.getPath)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("p1" -> "NEW", "p2" -> "KEEP"))   // p3 blank dropped
  }

  test("multi-file mapping dir: last occurrence keyed by (file, line), not listing order") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-map2")
    // written in REVERSE name order so any listing-order dependence that
    // happens to follow creation order would flip the winner
    java.nio.file.Files.writeString(tmp.resolve("b_second.csv"),
      "PROBEID,SYMBOL\npX,FROM_B\npB,ONLY_B\n")
    java.nio.file.Files.writeString(tmp.resolve("a_first.csv"),
      "PROBEID,SYMBOL\npX,FROM_A\npA,ONLY_A\n")
    val m = ProbeMapping.loadMappingCsv(spark, tmp.toString)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("pX" -> "FROM_B", "pA" -> "ONLY_A", "pB" -> "ONLY_B"))
  }
}
