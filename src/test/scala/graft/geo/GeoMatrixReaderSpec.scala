package graft.geo

import graft.SparkSuite

class GeoMatrixReaderSpec extends SparkSuite {

  lazy val geo: GeoData = GeoMatrixReader.read(spark, resource("tiny_geo_matrix.txt"))

  test("sample header parsed in order, quotes stripped") {
    assert(geo.sampleIds == Seq("GSM1", "GSM2", "GSM3", "GSM4"))
  }

  test("data rows: probe-id prefix/quote cleanup, bad-value row dropped, nan kept as null") {
    val rows = LongForm.expand(geo.expression).collect()
    val probes = rows.map(_.getString(0)).distinct.sorted
    // 117_at row has an unparseable token ("bad") -> whole row dropped
    // (pipeline2.py:464-468); 121_at has "nan" -> parsed, null value.
    assert(probes.toSeq == Seq("1007_s_at", "1053_at", "121_at"))
    assert(rows.length == 12)
    val g1 = rows.filter(r => r.getString(0) == "1007_s_at" && r.getString(1) == "GSM1")
    assert(g1.length == 1 && g1.head.getDouble(2) == 8.1)
    val nanRow = rows.filter(r => r.getString(0) == "121_at" && r.getString(1) == "GSM2")
    assert(nanRow.length == 1 && nanRow.head.isNullAt(2))
  }

  test("expression: one row per probe, values in sample order, ids in the value metadata") {
    val e = geo.expression
    def shape(t: org.apache.spark.sql.types.StructType) =
      t.map(f => (f.name, f.dataType, f.nullable))
    assert(shape(e.schema) == shape(ProbeRows.Schema))
    assert(ProbeRows.sampleIds(e) == geo.sampleIds)
    val ddr1 = e.filter("probe_id = '1007_s_at'").collect()
    assert(ddr1.length == 1)
    assert(ddr1.head.getSeq[java.lang.Double](1).map(_.doubleValue) ==
      Seq(8.1, 8.3, 5.1, 5.0))
  }

  test("metadata: titles, tissue-keyword conditions, characteristics map") {
    val meta = geo.metadata.orderBy("ordinal").collect()
    assert(meta.map(_.getString(0)).toSeq == Seq("GSM1", "GSM2", "GSM3", "GSM4"))
    assert(meta.map(_.getString(3)).toSeq == Seq("case", "case", "control", "control"))
    assert(meta.head.getString(2) == "tumor A")
    val chars = meta.head.getMap[String, String](4)
    assert(chars("tissue") == "prostate cancer")
  }

  test("half/half fallback when keyword grouping finds < 2 per group") {
    val lines = Seq(
      "!Sample_geo_accession\t\"S1\"\t\"S2\"\t\"S3\"\t\"S4\"\t\"S5\"",
      "!Sample_title\t\"a\"\t\"b\"\t\"c\"\t\"d\"\t\"e\"")
    val meta = GeoMatrixReader.buildMetadata(spark, lines).orderBy("ordinal").collect()
    // midpoint = 5/2 = 2 -> first 2 control, last 3 case (pipeline2.py:301-309)
    assert(meta.map(_.getString(3)).toSeq ==
      Seq("control", "control", "case", "case", "case"))
  }

  test("title-fallback grouping when tissue characteristic is absent") {
    val lines = Seq(
      "!Sample_geo_accession\t\"S1\"\t\"S2\"\t\"S3\"\t\"S4\"",
      "!Sample_title\t\"tumor 1\"\t\"tumor 2\"\t\"benign 1\"\t\"benign 2\"")
    val meta = GeoMatrixReader.buildMetadata(spark, lines).orderBy("ordinal").collect()
    assert(meta.map(_.getString(3)).toSeq == Seq("case", "case", "control", "control"))
  }
}
