package graft.enrich

import graft.SparkSuite

class TargetValidationSpec extends SparkSuite {

  private def openTargets() = {
    import spark.implicits._
    // Seeded from the committed reference run (FIXTURES.md §3):
    // CACNA1F 324 drugs / avg 0.577, IL12A 0 drugs / 0.251, and an
    // empty-rows gene exercising the avg->0 branch.
    val json = Seq(
      """{"ensembl_id":"ENSG1","approvedSymbol":"CACNA1F","biotype":"protein_coding",
         "knownDrugs":{"count":324,"rows":[{"drug":{"id":"D1","name":"drugA"}}]},
         "associatedDiseases":{"count":2,"rows":[
           {"disease":{"id":"X1","name":"d1"},"score":0.6},
           {"disease":{"id":"X2","name":"d2"},"score":0.554}]}}""",
      """{"ensembl_id":"ENSG2","approvedSymbol":"IL12A","biotype":"protein_coding",
         "knownDrugs":{"count":0,"rows":[]},
         "associatedDiseases":{"count":1,"rows":[
           {"disease":{"id":"X3","name":"d3"},"score":0.251}]}}""",
      """{"ensembl_id":"ENSG3","approvedSymbol":"EMPTY1","biotype":"protein_coding",
         "knownDrugs":{"count":5,"rows":[]},
         "associatedDiseases":{"count":0,"rows":[]}}"""
    ).map(_.replaceAll("\n\\s*", "")).toDS()
    spark.read.schema(TargetValidation.openTargetsSchema).json(json)
  }

  test("validate: joins, A13 avg score, A16 drugability, miss zero-fill, sort") {
    import spark.implicits._
    val scores = Seq(
      ("CACNA1F", 0.9), ("IL12A", 0.8), ("EMPTY1", 0.7),
      ("NOHIT", 0.6),                    // no ensembl row -> zero-filled
      ("1234_at", 0.95),                 // invalid symbol (F6) -> filtered
      ("UNKNOWN_X", 0.94))               // invalid prefix -> filtered
      .toDF("gene", "composite_score")
    val ensembl = Seq(("CACNA1F", "ENSG1"), ("IL12A", "ENSG2"),
      ("EMPTY1", "ENSG3")).toDF("symbol", "ensembl_id")

    val out = TargetValidation.validate(scores, ensembl, openTargets())
    assert(out.columns.toSeq == Seq("gene", "composite_score",
      "num_known_drugs", "avg_association_score", "drugability_score"))
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    assert(rows("CACNA1F") == ((324L, 0.577, 194.631)))   // 0.6*324+0.4*0.577
    assert(rows("IL12A") == ((0L, 0.251, 0.1)))           // 0.4*0.251 rounded
    assert(rows("EMPTY1") == ((5L, 0.0, 3.0)))            // empty rows -> avg 0
    assert(rows("NOHIT") == ((0L, 0.0, 0.0)))             // left-join miss
    assert(!rows.contains("1234_at") && !rows.contains("UNKNOWN_X"))

    // sorted by drugability desc
    val order = out.collect().map(_.getString(0)).toSeq
    assert(order == Seq("CACNA1F", "EMPTY1", "IL12A", "NOHIT"))
  }

  test("validateRows gives validate's rows: two Ensembl ids, a fanned-out " +
    "id, null scores, no knownDrugs, rounding, invalid symbols, misses") {
    val dir = java.nio.file.Files.createTempDirectory("graft-validate")
    val ens = dir.resolve("ensembl.csv")
    java.nio.file.Files.writeString(ens, "symbol,ensembl_id\n" +
      "CACNA1F,ENSG1\nMULTI,ENSG9\nMULTI,ENSG5\nIL12A,ENSG2\nEMPTY1,ENSG3\n" +
      "ROUNDER,ENSG4\nNODIS,ENSG6\nNOHIT2,ENSG7\n1234_at,ENSG1\n")
    val ot = dir.resolve("opentargets.json")
    def target(id: String, drugs: Option[Int], scores: Option[Seq[String]]) =
      s"""{"ensembl_id":"$id"""" +
        drugs.fold("")(n => s""","knownDrugs":{"count":$n,"rows":[]}""") +
        scores.fold("")(ss => ""","associatedDiseases":{"count":1,"rows":[""" +
          ss.map(x => s"""{"disease":{"id":"X","name":"x"},"score":$x}""")
            .mkString(",") + "]}") + "}"
    java.nio.file.Files.writeString(ot, Seq(
      target("ENSG1", Some(324), Some(Seq("0.6", "0.554"))),
      target("ENSG5", Some(3), Some(Seq("0.5"))),              // MULTI, row 1
      target("ENSG5", Some(1), Some(Seq("null", "0.25", "0.3"))), // MULTI, row 2
      target("ENSG9", Some(99), Some(Seq("0.9"))),             // not the min id
      target("ENSG2", None, Some(Seq("0.251"))),               // no knownDrugs
      target("ENSG3", Some(5), Some(Seq.empty)),
      target("ENSG4", Some(2), Some(Seq("0.2225", "0.2225", "0.2225"))),
      target("ENSG6", Some(2), None)                           // no diseases
    ).mkString("\n") + "\n")
    val scores = Seq("CACNA1F" -> 0.9, "1234_at" -> 0.95, "UNKNOWN_X" -> 0.94,
      "TOOLONGSYMBOLNAMEXXXX" -> 0.93, "123" -> 0.92, "MULTI" -> 0.8,
      "IL12A" -> 0.7, "EMPTY1" -> 0.6, "ROUNDER" -> 0.5, "NODIS" -> 0.5,
      "NOHIT" -> 0.4, "NOHIT2" -> 0.4)
    val ensembl = TargetValidation.loadEnsemblSnapshot(spark, ens.toString)
    val openTargets = TargetValidation.loadOpenTargetsSnapshot(spark, ot.toString)
    import spark.implicits._
    for (topN <- Seq(20, 5, 0)) {
      val want = TargetValidation.validate(scores.toDF("gene", "composite_score"),
        ensembl, openTargets, topN).collect().toSeq
      val got = TargetValidation.validateRows(scores, ensembl, openTargets, topN)
      assert(got.map(_.getString(0)) == want.map(_.getString(0)), s"topN $topN: rows")
      for ((g, w) <- got.zip(want)) {
        assert(g.getDouble(1) == w.getDouble(1) && g.getLong(2) == w.getLong(2) &&
          g.getDouble(3) == w.getDouble(3) && g.getDouble(4) == w.getDouble(4),
          s"topN $topN: $g vs $w")
      }
      if (topN == 20) {
        // MULTI's min id ENSG5 has two rows: 2.0 and 0.71
        assert(got.map(_.getString(0)) == Seq("CACNA1F", "EMPTY1", "MULTI",
          "ROUNDER", "NODIS", "MULTI", "IL12A", "NOHIT", "NOHIT2"))
      }
      if (topN == 5) assert(got.map(_.getString(0)).toSet ==
        Set("CACNA1F", "MULTI", "IL12A", "EMPTY1", "NODIS"))
    }
  }

  test("is_valid_symbol matches the reference predicate on edge cases") {
    import spark.implicits._
    import graft.functions.gfunctions.is_valid_symbol
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      "DDR1" -> true, "A" -> true, "gene-1.2" -> true,
      "1234_at" -> false,           // probe id
      "UNKNOWN_X" -> false,         // unknown prefix
      "123" -> false,               // no letter
      "TOOLONGSYMBOLNAMEXXXX" -> false, // 21 chars
      "BAD SYMBOL" -> false,        // space
      "with_underscore" -> false    // '_at' not present but '_' invalid char
    )
    val got = cases.map(_._1).toDF("s")
      .select(col("s"), is_valid_symbol(col("s")).as("v"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (s, expected) =>
      assert(got(s) == expected, s"symbol $s")
    }
  }
}
