package graft.pipeline

import java.nio.file.Files

import graft.SparkSuite

class DrugTargetPipelineSpec extends SparkSuite {

  /** The single CSV part a sink wrote (Sinks.writeCsv coalesces to 1). */
  private def sinkCsv(outDir: String, name: String): String = {
    val parts = Option(new java.io.File(s"$outDir/data/$name").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1, s"$name: expected one csv part")
    Files.readString(parts.head.toPath)
  }

  private def golden(name: String): String =
    Files.readString(java.nio.file.Paths.get(resource(s"golden/$name")))

  /** Full-file golden comparison for the decision-grade sinks — the
    * reference pins its own e2e run the same way (filecmp.cmp,
    * test_pipeline2.py). Byte equality, not count-grain: any drift in
    * a value, a column, ordering or float formatting fails here.
    * Goldens are (re)generated by [[GoldenGen]]. */
  private def assertGolden(outDir: String, prefix: String): Unit = {
    for (d <- DrugTargetPipelineSpec.goldenTables)
      assert(sinkCsv(outDir, d) == golden(s"$prefix$d.csv"),
        s"golden mismatch in $d")
    assert(
      Files.readString(java.nio.file.Paths.get(s"$outDir/summary.txt")) ==
        golden(s"${prefix}summary.txt"),
      "golden mismatch in summary.txt")
  }

  private def mediumConfig(out: String): PipelineConfig = PipelineConfig(
    matrixPath = resource("medium_geo_matrix.txt"),
    mappingCsvPath = resource("medium_probe_mapping.csv"),
    outputDir = out,
    ensemblSnapshotPath = Some(resource("tiny_ensembl_snapshot.csv")),
    openTargetsSnapshotPath = Some(resource("tiny_opentargets_snapshot.json")))

  test("full 9-stage run on the tiny fixture: all sinks written, no failures") {
    val out = Files.createTempDirectory("graft-pipe").toString
    val cfg = PipelineConfig(
      matrixPath = resource("tiny_geo_matrix.txt"),
      mappingCsvPath = resource("tiny_probe_mapping.csv"),
      outputDir = out,
      ensemblSnapshotPath = Some(resource("tiny_ensembl_snapshot.csv")),
      openTargetsSnapshotPath = Some(resource("tiny_opentargets_snapshot.json")))
    val result = new DrugTargetPipeline(spark, cfg).run()

    assert(result.failures.isEmpty,
      s"stage failures: ${result.failures.map { case (n, e) => s"$n: $e" }}")
    for (d <- Seq("metadata", "gene_mapped", "differential_results",
        "volcano_data", "significant_genes", "correlation_matrix",
        "network_targets", "final_targets", "network_viz_nodes",
        "network_viz_edges", "top_targets_barplot")) {
      assert(new java.io.File(s"$out/data/$d").exists(), s"missing sink $d")
    }
    assert(new java.io.File(s"$out/data/gene_network.gexf").exists())
    val summary = Files.readString(java.nio.file.Paths.get(s"$out/summary.txt"))
    assert(summary.contains("Samples: 4 (2 case / 2 control)"))
    assert(summary.contains("Significant genes: 1"))

    // final targets: DDR1 significant -> in network -> validated with
    // snapshot values 12 drugs, avg (0.7+0.3)/2 = 0.5 -> drugability 7.4
    val ft = result.finalTargets.get.collect()
      .map(r => r.getString(0) -> r.getAs[Double]("drugability_score")).toMap
    assert(ft.contains("DDR1") && approx(ft("DDR1"), 7.4))

    assertGolden(out, prefix = "")
  }

  test("medium fixture: full-CSV golden parity (20 genes, K5 cluster " +
    "+ isolated noisy nodes, bridge centralities)") {
    val out = Files.createTempDirectory("graft-pipe-m").toString
    val result = new DrugTargetPipeline(spark, mediumConfig(out)).run()
    assert(result.failures.isEmpty,
      s"stage failures: ${result.failures.map { case (n, e) => s"$n: $e" }}")
    assertGolden(out, prefix = "medium_")
    assert(result.stageSeconds.map(_._1) == Seq("metadata_sink",
      "preprocess_and_map", "differential_analysis", "figure_volcano",
      "significant_genes", "construct_network", "analyze_network",
      "figure_network", "figure_barplot", "validate_targets",
      "summary_report"))

    // figures/ PNGs (G6 + pixel-grain S10): all three render on the
    // medium fixture (network has >= 2 nodes here) and decode back
    for (f <- Seq("volcano_plot.png", "network_visualization.png",
        "top_targets.png")) {
      val img = javax.imageio.ImageIO.read(
        new java.io.File(s"$out/figures/$f"))
      assert(img != null, s"figures/$f missing or undecodable")
      assert(img.getWidth >= 1000 && img.getHeight >= 800, s"$f size")
    }
  }

  test("figure stages degrade alone: a rendering failure leaves every " +
    "table, the GEXF and the summary written") {
    val out = Files.createTempDirectory("graft-pipe-fig").toString
    // a regular file where the figures directory goes: every PNG write fails
    Files.writeString(java.nio.file.Paths.get(s"$out/figures"), "")
    val result = new DrugTargetPipeline(spark, mediumConfig(out)).run()
    assert(result.failures.map(_._1) ==
      Seq("figure_volcano", "figure_network", "figure_barplot"))
    for (d <- Seq("metadata", "gene_mapped", "differential_results",
        "volcano_data", "significant_genes", "correlation_matrix",
        "network_targets", "network_viz_nodes", "network_viz_edges",
        "top_targets_barplot", "final_targets"))
      assert(sinkCsv(out, d).nonEmpty, s"empty table $d")
    for (f <- Seq("data/gene_network.gexf", "summary.txt"))
      assert(new java.io.File(s"$out/$f").isFile, s"missing $f")
    assertGolden(out, prefix = "medium_")
  }

  test("degenerate: no significant genes -> variance fallback, pipeline completes") {
    val out = Files.createTempDirectory("graft-pipe2").toString
    // all-flat expression: no significance, correlations null -> empty net
    val tmp = Files.createTempDirectory("graft-fix")
    val matrix = tmp.resolve("flat.txt")
    val rows = (1 to 4).map(i => s""""p${i}_x"\t1.0\t2.0\t1.0\t2.0""")
    Files.writeString(matrix,
      "!Sample_geo_accession\t\"S1\"\t\"S2\"\t\"S3\"\t\"S4\"\n" +
        "\"ID_REF\"\t\"S1\"\t\"S2\"\t\"S3\"\t\"S4\"\n" + rows.mkString("\n") + "\n")
    val mapping = tmp.resolve("map.csv")
    Files.writeString(mapping,
      "PROBEID,SYMBOL\n" + (1 to 4).map(i => s"p${i}_x,G$i").mkString("\n") + "\n")
    val cfg = PipelineConfig(matrix.toString, mapping.toString, out.toString)
    val result = new DrugTargetPipeline(spark, cfg).run()
    assert(result.failures.isEmpty,
      s"stage failures: ${result.failures.map { case (n, e) => s"$n: $e" }}")
    assert(result.targetScores.isDefined)
  }
}

object DrugTargetPipelineSpec {

  /** The tables byte-compared against src/test/resources/golden. */
  val goldenTables: Seq[String] = Seq("significant_genes", "network_targets",
    "final_targets", "volcano_data", "network_viz_nodes", "network_viz_edges",
    "top_targets_barplot")
}
