package graft.pipeline

import java.nio.file.Files

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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

  /** Every file a run wrote, by path under the output directory, a CSV
    * part under its table's name (part file names carry a random id). */
  private def outputs(outDir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(outDir)
    val files = Files.walk(root).iterator()
    val all = scala.collection.mutable.Map.empty[String, Seq[Byte]]
    while (files.hasNext) {
      val f = files.next()
      val name = f.getFileName.toString
      if (Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_")) {
        val rel = root.relativize(f).toString
        val key = if (name.startsWith("part-")) root.relativize(f.getParent).toString else rel
        assert(!all.contains(key), s"two parts in $key")
        all(key) = Files.readAllBytes(f).toSeq
      }
    }
    all.toMap
  }

  test("medium fixture: every output byte-identical at 1, 4 and 200 " +
    "shuffle partitions and with 64-byte file splits") {
    def runWith(kv: (String, String)): Map[String, Seq[Byte]] = {
      val old = spark.conf.getOption(kv._1)
      spark.conf.set(kv._1, kv._2)
      try {
        val out = Files.createTempDirectory("graft-pipe-inv").toString
        val result = new DrugTargetPipeline(spark, mediumConfig(out)).run()
        assert(result.failures.isEmpty, s"$kv: ${result.failures}")
        outputs(out)
      } finally old match {
        case Some(v) => spark.conf.set(kv._1, v)
        case None => spark.conf.unset(kv._1)
      }
    }
    val base = runWith("spark.sql.shuffle.partitions" -> "4")
    assert(base.keySet.count(_.startsWith("data/")) == 12 &&
      base.keySet.count(_.startsWith("figures/")) == 3 &&
      base.contains("summary.txt"), base.keySet)
    for (kv <- Seq("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.shuffle.partitions" -> "200",
        "spark.sql.files.maxPartitionBytes" -> "64")) {
      val got = runWith(kv)
      assert(got.keySet == base.keySet, kv)
      val differ = base.keySet.filter(k => got(k) != base(k))
      assert(differ.isEmpty, s"$kv: outputs differ: ${differ.toSeq.sorted}")
    }
  }

  // every stage is pinned: after the probe collapse only the writes, the
  // Welch and top-vector collects, the snapshot reads and the probe count
  test("medium fixture: Spark jobs per stage, keyed on the stage local " +
    "property (the network half runs only its writes and collects)") {
    val jobs = scala.collection.mutable.Map.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty(DrugTargetPipeline.StageProperty)))
          .foreach(s => jobs.synchronized(jobs(s) = jobs.getOrElse(s, 0) + 1))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = Files.createTempDirectory("graft-pipe-jobs").toString
      val result = new DrugTargetPipeline(spark, mediumConfig(out)).run()
      assert(result.failures.isEmpty, result.failures)
      ListenerBusAccess.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(sc.getLocalProperty(DrugTargetPipeline.StageProperty) == null)
    val stages = Seq("metadata_sink", "preprocess_and_map",
      "differential_analysis", "figure_volcano", "significant_genes",
      "construct_network", "analyze_network", "figure_network",
      "figure_barplot", "validate_targets", "summary_report")
    assert(stages.map(s => s -> jobs.synchronized(jobs.getOrElse(s, 0))) == Seq(
      "metadata_sink" -> 1, "preprocess_and_map" -> 10,
      "differential_analysis" -> 3, "figure_volcano" -> 1,
      "significant_genes" -> 1, "construct_network" -> 3,
      "analyze_network" -> 1, "figure_network" -> 2, "figure_barplot" -> 1,
      "validate_targets" -> 5, "summary_report" -> 3))
    assert(jobs.keySet.diff(stages.toSet).isEmpty, jobs)
  }

  test("a network larger than the collected-vector cap fails at config time") {
    val cap = graft.net.CoExpressionNetwork.MaxDriverGenes
    assert(mediumConfig("unused").copy(nTopGenes = cap).nTopGenes == cap)
    val e = intercept[IllegalArgumentException](
      mediumConfig("unused").copy(nTopGenes = cap + 1))
    assert(e.getMessage.contains(s"nTopGenes ${cap + 1}: at most $cap"))
  }

  test("degenerate: no significant genes -> variance fallback, pipeline completes") {
    val out = Files.createTempDirectory("graft-pipe2").toString
    // no significant gene, so the network takes the top genes by variance;
    // G1 and G2 are constant: zero variance, null correlation with every
    // gene (empty cells), no edge. G3 and G4 move together: one edge.
    val tmp = Files.createTempDirectory("graft-fix")
    val matrix = tmp.resolve("flat.txt")
    val values = Seq("1.0\t1.0\t1.0\t1.0", "2.0\t2.0\t2.0\t2.0",
      "1.0\t2.0\t1.0\t2.0", "1.0\t2.0\t1.0\t2.0")
    val rows = values.zipWithIndex.map { case (v, i) => s""""p${i + 1}_x"\t$v""" }
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
    val summary = Files.readString(java.nio.file.Paths.get(s"$out/summary.txt"))
    assert(summary.linesIterator.map(_.trim).filter(_.startsWith("Edges:")).toSeq ==
      Seq("Edges: 1"))
    assert(summary.contains("Significant genes: 0"))
    // header in variance order (G3, G4 vary; G1, G2 constant, by name);
    // rows by gene; the constant genes' off-diagonal cells are empty
    assert(sinkCsv(out, "correlation_matrix") ==
      """g1,G3,G4,G1,G2
        |G1,,,1.0,
        |G2,,,,1.0
        |G3,1.0,1.0,,
        |G4,1.0,1.0,,
        |""".stripMargin)
  }
}

object DrugTargetPipelineSpec {

  /** The tables byte-compared against src/test/resources/golden. */
  val goldenTables: Seq[String] = Seq("metadata", "gene_mapped",
    "differential_results", "correlation_matrix", "significant_genes",
    "network_targets", "final_targets", "volcano_data", "network_viz_nodes",
    "network_viz_edges", "top_targets_barplot")
}
