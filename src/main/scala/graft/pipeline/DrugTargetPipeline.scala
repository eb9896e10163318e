package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.de.DifferentialExpression
import graft.enrich.TargetValidation
import graft.geo.GeoMatrixReader
import graft.graph.Centrality
import graft.mapping.ProbeMapping
import graft.net.CoExpressionNetwork
import graft.prep.Preprocess
import graft.report.{Figures, Sinks}

/** Configuration for one pipeline run (mirrors the reference ctor +
  * hard-coded constants, `pipeline2.py:140-153,661,944`).
  *
  * @param nTopGenes the network's gene count, at most
  *   [[CoExpressionNetwork.MaxDriverGenes]] (2,000): their vectors are
  *   collected for the pairwise correlations. A larger value fails here,
  *   before any stage runs.
  */
final case class PipelineConfig(
    matrixPath: String,
    mappingCsvPath: String,
    outputDir: String,
    ensemblSnapshotPath: Option[String] = None,
    openTargetsSnapshotPath: Option[String] = None,
    nTopGenes: Int = 500,
    corrThreshold: Double = 0.7,
    topNValidation: Int = 20) {
  require(nTopGenes <= CoExpressionNetwork.MaxDriverGenes,
    s"nTopGenes $nTopGenes: at most ${CoExpressionNetwork.MaxDriverGenes} " +
      "(the network's gene vectors are collected for the correlations)")
}

final case class PipelineResult(
    differential: Option[DataFrame],
    significant: Option[DataFrame],
    targetScores: Option[DataFrame],
    finalTargets: Option[DataFrame],
    failures: Seq[(String, Throwable)],
    stageSeconds: Seq[(String, Double)] = Seq.empty)

/** `construct_network`'s persisted frames, with the names and edge count
  * it collected for the GEXF (reused by the later stages). */
private final case class Network(top: DataFrame, edges: DataFrame,
                                 nodes: Seq[String], nEdges: Long)

/** The nine-stage DAG (E1, `pipeline2.py:1148-1230`) as lazy Catalyst plans
  * materialized at each sink, with the reference's per-stage error isolation:
  * parse failure aborts, anything later degrades and the run continues.
  * Stages: `metadata_sink`, `preprocess_and_map`, `differential_analysis`,
  * `figure_volcano`, `significant_genes`, `construct_network`,
  * `analyze_network`, `figure_network`, `figure_barplot`, `validate_targets`
  * (with both snapshots), `summary_report`. A figure stage's CSV and PNG
  * come from one collect of its table; the CSV is written first, so a
  * rendering failure leaves the table on disk.
  *
  * The probe collapse emits gene rows, `(gene, value ARRAY<DOUBLE>)` in
  * sample order ([[graft.geo.ProbeRows]] keyed by gene), persisted
  * (MEMORY_AND_DISK): they feed the gene matrix sink, differential analysis
  * AND network construction, so the scan/shuffle pipeline up to them runs
  * once. Every per-gene statistic (Welch moments, variance, correlation)
  * is computed over a whole vector in sample order, and every output is
  * ordered by an explicit key, so no output depends on the partition
  * count.
  */
final class DrugTargetPipeline(spark: SparkSession, config: PipelineConfig) {

  private val failures = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
  private val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  private def stage[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failures += name -> e
          None
      }
    timings += name -> (System.nanoTime() - t0) / 1e9
    out
  }

  /** Collects a figure table (gene- or top-N-bounded), writes its CSV. */
  private def writeCollected(table: DataFrame, path: String): Seq[Row] = {
    val rows = table.collect().toSeq
    Sinks.writeCsv(spark.createDataFrame(rows.asJava, table.schema), path)
    rows
  }

  def run(): PipelineResult = {
    val out = config.outputDir

    // Stage 1: parse (hard abort on failure, py:1158-1159). The parsed
    // probe rows are persisted: preprocessing (its log2 scalar and its row
    // map) AND the summary's probe count read them — without the persist
    // the summary stage would re-scan and re-parse the raw matrix text.
    val geo = GeoMatrixReader.read(spark, config.matrixPath)
    geo.expression.persist(StorageLevel.MEMORY_AND_DISK)
    stage("metadata_sink") {
      Sinks.writeCsv(geo.metadata.drop("characteristics").orderBy("ordinal"),
        s"$out/data/metadata")
    }

    // Stages 2+3: preprocess + probe collapse into gene rows
    val genes = stage("preprocess_and_map") {
      val prepped = Preprocess.run(geo.expression, geo.sampleIds.length)
      val mapping = ProbeMapping.loadMappingCsv(spark, config.mappingCsvPath)
      val g = ProbeMapping.collapseToGenes(prepped, mapping)
        .persist(StorageLevel.MEMORY_AND_DISK)
      Sinks.writeCsv(
        Sinks.pivotWide(g, "gene", "sample_id", "value", geo.sampleIds),
        s"$out/data/gene_mapped")
      g
    }

    // Stage 4: differential expression
    val differential = genes.flatMap { g =>
      stage("differential_analysis") {
        val res = DifferentialExpression
          .run(spark, g, geo.sampleIds, geo.metadata)
          .persist(StorageLevel.MEMORY_AND_DISK)
        Sinks.writeCsv(res.orderBy("gene"), s"$out/data/differential_results")
        res
      }
    }
    // volcano figure (pipeline2.py:1029-1055): the gene-grain table the
    // reference hands matplotlib, rendered by the pure-JDK Figures renderer
    differential.foreach { res =>
      stage("figure_volcano") {
        val pts = writeCollected(Sinks.volcanoData(res).orderBy("gene"),
          s"$out/data/volcano_data")
          .filter(r => !r.isNullAt(1) && !r.isNullAt(2)).map { r =>
            (r.getDouble(1), r.getDouble(2),
              !r.isNullAt(3) && r.getBoolean(3))
          }
        Figures.renderVolcano(pts, pThreshold = 0.05, fcThreshold = 1.0,
          s"$out/figures/volcano_plot.png")
      }
    }
    val significant = differential.flatMap { d =>
      stage("significant_genes") {
        val sig = DifferentialExpression.significant(d)
        Sinks.writeCsv(sig.orderBy("gene"), s"$out/data/significant_genes")
        sig
      }
    }

    // Stage 5: network construction
    val network = genes.flatMap { g =>
      stage("construct_network") {
        val top = CoExpressionNetwork.topGenes(g, significant, config.nTopGenes)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val topSeq = top.collect().map(_.getString(0)).toSeq
        val corrs = CoExpressionNetwork.pairwise(g, top)
        val edges = CoExpressionNetwork.edges(corrs.frame(spark), config.corrThreshold)
          .persist(StorageLevel.MEMORY_AND_DISK)
        Sinks.writeCsv(Sinks.correlationMatrix(spark, corrs, topSeq),
          s"$out/data/correlation_matrix")
        val edgeSeq = edges.collect()
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
        Sinks.writeGexf(topSeq, edgeSeq, s"$out/data/gene_network.gexf")
        Network(top, edges, topSeq, edgeSeq.size.toLong)
      }
    }

    // Stage 6: centrality analysis (G7 guards: < 2 nodes -> zero frame)
    val targetScores = network.flatMap { net =>
      stage("analyze_network") {
        val scores =
          if (net.nodes.size < 2) {
            import spark.implicits._
            (if (net.nodes.isEmpty) Seq("PLACEHOLDER") else net.nodes)
              .map((_, 0.0, 0.0, 0.0, 0.0))
              .toDF("gene", "degree_centrality", "betweenness_centrality",
                "eigenvector_centrality", "composite_score")
          } else {
            val nodes = net.top.select("gene")
            val deg = Centrality.degreeCentrality(nodes, net.edges)
            val btw = Centrality.betweennessCentrality(spark, nodes, net.edges)
            val eig = Centrality.eigenvectorCentrality(spark, nodes, net.edges)
            Centrality.compositeScores(
              deg.join(btw, Seq("gene")).join(eig, Seq("gene")))
          }
        // persist BEFORE the sink write: the write materializes the cache,
        // so the figure-data and summary stages reuse the centralities
        // instead of recomputing Brandes + power iteration
        val persisted = scores.persist(StorageLevel.MEMORY_AND_DISK)
        Sinks.writeCsv(persisted, s"$out/data/network_targets")
        persisted
      }
    }

    // Stage 6b: network + barplot figures (S10, pipeline2.py:1059-1114; G5
    // subgraph + F10 placeholder filter live inside the builders), with the
    // reference's skip rules: network for >= 2 real nodes, bar plot for any.
    // Plans are built inside the stage, so schema drift degrades only it.
    (network, targetScores) match {
      case (Some(net), Some(ts)) =>
        stage("figure_network") {
          val (vizNodes, vizEdges) = Sinks.networkVizData(ts, net.edges)
          val nodes = writeCollected(
            vizNodes.orderBy(col("node_size").desc, col("gene")),
            s"$out/data/network_viz_nodes")
            .map(r => (r.getString(0), r.getDouble(1)))
          val es = writeCollected(vizEdges.orderBy("src", "dst"),
            s"$out/data/network_viz_edges")
            .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
          if (nodes.size > 1)
            Figures.renderNetwork(nodes, es,
              s"$out/figures/network_visualization.png")
        }
        stage("figure_barplot") {
          val tops = writeCollected(
            Sinks.barplotData(ts).orderBy(col("composite_score").desc, col("gene")),
            s"$out/data/top_targets_barplot")
            .map(r => (r.getString(0), r.getDouble(1)))
          if (tops.nonEmpty)
            Figures.renderBarplot(tops, s"$out/figures/top_targets.png")
        }
      case _ => ()
    }

    // Stage 7: target validation against offline snapshots (skipped, like a
    // failed API, when no snapshot is configured)
    val finalTargets = targetScores.flatMap { ts =>
      (config.ensemblSnapshotPath, config.openTargetsSnapshotPath) match {
        case (Some(ens), Some(ot)) =>
          stage("validate_targets") {
            val ft = TargetValidation.validate(ts,
              TargetValidation.loadEnsemblSnapshot(spark, ens),
              TargetValidation.loadOpenTargetsSnapshot(spark, ot),
              config.topNValidation)
            Sinks.writeCsv(ft, s"$out/data/final_targets")
            ft
          }
        case _ => None
      }
    }

    // Stage 8: summary report
    stage("summary_report") {
      val arms = geo.metadata.agg(count_if(col("condition") === "case"),
        count_if(col("condition") === "control")).head()
      val nProbes = geo.expression.select("probe_id").distinct().count()
      val nGenes = genes.map(_.count()).getOrElse(0L)
      val (nSig, nUp, nDown) = significant.map { s =>
        val r = s.agg(count(lit(1)), count_if(col("log2FC") > 0),
          count_if(col("log2FC") < 0)).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }.getOrElse((0L, 0L, 0L))
      val nNodes = network.map(_.nodes.size.toLong).getOrElse(0L)
      val nEdges = network.map(_.nEdges).getOrElse(0L)
      val topTargets = targetScores.map(
        _.orderBy(col("composite_score").desc, col("gene")).limit(10)
          .collect().map(r => (r.getString(0),
            r.getAs[Double]("composite_score"))).toSeq)
        .getOrElse(Seq.empty)
      Sinks.summaryReport(geo.sampleIds.length.toLong, arms.getLong(0), arms.getLong(1),
        nProbes, nGenes, nSig, nUp, nDown, nNodes, nEdges, topTargets,
        s"$out/summary.txt")
    }

    PipelineResult(differential, significant, targetScores, finalTargets,
      failures.toSeq, timings.toSeq)
  }
}
