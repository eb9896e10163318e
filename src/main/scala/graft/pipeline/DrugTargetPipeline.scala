package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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

/** `construct_network`'s graph: the top-N gene names, in the order the
  * network indexes them, and the edges (g1, g2, |corr|) in (g1, g2)
  * order. */
private final case class Network(nodes: IndexedSeq[String],
                                 edges: Seq[(String, String, Double)])

/** The nine-stage DAG (E1, `pipeline2.py:1148-1230`) as lazy Catalyst plans
  * materialized at each sink, with the reference's per-stage error isolation:
  * parse failure aborts, anything later degrades and the run continues.
  * Stages: `metadata_sink`, `preprocess_and_map`, `differential_analysis`,
  * `figure_volcano`, `significant_genes`, `construct_network`,
  * `analyze_network`, `figure_network`, `figure_barplot`, `validate_targets`
  * (with both snapshots), `summary_report`. Each stage runs with the Spark
  * local property [[DrugTargetPipeline.StageProperty]] set to its name, so
  * a listener can charge jobs to stages. A figure stage's CSV and PNG
  * come from one set of rows; the CSV is written first, so a rendering
  * failure leaves the table on disk.
  *
  * The probe collapse emits gene rows, `(gene, value ARRAY<DOUBLE>)` in
  * sample order ([[graft.geo.ProbeRows]] keyed by gene), persisted
  * (MEMORY_AND_DISK): they feed the gene matrix sink, differential analysis
  * AND network construction, so the scan/shuffle pipeline up to them runs
  * once. Every per-gene statistic (Welch moments, variance, correlation)
  * is computed over a whole vector in sample order, and every output is
  * ordered by an explicit key, so no output depends on the partition
  * count.
  *
  * From `significant_genes` on, every table is bounded by the gene count
  * or by top-N and is computed from rows the driver already holds: the
  * significant table is collected once (it gives the network's genes and
  * the summary's counts), the pairs, edges, centralities and composite
  * scores are computed on the driver ([[CoExpressionNetwork.pairwise]],
  * [[Centrality.networkScores]]), and the network, figure and summary
  * tables are cut from those rows. Spark jobs there are the CSV writes,
  * the significant-table collect, the top-vector collect (plus the
  * variance ranking when no gene is significant), the target validation
  * and the summary's counts over the matrix (distinct probes, genes,
  * sample arms).
  */
final class DrugTargetPipeline(spark: SparkSession, config: PipelineConfig) {

  private val failures = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
  private val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  private def stage[T](name: String)(body: => T): Option[T] = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.setLocalProperty(DrugTargetPipeline.StageProperty, name)
    val out =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failures += name -> e
          None
      } finally sc.setLocalProperty(DrugTargetPipeline.StageProperty, null)
    timings += name -> (System.nanoTime() - t0) / 1e9
    out
  }

  /** Writes a bounded table's rows, already on the driver, as its CSV. */
  private def writeRows(rows: Seq[Row], schema: StructType,
                        path: String): Seq[Row] = {
    Sinks.writeCsv(spark.createDataFrame(rows.asJava, schema), path)
    rows
  }

  /** Collects a gene- or top-N-bounded table, writes its CSV. */
  private def writeCollected(table: DataFrame, path: String): Seq[Row] =
    writeRows(table.collect().toSeq, table.schema, path)

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
    // the significant table, in gene order, collected once: it gives the
    // network's genes and the summary's counts
    val significant = differential.flatMap { d =>
      stage("significant_genes") {
        val sig = DifferentialExpression.significant(d)
        (sig, writeCollected(sig.orderBy("gene"), s"$out/data/significant_genes"))
      }
    }
    val sigRows = significant.map(_._2)

    // Stage 5: network construction. The network's genes are the first
    // nTopGenes significant rows (gene order; significant genes are gene
    // rows by construction), else the top genes by variance (A9).
    val network = genes.flatMap { g =>
      stage("construct_network") {
        val topSeq = sigRows.filter(_.nonEmpty) match {
          case Some(rows) => rows.take(config.nTopGenes).map(_.getAs[String]("gene"))
          case None => CoExpressionNetwork.topGenes(g, None, config.nTopGenes)
            .collect().map(_.getString(0)).toSeq
        }
        import spark.implicits._
        val corrs = CoExpressionNetwork.pairwise(g, topSeq.toDF("gene"))
        val edges = corrs.edges(config.corrThreshold)
        Sinks.writeCsv(Sinks.correlationMatrix(spark, corrs, topSeq),
          s"$out/data/correlation_matrix")
        Sinks.writeGexf(topSeq, edges, s"$out/data/gene_network.gexf")
        Network(topSeq.toIndexedSeq, edges)
      }
    }

    // Stage 6: centrality analysis on the driver (G7 guards: < 2 nodes ->
    // zero rows)
    val scores = network.flatMap { net =>
      stage("analyze_network") {
        val rows =
          if (net.nodes.size < 2)
            (if (net.nodes.isEmpty) Seq("PLACEHOLDER") else net.nodes)
              .map(Row(_, 0.0, 0.0, 0.0, 0.0))
          else Centrality.networkScores(net.nodes, net.edges)
        writeRows(rows, Centrality.ScoreSchema, s"$out/data/network_targets")
      }
    }
    val targetScores = scores.map(rows =>
      spark.createDataFrame(rows.asJava, Centrality.ScoreSchema))

    // Stage 6b: network + barplot figures (S10, pipeline2.py:1059-1114; G5
    // subgraph + F10 placeholder filter live inside the row builders), with
    // the reference's skip rules: network for >= 2 real nodes, bar plot for
    // any.
    (network, scores) match {
      case (Some(net), Some(rows)) =>
        stage("figure_network") {
          val (vizNodes, vizEdges) = Sinks.networkVizRows(rows, net.edges)
          writeRows(vizNodes, Sinks.VizNodeSchema, s"$out/data/network_viz_nodes")
          writeRows(vizEdges, Sinks.VizEdgeSchema, s"$out/data/network_viz_edges")
          if (vizNodes.size > 1)
            Figures.renderNetwork(
              vizNodes.map(r => (r.getString(0), r.getDouble(1))),
              vizEdges.map(r => (r.getString(0), r.getString(1), r.getDouble(2))),
              s"$out/figures/network_visualization.png")
        }
        stage("figure_barplot") {
          val tops = writeRows(Sinks.barplotRows(rows), Sinks.BarplotSchema,
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
      // count_if(log2FC > 0) / (log2FC < 0): Spark's double compare
      def sign(r: Row): Int = {
        val i = r.fieldIndex("log2FC")
        if (r.isNullAt(i)) 0 else SQLOrderingUtil.compareDoubles(r.getDouble(i), 0.0)
      }
      val (nSig, nUp, nDown) = sigRows.map { rows =>
        (rows.size.toLong, rows.count(sign(_) > 0).toLong,
          rows.count(sign(_) < 0).toLong)
      }.getOrElse((0L, 0L, 0L))
      val nNodes = network.map(_.nodes.size.toLong).getOrElse(0L)
      val nEdges = network.map(_.edges.size.toLong).getOrElse(0L)
      val topTargets = scores.map(_.take(10).map(r => (r.getString(0), r.getDouble(4))))
        .getOrElse(Seq.empty)
      Sinks.summaryReport(geo.sampleIds.length.toLong, arms.getLong(0), arms.getLong(1),
        nProbes, nGenes, nSig, nUp, nDown, nNodes, nEdges, topTargets,
        s"$out/summary.txt")
    }

    PipelineResult(differential, significant.map(_._1), targetScores,
      finalTargets, failures.toSeq, timings.toSeq)
  }
}

object DrugTargetPipeline {

  /** The Spark local property each stage's jobs carry: the stage name. */
  val StageProperty = "graft.stage"
}
