package graft.report

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Output sinks (S8–S11, `pipeline2.py` CSV/GEXF/summary writers).
  *
  * CSV sinks coalesce to one file to match the reference's single-file
  * contract — acceptable because every sink in this pipeline is
  * aggregate-sized (metadata, DE results, centralities); the raw fact data
  * never flows through a sink. Wide frames are built only here, at the
  * edge: the gene matrix is a select of the gene rows' elements, the
  * correlation matrix is filled from the computed pairs.
  */
object Sinks {

  /** Single-file header CSV (S8). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Wide matrix sink frame, rows ordered by `keyCol`, one column per
    * `colOrder` entry. Over gene rows (`value` carrying its sample ids,
    * [[graft.geo.ProbeRows]]) it is a select of the array elements by
    * sample id (`colCol` names nothing there). Over a long
    * (key, column, value) frame it is a `pivot` taking each cell's value. */
  def pivotWide(long: DataFrame, keyCol: String, colCol: String,
                valCol: String, colOrder: Seq[String]): DataFrame =
    graft.geo.ProbeRows.sampleIdsOf(long) match {
      case Some(ids) =>
        val at = ids.zipWithIndex.toMap
        long.select(col(keyCol) +: colOrder.map(c => col(valCol)(at(c)).as(c)): _*)
          .orderBy(col(keyCol))
      case None =>
        long.groupBy(col(keyCol))
          .pivot(colCol, colOrder)
          .agg(first(col(valCol)))
          .orderBy(col(keyCol))
    }

  /** The correlation-matrix sink (`pipeline2.py:705-706`): one row per
    * gene in Spark's string order, `g1` then one column per `columns`
    * gene, 1.0 on the diagonal, an empty cell where the correlation is
    * null. Cells are read from the pairs already computed, no pivot. The
    * frame is a local relation of at most top-N rows, written once and
    * read by no later plan. */
  def correlationMatrix(spark: SparkSession, corrs: graft.net.CoExpressionNetwork.Correlations,
                        columns: Seq[String]): DataFrame = {
    val idx = corrs.genes.zipWithIndex.toMap
    val cols = columns.map(idx.get)
    val rows = corrs.genes.indices.map { i =>
      Row.fromSeq(corrs.genes(i) +: cols.map(_.map(corrs(i, _)).orNull))
    }
    spark.createDataFrame(rows.asJava,
      StructType(StructField("g1", StringType, nullable = false) +:
        columns.map(StructField(_, DoubleType, nullable = true))))
  }

  /** S9: GEXF sink, same shape as nx.write_gexf for an undirected weighted
    * graph. Driver-side string render — the network is dimension-bounded
    * (top-N genes) by construction. */
  def writeGexf(nodes: Seq[String], edges: Seq[(String, String, Double)],
                path: String): Unit = {
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    val idOf = nodes.zipWithIndex.toMap
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0" encoding="utf-8"?>"""
    sb ++= "\n<gexf xmlns=\"http://www.gexf.net/1.2draft\" version=\"1.2\">\n"
    sb ++= "  <graph defaultedgetype=\"undirected\" mode=\"static\">\n"
    sb ++= "    <nodes>\n"
    nodes.foreach { n =>
      sb ++= s"""      <node id="${idOf(n)}" label="${esc(n)}" />\n"""
    }
    sb ++= "    </nodes>\n    <edges>\n"
    edges.zipWithIndex.foreach { case ((s, t, w), i) =>
      (idOf.get(s), idOf.get(t)) match {
        case (Some(si), Some(ti)) =>
          sb ++= s"""      <edge source="$si" target="$ti" id="$i" weight="$w" />\n"""
        case _ => ()
      }
    }
    sb ++= "    </edges>\n  </graph>\n</gexf>\n"
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.toString)
  }

  /** S10 (volcano *data* — the relational content behind the figure):
    * (gene, log2FC, neg_log10_adj_p, significant). numpy/pandas parity:
    * -log10(0) = +Infinity (not null), NaN-comparison flags = false (not
    * null); the significance predicate is the SHARED
    * [[graft.de.DifferentialExpression.isSignificant]] column. */
  def volcanoData(results: DataFrame, pThreshold: Double = 0.05,
                  fcThreshold: Double = 1.0): DataFrame =
    results.select(
      col("gene"), col("log2FC"),
      when(col("adjusted_pvalue") === 0.0, lit(Double.PositiveInfinity))
        .otherwise(-log(10.0, col("adjusted_pvalue"))).as("neg_log10_adj_p"),
      graft.de.DifferentialExpression.isSignificant(
        col("adjusted_pvalue"), col("log2FC"), pThreshold, fcThreshold)
        .as("significant"))

  /** S10 network-viz *data* (`pipeline2.py:1059-1094`): top-N nodes by
    * composite score with PLACEHOLDER rows dropped (F10,
    * `pipeline2.py:1062-1063`), node size = composite score (J6 lookup),
    * plus the induced subgraph's edges (G5).
    *
    * The pipeline builds these tables from its score rows
    * ([[networkVizRows]]); this frame form's callers are the benchmark's
    * traced pipeline and the specs, and it goes with that mirror. */
  def networkVizData(targetScores: DataFrame, edges: DataFrame,
                     topN: Int = 30): (DataFrame, DataFrame) = {
    val top = targetScores.filter(col("gene") =!= "PLACEHOLDER")
      .orderBy(col("composite_score").desc, col("gene")).limit(topN)
      .select(col("gene"), col("composite_score").as("node_size"))
    val sub = graft.net.CoExpressionNetwork.subgraph(edges, top.select("gene"))
    (top, sub)
  }

  /** S10 barplot *data* (`pipeline2.py:1096-1114`): top-N targets by
    * composite score, placeholders dropped (F10).
    *
    * The pipeline builds this table from its score rows
    * ([[barplotRows]]); this frame form's callers are the benchmark's
    * traced pipeline and the specs, and it goes with that mirror. */
  def barplotData(targetScores: DataFrame, topN: Int = 20): DataFrame =
    targetScores.filter(col("gene") =!= "PLACEHOLDER")
      .orderBy(col("composite_score").desc, col("gene")).limit(topN)
      .select("gene", "composite_score")

  /** [[networkVizData]] over score rows already on the driver, in
    * [[graft.graph.Centrality.networkScores]]' layout and order (composite
    * descending, then gene): the first `topN` non-PLACEHOLDER
    * `(gene, node_size)` rows ([[VizNodeSchema]]), and the `edges` with
    * both endpoints among them, in the order given ([[VizEdgeSchema]]). */
  def networkVizRows(scores: Seq[Row], edges: Seq[(String, String, Double)],
                     topN: Int = 30): (Seq[Row], Seq[Row]) = {
    val top = barplotRows(scores, topN)
    val in = top.map(_.getString(0)).toSet
    (top, edges.collect { case (s, d, w) if in(s) && in(d) => Row(s, d, w) })
  }

  /** [[barplotData]] over score rows already on the driver
    * ([[networkVizRows]]' input): the first `topN` non-PLACEHOLDER
    * `(gene, composite_score)` rows ([[BarplotSchema]]). */
  def barplotRows(scores: Seq[Row], topN: Int = 20): Seq[Row] =
    scores.iterator.filter(_.getString(0) != "PLACEHOLDER").take(topN)
      .map(r => Row(r.getString(0), r.getDouble(4))).toSeq

  val VizNodeSchema: StructType = StructType(Seq(
    StructField("gene", StringType), StructField("node_size", DoubleType)))
  val VizEdgeSchema: StructType = StructType(Seq(StructField("src", StringType),
    StructField("dst", StringType), StructField("weight", DoubleType)))
  val BarplotSchema: StructType = StructType(Seq(
    StructField("gene", StringType), StructField("composite_score", DoubleType)))

  /** S11: the summary.txt contract (`pipeline2.py:1118-1146`). */
  def summaryReport(nSamples: Long, nCase: Long, nControl: Long,
                    nProbes: Long, nGenes: Long, nSignificant: Long,
                    nUp: Long, nDown: Long, nNodes: Long, nEdges: Long,
                    topTargets: Seq[(String, Double)], path: String): Unit = {
    val sb = new StringBuilder
    sb ++= "=== Drug Target Discovery Pipeline Summary ===\n\n"
    sb ++= "Dataset:\n"
    sb ++= s"  Samples: $nSamples ($nCase case / $nControl control)\n"
    sb ++= s"  Probes: $nProbes\n"
    sb ++= s"  Genes after mapping: $nGenes\n\n"
    sb ++= "Differential expression:\n"
    sb ++= s"  Significant genes: $nSignificant\n"
    sb ++= s"  Up-regulated: $nUp\n"
    sb ++= s"  Down-regulated: $nDown\n\n"
    sb ++= "Network:\n"
    sb ++= s"  Nodes: $nNodes\n"
    sb ++= s"  Edges: $nEdges\n\n"
    sb ++= "Top targets (composite score):\n"
    topTargets.foreach { case (g, s) => sb ++= f"  $g: $s%.4f\n" }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.toString)
  }
}
