package graft.net

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.de.Stats

/** Co-expression network construction (A9/A12, J4/J5, G1;
  * `pipeline2.py:661-724`).
  */
object CoExpressionNetwork {

  /** A12 (+A9 fallback): the gene set for the network.
    *
    * With significant genes: the first `n` in gene-sorted order — the
    * reference's "top 500" is the head of the groupby-SORTED index, not a
    * significance ranking (`pipeline2.py:679-680`, documented quirk
    * SURVEY §2.4 A12). Without: top `n` by sample variance (`var_samp` of
    * each gene's vector in sample order, [[Stats.Moments]]), descending,
    * gene as the deterministic tiebreak (pandas stable sort,
    * `pipeline2.py:684-685`). Membership in the expression data (F8) is
    * enforced by construction (both branches derive from it).
    *
    * The pipeline takes its significant branch from the significant rows
    * it already holds (the first `n`, in gene order) and calls this only
    * with `None`; the significant branch here serves the benchmark's
    * traced pipeline and the specs.
    *
    * @param geneExpr gene rows, `(gene, value ARRAY<DOUBLE>)`
    */
  def topGenes(geneExpr: DataFrame, significant: Option[DataFrame],
               n: Int = 500): DataFrame = {
    val sigNonEmpty = significant.filter(!_.isEmpty)
    sigNonEmpty match {
      case Some(sig) =>
        // no .distinct() on the semi-join's right side: semi-join
        // semantics already emit each left row at most once
        sig.select("gene")
          .join(geneExpr.select("gene"), Seq("gene"), "left_semi")
          .orderBy("gene").limit(n)
      case None =>
        geneExpr.select("gene", "value")
          .map(r => Row(r.getString(0), Stats.Moments.of(r.getSeq(1)).varSamp))(
            Encoders.row(StructType(Seq(StructField("gene", StringType),
              StructField("__var", DoubleType)))))
          .orderBy(col("__var").desc_nulls_last, col("gene"))
          .limit(n).select("gene")
    }
  }

  /** The largest gene set [[pairwise]] takes to the driver: 2,000 vectors,
    * about 2M pairs (the reference's network uses 500 genes).
    * `PipelineConfig` checks `nTopGenes` against it. */
  val MaxDriverGenes = 2000

  /** J4: Pearson correlation of every pair of `top` genes, from their
    * vectors — `expr_data.T.corr()` over the top genes
    * (`pipeline2.py:702-703`). The gene set is restricted FIRST
    * (cardinality reduction before the O(n²) operator, SURVEY §4.1).
    *
    * Output: (g1, g2, corr) for g1 < g2, in (g1, g2) order, from
    * [[pairwise]]. A constant gene has a null corr (pandas NaN) and falls
    * out of the edge threshold.
    *
    * The pipeline reads the pairs from [[pairwise]] directly (matrix and
    * edges); this frame form's callers are the benchmark's traced
    * pipeline and the specs, and it goes with that mirror.
    *
    * @param geneExpr gene rows, `(gene, value ARRAY<DOUBLE>)`
    */
  def correlations(geneExpr: DataFrame, top: DataFrame): DataFrame =
    pairwise(geneExpr, top).frame(geneExpr.sparkSession)

  /** The top genes' vectors, collected (at most [[MaxDriverGenes]]; a
    * larger `top` fails here, not in a driver OOM), and every pair's
    * correlation computed once on the driver. */
  private[graft] def pairwise(geneExpr: DataFrame, top: DataFrame): Correlations = {
    val rows = geneExpr.join(broadcast(top.select("gene")), Seq("gene"), "left_semi")
      .select("gene", "value").limit(MaxDriverGenes + 1).collect()
    require(rows.length <= MaxDriverGenes,
      s"correlations: more than $MaxDriverGenes top genes; the pairs are " +
        "computed from the collected gene vectors")
    val byName = rows.map(r => (UTF8String.fromString(r.getString(0)), r))
      .sortWith((a, b) => a._1.compareTo(b._1) < 0).map(_._2)
    new Correlations(byName.map(_.getString(0)).toIndexedSeq,
      byName.map(_.getSeq[java.lang.Double](1).toArray))
  }

  /** Pearson correlation with `corr`'s arithmetic: its update over the
    * pairs where both values are non-null, in index order (the bits the
    * aggregate gives over the same pairs in one partition), then
    * ck / sqrt(xMk · yMk); null below two pairs or on a zero divisor (zero
    * variance), as `corr` gives. */
  private[net] def pearson(x: Array[java.lang.Double],
                           y: Array[java.lang.Double]): java.lang.Double = {
    var n = 0.0; var xAvg = 0.0; var yAvg = 0.0
    var ck = 0.0; var xMk = 0.0; var yMk = 0.0
    var i = 0
    while (i < x.length) {
      if (x(i) != null && y(i) != null) {
        val xv = x(i).doubleValue
        val yv = y(i).doubleValue
        n += 1.0
        val dx = xv - xAvg
        val dy = yv - yAvg
        xAvg += dx / n
        yAvg += dy / n
        ck += dx * (yv - yAvg)
        xMk += dx * (xv - xAvg)
        yMk += dy * (yv - yAvg)
      }
      i += 1
    }
    val d = math.sqrt(xMk * yMk)
    if (n < 2.0 || d == 0.0) null else ck / d
  }

  /** G5: edge-induced subgraph on `nodes` (`pipeline2.py:1066`) — two
    * left-semi joins, one per endpoint. */
  def subgraph(edges: DataFrame, nodes: DataFrame): DataFrame =
    edges
      .join(nodes.select(col("gene").as("src")), Seq("src"), "left_semi")
      .join(nodes.select(col("gene").as("dst")), Seq("dst"), "left_semi")
      .select("src", "dst", "weight")

  /** G1: undirected weighted edges where |corr| > threshold
    * (`pipeline2.py:712-716`; weight = |corr|).
    *
    * The pipeline takes its edges from [[Correlations.edges]], the same
    * list in the same order over the computed pairs; this frame form's
    * callers are the benchmark's traced pipeline and the specs, and it
    * goes with that mirror. */
  def edges(correlations: DataFrame, threshold: Double = 0.7): DataFrame =
    correlations
      .filter(abs(col("corr")) > threshold)
      .select(col("g1").as("src"), col("g2").as("dst"),
        abs(col("corr")).as("weight"))

  /** Pairwise correlations of `genes` (sorted in Spark's string order)
    * from their vectors: each pair computed once, here, and read by both
    * the (g1, g2, corr) frame and the correlation-matrix sink. */
  private[graft] final class Correlations(val genes: IndexedSeq[String],
                                          vectors: Array[Array[java.lang.Double]]) {
    private val n = genes.length
    /** Upper triangle, row-major: (i, j) for i < j. */
    private val upper: Array[java.lang.Double] = {
      val out = new Array[java.lang.Double](n * (n - 1) / 2)
      var k = 0
      for (i <- 0 until n; j <- i + 1 until n) {
        out(k) = pearson(vectors(i), vectors(j)); k += 1
      }
      out
    }
    private def at(i: Int, j: Int): Int = i * n - i * (i + 1) / 2 + (j - i - 1)

    /** G1 over the computed pairs: (g1, g2, |corr|) for every pair with
      * |corr| > threshold, in (g1, g2) order — the rows, in the order,
      * that collecting `edges(frame(spark), threshold)` gives (a null
      * corr never passes; the compare is Spark's double compare). */
    def edges(threshold: Double): IndexedSeq[(String, String, Double)] =
      for {
        i <- 0 until n; j <- i + 1 until n
        c = upper(at(i, j)) if c != null
        w = math.abs(c.doubleValue) if SQLOrderingUtil.compareDoubles(w, threshold) > 0
      } yield (genes(i), genes(j), w)

    /** corr(genes(i), genes(j)); 1.0 on the diagonal. */
    def apply(i: Int, j: Int): java.lang.Double =
      if (i == j) 1.0 else if (i < j) upper(at(i, j)) else upper(at(j, i))

    /** (g1, g2, corr) for g1 < g2, in (g1, g2) order whatever the
      * partition count: each partition is a run of g1 indexes in order.
      * The values reach the tasks in one broadcast, not in the plan. */
    def frame(spark: SparkSession): DataFrame = {
      val sc = spark.sparkContext
      val bc = sc.broadcast((genes, upper))
      val nGenes = n
      val rows = sc.parallelize(0 until math.max(nGenes - 1, 0),
          math.max(1, math.min(nGenes - 1, sc.defaultParallelism)))
        .mapPartitions { is =>
          val (gs, vs) = bc.value
          is.flatMap { i =>
            val base = i * nGenes - i * (i + 1) / 2 - i - 1
            Iterator.range(i + 1, nGenes).map(j => Row(gs(i), gs(j), vs(base + j)))
          }
        }
      spark.createDataFrame(rows, StructType(Seq(
        StructField("g1", StringType, nullable = false),
        StructField("g2", StringType, nullable = false),
        StructField("corr", DoubleType, nullable = true))))
    }
  }
}
