package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.util.Pin

/** First principal component of an embedding column — the variance
  * screen under whitening, dataset drift checks, and "is this embedding
  * space collapsing" diagnostics.
  *
  * Split by size, not by algorithm: the DATA-sized work is the
  * covariance matrix, computed distributed as one pair-exploded
  * aggregate; the eigensolve input is then dim² — a few thousand
  * doubles AT ANY CORPUS SIZE — so the power iteration runs on the
  * driver unconditionally (the centroids-are-small precedent, with no
  * dispatch threshold to tune).
  *
  * Determinism contract (the k-means pattern): covariance cells are
  * ROUNDED to 6 dp, so both engines iterate the IDENTICAL matrix; the
  * power iteration itself is sequential arithmetic in index order
  * (matrix-vector fold, L2 normalize) that any replayer reproduces
  * bit-for-bit. The sign is fixed by the largest-|loading| dimension
  * (lowest index on ties) being positive — eigenvectors are defined up
  * to sign, so the convention must travel with the operator.
  *
  * Output: (j BIGINT, loading rounded 6dp, eigenvalue rounded 4dp) —
  * one row per dimension, eigenvalue = vᵀCv repeated per row.
  */
object Pca {

  def topComponent(vecs: DataFrame, id: String, vec: String,
                   iters: Int = 30): DataFrame = Pin.scope { pin =>
    val spark = vecs.sparkSession
    val v = pin(vecs.select(col(id).as("__vid"),
        col(vec).cast("array<double>").as("__e")))
    val n = v.count()
    require(n >= 2, "need at least 2 vectors for a covariance")
    // (vid, j, x) exploded once, self-joined on vid for the upper
    // triangle: sums arrive with map-side partials, the join fan-out is
    // dim²/2 per vector — the price of EXACT covariance in one pass
    val tok = pin(v.select(col("__vid"),
        posexplode(col("__e")).as(Seq("__j", "__x"))))
    val means = tok.groupBy(col("__j"))
      .agg(sum(col("__x")).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1) / n).toMap
    val dim = means.size
    val prods = tok.as("a")
      .join(tok.as("b"),
        col("a.__vid") === col("b.__vid") && col("a.__j") <= col("b.__j"))
      .groupBy(col("a.__j").as("j"), col("b.__j").as("k"))
      .agg(sum(col("a.__x") * col("b.__x")).as("sxx"))
      .collect()
    val cov = Array.ofDim[Double](dim, dim)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    prods.foreach { r =>
      val j = r.getInt(0); val k = r.getInt(1)
      val c = r6((r.getDouble(2) - n * means(j) * means(k)) / (n - 1))
      cov(j)(k) = c; cov(k)(j) = c
    }

    var x = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var it = 0
    while (it < iters) {
      val y = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var s = 0.0; var k = 0
        while (k < dim) { s += cov(i)(k) * x(k); k += 1 }
        y(i) = s; i += 1
      }
      val nrm = math.sqrt(y.map(z => z * z).sum)
      x = if (nrm == 0.0) y else y.map(_ / nrm)
      it += 1
    }
    // sign convention: largest-|loading| dimension (lowest j on ties)
    // positive
    val anchor = x.zipWithIndex.map { case (z, i) => (-math.abs(z), i) }
      .min._2
    if (x(anchor) < 0) x = x.map(-_)
    val eig = {
      var s = 0.0; var i = 0
      while (i < dim) {
        var t = 0.0; var k = 0
        while (k < dim) { t += cov(i)(k) * x(k); k += 1 }
        s += x(i) * t; i += 1
      }
      BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = x.zipWithIndex.map { case (z, i) =>
      Row(i.toLong, r6(z), eig)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("j", LongType, nullable = false),
        StructField("loading", DoubleType, nullable = false),
        StructField("eigenvalue", DoubleType, nullable = false))))
  }
}
