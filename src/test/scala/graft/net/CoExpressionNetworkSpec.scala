package graft.net

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSuite
import graft.geo.ProbeRows

/** The network's per-gene statistics over gene rows: Pearson correlation
  * and the variance fallback give the bits of Spark's `corr` and
  * `var_samp` over the same values in one partition, in sample order, and
  * the pairs come out in (g1, g2) order at any partition count. */
class CoExpressionNetworkSpec extends SparkSuite {

  private val ids = (1 to 9).map(i => s"S$i")

  /** 12 genes: random vectors, one with a missing cell, one constant, one
    * with a single value, one that is another scaled. */
  private val vectors: Seq[(String, Seq[java.lang.Double])] = {
    val rng = new scala.util.Random(11)
    def randomVector = ids.map(_ => java.lang.Double.valueOf(rng.nextGaussian() * 3 + 1))
    val base = randomVector
    Seq("G09", "G02", "G11", "G05", "G01", "G07", "G03", "G08").map(_ -> randomVector) ++ Seq(
      "G04" -> base.updated(4, null),
      "G10" -> ids.map(_ => java.lang.Double.valueOf(2.5)),
      "G06" -> ids.indices.map(i => if (i == 0) java.lang.Double.valueOf(1.0) else null),
      "G12" -> base.map(v => java.lang.Double.valueOf(v * -7.0 + 3.0)))
  }

  private def genes(slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        vectors.map { case (g, vs) => Row(g, vs) }, slices),
        ProbeRows.GeneSchema)
      .select(col("gene"), ProbeRows.value(col("value"), ids))

  private def top = genes(1).select("gene")

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(doubleToRawLongBits(r.getDouble(i)))

  test("correlations: corr's bits over one in-order partition; null for a " +
    "constant gene and below two pairs") {
    val byName = vectors.toMap
    val names = vectors.map(_._1).sorted
    val longRows = for (a <- names; b <- names if a < b; i <- ids.indices)
      yield Row(a, b, byName(a)(i), byName(b)(i))
    val want = spark.createDataFrame(spark.sparkContext.parallelize(longRows, 1),
        StructType.fromDDL("g1 STRING, g2 STRING, v1 DOUBLE, v2 DOUBLE"))
      .groupBy("g1", "g2").agg(corr(col("v1"), col("v2")).as("corr"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> bits(r, 2)).toMap
    val got = CoExpressionNetwork.correlations(genes(3), top).collect()
      .map(r => (r.getString(0), r.getString(1)) -> bits(r, 2)).toMap
    assert(got.size == 66 && got == want)
    assert(got(("G01", "G10")).isEmpty && got(("G06", "G07")).isEmpty)
    assert(got(("G04", "G12")).exists(b => java.lang.Double.longBitsToDouble(b) < -0.999999))
  }

  test("correlations: (g1, g2) order with g1 < g2, the same rows at 1, 4 " +
    "and 200 shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    val runs = try Seq(1, 4, 200).map { p =>
      spark.conf.set(key, p.toString)
      CoExpressionNetwork.correlations(genes(p % 5 + 1), top).collect()
        .map(r => (r.getString(0), r.getString(1), bits(r, 2))).toSeq
    } finally spark.conf.set(key, old)
    val pairs = runs.head.map(r => (r._1, r._2))
    assert(pairs == pairs.sorted && pairs.forall { case (a, b) => a < b })
    assert(runs.forall(_ == runs.head))
  }

  test("topGenes variance fallback: var_samp of each vector, descending, " +
    "gene as tiebreak, constant and single-value genes last") {
    val got = CoExpressionNetwork.topGenes(genes(2), None, 10).collect()
      .map(_.getString(0)).toSeq
    val variances = vectors.map { case (g, vs) =>
      val xs = vs.filter(_ != null).map(_.doubleValue)
      val m = xs.sum / xs.size
      g -> (if (xs.size < 2) Double.NaN else xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
    }
    val want = variances.sortBy { case (g, v) =>
      (if (v.isNaN) 1 else 0, if (v.isNaN) 0.0 else -v, g) }.map(_._1).take(10)
    assert(got == want)
    assert(!got.contains("G06"))   // one value: null variance, sorted last
    val all = CoExpressionNetwork.topGenes(genes(2), None, 12).collect().map(_.getString(0))
    assert(all.takeRight(2).toSeq == Seq("G10", "G06"))   // 0.0, then null
  }
}
