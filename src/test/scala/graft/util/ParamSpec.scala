package graft.util

import graft.SparkSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** util.Param.scalar — codegen-cache-friendly parameter constants used
  * by the fixed-iteration drivers (Newton/IRLS/EM) instead of per-step
  * literals. The optimization is generated-SOURCE-shape only; these
  * tests pin the properties the operators rely on: exact value
  * transport (incl. -0.0 / NaN), bit-identical arithmetic vs the same
  * expression over literals, and no constant folding (folding would
  * re-inline the value into the source and defeat the cache). */
class ParamSpec extends SparkSuite {
  import spark.implicits._

  test("scalar carries the exact double, including -0.0 and NaN") {
    val r = Seq(1).toDF("one").select(
      Param.scalar(1.25).as("a"),
      Param.scalar(-0.0).as("b"),
      Param.scalar(Double.NaN).as("c"),
      Param.scalar(Double.PositiveInfinity).as("d")).head()
    assert(r.getDouble(0) === 1.25)
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(r.getDouble(2).isNaN)
    assert(r.getDouble(3).isPosInfinity)
  }

  test("scalar is not constant-folded (the value must stay out of the source)") {
    // non-local source: over a LocalRelation the whole projection is
    // legitimately pre-evaluated (ConvertToLocalRelation, via eval) —
    // which is not the folding this test guards against
    val df = spark.range(1)
      .select((Param.scalar(3.5) * lit(2.0)).as("x"))
    val optimized = df.queryExecution.optimizedPlan
    val stillParam = optimized.expressions.exists(_.exists {
      case _: org.apache.spark.sql.graft.ScalarParam => true
      case _ => false
    })
    assert(stillParam,
      s"ScalarParam was folded away:\n$optimized")
    assert(df.head().getDouble(0) === 7.0)
  }

  test("parameter arithmetic is bit-identical to literal arithmetic") {
    val d = (1 to 5000).map { i =>
      (math.sin(i) * 10, math.cos(i) * 3, (i % 7).toDouble)
    }.toDF("__y", "__x1", "__x2").persist()
    val betas = Seq(
      Array(0.0, 0.0, 0.0),
      Array(0.1234567891234, -2.987654321, 3.14159265358979),
      Array(-1e-13, 1e12, 0.5))
    betas.foreach { b =>
      // the newtonLogistic step shape, both ways
      val etaLit = lit(b(0)) + lit(b(1)) * col("__x1") +
        lit(b(2)) * col("__x2")
      val etaPar = Param.scalar(b(0)) +
        Param.scalar(b(1)) * col("__x1") +
        Param.scalar(b(2)) * col("__x2")
      def stats(eta: org.apache.spark.sql.Column): Seq[Long] = {
        val mu = lit(1.0) / (lit(1.0) + exp(-eta))
        val w = mu * (lit(1.0) - mu)
        d.agg(sum(w), sum(w * col("__x1")),
            sum(w * col("__x1") * col("__x2")),
            sum(col("__y") - mu)).head().toSeq
          .map(v => java.lang.Double.doubleToRawLongBits(
            v.asInstanceOf[Double]))
      }
      assert(stats(etaLit) === stats(etaPar),
        s"literal vs param sums diverged at beta=${b.toSeq}")
    }
    d.unpersist()
  }

  test("scalar steps reuse one codegen source; literal steps recompile") {
    // the Newton-step shape of artifacts/r15opt/codegen_probe.log: a
    // 9-sum weighted aggregate over a persisted frame, one per step,
    // with the JVM-wide Janino compile counter read around each step
    val d = (1 to 5000).map { i =>
      (math.sin(i), math.cos(i) * 3, (i % 11).toDouble)
    }.toDF("__y", "__x1", "__x2").persist()
    d.count()
    def step(b: Seq[Column]): Unit = {
      val eta = b(0) + b(1) * col("__x1") + b(2) * col("__x2")
      val mu = lit(1.0) / (lit(1.0) + exp(-eta))
      val w = mu * (lit(1.0) - mu)
      val r = col("__y") - mu
      d.agg(sum(w), sum(w * col("__x1")), sum(w * col("__x2")),
        sum(w * col("__x1") * col("__x1")),
        sum(w * col("__x1") * col("__x2")),
        sum(w * col("__x2") * col("__x2")),
        sum(r), sum(r * col("__x1")), sum(r * col("__x2"))).head()
    }
    def compiles(b: Seq[Column]): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      step(b)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    // distinct per step, and unlike any constant compiled earlier in the
    // JVM, so a literal step cannot hit the cache by coincidence
    val betas = (1 to 5).map(i =>
      Seq(0.0173 + 1e-7 * i, -0.00291 * i, 0.000737 * i))
    val literal = betas.map(b => compiles(b.map(lit)))
    val param = betas.map(b => compiles(b.map(Param.scalar)))
    assert(param.tail.forall(_ == 0),
      s"Param.scalar steps recompiled after step 1: $param")
    assert(literal.forall(_ >= 1),
      s"a lit(...) step hit the codegen cache: $literal")
    d.unpersist()
  }
}
