package graft.prep

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The long-layout plans that `Preprocess.run` and
  * `ProbeMapping.collapseToGenes` replaced, kept as bit-exact references:
  * per-probe windows over (probe_id, sample_id, value) rows, and a grouped
  * `median` over (gene, sample_id). */
object LongLayoutReference {

  /** F1 + A2 + A3 + A4 as three `partitionBy(probe_id)` windows. */
  def preprocess(expr: DataFrame, nSamples: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
    val threshold = 0.2 * nSamples
    val imputed = expr
      .withColumn("__nn", count(col("value")).over(w))
      .filter(col("__nn") >= threshold)
      .withColumn("value",
        coalesce(col("value"), median(col("value")).over(w)))
      .drop("__nn")
    val dataMax = expr
      .groupBy("probe_id")
      .agg(count(col("value")).as("__nn"), max(col("value")).as("__mx"))
      .filter(col("__nn") >= threshold)
      .agg(max(col("__mx"))).first() match {
      case r if r.isNullAt(0) => Double.NegativeInfinity
      case r => r.getDouble(0)
    }
    val scaled =
      if (dataMax > 100) imputed.withColumn("value", log2(col("value") + 1))
      else imputed
    scaled
      .withColumn("__mu", avg("value").over(w))
      .withColumn("__sd", stddev_pop("value").over(w))
      .withColumn("value",
        when(col("__sd") === 0.0, lit(0.0))
          .otherwise((col("value") - col("__mu")) / col("__sd")))
      .drop("__mu", "__sd")
  }

  /** J1 + F3 + A5: inner broadcast join, per-(gene, sample) `median`. */
  def collapse(expr: DataFrame, mapping: DataFrame): DataFrame =
    expr
      .join(broadcast(mapping.select("probe_id", "symbol")), Seq("probe_id"))
      .groupBy(col("symbol").as("gene"), col("sample_id"))
      .agg(median(col("value")).as("value"))
}
