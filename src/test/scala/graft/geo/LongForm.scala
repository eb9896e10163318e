package graft.geo

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The long (probe_id, sample_id, value) view of [[ProbeRows]] frames, for
  * specs that state expectations cell by cell or feed the long-layout
  * reference implementations. */
object LongForm {

  /** One row per cell, in probe-row order and, within a probe, in sample
    * order. */
  def expand(df: DataFrame): DataFrame = {
    val ids = ProbeRows.sampleIds(df)
    df.select(col("probe_id"), posexplode(col("value")))
      .select(col("probe_id"),
        element_at(typedLit(ids), col("pos") + 1).as("sample_id"),
        col("col").as("value"))
  }

  /** Probe rows built from long cells (probes in first-seen order; a cell
    * absent from `cells` is null). */
  def pack(spark: SparkSession, sampleIds: Seq[String],
           cells: Seq[(String, String, Option[Double])]): DataFrame = {
    val byProbe = cells.groupBy(_._1)
    val rows = cells.map(_._1).distinct.map { p =>
      val v = byProbe(p).map(c => c._2 -> c._3).toMap
      Row(p, sampleIds.map(s =>
        v.get(s).flatten.map(java.lang.Double.valueOf).orNull))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        ProbeRows.Schema)
      .select(col("probe_id"), ProbeRows.value(col("value"), sampleIds))
  }
}
