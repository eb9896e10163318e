package graft.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Time-series regularization: project a per-key series onto a dense
  * integer grid (every bucket between the key's first and last
  * observation), zero-filling counts and forward-filling carried
  * metrics — the gap-fill step that must precede any rolling/
  * trailing computation whose frame semantics assume dense buckets.
  *
  * Scale: the grid explodes from a per-key (min, max) aggregate — grid
  * rows ∝ key_count × span/step, independent of the fact volume; the
  * observed series left-joins the grid co-partitioned on the key, and
  * the forward-fill is one per-key window over grid-sized input.
  */
object Resample {

  /** Dense per-key grid with observed rows joined on: for each key,
    * every `step`-spaced bucket in [min(bucket), max(bucket)]. Observed
    * columns survive as-is (null on generated rows). `bucket` must be
    * integral (epoch days/hours). */
  def denseGrid(df: DataFrame, key: String, bucket: String,
                step: Long = 1L): DataFrame = {
    // NB: the input feeds two consumers (span aggregate + join), and
    // column pruning makes the subtrees differ, so ReuseExchange does
    // NOT dedupe them — an unpersisted input is computed twice. Callers
    // whose input is itself expensive should persist it around this
    // call; [[regularize]] does exactly that.
    val span = df.groupBy(col(key))
      .agg(min(col(bucket)).as("__lo"), max(col(bucket)).as("__hi"))
    val grid = span.select(col(key),
      explode(sequence(col("__lo"), col("__hi"), lit(step))).as(bucket))
    grid.join(df, Seq(key, bucket), "left")
  }

  /** Regularize + fill: counts (`countCol`) zero-fill on generated
    * buckets; each column in `ffillCols` forward-fills from the key's
    * last observed value. */
  def regularize(df: DataFrame, key: String, bucket: String,
                 countCol: String, ffillCols: Seq[String],
                 step: Long = 1L): DataFrame = Pin.scope { pin =>
    // The input is typically an aggregate of the fact table and feeds
    // denseGrid's two consumers — pin it so the upstream aggregation
    // runs once; the output is grid-bounded (keys × span/step), so it is
    // materialized before the pin is released.
    val in = pin(df)
    val dense = denseGrid(in, key, bucket, step)
      .withColumn(countCol, coalesce(col(countCol), lit(0L)))
    val w = Window.partitionBy(key).orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, 0)
    // all fills in one projection -> one Window operator over one sort
    dense.select(dense.columns.map { c =>
      if (ffillCols.contains(c))
        last(col(c), ignoreNulls = true).over(w).as(c)
      else col(c)
    }: _*).localCheckpoint()
  }
}
