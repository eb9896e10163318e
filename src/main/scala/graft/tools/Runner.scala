package graft.tools

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one timed-run path shared by the bench and the gates, so a gate's
  * factor divides the same measured plan as the bench record it reads.
  *
  *  - Results are sunk through the `noop` data source so every computed
  *    column is evaluated — `.count()` would let Catalyst prune
  *    unreferenced projections out of the timed plan.
  *  - The query function is called INSIDE the timer: operators that run
  *    jobs while the DataFrame is built (driver dispatch loops, IRLS
  *    steps, pinned assignments) are part of a query's cost.
  *  - The row count rides along via `observe` (a CollectMetrics node over
  *    the rows already flowing to the sink — no second execution), so a
  *    silently-empty result is visible instead of reading as fast.
  */
object Runner {

  /** Untimed warm-up before the first timed run: session start-up,
    * codegen and parquet footer reads on `dir`'s lineitem table. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

  /** One timed run of `build`, returning (wall seconds, output rows).
    * The cache is cleared first: operators persist internal
    * multi-consumer frames, and no run may be timed against another's
    * cache. `label` names the run's Observation. */
  def timed(spark: SparkSession, label: String)(build: => DataFrame): (Double, Long) = {
    spark.catalog.clearCache()
    val obs = Observation(label)
    val t0 = System.nanoTime()
    build.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    (dt, obs.get("rows").asInstanceOf[Long])
  }
}
