package graft

import org.apache.spark.sql.SparkSession

/** Session factory carrying the configuration this library is designed
  * against, so "switch to graft" is one call instead of a conf
  * scavenger hunt:
  *
  *  - `graft.GraftExtensions` injected — the custom expressions
  *    (t-CDF, cosine, simhash/md5/rolling hashes, shingles, LSH
  *    buckets) are SQL-callable.
  *  - AQE on with skew-join handling (Spark's defaults, restated
  *    because several operators — SkewJoin's docs, the dedup candidate
  *    joins — assume runtime re-planning is available in batch).
  *  - ANSI OFF: the catalog's documented arithmetic contract
  *    (x/0 → null with explicit guards everywhere; the full catalog is
  *    ALSO verified green under ansi=true each round, so flipping it on
  *    is supported, just not the default).
  *  - UTC session timezone: every timestamp-bucketing operator
  *    (sessionize, tumbling windows, banded range join) is
  *    calendar-dependent; a cluster-local zone would silently change
  *    results between deployments.
  *  - Parquet NTZ inference OFF: naive `timestamp[us]` parquet columns
  *    (no isAdjustedToUTC flag — how the test tables and most lakehouse
  *    writers emit timestamps) read as TimestampType in the UTC session
  *    rather than TIMESTAMP_NTZ, so epoch extractors (`unix_micros`,
  *    `unix_millis`) and window functions apply uniformly. With UTC the
  *    two readings are value-identical; this only pins the *type*.
  *
  * `shufflePartitions` left as None sets nothing — Spark's 200-partition
  * default applies, with AQE coalescing shrinking small shuffles at
  * runtime. Pass an explicit value on sizing-sensitive deployments
  * (cores × a small factor locally; on a cluster, high enough that AQE
  * coalesces DOWN rather than partitions overflowing memory).
  */
object GraftSession {

  def builder(shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    shufflePartitions.fold(b)(n => b.config("spark.sql.shuffle.partitions", n))
  }

  /** The session every entry main runs on: [[builder]] with one shuffle
    * partition per core, on `local[cpus]`, UI off, log level WARN.
    * Mains needing a further static conf (a scheduler mode, a cluster
    * master) start from [[builder]] instead; runtime confs go through
    * `spark.conf.set` on the returned session. */
  def local(cpus: Int): SparkSession = {
    val spark = builder(Some(cpus))
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
