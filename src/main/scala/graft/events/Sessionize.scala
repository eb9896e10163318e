package graft.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch operators over the `events` stream table: gap-based
  * sessionization, tumbling-window aggregation, and bounded-window dedup.
  *
  * Scale: both sessionization windows partition by user_id (shuffle on
  * user, fine-grained key, no global sort); tumbling windows are a plain
  * hash aggregate on (bucket, type).
  */
object Sessionize {

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapSeconds`. Session ids
    * are a running sum of session-start flags per user. Timestamps
    * compared in exact integer microseconds (unix_micros) so the gap
    * predicate is engine-independent. */
  def withSessionIds(events0: DataFrame, tsCol: String, userCol: String,
                     gapSeconds: Long): DataFrame = {
    // a null instant is no observation on a time axis (fuzz-37: the
    // null-event-time axis — engines sort null instants at opposite
    // ends, shifting every gap and session id)
    val events = events0.filter(col(tsCol).isNotNull)
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val us = unix_micros(col(tsCol))
    val gap = us - lag(us, 1).over(w)
    val isNew = when(gap.isNull || gap > gapSeconds * 1000000L, 1).otherwise(0)
    events.withColumn("session_seq",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session aggregates: (user_id, session_seq, n_events, start/end,
    * duration in exact integer microseconds AND in seconds, total value).
    *
    * `duration_us` is the EXACT long — downstream rollups that sum
    * durations must sum this column and divide once (see q17): summing
    * the binary-inexact `duration_sec` doubles and rounding the sum lets
    * cross-engine sum-order ulps flip the round on a fat key whose total
    * lands on a .xx5 boundary (found by the sf1-skew oracle, round 14:
    * hot user 8215, 46 sessions, 2687.695 total). `duration_sec` itself
    * is one IEEE division of the exact long — bit-identical across
    * engines — kept for per-session consumers. */
  def sessions(events: DataFrame, tsCol: String, userCol: String,
               valueCol: String, gapSeconds: Long): DataFrame =
    withSessionIds(events, tsCol, userCol, gapSeconds)
      .groupBy(col(userCol), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        (unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
          .as("duration_us"),
        ((unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
          / 1000000.0).as("duration_sec"),
        round(sum(col(valueCol)), 4).as("total_value"))

  /** Tumbling-window aggregate: events bucketed by date_trunc(unit) x
    * event_type, with count and rounded value stats. The bucket is
    * emitted as a formatted string so the result is
    * representation-independent across engines. */
  def tumbling(events: DataFrame, tsCol: String, typeCol: String,
               valueCol: String, unit: String): DataFrame =
    events
      .groupBy(date_format(date_trunc(unit, col(tsCol)),
        "yyyy-MM-dd HH:mm:ss").as("bucket"), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 4).as("sum_value"),
        // q94 snap-divide (fuzz-45): a grid-valued sum divided by the
        // bucket count can land EXACTLY on a .xxxx5 (226.15/8 =
        // 28.26875), where cross-engine sum-order ulps flip a plain
        // round(avg, 4). Quantize terms to the 4-dp grid (lossless on
        // the cents-grid value column), snap the sum to exact integer
        // ten-thousandths, ONE exact division, no final round. A
        // grid-valued SUM itself is safe (its true value has ≤ 4
        // decimals, never half-way at the 4-dp grain), so sum_value
        // keeps the plain round.
        (round(sum(round(col(valueCol), 4)) * 1e4) /
          (lit(1e4) * count(lit(1)))).as("avg_value"))

  /** Bounded-window dedup (batch analogue of
    * dropDuplicatesWithinWatermark): one row per (user, type, minute
    * bucket), keeping the earliest event. */
  def dedupWithinWindow(events: DataFrame, tsCol: String, userCol: String,
                        typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol), col(typeCol),
        date_trunc("minute", col(tsCol)))
      .orderBy(col(tsCol).asc, col("event_id").asc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Top event-sequence paths: each key's first `k` event types in time
    * order, joined with `sep`, counted across keys — the navigation-path
    * mining staple. The row_number prune runs BEFORE collect_list, so
    * per-key buffered state is at most k structs even for a key with
    * millions of events; array_sort on (rn, type) makes the sequence
    * deterministic (collect_list order is not), and ties at the top-N
    * boundary break on the path string. */
  def topPaths(events: DataFrame, keyCol: String, tsCol: String,
               typeCol: String, k: Int, topN: Int, sep: String = ">",
               tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    // null-instant complete-case (fuzz-37; see withSessionIds)
    events.filter(col(tsCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col(keyCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__rn"),
          col(typeCol).as("t")))), x => x("t")), sep).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_keys"))
      .orderBy(col("n_keys").desc, col("path"))
      .limit(topN)
  }

  /** First-order Markov transition estimates: consecutive event-type
    * bigrams per key with P(next | current). One per-key window (lead)
    * + one (cur, next) hash aggregate; the per-state normalizer is a
    * window over the AGGREGATED bigram table (|states|² rows), never
    * the event stream. Returns (cur, nxt, n, p 4-dp). */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String,
                       tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    // null-instant complete-case (fuzz-37; see withSessionIds)
    val bigrams = events.filter(col(tsCol).isNotNull)
      .select(col(typeCol).as("cur"),
        lead(col(typeCol), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
    bigrams.withColumn("p",
      round(col("n") /
        sum(col("n")).over(Window.partitionBy("cur")).cast("double"), 4))
  }

  /** Second-order Markov transitions: P(next | prev, cur) from
    * consecutive event-type trigrams per key — the memory-1 upgrade of
    * [[transitionMatrix]] (captures "view→click means purchase, but
    * error→click means retry" distinctions a first-order chain
    * blends). Same shape: one per-key window (two leads share it), one
    * (prev, cur, nxt) hash aggregate, and the normalizer window runs
    * over the |states|³-bounded trigram table.
    * Returns (prev, cur, nxt, n, p 4-dp). */
  def transitionMatrix2(events: DataFrame, keyCol: String, tsCol: String,
                        typeCol: String,
                        tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    // null-instant complete-case (fuzz-37; see withSessionIds)
    val trigrams = events.filter(col(tsCol).isNotNull)
      .select(col(typeCol).as("prev"),
        lead(col(typeCol), 1).over(w).as("cur"),
        lead(col(typeCol), 2).over(w).as("nxt"))
      .filter(col("cur").isNotNull && col("nxt").isNotNull)
      .groupBy("prev", "cur", "nxt").agg(count(lit(1)).as("n"))
    trigrams.withColumn("p",
      round(col("n") /
        sum(col("n")).over(Window.partitionBy("prev", "cur"))
          .cast("double"), 4))
  }

  /** Run-length statistics per (key, state): how long does a user
    * PERSIST in a state before switching — the state-stickiness
    * readout transition matrices throw away (p(a→a) says nothing
    * about whether that's one 10-run or five 2-runs). A run starts
    * where the state differs from the lag; run ids are the running sum
    * of starts (the sessionize discipline, keyed on state change
    * instead of time gap). Output per (key, state): (key, state,
    * n_events BIGINT, n_runs BIGINT, mean_run_len 4dp,
    * max_run_len BIGINT). */
  def runLengths(events: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val isNew = when(lag(col(stateCol), 1).over(w).isNull ||
      lag(col(stateCol), 1).over(w) =!= col(stateCol), 1).otherwise(0)
    // null-instant complete-case (fuzz-37; see withSessionIds)
    val runs = events.filter(col(tsCol).isNotNull)
      .withColumn("__run", sum(isNew).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col(stateCol).as("state"), col("__run"))
      .agg(count(lit(1)).as("__len"))
    runs.groupBy(col(keyCol), col("state"))
      .agg(sum(col("__len")).as("n_events"),
        count(lit(1)).as("n_runs"),
        round(avg(col("__len")), 4).as("mean_run_len"),
        max(col("__len")).as("max_run_len"))
  }
}
