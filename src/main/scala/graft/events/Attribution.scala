package graft.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.join.{AsOfJoin, RangeJoin}

/** Marketing-attribution over an event log: credit each conversion to
  * the touch event that "caused" it under a last-touch model — the
  * latest qualifying touch at-or-before the conversion, within a
  * lookback horizon. Conversions with no touch in the horizon are
  * reported as `unattributed` (they are a key health metric, not a row
  * to drop).
  *
  * This is deliberately a COMPOSITION, not a new join: last-touch IS
  * the backward as-of join with tolerance ([[graft.join.AsOfJoin]]),
  * keyed by user, tie-broken on the touch id so simultaneous touches
  * resolve deterministically. First-touch would be the forward as-of
  * from the horizon start; multi-touch models (linear, time-decay)
  * would be the range join ([[graft.join.RangeJoin]]) plus a weight
  * aggregate. One shuffle on the user key, carried by the as-of's
  * union+window plan — no per-conversion scan of the touch history.
  */
object Attribution {

  /** Conversions per last-touch channel. `touchTypes` enumerates the
    * attributable event types; `conversionType` rows are the credit
    * targets; `lookbackSec` bounds how old a touch may be. Output:
    * (touch, conversions BIGINT) with `unattributed` for horizon
    * misses, ordered by touch. */
  def lastTouch(events: DataFrame, user: String, ts: String,
                eventType: String, id: String,
                conversionType: String, touchTypes: Seq[String],
                lookbackSec: Long): DataFrame = {
    val conv = events.filter(col(eventType) === conversionType)
      .select(col(user), col(ts), col(id))
    val touches = events.filter(col(eventType).isin(touchTypes: _*))
      .select(col(user), col(ts), col(id).as("__touch_id"),
        col(eventType).as("touch"))
    AsOfJoin.asOfBackward(conv, touches, user, ts, Seq("touch"),
        rightTieBreak = Some("__touch_id"),
        toleranceSec = Some(lookbackSec))
      .groupBy(coalesce(col("touch"), lit("unattributed")).as("touch"))
      .agg(count(lit(1)).as("conversions"))
      .orderBy(col("touch"))
  }

  /** Multi-touch LINEAR attribution — the [[lastTouch]] docstring's
    * promised sibling: every touch inside the lookback shares the
    * conversion's credit equally (1/k to each of k touches). This IS
    * the banded range join ([[graft.join.RangeJoin]]) — each
    * conversion opens the interval [ts − lookback, ts] (inclusive at
    * the conversion instant, matching lastTouch's tolerance bound) and
    * collects its in-window touches; weights are one window count over
    * the candidate-proportional join output, never the event stream.
    * Conversions with no touch report as `unattributed` with full
    * credit 1 each — the same health metric lastTouch keeps.
    * Output: (touch, credit rounded 4dp, n_touches BIGINT), ordered. */
  def linear(events: DataFrame, user: String, ts: String,
             eventType: String, id: String,
             conversionType: String, touchTypes: Seq[String],
             lookbackSec: Long): DataFrame = {
    val conv = events.filter(col(eventType) === conversionType)
      .select(col(user), col(id).as("__conv_id"),
        (col(ts) - expr(s"INTERVAL $lookbackSec SECONDS")).as("__ws"),
        (col(ts) + expr("INTERVAL 1 MICROSECOND")).as("__we"))
    val touches = events.filter(col(eventType).isin(touchTypes: _*))
      .select(col(user), col(ts), col(eventType).as("touch"))
    val joined = RangeJoin.bandedIntervalJoin(conv, touches, user,
      "__ws", "__we", ts, bandWidthSec = lookbackSec)
    val weighted = joined.withColumn("__wt",
      lit(1.0) / count(lit(1)).over(Window.partitionBy(col("__conv_id"))))
    val credited = weighted.groupBy(col("touch"))
      .agg(round(sum(col("__wt")), 4).as("credit"),
        count(lit(1)).as("n_touches"))
    val unattributed = conv
      .join(joined.select(col("__conv_id")).distinct(),
        Seq("__conv_id"), "left_anti")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 0)
      .select(lit("unattributed").as("touch"),
        round(col("__n").cast("double"), 4).as("credit"),
        lit(0L).as("n_touches"))
    credited.unionByName(unattributed).orderBy(col("touch"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the third
    * classic next to [[lastTouch]] and [[linear]]: the FIRST touch in
    * the lookback gets `firstW` (default 40%), the LAST gets `lastW`
    * (40%), and the middles share the remainder equally. Journeys of
    * one touch take full credit; of two, first/last split
    * proportionally (50/50 at the defaults). Same banded range join
    * as [[linear]] plus one ordered window per conversion (ties on
    * timestamp broken by the touch event id — deterministic).
    * Output: (touch, credit 4dp, n_touches BIGINT) +
    * `unattributed`. */
  def positionBased(events: DataFrame, user: String, ts: String,
                    eventType: String, id: String,
                    conversionType: String, touchTypes: Seq[String],
                    lookbackSec: Long, firstW: Double = 0.4,
                    lastW: Double = 0.4): DataFrame = {
    require(firstW > 0 && lastW > 0 && firstW + lastW <= 1,
      "firstW/lastW must be positive and sum to <= 1")
    val conv = events.filter(col(eventType) === conversionType)
      .select(col(user), col(id).as("__conv_id"),
        (col(ts) - expr(s"INTERVAL $lookbackSec SECONDS")).as("__ws"),
        (col(ts) + expr("INTERVAL 1 MICROSECOND")).as("__we"))
    val touches = events.filter(col(eventType).isin(touchTypes: _*))
      .select(col(user), col(ts), col(id).as("__touch_id"),
        col(eventType).as("touch"))
    val joined = RangeJoin.bandedIntervalJoin(conv, touches, user,
      "__ws", "__we", ts, bandWidthSec = lookbackSec)
    val wConv = Window.partitionBy(col("__conv_id"))
    val wOrd = Window.partitionBy(col("__conv_id"))
      .orderBy(col(ts), col("__touch_id"))
    val midW = 1.0 - firstW - lastW
    val ranked = joined
      .withColumn("__k", count(lit(1)).over(wConv))
      .withColumn("__r", row_number().over(wOrd))
    val wt = when(col("__k") === 1, lit(1.0))
      .when(col("__k") === 2,
        when(col("__r") === 1, lit(firstW / (firstW + lastW)))
          .otherwise(lit(lastW / (firstW + lastW))))
      .otherwise(
        when(col("__r") === 1, lit(firstW))
          .when(col("__r") === col("__k"), lit(lastW))
          .otherwise(lit(midW) / (col("__k") - 2)))
    val credited = ranked.withColumn("__wt", wt)
      .groupBy(col("touch"))
      .agg(round(sum(col("__wt")), 4).as("credit"),
        count(lit(1)).as("n_touches"))
    val unattributed = conv
      .join(joined.select(col("__conv_id")).distinct(),
        Seq("__conv_id"), "left_anti")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 0)
      .select(lit("unattributed").as("touch"),
        round(col("__n").cast("double"), 4).as("credit"),
        lit(0L).as("n_touches"))
    credited.unionByName(unattributed).orderBy(col("touch"))
  }

  /** First-order Markov-chain attribution by removal effects (X271,
    * Anderl et al. 2014) — the model-based alternative to the
    * heuristic splits above and the game-theoretic X171 Shapley:
    * journeys become a Markov chain START → touches → CONV/NULL;
    * a channel's value is how much the chain's conversion probability
    * drops when every hop into that channel is redirected to NULL
    * (the channel "goes dark"), normalized across channels into
    * attribution shares.
    *
    * Relational part (the 100 TB part): transition counts from ONE
    * lead window over (user, ts, tie) — START→first, touch→next,
    * last→CONV/NULL — then a hash aggregate to the (states+2)²-bounded
    * transition matrix. Driver part (the bounded part): row-normalize
    * and run a FIXED `iters`-step absorption fixpoint for the base
    * chain and once per removal scenario —
    * deterministic arithmetic, no linear-solver pivoting, so an
    * engine replaying the same recipe (the oracle's recursive CTE)
    * reproduces the doubles. Geometric convergence makes 200 steps
    * ≪ 1e-9 residual for any journey mix with finite mean length.
    *
    * Conversions are USERS WITH ≥ 1 CONVERSION EVENT (journey grain =
    * user); touches are the non-conversion events, in (ts, tie)
    * order. Output per channel: (channel, n_transitions BIGINT,
    * p_conv_base 6dp, p_conv_removed 6dp, removal_effect 6dp = 1 −
    * removed/base, attribution_share 6dp; share null when every
    * removal effect is 0). */
  def markovRemoval(events: DataFrame, user: String, ts: String,
                    tie: String, channel: String, isConversion: String,
                    iters: Int = 200): DataFrame = {
    val spark = events.sparkSession
    require(iters >= 1, "iters must be >= 1")
    val conv = col(isConversion) === 1
    val converted = events.filter(conv)
      .select(col(user).as("__u")).distinct()
      .withColumn("__c", lit(1))
    val w = Window.partitionBy(col("__u"))
      .orderBy(col("__ts"), col("__tie"))
    // complete-case on the channel (fuzz-23): a touch that names no
    // channel cannot take part in a channel chain — and a null state
    // label would crash the bounded state-name sort below; complete-case
    // on the instant too (fuzz-37): a null time has no place in the
    // journey order, and engines sort null instants at opposite ends
    val touches = events.filter(!conv && col(channel).isNotNull &&
      col(ts).isNotNull)
      .select(col(user).as("__u"), col(ts).as("__ts"),
        col(tie).as("__tie"), col(channel).cast("string").as("__ch"))
      .join(converted, Seq("__u"), "left")
      .na.fill(0, Seq("__c"))
    val hops = touches
      .withColumn("__next", lead(col("__ch"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .select(col("__u"), col("__ch"), col("__rn"),
        coalesce(col("__next"),
          when(col("__c") === 1, lit("CONV")).otherwise(lit("NULL")))
          .as("__to"))
    val starts = hops.filter(col("__rn") === 1)
      .select(lit("START").as("__from"), col("__ch").as("__to"))
    // users who convert with zero touches jump START → CONV directly
    val bare = converted.join(
        touches.select(col("__u")).distinct(), Seq("__u"), "left_anti")
      .select(lit("START").as("__from"), lit("CONV").as("__to"))
    val trans = hops.select(col("__ch").as("__from"), col("__to"))
      .unionByName(starts).unionByName(bare)
      .groupBy(col("__from"), col("__to"))
      .agg(count(lit(1)).as("__n"))
    // bounded collect: (channels + START) × (channels + CONV + NULL)
    val rows = trans.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val totalTrans = rows.map(_._3).sum
    val froms = rows.map(_._1).distinct.sorted
    val channels = (rows.map(_._1) ++ rows.map(_._2))
      .filter(s => s != "START" && s != "CONV" && s != "NULL")
      .distinct.sorted
    val out = froms.map { f =>
      val row = rows.filter(_._1 == f).sortBy(_._2)
      val tot = row.map(_._3).sum.toDouble
      f -> row.map { case (_, t, n) => t -> n / tot }
    }.toMap
    // fixed-iteration absorption probability with the scenario channel
    // (if any) clamped to 0 — identical recipe to the oracle's CTE
    def absorb(removed: Option[String]): Double = {
      var p = froms.map(_ -> 0.0).toMap
      var it = 0
      while (it < iters) {
        p = froms.map { f =>
          val pv = out(f).map { case (t, w0) =>
            val v =
              if (removed.contains(t)) 0.0
              else if (t == "CONV") 1.0
              else if (t == "NULL") 0.0
              else p.getOrElse(t, 0.0)
            w0 * v
          }.sum
          f -> (if (removed.contains(f)) 0.0 else pv)
        }.toMap
        it += 1
      }
      p.getOrElse("START", 0.0)
    }
    val base = absorb(None)
    // a chain that never converts has nothing to attribute: every
    // removal effect is 0 and the share column goes null
    def removalEffect(pc: Double): Double =
      if (base == 0) 0.0 else math.max(0.0, 1.0 - pc / base)
    val eff = channels.map(c => (c, absorb(Some(c))))
    val sumEff = eff.map { case (_, pc) => removalEffect(pc) }.sum
    import spark.implicits._
    eff.map { case (c, pc) =>
      val re = removalEffect(pc)
      (c, totalTrans,
        math.rint(base * 1e6) / 1e6, math.rint(pc * 1e6) / 1e6,
        math.rint(re * 1e6) / 1e6,
        if (sumEff == 0) None else Some(math.rint(re / sumEff * 1e6) / 1e6))
    }.toSeq
      .toDF("channel", "n_transitions", "p_conv_base",
        "p_conv_removed", "removal_effect", "attribution_share")
  }
}
