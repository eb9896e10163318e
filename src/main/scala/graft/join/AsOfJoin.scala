package graft.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of joins: for each left row, the single right row nearest in time
  * within the same key — backward (largest right time <= left time; the
  * point-in-time lookup of DuckDB/kdb `ASOF JOIN`, pandas `merge_asof`)
  * and forward (smallest right time >= left time; next-event
  * attribution). Spark has no built-in operator for either.
  *
  * A naive translation is a non-equi join (`l.key = r.key AND l.ts >=
  * r.ts`) + argmax — Spark plans that as a per-key cartesian explosion
  * (every left row joins every earlier right row before the argmax
  * prunes), quadratic per key and a guaranteed scale-killer on 100 TB of
  * events. This operator instead UNIONS the two tagged inputs and takes
  * one window pass: partition by key, order by (time, side), carry the
  * nearest right payload across (last non-null over a running frame for
  * backward, first non-null over the mirrored frame for forward). Cost =
  * one shuffle of (left + right) on the key + a per-key sort — the same
  * price as a single sort-merge join, linear in input, no row
  * amplification; Spark evaluates both frame shapes streamingly within
  * each partition.
  *
  * Ties: a right row at exactly left time is visible when `strict =
  * false` (sorted on the frame side of the left row via the side tag),
  * hidden when `strict = true`. Multiple right rows sharing (key, time)
  * resolve deterministically by `rightTieBreak` — backward keeps the
  * LARGEST tie-break (latest in carry order), forward the SMALLEST — so
  * results never depend on partitioning.
  *
  * `toleranceSec` bounds the match staleness (pandas merge_asof
  * `tolerance`): a matched right row farther than this many seconds from
  * the left time is nulled out, left-outer semantics preserved.
  *
  * Output: every left row with a non-null time (left-outer over that
  * set) with the matched right payload struct's fields appended (null
  * fields when no qualifying right row). Left rows with a NULL time are
  * dropped entirely (fuzz-37 contract: a null instant is no observation
  * on a time axis — engines disagree on what an "as of null" probe
  * should match, so the operator refuses to answer it).
  */
object AsOfJoin {

  /** Backward as-of: latest right row at-or-before (or strictly before
    * when `strict`) each left row's time. */
  def asOfBackward(left: DataFrame, right: DataFrame,
                   key: String, time: String,
                   payload: Seq[String],
                   strict: Boolean = false,
                   rightTieBreak: Option[String] = None,
                   toleranceSec: Option[Long] = None): DataFrame =
    asOf(left, right, key, time, payload, strict, rightTieBreak,
      toleranceSec, backward = true)

  /** Forward as-of: earliest right row at-or-after (or strictly after
    * when `strict`) each left row's time. */
  def asOfForward(left: DataFrame, right: DataFrame,
                  key: String, time: String,
                  payload: Seq[String],
                  strict: Boolean = false,
                  rightTieBreak: Option[String] = None,
                  toleranceSec: Option[Long] = None): DataFrame =
    asOf(left, right, key, time, payload, strict, rightTieBreak,
      toleranceSec, backward = false)

  private def asOf(left: DataFrame, right: DataFrame,
                   key: String, time: String, payload: Seq[String],
                   strict: Boolean, rightTieBreak: Option[String],
                   toleranceSec: Option[Long],
                   backward: Boolean): DataFrame = {
    val reserved = Seq("__side", "__payload", "__tie", "__m", "__rt")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"inputs must not contain ${reserved.mkString("/")} columns")
    require(payload.nonEmpty, "payload must name at least one right column")
    require(payload.forall(p => !left.columns.contains(p)),
      "payload column names must not collide with left columns — rename " +
        "the right side's payload columns before joining")
    // The plain join orders on ANY orderable time type, but the tolerance
    // gap is computed in microseconds via unix_micros, which requires
    // TIMESTAMP — fail upfront instead of only when tolerance is set on
    // an epoch-long column (an asymmetric, hard-to-debug contract).
    toleranceSec.foreach { _ =>
      Seq("left" -> left, "right" -> right).foreach { case (side, df) =>
        require(df.schema(time).dataType ==
          org.apache.spark.sql.types.TimestampType,
          s"toleranceSec requires a TIMESTAMP `$time` column; the $side " +
            s"side has ${df.schema(time).dataType.simpleString} — cast " +
            "it to timestamp or drop the tolerance")
      }
    }

    // The right row at exactly the left row's time must fall INSIDE the
    // carry frame for inclusive semantics and OUTSIDE for strict. The
    // frame for backward is (unbounded preceding .. current), so
    // inclusive puts right rows first at equal times; forward mirrors.
    val rightFirst = if (backward) !strict else strict
    val (rightSide, leftSide) = if (rightFirst) (0, 1) else (1, 0)

    // The matched right TIME rides the payload struct for the tolerance
    // check (aliased to a reserved slot, stripped before output).
    val payloadStruct = struct(
      (payload.map(col) :+ col(time).as("__rt")): _*)

    // the tie-break keeps its NATIVE orderable type — casting to long
    // would null out string ids (silently losing determinism) and
    // collapse sub-second timestamps to seconds
    val tieType = rightTieBreak
      .map(c => right.schema(c).dataType)
      .getOrElse(org.apache.spark.sql.types.LongType)
    val leftCols = left.columns.map(col)
    // The LEFT side is complete-case on time too (fuzz-37): a
    // null-instant probe row cannot ask "as of when?" — and engines
    // disagree on what to hand it (the declarative form keeps it with
    // a null payload, DuckDB's native ASOF picks an arbitrary match).
    val lhs = left.filter(col(time).isNotNull).select(
      (leftCols :+ lit(leftSide).as("__side")
        :+ lit(null).cast(structType(right, payload, time)).as("__payload")
        :+ lit(null).cast(tieType).as("__tie")): _*)
    // Join-semantics null handling: a right row with a null key or time
    // can never satisfy `l.key = r.key AND l.t >= r.t` in the
    // declarative form (or DuckDB ASOF), but unfiltered it WOULD match
    // here — null keys group together under partitionBy and a null time
    // sorts to the partition head where the backward carry picks it up.
    val rhs = right
      .filter(col(key).isNotNull && col(time).isNotNull)
      .select(
        col(key), col(time), lit(rightSide).as("__side"),
        payloadStruct.as("__payload"),
        rightTieBreak.map(col).getOrElse(lit(0L)).as("__tie"))
    // Align columns: left-only columns become null on the right side.
    val rhsAligned = lhs.columns.foldLeft(rhs) {
      case (df, c) if !df.columns.contains(c) =>
        df.withColumn(c, lit(null).cast(fieldType(left, c)))
      case (df, _) => df
    }.select(lhs.columns.map(col): _*)

    // Backward carries the LAST right payload of the preceding frame
    // (largest tie-break among equal times — __tie ascending puts it
    // last); forward takes the FIRST of the following frame (smallest).
    val ord = Seq(col(time).asc, col("__side").asc,
      col("__tie").asc_nulls_first)
    val base = Window.partitionBy(col(key)).orderBy(ord: _*)
    val (w, carry) =
      if (backward)
        (base.rowsBetween(Window.unboundedPreceding, Window.currentRow),
          last(col("__payload"), ignoreNulls = true))
      else
        (base.rowsBetween(Window.currentRow, Window.unboundedFollowing),
          first(col("__payload"), ignoreNulls = true))

    val matched = lhs.unionByName(rhsAligned)
      .withColumn("__m", carry.over(w))
      .filter(col("__side") === leftSide)

    val withinTol = toleranceSec match {
      case None => col("__m")
      case Some(tol) =>
        val gap =
          if (backward) unix_micros(col(time)) - unix_micros(col("__m.__rt"))
          else unix_micros(col("__m.__rt")) - unix_micros(col(time))
        when(gap <= tol * 1000000L, col("__m"))
          .otherwise(lit(null).cast(structType(right, payload, time)))
    }

    // Null-time left rows were dropped at lhs construction (fuzz-37:
    // they are not observations on the time axis), so this guard is a
    // belt-and-braces no-op kept for defense in depth. Null-KEY left
    // rows are safe once null-key right rows are filtered (their
    // partition has no right rows) and are KEPT with null payload —
    // only the null-TIME rows are dropped.
    val guarded = when(col(time).isNotNull, withinTol)
    val out = left.columns.map(col) ++
      payload.map(p => guarded.getField(p).as(p))
    matched.select(out: _*)
  }

  private def structType(df: DataFrame, cols: Seq[String], time: String) =
    org.apache.spark.sql.types.StructType(
      cols.map(c => df.schema(c)) :+
        df.schema(time).copy(name = "__rt"))

  private def fieldType(df: DataFrame, c: String) = df.schema(c).dataType
}
