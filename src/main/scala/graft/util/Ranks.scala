package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Global row-number assignment with the [[graft.de.Stats.bhAdjust]]
  * size dispatch: a plain single-partition window below the threshold
  * (exact, simple, fine for bounded aggregates), and above it a
  * distributed two-pass rank — range-repartition on the sort key, count
  * rows per partition, then add each partition's global offset in one
  * mapPartitions sweep. No single-partition sort ever materializes on
  * the large path, and both paths produce the identical total order
  * (the caller supplies a tie-breaking sort, making row numbers
  * deterministic).
  */
object Ranks {

  /** Append `out` = 1-based global row number of `df` under `sortCols`
    * (which must define a TOTAL order — include a unique tie-break).
    * `n` is the caller-known row count (callers typically just counted
    * or aggregated the frame; passing it avoids a redundant job). */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
                      n: Long,
                      distributedThreshold: Long = Dispatch.threshold(2000000L)): DataFrame =
    if (n <= distributedThreshold)
      df.withColumn(out,
        row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
    else Pin.scope { pin =>
      val spark = df.sparkSession
      val nPart = math.max(spark.sparkContext.defaultParallelism,
        (n / 500000L).toInt + 1)
      val sorted = pin(df.repartitionByRange(nPart, sortCols: _*)
        .sortWithinPartitions(sortCols: _*))
      val counts = sorted.rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
        .collect().sortBy(_._1).map(_._2.toLong)
      val offsets = counts.scanLeft(0L)(_ + _)
      val schema = sorted.schema.add(out, LongType, nullable = false)
      val ranked = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        var r = offsets(pi)
        it.map { row => r += 1; Row.fromSeq(row.toSeq :+ r) }
      }
      spark.createDataFrame(ranked, schema).localCheckpoint()
    }

  /** Append `outRank` = 1-based global row number AND `outCum` = the
    * inclusive running sum of LongType column `sumCol`, both under the
    * total order `sortCols` — the rank-and-Pareto-mass shape (ABC
    * classification, Lorenz/contribution curves). Same size dispatch
    * as [[globalRowNumber]]: two windows sharing one sort below the
    * threshold; above it ONE range-repartition pass — per-partition
    * (count, sum) collected to the driver (2 longs per partition),
    * then a single mapPartitions sweep adds each partition's global
    * offsets. Null `sumCol` values add 0 to the running sum (and keep
    * their rank), matching `sum() over`'s null-skipping — including
    * the leading-null edge: rows before the first non-null value get
    * a NULL cumulative sum on BOTH paths (`sum() over` yields null
    * there; the sweep tracks a seen-non-null flag seeded from the
    * per-partition prefix). */
  def globalRunningStats(df: DataFrame, sortCols: Seq[Column],
                         sumCol: String, outRank: String, outCum: String,
                         n: Long,
                         distributedThreshold: Long = Dispatch.threshold(2000000L)): DataFrame = {
    require(df.schema(sumCol).dataType == LongType,
      s"globalRunningStats: $sumCol must be LongType (exact integer " +
        "units — the fixed-point cumulative-share discipline; both " +
        "dispatch paths must produce bit-identical sums)")
    if (n <= distributedThreshold) {
      val w = Window.orderBy(sortCols: _*)
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(outRank, row_number().over(w).cast("long"))
        .withColumn(outCum, sum(col(sumCol)).over(wc))
    } else Pin.scope { pin =>
      val spark = df.sparkSession
      val sumIdx = df.schema.fieldIndex(sumCol)
      val nPart = math.max(spark.sparkContext.defaultParallelism,
        (n / 500000L).toInt + 1)
      val sorted = pin(df.repartitionByRange(nPart, sortCols: _*)
        .sortWithinPartitions(sortCols: _*))
      val stats = sorted.rdd
        .mapPartitionsWithIndex { (i, it) =>
          var c = 0L; var s = 0L; var nn = 0L
          it.foreach { r =>
            c += 1
            if (!r.isNullAt(sumIdx)) { nn += 1; s += r.getLong(sumIdx) }
          }
          Iterator((i, c, s, nn))
        }
        .collect().sortBy(_._1)
      val rankOff = stats.map(_._2).scanLeft(0L)(_ + _)
      val sumOff = stats.map(_._3).scanLeft(0L)(_ + _)
      val nnPrefix = stats.map(_._4).scanLeft(0L)(_ + _)
      val schema = sorted.schema
        .add(outRank, LongType, nullable = false)
        .add(outCum, LongType, nullable = true)
      val swept = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        var r = rankOff(pi); var s = sumOff(pi)
        var seenNonNull = nnPrefix(pi) > 0L
        it.map { row =>
          r += 1
          if (!row.isNullAt(sumIdx)) { seenNonNull = true; s += row.getLong(sumIdx) }
          val cum: Any = if (seenNonNull) s else null
          Row.fromSeq(row.toSeq :+ r :+ cum)
        }
      }
      spark.createDataFrame(swept, schema).localCheckpoint()
    }
  }
}
