package graft.graph

import org.apache.spark.sql.{DataFrame, Row}

/** The one driver-collect rule of the graph operators.
  *
  * Every operator that can run on a collected graph decides its path
  * here: the size dispatches (driver loop vs distributed DataFrame
  * loop) take the driver branch on `Some` and the distributed branch on
  * `None`; the driver-collectable contract guards (betweenness, Cut)
  * fail on `None`. The decision and the collect are one action per
  * frame, so no operator counts or collects its inputs on its own.
  */
private[graph] object DriverCollect {

  /** The frame's rows when it holds at most `cap` rows, else `None`.
    *
    * The collect is `limit(cap + 1)`: one row past the cap decides, so
    * at most cap + 1 rows are kept. Spark's take scans the partitions
    * in growing batches and each scanned partition sends at most
    * cap + 1 rows, so what reaches the driver is bounded by the cap
    * (times the partitions of one batch), not by the frame. Rows come
    * back in partition order, the order a plain `collect()` gives. A
    * negative cap (`Dispatch.threshold` under the forced-distributed
    * flag) decides `None` without running a job, even on empty input. */
  def ifFits(frame: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap < 0) None
    else {
      val rows = frame.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (rows.length <= cap) Some(rows) else None
    }

  /** Both frames' rows when each fits under its cap; the second frame
    * is not read when the first does not fit. */
  def ifFits(nodes: DataFrame, nodeCap: Long, edges: DataFrame,
             edgeCap: Long): Option[(Array[Row], Array[Row])] =
    for {
      nodeRows <- ifFits(nodes, nodeCap)
      edgeRows <- ifFits(edges, edgeCap)
    } yield (nodeRows, edgeRows)
}
