package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Multi-action input pinning (optimization guide §1.2/§5).
  *
  * An unpersisted input DataFrame is re-executed from source on EVERY
  * action — for catalog queries whose node/edge frames derive from a
  * 4-table fact join, a count-then-collect sequence replayed that join
  * up to 4× (measured on q80_pagerank: ~31 stages, 4 identical ~0.25 s
  * pipeline executions). The graph operators' driver branches read
  * each input once (`graft.graph.DriverCollect`); the distributed
  * loops that read an input more than once (eigenvector, pageRank,
  * hits, k-core) pin it here.
  *
  * `pinned(dfs){body}` persists the given frames for the duration of
  * `body` and unpersists them after. Frames the CALLER already
  * persisted are left untouched (their lifecycle is the caller's).
  * Correctness-neutral by construction: unpersist only drops cached
  * blocks — any consumer evaluated later recomputes from source.
  * Callers whose returned frame must outlive the pin materialize it
  * first (every distributed graph loop localCheckpoints its rounds;
  * driver paths return collected-array results).
  */
object Pin {
  def pinned[T](dfs: DataFrame*)(body: => T): T = {
    val mine = dfs.filter(_.storageLevel == StorageLevel.NONE)
    mine.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body
    finally mine.foreach(_.unpersist(false))
  }

  /** Conf key for [[primeShared]] — the utilization dispatch for the
    * duplicate-materialization race (round-15 VERDICT item 6). */
  val PrimeSharedKey = "spark.graft.primeSharedFrames"

  /** Optionally materialize a freshly-persisted MULTI-CONSUMER frame
    * once (a count() action) before its consumer branches race to
    * populate it; dispatched on `spark.graft.primeSharedFrames`
    * (default false = race).
    *
    * Both modes are measured. At bench grain (idle 32-core host, tiny
    * data) the duplicated builds OVERLAP on idle cores and cost ~no
    * wall clock, while a priming count SERIALIZES a full build ahead
    * of every consumer — priming regressed q24 1.64x / q153 1.37x
    * (r14, `artifacts/r14opt/ab_batch1.log`); that is why the default
    * races. At saturated cluster utilization the trade inverts: with
    * no idle cores to hide them, every concurrent consumer pays its
    * own full build of the SAME frame (the cache-population race:
    * each branch computes all partitions before any are published),
    * so one serialized build is strictly cheaper — set the conf true
    * there. An automatic signal (executor busy fraction at plan time)
    * is not observable from an operator library without a scheduler
    * listener; the conf keeps the dispatch explicit, testable, and
    * scale-parameterised rather than tuned to local[32]. SCALE.md
    * records the saturated-mode reasoning. */
  def primeShared(df: DataFrame): DataFrame = {
    if (df.sparkSession.conf.getOption(PrimeSharedKey)
        .exists(_.toBoolean)) df.count()
    df
  }
}
