package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of operator-internal caching.
  *
  * An unpersisted DataFrame is re-executed from source on EVERY action
  * that reads it — for catalog queries whose frames derive from a
  * 4-table fact join, a count-then-collect sequence replayed that join
  * up to 4× (measured on q80_pagerank). An operator that reads a frame
  * more than once pins it, inside one scope:
  *
  * {{{
  * Pin.scope { pin =>
  *   val b = pin(baskets(df))          // persisted, MEMORY_AND_DISK
  *   val n = b.count()                 // fills the cache
  *   pairs(b, n).localCheckpoint()     // materialized before release
  * }
  * }}}
  *
  * The rule: `pin(df)` persists `df` unless the caller already cached
  * it (that lifecycle stays the caller's), and the scope unpersists,
  * non-blocking and newest first, every frame it pinned — in a
  * `finally`, so a `require` that trips after the persist, or any other
  * exception, releases too. A result that must outlive the scope is
  * materialized inside it (`localCheckpoint`, a collect) or never read
  * the pinned frames lazily. No other src/main code calls `persist`,
  * `cache` or `unpersist`, except the per-round lineage cuts of the
  * distributed iterative loops (`SessionHygieneSpec` lists them).
  *
  * Correctness-neutral by construction: unpersist only drops cached
  * blocks, and any consumer evaluated later recomputes from source.
  */
object Pin {

  /** The frames one [[scope]] pinned, in pin order. */
  final class Scope private[Pin] {
    private var mine = List.empty[DataFrame]

    /** `df`, persisted at MEMORY_AND_DISK until the scope ends — or
      * untouched when it is already cached. */
    def apply(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE) {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        mine ::= df
      }
      df
    }

    private[Pin] def release(): Unit = {
      mine.foreach(_.unpersist(false))
      mine = Nil
    }
  }

  /** Runs `body` with a fresh [[Scope]] and releases what it pinned
    * when `body` returns or throws. */
  def scope[T](body: Scope => T): T = {
    val pin = new Scope
    try body(pin)
    finally pin.release()
  }
}
