package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Misra–Gries heavy-hitters sketch as a typed [[Aggregator]] — the
  * UDAF member of the custom-function surface (the expression family
  * covers scalars: simhash64, bloom_might_contain, t_test_pvalue; this covers
  * the "novel sketch as aggregate" case the brief calls out).
  *
  * Classic k-counter summary: each partition folds its items into at
  * most k counters (decrementing all when a new item overflows the
  * budget); partial sketches MERGE by summing counters and subtracting
  * the (k+1)-th largest count when over budget — the standard
  * mergeability construction, so the aggregate is map-side-partial
  * like any built-in. Guarantees (property-tested, not assumed):
  * every item with true frequency > n/(k+1) is present in the output,
  * and each reported estimate undercounts by at most n/(k+1).
  *
  * The ESTIMATES depend on partition order (inherent to the sketch —
  * this is an approximate operator, documented as such); the output is
  * sorted (estimate desc, item asc) so downstream consumption is
  * stable given the same partials. Exactness-critical callers join the
  * candidate set back to the data for true counts — the sketch's job
  * is candidate RECALL, which the n/(k+1) bound makes deterministic.
  *
  * Buffer ships as a kryo blob: a sketch buffer is an opaque bounded
  * map (≤ k entries) whose payload never exceeds k·(item+8B), the
  * documented trade for any sketch UDAF vs a codegen'd expression.
  */
object MisraGries {

  final case class Hit(item: String, estimate: Long)

  private class MgAgg(k: Int)
    extends Aggregator[String, mutable.HashMap[String, Long], Seq[Hit]] {

    def zero: mutable.HashMap[String, Long] =
      mutable.HashMap.empty[String, Long]

    def reduce(b: mutable.HashMap[String, Long],
               item: String): mutable.HashMap[String, Long] = {
      if (item != null) {
        b.get(item) match {
          case Some(c) => b.update(item, c + 1)
          case None if b.size < k => b.update(item, 1L)
          case None =>
            // decrement-all; drop zeros (the classic step)
            val dead = mutable.ArrayBuffer.empty[String]
            b.keysIterator.foreach { key =>
              val nc = b(key) - 1
              if (nc == 0) dead += key else b.update(key, nc)
            }
            dead.foreach(b.remove)
        }
      }
      b
    }

    def merge(a: mutable.HashMap[String, Long],
              b: mutable.HashMap[String, Long])
      : mutable.HashMap[String, Long] = {
      b.foreach { case (item, c) =>
        a.update(item, a.getOrElse(item, 0L) + c)
      }
      if (a.size > k) {
        // subtract the (k+1)-th largest count, keep positives
        val kth = a.values.toArray.sorted(Ordering[Long].reverse)(k)
        val dead = mutable.ArrayBuffer.empty[String]
        a.keysIterator.foreach { key =>
          val nc = a(key) - kth
          if (nc <= 0) dead += key else a.update(key, nc)
        }
        dead.foreach(a.remove)
      }
      a
    }

    def finish(b: mutable.HashMap[String, Long]): Seq[Hit] =
      b.toSeq.map { case (i, c) => Hit(i, c) }
        .sortBy(h => (-h.estimate, h.item))

    def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
      Encoders.kryo[mutable.HashMap[String, Long]]

    def outputEncoder: Encoder[Seq[Hit]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Aggregate Column: array<struct<item, estimate>> of at most k
    * heavy-hitter candidates of the given string column. */
  def heavyHitters(column: Column, k: Int): Column = {
    require(k >= 1, "k must be >= 1")
    udaf(new MgAgg(k), Encoders.STRING).apply(column)
  }
}
