package graft.util

import org.apache.spark.unsafe.types.UTF8String

/** Spark's ascending string order, for rows already on the driver: with
  * `SQLOrderingUtil.compareDoubles` for doubles, a driver sort puts rows
  * where `orderBy` puts them. */
object DriverOrder {

  /** Strings: nulls first, then `UTF8String` byte order (not the UTF-16
    * order of `String.compareTo`). */
  def strings(a: String, b: String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
}
