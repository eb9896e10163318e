package graft.util

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

/** The contract of [[Pin.scope]], the one owner of operator-internal
  * caching: a pinned frame is cached at MEMORY_AND_DISK inside the
  * scope and released when the scope returns or throws; a frame the
  * caller cached stays the caller's; a result materialized inside the
  * scope stays readable after it. Suites run one after another in the
  * forked test JVM, so the session's cache manager is this suite's
  * alone while a test runs. */
class PinSpec extends SparkSuite {

  private def cached = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  private def frame() = spark.range(100).select((col("id") % 7).as("k"))

  test("a pinned frame is cached inside the scope and released after it") {
    spark.catalog.clearCache()
    val d = frame()
    val n = Pin.scope { pin =>
      assert(pin(d) eq d)
      assert(d.storageLevel == StorageLevel.MEMORY_AND_DISK)
      d.count()
    }
    assert(n == 100L)
    assert(d.storageLevel == StorageLevel.NONE)
    assert(cached.isEmpty)
  }

  test("a frame the caller already cached stays cached") {
    spark.catalog.clearCache()
    val d = frame().persist(StorageLevel.MEMORY_ONLY)
    try {
      Pin.scope { pin => pin(d).count() }
      assert(d.storageLevel == StorageLevel.MEMORY_ONLY)
    } finally d.unpersist(true)
    assert(cached.isEmpty)
  }

  test("an exception in the body still releases every pin") {
    spark.catalog.clearCache()
    val e = intercept[IllegalStateException] {
      Pin.scope { pin =>
        pin(frame()).count()
        pin(frame().filter(col("k") > 2)).count()
        throw new IllegalStateException("body failed after two pins")
      }
    }
    assert(e.getMessage == "body failed after two pins")
    assert(cached.isEmpty)
  }

  test("a result localCheckpointed inside the scope is readable after it") {
    spark.catalog.clearCache()
    val r = Pin.scope { pin =>
      val d = pin(frame())
      d.groupBy("k").count().localCheckpoint()
    }
    assert(cached.isEmpty)
    assert(r.orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(15L, 15L, 14L, 14L, 14L, 14L, 14L))
  }
}
