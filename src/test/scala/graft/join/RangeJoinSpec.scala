package graft.join

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSuite

class RangeJoinSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val intervals = Seq(
    (1L, 5L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
    (2L, 5L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:40:00")),
    (3L, 6L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
    (4L, 7L, ts("2024-01-02 00:00:00"), ts("2024-01-02 01:00:00"))
  ).toDF("iid", "k", "s", "e")

  private lazy val points = Seq(
    (5L, ts("2024-01-01 10:00:00"), 10L),  // == start: included
    (5L, ts("2024-01-01 10:35:00"), 11L),  // inside both iid 1 and 2
    (5L, ts("2024-01-01 11:00:00"), 12L),  // == end: excluded
    (6L, ts("2024-01-01 10:59:59"), 13L),  // inside iid 3
    (6L, ts("2024-01-02 00:30:00"), 14L),  // right key, wrong time
    (8L, ts("2024-01-01 10:30:00"), 15L)   // key with no interval
  ).toDF("k", "pt", "pid")

  private def pairs(bandSec: Long): Set[(Long, Long)] =
    RangeJoin.bandedIntervalJoin(intervals, points, "k", "s", "e", "pt", bandSec)
      .select("iid", "pid").as[(Long, Long)].collect().toSet

  private val expected = Set((1L, 10L), (1L, 11L), (2L, 11L), (3L, 13L))

  test("half-open [start, end) boundary semantics") {
    assert(pairs(3600) == expected)
  }

  test("band width does not change results, only candidate slop") {
    for (w <- Seq(1L, 60L, 600L, 7200L, 86400L)) {
      assert(pairs(w) == expected, s"band width $w")
    }
  }

  test("matches the declarative inequality join on random data") {
    val ints = spark.range(80).select(col("id").as("iid"),
      (col("id") % 7).as("k"),
      to_timestamp(lit("2024-01-01 00:00:00")).cast("long")
        .plus(pmod(col("id") * 7919, lit(50000))).cast("timestamp").as("s"))
      .withColumn("e", col("s").cast("long")
        .plus(pmod(col("iid") * 31, lit(5000)) + 1).cast("timestamp"))
    val pts = spark.range(600).select((col("id") % 7).as("k"),
      to_timestamp(lit("2024-01-01 00:00:00")).cast("long")
        .plus(pmod(col("id") * 104729, lit(60000))).cast("timestamp").as("pt"),
      col("id").as("pid"))

    val got = RangeJoin.bandedIntervalJoin(ints, pts, "k", "s", "e", "pt", 600)
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    val oracle = ints.join(pts,
        ints("k") === pts("k") && col("pt") >= col("s") && col("pt") < col("e"))
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    assert(got == oracle)
    assert(oracle.nonEmpty)
  }

  test("inverted intervals (end < start) are dropped, not band-exploded") {
    val bad = Seq((1L, 5L, ts("2024-01-10 00:00:00"), ts("2024-01-01 00:00:00")))
      .toDF("iid", "k", "s", "e")
    val got = RangeJoin.bandedIntervalJoin(bad, points, "k", "s", "e", "pt", 60)
    assert(got.count() == 0)
  }

  test("colliding point column names are rejected") {
    val e = intercept[IllegalArgumentException] {
      RangeJoin.bandedIntervalJoin(intervals,
        points.withColumnRenamed("pt", "s"), "k", "s", "e", "s", 60)
    }
    assert(e.getMessage.contains("collide"))
  }

  test("bandedOverlapJoin: half-open semantics, no duplicate pairs") {
    val left = Seq(
      (1L, 9L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      (2L, 9L, ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00"))
    ).toDF("lid", "k", "ls", "le")
    val right = Seq(
      // overlaps lid 1 across SEVERAL shared bands at width 60 — must
      // still emit exactly one pair
      (10L, 9L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:59:00")),
      // touches lid 1's end exactly: half-open -> no overlap
      (11L, 9L, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:30:00")),
      // overlaps lid 2's start boundary region
      (12L, 9L, ts("2024-01-01 11:59:00"), ts("2024-01-01 12:01:00"))
    ).toDF("rid", "k", "rs", "re")
    for (w <- Seq(60L, 600L, 3600L)) {
      val got = RangeJoin.bandedOverlapJoin(left, right, "k",
          "ls", "le", "rs", "re", w)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq
      assert(got.size == got.toSet.size, s"dup pairs at width $w")
      assert(got.toSet == Set((1L, 10L), (2L, 12L)), s"width $w")
    }
  }

  test("bandedOverlapJoin matches the declarative overlap join") {
    val l = spark.range(60).select(col("id").as("lid"),
      (col("id") % 5).as("k"),
      to_timestamp(lit("2024-01-01 00:00:00")).cast("long")
        .plus(pmod(col("id") * 7919, lit(40000))).cast("timestamp").as("ls"))
      .withColumn("le", col("ls").cast("long")
        .plus(pmod(col("lid") * 31, lit(6000)) + 1).cast("timestamp"))
    val r = spark.range(80).select(col("id").as("rid"),
      (col("id") % 5).as("k"),
      to_timestamp(lit("2024-01-01 00:00:00")).cast("long")
        .plus(pmod(col("id") * 104729, lit(40000))).cast("timestamp").as("rs"))
      .withColumn("re", col("rs").cast("long")
        .plus(pmod(col("rid") * 17, lit(3000)) + 1).cast("timestamp"))
    val got = RangeJoin.bandedOverlapJoin(l, r, "k",
        "ls", "le", "rs", "re", 600)
      .select("lid", "rid").as[(Long, Long)].collect()
    val oracle = l.join(r, l("k") === r("k") &&
        col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got.length == oracle.size)   // no duplicates slipped through
    assert(got.toSet == oracle)
    assert(oracle.nonEmpty)
  }
}
