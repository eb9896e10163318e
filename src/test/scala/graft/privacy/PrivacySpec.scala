package graft.privacy

import graft.SparkSuite

class PrivacySpec extends SparkSuite {
  import spark.implicits._

  // quasi-identifier (seg, nation): AB×1 has 3 rows, CD×1 has 2, EF×2 has 1
  private lazy val rows = Seq(
    (1L, "AB", 1), (2L, "AB", 1), (3L, "AB", 1),
    (4L, "CD", 1), (5L, "CD", 1),
    (6L, "EF", 2)
  ).toDF("id", "seg", "nation")

  test("suppressionReport: per-k groups, rows, suppressed fraction") {
    val got = Privacy.suppressionReport(rows, Seq("seg", "nation"),
        Seq(1L, 2L, 3L, 10L))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 6L, 0.0)))
    assert(got(2L) == ((2L, 2L, 5L, 0.1667)))
    assert(got(3L) == ((3L, 1L, 3L, 0.5)))
    assert(got(10L) == ((10L, 0L, 0L, 1.0)))   // everything suppressed
  }

  test("null quasi-identifier values group together (nulls are linkable)") {
    val withNull = Seq((1L, Option.empty[String]), (2L, None), (3L, Some("X")))
      .toDF("id", "seg")
    val got = Privacy.suppressionReport(withNull, Seq("seg"), Seq(2L))
      .as[(Long, Long, Long, Double)].collect()
    // the two null-seg rows form one group of 2 and protect each other
    assert(got.toSeq == Seq((2L, 1L, 2L, 0.3333)))
  }
}
