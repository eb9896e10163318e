package graft.web

import graft.SparkSuite

/** Crawl-lifecycle operators: cross-snapshot CDC statuses (incl. the
  * NULL-hash contract), churn arithmetic, and the fair-share budget
  * allocation's floor/cap/zero-total behavior. */
class CrawlSpec extends SparkSuite {
  import spark.implicits._

  test("crawlDelta: new/gone/changed/unchanged; NULL hash is a change " +
    "unless both NULL") {
    val a = Seq(
      ("u1", "h1"), ("u2", "h2"), ("u3", "h3"),
      ("u5", null.asInstanceOf[String]), ("u6", null.asInstanceOf[String]))
      .toDF("url", "h")
    val b = Seq(
      ("u1", "h1"),  // unchanged
      ("u2", "hX"),  // changed
      ("u4", "h4"),  // new
      ("u5", "h5"),  // null -> value: changed
      ("u6", null.asInstanceOf[String]))  // null == null: unchanged
      .toDF("url", "h")
    val got = Crawl.crawlDelta(a, b, "url", "h")
      .as[(String, String)].collect().toMap
    assert(got == Map("u1" -> "unchanged", "u2" -> "changed",
      "u3" -> "gone", "u4" -> "new", "u5" -> "changed",
      "u6" -> "unchanged"))
  }

  test("deltaByHost: counts and integer half-up churn") {
    val delta = Seq(
      ("https://a.com/1", "new"), ("https://a.com/2", "gone"),
      ("https://a.com/3", "changed"), ("https://a.com/4", "unchanged"),
      ("https://a.com/5", "unchanged"), ("https://a.com/6", "unchanged"),
      ("https://b.com/1", "unchanged")).toDF("url", "status")
    val got = Crawl.deltaByHost(delta, graft.text.UrlOps.urlHost($"url"))
      .orderBy($"host")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    // a.com: 3 of 6 churned -> 0.5 exactly; b.com: 0/1
    assert(got.toSeq == Seq(
      ("a.com", 1L, 1L, 1L, 3L, 6L, 0.5),
      ("b.com", 0L, 0L, 0L, 1L, 1L, 0.0)))
  }

  test("deltaByHost churn: .xxxx5 boundary rounds half-up in integer " +
    "space (1/8 of 8 urls -> 0.125 at 4dp stays exact; 1/16 -> 0.0625; " +
    "1/3 -> 0.3333)") {
    def churnOf(nChurn: Int, nTotal: Int): Double = {
      val rows = (1 to nTotal).map(i =>
        (s"https://x.com/$i", if (i <= nChurn) "new" else "unchanged"))
      Crawl.deltaByHost(rows.toDF("url", "status"),
          graft.text.UrlOps.urlHost($"url"))
        .select("churn").as[Double].head()
    }
    assert(churnOf(1, 8) == 0.125)
    assert(churnOf(1, 16) == 0.0625)  // exactly representable, exact emit
    assert(churnOf(1, 3) == 0.3333)   // truncating round would give .3333
    assert(churnOf(2, 3) == 0.6667)   // half-up at the repeating boundary
  }

  test("crawlBudget: proportional floor shares, per-site cap, " +
    "zero-allowed site, all-blocked corpus") {
    val dec = (
      (1 to 60).map(i => (s"s1", s"/p$i", true)) ++
      (1 to 30).map(i => (s"s2", s"/p$i", true)) ++
      (1 to 10).map(i => (s"s2", s"/b$i", false)) ++
      (1 to 10).map(i => (s"s3", s"/b$i", false))
    ).toDF("site", "path", "allowed")
    val got = Crawl.crawlBudget(dec, "site", "allowed",
        totalBudget = 90L, perSiteCap = 50L)
      .orderBy($"site")
      .as[(String, Long, Long, Double, Long)].collect()
    // total allowed = 90; s1: 60*90/90=60 -> capped 50; s2: 30*90/90=30;
    // s3: 0 allowed -> 0. allow rates: 1.0, 0.75, 0.0
    assert(got.toSeq == Seq(
      ("s1", 60L, 60L, 1.0, 50L),
      ("s2", 40L, 30L, 0.75, 30L),
      ("s3", 10L, 0L, 0.0, 0L)))
    // all-blocked corpus: zero total must not divide by zero
    val blocked = Seq(("s1", "/a", false), ("s2", "/b", false))
      .toDF("site", "path", "allowed")
    val zeros = Crawl.crawlBudget(blocked, "site", "allowed", 100L, 10L)
      .select("budget").as[Long].collect()
    assert(zeros.toSeq == Seq(0L, 0L))
  }
}
