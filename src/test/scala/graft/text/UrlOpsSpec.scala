package graft.text

import graft.SparkSuite

/** URL canonicalization + eTLD+1 (q421's operators): the pinned
  * canonicalization contract case by case, and longest-suffix
  * resolution against a PSL-subset snapshot. */
class UrlOpsSpec extends SparkSuite {
  import spark.implicits._

  private def canon(u: String): Option[String] = {
    val r = Seq(Tuple1(u)).toDF("u")
      .select(UrlOps.canonicalizeUrl($"u")).head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  test("scheme/host lowercase, default ports dropped, fragment dropped") {
    assert(canon("HTTPS://WWW.Example.COM:443/Path#frag")
      .contains("https://www.example.com/Path"))
    assert(canon("http://a.com:80/x").contains("http://a.com/x"))
    // non-default port kept — including 443 on plain http
    assert(canon("http://a.com:443/x").contains("http://a.com:443/x"))
    assert(canon("https://a.com:8080/").contains("https://a.com:8080/"))
  }

  test("utm params dropped, others kept in order; empty query dropped") {
    assert(canon("https://a.com/p?utm_source=m&id=2&utm_campaign=x&b=1")
      .contains("https://a.com/p?id=2&b=1"))
    assert(canon("https://a.com/p?utm_source=m")
      .contains("https://a.com/p"))
    assert(canon("https://a.com?a=1").contains("https://a.com/?a=1"))
  }

  test("path normalization: empty → /, one trailing slash stripped") {
    assert(canon("https://a.com").contains("https://a.com/"))
    assert(canon("https://a.com/").contains("https://a.com/"))
    assert(canon("https://a.com/p/5/").contains("https://a.com/p/5"))
  }

  test("userinfo stripped from the host; malformed → null") {
    assert(canon("https://user:pw@a.com/x").contains("https://a.com/x"))
    assert(canon("not a url").isEmpty)
    assert(canon("/relative/only").isEmpty)
  }

  test("zero-padded default ports drop (numeric compare); kept ports " +
    "re-emit canonical digits") {
    assert(canon("http://a.com:080/x").contains("http://a.com/x"))
    assert(canon("https://a.com:0443/x").contains("https://a.com/x"))
    assert(canon("https://a.com:08080/x").contains("https://a.com:8080/x"))
  }

  test("urlHost mirrors canonicalizeUrl's NULL contract on malformed") {
    val r = Seq("not a url", "https://A.com:443/x", "/rel")
      .toDF("u").select(UrlOps.urlHost($"u")).collect()
      .map(row => if (row.isNullAt(0)) None else Some(row.getString(0)))
    assert(r.toSeq == Seq(None, Some("a.com"), None))
  }

  test("path rules: longest prefix wins, equal-length ties ALLOW, " +
    "no-rule default allows") {
    val rules = Seq(
      ("a.com", "/admin/", false),
      ("a.com", "/admin/public", true),
      ("a.com", "/dup", true),
      ("a.com", "/dup", false),
      ("b.com", "/", false)).toDF("host", "path_prefix", "allow")
    val rows = Seq(
      (1L, "a.com", "/admin/secret"),      // blocked by /admin/
      (2L, "a.com", "/admin/public/x"),    // longest prefix overrides
      (3L, "a.com", "/dup"),               // equal-length tie -> allow
      (4L, "a.com", "/free"),              // no rule -> default allow
      (5L, "b.com", "/anything"),          // site-wide block
      (6L, "c.com", "/admin/secret"))      // no rules for host at all
      .toDF("id", "host", "path")
    val got = UrlOps.applyPathRules(rows, "id", "host", "path", rules)
      .select($"id", $"allowed").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true,
      5L -> false, 6L -> true))
  }

  test("registrable domain: longest suffix wins, fallbacks pinned") {
    val suffixes = Seq("com", "uk", "co.uk", "ac.uk", "github.io", "io")
      .toDF("suffix")
    val hosts = Seq("www.example.co.uk", "example.co.uk", "co.uk",
      "deep.sub.example.ac.uk", "pages.github.io", "x.com",
      "example.zz", "single").toDF("host")
    val got = UrlOps.registrableDomain(hosts, "host", suffixes)
      .as[(String, Option[String])].collect().toMap
    assert(got("www.example.co.uk").contains("example.co.uk"))
    assert(got("example.co.uk").contains("example.co.uk"))
    // the host IS a public suffix → no registrable domain
    assert(got("co.uk").isEmpty)
    assert(got("deep.sub.example.ac.uk").contains("example.ac.uk"))
    // private-registry entry: the suffix is github.io, not io
    assert(got("pages.github.io").contains("pages.github.io"))
    assert(got("x.com").contains("x.com"))
    // unknown suffix → PSL default rule (last two labels)
    assert(got("example.zz").contains("example.zz"))
    assert(got("single").isEmpty)
  }

  test("registrable domain join-back: broadcast under the host " +
    "threshold, plain shuffle join beyond it") {
    val suffixes = Seq("com", "org").toDF("suffix")
    val hosts = (1 to 50).map(i => s"h$i.example.com").toDF("host")
    // pin the runtime knobs so AQE can't re-broadcast the shuffle side
    val conf = spark.conf
    val saved = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
      conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold"))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      def joins(threshold: Long): String = {
        val df = UrlOps.registrableDomain(hosts, "host", suffixes,
          broadcastHostThreshold = threshold)
        df.collect() // finalize the adaptive plan
        df.queryExecution.executedPlan.toString
      }
      val small = joins(Long.MaxValue)
      assert(small.contains("BroadcastHashJoin"),
        s"expected broadcast join-back under threshold:\n$small")
      val big = joins(0L)
      assert(big.contains("SortMergeJoin") ||
        big.contains("ShuffledHashJoin"),
        s"expected shuffle join-back over threshold:\n$big")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved._1)
      saved._2 match {
        case Some(v) =>
          conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }
}
