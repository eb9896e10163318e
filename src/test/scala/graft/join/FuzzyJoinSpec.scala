package graft.join

import graft.SparkSuite

class FuzzyJoinSpec extends SparkSuite {
  import spark.implicits._

  private val names = Seq(
    (1L, "acme corp"), (2L, "acme corp."), (3L, "acme inc"),
    (4L, "zenith ltd"), (5L, "zenith ltd"), (6L, "acne corp")
  ).toDF("id", "nm")

  test("selfDeletionNeighborhood d=1: complete recall across prefix " +
    "boundaries, exact parity with a brute-force verify") {
    // (1,6) "acme corp"/"acne corp" is dist 1 but differs INSIDE any
    // prefix — the pair prefix blocking structurally misses
    val got = FuzzyJoin.selfDeletionNeighborhood(names, "id", "nm",
        maxDist = 1)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
      .collect().toSet
    assert(got == Set((1L, 2L, 1), (4L, 5L, 0), (1L, 6L, 1)))
  }

  test("selfDeletionNeighborhood d=2: matches brute-force levenshtein " +
    "on every pair (substitutions, insertions, deletions, transposed " +
    "spellings)") {
    val df = Seq((1L, "jonathan"), (2L, "johnathan"), (3L, "jonathon"),
      (4L, "jon"), (5L, "jonatha"), (6L, "xzqv"),
      (7L, "joanathan")).toDF("id", "nm")
    val got = FuzzyJoin.selfDeletionNeighborhood(df, "id", "nm",
        maxDist = 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
      .collect().toSet
    // brute-force oracle on the driver (7 strings)
    val rows = df.as[(Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      dd = lev(sa, sb) if dd <= 2
    } yield (ia, ib, dd)).toSet
    assert(got == expect, s"got $got expected $expect")
  }
}
