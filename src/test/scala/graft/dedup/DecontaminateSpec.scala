package graft.dedup

import graft.SparkSuite

class DecontaminateSpec extends SparkSuite {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "a b c d e f g h i j"),            // shares the 8-gram a..h with bench
    (2L, "x b c d e f g h i j"),            // shares b..i and c..j
    (3L, "totally different words with no overlap at all here")
  ).toDF("id", "text")
  private val bench = Seq(
    (100L, "a b c d e f g h i j")).toDF("id", "text")

  test("overlaps counts shared distinct 8-grams; clean docs absent") {
    val got = Decontaminate.overlaps(corpus, "id", "text", bench, "text",
        shingleSize = 8, minOverlap = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 == bench doc: all 3 of its 8-grams overlap
    assert(got(1L) == 3L)
    // doc 2 shares the two 8-grams not containing the mutated first token
    assert(got(2L) == 2L)
    assert(!got.contains(3L))
  }

  test("overlaps: a higher minOverlap spares the partial match") {
    def flagged(minOverlap: Int): Seq[Long] =
      Decontaminate.overlaps(corpus, "id", "text", bench, "text",
          minOverlap = minOverlap)
        .select("id").as[Long].collect().sorted.toSeq
    assert(flagged(1) == Seq(1L, 2L))
    assert(flagged(3) == Seq(1L))
  }

  test("contaminationFraction: graded per-doc n-gram overlap share") {
    // doc 1 has 3 distinct 8-grams (a..h, b..i, c..j); bench holds a..h
    // exactly -> 1/3. doc 2 shares b..i and c..j -> 2/3. doc 3 clean.
    val got = Decontaminate.contaminationFraction(
        corpus, "id", "text", bench, "text")
      .select("id", "n_shingles", "n_contaminated", "contamination_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)))   // all three of doc 1's 8-grams are in bench
    assert(got(2L) == ((3L, 2L, 0.6667)))
    assert(!got.contains(3L))
    val all = Decontaminate.contaminationFraction(
        corpus, "id", "text", bench, "text", onlyContaminated = false)
      .select("id").as[Long].collect()
    assert(all.sorted.toSeq == Seq(1L, 2L, 3L))
  }
}
