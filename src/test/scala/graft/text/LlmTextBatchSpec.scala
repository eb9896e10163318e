package graft.text

import graft.SparkSuite
import graft.functions.gfunctions.char_entropy
import org.apache.spark.sql.functions._

/** Round-8 text batch: `char_entropy` (X274), Dunning G²
  * collocations (X275), Good–Turing unseen mass (X276), corpus BLEU-4
  * (X277). */
class LlmTextBatchSpec extends SparkSuite {
  import spark.implicits._

  test("char_entropy: hand values, surrogate pairs count as one " +
    "code point") {
    val df = Seq("aaaa", "ab", "abcd", "", "😀😀aa")
      .toDF("t")
      .select(char_entropy(col("t")).as("h"))
    val hs = df.collect().map(_.getDouble(0))
    assert(hs(0) == 0.0)
    assert(math.abs(hs(1) - 1.0) < 1e-12)
    assert(math.abs(hs(2) - 2.0) < 1e-12)
    assert(hs(3) == 0.0)
    assert(math.abs(hs(4) - 1.0) < 1e-12)   // {😀×2, a×2}
  }

  test("collocations: the glued pair wins; min-count filters; G² " +
    "matches the closed form") {
    // "new york" appears 6 times; fillers keep margins interesting
    val docs = Seq.fill(6)("in new york today") ++
      Seq("new day", "york minster", "in the day", "the day today")
    val r = CorpusStats.collocations(docs.toDF("text"), "text",
      minCount = 5L, topK = 5).collect()
    assert(r.nonEmpty)
    // "in new" and "new york" have exactly symmetric margins → equal
    // G²; the bigram tie-break puts "in new" first, "new york" second
    assert(r.head.getString(0) == "in" && r.head.getString(1) == "new")
    assert(r(1).getString(0) == "new" && r(1).getString(1) == "york")
    assert(r.head.getAs[Double]("g2") == r(1).getAs[Double]("g2"))
    assert(r.head.getAs[Long]("n11") == 6L)
    // every surviving bigram respects the count floor
    assert(r.forall(_.getAs[Long]("n11") >= 5L))
    // closed-form G² for the winner: margins over the bigram universe
    val bgs = docs.flatMap(d => d.split(" ").sliding(2).toSeq
      .filter(_.length == 2).map(a => (a(0), a(1))))
    val nn = bgs.size.toDouble
    val k11 = bgs.count(_ == ("new", "york")).toDouble
    val c1 = bgs.count(_._1 == "new").toDouble
    val c2 = bgs.count(_._2 == "york").toDouble
    def term(k: Double, e: Double) =
      if (k > 0) k * math.log(k / e) else 0.0
    val g2 = 2.0 * (term(k11, c1 * c2 / nn) +
      term(c1 - k11, c1 * (nn - c2) / nn) +
      term(c2 - k11, (nn - c1) * c2 / nn) +
      term(nn - c1 - c2 + k11, (nn - c1) * (nn - c2) / nn))
    assert(r.head.getAs[Double]("g2") == math.rint(g2 * 1e4) / 1e4)
  }

  test("goodTuring: hand-counted singleton mass") {
    // tokens: a a a b b c d → N=7, V=4, N1=2 (c,d), N2=1 (b)
    val r = CorpusStats.goodTuring(
      Seq(("s", "a a a b b"), ("s", "c d")).toDF("src", "text"),
      "src", "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 7L)
    assert(r.getAs[Long]("vocab") == 4L)
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n2") == 1L)
    assert(r.getAs[Double]("p_unseen") ==
      math.rint(2.0 / 7 * 1e6) / 1e6)
    assert(r.getAs[Double]("r_star_1") == 1.0)   // 2·1/2
  }

  test("rougeL: hand-computed LCS, identity, disjoint, and empty " +
    "conventions") {
    val pairs = Seq(
      (1L, "a b c d e", "a x c y e"),     // LCS {a,c,e} = 3
      (2L, "a b c", "a b c"),             // identity
      (3L, "a b", "x y"),                 // disjoint → F = 0
      (4L, "", "a b"),                    // empty cand → null P/F
      (5L, "b a c", "a b c"))             // order matters: LCS = 2
      .toDF("id", "c", "r")
    val m = Relevance.rougeL(pairs, "id", "c", "r").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(m(1L).getAs[Long]("lcs") == 3L)
    assert(m(1L).getAs[Double]("precision") == 0.6)
    assert(m(1L).getAs[Double]("recall") == 0.6)
    assert(m(1L).getAs[Double]("f1") == 0.6)
    assert(m(2L).getAs[Double]("f1") == 1.0)
    assert(m(3L).getAs[Long]("lcs") == 0L)
    assert(m(3L).getAs[Double]("f1") == 0.0)
    assert(m(4L).isNullAt(m(4L).fieldIndex("precision")))
    assert(m(4L).isNullAt(m(4L).fieldIndex("f1")))
    assert(m(5L).getAs[Long]("lcs") == 2L)
  }

  test("keyness: signed G² separates target-key from rest-key terms") {
    val docs = Seq(("tgt", "apple apple apple banana"),
      ("rest", "banana banana cherry cherry cherry cherry"))
      .toDF("src", "text")
    val m = CorpusStats.keyness(docs, "src", "text", target = "tgt",
      minCount = 1L, topK = 5).collect()
      .map(r => r.getString(0) -> r).toMap
    // apple: (3, 0) vs expectations (1.2, 1.8) → G² = 6·ln 2.5
    assert(m("apple").getAs[Double]("g2_signed") ==
      math.rint(6 * math.log(2.5) * 1e4) / 1e4)
    assert(m("cherry").getAs[Double]("g2_signed") < 0)
    assert(m("banana").getAs[Long]("n_target") == 1L)
  }

  test("dispersionDp: clumped terms score high, spread terms low; " +
    "absent parts carry their share mass") {
    val docs = Seq(("p1", "a a a a"), ("p2", "a b b b"))
      .toDF("p", "text")
    val m = CorpusStats.dispersionDp(docs, "p", "text", minCount = 3L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m("a").getAs[Double]("dp") == 0.3)
    assert(m("a").getAs[Long]("n_parts_present") == 2L)
    assert(m("b").getAs[Double]("dp") == 0.5)   // all in one half-part
    assert(m("b").getAs[Long]("n_parts_present") == 1L)
  }

  test("bleuCorpus: identity is 1; clipping and zero orders zero " +
    "the score; short candidates null it") {
    val self = Seq((1L, "a b c d e", "a b c d e")).toDF("id", "c", "r")
    val s = Relevance.bleuCorpus(self, "id", "c", "r").head()
    assert(s.getAs[Double]("p1") == 1.0 && s.getAs[Double]("p4") == 1.0)
    assert(s.getAs[Double]("brevity_penalty") == 1.0)
    assert(s.getAs[Double]("bleu") == 1.0)
    // clipping: "a a a" vs "a" → p1 = 1/3, no ref bigrams → p2 = 0
    val clip = Seq((1L, "a a a a", "a")).toDF("id", "c", "r")
    val c = Relevance.bleuCorpus(clip, "id", "c", "r").head()
    assert(c.getAs[Double]("p1") == 0.25)
    assert(c.getAs[Double]("p2") == 0.0)
    assert(c.getAs[Double]("bleu") == 0.0)
    // a 2-token candidate has no 4-grams → p4 null → bleu null
    val short = Seq((1L, "a b", "a b")).toDF("id", "c", "r")
    val h = Relevance.bleuCorpus(short, "id", "c", "r").head()
    assert(h.isNullAt(h.fieldIndex("p4")))
    assert(h.isNullAt(h.fieldIndex("bleu")))
    // brevity penalty: candidate half the reference length
    val brief = Seq((1L, "a b c d", "a b c d e f g h"))
      .toDF("id", "c", "r")
    val b = Relevance.bleuCorpus(brief, "id", "c", "r").head()
    assert(b.getAs[Double]("brevity_penalty") ==
      math.rint(math.exp(1.0 - 2.0) * 1e6) / 1e6)
  }
}
