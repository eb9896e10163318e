package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.graft.HashUtil

class ContentChunkingSpec extends SparkSuite {
  import spark.implicits._

  /** Driver replica of the identical fold (gear value, 48-bit roll,
    * boundary rule, canonical chunk hash). */
  private def ref(text: String, maskBits: Int, minT: Int,
                  maxT: Int): Seq[(Int, Int, Int, String)] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val mask = (1L << maskBits) - 1L
    var h = 0L; var run = 0
    val ends = scala.collection.mutable.ArrayBuffer[Int]()
    toks.zipWithIndex.foreach { case (t, i) =>
      val g = HashUtil.md5Lower8LE(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) &
        0xFFFFFFFFL
      h = ((h << 1) + g) & ((1L << 48) - 1L)
      run += 1
      if ((run >= minT && (h & mask) == 0L) || run >= maxT) {
        ends += (i + 1); run = 0
      }
    }
    if (run > 0) ends += toks.length
    val md = java.security.MessageDigest.getInstance("MD5")
    var start = 1
    ends.toSeq.zipWithIndex.map { case (e, i) =>
      val s = start; start = e + 1
      val slice = toks.slice(s - 1, e).mkString(" ")
      val hex = md.digest(slice.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      md.reset()
      (i + 1, s, e - s + 1, hex)
    }
  }

  private val doc =
    (1 to 300).map(i => s"tok${i % 37}x$i").mkString(" ")

  test("matches the driver replica chunk-for-chunk") {
    val got = ContentChunking.contentDefinedChunks(
        Seq(("d1", doc)).toDF("id", "text"), "id", "text",
        maskBits = 4, minTokens = 8, maxTokens = 64)
      .orderBy("chunk_idx").collect()
    val want = ref(doc, 4, 8, 64)
    assert(got.length == want.length && want.length >= 3)
    got.zip(want).foreach { case (g, (idx, s, n, hex)) =>
      assert(g.getAs[Long]("chunk_idx") == idx)
      assert(g.getAs[Long]("start_tok") == s)
      assert(g.getAs[Long]("n_toks") == n)
      assert(g.getAs[String]("chunk_hash") == hex)
    }
  }

  test("chunks partition the token stream; min/max lengths hold") {
    val got = ContentChunking.contentDefinedChunks(
        Seq(("d1", doc)).toDF("id", "text"), "id", "text",
        maskBits = 4, minTokens = 8, maxTokens = 64)
      .orderBy("chunk_idx").collect()
    val nToks = doc.split("\\s+").length
    assert(got.map(_.getAs[Long]("n_toks")).sum == nToks)
    var expectStart = 1L
    got.foreach { g =>
      assert(g.getAs[Long]("start_tok") == expectStart)
      expectStart += g.getAs[Long]("n_toks")
    }
    // every chunk except the final tail respects minTokens; all
    // chunks respect maxTokens
    got.dropRight(1).foreach(g =>
      assert(g.getAs[Long]("n_toks") >= 8))
    got.foreach(g => assert(g.getAs[Long]("n_toks") <= 64))
  }

  test("an early insertion re-cuts only the local chunk: most chunk " +
    "hashes survive (the CDC property fixed windows lack)") {
    val shifted = "INSERTED " + doc
    val a = ContentChunking.contentDefinedChunks(
        Seq(("o", doc), ("s", shifted)).toDF("id", "text"),
        "id", "text", maskBits = 4, minTokens = 8, maxTokens = 64)
      .collect()
    val ha = a.filter(_.getAs[String]("id") == "o")
      .map(_.getAs[String]("chunk_hash")).toSet
    val hb = a.filter(_.getAs[String]("id") == "s")
      .map(_.getAs[String]("chunk_hash")).toSet
    val shared = ha.intersect(hb).size
    assert(shared >= ha.size / 2,
      s"only $shared of ${ha.size} chunk hashes survived the shift")
  }

  test("maxTokens forces cuts when the mask never fires") {
    // maskBits = 20 makes a boundary hit vanishingly unlikely in a
    // 100-token doc -> every chunk is exactly maxTokens except tail
    val got = ContentChunking.contentDefinedChunks(
        Seq(("d", (1 to 100).map("w" + _).mkString(" ")))
          .toDF("id", "text"),
        "id", "text", maskBits = 20, minTokens = 4, maxTokens = 25)
      .orderBy("chunk_idx").collect()
    assert(got.map(_.getAs[Long]("n_toks")).toSeq == Seq(25L, 25L, 25L, 25L))
  }

  test("empty and null texts emit nothing; params validated") {
    val df = Seq(("a", ""), ("b", "   "), ("c", null: String),
      ("d", "one two")).toDF("id", "text")
    val got = ContentChunking.contentDefinedChunks(df, "id", "text")
    assert(got.collect().map(_.getAs[String]("id")).toSet == Set("d"))
    assert(intercept[IllegalArgumentException] {
      ContentChunking.contentDefinedChunks(df, "id", "text",
        maskBits = 0)
    }.getMessage == "requirement failed: maskBits in [1,24]")
    assert(intercept[IllegalArgumentException] {
      ContentChunking.contentDefinedChunks(df, "id", "text",
        minTokens = 10, maxTokens = 10)
    }.getMessage == "requirement failed: maxTokens must exceed minTokens")
  }
}
