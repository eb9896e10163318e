package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Exact phrase search over a tokenized corpus via positional postings
  * intersection — the inverted-index primitive under every "find the
  * documents containing this exact n-gram" lookup (quote search,
  * contamination spot checks, template mining).
  *
  * A substring scan (`LIKE '%w1 w2%'`) reads every byte of every
  * document per query; the postings form reads only the postings of the
  * phrase's words. Each phrase word k becomes a postings frame
  * (doc, pos − k): a document matches where all frames agree on a
  * start position — a chain of equi-joins on (doc, start), the
  * standard positional-index intersection.
  *
  * Join order is chosen by RARITY: the frames are joined scarcest
  * first, so every intermediate is bounded by the rarest word's
  * postings count — the classic query-planning move for conjunctive
  * postings (term-at-a-time in ascending document frequency). The
  * rarity probe is one aggregate over ≤ |phrase| grouped counts.
  *
  * Scale: the token explode is map-side and filtered to the phrase's
  * words before any shuffle, so shuffle volume is postings-
  * proportional, never corpus-proportional. A stop-word phrase
  * ("of the") degrades toward corpus scale — the caller's knob is the
  * same as any search engine's: require at least one rare anchor word.
  */
object PhraseSearch {

  /** Ids of documents containing `phrase` as consecutive tokens
    * (single-space tokenization). Output: one column `id` (the input id
    * column name), distinct. */
  def containing(docs: DataFrame, id: String, text: String,
                 phrase: Seq[String]): DataFrame = Pin.scope { pin =>
    require(phrase.nonEmpty, "phrase must have at least one word")
    val toks = pin(docs
      .select(col(id), posexplode(split(col(text), " ")).as(Seq("__pos", "__tok")))
      .filter(col("__tok").isin(phrase.distinct: _*)))
    // ≤ |phrase| rows: the bounded rarity probe
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a phrase word absent from the corpus ⇒ empty result; sorting it
    // first makes every subsequent join a no-op instead of wasted work
    val order = phrase.zipWithIndex
      .sortBy { case (w, _) => freq.getOrElse(w, 0L) }
    val matched = order.tail.foldLeft(postings(toks, id, order.head)) {
      case (acc, wk) => acc.join(postings(toks, id, wk), Seq(id, "__start"))
    }
    matched.select(col(id)).distinct().localCheckpoint()
  }

  /** Postings of phrase word k, aligned to the phrase start. */
  private def postings(toks: DataFrame, id: String,
                       wk: (String, Int)): DataFrame =
    toks.filter(col("__tok") === wk._1)
      .select(col(id), (col("__pos") - wk._2).as("__start"))
}
