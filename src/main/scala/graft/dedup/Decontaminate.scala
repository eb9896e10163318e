package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.gfunctions._

/** Benchmark decontamination for training corpora: drop (or flag) corpus
  * documents that share word n-grams with a benchmark/eval set — the
  * standard n-gram-overlap rule used before LLM pretraining (e.g. the
  * 8-gram/13-gram overlap checks of GPT-2/3-era data work).
  *
  * Scale shape: the benchmark is evaluation-sized (thousands of docs, not
  * the corpus), so its distinct shingle set is dimension-sized and the
  * match is a broadcast semi-join against the corpus postings — one
  * narrow pass over the corpus, no corpus-side shuffle at all for the
  * minOverlap=1 fast path, one fine-grained groupBy(doc) otherwise.
  */
object Decontaminate {

  /** Corpus documents overlapping the benchmark: (id, n_overlap) for every
    * corpus doc sharing >= minOverlap DISTINCT shingles with the union of
    * benchmark shingles. */
  def overlaps(corpus: DataFrame, idCol: String, textCol: String,
               bench: DataFrame, benchTextCol: String,
               shingleSize: Int = 8, minOverlap: Int = 1): DataFrame = {
    val corpusSh = corpus.select(col(idCol).as("id"),
      explode(array_distinct(word_shingles(col(textCol), shingleSize)))
        .as("shingle"))
    val benchSh = bench
      .select(explode(array_distinct(word_shingles(col(benchTextCol), shingleSize)))
        .as("shingle"))
      .distinct()
    corpusSh.join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Per-document contamination FRACTION — the graded companion to the
    * binary [[overlaps]] rule (the GPT-3-appendix / Dolma-style report:
    * "what share of this document's n-grams appear in the eval set"),
    * which is what you need to pick a removal threshold rather than
    * assert one: a 5000-shingle page sharing one boilerplate 8-gram and
    * a verbatim benchmark copy both have n_overlap ≥ 1, but 0.0002 vs
    * 1.0 contamination.
    *
    * Same scale shape as overlaps: benchmark shingles are a broadcast
    * dimension; ONE narrow pass over the corpus (the hit flag rides the
    * broadcast left join) into one fine-grained groupBy(doc). Docs with
    * fewer than shingleSize tokens have no shingles and emit no row.
    * Output: (id, n_shingles, n_contaminated, contamination_frac ∈ [0,1],
    * 4 dp), one row per corpus doc with ≥ 1 contaminated shingle when
    * `onlyContaminated`, else per every doc with shingles. */
  def contaminationFraction(corpus: DataFrame, idCol: String, textCol: String,
                            bench: DataFrame, benchTextCol: String,
                            shingleSize: Int = 8,
                            onlyContaminated: Boolean = true): DataFrame = {
    val corpusSh = corpus.select(col(idCol).as("id"),
      explode(array_distinct(word_shingles(col(textCol), shingleSize)))
        .as("shingle"))
    val benchSh = bench
      .select(explode(array_distinct(word_shingles(col(benchTextCol), shingleSize)))
        .as("shingle"))
      .distinct()
      .withColumn("__hit", lit(1))
    val agg = corpusSh
      .join(broadcast(benchSh), Seq("shingle"), "left_outer")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .withColumn("contamination_frac",
        round(col("n_contaminated").cast("double") /
          col("n_shingles").cast("double"), 4))
    if (onlyContaminated) agg.filter(col("n_contaminated") > 0) else agg
  }

}
