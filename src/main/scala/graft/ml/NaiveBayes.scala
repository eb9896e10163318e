package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Multinomial Naive Bayes over whitespace tokens — train and score in
  * one declarative plan. The classifier every corpus pipeline keeps
  * around for cheap language/domain routing when the n-gram heuristic
  * ([[graft.text.TextAnalysis]] langid) needs a trainable upgrade.
  *
  * score(d, c) = ln P(c) + Σ_t ln (count(t,c) + 1) / (N_c + |V|)
  * (Laplace smoothing over the training vocabulary), predict argmax c,
  * ties to the lexicographically smallest class.
  *
  * Scale shape: the model IS three aggregates — class priors (|C|
  * rows), per-(class, term) counts (≤ |C|·|V|), class token totals —
  * all derived from one persisted token explode of the training set.
  * Scoring replicates each test token across the |C| classes
  * (broadcast nested-loop with the tiny class list — |C|× volume, the
  * honest cost of dense per-class scores), left-joins the term counts
  * (the ONE fact-sized shuffle; AQE broadcasts it when the model is
  * small), and folds with one (doc, class) aggregate. The argmax is a
  * min-of-struct ((−score, class)) aggregate, not a window sort.
  */
object NaiveBayes {

  /** Score `test` against a model fit on `train`. Output:
    * (id, pred = argmax class, score = its log-probability rounded
    * 4dp), one row per test document, ordered by id. */
  def trainScore(train: DataFrame, test: DataFrame, id: String,
                 text: String, label: String): DataFrame = Pin.scope { pin =>
    val trTok = pin(train
      .select(col(label).as("__cls"), explode(split(col(text), " ")).as("__term")))
    val cls = train.groupBy(col(label).as("__cls"))
      .agg(count(lit(1)).as("__nd"))
    val prior = cls.crossJoin(broadcast(cls.agg(sum(col("__nd")).as("__ndTot"))))
      .select(col("__cls"), log(col("__nd") / col("__ndTot")).as("__lp"))
    val termCounts = trTok.groupBy(col("__cls"), col("__term"))
      .agg(count(lit(1)).as("__n"))
    val classTotals = termCounts.groupBy(col("__cls"))
      .agg(sum(col("__n")).as("__nt"))
    val vocab = trTok.agg(countDistinct(col("__term")).as("__vs"))
    val testTok = test
      .select(col(id), explode(split(col(text), " ")).as("__term"))
    val scores = testTok
      .crossJoin(broadcast(cls.select(col("__cls"))))
      .join(termCounts, Seq("__cls", "__term"), "left")
      .join(broadcast(classTotals), Seq("__cls"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(id), col("__cls"))
      .agg(sum(log((coalesce(col("__n"), lit(0L)) + lit(1.0)) /
        (col("__nt") + col("__vs")))).as("__ll"))
      .join(broadcast(prior), Seq("__cls"))
      .select(col(id), col("__cls"),
        (col("__ll") + col("__lp")).as("__score"))
    scores.groupBy(col(id))
      .agg(min(struct((-col("__score")).as("__ns"), col("__cls").as("__c"),
        col("__score").as("__s"))).as("__m"))
      .select(col(id), col("__m.__c").as("pred"),
        round(col("__m.__s"), 4).as("score"))
      .orderBy(col(id))
      // one row per test doc — tiny next to the token explode feeding the
      // three model aggregates; materialized before the explode's release
      .localCheckpoint()
  }
}
