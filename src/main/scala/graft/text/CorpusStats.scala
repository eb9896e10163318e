package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Corpus-composition diagnostics for training-data pipelines: when
  * mixing scraped sources, the question "how different is source s from
  * the blend?" decides mixture weights and flags collapsed/degenerate
  * slices before training does. */
object CorpusStats {

  /** Per-stratum token-distribution KL divergence against the whole
    * corpus: KL(P_s ‖ P) = Σ_t p(t|s)·ln(p(t|s)/p(t)). Every stratum's
    * support is a subset of the corpus support by construction, so the
    * divergence is finite without smoothing.
    *
    * Scale shape: one explode + one (stratum, term) hash aggregate —
    * map-side combined, shuffle volume ∝ |strata|×|vocab|, never the
    * token stream — then the corpus marginal is a SECOND partial
    * aggregate over those counts (not a rescan), joined back on the term
    * key (vocab-sized, co-partitioned). Stratum totals and the corpus
    * total are broadcast. Output: (stratum, n_tokens, n_terms, kl)
    * with kl rounded to 4 dp (cross-engine summation-order noise is
    * ~1e-15 relative — the q13 precedent).
    */
  def tokenDivergence(docs: DataFrame, strataCol: String,
                      textCol: String): DataFrame = {
    val tok = docs.select(col(strataCol).as("stratum"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val st = tok.groupBy("stratum", "term")
      .agg(count(lit(1)).as("c_st"))
    val termTot = st.groupBy("term").agg(sum(col("c_st")).as("c_t"))
    val stratTot = st.groupBy("stratum").agg(sum(col("c_st")).as("n_s"))
    val grand = stratTot.agg(sum(col("n_s")).as("n_total"))
    val ps = col("c_st").cast("double") / col("n_s").cast("double")
    val p = col("c_t").cast("double") / col("n_total").cast("double")
    st.join(termTot, Seq("term"))
      .join(broadcast(stratTot), Seq("stratum"))
      .crossJoin(broadcast(grand))
      .groupBy(col("stratum"))
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        round(sum(ps * log(ps / p)), 4).as("kl_divergence"))
  }

  /** CCNet-style unigram language-model scoring: fit an add-one-smoothed
    * unigram LM on the corpus itself, then score every document by its
    * mean token negative log-likelihood (= log-perplexity). Documents
    * whose tokens are rare corpus-wide score high — the classic cheap
    * proxy that ranks boilerplate/gibberish above fluent text for
    * quality filtering, without shipping an external LM.
    *
    * p(t) = (c(t) + 1) / (N + V) with c(t) the corpus term count, N
    * total tokens, V vocab size; doc score = Σ_t c_d(t)·(−ln p(t)) /
    * n_d, rounded to 4 dp.
    *
    * Scale shape: one explode into a (doc, term) hash aggregate
    * (map-side combined — shuffle ∝ distinct doc-terms, not the token
    * stream), the corpus LM as a second partial aggregate over those
    * counts (vocab-sized, no rescan), joined back on the term key —
    * co-partitioned with the doc-term counts, so AQE plans it without a
    * second shuffle of the big side — then one per-doc aggregate. The
    * two LM scalars (N, V) broadcast. Nothing driver-side, nothing
    * quadratic; the corpus text is read once.
    *
    * Output: (idCol, n_tokens, logppl) — one row per document with at
    * least one token.
    */
  def unigramLogPerplexity(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val dt = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("c_dt"))
    val lm = dt.groupBy("term").agg(sum(col("c_dt")).as("c_t"))
    val scalars = lm.agg(sum(col("c_t")).as("n_total"),
      count(lit(1)).as("v"))
    val negLogP = -log((col("c_t") + 1).cast("double") /
      (col("n_total") + col("v")).cast("double"))
    dt.join(lm, Seq("term"))
      .crossJoin(broadcast(scalars))
      .groupBy(col(idCol))
      .agg(sum(col("c_dt")).as("n_tokens"),
        round(sum(col("c_dt").cast("double") * negLogP) /
          sum(col("c_dt")).cast("double"), 4).as("logppl"))
  }

  /** Per-doc bigram cross-entropy under a corpus-trained add-1
    * conditional LM — the order-2 companion to
    * [[unigramLogPerplexity]]: P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V),
    * score = Σ −ln P over the doc's bigrams / n_bigrams. Bigram
    * surprise separates shuffled-token spam from fluent text where the
    * unigram model (same vocabulary either way) cannot.
    *
    * Shape mirrors the unigram op: two fact-grain explodes (bigram and
    * unigram token streams) collapse immediately to per-doc-bigram and
    * per-term counts; every later table is vocabulary-bounded, V is a
    * 1-row broadcast, and the scoring join runs at per-doc-bigram-type
    * grain. The conditioning count c(w₁) is the FULL unigram count
    * (the common slightly-deficient convention — doc-final tokens
    * count toward the denominator), with the prefix sliced from the
    * shingle by `substring_index` (codegen'd built-in). Docs with
    * fewer than 2 tokens have no bigrams and drop out. */
  def bigramLogPerplexity(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    import graft.functions.gfunctions.word_shingles
    val db = docs.select(col(idCol),
        explode(word_shingles(col(textCol), 2)).as("bg"))
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("c_db"))
    val bgLm = db.groupBy("bg").agg(sum(col("c_db")).as("c_b"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val uniLm = docs.select(
        explode(word_shingles(col(textCol), 1)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_u"))
    val vocab = uniLm.agg(count(lit(1)).as("v"))
    val scored = bgLm
      .join(uniLm, bgLm("w1") === uniLm("term"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nlp", -log((col("c_b") + 1).cast("double") /
        (col("c_u") + col("v")).cast("double")))
      .select(col("bg"), col("__nlp"))
    db.join(scored, Seq("bg"))
      .groupBy(col(idCol))
      .agg(sum(col("c_db")).as("n_bigrams"),
        round(sum(col("c_db").cast("double") * col("__nlp")) /
          sum(col("c_db")).cast("double"), 4).as("bigram_logppl"))
  }

  /** CCNet-style perplexity bucketing: score every document with
    * [[unigramLogPerplexity]], cut the corpus at the `lo`/`hi` score
    * quantiles, and label head (most fluent, lowest log-ppl) / middle /
    * tail — the standard three-way quality split used to weight (or
    * drop) training data by LM fluency.
    *
    * The cut is two scalar quantiles broadcast onto a narrow label
    * projection — no global sort/window over the corpus. Quantiles are
    * exact below [[graft.prep.Preprocess.ExactPercentileMaxGroupRows]]
    * docs and approx_percentile above (same dispatch and rationale as
    * the numeric screens); comparisons happen on the 4-dp-rounded
    * scores, so boundary labels cannot flip on engine float noise. The
    * scored frame is localCheckpoint-ed: it feeds both the quantile
    * aggregate and the labeling, and the LM scoring should run once.
    *
    * Output: (idCol, n_tokens, logppl, bucket). */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        lo: Double = 1.0 / 3, hi: Double = 2.0 / 3,
                        exactCuts: Option[Boolean] = None): DataFrame = {
    require(lo > 0 && hi < 1 && lo < hi, "need 0 < lo < hi < 1")
    val ppl = unigramLogPerplexity(docs, idCol, textCol).localCheckpoint()
    val exact = exactCuts.getOrElse(
      ppl.count() <= graft.prep.Preprocess.ExactPercentileMaxGroupRows)
    // cuts SNAP to the scores' own 4-dp grid (fuzz-31): duplicate docs
    // put a mass point exactly at the quantile, where the engines'
    // interpolation formulas differ by an ulp and boundary docs flip
    // buckets; a third-fraction interpolation of a 4-dp grid never
    // lands on a .00005 midpoint, so the snapped cut is engine-stable
    def q(p: Double) =
      if (exact) round(percentile(col("logppl"), lit(p)), 4)
      else round(approx_percentile(col("logppl"), lit(p), lit(10000)), 4)
    val cuts = ppl.agg(q(lo).as("__clo"), q(hi).as("__chi"))
    ppl.crossJoin(broadcast(cuts))
      .select(col(idCol), col("n_tokens"), col("logppl"),
        when(col("logppl") <= col("__clo"), "head")
          .when(col("logppl") <= col("__chi"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Top-PMI within-document co-occurrence pairs — the phrase/topic
    * association miner (which terms appear in the same documents far
    * more than chance): PMI(a,b) = ln(c_ab·N / (c_a·c_b)) over
    * PRESENCE counts (a term counts once per doc), N = docs with at
    * least one token.
    *
    * The naive all-pairs-per-doc explode is quadratic in doc vocabulary
    * and unbounded corpus-wide; this bounds it the standard way:
    * only terms with document frequency in [minTermDocs, maxTermDocs]
    * enter the pair join (rare terms can't reach minPairDocs; stopword-
    * frequency terms pair with everything and carry no signal — the
    * df-band is the same idea as the Jaccard prefix filter), then the
    * per-doc self-join runs on the SURVIVING presence rows keyed by
    * doc. Pair counts aggregate map-side; the top-k orders by the
    * 4-dp-rounded PMI with a (term_a, term_b) tie-break so the cut is
    * engine-independent.
    *
    * Output: top-k (term_a, term_b, n_pair_docs, pmi), pmi 4 dp. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
               minTermDocs: Long = 10, maxTermDocs: Long = 1000000L,
               minPairDocs: Long = 5, k: Int = 50): DataFrame = Pin.scope { pin =>
    // the presence rows feed the term counts, the doc count, and BOTH
    // sides of the pair self-join — without a pin the corpus is
    // re-scanned and re-tokenized once per consumer (self-joined
    // DataFrames don't share subplans)
    val dt = pin(docs.select(col(idCol).as("id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol))))
        .as("term")))
    val tc = dt.groupBy("term").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minTermDocs && col("c") <= maxTermDocs)
    val nDocs = dt.agg(countDistinct(col("id")).as("n_docs"))
    val kept = dt.join(tc, Seq("term"))
    val pairs = kept.select(col("id"), col("term"), col("c"))
      .as("a")
      .join(kept.select(col("id"), col("term"), col("c")).as("b"),
        col("a.id") === col("b.id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("n_pair_docs"),
        max(col("a.c")).as("c_a"), max(col("b.c")).as("c_b"))
      .filter(col("n_pair_docs") >= minPairDocs)
    pairs.crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("n_pair_docs"),
        round(log(col("n_pair_docs").cast("double") *
            col("n_docs").cast("double") /
            (col("c_a") * col("c_b")).cast("double")), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(k)
      // k-row output: eager materialization is cheap, and the cached
      // presence rows are released instead of staying pinned in a
      // long-lived session
      .localCheckpoint()
  }

  /** Pairwise cosine similarity between per-stratum unigram frequency
    * distributions — "how alike are my sources' vocabularies", the
    * corpus-mixture diagnostic. Facts collapse to the (stratum, term)
    * count table (map-side combine, shuffle ∝ strata×vocab); norms are
    * a stratum-cardinality aggregate broadcast back; the pair dot
    * product joins the count table WITH ITSELF ON TERM (vocab-keyed —
    * never strata × strata × vocab materialized). Output: one row per
    * unordered stratum pair, cosine 4-dp. */
  def strataSimilarityMatrix(docs: DataFrame, strataCol: String,
                             textCol: String): DataFrame = Pin.scope { pin =>
    val tf = pin(docs.select(col(strataCol).as("stratum"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("stratum", "term").agg(count(lit(1)).cast("double").as("n")))
    val norms = tf.groupBy("stratum")
      .agg(sqrt(sum(col("n") * col("n"))).as("norm"))
    val dots = tf.select(col("stratum").as("s_a"), col("term"),
        col("n").as("n_a"))
      .join(tf.select(col("stratum").as("s_b"), col("term"),
        col("n").as("n_b")), Seq("term"))
      .filter(col("s_a") < col("s_b"))
      .groupBy("s_a", "s_b").agg(sum(col("n_a") * col("n_b")).as("dot"))
    dots
      .join(broadcast(norms.withColumnRenamed("stratum", "s_a")
        .withColumnRenamed("norm", "norm_a")), Seq("s_a"))
      .join(broadcast(norms.withColumnRenamed("stratum", "s_b")
        .withColumnRenamed("norm", "norm_b")), Seq("s_b"))
      .select(col("s_a"), col("s_b"),
        round(col("dot") / (col("norm_a") * col("norm_b")), 4)
          .as("cosine"))
      .localCheckpoint()
  }

  /** Per-stratum Shannon entropy of the unigram distribution (nats,
    * 4-dp) with type/token counts — vocabulary-concentration diagnostic.
    * One (stratum, term) aggregate + one stratum roll-up; entropy is
    * computed from the counts identity H = ln N − Σ n ln n / N, so no
    * per-term probability join is needed. */
  def tokenEntropy(docs: DataFrame, strataCol: String,
                   textCol: String): DataFrame =
    docs.select(col(strataCol).as("stratum"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("stratum", "term").agg(count(lit(1)).as("n"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_types"),
        sum(col("n")).as("n_tokens"),
        round(log(sum(col("n")).cast("double")) -
          sum(col("n").cast("double") * log(col("n").cast("double"))) /
            sum(col("n")).cast("double"), 4).as("entropy"))

  /** Pairwise Jensen–Shannon divergence between stratum unigram
    * distributions — the SYMMETRIC, always-finite companion to
    * [[tokenDivergence]]'s KL (JSD needs no smoothing even on disjoint
    * supports, and √JSD is a metric), the standard corpus-mixture
    * distance.
    *
    * Identity used: with m = (p_a+p_b)/2,
    * JSD = ½Σ p_a ln(2p_a/(p_a+p_b)) + ½Σ p_b ln(2p_b/(p_a+p_b)),
    * and a term present in only one stratum contributes ½p·ln2 — so the
    * COMMON-support sum comes from the vocab-keyed self-join (never
    * strata²×vocab, the [[strataSimilarityMatrix]] shape) and the
    * disjoint mass enters in closed form via (1 − Σ_common p): no full
    * outer join, no zero-probability rows. Bounded by ln 2.
    *
    * Output per unordered pair: (s_a, s_b, n_common_terms, jsd 6-dp,
    * jsd_normalized 6-dp = jsd/ln2). */
  def pairwiseJsd(docs: DataFrame, strataCol: String,
                  textCol: String): DataFrame = {
    // not cached: the returned plan is the one action that reads tf,
    // and its three reads share tf's exchange (exchange reuse)
    val tf = docs.select(col(strataCol).as("stratum"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("stratum", "term").agg(count(lit(1)).as("c"))
    val tot = tf.groupBy("stratum").agg(sum(col("c")).as("n"))
    val a = tf.select(col("stratum").as("s_a"), col("term"),
      col("c").as("c_a"))
    val b = tf.select(col("stratum").as("s_b"), col("term"),
      col("c").as("c_b"))
    val joined = a.join(b, Seq("term")).filter(col("s_a") < col("s_b"))
      .join(broadcast(tot.withColumnRenamed("stratum", "s_a")
        .withColumnRenamed("n", "n_a")), Seq("s_a"))
      .join(broadcast(tot.withColumnRenamed("stratum", "s_b")
        .withColumnRenamed("n", "n_b")), Seq("s_b"))
    val pa = col("c_a").cast("double") / col("n_a")
    val pb = col("c_b").cast("double") / col("n_b")
    val common = joined.groupBy(col("s_a"), col("s_b"))
      .agg(count(lit(1)).as("n_common_terms"),
        sum(pa).as("__ma"), sum(pb).as("__mb"),
        sum(pa * log(lit(2.0) * pa / (pa + pb)) +
          pb * log(lit(2.0) * pb / (pa + pb))).as("__core"))
    val ln2 = log(lit(2.0))
    common.select(col("s_a"), col("s_b"), col("n_common_terms"),
      round((col("__core") +
        (lit(2.0) - col("__ma") - col("__mb")) * ln2) / 2, 6).as("jsd"),
      round((col("__core") +
        (lit(2.0) - col("__ma") - col("__mb")) * ln2) / 2 / ln2, 6)
        .as("jsd_normalized"))
  }

  /** N-gram multiset overlap F1 between sorted-neighborhood candidate
    * pairs — the ROUGE-style precision/recall readout used to audit
    * what a near-dedup stage is about to merge ("how much of A's
    * content does B actually contain"), where set-Jaccard (q24)
    * under-weights repeated spans.
    *
    * Pairing: within each block, docs sort by (length, id) and each doc
    * pairs with its successor (lead window — the L55 SNM shape, so every
    * doc appears in ≤ 2 pairs and the gram join stays corpus-linear).
    * Per pair, overlap = Σ_g min(c_a(g), c_b(g)) over n-gram MULTISETS:
    * precision = overlap/|A|, recall = overlap/|B|, F1 harmonic. Counts
    * exact BIGINTs; ratios 4-dp.
    *
    * Output: (id_a, id_b, n_a, n_b, overlap, precision, recall, f1). */
  def ngramOverlapF1(docs: DataFrame, idCol: String, textCol: String,
                     blockCol: String, n: Int): DataFrame = {
    import graft.functions.gfunctions.word_shingles
    import org.apache.spark.sql.expressions.Window
    val pairs = docs
      .select(col(idCol).as("id_a"), col(blockCol).as("__blk"),
        length(col(textCol)).as("__len"))
      .withColumn("id_b", lead(col("id_a"), 1).over(
        Window.partitionBy(col("__blk"))
          .orderBy(col("__len"), col("id_a"))))
      .filter(col("id_b").isNotNull)
      .select(col("id_a"), col("id_b"))
    val grams = docs.select(col(idCol).as("__id"),
        explode(word_shingles(col(textCol), n)).as("g"))
      .groupBy(col("__id"), col("g")).agg(count(lit(1)).as("c"))
    val totals = grams.groupBy(col("__id")).agg(sum(col("c")).as("tot"))
    val ga = grams.select(col("__id").as("id_a"), col("g"),
      col("c").as("c_a"))
    val gb = grams.select(col("__id").as("id_b"), col("g"),
      col("c").as("c_b"))
    val ov = pairs.join(ga, Seq("id_a")).join(gb, Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("c_a"), col("c_b"))).as("overlap"))
    pairs.join(ov, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("overlap"))
      .join(totals.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("tot", "n_a"), Seq("id_a"))
      .join(totals.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("tot", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("overlap"),
        round(col("overlap").cast("double") / col("n_a"), 4)
          .as("precision"),
        round(col("overlap").cast("double") / col("n_b"), 4)
          .as("recall"),
        round(lit(2.0) * col("overlap") /
          (col("n_a") + col("n_b")), 4).as("f1"))
  }

  /** Ecological-diversity battery of the unigram distribution per
    * stratum: Shannon H (nats, from the Σn·ln n identity — no
    * probability join), effective species e^H, the unbiased Simpson
    * concentration λ = Σn(n−1)/(N(N−1)) (exact integer numerators),
    * and inverse Simpson 1/Σp². The "is this source's vocabulary
    * actually varied" gate that complements [[tokenEntropy]]. One
    * (stratum, term) aggregate + one stratum roll-up. Output:
    * (stratum, n_types, n_tokens, shannon 4dp, eff_species 4dp,
    * simpson 6dp, inv_simpson 4dp).
    */
  def diversityIndexes(docs: DataFrame, strataCol: String,
                       textCol: String): DataFrame = {
    val counts = docs.select(col(strataCol).as("stratum"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("stratum", "term").agg(count(lit(1)).as("n"))
    val bigN = sum(col("n")).cast("double")
    val h = log(bigN) -
      sum(col("n").cast("double") * log(col("n").cast("double"))) / bigN
    counts.groupBy("stratum")
      .agg(count(lit(1)).as("n_types"),
        sum(col("n")).as("n_tokens"),
        round(h, 4).as("shannon"),
        round(exp(h), 4).as("eff_species"),
        round(sum(col("n") * (col("n") - 1)).cast("double") /
          (sum(col("n")).cast("double") * (sum(col("n")) - 1)), 6)
          .as("simpson"),
        round(lit(1.0) /
          (sum(col("n").cast("double") * col("n")) / (bigN * bigN)), 4)
          .as("inv_simpson"))
  }

  /** Zipf-law fit of the corpus word-frequency distribution: rank
    * terms by count (desc, term asc — deterministic), then OLS of
    * ln(count) on ln(rank); alpha = −slope is the Zipf exponent
    * (natural text ≈ 1, repetitive/boilerplate corpora drift far from
    * it — a corpus-health gate). The regression runs over the
    * VOCABULARY (term-bounded), not the token stream; the global rank
    * is one bounded sort. Output (one row): n_terms, n_tokens,
    * alpha 4dp, intercept 4dp, r2 4dp.
    */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term").asc)
    val xy = counts.withColumn("__r", row_number().over(w))
      .select(log(col("__r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"), col("c"))
    val a = xy.agg(count(lit(1)).as("n_terms"),
      sum(col("c")).as("n_tokens"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n_terms").cast("double")
    val cxx = col("sxx") - col("sx") * col("sx") / n
    val cxy = col("sxy") - col("sx") * col("sy") / n
    val cyy = col("syy") - col("sy") * col("sy") / n
    val slope = cxy / nullif(cxx, lit(0.0))
    a.select(col("n_terms"), col("n_tokens"),
      round(-slope, 4).as("alpha"),
      round((col("sy") - slope * col("sx")) / n, 4).as("intercept"),
      round(cxy * cxy / nullif(cxx * cyy, lit(0.0)), 4).as("r2"))
  }

  /** Vocabulary coverage curve: for each N in `grid`, the share of the
    * corpus TOKEN STREAM covered by the top-N most frequent terms
    * (freq desc, term asc tie-break) — the tokenizer-sizing readout
    * ("how big a vocab buys how much coverage"). One term aggregate,
    * one bounded vocab sort with a cumulative window, then a grid
    * lookup: per N, the cumulative count at rank ≤ N over the total.
    * Output per N: (top_n INT, n_terms_used BIGINT, covered_tokens
    * BIGINT, coverage 4dp). n_terms_used < top_n when the vocab is
    * smaller than N. */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    grid: Seq[Int] = Seq(10, 50, 100, 500, 1000))
      : DataFrame = {
    require(grid.nonEmpty && grid.forall(_ >= 1), "grid must be >= 1")
    val counts = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val ranked = counts
      .withColumn("__r", row_number().over(w))
      .withColumn("__cum", sum(col("c")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .withColumn("__tot", sum(col("c")).over(wAll))
    ranked
      .withColumn("top_n", explode(lit(grid.toArray)))
      .filter(col("__r") <= col("top_n"))
      .groupBy(col("top_n"))
      .agg(count(lit(1)).as("n_terms_used"),
        max(col("__cum")).as("covered_tokens"),
        round(max(col("__cum")).cast("double") / max(col("__tot")), 4)
          .as("coverage"))
      .orderBy(col("top_n"))
  }

  /** Per-document novel-bigram rate: the fraction of a document's
    * DISTINCT word bigrams whose corpus document-frequency is 1 (they
    * appear in no other document) — a cheap "unique content vs
    * boilerplate" score (novelty ≈ 1 original prose, ≈ 0 template
    * text). One explode into distinct (doc, bigram), a bigram-keyed df
    * aggregate that rides the same shuffle, and one per-doc readout.
    * Output: (idCol, n_bigrams BIGINT, n_novel BIGINT, novelty 4dp)
    * for docs with ≥ 1 bigram. */
  def novelBigramRate(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val grams = docs.select(col(idCol),
        explode(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .distinct()
    val dfreq = grams.groupBy(col("bigram"))
      .agg(count(lit(1)).as("__df"))
    grams.join(dfreq, Seq("bigram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("__df") === 1, 1)).as("n_novel"))
      .withColumn("novelty", round(
        col("n_novel").cast("double") / col("n_bigrams"), 4))
  }

  /** DSIR-style data-selection importance scores (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * reduced to the unigram feature space): score each document by
    * the mean per-token log importance ratio ln(p_target/p_source)
    * under add-½-smoothed unigram LMs fit on a TARGET slice vs the
    * rest, both smoothed over the shared union vocabulary. Positive
    * score = looks like the target domain; feeding the exp-weights to
    * the existing weighted sampler (q91) IS importance resampling.
    *
    * Scale shape: two vocab-bounded count aggregates (one pass over
    * the token stream), a token→vocab co-partitioned join, one
    * doc-grain aggregate — no per-doc model, no driver state.
    * Output: (doc, n_tokens BIGINT, avg_log_ratio 6dp) for every
    * SOURCE document (the candidates to select); docs with no tokens
    * drop out. */
  def importanceScores(docs: DataFrame, idCol: String, textCol: String,
                       isTarget: org.apache.spark.sql.Column)
      : DataFrame = {
    val toks = docs.select(col(idCol).as("__d"), isTarget.as("__tgt"),
      explode(TextAnalysis.tokens(col(textCol))).as("__t"))
    val vocab = toks.groupBy(col("__t"))
      .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
        sum(when(!col("__tgt"), 1L).otherwise(0L)).as("__cs"))
    val totals = vocab.agg(sum(col("__ct")).as("__Tt"),
      sum(col("__cs")).as("__Ts"), count(lit(1)).as("__V"))
    val scored = vocab.crossJoin(broadcast(totals))
      .select(col("__t"),
        (log((col("__ct") + 0.5) /
            (col("__Tt") + lit(0.5) * col("__V"))) -
          log((col("__cs") + 0.5) /
            (col("__Ts") + lit(0.5) * col("__V")))).as("__lr"))
    toks.filter(!col("__tgt"))
      .join(scored, Seq("__t"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("__lr")), 6).as("avg_log_ratio"))
      .select(col("__d").as(idCol), col("n_tokens"),
        col("avg_log_ratio"))
  }

  /** Term burstiness top-k: the variance-to-mean ratio (Fano factor)
    * of each term's per-document count over the WHOLE corpus
    * (absent docs count as 0 — computed from the sufficient sums
    * Σc, Σc² without materializing zeros). VMR ≈ 1 is Poisson
    * (topic-neutral function words); VMR ≫ 1 is bursty content —
    * when such a term is also high-df it flags boilerplate blocks
    * repeated verbatim inside documents (Church & Gale 1995's
    * burstiness, as a corpus screen). df ≥ minDf guards the
    * estimate; ordered by VMR descending, term ascending. One
    * explode + two hash aggregates + a 1-row broadcast for the doc
    * count. Output: (term, df BIGINT, total BIGINT, mean_per_doc 6dp,
    * vmr 4dp), topK rows. */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
                     minDf: Long = 5L, topK: Int = 20): DataFrame = {
    require(topK >= 1 && minDf >= 1, "topK/minDf must be >= 1")
    val perDoc = docs.select(col(idCol).as("__d"),
        explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .groupBy(col("__d"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val perTerm = perDoc.groupBy(col("__t"))
      .agg(count(lit(1)).as("df"), sum(col("__c")).as("total"),
        sum(col("__c") * col("__c")).as("__s2"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val n = col("__n").cast("double")
    val mean = col("total").cast("double") / n
    val vmr = (col("__s2").cast("double") / n - mean * mean) /
      nullif(mean, lit(0.0))
    perTerm.crossJoin(broadcast(nDocs))
      .filter(col("df") >= minDf)
      .select(col("__t").as("term"), col("df"), col("total"),
        round(mean, 6).as("mean_per_doc"),
        round(vmr, 4).as("vmr"))
      .orderBy(col("vmr").desc, col("term").asc)
      .limit(topK)
  }

  /** Mean segmental type-token ratio (MSTTR) per stratum — the
    * length-robust lexical-diversity measure: raw TTR falls with
    * document length (Heaps' law), so compare FIXED-length windows
    * instead. Each document's token stream is cut into consecutive
    * `segLen`-token segments, the trailing partial segment dropped
    * (the standard MSTTR-50 convention), TTR = types/segLen per
    * segment, averaged per stratum.
    *
    * One posexplode + two hash aggregates (segment-type grain, then
    * segment grain) — token-stream-proportional, no window, no join.
    * Output: (stratum, n_docs BIGINT, n_segments BIGINT, msttr 4dp);
    * strata with no full segment yield null msttr. */
  def msttr(docs: DataFrame, strataCol: String, idCol: String,
            textCol: String, segLen: Int = 50): DataFrame = {
    require(segLen >= 2, "segLen must be >= 2")
    val toks = docs.select(col(strataCol).as("__s"),
      col(idCol).as("__d"),
      posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("__p", "__t")))
    val segTypes = toks
      .withColumn("__seg", floor(col("__p") / segLen))
      .groupBy(col("__s"), col("__d"), col("__seg"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val segs = segTypes.groupBy(col("__s"), col("__d"), col("__seg"))
      .agg(count(lit(1)).as("__types"), sum(col("__c")).as("__len"))
      .filter(col("__len") === segLen)
    val nDocs = docs.groupBy(col(strataCol).as("__s"))
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(
        segs.groupBy(col("__s"))
          .agg(count(lit(1)).as("n_segments"),
            // integer-sum form: order-insensitive (a double-avg here
            // flips the 4th decimal across summation orders)
            round(sum(col("__types")).cast("double") /
              (lit(segLen) * count(lit(1))), 4).as("msttr")),
        Seq("__s"), "left")
      .select(col("__s").as(strataCol), col("n_docs"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        col("msttr"))
  }

  /** Heaps'-law fit per stratum: vocabulary growth V(N) ≈ K·N^β over
    * the corpus read in document-id order, fit by OLS on
    * (ln N_d, ln V_d) at document-boundary checkpoints (N_d =
    * cumulative tokens through doc d, V_d = cumulative distinct
    * types). β far from the 0.4–0.6 natural-text band flags template
    * spam (low β: vocabulary saturates) or OCR noise / id soup
    * (β → 1: every token novel) — a corpus-health screen that needs no
    * reference model.
    *
    * Scale shape: one explode → (stratum, term) first-seen-doc
    * aggregate (vocab-bounded shuffle, map-side combined), doc-grain
    * new-type counts joined to doc-grain token counts (doc-bounded,
    * never token-grain joins), two cumulative windows per stratum over
    * the DOC table, one closing aggregate. Output: (stratum,
    * n_docs BIGINT, n_tokens BIGINT, vocab BIGINT, beta 4dp, k 4dp,
    * r2 4dp); strata with < 2 checkpoint docs yield null fits. */
  def heapsLaw(docs: DataFrame, strataCol: String, idCol: String,
               textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(strataCol).as("__s"),
      col(idCol).as("__d"),
      explode(TextAnalysis.tokens(col(textCol))).as("__t"))
    val perDocTokens = docs.select(col(strataCol).as("__s"),
      col(idCol).as("__d"),
      TextAnalysis.tokenCount(col(textCol)).as("__nt"))
    val firstSeen = toks.groupBy(col("__s"), col("__t"))
      .agg(min(col("__d")).as("__d"))
      .groupBy(col("__s"), col("__d"))
      .agg(count(lit(1)).as("__nv"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s")).orderBy(col("__d"))
      .rowsBetween(w.unboundedPreceding, w.currentRow)
    val pts = perDocTokens
      .join(firstSeen, Seq("__s", "__d"), "left")
      .withColumn("__N", sum(col("__nt")).over(wCum))
      .withColumn("__V", sum(coalesce(col("__nv"), lit(0L))).over(wCum))
      .filter(col("__N") > 0 && col("__V") > 0)
    val x = log(col("__N").cast("double"))
    val y = log(col("__V").cast("double"))
    val a = pts.groupBy(col("__s"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("__N")).as("n_tokens"), max(col("__V")).as("vocab"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * x).as("sxx"),
        sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val n = col("n_docs").cast("double")
    val vx = col("sxx") - col("sx") * col("sx") / n
    val vy = col("syy") - col("sy") * col("sy") / n
    val cxy = col("sxy") - col("sx") * col("sy") / n
    val beta = cxy / nullif(vx, lit(0.0))
    a.select(col("__s").as(strataCol), col("n_docs"),
      col("n_tokens"), col("vocab"),
      round(beta, 4).as("beta"),
      round(exp((col("sy") - beta * col("sx")) / n), 4).as("k"),
      round(cxy * cxy / nullif(vx * vy, lit(0.0)), 4).as("r2"))
  }

  /** Dunning log-likelihood-ratio collocations (X275; Dunning 1993) —
    * adjacent word pairs that co-occur far beyond chance ("new york",
    * "machine learning"), the statistically-grounded upgrade of the
    * within-doc PMI pairs [[pmiPairs]] (G² is χ²-calibrated and safe
    * at low counts, PMI's weakness). Over the corpus BIGRAM-POSITION
    * universe: for bigram (w1, w2), the 2×2 table is k11 = c(w1 w2),
    * k12 = c(w1 ·) − k11, k21 = c(· w2) − k11, k22 = N − the rest, and
    * G² = 2·Σ k·ln(k/E) with margin-product expectations (empty cells
    * contribute 0 — the x·ln x → 0 limit).
    *
    * Shape: ONE bigram explode collapsing to bigram-type counts
    * (vocab²-bounded, map-side combined); both marginals come from the
    * SAME type table (substring_index prefix/suffix, no second
    * fact-grain pass); ranking on the ROUNDED score with a bigram
    * tie-break (the bm25 rounded-rank-key discipline). Output top-k:
    * (w1, w2, n11 BIGINT, g2 4dp). */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 5L, topK: Int = 20): DataFrame = {
    import graft.functions.gfunctions.word_shingles
    val bg = docs.select(explode(word_shingles(col(textCol), 2))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("k11"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val m1 = bg.groupBy(col("w1")).agg(sum(col("k11")).as("c1"))
    val m2 = bg.groupBy(col("w2")).agg(sum(col("k11")).as("c2"))
    val tot = bg.agg(sum(col("k11")).as("nn"))
    val cells = bg.filter(col("k11") >= minCount)
      .join(m1, Seq("w1")).join(m2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("k12", col("c1") - col("k11"))
      .withColumn("k21", col("c2") - col("k11"))
      .withColumn("k22",
        col("nn") - col("c1") - col("c2") + col("k11"))
    def term(k: Column, e: Column) =
      when(k > 0, k.cast("double") * log(k.cast("double") / e))
        .otherwise(lit(0.0))
    val nD = col("nn").cast("double")
    val g2 = lit(2.0) * (
      term(col("k11"), col("c1") * col("c2") / nD) +
      term(col("k12"), col("c1") * (col("nn") - col("c2")) / nD) +
      term(col("k21"), (col("nn") - col("c1")) * col("c2") / nD) +
      term(col("k22"),
        (col("nn") - col("c1")) * (col("nn") - col("c2")) / nD))
    val scored = cells.withColumn("g2", round(g2, 4))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("g2").desc, col("bg"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col("w1"), col("w2"), col("k11").as("n11"), col("g2"))
  }

  /** Keyness analysis (X290; Rayson & Garside 2000) — which terms are
    * OVER-represented in a target slice vs the rest of the corpus:
    * per term, the 2×2 log-likelihood ratio G² between (count in
    * target, count in rest) against the corpus-size expectations,
    * SIGNED by direction (positive = key in the target). The
    * corpus-linguistics standard for "what makes this source/domain
    * different", and the keyword-level companion to the bigram
    * [[collocations]].
    *
    * One token explode collapsing to (term, in-target) counts
    * (vocab-bounded, map-side combined); expectations are closed-form
    * margins. min-count floor + rounded-score rank key, top-k each
    * direction. Output: (term, n_target BIGINT, n_rest BIGINT,
    * g2_signed 4dp). */
  def keyness(docs: DataFrame, strataCol: String, textCol: String,
              target: String, minCount: Long = 5L,
              topK: Int = 15): DataFrame = {
    // a NULL stratum is still corpus: it counts as REST (fuzz-15
    // finding — the raw === comparison's NULL fell through BOTH
    // when() branches, silently dropping unattributed docs from the
    // totals while the oracle's CASE counted them)
    val tc = docs.select(
        coalesce(col(strataCol) === target, lit(false)).as("__tgt"),
        explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t"))
      .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("n_target"),
        sum(when(!col("__tgt"), 1L).otherwise(0L)).as("n_rest"))
    val tot = tc.agg(sum(col("n_target")).as("__Nt"),
      sum(col("n_rest")).as("__Nr"))
    def term(k: Column, e: Column) =
      when(k > 0, k.cast("double") * log(k.cast("double") / e))
        .otherwise(lit(0.0))
    val scored = tc
      .filter(col("n_target") + col("n_rest") >= minCount)
      .crossJoin(broadcast(tot))
      .withColumn("__et",
        (col("n_target") + col("n_rest")) * col("__Nt") /
          (col("__Nt") + col("__Nr")).cast("double"))
      .withColumn("__er",
        (col("n_target") + col("n_rest")) * col("__Nr") /
          (col("__Nt") + col("__Nr")).cast("double"))
      .withColumn("__g2", round(
        lit(2.0) * (term(col("n_target"), col("__et")) +
          term(col("n_rest"), col("__er"))) *
          when(col("n_target") >= col("__et"), 1.0).otherwise(-1.0),
        4) + lit(0.0)) // IEEE −0.0 + 0.0 = +0.0: canonicalize signed zero
    val wPos = org.apache.spark.sql.expressions.Window
      .orderBy(col("__g2").desc, col("__t"))
    val wNeg = org.apache.spark.sql.expressions.Window
      .orderBy(col("__g2").asc, col("__t"))
    scored
      .withColumn("__rp", row_number().over(wPos))
      .withColumn("__rn", row_number().over(wNeg))
      .filter(col("__rp") <= topK || col("__rn") <= topK)
      .select(col("__t").as("term"), col("n_target"), col("n_rest"),
        col("__g2").as("g2_signed"))
  }

  /** Gries' DP dispersion per term (X291; Gries 2008) — is a term
    * spread evenly across corpus parts or clumped in a few:
    * DP = ½·Σ_parts |v_i − s_i| with v_i the term's share of its own
    * occurrences in part i and s_i the part's share of the token
    * stream. 0 = perfectly proportional, → 1 = concentrated in one
    * part — the screen that separates general vocabulary from
    * source-specific jargon/boilerplate (frequency alone can't).
    *
    * One explode → (part, term) counts (vocab×parts-bounded), part
    * sizes from the same pass grain, one |v − s| aggregate per term —
    * ABSENT (part, term) cells contribute their |0 − s_i| mass in
    * closed form (Σ_present s_i subtracted from 1), no dense grid.
    * Output per term with ≥ minCount occurrences: (term,
    * n_occurrences BIGINT, n_parts_present BIGINT, dp 4dp). */
  def dispersionDp(docs: DataFrame, partCol: String, textCol: String,
                   minCount: Long = 5L): DataFrame = {
    val tc = docs.select(col(partCol).as("__p"),
        explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .groupBy(col("__p"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val parts = tc.groupBy(col("__p"))
      .agg(sum(col("__c")).as("__pn"))
    val totTok = parts.agg(sum(col("__pn")).as("__N"))
    val termTot = tc.groupBy(col("__t"))
      .agg(sum(col("__c")).as("__tc"))
      .filter(col("__tc") >= minCount)
    tc.join(broadcast(termTot), Seq("__t"))
      .join(broadcast(parts), Seq("__p"))
      .crossJoin(broadcast(totTok))
      .groupBy(col("__t"))
      .agg(max(col("__tc")).as("n_occurrences"),
        count(lit(1)).as("n_parts_present"),
        // present-part mass + the absent parts' Σ s_i in closed form
        round((sum(abs(col("__c") / col("__tc").cast("double") -
            col("__pn") / col("__N").cast("double"))) +
          lit(1.0) - sum(col("__pn") / col("__N").cast("double"))) / 2,
          4).as("dp"))
      .select(col("__t").as("term"), col("n_occurrences"),
        col("n_parts_present"), col("dp"))
  }

  /** Simple Good–Turing unseen-mass panel per stratum (X276; Good
    * 1953) — "how much probability should the LM reserve for words it
    * has never seen from this source": p₀ = N₁/N (singleton share of
    * the token stream), with the first discounted count r*₁ = 2·N₂/N₁
    * as the smoothing readout (how much a singleton's count deflates).
    * High p₀ flags open-vocabulary noise (OCR soup, id strings); near
    * zero flags saturated/templated sources — the triage signal behind
    * Katz/GT-smoothed LMs.
    *
    * Shape: one token explode collapsing to (stratum, term) counts
    * (vocab-bounded, map-side combined), then a frequency-of-
    * frequencies aggregate — output rows = strata. Output:
    * (stratum, n_tokens BIGINT, vocab BIGINT, n1 BIGINT, n2 BIGINT,
    * p_unseen 6dp, r_star_1 4dp null when no singletons). */
  def goodTuring(docs: DataFrame, strataCol: String,
                 textCol: String): DataFrame = {
    val tc = docs.select(col(strataCol).as("__s"),
        explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .groupBy(col("__s"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    tc.groupBy(col("__s"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("__s").as(strataCol), col("n_tokens"), col("vocab"),
        col("n1"), col("n2"),
        round(col("n1").cast("double") / col("n_tokens"), 6)
          .as("p_unseen"),
        round(lit(2.0) * col("n2") /
          nullif(col("n1").cast("double"), lit(0.0)), 4).as("r_star_1"))
  }
}
