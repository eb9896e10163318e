package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Ranking-quality readouts for scored binary outcomes (X101/X102):
  * the precision–recall curve with average precision, and the decile
  * lift/gains table — the two charts every scoring-model review opens
  * with, next to q116's ROC AUC.
  *
  * Scale shape (the rocAuc discipline): facts collapse to one row per
  * DISTINCT score FIRST, so every cumulative window runs over the
  * score domain, not the row count — callers pre-round continuous
  * scores (the catalog uses 3-dp) to keep that domain bounded. All
  * curve inputs are exact BIGINT counts.
  */
object Ranking {

  /** PR curve at every distinct score threshold (predict positive when
    * score ≥ t, thresholds descending) plus AP — the step-integral
    * Σ (R_i − R_{i−1})·P_i over distinct thresholds (the sklearn
    * definition restricted to the collapsed score domain; identical
    * when scores are pre-rounded, which is the usage contract).
    * Output: (threshold, n_pred, tp, precision 4-dp, recall 4-dp,
    * avg_precision 4-dp — the same value on every row for easy
    * joining). `label` is 1/0. */
  def prCurve(df0: DataFrame, labelCol: String, scoreCol: String,
              maxDistinctScores: Long = 2000000L): DataFrame = Pin.scope { pin =>
    // ranked-axis complete-case (rocAuc's fuzz-24 contract): a null
    // score has no threshold position, a null label is unjudgeable
    val df = df0.filter(col(scoreCol).isNotNull &&
      col(labelCol).isNotNull)
    val g = pin(df.groupBy(col(scoreCol).as("threshold"))
      .agg(count(lit(1)).as("n_at"), sum(col(labelCol)).as("np_at")))
    // bounded-score-grain guard (the rocAuc/coxPh pattern): the
    // cumulative windows below single-sort the distinct thresholds
    val nScores = g.count()
    require(nScores <= maxDistinctScores,
      s"prCurve: $nScores distinct scores exceeds the single-sort " +
        s"guard ($maxDistinctScores) — pre-round or bucket the score " +
        "column before calling")
    val wDesc = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val cum = g
      .withColumn("n_pred", sum(col("n_at")).over(wDesc))
      .withColumn("tp", sum(col("np_at")).over(wDesc))
      .withColumn("__pos", sum(col("np_at")).over(wAll))
    val prec = col("tp").cast("double") / col("n_pred")
    val rec = col("tp").cast("double") / nullif(col("__pos"), lit(0L))
    val withPr = cum
      .withColumn("__prec", prec).withColumn("__rec", rec)
      .withColumn("__prevRec",
        coalesce(lag(col("__rec"), 1).over(
          Window.orderBy(col("threshold").desc)), lit(0.0)))
    val ap = withPr
      .withColumn("__apTerm", (col("__rec") - col("__prevRec")) *
        col("__prec"))
      .withColumn("avg_precision",
        round(sum(col("__apTerm")).over(wAll), 4))
    ap.select(col("threshold"), col("n_pred"), col("tp"),
      round(col("__prec"), 4).as("precision"),
      round(col("__rec"), 4).as("recall"),
      col("avg_precision"))
      // threshold-grain output, bounded by the guard: materialized
      // before g's pin is released
      .localCheckpoint()
  }

  /** Decile gains/lift table: rank all rows by (score desc, tie-break
    * asc), cut into `nBins` equal-count bins by floor arithmetic (the
    * X54 quintile discipline — no ntile ambiguity), and report per-bin
    * and cumulative capture. Output: (bin 1..n, n_rows, n_pos,
    * bin_rate 4-dp, cum_pos, cum_capture 4-dp, cum_lift 4-dp =
    * cumulative rate / base rate). */
  def liftTable(df: DataFrame, labelCol: String, scoreCol: String,
                tieBreak: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2)
    // fact-grain global rank: one eager count probe routes it through
    // the size-dispatched Ranks two-pass form past 2M rows (no
    // single-partition sort over the scored facts at scale), and the
    // whole-frame count window collapses to a literal
    val n = df.count()
    val ranked = graft.util.Ranks
      .globalRowNumber(df,
        Seq(col(scoreCol).desc, col(tieBreak).asc), "__r", n)
      .withColumn("bin",
        (((col("__r") - 1) * nBins / lit(n)) + 1).cast("long"))
    val byBin = ranked.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), sum(col(labelCol)).as("n_pos"))
    // both windows below run over byBin — ≤ nBins rows by construction
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    byBin
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("__cumN", sum(col("n_rows")).over(wCum))
      .withColumn("__totPos", sum(col("n_pos")).over(wAll))
      .withColumn("__totN", sum(col("n_rows")).over(wAll))
      .select(col("bin"), col("n_rows"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_rows"), 4)
          .as("bin_rate"),
        col("cum_pos"),
        round(col("cum_pos").cast("double") /
          nullif(col("__totPos"), lit(0L)), 4).as("cum_capture"),
        round((col("cum_pos").cast("double") / col("__cumN")) /
          nullif(col("__totPos").cast("double") / col("__totN"),
            lit(0.0)), 4).as("cum_lift"))
  }

  /** Graded ranking evaluation per query: nDCG@k with the
    * (2^rel − 1)/log2(pos + 1) gain (Järvelin & Kekäläinen 2002), MRR
    * over items with rel ≥ `relThreshold`, and precision@k at the same
    * threshold. Rankings order by (score desc, id asc) and the ideal
    * ranking by (rel desc, id asc) — both total orders, so every
    * metric is deterministic. Two windows per query over
    * query-bounded candidate lists; one aggregate. Output per query:
    * (query, n_docs, dcg 6dp, idcg 6dp, ndcg 6dp, mrr 6dp,
    * p_at_k 4dp). Queries with no relevant item get null mrr and
    * ndcg = null when idcg = 0.
    */
  def ndcgAtK(df: DataFrame, queryCol: String, idCol: String,
              relCol: String, scoreCol: String, k: Int,
              relThreshold: Double = 2.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val wScore = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val wIdeal = Window.partitionBy(col(queryCol))
      .orderBy(col(relCol).desc, col(idCol).asc)
    val rel = col(relCol).cast("double")
    val gain = pow(lit(2.0), rel) - 1.0
    val ranked = df
      .withColumn("__pos", row_number().over(wScore))
      .withColumn("__ipos", row_number().over(wIdeal))
    ranked.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__pos") <= k,
          gain / log2(col("__pos") + 1))).as("__dcg"),
        sum(when(col("__ipos") <= k,
          gain / log2(col("__ipos") + 1))).as("__idcg"),
        min(when(rel >= relThreshold, col("__pos"))).as("__first"),
        sum(when(col("__pos") <= k && rel >= relThreshold, 1L)
          .otherwise(0L)).as("__hits"))
      .select(col(queryCol), col("n_docs"),
        round(col("__dcg"), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        round(col("__dcg") / nullif(col("__idcg"), lit(0.0)), 6)
          .as("ndcg"),
        round(lit(1.0) / col("__first"), 6).as("mrr"),
        round(col("__hits").cast("double") / k, 4).as("p_at_k"))
  }

  /** MAP@k / recall@k per query (X319) — the set-based retrieval
    * readouts [[ndcgAtK]]'s graded gain does not give: average
    * precision rewards putting EVERY relevant doc early (the mean of
    * precision@i at each relevant hit, normalized by min(R, k)), and
    * recall@k reads coverage of the relevant set. Binary relevance
    * via `relThreshold` (the ndcg convention). Same shape as
    * [[ndcgAtK]]: one score-rank window partitioned by query, one
    * aggregate; the per-hit precision sum is ≤ k bounded terms.
    * Output: (query, n_docs BIGINT, n_rel BIGINT, ap_at_k 6dp,
    * recall_at_k 4dp); queries with no relevant docs yield null ap
    * and recall. */
  def mapAtK(df: DataFrame, queryCol: String, idCol: String,
             relCol: String, scoreCol: String, k: Int,
             relThreshold: Double = 2.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // Complete-case on the ranked axis (the prCurve/rocAuc fuzz-24
    // contract): a null score or null relevance has no rank position —
    // left in, it would occupy row_number slots and count toward n_docs
    // only because both engines happen to default NULLS LAST under DESC.
    val cc = df.filter(col(scoreCol).isNotNull && col(relCol).isNotNull)
    val wScore = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val isRel = (col(relCol).cast("double") >= relThreshold)
      .cast("long")
    val ranked = cc
      .withColumn("__rel", isRel)
      .withColumn("__pos", row_number().over(wScore))
      .withColumn("__cumrel", sum(col("__rel")).over(
        Window.partitionBy(col(queryCol))
          .orderBy(col(scoreCol).desc, col(idCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__rel")).as("n_rel"),
        sum(when(col("__pos") <= k && col("__rel") === 1L,
          col("__cumrel").cast("double") / col("__pos"))).as("__apsum"),
        sum(when(col("__pos") <= k, col("__rel")).otherwise(0L))
          .as("__hits"))
      .select(col(queryCol), col("n_docs"), col("n_rel"),
        // a query WITH relevant docs but none in the top k scores 0,
        // not null (sum-of-empty-when would null it); no-relevant
        // queries stay null
        round(when(col("n_rel") > 0,
          coalesce(col("__apsum"), lit(0.0)) /
            least(col("n_rel"), lit(k.toLong)).cast("double")), 6)
          .as("ap_at_k"),
        round(when(col("n_rel") > 0,
          col("__hits").cast("double") / col("n_rel")), 4)
          .as("recall_at_k"))
  }

  /** Quantile-forecast evaluation by pinball (quantile) loss: the
    * first ⌊n/2⌋ buckets per key estimate each requested quantile,
    * the rest score it — pinball = mean of q·(a−f)⁺ + (1−q)·(f−a)⁺,
    * the strictly proper loss for quantile forecasts (what the M5
    * uncertainty track ranks by), plus empirical coverage (share of
    * test actuals ≤ forecast, which should sit near q for a
    * calibrated forecaster). One rank window, one exact-percentile
    * aggregate over the estimation half, one broadcast-grid join over
    * the test half. Output: (key, q 2dp, n_test BIGINT, forecast 4dp,
    * pinball — an unrounded snap-divided double (exact integer
    * ten-thousandths numerator / exact division, no final round; snap
    * headroom: loss terms are value-scale, so the claim holds while
    * Σloss per (key, q) < 2^53/1e4 ≈ 9e8 value units), coverage 4dp);
    * keys with an empty half drop out. */
  def quantileForecastEval(series: DataFrame, key: String,
                           bucket: String, value: String,
                           qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1),
      "quantiles in (0,1)")
    val v = col(value).cast("double")
    val wOrd = Window.partitionBy(col(key)).orderBy(col(bucket))
    val wKey = Window.partitionBy(col(key))
    val split = series
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wKey))
      .withColumn("__est", col("__rn") <= floor(col("__n") / 2))
    val aggs = qs.zipWithIndex.map { case (q, i) =>
      percentile(v, lit(q)).as(s"__f$i")
    }
    val fc = split.filter(col("__est"))
      .groupBy(col(key))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(key), explode(array(qs.zipWithIndex.map {
        case (q, i) =>
          struct(lit(q).as("__q"), col(s"__f$i").as("__f"))
      }: _*)).as("__qf"))
      .select(col(key), col("__qf.__q").as("__q"),
        col("__qf.__f").as("__f"))
    split.filter(!col("__est"))
      .join(broadcast(fc), Seq(key))
      .groupBy(col(key), col("__q"))
      .agg(count(lit(1)).as("n_test"),
        max(col("__f")).as("__fv"),
        // q94 snap-divide (fuzz-41): per-point losses quantize to the
        // 4-dp grid, the sum snaps to exact integer ten-thousandths
        // (absorbing engine sum-order ulps a plain avg+round lets
        // straddle), one exact division, NO final round.
        sum(round(col("__q") * greatest(v - col("__f"), lit(0.0)) +
          (lit(1.0) - col("__q")) *
            greatest(col("__f") - v, lit(0.0)), 4)).as("__pbs"),
        avg(when(v <= col("__f"), 1.0).otherwise(0.0)).as("__cov"))
      .select(col(key), round(col("__q"), 2).as("q"), col("n_test"),
        round(col("__fv"), 4).as("forecast"),
        (round(col("__pbs") * 1e4) / (lit(1e4) * col("n_test")))
          .as("pinball"),
        round(col("__cov"), 4).as("coverage"))
  }

  /** Rank-biased overlap (Webber et al. 2010), truncated at depth D:
    * RBO_D = (1−p)·Σ_{d=1..D} p^{d−1}·|A_d ∩ B_d|/d over the top-d
    * prefixes of two rankings — the top-weighted "how much did the
    * leaderboard change" measure that Kendall/Spearman (which weight
    * all positions equally) cannot give. Truncated form, no
    * extrapolation residual (documented; comparable across keys at
    * fixed D and p). Inputs are two rank columns per item (1-based);
    * items missing either rank are ignored. The depth grid is
    * D-bounded and broadcast — work is |items|·D per key at worst,
    * with items already top-k-bounded by the caller. Output: (key,
    * n_items BIGINT, rbo 4dp). */
  def rbo(df: DataFrame, key: String, rankA: String, rankB: String,
          depth: Int = 20, p: Double = 0.9): DataFrame = {
    require(depth >= 1 && p > 0 && p < 1, "depth >= 1, p in (0,1)")
    val items = df.select(col(key).as("__k"),
      col(rankA).cast("long").as("__ra"),
      col(rankB).cast("long").as("__rb"))
      .filter(col("__ra").isNotNull && col("__rb").isNotNull)
    val depths = items.sparkSession
      .createDataFrame((1 to depth).map(Tuple1(_))).toDF("__d")
    val overlaps = items.crossJoin(broadcast(depths))
      .filter(col("__ra") <= col("__d") && col("__rb") <= col("__d"))
      .groupBy(col("__k"), col("__d"))
      .agg(count(lit(1)).as("__ov"))
    val nItems = items.groupBy(col("__k"))
      .agg(count(lit(1)).as("n_items"))
    val term = pow(lit(p), col("__d") - 1) *
      col("__ov").cast("double") / col("__d")
    nItems.join(
        overlaps.groupBy(col("__k"))
          .agg(round(sum(term) * (1 - p), 4).as("rbo")),
        Seq("__k"), "left")
      .select(col("__k").as(key), col("n_items"),
        coalesce(col("rbo"), lit(0.0)).as("rbo"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner: given per-query candidates
    * scored by several INDEPENDENT systems (BM25 and embedding cosine
    * being the canonical pair), each system ranks its candidates and
    * the fused score is Σ_s 1/(k + rank_s) — rank-based, so systems
    * with incomparable score scales fuse without calibration, and the
    * k (default 60, the paper's constant) damps the head so one
    * system's top hit cannot dominate. [[rbo]]'s sibling: RBO
    * measures how much two rankings agree, RRF builds the ranking a
    * retrieval pipeline actually serves.
    *
    * Determinism contract: each system's rank is row_number over
    * (score DESC, item ASC) — null scores rank LAST (treated as −∞,
    * stated) so a candidate missing one system's score still fuses by
    * its other ranks rather than vanishing. Output keeps the top
    * `topN` per query by (rrf DESC, item ASC).
    *
    * Scale shape: every window partitions by the query, and the
    * per-query payload is the candidate set — bounded upstream by the
    * retrievers' own top-k cutoffs (the usage contract; this operator
    * never generates candidates, it only fuses them), so a billion
    * queries parallelize trivially with no global sort or driver
    * involvement. Output: (query, item, rank per system,
    * rrf_score 6dp, fused_rank). */
  def rrfFusion(scored: DataFrame, queryCol: String, itemCol: String,
                scoreCols: Seq[String], k: Int = 60,
                topN: Int = 10): DataFrame = {
    require(scoreCols.nonEmpty, "need at least one score column")
    require(k >= 1, s"k must be >= 1, got $k")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val ranked = scoreCols.zipWithIndex.foldLeft(scored) {
      case (df, (sc, i)) =>
        val w = Window.partitionBy(col(queryCol))
          .orderBy(col(sc).desc_nulls_last, col(itemCol).asc)
        df.withColumn(s"rank_${i + 1}", row_number().over(w))
    }
    val rrf = (1 to scoreCols.size)
      .map(i => lit(1.0) / (lit(k.toDouble) + col(s"rank_$i")))
      .reduce(_ + _)
    val wF = Window.partitionBy(col(queryCol))
      .orderBy(col("__rrf").desc, col(itemCol).asc)
    ranked.withColumn("__rrf", rrf)
      .withColumn("fused_rank", row_number().over(wF))
      .filter(col("fused_rank") <= topN)
      .select(Seq(col(queryCol), col(itemCol)) ++
        (1 to scoreCols.size).map(i => col(s"rank_$i")) ++
        Seq(round(col("__rrf"), 6).as("rrf_score"),
          col("fused_rank")): _*)
  }
}
