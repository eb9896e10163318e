package graft.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gfunctions._

/** Deterministic sampling for training-data pipelines. Random sampling is
  * useless at corpus scale when re-runs must be reproducible and samples
  * must be JOINABLE across tables/runs — so every operator here derives
  * its randomness from a content hash (md5, DuckDB-mirrorable), never
  * from an RNG: the same row is in the same sample on every engine, every
  * run, any partitioning.
  */
object Sampling {

  /** Deterministic Bernoulli sample: keep rows whose md5-derived uniform
    * in [0,1) is < fraction. Pure narrow filter — pushes to the scan side
    * of any downstream join. `salt` decorrelates independent samples.
    *
    * Precondition: keyCol should be a non-null (ideally unique) id.
    * Determinism comes FROM the key, so all null-key rows necessarily
    * share one hash — they are kept or dropped as a block, never sampled
    * independently. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
                 salt: String = ""): DataFrame =
    df.filter(hashUnit(keyCol, salt) < fraction)

  /** md5-derived uniform in [0,1): low 8 bytes (LE, signed) of
    * md5(salt:key), shifted to unsigned range, scaled by 2^-64. */
  private def hashUnit(keyCol: String, salt: String) =
    (md5_long(concat_ws(":", lit(salt), col(keyCol).cast("string")))
      .cast("double") / lit(math.pow(2.0, 64))) + lit(0.5)

  /** Deterministic mixture resampling toward target stratum weights: the
    * output totals ~`targetRows` with stratum s contributing
    * targetRows·w(s) rows in expectation, capped at what s actually has
    * (acceptance rate p_s = min(1, targetRows·w(s)/n_s)). This is the
    * domain-mixing step of a training-data pipeline (rebalance scraped
    * sources toward a target mixture) as one cardinality-sized count
    * aggregate (map-side combined; shuffle ∝ #strata, not rows) broadcast
    * back onto a narrow hash filter — the corpus ROWS are never shuffled,
    * though df is read twice (rates + filter) unless the caller caches
    * it. Strata missing from `weights` get weight 0
    * (dropped). Rates and the accept test are md5-derived, so the sample
    * is reproducible across runs, engines, and partitionings. */
  def mixtureSample(df: DataFrame, strataCol: String, keyCol: String,
                    weights: Map[String, Double], targetRows: Long,
                    salt: String = ""): DataFrame = {
    val wlit = typedLit(weights)
    val rates = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .select(col(strataCol),
        least(lit(1.0),
          lit(targetRows.toDouble) *
            coalesce(try_element_at(wlit, col(strataCol).cast("string")), lit(0.0)) /
            col("__n").cast("double")).as("__p"))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(hashUnit(keyCol, salt) < col("__p"))
      .drop("__p")
  }

  /** Collected per-stratum row counts. Null strata are excluded from
    * the mass, not just the output: mixtureSample can never select them
    * (null lookups get rate 0), so counting them would silently scale
    * every real stratum's rate down by the null share and
    * under-deliver the target. Single source of truth for both the
    * weight and the rate derivations. */
  private def strataCounts(df: DataFrame,
                           strataCol: String): Map[String, Long] =
    df.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol).cast("string").as("s"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Temperature-weighted mixture sample — the multilingual/multi-domain
    * rebalancing rule (mT5/XLM-R style): stratum s gets weight
    * w(s) ∝ n_s^α, α ∈ [0, 1]. α = 1 reproduces the natural
    * distribution, α = 0 is uniform across strata, and the usual
    * α ≈ 0.3–0.7 up-samples small strata without letting them dominate.
    * The per-stratum counts are aggregated ONCE and both the n^α weights
    * and the acceptance rates min(1, target·w/n) derive from that single
    * collected map (the stratum list is bounded by definition — the q57
    * contract), so the corpus is not aggregated a second time. The
    * sample itself stays the L29 shape: broadcast rates onto a narrow
    * md5 filter, corpus rows never shuffled (two scans total: counts +
    * filter). Rate arithmetic runs at the driver in the same IEEE op
    * order the Spark-side form used, so samples are unchanged.
    * Null-stratum rows are outside BOTH the weight budget and the
    * sample (strataCounts drops them; the rate lookup then rejects
    * them) — an unattributed doc neither consumes target mass nor
    * gets sampled, stated. */
  def temperatureSample(df: DataFrame, strataCol: String, keyCol: String,
                        alpha: Double, targetRows: Long,
                        salt: String = ""): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0, 1]")
    val counts = strataCounts(df, strataCol)
    val raw = counts.map { case (s, n) => s -> math.pow(n.toDouble, alpha) }
    val total = raw.values.sum
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0, targetRows.toDouble * (raw(s) / total) / n.toDouble)
    }
    val rlit = typedLit(rates)
    df.filter(hashUnit(keyCol, salt) <
      coalesce(try_element_at(rlit, col(strataCol).cast("string")), lit(0.0)))
  }

  /** Leakage-safe train/val/test split: the split key is the CONTENT
    * hash, not the row id, so byte-identical documents always co-assign
    * — an exact duplicate can never straddle a train/eval boundary (the
    * split-level complement of benchmark decontamination L17; near-dups
    * need an L2-L5 pass first). Weights are normalized; assignment is a
    * cumulative-interval lookup on the md5-derived uniform. One narrow
    * codegen'd projection, no shuffle, reproducible across runs, engines,
    * and partitionings. Adds a `split` column. */
  def contentSplit(df: DataFrame, textCol: String,
                   splits: Seq[(String, Double)],
                   salt: String = ""): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    val uppers = cumulativeUppers(splits)
    val u = hashUnit(textCol, salt)
    val assigned = splits.init.zip(uppers.init).reverse
      .foldLeft(lit(splits.last._1): Column) {
        case (acc, ((name, _), b)) => when(u < lit(b), lit(name)).otherwise(acc)
      }
    df.withColumn("split", assigned)
  }

  /** Normalized cumulative upper bounds of the split intervals — public
    * so oracle SQL can embed the EXACT same double boundaries. */
  def cumulativeUppers(splits: Seq[(String, Double)]): Seq[Double] = {
    val total = splits.map(_._2).sum
    splits.map(_._2 / total).scanLeft(0.0)(_ + _).tail
  }

  /** Deterministic WEIGHTED sample without replacement, n per stratum
    * (Efraimidis–Spirakis 2006 A-ES): rank rows by u^(1/w) descending —
    * u the md5-derived uniform, w the row's weight — and keep the top
    * n; inclusion probability is proportional to weight, without
    * replacement, in one pass. Instead of u^(1/w) itself the rank key
    * is the monotone-equivalent ln(u)/w': u^(1/w) for large weights
    * crushes against 1.0 where double spacing is coarsest (engine ulp
    * noise could flip ranks), while the log form spreads the same
    * ordering across (−∞, 0). w' is the weight NORMALIZED by the global
    * MAX weight (a 1-row broadcast aggregate): A-ES ordering is
    * weight-scale-invariant, and without the normalization byte-sized
    * weights (~1e9) would compress every |ln(u)/w| below the rounding
    * grain and silently degrade selection to the tiebreak. max — not
    * mean — because max of doubles is independent of partial-aggregation
    * merge order, while a mean's last-ulp varies with partitioning and
    * would make the rounded selection boundary run-dependent, exactly
    * what this module bans. The key is
    * 9-dp-rounded with the row key as tiebreak, so the selection
    * boundary is engine-independent (the q35 lesson). Same
    * WindowGroupLimit shape as stratifiedHashSample — no global sort,
    * per-partition top-n pushed ahead of the shuffle.
    *
    * Rows with null or non-positive weight are excluded (zero-weight
    * rows can never be drawn; A-ES is undefined for them). */
  def weightedSample(df: DataFrame, strataCol: String, keyCol: String,
                     weightCol: String, n: Int,
                     salt: String = ""): DataFrame = {
    require(!df.columns.contains("__rn") && !df.columns.contains("__wbar"),
      "input must not contain __rn/__wbar columns")
    val pos = df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
    val wbar = pos.agg(max(col(weightCol).cast("double")).as("__wbar"))
    val u = hashUnit(keyCol, salt)
    val r = round(log(u) * col("__wbar") / col(weightCol).cast("double"), 9)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(r.desc, col(keyCol).asc)
    pos.crossJoin(broadcast(wbar))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn", "__wbar")
  }

  /** Deterministic stratified sample: the n rows per stratum with the
    * smallest hash values (hash order = uniform order, ties broken by
    * key). Window partitioned by stratum — fine-grained key, no global
    * sort; at 100 TB Spark's WindowGroupLimit pushes the per-partition
    * top-n ahead of the shuffle. */
  def stratifiedHashSample(df: DataFrame, strataCol: String, keyCol: String,
                           n: Int, salt: String = ""): DataFrame = {
    require(!df.columns.contains("__rn"),
      "input must not contain a __rn column")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5_long(concat_ws(":", lit(salt), col(keyCol).cast("string"))).asc,
        col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic training-shard assignment: shard = md5(salt:key) mod
    * nShards, appended as a `shard` column. The write-side partner of
    * [[hashSample]]: every engine, run, and partitioning routes a row to
    * the same shard, so shard files are stable across rebuilds and
    * samples stay joinable with their shards. A pure narrow projection —
    * the shard column exists to feed `.repartition(col("shard"))` /
    * partitionBy("shard") on write, which is where the one unavoidable
    * shuffle belongs. md5's uniformity bounds shard-size imbalance at
    * O(sqrt(n/nShards)) — no planning pass needed. */
  def hashShard(df: DataFrame, keyCol: String, nShards: Int,
                salt: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    df.withColumn("shard",
      pmod(md5_long(concat_ws(":", lit(salt), col(keyCol).cast("string"))),
        lit(nShards.toLong)))
  }

  /** Deterministic negative sampling for contrastive/implicit-feedback
    * training: for each entity, the `k` hash-top-ranked candidates the
    * entity has NOT interacted with. The candidate universe is the
    * broadcast `items` frame (bounded — a vocabulary, a brand list);
    * positives are excluded with a null-safe anti-join and the
    * per-entity ranking is md5-ordered (salted), so every engine and
    * every rerun draws the same negatives — the q45 hash-sampling
    * discipline applied to the negative-pair generator. Output:
    * (entity, item, neg_rank 1..k).
    */
  def negativeSample(positives: DataFrame, entityCol: String,
                     itemCol: String, items: DataFrame, k: Int,
                     salt: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val ents = positives.select(col(entityCol)).distinct()
    val cand = ents.crossJoin(broadcast(items.select(col(itemCol))
      .distinct()))
    val neg = cand.join(positives.select(col(entityCol), col(itemCol))
        .distinct(),
      Seq(entityCol, itemCol), "left_anti")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(md5_long(concat_ws(":", lit(salt),
        col(entityCol).cast("string"), col(itemCol).cast("string"))),
        col(itemCol))
    neg.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
  }
}
