package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gfunctions._
import graft.text.TextAnalysis
import graft.util.Pin

/** Deduplication operators for LLM training-data pipelines, each designed
  * around a bounded shuffle — never an all-pairs comparison:
  *
  *  - exact: hash-groupBy on content hash (one shuffle on the hash key).
  *  - simhash near-dup: 64-bit fingerprint -> 4x16-bit bands -> shuffle on
  *    band key -> in-bucket pairing only (two docs collide in a band iff
  *    their fingerprints agree on 16 bits; hamming<=k docs are guaranteed
  *    to share >=1 band for k<=3 by pigeonhole). O(sum bucket^2), bucket
  *    sizes bounded by fingerprint entropy; a bucket-size cap guards
  *    degenerate data.
  *  - minhash LSH: per-shingle hashes -> per-doc signature -> band keys ->
  *    in-bucket candidate pairs -> exact-Jaccard verification on the
  *    candidates only.
  *  - n-gram Jaccard: inverted shingle index (shuffle on shingle) ->
  *    per-pair intersection counts -> Jaccard filter. Frequent-shingle cap
  *    bounds the index fan-out (a shingle appearing in f docs contributes
  *    f^2 pairs).
  *
  * All hashes derive from [[HashUtil.md5Lower8LE]] (DuckDB
  * `md5_number_lower`-compatible), so every stage is oracle-checkable.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** How long to wait for an [[Observation]] after its action returns.
    * Observed metrics complete on the ASYNC listener bus
    * (SQLExecutionEnd), so the action usually returns first: on Spark
    * 4.1.2, 137 of 200 `localCheckpoint`s, 156 of 200 noop writes and
    * 159 of 200 `collect`s returned with the observation still pending.
    * A non-blocking read would lose the metrics nearly every time. */
  private val ObservationWait = scala.concurrent.duration.Duration(30, "s")

  /** The metrics row of `obs`, or None. A timeout or a failed action
    * logs one WARN naming `op`. A row without a schema (AQE pruned the
    * CollectMetrics node, e.g. over an empty join side) is None without
    * a warning. Each caller decides what None means. */
  private[dedup] def observed(obs: Observation, op: String,
                              wait: scala.concurrent.duration.Duration =
                                ObservationWait): Option[Row] =
    scala.util.Try(scala.concurrent.Await.result(obs.future, wait)) match {
      case scala.util.Success(r) =>
        Option(r).filter(r => r.schema != null && r.schema.nonEmpty)
      case scala.util.Failure(e) =>
        log.warn(s"$op: Observation not available ($e)")
        None
    }

  /** Log the degenerate-bucket cap warning from an [[Observation]] riding
    * the candidate join (a CollectMetrics node over the big-bucket side),
    * instead of a dedicated count() job per dedup call. Called AFTER the
    * eager materialization action. No row reads as 0: AQE may replace
    * the join against an EMPTY big-bucket side with the streamed side
    * alone, pruning the CollectMetrics node. */
  private def warnCappedBuckets(obs: Observation, op: String,
                                maxBucket: Int): Unit = {
    val n = observed(obs, op).map(_.getAs[Long]("n_big")).getOrElse(0L)
    if (n > 0) log.warn(
      s"$op: dropped $n band buckets larger than $maxBucket docs — " +
        "near-dup coverage is capped for their members")
  }

  /** Pair-enumeration blowup guard (round-12 task): every pair LISTER
    * (q24/q33/q258 class) owes Ω(g²) output rows per g-way duplicate
    * group BY ITS CONTRACT — at adversarial duplication the ANSWER
    * exhausts the machine (the sf10 ENOSPC on ~25M owed pairs: the
    * candidate×postings verification join is pair-proportional at
    * shingle grain). This caps each doc to its first `maxPairsPerId`
    * candidate partners per side BEFORE verification, so both the
    * verification cost and the output are bounded by 2·n·k rows.
    * (Guarded operators ALSO band candidate GENERATION with
    * [[bandedCandidates]] — a g-way group's g² stage must never run,
    * not merely be filtered after.)
    *
    * Semantics: a TRUNCATION guard, not a ranking — partners are kept
    * in deterministic partner-id order (similarity is unknown until
    * verification; ranking by it would cost the very join being
    * guarded). A pair survives if EITHER endpoint keeps it (OR
    * semantics), so every doc retains at least k partners and the
    * star of a g-way exact-duplicate group stays connected — its
    * transitive closure still recovers the full group even though the
    * clique is truncated. Dropped-pair count is logged asynchronously
    * when the enumeration job completes (the [[warnCappedBuckets]]
    * discipline: observation rides the plan, no extra count job).
    * Default `Int.MaxValue` = guard off, zero plan change — oracle
    * parity untouched. */
  private def capPairsPerId(cand: DataFrame, maxPairsPerId: Int,
                            op: String): DataFrame = {
    if (maxPairsPerId == Int.MaxValue) cand
    else {
      require(maxPairsPerId >= 1,
        s"maxPairsPerId must be >= 1, got $maxPairsPerId")
      val wa = Window.partitionBy("id_a").orderBy("id_b")
      val wb = Window.partitionBy("id_b").orderBy("id_a")
      val obs = Observation()
      import scala.concurrent.ExecutionContext.Implicits.global
      obs.future.foreach { r =>
        val n = Option(r.schema)
          .filter(_.fieldNames.contains("n_trunc"))
          .map(_ => r.getAs[Long]("n_trunc")).getOrElse(0L)
        if (n > 0) log.warn(
          s"$op: truncated $n candidate pairs past the " +
            s"maxPairsPerId=$maxPairsPerId guard — pair coverage is " +
            "capped for heavily-duplicated docs (transitive closure " +
            "over surviving pairs still connects exact-dup groups); " +
            "use the cluster-grain or incremental forms for full " +
            "coverage at this duplication level")
      }
      cand
        .withColumn("__ra", row_number().over(wa))
        .withColumn("__rb", row_number().over(wb))
        .observe(obs, coalesce(sum(when(
          col("__ra") > maxPairsPerId && col("__rb") > maxPairsPerId,
          1L)), lit(0L)).as("n_trunc"))
        .filter(col("__ra") <= maxPairsPerId ||
          col("__rb") <= maxPairsPerId)
        .drop("__ra", "__rb")
    }
  }

  /** Banded candidate GENERATION for guarded pair listers: within each
    * inverted-index bucket (`keys` = the shingle or LSH band key), the
    * id-ordered posting list pairs each doc only with its next
    * `width` list neighbors — one `lead()` window pass, candidate
    * volume O(|postings|·width), NO self-join. The first guarded sf10
    * run proved capping AFTER the self-join is too late: a ~100-way
    * duplicate group's g² candidate stage itself exhausted 75+ GB of
    * shuffle spill before the cap filter ever saw a row.
    *
    * Recall contract (documented truncation, the guard's semantics): a
    * pair whose ids sit more than `width` apart in EVERY shared bucket
    * list is missed. An exact-duplicate group is chain-connected
    * (consecutive list neighbors share everything), so cluster-grain
    * consumers still recover full groups via transitive closure.
    *
    * The generation width is clamped to `min(maxPairsPerId, 64)`: the
    * lead-window materializes one expression + one array slot per unit
    * of width, so a large-but-finite cap passed only to loosely bound
    * OUTPUT (e.g. 10000) must not balloon the per-row plan. Width 64
    * already chains any realistic duplicate group (consecutive
    * neighbors share everything), and [[capPairsPerId]] still enforces
    * the full per-id cap on whatever the band generates. */
  private val MaxBandWidth = 64
  private def bandedCandidates(postings: DataFrame, keys: Seq[String],
                               width: Int): DataFrame = {
    // the clamp is a RECALL decision, not just a plan guard — surface
    // it like the capPairsPerId truncation does (round-15 ADVICE:
    // near-dup pairs sitting 65+ apart in every shared bucket are
    // missed with no runtime signal otherwise)
    if (width > MaxBandWidth) log.warn(
      s"bandedCandidates: requested band width $width clamped to " +
        s"$MaxBandWidth — candidate pairs whose ids sit more than " +
        s"$MaxBandWidth apart in EVERY shared bucket list are not " +
        "generated (exact-dup groups stay chain-connected; use the " +
        "cluster-grain forms for full recall on heavier duplication)")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("id"))
    val leads =
      (1 to math.min(width, MaxBandWidth)).map(i => lead(col("id"), i).over(w))
    postings
      .withColumn("__nbrs", array(leads: _*)) // windows outside explode
      .select(col("id").as("id_a"), explode(col("__nbrs")).as("id_b"))
      .filter(col("id_b").isNotNull)
      .distinct()
  }

  /** Exact dedup: group rows by md5(textCol), keep the row with the
    * minimum idCol per group. Output: (keep_id, n_dups) one row per
    * distinct content. Single shuffle on the 128-bit hash. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping full rows: drops every row whose content was
    * already seen under a smaller id. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Prefix dedup: group documents by the md5 of their first
    * `nTokens` whitespace tokens — the "same article, different tail"
    * duplicate class exact dedup misses (syndicated copies with
    * appended boilerplate, truncated mirrors) and shingle near-dup
    * only catches when the shared prefix dominates. Exactly the
    * [[exactGroups]] shape on a derived key: one narrow tokenize-slice
    * projection, one hash-keyed shuffle. Output: (prefix_md5, keep_id,
    * n_dups, min/max length — the tail-length spread inside the group,
    * which is the triage signal: spread 0 ⇒ plain exact dup). */
  def prefixGroups(df: DataFrame, idCol: String, textCol: String,
                   nTokens: Int = 50): DataFrame = {
    require(nTokens >= 1, "nTokens must be >= 1")
    val toks = graft.text.TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), col(textCol),
        md5(array_join(slice(toks, 1, nTokens), " ")).as("prefix_md5"))
      .groupBy(col("prefix_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"),
        min(length(col(textCol))).as("min_len"),
        max(length(col(textCol))).as("max_len"))
  }

  /** Incremental exact dedup — the production shape at corpus scale: each
    * ingest batch dedups against the HASH SET of everything already
    * accepted (content_md5 column, e.g. accumulated [[exactGroups]]
    * output), never against the historical text itself. Keeps batch rows
    * whose content is (a) absent from `seenHashes` (anti join on the
    * 128-bit hash — shuffle ∝ batch + hash set, and at 100 TB the hash
    * table is bucketed on content_md5 so the anti join is co-located and
    * shuffle-free) and (b) first within the batch under idCol (the same
    * min-id rule as [[exactDedup]]).
    *
    * Single-pass over the batch: full rows ride through the anti join and
    * the min-id row per hash survives via one `min_by(struct(*), id)`
    * aggregate — no second batch scan / semi-join-back, so batch IO is
    * paid exactly once. */
  def incrementalExactDedup(batch: DataFrame, idCol: String, textCol: String,
                            seenHashes: DataFrame): DataFrame = {
    val rowCols = batch.columns.map(col)
    val withH = batch.withColumn("__h", md5(col(textCol)))
    val fresh = withH.join(
      seenHashes.select(col("content_md5").as("__h")), Seq("__h"), "left_anti")
    fresh.groupBy(col("__h"))
      .agg(min_by(struct(rowCols: _*), col(idCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** Serialize the accumulated content-hash set (a `content_md5` column,
    * e.g. [[exactGroups]] output) into a Bloom filter. Built with the
    * public distributed `stat.bloomFilter` aggregation (map-side partial
    * merge); the result is `~1.2 * expectedItems * ln(1/fpp)` BITS — a
    * billion-hash history at 1% fpp is ~1.2 GB, broadcastable where the
    * hash set itself is a multi-TB join side. */
  def seenBloom(seenHashes: DataFrame, expectedItems: Long,
                fpp: Double = 0.01): Array[Byte] = {
    val bf = seenHashes.stat.bloomFilter("content_md5", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Bloom-guarded incremental exact dedup — [[incrementalExactDedup]]
    * with the history anti-join short-circuited for the typical case:
    * rows whose content hash is definitively absent from the Bloom filter
    * (no false negatives) skip the join entirely; only the
    * might-be-seen sliver (true dups + fpp of the new mass) anti-joins
    * the real hash set, which stays the exactness backstop. Output is
    * IDENTICAL to [[incrementalExactDedup]] for any bloom built over
    * `seenHashes` — the filter only routes rows between branches.
    *
    * At 100 TB: the history set is billions of rows; joining every batch
    * against it (even co-located via bucketing) reads it per ingest. The
    * bloom is built once per epoch ([[seenBloom]]), shipped as a few-GB
    * plan constant, and turns the per-batch history cost into
    * `fpp * |batch|` join rows. The batch is scanned once per branch
    * (twice total) — batch IO is the small side by construction. */
  def bloomGuardedIncrementalDedup(batch: DataFrame, idCol: String,
                                   textCol: String, seenHashes: DataFrame,
                                   bloomBytes: Array[Byte]): DataFrame = {
    val rowCols = batch.columns.map(col)
    val withH = batch.withColumn("__h", md5(col(textCol)))
    val probe = bloom_might_contain(bloomBytes, col("__h"))
    val definitelyNew = withH.filter(!probe)
    val maybeSeen = withH.filter(probe)
      .join(seenHashes.select(col("content_md5").as("__h")),
        Seq("__h"), "left_anti")
    definitelyNew.unionByName(maybeSeen)
      .groupBy(col("__h"))
      .agg(min_by(struct(rowCols: _*), col(idCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** Snapshot-to-snapshot corpus delta — the ingest-drift diagnostic run
    * between two corpus versions: classifies every distinct CONTENT
    * (by 128-bit hash) as `added` (only in the new snapshot), `removed`
    * (only in the old), or `retained`, with its doc multiplicity on each
    * side. Comparison happens on the hash sets — two map-side-partial
    * aggregations (16 B per distinct content) and one full-outer join on
    * the uniform hash key; the document text is scanned once per side
    * and never shuffled. Output: (content_md5, n_old, n_new, status). */
  def corpusDelta(oldDf: DataFrame, newDf: DataFrame,
                  textCol: String): DataFrame = {
    val oh = oldDf.select(md5(col(textCol)).as("content_md5"))
      .groupBy("content_md5").agg(count(lit(1)).as("n_old"))
    val nh = newDf.select(md5(col(textCol)).as("content_md5"))
      .groupBy("content_md5").agg(count(lit(1)).as("n_new"))
    oh.join(nh, Seq("content_md5"), "full_outer")
      .select(col("content_md5"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(col("n_old").isNull, lit("added"))
          .when(col("n_new").isNull, lit("removed"))
          .otherwise(lit("retained")).as("status"))
  }

  /** Cross-corpus line-level dedup (the C4-style cleaning step): every
    * duplicate LINE across the whole corpus is dropped except its first
    * occurrence — "first" = lexicographically smallest (id, position) —
    * and each document is reassembled from its surviving lines in
    * original order (a doc losing every line survives with empty text).
    * Returns (idCol, textCol).
    *
    * Scale shape: posexplode is narrow; first-occurrence is ONE
    * min(struct(id, pos)) aggregate keyed by the 128-bit line hash
    * (map-side partial, uniform key); the keep join lands on the same
    * hash key, co-partitioned with the aggregate's output; reassembly is
    * a per-doc collect bounded by document size. No all-pairs stage, no
    * driver-side state. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF("id", "pos", "line")
      .withColumn("__h", md5(col("line")))
    val first = lines.groupBy("__h")
      .agg(min(struct(col("id"), col("pos"))).as("__f"))
    val kept = lines.join(first, Seq("__h"))
      .filter(col("id") === col("__f.id") && col("pos") === col("__f.pos"))
      .select("id", "pos", "line")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as(textCol))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Paragraph-grain cross-corpus dedup — the Dolma-style companion to
    * [[lineDedup]]'s line grain: the unit is a BLANK-LINE-separated
    * paragraph (split on runs of 2+ newlines, CR/LF normalized first —
    * the q63 fuzz-40 lesson applied at the operator), every duplicate
    * paragraph keeps only its first (min id, min pos) occurrence
    * corpus-wide, and each document is reassembled from its surviving
    * paragraphs in original order. Inter-paragraph spacing
    * canonicalizes to exactly one blank line on reassembly (documented
    * normalization, like lineDedup's whitespace contract). Returns
    * (idCol, textCol).
    *
    * Scale shape: identical to lineDedup — narrow posexplode, ONE
    * min(struct(id, pos)) aggregate keyed by the 128-bit paragraph
    * hash (map-side partial), co-partitioned keep join, per-doc
    * bounded reassembly. No all-pairs stage, no driver state. */
  def paragraphDedup(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val norm = regexp_replace(col(textCol), "\r\n?", "\n")
    val paras = df.select(col(idCol).as("id"),
      posexplode(split(norm, "\n{2,}")))
      .toDF("id", "pos", "para")
      .withColumn("__h", md5(col("para")))
    val first = paras.groupBy("__h")
      .agg(min(struct(col("id"), col("pos"))).as("__f"))
    val kept = paras.join(first, Seq("__h"))
      .filter(col("id") === col("__f.id") && col("pos") === col("__f.pos"))
      .select("id", "pos", "para")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), "\n\n").as(textCol))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Duplicated k-token windows across the corpus — the detection core
    * of ExactSubstr-style span dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", re-expressed at token
    * granularity): every k-token window whose content occurs more than
    * once corpus-wide is a duplicated span; the occurrence with the
    * smallest (id, pos) is canonical, every other is removable.
    * Output: (id, pos, is_first) — duplicated windows only.
    *
    * Scale shape: the window posexplode is narrow and hashes each window
    * to 128 bits BEFORE the shuffle (the shuffle carries ~40 B per token
    * position — corpus-proportional, same order as the shingle ops);
    * first-occurrence is one min(struct(id,pos)) aggregate keyed by the
    * uniform window hash (map-side partial); the detail join back lands
    * co-partitioned on that hash and only the n >= 2 groups flow into
    * it. No all-pairs stage, no suffix array, no driver state. */
  def duplicateSpanWindows(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val wins = df
      .select(col(idCol).as("id"), posexplode(word_shingles(col(textCol), k)))
      .toDF("id", "pos", "win")
      .select(col("id"), col("pos"), md5(col("win")).as("__h"))
    val dup = wins.groupBy("__h")
      .agg(count(lit(1)).as("n"),
        min(struct(col("id"), col("pos"))).as("__f"))
      .filter(col("n") >= 2)
    wins.join(dup, Seq("__h"))
      .select(col("id"), col("pos"),
        (col("id") === col("__f.id") && col("pos") === col("__f.pos"))
          .as("is_first"))
  }

  /** Per-document duplicated-span statistics — the measurement pass run
    * before committing to span removal: window counts plus the exact
    * token mass covered by REMOVABLE windows (union of their
    * [pos, pos+k-1] intervals, merged gaps-and-islands style inside the
    * per-doc window — per-doc bounded, co-partitioned by doc id).
    * Output per input doc: (id, n_windows, n_removable, dup_tokens,
    * dup_frac), zeros for clean docs. */
  def duplicateSpanStats(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8): DataFrame = {
    val rm = duplicateSpanWindows(df, idCol, textCol, k)
      .filter(!col("is_first"))
    val wOrd = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val islands = rm
      .withColumn("newi",
        when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("isl", sum(col("newi"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cov = islands.groupBy("id", "isl")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k - 1)).as("e"))
      .groupBy("id")
      .agg(sum(col("e") - col("s") + 1).as("dup_tokens"))
    val cnt = rm.groupBy("id").agg(count(lit(1)).as("n_removable"))
    val tot = df.select(col(idCol).as("id"),
      size(word_shingles(col(textCol), 1)).as("n_tok"),
      greatest(size(word_shingles(col(textCol), k)), lit(0)).cast("long")
        .as("n_windows"))
    tot.join(cnt, Seq("id"), "left").join(cov, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_removable"), lit(0L)).as("n_removable"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tok") > 0,
          round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tok"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** ExactSubstr-style span REMOVAL: drops every token covered by a
    * removable duplicated window (first corpus-wide occurrence keeps its
    * text) and reassembles each document from its surviving tokens in
    * order, single-space joined — a token-level op, so original inter-token
    * whitespace is normalized (documented contract, as in lineDedup's
    * line granularity). Docs losing everything (or token-less to begin
    * with) survive with empty text. Returns (idCol, textCol).
    *
    * Scale: covered positions explode k rows per removable window
    * (duplicate-mass-proportional, k small); the keep anti-join is keyed
    * (id, pos); reassembly is the per-doc bounded collect of lineDedup. */
  def maskDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8): DataFrame = {
    val covered = duplicateSpanWindows(df, idCol, textCol, k)
      .filter(!col("is_first"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val toks = df
      .select(col(idCol).as("id"), posexplode(word_shingles(col(textCol), 1)))
      .toDF("id", "pos", "tok")
    val rebuilt = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as(textCol))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col(textCol), lit("")).as(textCol))
  }

  private def bandKey(sig: Column, band: Int, bandBits: Int): Column =
    shiftrightunsigned(sig, band * bandBits)
      .bitwiseAND(lit((1L << bandBits) - 1))

  /** Candidate near-dup pairs by simhash banding: docs sharing any of the
    * `bands` sub-keys are paired, then filtered to hamming(sig) <= maxDist.
    * Returns (id_a, id_b, hamming) with id_a < id_b, distinct.
    *
    * Scale: the only shuffle is groupBy(band, key); pair generation is a
    * per-bucket self-join. `maxBucket` drops degenerate buckets (e.g. empty
    * docs all hashing to 0) and is logged as a coverage cap. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bands: Int = 4, maxDist: Int = 3,
                   maxBucket: Int = 10000): DataFrame = Pin.scope { pin =>
    // bands must split the 64-bit fingerprint evenly, and bands = 1 is a
    // degenerate all-pairs join (its 64-bit "mask" also wraps to 0 via
    // shift-count semantics, keying every doc identically)
    require(bands >= 2 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 and be >= 2, got $bands")
    val bandBits = 64 / bands
    // Token-less (empty/whitespace-only) docs all get simhash 0 and would
    // collide pairwise in every band as hamming-0 "near-dups"; a doc with
    // no content has no meaningful fingerprint, so they are excluded from
    // near-dup pairing (matching the all-pairs ground truth, where docs
    // without tokens contribute no votes).
    val sigs = df
      .select(col(idCol).as("id"), word_shingles(col(textCol), 1).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), simhash64(col("toks")).as("simhash"))
    // banded feeds both self-join sides plus the big-bucket filter;
    // persist so the corpus is tokenized + fingerprinted once.
    val banded = pin(sigs.select(col("id"), col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), bandKey(col("simhash"), b, bandBits).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key")))
    val a = banded.select(col("band"), col("key"),
      col("id").as("id_a"), col("simhash").as("sig_a"))
    val b = banded.select(col("band"), col("key"),
      col("id").as("id_b"), col("simhash").as("sig_b"))
    val obs = Observation()
    val big = banded.groupBy("band", "key").count()
      .filter(col("count") > maxBucket)
      .observe(obs, count(lit(1)).as("n_big"))
      .select("band", "key")
    val pairs = a.join(big, Seq("band", "key"), "left_anti")
      .join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
    val out = pairs.localCheckpoint()
    warnCappedBuckets(obs, "simhashPairs", maxBucket)
    out
  }

  /** Connected components over an undirected edge list (id_a, id_b),
    * returning (id, component) where component is the minimum id reachable
    * from the node. Uses the alternating large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round is two grouped shuffles and the edge set
    * contracts to a forest of stars rooted at each component's minimum id
    * in O(log n) rounds on ANY graph — including long near-dup chains
    * (boilerplate series in scraped corpora), where plain min-label
    * propagation needs O(diameter) rounds and a bounded iteration cap
    * would return wrong labels silently.
    *
    * Edge sets up to `driverThreshold` (with long ids) dispatch to a
    * driver-side union-find instead — one job end-to-end vs several per
    * star round; near-dup pair sets are candidate-proportional, so this
    * is the common case even for very large corpora. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          driverThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame = {
    val nodes = edges.select(col("id_a").as("id"))
      .union(edges.select(col("id_b").as("id"))).distinct()
    // Canonical larger-first orientation, self-loops dropped.
    var e = edges.filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint()
    val nEdges = e.count()
    // Size dispatch (the bhAdjust pattern): near-dup pair sets are
    // candidate-proportional — usually millions of edges even from a
    // 100 TB corpus — and a driver union-find labels them in ONE job,
    // where the distributed loop pays several jobs per round. The star
    // loop below remains the unbounded-scale path.
    if (nEdges <= driverThreshold && nEdges > 0 &&
        e.schema.head.dataType == org.apache.spark.sql.types.LongType) {
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x0: Long): Long = {
        var r = x0
        while (parent.get(r) != r) r = parent.get(r)
        var x = x0
        while (parent.get(x) != r) { val nx = parent.get(x); parent.put(x, r); x = nx }
        r
      }
      e.collect().foreach { row =>
        val u = row.getLong(0); val v = row.getLong(1)
        if (!parent.containsKey(u)) parent.put(u, u)
        if (!parent.containsKey(v)) parent.put(v, v)
        val ru = find(u); val rv = find(v)
        // attach the LARGER root under the smaller -> every root is its
        // component's minimum id
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
      }
      val spark = edges.sparkSession
      val labelRows = parent.keySet().toArray(Array.empty[java.lang.Long])
        .map(id => org.apache.spark.sql.Row(id.longValue(), find(id.longValue())))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("root",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val labels = spark.createDataFrame(
        spark.sparkContext.parallelize(labelRows.toSeq,
          math.max(1, labelRows.length / 500000)), schema)
      return nodes.join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("component"))
    }
    var prevSig: (Long, String, Long) = (-1L, "", -1L)
    var iter = 0
    var converged = nEdges == 0L
    while (!converged && iter < maxIter) {
      // ONE action per round (was three: large-star checkpoint,
      // small-star checkpoint, signature agg — each a serial job on the
      // round's critical path). The small-star checkpoint keeps the
      // logical plan constant-size across rounds; largeStar's two
      // consumers inside that single action recompute it in CONCURRENT
      // stage branches, which is cheaper on the critical path than a
      // blocking checkpoint of it (idle-core overlap, the measured
      // ab_batch1 lesson); and the signature rides the checkpoint as an
      // Observation (CollectMetrics over the rows already flowing to
      // it — the warnCappedBuckets pattern) instead of a third job.
      //
      // Edge-set signature: converged when the (unordered) edge set is
      // stable. Three independent components — count, sum of 32-bit
      // hashes widened to decimal(20,0) (headroom to ~2^61 edges even if
      // every hash is extreme, so ANSI mode cannot throw mid-iteration),
      // and xor of 64-bit hashes (xor never overflows; sound as a SET
      // signature because the edge set is distinct) — so a false
      // convergence needs a simultaneous ~2^-95 collision between
      // consecutive rounds, vs 2^-64 for the sum alone.
      val obs = Observation()
      val ss = smallStar(largeStar(e))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum(hash(col("u"), col("v")).cast("decimal(20,0)")),
            lit(java.math.BigDecimal.ZERO)).as("h"),
          coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("x"))
        .localCheckpoint()
      // No observed row: a direct agg over the (checkpointed, cheap)
      // round result.
      val sigRow = observed(obs, "connectedComponents")
        .getOrElse(ss.agg(count(lit(1)).as("n"),
          coalesce(sum(hash(col("u"), col("v")).cast("decimal(20,0)")),
            lit(java.math.BigDecimal.ZERO)).as("h"),
          coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("x"))
          .first())
      val sig = (sigRow.getLong(0), sigRow.getDecimal(1).toPlainString,
        sigRow.getLong(2))
      converged = sig == prevSig || sigRow.getLong(0) == 0L
      prevSig = sig
      e = ss
      iter += 1
    }
    // Converged edges form stars (child -> component root); roots appear
    // only on the v side. min(v) per u is a safety net, not a semantic.
    val stars = e.groupBy(col("u").as("id")).agg(min(col("v")).as("root"))
    nodes.join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** Large-star step: every node connects its LARGER neighbors to the
    * minimum of its neighborhood (incl. itself). Output larger-first. */
  private[dedup] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star step: every node connects its SMALLER neighbors (and
    * itself) to the minimum of those. Input and output larger-first. */
  private[dedup] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    e.join(mins, Seq("u"))
      .select(col("v").as("n"), col("m"))
      .union(mins.select(col("u").as("n"), col("m")))
      .filter(col("n") =!= col("m"))
      .select(greatest(col("n"), col("m")).as("u"),
        least(col("n"), col("m")).as("v"))
      .distinct()
  }

  /** Min-label propagation components — O(diameter) rounds; kept as the
    * reference implementation for the equality spec (the star algorithm
    * above is the production path). */
  private[dedup] def connectedComponentsLabelProp(edges: DataFrame,
                                                  maxIter: Int = 300): DataFrame = Pin.scope { pin =>
    // Both the symmetrized edges and each iteration's labels are
    // persisted: the loop joins sym every round, and labels' lineage
    // would otherwise grow by one join per iteration (re-deriving the
    // whole pair pipeline each time). Superseded label cachings are
    // dropped as soon as the next round materializes.
    val sym = pin(edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("id"))
        .agg(min(col("component")).as("nbr_min"))
      // labels feeds both the neighbor-min and the update join each
      // round: localCheckpoint truncates the lineage so the logical plan
      // stays constant-size across iterations.
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          (col("nbr_min") < col("component")).as("changed"))
        .localCheckpoint()
      val nChanged = updated.filter(col("changed") === true).count()
      labels = updated.select("id", "component")
      converged = nChanged == 0
      iter += 1
    }
    labels
  }

  /** MinHash signature values: for each of `numHashes` hash functions i,
    * sig_i = min over distinct shingles s of md5_long(i || ':' || s).
    * Output: (id, sig: array<long>). One shuffle (groupBy id).
    *
    * The signature is built from `numHashes` independent `min` aggregates
    * (one per hash position) rather than a collect_list + fold: `min`
    * combines map-side, so the shuffle carries numHashes longs per DOC
    * per map partition instead of numHashes longs per SHINGLE — at corpus
    * scale that is the difference between shuffling ~16 longs/doc and
    * ~16 longs/shingle (≈50× more), and the whole aggregation stays
    * inside codegen'd HashAggregate instead of an interpreted
    * higher-order fold. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 16): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode_outer(array_distinct(word_shingles(col(textCol), shingleSize)))
        .as("shingle"))
    val hashed = sh.select(col("id"),
      minhash_hashes(coalesce(col("shingle"), lit("")), numHashes).as("hs"))
    val mins = (0 until numHashes).map(i =>
      min(element_at(col("hs"), i + 1)).as(s"s$i"))
    hashed.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** MinHash-LSH candidate pairs: signature rows are grouped into
    * `bands` bands of numHashes/bands rows; docs sharing a band key are
    * candidates. Verified with exact n-gram Jaccard >= minJaccard.
    * Returns (id_a, id_b, jaccard). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, minJaccard: Double = 0.5,
                      maxBucket: Int = 100000,
                      maxPairsPerId: Int = Int.MaxValue): DataFrame = Pin.scope { pin =>
    // bands must split the signature evenly: bands > numHashes gives
    // empty band slices (every doc keys identically), and a non-divisor
    // silently drops the remainder hashes from banding
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes ($numHashes), got $bands")
    val rows = numHashes / bands
    // Shingle-less docs (< shingleSize tokens) would all share the
    // sentinel signature and pair O(m²) in EVERY band; they cannot reach
    // any positive Jaccard anyway (no shingles to intersect). The plain
    // (inner) explode drops them for free — one shingling pass, unlike a
    // separate size() filter, which would tokenize the corpus twice.
    // posts feeds the signature build AND the Jaccard verification (the
    // postings ARE the shingle sets) — persist so the corpus is
    // tokenized + shingled once, not 3-4 times
    val posts = pin(df.select(col(idCol).as("id"),
      explode(array_distinct(word_shingles(col(textCol), shingleSize)))
        .as("shingle")))
    val mins = (0 until numHashes).map(i =>
      min(element_at(col("hs"), i + 1)).as(s"s$i"))
    val sigs = pin(posts
      .select(col("id"), minhash_hashes(col("shingle"), numHashes).as("hs"))
      .groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"s$i")): _*).as("sig")))
    val banded = sigs.select(col("id"), explode(
      array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          md5_long(concat_ws(",", slice(col("sig"), b * rows + 1, rows)))
            .as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    // degenerate-bucket cap, as in simhashPairs: boilerplate-identical
    // corpora can still make one band key huge; candidates are bounded
    // and the cap is logged when it fires
    val obs = Observation()
    val big = banded.groupBy("band", "key").count()
      .filter(col("count") > maxBucket)
      .observe(obs, count(lit(1)).as("n_big"))
      .select("band", "key")
    val capped = banded.join(big, Seq("band", "key"), "left_anti")
    // guarded mode bands the bucket lists too (lead-window, O(n·k)) —
    // the in-bucket self-join's g² stage must never run (sf10 lesson)
    val cand =
      if (maxPairsPerId != Int.MaxValue)
        bandedCandidates(capped, Seq("band", "key"), maxPairsPerId)
      else capped.as("x").join(capped.as("y"),
          col("x.band") === col("y.band") &&
            col("x.key") === col("y.key") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val guarded = capPairsPerId(cand, maxPairsPerId, "minhashLshPairs")
    val out = verifyFromPostings(posts, guarded, minJaccard).localCheckpoint()
    warnCappedBuckets(obs, "minhashLshPairs", maxBucket)
    out
  }

  /** Incremental NEAR-dup dedup — [[incrementalExactDedup]]'s analog
    * one rung up the fuzziness ladder, and the production shape for
    * continuous ingest: each batch is screened against the accumulated
    * corpus's stored MINHASH SIGNATURES (`historySigs`: (id, sig
    * array<long>), i.e. persisted [[minhashSignatures]] output — 16
    * longs ≈ 128 B per accepted doc), never against the historical
    * text. Candidates come from shared LSH band keys (batch bands ⋈
    * history bands, hot history keys cappable); verification is the
    * SIGNATURE AGREEMENT fraction — the standard unbiased Jaccard
    * estimator E[agree] = J — because the history text is gone by
    * contract. Output: one row per batch doc with ≥ 1 shingle:
    * (id, is_new, matched_history_id, sig_agreement, sig) — the `sig`
    * column is returned so accepted rows append straight onto the
    * history table. Ties resolve to (highest agreement, lowest history
    * id): deterministic under any partitioning. Shingle-less batch
    * docs (< shingleSize tokens) are dropped, as in
    * [[minhashLshPairs]] — they have no shingles to match and would
    * otherwise all collide on the sentinel signature.
    *
    * Scale: batch is shingled once; the band join carries 8-byte keys
    * and is history-bucketable (bucketBy(band, key) — the L32
    * co-location mechanism); agreement is arithmetic on two in-row
    * 16-long arrays. History text never rescanned, history size enters
    * only via the (bounded-fanout) band join. */
  def incrementalMinHashDedup(batch: DataFrame, idCol: String,
                              textCol: String, historySigs: DataFrame,
                              shingleSize: Int = 3, numHashes: Int = 16,
                              bands: Int = 4, minAgreement: Double = 0.5,
                              maxBucket: Int = 100000): DataFrame = Pin.scope { pin =>
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes ($numHashes), got $bands")
    require(minAgreement > 0.0 && minAgreement <= 1.0,
      "minAgreement must be in (0, 1]")
    val rows = numHashes / bands
    // inner explode: shingle-less docs drop (the minhashLshPairs rule)
    val mins = (0 until numHashes).map(i =>
      min(element_at(col("hs"), i + 1)).as(s"s$i"))
    val bSigs = pin(batch
      .select(col(idCol).as("id"),
        explode(array_distinct(word_shingles(col(textCol), shingleSize)))
          .as("shingle"))
      .select(col("id"), minhash_hashes(col("shingle"), numHashes).as("hs"))
      .groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"s$i")): _*).as("sig")))
    def banded(sigs: DataFrame): DataFrame =
      sigs.select(col("id"), col("sig"), explode(
        array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            md5_long(concat_ws(",", slice(col("sig"), b * rows + 1, rows)))
              .as("key"))
        }: _*)).as("bk"))
        .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
    val hB = banded(historySigs.select(col("id"), col("sig")))
    val bB = banded(bSigs)
    val obs = Observation()
    val big = hB.groupBy("band", "key").count()
      .filter(col("count") > maxBucket)
      .observe(obs, count(lit(1)).as("n_big"))
      .select("band", "key")
    val cand = bB.join(hB
          .join(big, Seq("band", "key"), "left_anti")
          .select(col("id").as("hist_id"), col("sig").as("hsig"),
            col("band"), col("key")),
        Seq("band", "key"))
      .select(col("id"), col("sig"), col("hist_id"), col("hsig"))
      .distinct()
    // agreement = matched signature positions / numHashes (exact
    // 1/numHashes multiples — engine-independent arithmetic)
    val agree = (0 until numHashes).map(i =>
      when(element_at(col("sig"), i + 1) === element_at(col("hsig"), i + 1),
        1).otherwise(0)).reduce(_ + _).cast("double") / numHashes
    val best = cand.withColumn("__agree", agree)
      .filter(col("__agree") >= minAgreement)
      .groupBy(col("id"))
      .agg(min(struct((lit(1.0) - col("__agree")).as("__inv"),
        col("hist_id"))).as("__m"))
      .select(col("id"), col("__m.hist_id").as("matched_history_id"),
        round(lit(1.0) - col("__m.__inv"), 4).as("sig_agreement"))
    val out = bSigs.join(best, Seq("id"), "left")
      .select(col("id"), col("matched_history_id").isNull.as("is_new"),
        col("matched_history_id"), col("sig_agreement"), col("sig"))
      .localCheckpoint()
    warnCappedBuckets(obs, "incrementalMinHashDedup", maxBucket)
    out
  }

  /** Latest-version-per-key dedup — the CDC/upsert compaction every
    * ingestion pipeline runs (multiple snapshots/changelog rows per
    * business key -> keep the newest): row_number over the key ordered
    * by the version columns DESCENDING, keep rank 1. `orderCols` should
    * end in a unique tie-break (an id) or concurrent versions resolve
    * arbitrarily — pass one and the result is deterministic under any
    * partitioning.
    *
    * Scale shape: one shuffle on the key; Spark's WindowGroupLimit
    * pushes the top-1 ahead of the exchange, so each map task forwards
    * one row per local key — the shuffle carries ~key-cardinality rows,
    * not the changelog. */
  def latestByKey(df: DataFrame, keyCols: Seq[String],
                  orderCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty,
      "need at least one key column and one order column")
    require(!df.columns.contains("__rn"),
      "input must not contain a __rn column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full near-dup CLUSTERING — the end-to-end shape a dedup pass
    * actually ships: MinHash-LSH candidate pairs
    * ([[minhashLshPairs]], Jaccard-verified) -> connected components
    * over the pair graph ([[connectedComponents]], size-dispatched) ->
    * one row per INPUT doc with its cluster label (the component's
    * minimum id; singletons label themselves), the cluster size, and
    * whether this doc is the cluster's kept representative (the
    * min-id rule every dedup pipeline uses so the keep choice is
    * deterministic and engine-independent).
    *
    * Scale shape: pairs are candidate-proportional (banded, capped),
    * CC contracts them in O(log n) rounds or one driver union-find,
    * and the label/size join-backs are keyed on id/cluster — the
    * corpus rows are never self-joined. Filter `is_representative`
    * for the keep-list; keep all rows for dedup forensics.
    *
    * Output: (id, cluster, cluster_size, is_representative). */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, minJaccard: Double = 0.5,
                      maxPairsPerId: Int = Int.MaxValue): DataFrame = {
    // `maxPairsPerId` caps the internal pair stage (the same guard as
    // the pair listers). Because the cap's OR semantics keep each doc
    // connected to its k nearest-by-id partners, an exact-duplicate
    // group's truncated pair set still spans one connected component —
    // the cluster labels survive the cap; only near-dup CHAINS longer
    // than the surviving edges can split.
    val pairs = minhashLshPairs(df, idCol, textCol, shingleSize,
      numHashes, bands, minJaccard, maxPairsPerId = maxPairsPerId)
    val comp = connectedComponents(pairs.select("id_a", "id_b"))
    val labeled = df.select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster"))
    val sizes = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    // co-partitioned on cluster (sizes is cluster-cardinality; AQE
    // broadcasts it when the corpus is mostly unique)
    labeled.join(sizes, Seq("cluster"))
      .select(col("id"), col("cluster"), col("cluster_size"),
        (col("id") === col("cluster")).as("is_representative"))
  }

  /** Exact word-n-gram Jaccard near-dup pairs via a PREFIX-FILTERED
    * inverted shingle index (the classic set-similarity-join scheme):
    * shingles are globally ordered by document frequency (rarest first)
    * and each doc indexes only its first |S| - ceil(tau*|S|) + 1
    * shingles in that order — any pair with Jaccard >= tau must collide
    * inside those prefixes, so the self-join sees the RARE shingles only
    * and the f^2 fan-out of stopword-like n-grams never happens.
    * Candidates are then verified with the exact intersection
    * ([[verifyFromPostings]]). The prefix bound uses tau - 1e-4 so pairs
    * that only reach tau after 4-dp rounding are still caught.
    *
    * Shuffles: shingle doc-freq agg, per-doc rank window (keyed by doc),
    * prefix self-join on shingle, verification join — all on fine-grained
    * keys; no all-pairs stage at any point. Exact, no coverage caps. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, minJaccard: Double = 0.5,
                        maxPairsPerId: Int = Int.MaxValue): DataFrame = Pin.scope { pin =>
    // The exploded postings feed SIX consumers across the plan (doc-freq,
    // prefix rank, both sides of the candidate join, verification sides)
    // — without a persist the physical plan re-scans and re-shingles the
    // corpus once per consumer (observed: 18 parquet scans). Persist is
    // the correct Spark answer for a multi-consumer DAG; MEMORY_AND_DISK
    // spills instead of evicting under pressure.
    val sh = pin(postings(df, idCol, textCol, shingleSize))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val tauEff = math.max(0.0, minJaccard - 1e-4)
    val wDoc = Window.partitionBy("id")
    // per-doc set sizes as a hash agg + join rather than a second window
    // function: a count() window with no frame still pays a full pass
    // over the id-sorted partitions, while the doc-size aggregate is
    // map-side partial and its join lands on the ranked side's existing
    // hashpartitioning(id) — only the doc-cardinality side shuffles.
    // (NOT broadcast: at corpus scale one-row-per-doc outgrows it.)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val ranked = sh.join(dfreq, Seq("shingle"))
      .withColumn("rk",
        row_number().over(wDoc.orderBy(col("df").asc, col("shingle").asc)))
    val prefix = ranked.join(sizes, Seq("id"))
      .filter(col("rk") <= col("n_sh") - ceil(lit(tauEff) * col("n_sh")) + 1)
      .select("id", "shingle")
    // guarded mode bands the prefix-index lists (lead-window, O(n·k))
    // instead of self-joining — the g² stage must never run (sf10)
    val cand =
      if (maxPairsPerId != Int.MaxValue)
        bandedCandidates(prefix, Seq("shingle"), maxPairsPerId)
      else prefix.as("x").join(prefix.as("y"),
          col("x.shingle") === col("y.shingle") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val guarded = capPairsPerId(cand, maxPairsPerId, "ngramJaccardPairs")
    verifyFromPostings(sh, guarded, minJaccard, Some(sizes)).localCheckpoint()
  }

  /** Asymmetric containment pairs C(A→B) = |A∩B|/|A| — the
    * subset/excerpt detector Jaccard misses (a 100-word excerpt of a
    * 10k-word document has tiny Jaccard but containment ≈ 1; the
    * ExactSubstr motivation at shingle-set granularity). Candidates
    * come from shared RARE shingles (document frequency ≤
    * `maxShingleDf` — hot shingles are both uninformative and the
    * quadratic blow-up, the q24 df-pruning discipline; recall bound
    * documented: pairs sharing only ultra-common shingles are missed).
    * Verification counts the exact intersection over ALL shingles
    * relationally. Output (id_a < id_b): (id_a, id_b, n_common, n_a,
    * n_b, cont_a 4dp = |∩|/n_a, cont_b 4dp), kept when
    * max(cont_a, cont_b) ≥ minContainment.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, minContainment: Double = 0.8,
                       maxShingleDf: Long = 100L,
                       maxPairsPerId: Int = Int.MaxValue): DataFrame = Pin.scope { pin =>
    val sh = pin(postings(df, idCol, textCol, shingleSize))
    val rare = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf && col("df") >= 2)
        .select("shingle"),
      Seq("shingle"))
    val cand0 =
      if (maxPairsPerId != Int.MaxValue)
        bandedCandidates(rare, Seq("shingle"), maxPairsPerId)
      else rare.as("x").join(rare.as("y"),
          col("x.shingle") === col("y.shingle") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val cand = capPairsPerId(cand0, maxPairsPerId, "containmentPairs")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val common = commonShingleCounts(sh, cand)
    val out = common
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")),
        Seq("id_b"))
      .withColumn("cont_a", round(col("n_common") / col("n_a"), 4))
      .withColumn("cont_b", round(col("n_common") / col("n_b"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "cont_a", "cont_b")
    out.localCheckpoint()
  }

  /** Distinct (id, shingle) postings of a document table (native
    * word_shingles expression — stays in whole-stage codegen).
    * Distinct PER ID, not per input row: if the input carries the same
    * id on several rows, their shingle sets merge — the same "id IS
    * the document identity" semantics minhashSignatures' groupBy(id)
    * already has, and what makes containment/Jaccard well-defined
    * (n_common can never exceed a set size). The round-11 sf1 oracle
    * caught the per-row variant double-counting when a fixture's
    * derived ids collided at the scale grain (containment 1.94 > 1).
    * Cost dispatch: a DOC-grain duplicate-id probe (one scan + count
    * aggregate — cheap next to shingling) decides whether the
    * postings-grain dedup aggregate is needed at all; unique-id
    * corpora (the overwhelmingly common case) skip it, so the hot
    * dedup path pays only the probe, not a postings-grain shuffle. */
  private def postings(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      explode(array_distinct(word_shingles(col(textCol), shingleSize)))
        .as("shingle"))
    val hasDupIds = df.groupBy(col(idCol)).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).limit(1).count() > 0
    if (hasDupIds) base.distinct() else base
  }

  /** Materialize candidate pairs and measure their count in the SAME
    * action (an [[Observation]] riding the localCheckpoint — the
    * warnCappedBuckets discipline, no extra count job), so the
    * CPU-dense verification join downstream can be given a
    * measured-width partitioning ([[commonShingleCounts]]; round-15
    * VERDICT item 1). Candidates are pair-proportional — bounded next
    * to the corpus — so eager materialization is cheap, and the
    * checkpoint keeps the verify phase from re-running candidate
    * generation after the count is read. */
  private def measuredCandidates(cand: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val m = cand.observe(obs, count(lit(1)).as("n_pairs")).localCheckpoint()
    // no observed row: a cheap count over the checkpointed candidates
    val n = observed(obs, "measuredCandidates")
      .map(_.getAs[Long]("n_pairs")).getOrElse(m.count())
    (m, n)
  }

  /** The shared CPU-dense verification core: exact common-shingle
    * counts per candidate pair, relationally. The candidate side is
    * materialized + measured ([[measuredCandidates]]) and its join
    * exchange pinned at [[graft.util.Sized.verifyParts]] width via
    * repartition-by-num on the join key (reused by the join as its
    * required partitioning, so no exchange is added — the
    * user-specified count just replaces AQE's byte-based coalescing,
    * which collapsed this byte-light but CPU-dense string-join stage
    * to ~3 tasks at bench grain, 8+ s of CPU serialized). ONLY the
    * candidate exchange is pinned: the (id_b, shingle) join and the
    * pair-grain partial aggregation pipeline INSIDE the same stage
    * (the postings side broadcasts / stays pair-pipelined), so the
    * whole verify CPU inherits the pinned width without ever
    * materializing the pair×shingle intermediate — an explicit
    * repartition between the joins was measured shuffling 657 MB of
    * exploded pairs and DOUBLING the query (profile in
    * OPTIMIZATION_r15.md). Width derives from the measured pair
    * count, so it is scale-adaptive, not a local[32] constant.
    *
    * Precondition: the pinned width covers the candidate exchange
    * only, and holds only while `sh` broadcasts. If `sh` grows past
    * `spark.sql.autoBroadcastJoinThreshold`, the `(id_b, shingle)`
    * join plans its own exchange, AQE coalescing applies to that
    * exchange again, and the verify stage silently falls back to the
    * coalesced width. */
  private def commonShingleCounts(sh: DataFrame,
                                  candidates: DataFrame): DataFrame = {
    val (cand, nPairs) = measuredCandidates(candidates)
    val parts = graft.util.Sized.verifyParts(nPairs)
    cand.repartition(parts, col("id_a"))
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
  }

  /** Exact-Jaccard verification of candidate pairs from exploded
    * postings: count common shingles per pair relationally (join on
    * (doc, shingle)), Jaccard from per-doc set sizes. Work is
    * candidate-proportional; no array materialization, no higher-order
    * expressions in the hot path. Pairs with zero common shingles are
    * omitted (their Jaccard is 0 — below any positive threshold). */
  def verifyFromPostings(sh: DataFrame, candidates: DataFrame,
                         minJaccard: Double,
                         precomputedSizes: Option[DataFrame] = None): DataFrame = {
    // callers that already aggregated per-doc sizes (ngramJaccardPairs'
    // prefix bound) pass them in instead of paying the aggregation twice
    val sizes = precomputedSizes.getOrElse(
      sh.groupBy("id").agg(count(lit(1)).as("n_sh")))
    // NOT the measured-width form ([[commonShingleCounts]]): the
    // prefix/LSH-filtered candidate sets here are small relative to
    // their generation cost, and the measuring checkpoint SERIALIZES
    // the one pipelined action — interleaved A/B measured q24 1.45x /
    // q33 1.11x with it (ab_verifywidth.log) while q258 (425k
    // candidates, verify-dominated) won 0.79x. Width dispatch stays
    // with the operator whose candidate volume warrants it.
    val common = candidates
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Sorted-neighborhood near-dup pairs (the classic SNM blocking
    * alternative to LSH): rows sort by a normalized key inside
    * `blockLen`-char prefix blocks, and each row is compared ONLY to its
    * next `windowSize` neighbors in that order; survivors are verified
    * with exact unigram Jaccard. The pairing is built with `lead()`
    * windows — no self-join, no rank-band join: each row carries its
    * next-w neighbors' (id, token set) forward, so candidate generation
    * is a single per-block sort + explode, work O(n·w).
    *
    * Like all SNM, recall is bounded by the sort key: near-dups whose
    * keys land > w apart (or in different blocks) are missed; production
    * use unions passes over multiple keys. The block prefix is what
    * keeps the sort distributed — without it the window needs a global
    * order (one task); with it, parallelism = block count, and
    * boundary-adjacent pairs across blocks are the (documented) price.
    * Returns (id_a, id_b, jaccard) with id_a < id_b. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              windowSize: Int = 3, minJaccard: Double = 0.5,
                              blockLen: Int = 2): DataFrame = {
    val key = lower(trim(col(textCol)))
    val base = df.select(col(idCol).as("id"),
      array_distinct(word_shingles(col(textCol), 1)).as("toks"),
      key.as("__key"), substring(key, 1, blockLen).as("__blk"))
    val w = Window.partitionBy("__blk").orderBy(col("__key"), col("id"))
    // All windowSize leads in ONE projection: same window spec in one
    // select collapses to a single Window operator (chained withColumn
    // planned three stacked Windows over the shared sort).
    val withNext = base.select(
      col("id") +: col("toks") +: (1 to windowSize).map(i =>
        lead(struct(col("id"), col("toks")), i).over(w).as(s"__n$i")): _*)
    val pairs = withNext.select(col("id"), col("toks"),
        explode(array((1 to windowSize).map(i => col(s"__n$i")): _*))
          .as("nb"))
      .filter(col("nb").isNotNull)
    val inter = size(array_intersect(col("toks"), col("nb.toks")))
    val denom = size(col("toks")) + size(col("nb.toks")) - inter
    // ANSI-safe: two empty token sets would divide 0/0; their Jaccard is
    // undefined and the pair is dropped.
    pairs.select(
        least(col("id"), col("nb.id")).as("id_a"),
        greatest(col("id"), col("nb.id")).as("id_b"),
        round(when(denom > 0, inter / denom), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Embedding-cosine near-dup pairs: multi-table hyperplane-LSH bucket
    * candidates -> exact cosine verification >= minCos. The corpus is
    * never self-joined all-pairs: the only quadratic work happens inside
    * LSH buckets, whose size is controlled by planesPerTable. Returns
    * (id_a, id_b, cos_sim) with id_a < id_b. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     minCos: Double, tables: Int = 4,
                     planesPerTable: Int = 4): DataFrame = Pin.scope { pin =>
    val b = pin(graft.ann.Similarity
      .withTableBuckets(df, vecCol, tables, planesPerTable, dim)
      .select(col(idCol).as("id"), col("table"), col("bucket")))
    val cand = b.as("x").join(b.as("y"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val vecs = df.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val pairs = cand
      .join(vecs.select(col("vid").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("vid").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine_similarity(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
    pairs.localCheckpoint()
  }

  /** Embedding near-dup dedup: cosine pairs -> connected components ->
    * keep the minimum id per duplicate cluster. */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     minCos: Double, tables: Int = 4,
                     planesPerTable: Int = 4): DataFrame = {
    val pairs = embeddingPairs(df, idCol, vecCol, dim, minCos, tables,
      planesPerTable)
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Cross-source duplicate matrix — the corpus-governance question
    * "which crawls/mirrors overlap, and by how much": for every ordered
    * source pair (a < b), how many distinct contents appear in BOTH.
    * This is what decides which source to drop wholesale versus dedup
    * row-by-row when two feeds turn out to mirror each other.
    *
    * Scale shape: per-side distinct (content-hash, source) — one hash
    * agg, 16 B + source per distinct content — then a self-join on the
    * HASH key (fan-out per content bounded by its source count, ≤
    * |sources| which is small by definition) and a pair-cardinality
    * aggregate. The text is scanned once and never shuffled.
    *
    * Output: (source_a, source_b, n_shared) for pairs with ≥ 1 shared
    * content, source_a < source_b.
    */
  def crossSourceDupMatrix(df: DataFrame, textCol: String,
                           srcCol: String): DataFrame = {
    val seen = df.select(md5(col(textCol)).as("__h"),
      col(srcCol).cast("string").as("__src")).distinct()
    val a = seen.select(col("__h"), col("__src").as("source_a"))
    val b = seen.select(col("__h"), col("__src").as("source_b"))
    a.join(b, Seq("__h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Winnowing fingerprint selection (X321 — Schleimer/Wilkerson/
    * Aiken's MOSS kernel): per document, hash every k-token gram
    * ([[graft.functions.gfunctions.md5_long]] — the engine-independent
    * signed md5 low-8), then every window of `w` consecutive grams
    * selects its MINIMAL hash; the distinct selected hashes are the
    * document's fingerprints. The winnowing guarantee: any two
    * documents sharing a run of ≥ w + k − 1 tokens share a
    * fingerprint, while only ~2/(w+1) of grams are kept — the
    * locality-guaranteed sparsifier where [[TextAnalysis
    * .withFingerprints]]' whole-doc hash answers only exact equality
    * and q313's prefix hash only shared heads.
    *
    * Tie NOTE: a window's minimum is the min hash VALUE, so hash ties
    * select one fingerprint regardless of position — the selected SET
    * (what dedup consumes) is position-free, sidestepping MOSS's
    * rightmost-tie rule without weakening the guarantee.
    *
    * Shape: grams explode fact-side (|tokens| rows per doc, the
    * shingle-pass cost every near-dup operator here pays), ONE window
    * partitioned by doc, one distinct. Docs with fewer than w + k − 1
    * tokens have no complete window and emit nothing (documented).
    * Output: (idCol, fingerprint LONG) distinct. */
  def winnowingFingerprints(df: DataFrame, idCol: String,
                            textCol: String, k: Int = 5,
                            w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k + w - 1)
    val grams = base
      .select(col("__id"),
        (size(col("__t")) - (k - 1)).as("__g"),
        explode(sequence(lit(1), size(col("__t")) - (k - 1)))
          .as("__p"),
        col("__t"))
      .select(col("__id"), col("__g"), col("__p"),
        md5_long(array_join(slice(col("__t"), col("__p"), lit(k)),
          " ")).as("__h"))
    val winFwd = Window.partitionBy(col("__id")).orderBy(col("__p"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__sel", min(col("__h")).over(winFwd))
      .filter(col("__p") <= col("__g") - (w - 1))
      .select(col("__id").as(idCol), col("__sel").as("fingerprint"))
      .distinct()
  }
}
