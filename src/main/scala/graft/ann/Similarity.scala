package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gfunctions._
import graft.util.Pin

/** Similarity search over an embedding column (array<float|double>).
  *
  *  - Brute-force top-k: the exact baseline. The query side is broadcast
  *    (bounded query set), so the corpus streams through map-side — no
  *    shuffle of the 100 TB side; cost is |corpus| * |queries| dot
  *    products inside whole-stage codegen (`cosine_similarity` is a
  *    native kernel call).
  *  - Random-hyperplane LSH: deterministic pseudo-random hyperplanes
  *    (integer LCG, reproducible in any engine, including the DuckDB
  *    oracle); bucket = sign-bit pack of `planes` dot products. ANN top-k
  *    then joins query buckets to corpus buckets (shuffle on the compact
  *    bucket key, never all-pairs) and re-ranks candidates exactly.
  */
object Similarity {

  /** Deterministic hyperplane component w[p][j] in [-1, 1) — delegates to
    * the single source of truth in [[org.apache.spark.sql.graft.LshKernel]]
    * (the native bucket kernel and the SQL oracle both derive from that
    * recurrence; a second copy here could silently de-sync them). */
  def planeComponent(p: Int, j: Int, dim: Int): Double =
    org.apache.spark.sql.graft.LshKernel.planeComponent(p, j, dim)

  /** Sign-bit-packed LSH bucket id of an embedding column (single table;
    * one native kernel call — see
    * [[graft.functions.gfunctions.lsh_table_buckets]]). */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    element_at(
      lsh_table_buckets(vec.cast("array<double>"), 1, nPlanes, dim), 1)

  /** Exact top-k neighbors by cosine for each query row. `queries` must be
    * small enough to broadcast (it is crossJoin-broadcast against the full
    * corpus). Output: (query_id, neighbor_id, cos_sim, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cos_sim", round(col("cos_sim"), 6))
  }

  /** Corpus rows with their LSH bucket (single table of nPlanes planes). */
  def withBucket(df: DataFrame, vecCol: String, nPlanes: Int,
                 dim: Int): DataFrame =
    df.withColumn("bucket", lshBucket(col(vecCol), nPlanes, dim))

  /** Per-table LSH buckets: `tables` independent hash tables of
    * `planesPerTable` hyperplanes each (planes t*P..t*P+P-1 feed table t).
    * Emitted as (table, bucket) pairs via explode — OR-amplification:
    * two vectors are candidates if they collide in ANY table, which is
    * what keeps recall high while each table's bucket join stays sparse. */
  def withTableBuckets(df: DataFrame, vecCol: String, tables: Int,
                       planesPerTable: Int, dim: Int): DataFrame =
    df.select(col("*"),
      posexplode(lsh_table_buckets(col(vecCol).cast("array<double>"),
        tables, planesPerTable, dim)).as(Seq("table", "bucket")))

  /** IVF (inverted-file) index with a deterministic hash-seeded coarse
    * quantizer: the nLists corpus vectors that come FIRST in md5-hash
    * order of their id become the cell centroids (cell = rank in that
    * order), and every corpus vector is assigned to its max-cosine
    * centroid in one narrow projection — no Lloyd iterations, so
    * centroids are reproducible bit-for-bit in any engine (the
    * DuckDB-oracled IVF path). A query probes its nProbe nearest
    * centroids and exactly re-ranks only those cells' vectors
    * ([[ivfTopK]]); search shuffles only on the cell key.
    *
    * Scale shape: seed selection is a TakeOrdered on the
    * 8-byte hash (no global sort), the centroid table is a broadcast-sized
    * literal, and assignment is map-side — the corpus is scanned once and
    * never shuffled. The argmax key is the ROUNDED cosine (9 dp, ties to
    * the lowest cell) so the cell boundary is engine-independent. */
  def ivfIndexSeeded(corpus: DataFrame, idCol: String, vecCol: String,
                     nLists: Int): (DataFrame, Array[Array[Double]]) = {
    val arr = col(vecCol).cast("array<double>")
    val seeds = corpus
      .select(col(idCol).cast("string").as("id"), arr.as("arr"))
      .orderBy(md5_long(concat_ws(":", lit(""), col("id"))).asc, col("id").asc)
      .limit(nLists)
      .select("arr").collect()
      .map(_.getSeq[Double](0).toArray)
    val centersLit = array(seeds.map(c => array(c.map(lit): _*)): _*)
    // argmax cell without a shuffle: max over struct(sim, nLists - cell)
    // picks the highest rounded sim, then the LOWEST cell on ties
    val best = array_max(transform(centersLit, (c, i) =>
      struct(round(cosine_similarity(arr, c), 9).as("sim"),
        (lit(seeds.length) - i).as("negcell"))))
    val assigned = corpus.select(col(idCol).as("id"), arr.as("arr"),
      (lit(seeds.length) - best.getField("negcell")).as("cell"))
    (assigned, seeds)
  }

  /** IVF ANN top-k: probe the nProbe nearest cells per query, re-rank
    * exactly by cosine. */
  def ivfTopK(assigned: DataFrame, centers: Array[Array[Double]],
              queries: DataFrame, idCol: String, vecCol: String, k: Int,
              nProbe: Int): DataFrame = {
    val centersLit = array(centers.map(c => array(c.map(lit): _*)): _*)
    val qv = col(vecCol).cast("array<double>")
    // nProbe nearest centroids by cosine: score each centroid, sort, take
    // the cell indices — all inside one projection over the small query set
    val scored = queries.select(col(idCol).as("query_id"), qv.as("qv"),
      centersLit.as("cs"))
      .select(col("query_id"), col("qv"),
        explode(transform(col("cs"),
          (c, i) => struct(cosine_similarity(col("qv"), c).as("sim"),
            i.as("cell")))).as("sc"))
      .select(col("query_id"), col("qv"), col("sc.sim"), col("sc.cell"))
    // rounded rank key: the probe-set boundary must not depend on engine
    // summation noise (the q35 lesson applied to cell selection)
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("sim"), 9).desc_nulls_last, col("cell").asc)
    val probes = scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"),
        col("id").as("neighbor_id"),
        cosine_similarity(col("qv"), col("arr")).as("cos_sim"))
    val wk = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .withColumn("cos_sim", round(col("cos_sim"), 6))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-quantize the corpus into cells with the
    * deterministic hash-seeded IVF quantizer, then within each cell drop
    * every vector that is within `threshold` cosine of an EARLIER
    * (lower-id) vector of the same cell — the paper's
    * one-representative-per-epsilon-ball pruning with a deterministic
    * keep rule instead of a random one. The rule is "drop iff ANY
    * lower-id same-cell vector is within threshold" — order-free and
    * exactly replayable in SQL, slightly MORE aggressive than
    * sequential greedy on chains (a~b~c with cos(a,c) < threshold
    * drops b and c, where greedy would re-keep c once b died;
    * embeddingDedup in graft.dedup is the component-closure
    * alternative that keeps exactly one per chain).
    *
    * Scale shape: assignment is one narrow map-side projection against
    * broadcast centroids (ivfIndexSeeded — corpus scanned once, never
    * shuffled); the pair search shuffles on the CELL key only and pairs
    * within cells — O(Σ cell²) like every SemDeDup implementation, with
    * nLists the knob that bounds expected cell size (≈ n/nLists); the
    * cosine is a codegen'd native expression. The comparison key is the
    * 6-dp-rounded cosine so the keep/drop boundary cannot flip on
    * engine summation order.
    *
    * Output: (id, cell, kept) for every corpus row.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nLists: Int, threshold: Double): DataFrame = Pin.scope { pin =>
    // the assignment (a cosine against every centroid per row) fans out
    // to three consumers (both pair sides + the verdict join) — pin it
    // once or the dominant cost runs 3x. A pin (not localCheckpoint):
    // it is RELEASED once the compact verdict is materialized, or
    // repeated calls in one session (bench best-of-3) would accumulate a
    // copy of the fat (id, vector, cell) frame per call.
    val assigned = pin(ivfIndexSeeded(corpus, idCol, vecCol, nLists)._1)
    val lo = assigned.select(col("cell"), col("id").as("a_id"),
      col("arr").as("a_arr"))
    val hi = assigned.select(col("cell"), col("id").as("b_id"),
      col("arr").as("b_arr"))
    val dropped = lo.join(hi, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(cosine_similarity(col("a_arr"), col("b_arr")), 6)
        >= threshold)
      .select(col("b_id").as("id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dropped, Seq("id"), "left_outer")
      .select(col("id"), col("cell"), col("__dup").isNull.as("kept"))
      .localCheckpoint()   // verdict-only (3 narrow columns), eager
  }

  /** ANN top-k via multi-table LSH: candidates are corpus rows sharing a
    * (table, bucket) key with the query in any of `tables` hash tables,
    * deduplicated, then exactly re-ranked by cosine. The only shuffle is
    * the bucket-key join + the per-query top-k window; the corpus is
    * never self-joined all-pairs. Recall vs bruteForceTopK is pinned in
    * the spec. */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, tables: Int = 8,
              planesPerTable: Int = 8): DataFrame = {
    val c = withTableBuckets(corpus, vecCol, tables, planesPerTable, dim)
      .select(col(idCol).as("neighbor_id"), col("table"), col("bucket"))
    val q = broadcast(
      withTableBuckets(queries, vecCol, tables, planesPerTable, dim)
        .select(col(idCol).as("query_id"),
          col(vecCol).cast("array<double>").as("qv"),
          col("table"), col("bucket")))
    val cand = c.join(q, Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cand
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cos_sim", round(col("cos_sim"), 6))
  }

  /** Measured recall@k of the multi-table LSH ANN path against the
    * exact brute-force top-k — the number that turns "sub-linear and
    * probably fine" into an oracle-checked gate (round-15 task). Both
    * paths reuse this file's operators verbatim (same cosine kernel,
    * same full-precision order + id tie-break), so the recall measured
    * here is the recall of the SHIPPED code paths, not a model of
    * them.
    *
    * Output per query: (query_id, n_exact, n_hits, recall) where
    * n_exact ≤ k is the brute-force neighbor count (smaller only when
    * the corpus itself is), n_hits = |ANN top-k ∩ exact top-k|, and
    * recall = n_hits / n_exact — a ratio of small exact integers (one
    * IEEE division; bit-identical cross-engine, no rounding needed).
    * Scale: adds one co-partitioned join + per-query count on top of
    * the two underlying operators; queries stay broadcast. */
  def annRecallAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, dim: Int, tables: Int = 8,
                   planesPerTable: Int = 8): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annTopK(corpus, queries, idCol, vecCol, k, dim,
        tables, planesPerTable)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    val perQuery = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
    queries.select(col(idCol).as("query_id")).distinct()
      .join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_exact"), lit(0L)) > 0,
          coalesce(col("n_hits"), lit(0L)) / col("n_exact"))
          .otherwise(lit(null).cast("double")).as("recall"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): greedily select k candidates maximizing
    * λ·relevance − (1−λ)·max_{s ∈ selected} cos(c, s) — the standard
    * relevance-vs-redundancy trade in retrieval and training-data
    * curation (pick diverse exemplars, not k near-copies).
    *
    * Greedy is inherently sequential in k; each round is ONE
    * distributed argmax over the candidate frame against the
    * (≤ k)-row broadcast selected set, and only the single winning row
    * is collected — k driver rows total, never the candidate set. All
    * comparison scores are pre-rounded to 6dp (the q43 discipline) so
    * the argmax tie-break (rounded score desc, id asc) is
    * cross-engine deterministic. Candidates are expected pre-pruned
    * (e.g. a top-N cosine cut); relevance is any caller-computed
    * column. Output: (rank 1..k, id, relevance 6dp, mmr_score 6dp).
    */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lambda: Double): DataFrame = Pin.scope { pin =>
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0 && lambda <= 1, "lambda in [0,1]")
    // id normalized to long and null-relevance rows dropped up front:
    // the per-round argmax collect reads getLong/getDouble, so an
    // int-typed id or a null rel would otherwise throw mid-loop after
    // partial work. The id column must START numeric (or boolean-free
    // castable): a string id would non-ANSI-cast to null silently and
    // degenerate the argmax — fail fast with the contract instead.
    val idType = candidates.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"mmrSelect: id column '$idCol' must be numeric (got " +
        s"${idType.simpleString}) — string ids would cast to null " +
        "and silently break the per-round argmax; map them to a " +
        "numeric surrogate first")
    val cand = pin(candidates
      .filter(col(relCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"),
        round(col(relCol), 6).as("rel")))
    val spark = candidates.sparkSession
    import scala.collection.mutable.ArrayBuffer
    val picked = ArrayBuffer.empty[(Long, Double, Double)] // id, rel, mmr
    val selVecs = ArrayBuffer.empty[(Long, Seq[Double])]
    var i = 0
    val total = cand.count()
    while (i < k && i < total) {
      val selDf = if (selVecs.isEmpty) null
      else {
        import spark.implicits._
        selVecs.toSeq.toDF("sid", "sv")
      }
      val scored = if (selDf == null)
        cand.select(col("id"), col("rel"),
          round(lit(lambda) * col("rel"), 6).as("mmr"))
      else cand
        .join(broadcast(selDf), col("id") =!= col("sid"))
        .filter(!col("id").isInCollection(selVecs.map(_._1)))
        .groupBy(col("id"), col("rel"))
        .agg(max(round(cosine_similarity(col("v"), col("sv")), 6))
          .as("__maxsim"))
        .select(col("id"), col("rel"),
          round(lit(lambda) * col("rel") -
            lit(1.0 - lambda) * col("__maxsim"), 6).as("mmr"))
      val win = scored.orderBy(col("mmr").desc, col("id").asc).limit(1)
        .collect()(0)
      val wid = win.getLong(0)
      val wrel = win.getDouble(1)
      val wmmr = win.getDouble(2)
      val wvec = cand.filter(col("id") === wid)
        .select(col("v")).collect()(0).getSeq[Double](0)
      picked += ((wid, wrel, wmmr))
      selVecs += ((wid, wvec))
      i += 1
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case ((id, rel, mmr), ix) => (ix + 1L, id, rel, mmr) }
      .toDF("rank", "id", "relevance", "mmr_score")
  }
}
