package graft.ann

import graft.SparkSuite
import graft.functions.gfunctions._

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("cosine_similarity: known values, zero-norm null") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0), Some(1.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), Some(0.0)),
      (Seq(1.0, 2.0), Seq(2.0, 4.0), Some(1.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), Some(-1.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0), None)).toDF("a", "b", "want")
    val got = df.select(cosine_similarity($"a", $"b"), $"want")
      .as[(Option[Double], Option[Double])].collect()
    got.foreach { case (g, w) =>
      (g, w) match {
        case (Some(gv), Some(wv)) => assert(approx(gv, wv))
        case (None, None) =>
        case other => fail(s"mismatch $other")
      }
    }
  }

  test("planeComponent is deterministic and in [-1, 1)") {
    val vals = for (p <- 0 until 16; j <- 0 until 64)
      yield Similarity.planeComponent(p, j, 64)
    assert(vals.forall(v => v >= -1.0 && v < 1.0))
    assert(vals.distinct.length > 900) // LCG spreads values
    assert(Similarity.planeComponent(3, 7, 64) ==
      Similarity.planeComponent(3, 7, 64))
  }

  test("bruteForceTopK returns exact neighbors in rank order") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L)
    val got = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("annTopK: same-bucket neighbors found; recall sane on real data") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // At 500 vectors, 4 planes/table x 16 tables keeps per-table collision
    // probability high (OR-amplification does the recall work); at real
    // scale planesPerTable grows with log(corpus) to keep buckets sparse.
    val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", k,
      dim = 64, tables = 16, planesPerTable = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ann & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@5 = $recall")
    assert(ann.nonEmpty)
  }

  test("annRecallAtK: agrees with the manual intersection and is 1.0 " +
    "when the ANN path degenerates to exhaustive") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val k = 5
    // manual intersection per query (the spec's own oracle)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", k,
        dim = 64, tables = 16, planesPerTable = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.annRecallAtK(emb, queries, "vec_id", "embedding",
        k, dim = 64, tables = 16, planesPerTable = 4)
      .select("query_id", "n_exact", "n_hits", "recall")
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(got.length == 5)
    got.foreach { case (q, nExact, nHits, recall) =>
      assert(nExact == exact(q).size.toLong)
      val manual = (exact(q) & ann.getOrElse(q, Set.empty)).size.toLong
      assert(nHits == manual, s"query $q: $nHits != manual $manual")
      assert(recall.contains(nHits.toDouble / nExact))
    }
    // collinear vectors (positive multiples of one direction) land on
    // the same side of EVERY hyperplane => identical buckets in every
    // table => exhaustive candidates => recall exactly 1.0, by
    // construction rather than by chance
    val ray = (0L to 5L).map(i => (i, Seq((i + 1).toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    val full = Similarity.annRecallAtK(ray, ray.filter($"vec_id" < 2),
        "vec_id", "embedding", k = 3, dim = 2, tables = 2,
        planesPerTable = 2)
      .select("recall").as[Option[Double]].collect()
    assert(full.length == 2 && full.forall(_.contains(1.0)))
  }

  test("seeded IVF: deterministic cells, sane recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val (a1, c1) = Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", 8)
    val (a2, c2) = Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", 8)
    // the hash-seeded quantizer is bit-for-bit reproducible
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    assert(a1.select("id", "cell").as[(Long, Int)].collect().toMap ==
      a2.select("id", "cell").as[(Long, Int)].collect().toMap)
    assert(a1.select("cell").distinct().count() > 1)
    val ivf = Similarity.ivfTopK(a1, c1, queries, "vec_id", "embedding",
        k, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    // seed centroids are corpus draws, not fitted: the bound documents
    // the floor, not the target
    assert(recall >= 0.4, s"seeded ivf recall@5 = $recall")
  }

  test("semanticDedup: near-dups in the same cell drop, earliest id kept") {
    // two tight pairs + isolated vectors; one cell (nLists = 1) so the
    // keep rule is exercised without quantizer noise
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(0.999, 0.01, 0.0)),   // near-dup of 1 -> dropped
      (3L, Array(0.0, 1.0, 0.0)),
      (4L, Array(0.01, 0.999, 0.0)),   // near-dup of 3 -> dropped
      (5L, Array(0.0, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        nLists = 1, threshold = 0.95)
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false,
      5L -> true))
  }

  test("semanticDedup: chains drop every later member (documented rule)") {
    // cos(a,b) and cos(b,c) pass the threshold, cos(a,c) does not. The
    // any-earlier-neighbor rule drops b (against a) AND c (against b,
    // even though b itself dropped) — more aggressive than sequential
    // greedy, pinned here because the DuckDB oracle replays exactly this.
    val deg = math.Pi / 7
    def unit(t: Double) = Array(math.cos(t), math.sin(t), 0.0)
    val vecs = Seq((1L, unit(0)), (2L, unit(deg)), (3L, unit(2 * deg)))
      .toDF("vec_id", "embedding")
    val th = math.cos(deg * 1.5)   // pair gap passes, endpoint gap fails
    val got = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        nLists = 1, threshold = th)
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("lshBucket is stable across runs and engines (LCG planes)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val b1 = Similarity.withBucket(emb, "embedding", 8, 64)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val b2 = Similarity.withBucket(emb, "embedding", 8, 64)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.toSet.size > 1, "buckets must spread")
  }
}
