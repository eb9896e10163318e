package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.gfunctions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "completely different content about spark engines and scale"),
    (6L, "zzz yyy xxx www vvv")).toDF("doc_id", "text")

  test("exact dedup keeps min id per content group") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val dup = groups.filter($"n_dups" === 2).select("keep_id").as[Long].collect()
    assert(dup.toSeq == Seq(1L))
  }

  test("prefixGroups: shared-prefix docs group; tail-length spread " +
    "separates truncation dups from exact dups") {
    val pd = Seq(
      (1L, "alpha beta gamma delta tail one"),
      (2L, "alpha beta gamma delta"),            // truncated mirror
      (3L, "alpha beta gamma delta tail one"),   // exact dup of 1
      (4L, "totally different document text"))
      .toDF("doc_id", "text")
    val g = Dedup.prefixGroups(pd, "doc_id", "text", nTokens = 4)
      .collect().map(r => r.getAs[Long]("keep_id") ->
        ((r.getAs[Long]("n_dups"), r.getAs[Int]("min_len"),
          r.getAs[Int]("max_len")))).toMap
    assert(g(1L) == ((3L, 22, 31)))  // docs 1,2,3 share the prefix
    assert(g(4L) == ((1L, 31, 31)))
  }

  test("incremental dedup: drops seen content, first-wins within batch") {
    // seen corpus = doc 1's content; batch has a copy of it (7), an
    // in-batch dup pair (8, 9), and fresh content (10)
    val seen = Dedup.exactGroups(docs.filter($"doc_id" === 1L),
      "doc_id", "text").select("content_md5")
    val batch = Seq(
      (7L, "the quick brown fox jumps over the lazy dog"), // seen -> drop
      (8L, "brand new batch content"),                     // keep (min id)
      (9L, "brand new batch content"),                     // in-batch dup
      (10L, "other fresh content")).toDF("doc_id", "text")
    val kept = Dedup.incrementalExactDedup(batch, "doc_id", "text", seen)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(8L, 10L))
    // empty seen set degrades to plain exact dedup
    val noSeen = Dedup.incrementalExactDedup(batch, "doc_id", "text",
      seen.filter(lit(false)))
      .select("doc_id").as[Long].collect().sorted
    assert(noSeen.toSeq == Seq(7L, 8L, 10L))
  }

  test("lineDedup: cross-doc duplicate lines keep first (id,pos); docs reassemble in order") {
    val corpus = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\ngamma\nshared line"),  // cross-doc dup + in-doc dup
      (3L, "shared line"),                      // loses its only line
      (4L, "delta\ndelta\nepsilon"))            // in-doc dup
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(corpus, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "alpha\nshared line\nbeta")
    assert(got(2L) == "gamma")
    assert(got(3L) == "")
    assert(got(4L) == "delta\nepsilon")
    assert(got.size == 4)   // every input doc survives as a row
  }

  test("corpusDelta classifies added/removed/retained content with multiplicities") {
    val old = Seq((1L, "stable doc"), (2L, "stable doc"), (3L, "dropped doc"),
      (4L, "mutated doc v1")).toDF("doc_id", "text")
    val neu = Seq((1L, "stable doc"), (5L, "brand new doc"),
      (4L, "mutated doc v2")).toDF("doc_id", "text")
    val got = Dedup.corpusDelta(old, neu, "text")
      .select($"status", $"n_old", $"n_new")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      ("added", 0L, 1L),      // brand new doc
      ("added", 0L, 1L),      // mutated v2 content is new
      ("removed", 1L, 0L),    // dropped doc
      ("removed", 1L, 0L),    // mutated v1 content vanished
      ("retained", 2L, 1L)))  // stable content: 2 docs before, 1 after
  }

  test("lineDedup matches brute-force first-wins on random line-colliding corpora") {
    // small line vocabulary -> heavy cross-doc collisions; LCG-seeded so
    // the case is reproducible
    val vocab = Vector("aa bb", "cc dd", "ee ff", "gg hh", "ii jj", "kk ll")
    var seed = 12345L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (math.abs(seed >>> 11) % bound).toInt
    }
    (1 to 3).foreach { _ =>
      val corpus = (0 until 30).map { id =>
        val n = 1 + next(4)
        (id.toLong, (0 until n).map(_ => vocab(next(vocab.size))).mkString("\n"))
      }
      // brute force: docs in id order, lines in pos order, first global
      // occurrence of a line wins
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = corpus.map { case (id, text) =>
        id -> text.split("\n", -1).filter(seen.add).mkString("\n")
      }.toMap
      val got = Dedup.lineDedup(corpus.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, String)].collect().toMap
      assert(got == expected)
    }
  }

  test("bloom-guarded incremental dedup equals the plain anti-join under any fpp") {
    val corpus = (0 until 120).map { i =>
      (i.toLong, s"doc content ${i % 40}")  // 3 copies of each content
    }
    // history covers contents 0..29; batch re-sends those plus the
    // never-seen contents 30..39 (each three times, min id 30..39 wins)
    val history = corpus.filter(_._1 < 30).toDF("id", "text")
    val batch = corpus.filter(_._1 >= 30).toDF("id", "text")
    val seen = Dedup.exactGroups(history, "id", "text").select($"content_md5")
    val expected = Dedup.incrementalExactDedup(batch, "id", "text", seen)
      .select($"id", $"text").as[(Long, String)].collect().sorted.toSeq
    assert(expected.nonEmpty)
    // wildly undersized bloom (fp-heavy: routes most rows to the join)
    // and a comfortable one (most new rows skip it) must both be exact
    for ((items, fpp) <- Seq((2L, 0.5), (1000L, 0.01))) {
      val bloom = Dedup.seenBloom(seen, items, fpp)
      val got = Dedup.bloomGuardedIncrementalDedup(
          batch, "id", "text", seen, bloom)
        .select($"id", $"text").as[(Long, String)].collect().sorted.toSeq
      assert(got == expected, s"items=$items fpp=$fpp")
    }
    // no false negatives: every batch content present in history is
    // dropped even by the tiny bloom (routing it past the join would
    // wrongly keep it)
    val tiny = Dedup.seenBloom(seen, 2L, 0.5)
    val kept = Dedup.bloomGuardedIncrementalDedup(
        batch, "id", "text", seen, tiny)
      .select($"text").as[String].collect().toSet
    val seenTexts = history.select($"text").as[String].collect().toSet
    assert(kept.intersect(seenTexts).isEmpty)
  }

  test("duplicateSpanStats + maskDuplicateSpans on a hand-checked overlap") {
    // k=3 windows: "a b c" and "b c d" occur in both docs; doc 1 holds
    // the first occurrences, doc 2's copies at pos 1,2 are removable ->
    // intervals [1,3] and [2,4] merge to [1,4]: 4 covered tokens of 6.
    val docs3 = Seq((1L, "a b c d e f"), (2L, "x a b c d y"), (3L, "short"))
      .toDF("id", "text")
    val stats = Dedup.duplicateSpanStats(docs3, "id", "text", k = 3)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats(1L) == ((1L, 4, 0L, 0L, 0.0)))
    assert(stats(2L) == ((2L, 4, 2L, 4L, 0.6667)))
    assert(stats(3L) == ((3L, 0, 0L, 0L, 0.0)))
    val masked = Dedup.maskDuplicateSpans(docs3, "id", "text", k = 3)
      .as[(Long, String)].collect().toMap
    assert(masked == Map(1L -> "a b c d e f", 2L -> "x y", 3L -> "short"))
  }

  test("span dedup matches brute force on random window-colliding corpora") {
    // tiny vocabulary -> heavy cross- and intra-doc window collisions
    val vocab = Vector("aa", "bb", "cc")
    val k = 2
    var seed = 98765L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (math.abs(seed >>> 11) % bound).toInt
    }
    (1 to 3).foreach { _ =>
      val corpus = (0 until 25).map { id =>
        val n = next(8)  // includes token-less and sub-k docs
        (id.toLong, (0 until n).map(_ => vocab(next(vocab.size))).mkString(" "))
      }
      // brute force: first global occurrence of a window (by id, pos)
      // wins; other occurrences' [pos, pos+k-1] tokens are removed
      val occ = scala.collection.mutable.Map.empty[String, (Long, Int)]
      val winsByDoc = corpus.map { case (id, text) =>
        val t = text.split("\\s+").filter(_.nonEmpty)
        id -> t.sliding(k).zipWithIndex.toSeq.collect {
          case (w, p) if w.length == k => (w.mkString(" "), p)
        }
      }.toMap
      winsByDoc.toSeq.sortBy(_._1).foreach { case (id, ws) =>
        ws.foreach { case (w, p) =>
          if (!occ.contains(w)) occ(w) = (id, p)
        }
      }
      val counts = winsByDoc.values.flatten.groupBy(_._1).map {
        case (w, os) => w -> os.size
      }
      val expMask = corpus.map { case (id, text) =>
        val t = text.split("\\s+").filter(_.nonEmpty)
        val rm = winsByDoc(id).collect {
          case (w, p) if counts(w) >= 2 && occ(w) != ((id, p)) => p
        }
        val covered = rm.flatMap(p => p until p + k).toSet
        id -> t.zipWithIndex.collect {
          case (tok, i) if !covered.contains(i) => tok
        }.mkString(" ")
      }.toMap
      val expStats = corpus.map { case (id, text) =>
        val t = text.split("\\s+").filter(_.nonEmpty)
        val rm = winsByDoc(id).collect {
          case (w, p) if counts(w) >= 2 && occ(w) != ((id, p)) => p
        }
        val covered = rm.flatMap(p => p until p + k).toSet.size.toLong
        id -> ((math.max(t.length - k + 1, 0), rm.size.toLong, covered))
      }.toMap
      val df = corpus.toDF("id", "text")
      val gotMask = Dedup.maskDuplicateSpans(df, "id", "text", k)
        .as[(Long, String)].collect().toMap
      assert(gotMask == expMask)
      val gotStats = Dedup.duplicateSpanStats(df, "id", "text", k)
        .select($"id", $"n_windows", $"n_removable", $"dup_tokens")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(gotStats == expStats)
    }
  }

  test("simhash identical docs have equal fingerprints; near dups are close") {
    val sigs = docs.select($"doc_id",
        simhash64(word_shingles($"text", 1)).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val dNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val dFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(6L))
    assert(dNear < dFar, s"near=$dNear far=$dFar")
  }

  test("simhashPairs finds the exact-dup pair at distance 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    // pairs are unique and ordered
    assert(pairs.forall(p => p._1 < p._2))
    assert(pairs.distinct.length == pairs.length)
  }

  test("latestByKey: newest version per key, deterministic tie-break, " +
    "partitioning-independent") {
    val log = Seq(
      ("k1", 1L, 10L, "v1"), ("k1", 3L, 11L, "v3"), ("k1", 2L, 12L, "v2"),
      ("k2", 5L, 20L, "a"), ("k2", 5L, 21L, "b"), // version tie -> max id
      ("k3", 7L, 30L, "solo")
    ).toDF("key", "version", "row_id", "payload")
    val got = Dedup.latestByKey(log, Seq("key"), Seq("version", "row_id"))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "v3", "k2" -> "b", "k3" -> "solo"))
    val reparted = Dedup.latestByKey(log.repartition(7), Seq("key"),
      Seq("version", "row_id"))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(reparted == got)
  }

  test("minhashClusters: labels, sizes, min-id representatives; " +
    "singletons cluster alone") {
    // three exact copies (cluster of 3), a transitive near-dup pair via
    // shared text, and two unrelated docs (singletons)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base),
      (10L, "one two three four five six seven"),
      (20L, "completely different words entirely here now present")
    ).toDF("id", "text")
    val got = Dedup.minhashClusters(docs, "id", "text")
      .select("id", "cluster", "cluster_size", "is_representative")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 20L))
    assert(got(1L) == ((1L, 3L, true)))
    assert(got(2L) == ((1L, 3L, false)))
    assert(got(3L) == ((1L, 3L, false)))
    assert(got(10L) == ((10L, 1L, true)))
    assert(got(20L) == ((20L, 1L, true)))
  }

  test("connectedComponents groups transitive chains to min label") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(5L) == 5L && comp(6L) == 5L)
  }

  test("star components converge on a 200-node chain in O(log n) rounds") {
    // 1-2-3-...-200: min-label propagation needs ~199 rounds here; the
    // alternating-star path must finish inside a logarithmic cap or this
    // blows the maxIter bound and labels come back wrong.
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // driverThreshold = 0 forces the distributed star path
    val comp = Dedup.connectedComponents(chain, maxIter = 20, driverThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(comp.length == 200)
    assert(comp.forall(_._2 == 1L), s"bad labels: ${comp.filter(_._2 != 1L).take(5).toSeq}")
    // three-way equality on a shallow multi-component graph: star path ==
    // driver union-find path == reference label propagation
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 9L)).toDF("id_a", "id_b")
    val star = Dedup.connectedComponents(edges, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    val uf = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val prop = Dedup.connectedComponentsLabelProp(edges)
      .as[(Long, Long)].collect().toMap
    assert(star == prop, s"star=$star prop=$prop")
    assert(uf == prop, s"uf=$uf prop=$prop")
    assert(star(9L) == 9L, "self-loop-only node keeps itself")
    // union-find path on the chain too (its default path)
    val ufChain = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(ufChain.length == 200 && ufChain.forall(_._2 == 1L))
  }

  test("components: star, union-find, and label-prop agree on random graphs") {
    val rnd = new scala.util.Random(42)   // fixed seed: deterministic
    for (_ <- 1 to 3) {
      val nEdges = 40 + rnd.nextInt(60)
      val edges = (1 to nEdges)
        .map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .toDF("id_a", "id_b")
      val uf = Dedup.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      val star = Dedup.connectedComponents(edges, driverThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      val prop = Dedup.connectedComponentsLabelProp(edges)
        .as[(Long, Long)].collect().toMap
      assert(star == prop && uf == prop,
        s"disagreement on $nEdges-edge graph")
    }
  }

  test("simhashPairs excludes token-less documents") {
    val withEmpty = docs.union(Seq((7L, ""), (8L, "   ")).toDF("doc_id", "text"))
    val pairs = Dedup.simhashPairs(withEmpty, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!pairs.exists(p => p._1 == 7L || p._2 == 7L || p._1 == 8L || p._2 == 8L),
      s"empty docs paired: ${pairs.toSeq}")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("degenerate band parameters are rejected loudly") {
    def rejected(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(rejected(Dedup.simhashPairs(docs, "doc_id", "text", bands = 1)) ===
      "requirement failed: bands must divide 64 and be >= 2, got 1")
    assert(rejected(Dedup.simhashPairs(docs, "doc_id", "text",
      bands = 5)) ===   // 64 % 5 != 0
      "requirement failed: bands must divide 64 and be >= 2, got 5")
    assert(rejected(Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 16, bands = 32)) ===
      "requirement failed: bands must divide numHashes (16), got 32")
    assert(rejected(Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 16, bands = 3)) ===
      "requirement failed: bands must divide numHashes (16), got 3")
  }

  test("ngramJaccardPairs: exact dup has jaccard 1.0; near dup above 0.5") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, minJaccard = 0.3)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((1L, 6L)))
    // doc4: 4 trigrams; doc5: 6 trigrams; common = 4 -> j = 4/6
    assert(approx(pairs((4L, 5L)), 0.6667, 1e-4))
  }

  test("minhash lsh: shingle-less docs never pair (no sentinel-signature bucket)") {
    val withStubs = docs.union(
      Seq((10L, "x"), (11L, "y"), (12L, "z z"), (13L, ""))
        .toDF("doc_id", "text"))
    val pairs = Dedup.minhashLshPairs(withStubs, "doc_id", "text",
        shingleSize = 3, minJaccard = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L),
      s"sub-shingle docs paired: ${pairs.filter(p => p._1 >= 10L || p._2 >= 10L).toSeq}")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("minhash signatures: identical docs identical sigs; lsh finds dups") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).length == 16)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("embeddingDedup drops exact vector copies, keeps originals") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = emb.select($"vec_id", $"embedding")
      .union(emb.filter($"vec_id" % 50 === 0)
        .select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    val kept = Dedup.embeddingDedup(vecs, "vec_id", "embedding", dim = 64,
        minCos = 0.99)
      .select("vec_id").as[Long].collect()
    assert(kept.forall(_ < 10000), "all copies must be dropped")
    assert(kept.length == emb.count())
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 64, 0.99)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty && pairs.forall(p => p._2 == p._1 + 10000 && p._3 >= 0.99))
  }

  test("crossSourceDupMatrix: shared distinct contents per source pair") {
    val rows = Seq(
      ("web", "shared one"), ("mirror", "shared one"),   // 1 shared
      ("web", "shared two"), ("mirror", "shared two"),   // 2nd shared
      ("web", "shared two"),                             // in-source dup: still 1 content
      ("social", "shared one"),                          // 3-source content
      ("web", "web only"), ("mirror", "mirror only")
    ).toDF("source", "text")
    val got = Dedup.crossSourceDupMatrix(rows, "text", "source")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      ("mirror", "web") -> 2L,      // both shared contents
      ("mirror", "social") -> 1L,   // "shared one" only
      ("social", "web") -> 1L))
  }

  test("sortedNeighborhoodPairs: window-adjacent near-dups found, far miss") {
    // Block "th": four docs sorting adjacently; 1-2 near-dups (adjacent),
    // 5 is > windowSize rows away from 1 in sort order so (1,5) is
    // missed even though identical — the declared SNM recall trade.
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox jumps"),
      (3L, "the aaaa bbbb cccc dddd"),   // sorts between: "the a..." first
      (4L, "the eeee ffff gggg hhhh"),
      (5L, "the quick brown fox"),       // identical to 1
      (9L, "zebra unrelated text")       // different block
    ).toDF("id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "id", "text",
        windowSize = 2, minJaccard = 0.5, blockLen = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // Sort order within block "th": "the aaaa...", "the eeee...",
    // "the quick brown fox"(1), "the quick brown fox"(5), "the quick
    // brown fox jumps"(2). Window 2: (1,5), (1,2), (5,2) all pair;
    // (3,4) jaccard 1/7 < 0.5 drops.
    assert(got == Set((1L, 5L), (1L, 2L), (2L, 5L)))
  }

  test("sortedNeighborhoodPairs: jaccard values are exact") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b x y")
    ).toDF("id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "id", "text",
        windowSize = 2, minJaccard = 0.3, blockLen = 1)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((1L, 3L)) == approxJ(2, 6))   // {a,b} over {a,b,c,d,x,y}
    assert(got((2L, 3L)) == approxJ(2, 6))
  }

  private def approxJ(inter: Int, union: Int): Double =
    BigDecimal(inter.toDouble / union)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("incrementalMinHashDedup: exact dup flags agreement 1.0, fresh " +
    "doc is_new, history text never consulted (signatures only)") {
    val history = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "one two three four five six seven eight nine ten")
    ).toDF("id", "text")
    val historySigs = Dedup.minhashSignatures(history, "id", "text")
    val batch = Seq(
      // exact copy of history 10 -> all 16 positions agree
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // genuinely fresh content
      (102L, "completely different words with no shared shingles at all"),
      // shingle-less (2 tokens < shingleSize 3) -> dropped
      (103L, "too short")
    ).toDF("id", "text")
    val got = Dedup.incrementalMinHashDedup(batch, "id", "text",
        historySigs)
      .select($"id", $"is_new", $"matched_history_id", $"sig_agreement")
      .as[(Long, Boolean, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(101L) == ((false, Some(10L), Some(1.0))))
    assert(got(102L) == ((true, None, None)))
    assert(!got.contains(103L))
    // sig rides along so accepted rows append onto the history table
    val withSig = Dedup.incrementalMinHashDedup(batch, "id", "text",
      historySigs)
    assert(withSig.schema("sig").dataType.simpleString == "array<bigint>")
    // appending the accepted fresh doc and re-screening an exact copy
    // of it now matches -> the incremental contract round-trips
    val history2 = historySigs.unionByName(
      withSig.filter($"is_new").select($"id", $"sig"))
    val got2 = Dedup.incrementalMinHashDedup(
        Seq((201L, "completely different words with no shared shingles " +
          "at all")).toDF("id", "text"), "id", "text", history2)
      .select($"id", $"matched_history_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got2(201L) == Some(102L))
  }

  test("observed: the row of a completed Observation, None for one never run") {
    val never = org.apache.spark.sql.Observation()
    spark.range(3).observe(never, count(lit(1)).as("n")) // no action
    assert(Dedup.observed(never, "never-run",
      scala.concurrent.duration.Duration(50, "ms")).isEmpty)
    val done = org.apache.spark.sql.Observation()
    spark.range(3).observe(done, count(lit(1)).as("n")).collect()
    assert(Dedup.observed(done, "completed").map(_.getAs[Long]("n")) ==
      Some(3L))
  }
}
