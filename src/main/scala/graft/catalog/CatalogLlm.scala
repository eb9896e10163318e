package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Similarity
import graft.catalog.Catalog.Q
import graft.dedup.{Dedup, Survivorship}
import graft.events.Sessionize
import graft.functions.gfunctions.word_shingles
import graft.mm.Multimodal
import graft.text.TextAnalysis
import graft.util.Tables

/** Oracle-checked catalog entries for the LLM-data-pipeline operators:
  * dedup (exact / simhash-banded / n-gram Jaccard), similarity search
  * (brute-force + LSH ANN), text analysis, and multimodal plumbing —
  * over the driver's documents/embeddings tables.
  *
  * The oracle can replicate even the hash paths because every graft hash
  * derives from md5 (DuckDB `md5_number_lower`); the simhash oracle is an
  * ALL-PAIRS ground truth while the engine runs banded LSH — pigeonhole
  * (4 bands of 16 bits, hamming <= 3) guarantees the banded result equals
  * the exhaustive one, so the compare verifies the banding itself.
  *
  * Near-dup corpora are synthesized deterministically (the shipped table
  * has no duplicates): exact copies for doc_id % 7 == 0 and one-token
  * mutations for doc_id % 5 == 0.
  */
object CatalogLlm {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Shared dup-seeded corpus (id, text). Materialized eagerly
    * (localCheckpoint): the consumers (q20/q33/q60/q63) each fan the
    * corpus into multi-consumer plans, so without this the documents
    * parquet is re-read and the union rebuilt 3-4× per entry. ONE
    * checkpoint per (session, dir) is cached and reused — clearCache()
    * cannot release RDD-level checkpoint blocks, so re-checkpointing on
    * every call would accumulate a corpus copy per invocation in a
    * long-lived session (bench: 12+ copies per run). The corpus is
    * doc-cardinality (small), so the single materialization is cheap. */
  private val corpusCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  private def corpus(s: SparkSession, dir: String): DataFrame =
    corpusCache.computeIfAbsent((s, dir), { key =>
      val (ss, d) = key
      import ss.implicits._
      val docs = t(ss, d, "documents")
      docs.select($"doc_id".as("id"), $"text")
        .union(docs.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + 1000000).as("id"), $"text"))
        .union(docs.filter($"doc_id" % 5 === 0)
          .select(($"doc_id" + 2000000).as("id"),
            concat($"text", lit(" extra")).as("text")))
        .localCheckpoint()
    })

  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 2000000, text || ' extra' FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  /** Exact dedup: hash-groupBy on content md5, keep min id
    * (dup-seeded corpus). */
  private val q20 = Q("q20_exact_dedup",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val c = docs.select($"doc_id", $"text")
        .union(docs.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
      Dedup.exactGroups(c, "doc_id", "text")
        .select($"content_md5", $"keep_id", $"n_dups")
        .orderBy($"keep_id")
    },
    Some("""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
           |SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n_dups
           |FROM corpus GROUP BY md5(text) ORDER BY keep_id""".stripMargin))

  /** Token counting per language (regexp_count, no array
    * materialization). */
  private val q21 = Q("q21_token_stats",
    (s, dir) => {
      import s.implicits._
      val n = TextAnalysis.tokenCount($"text")
      t(s, dir, "documents")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(n), 4).as("avg_tokens"),
          max(n).cast("long").as("max_tokens"),
          sum(n).as("total_tokens"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
           |  round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens,
           |  max(len(regexp_extract_all(text, '\S+')))::BIGINT AS max_tokens,
           |  sum(len(regexp_extract_all(text, '\S+')))::BIGINT AS total_tokens
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Per-doc quality metrics + weighted score (TextAnalysis.withQuality). */
  private val q22 = Q("q22_quality_score",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.withQuality(t(s, dir, "documents"), "text")
        .select($"doc_id", $"n_tokens", $"mean_token_len", $"alpha_ratio",
          $"digit_ratio", $"stopword_ratio", $"quality_score")
        .orderBy($"doc_id")
    },
    Some("""WITH m AS (SELECT doc_id,
           |  len(regexp_extract_all(text, '\S+')) AS n_tok,
           |  length(text) AS n_chars,
           |  len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
           |  len(regexp_extract_all(text, '[0-9]')) AS n_digit,
           |  len(regexp_extract_all(text, '\S')) AS n_nonws,
           |  len(list_filter(regexp_extract_all(text, '\S+'),
           |      t -> t IN ('the','a','is','and','of'))) AS n_stop
           |  FROM documents),
           |r AS (SELECT doc_id, n_tok,
           |  CASE WHEN n_tok > 0 THEN round(n_nonws / CAST(n_tok AS DOUBLE), 4) ELSE 0.0 END AS mean_token_len,
           |  CASE WHEN n_chars > 0 THEN round(n_alpha / CAST(n_chars AS DOUBLE), 4) ELSE 0.0 END AS alpha_ratio,
           |  CASE WHEN n_chars > 0 THEN round(n_digit / CAST(n_chars AS DOUBLE), 4) ELSE 0.0 END AS digit_ratio,
           |  CASE WHEN n_tok > 0 THEN round(n_stop / CAST(n_tok AS DOUBLE), 4) ELSE 0.0 END AS stopword_ratio
           |  FROM m)
           |SELECT doc_id, n_tok::BIGINT AS n_tokens, mean_token_len, alpha_ratio,
           |       digit_ratio, stopword_ratio,
           |  round(0.4 * alpha_ratio
           |      + 0.3 * (CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 1.0 ELSE 0.0 END)
           |      + 0.2 * least(stopword_ratio * 5.0, 1.0)
           |      + 0.1 * (1.0 - least(digit_ratio * 10.0, 1.0)), 4) AS quality_score
           |FROM r ORDER BY doc_id""".stripMargin))

  /** Language-ID heuristic: marker-word argmax, first-match tie-break,
    * "und" when no votes. */
  private val q23 = Q("q23_langid",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(TextAnalysis.langId(TextAnalysis.tokens($"text"))
          .as("predicted_lang"))
        .groupBy($"predicted_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"predicted_lang")
    },
    Some("""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
           |s AS (SELECT doc_id,
           |  len(list_filter(tk, x -> x IN ('the','a','is','and','of'))) AS s_en,
           |  len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS s_de,
           |  len(list_filter(tk, x -> x IN ('el','la','de','y','es'))) AS s_es,
           |  len(list_filter(tk, x -> x IN ('le','la','et','les','est'))) AS s_fr,
           |  len(list_filter(tk, x -> x IN ('的','是','了','在','和'))) AS s_zh
           |  FROM t),
           |p AS (SELECT doc_id,
           |  CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
           |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
           |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
           |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
           |       WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
           |       ELSE 'und' END AS predicted_lang FROM s)
           |SELECT predicted_lang, count(*) AS n_docs FROM p
           |GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin))

  /** Exact n-gram Jaccard near-dup pairs via the prefix-filtered inverted
    * shingle index. 5-gram shingles: distinctive enough that the rare-
    * shingle prefixes actually prune (trigrams over a small vocabulary
    * are all frequent, which defeats any inverted-index scheme). */
  private val q24 = Q("q24_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(corpus(s, dir), "id", "text",
          shingleSize = 5, minJaccard = 0.5)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH $corpusSql,
            |toks AS (SELECT id, regexp_extract_all(text, '\\S+') AS tk FROM corpus),
            |sh AS (SELECT DISTINCT id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS shingle
            |       FROM (SELECT id, tk, unnest(generate_series(1, len(tk) - 4)) AS i FROM toks)),
            |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
            |common AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS n_common
            |           FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
            |           GROUP BY 1, 2),
            |j AS (SELECT id_a, id_b,
            |        round(n_common / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 4) AS jaccard
            |      FROM common JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b)
            |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
            |ORDER BY id_a, id_b""".stripMargin))

  /** Simhash-banded near-dup pairs; oracle is the all-pairs ground truth
    * (banding completeness check by pigeonhole). */
  private val q25 = Q("q25_simhash_banded",
    (s, dir) => {
      import s.implicits._
      Dedup.simhashPairs(corpus(s, dir), "id", "text",
          bands = 4, maxDist = 3)
        .withColumn("hamming", $"hamming".cast("long"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH $corpusSql,
            |tok AS (SELECT id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM corpus),
            |th AS (SELECT id, md5_number_lower(tok) AS h FROM tok),
            |bits AS (SELECT unnest(generate_series(0, 63)) AS b),
            |votes AS (SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
            |          FROM th, bits GROUP BY id, b),
            |sigu AS (SELECT id, sum(CASE WHEN v > 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END) AS su
            |         FROM votes GROUP BY id),
            |sig AS (SELECT id, (su::HUGEINT - CASE WHEN su >= 9223372036854775808::HUGEINT
            |          THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS s
            |        FROM sigu)
            |SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.s, b.s))::BIGINT AS hamming
            |FROM sig a JOIN sig b ON a.id < b.id
            |WHERE bit_count(xor(a.s, b.s)) <= 3
            |ORDER BY id_a, id_b""".stripMargin))

  /** Brute-force exact cosine top-k (the ANN baseline). */
  private val q26 = Q("q26_cosine_topk",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 10),
          "vec_id", "embedding", 3)
        .select($"query_id", $"neighbor_id",
          $"rank".cast("long").as("rank"), $"cos_sim")
        .orderBy($"query_id", $"rank")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |             list_cosine_similarity(q.e, c.e) AS cs
           |      FROM q, v c WHERE c.vec_id != q.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY cs DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim
           |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin))

  /** LSH bucket histogram (8 deterministic LCG hyperplanes) — the oracle
    * regenerates the planes from the same integer recurrence. */
  private val q27 = Q("q27_lsh_buckets",
    (s, dir) => {
      import s.implicits._
      Similarity.withBucket(t(s, dir, "embeddings"), "embedding", 8, 64)
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy($"bucket")
    },
    Some("""WITH planes AS (
           |  SELECT p, j, ((1103515245 * ((p * 64 + j) % 2147483648) + 12345) % 2147483648)
           |           / 1073741824.0 - 1.0 AS w
           |  FROM (SELECT unnest(generate_series(0, 7)) AS p),
           |       (SELECT unnest(generate_series(0, 63)) AS j)),
           |ev AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
           |              unnest(embedding::DOUBLE[]) AS x FROM embeddings),
           |dots AS (SELECT vec_id, p, sum(x * w) AS d FROM ev JOIN planes USING (j)
           |         GROUP BY vec_id, p),
           |b AS (SELECT vec_id, sum(CASE WHEN d > 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket
           |      FROM dots GROUP BY vec_id)
           |SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Multi-table LSH ANN top-k (4 tables x 4 planes) with exact cosine
    * re-rank — the oracle replays candidate generation and re-rank. */
  private val q28 = Q("q28_ann_topk",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 10), "vec_id",
          "embedding", 5, dim = 64, tables = 4, planesPerTable = 4)
        .select($"query_id", $"neighbor_id",
          $"rank".cast("long").as("rank"), $"cos_sim")
        .orderBy($"query_id", $"rank")
    },
    Some("""WITH planes AS (
           |  SELECT p, j, ((1103515245 * ((p * 64 + j) % 2147483648) + 12345) % 2147483648)
           |           / 1073741824.0 - 1.0 AS w
           |  FROM (SELECT unnest(generate_series(0, 15)) AS p),
           |       (SELECT unnest(generate_series(0, 63)) AS j)),
           |ev AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
           |              unnest(embedding::DOUBLE[]) AS x FROM embeddings),
           |dots AS (SELECT vec_id, p, sum(x * w) AS d FROM ev JOIN planes USING (j)
           |         GROUP BY vec_id, p),
           |tb AS (SELECT vec_id, p // 4 AS tbl,
           |         sum(CASE WHEN d > 0 THEN (1 << (p % 4)) ELSE 0 END)::BIGINT AS bucket
           |       FROM dots GROUP BY vec_id, p // 4),
           |q AS (SELECT * FROM tb WHERE vec_id < 10),
           |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |         FROM q JOIN tb c ON q.tbl = c.tbl AND q.bucket = c.bucket
           |         WHERE c.vec_id != q.vec_id),
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv.e, cv.e) AS cs
           |      FROM cand JOIN v qv ON qv.vec_id = query_id
           |                JOIN v cv ON cv.vec_id = neighbor_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY cs DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Multimodal frame sampling: every 64th byte of the payload
    * becomes a frame row — the oracle replays offsets + byte values.
    * The operator is BYTE-grain on binary; the oracle's substr/ascii
    * are CHAR-grain, identical only for single-byte text, so the demo
    * pins its input to single-byte payloads via the exact
    * octet_length = length guard on both sides (fuzz-17: injected
    * multi-byte unicode silently desynced frame offsets). */
  private val q29 = Q("q29_mm_frames",
    (s, dir) => {
      import s.implicits._
      val media = Multimodal.asMediaTable(
        t(s, dir, "documents")
          .filter(octet_length($"text") === length($"text")),
        "doc_id", "text", "text/plain")
      Multimodal.frameValues(media, 64)
        .select($"media_id", $"frame_idx".cast("long").as("frame_idx"),
          $"frame_off".cast("long").as("frame_off"), $"frame_val")
        .orderBy($"media_id", $"frame_idx")
    },
    Some("""WITH f AS (SELECT doc_id, text,
           |    unnest(generate_series(0, CAST(length(text) // 64 AS INT) - 1)) AS i
           |  FROM documents WHERE strlen(text) = length(text))
           |SELECT doc_id AS media_id, i AS frame_idx, i * 64 AS frame_off,
           |       ascii(substr(text, CAST(i * 64 + 1 AS INT), 1)) AS frame_val
           |FROM f ORDER BY media_id, frame_idx""".stripMargin))

  /** Bounded-window dedup over events (batch analogue of
    * dropDuplicatesWithinWatermark). */
  private val q30 = Q("q30_window_dedup",
    (s, dir) => {
      import s.implicits._
      Sessionize.dedupWithinWindow(t(s, dir, "events"), "ts", "user_id",
          "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"event_type")
    },
    Some("""WITH d AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type,
           |             date_trunc('minute', ts) ORDER BY ts, event_id) AS rn FROM events)
           |SELECT event_type, count(*) AS n_kept FROM d WHERE rn = 1
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Content fingerprint (md5 of trimmed text; the 64-bit rolling-hash
    * variant is engine-native, pinned in TextAnalysisSpec). */
  private val q31 = Q("q31_fingerprint",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.withFingerprints(t(s, dir, "documents"), "text")
        .select($"doc_id", $"fingerprint_md5")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, md5(trim(text)) AS fingerprint_md5
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Embedding-cosine near-dup dedup: LSH bucket candidates -> cosine
    * >= 0.99 pairs -> connected components -> keep min id. The corpus is
    * dup-seeded with exact vector copies; the oracle replays buckets +
    * cosine, then computes the SAME component-min semantics via a
    * WITH RECURSIVE transitive closure (reachable-minimum per node), so
    * the compare is assumption-free on component shape: a chain a-b-c
    * keeps only min(a,b,c) in both engines (previously a NOT-IN pair form
    * that was only equivalent while every component was a simple pair;
    * discrimination on chain fixtures is pinned by
    * tools/oracle_chain_check.py). */
  private val q32 = Q("q32_embedding_dedup",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val vecs = emb.select($"vec_id", $"embedding")
        .union(emb.filter($"vec_id" % 10 === 0)
          .select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
      Dedup.embeddingDedup(vecs, "vec_id", "embedding", dim = 64,
          minCos = 0.99, tables = 4, planesPerTable = 4)
        .select($"vec_id".as("kept_id"))
        .orderBy($"kept_id")
    },
    Some("""WITH RECURSIVE vecs AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           |  UNION ALL SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings
           |  WHERE vec_id % 10 = 0),
           |planes AS (
           |  SELECT p, j, ((1103515245 * ((p * 64 + j) % 2147483648) + 12345) % 2147483648)
           |           / 1073741824.0 - 1.0 AS w
           |  FROM (SELECT unnest(generate_series(0, 15)) AS p),
           |       (SELECT unnest(generate_series(0, 63)) AS j)),
           |ev AS (SELECT vec_id, generate_subscripts(e, 1) - 1 AS j, unnest(e) AS x FROM vecs),
           |dots AS (SELECT vec_id, p, sum(x * w) AS d FROM ev JOIN planes USING (j)
           |         GROUP BY vec_id, p),
           |tb AS (SELECT vec_id, p // 4 AS tbl,
           |         sum(CASE WHEN d > 0 THEN (1 << (p % 4)) ELSE 0 END)::BIGINT AS bucket
           |       FROM dots GROUP BY vec_id, p // 4),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |         FROM tb a JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket
           |                           AND a.vec_id < b.vec_id),
           |pairs AS (SELECT id_a, id_b FROM cand
           |          JOIN vecs va ON va.vec_id = id_a JOIN vecs vb ON vb.vec_id = id_b
           |          WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= 0.99),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach AS (SELECT vec_id AS id, vec_id AS r FROM vecs
           |          UNION
           |          SELECT t.id, e.v FROM reach t JOIN edges e ON e.u = t.r)
           |SELECT id AS kept_id FROM reach
           |GROUP BY id HAVING id = min(r)
           |ORDER BY kept_id""".stripMargin))

  /** MinHash-LSH near-dup pairs, fully oracled: 16 md5-derived hash
    * functions -> per-doc signature -> 4 bands -> in-bucket candidates ->
    * exact-Jaccard verification. The oracle replays the identical hashes
    * (signed reinterpretation of md5_number_lower, so the MIN picks the
    * same element as the engine's signed longs) and compares band keys as
    * raw signature strings — equal iff the engine's md5-hashed band keys
    * are equal. */
  private val q33 = Q("q33_minhash_lsh",
    (s, dir) => {
      import s.implicits._
      Dedup.minhashLshPairs(corpus(s, dir), "id", "text",
          shingleSize = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH $corpusSql,
            |toks AS (SELECT id, regexp_extract_all(text, '\\S+') AS tk FROM corpus),
            |sh AS (SELECT DISTINCT id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
            |       FROM (SELECT id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks)),
            |idx AS (SELECT unnest(generate_series(0, 15)) AS i),
            |th0 AS (SELECT id, i, md5_number_lower(CAST(i AS VARCHAR) || ':' || shingle) AS hu
            |        FROM sh, idx),
            |th AS (SELECT id, i, (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
            |         THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS h FROM th0),
            |sigs AS (SELECT id, i, min(h) AS sig FROM th GROUP BY id, i),
            |bk AS (SELECT id, i // 4 AS band, string_agg(sig::VARCHAR, ',' ORDER BY i) AS key
            |       FROM sigs GROUP BY id, i // 4),
            |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
            |         FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key AND x.id < y.id),
            |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
            |common AS (SELECT id_a, id_b, count(*) AS n_common
            |           FROM cand JOIN sh a ON a.id = id_a
            |                     JOIN sh b ON b.id = id_b AND b.shingle = a.shingle
            |           GROUP BY id_a, id_b),
            |j AS (SELECT id_a, id_b,
            |        round(n_common / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 4) AS jaccard
            |      FROM common JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b)
            |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
            |ORDER BY id_a, id_b""".stripMargin))

  /** BPE-ish token counting (approximate LLM-token budget per doc,
    * aggregated per source). The pattern avoids lookahead so Java regex
    * (engine) and RE2 (oracle) segment identically. */
  private val q37 = Q("q37_bpe_tokens",
    (s, dir) => {
      import s.implicits._
      val n = TextAnalysis.bpeTokenCount($"text")
      t(s, dir, "documents")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(n).as("total_bpeish_tokens"),
          round(avg(n), 4).as("avg_bpeish_tokens"),
          // nullif guard (fuzz-40 ANSI): a 0-token doc (whitespace-only
          // v3 shape) must yield NULL in BOTH modes — non-ANSI Spark and
          // DuckDB null /0 natively, ANSI Spark would error without it
          round(avg(n / nullif(TextAnalysis.tokenCount($"text"), lit(0))),
            4).as("tokens_per_word"))
        .orderBy($"source")
    },
    Some("""SELECT source, count(*) AS n_docs,
           |  sum(len(regexp_extract_all(text,
           |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')))::BIGINT
           |    AS total_bpeish_tokens,
           |  round(avg(len(regexp_extract_all(text,
           |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))), 4)
           |    AS avg_bpeish_tokens,
           |  round(avg(len(regexp_extract_all(text,
           |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
           |    / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)), 4)
           |    AS tokens_per_word
           |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  /** Benchmark decontamination: corpus docs sharing any 8-gram with the
    * benchmark subset (doc_id % 50 == 0) — the GPT-era n-gram-overlap
    * rule. Broadcast semi-join of the corpus postings against the
    * dimension-sized benchmark shingle set. */
  private val q41 = Q("q41_decontaminate",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id".as("id"), $"text")
      graft.dedup.Decontaminate
        .overlaps(docs, "id", "text", docs.filter($"id" % 50 === 0), "text",
          shingleSize = 8, minOverlap = 1)
        .orderBy($"id")
    },
    Some("""WITH toks AS (SELECT doc_id AS id, regexp_extract_all(text, '\S+') AS tk
           |              FROM documents),
           |sh AS (SELECT DISTINCT id,
           |         tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
           |         tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7] AS shingle
           |       FROM (SELECT id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
           |             FROM toks)),
           |bs AS (SELECT DISTINCT shingle FROM sh WHERE id % 50 = 0)
           |SELECT id, count(*) AS n_overlap
           |FROM sh JOIN bs USING (shingle)
           |GROUP BY id ORDER BY id""".stripMargin))

  /** Repetition quality signals (Gopher-style): repeated-trigram fraction
    * and most-frequent-token share per document — one narrow projection. */
  private val q42 = Q("q42_repetition",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.withRepetition(t(s, dir, "documents"), "text", n = 3)
        .select($"doc_id", $"rep_ngram_ratio", $"top_token_ratio")
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id AS id, regexp_extract_all(text, '\S+') AS tk
           |              FROM documents),
           |g AS (SELECT id, tk[i]||' '||tk[i+1]||' '||tk[i+2] AS s
           |      FROM (SELECT id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
           |            FROM toks)),
           |r AS (SELECT id, count(*) AS total, count(DISTINCT s) AS dst
           |      FROM g GROUP BY id),
           |tt AS (SELECT id, tok, count(*) AS c
           |       FROM (SELECT id, unnest(tk) AS tok FROM toks) GROUP BY id, tok),
           |tm AS (SELECT id, max(c) AS mx, sum(c) AS nt FROM tt GROUP BY id)
           |SELECT d.doc_id,
           |  coalesce(round(1.0 - dst / CAST(total AS DOUBLE), 4), 0.0)
           |    AS rep_ngram_ratio,
           |  coalesce(round(mx / CAST(nt AS DOUBLE), 4), 0.0) AS top_token_ratio
           |FROM documents d
           |LEFT JOIN r ON r.id = d.doc_id
           |LEFT JOIN tm ON tm.id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** Top-3 TF-IDF terms per document (shown for doc_id < 20): token
    * explode -> two partial-agg passes -> per-doc window rank. Exact ties
    * in tf*ln(N/df) (same tf, same df) break by term, so the rank is
    * engine-independent. */
  private val q43 = Q("q43_tfidf_topk",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id".as("id"), $"text")
      graft.text.Relevance.tfidfTopTerms(docs, "id", "text", k = 3)
        .filter($"id" < 20)
        .withColumn("rank", $"rank".cast("long"))
        .orderBy($"id", $"rank")
    },
    Some("""WITH toks AS (SELECT doc_id AS id, unnest(regexp_extract_all(text, '\S+')) AS term
           |              FROM documents),
           |posts AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
           |dfreq AS (SELECT term, count(*) AS df FROM posts GROUP BY term),
           |sc AS (SELECT id, term, tf,
           |         tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df) AS x
           |       FROM posts JOIN dfreq USING (term)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY id
           |        ORDER BY round(x, 4) DESC, term) AS rank FROM sc)
           |SELECT id, term, tf::BIGINT AS tf, round(x, 4) AS tfidf, rank
           |FROM r WHERE rank <= 3 AND id < 20 ORDER BY id, rank""".stripMargin))

  /** Deterministic stratified sample: 20 docs per source in md5-hash
    * order — reproducible across runs/engines/partitionings, with the
    * per-partition top-n pushed ahead of the shuffle by WindowGroupLimit. */
  private val q44 = Q("q44_stratified_sample",
    (s, dir) => {
      import s.implicits._
      graft.sample.Sampling
        .stratifiedHashSample(t(s, dir, "documents"), "source", "doc_id", 20)
        .select($"source", $"doc_id")
        .orderBy($"source", $"doc_id")
    },
    Some("""WITH h AS (SELECT source, doc_id,
           |    md5_number_lower(':' || doc_id::VARCHAR) AS hu FROM documents),
           |sgn AS (SELECT source, doc_id,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h),
           |r AS (SELECT source, doc_id,
           |    row_number() OVER (PARTITION BY source ORDER BY hs, doc_id) AS rn
           |  FROM sgn)
           |SELECT source, doc_id FROM r WHERE rn <= 20
           |ORDER BY source, doc_id""".stripMargin))

  /** Deterministic Bernoulli sample (10%): md5-derived uniform < 0.1 —
    * a pure narrow filter that pushes to the scan. */
  private val q45 = Q("q45_hash_sample",
    (s, dir) => {
      import s.implicits._
      graft.sample.Sampling.hashSample(t(s, dir, "documents"), "doc_id", 0.1)
        .select($"doc_id")
        .orderBy($"doc_id")
    },
    Some("""WITH h AS (SELECT doc_id,
           |    md5_number_lower(':' || doc_id::VARCHAR) AS hu FROM documents),
           |sgn AS (SELECT doc_id,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h)
           |SELECT doc_id FROM sgn
           |WHERE hs / 18446744073709551616.0 + 0.5 < 0.1
           |ORDER BY doc_id""".stripMargin))

  /** Exact interpolated percentiles of document length per source
    * (Spark `percentile` == DuckDB `quantile_cont`, both linear
    * interpolation). */
  private val q46 = Q("q46_percentiles",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy($"source")
        .agg(round(percentile($"n_chars", lit(0.25)), 4).as("p25"),
          round(percentile($"n_chars", lit(0.5)), 4).as("p50"),
          round(percentile($"n_chars", lit(0.9)), 4).as("p90"),
          count(lit(1)).as("n_docs"))
        .orderBy($"source")
    },
    Some("""SELECT source,
           |  round(quantile_cont(n_chars, 0.25), 4) AS p25,
           |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
           |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
           |  count(*) AS n_docs
           |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  /** Corpus-wide top-20 trigrams: explode -> partial-agg count ->
    * TakeOrdered on (count desc, shingle) — no global sort. */
  private val q47 = Q("q47_top_ngrams",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(word_shingles($"text", 3)).as("shingle"))
        .groupBy($"shingle")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"shingle".asc)
        .limit(20)
    },
    Some("""WITH toks AS (SELECT regexp_extract_all(text, '\S+') AS tk FROM documents),
           |g AS (SELECT tk[i]||' '||tk[i+1]||' '||tk[i+2] AS shingle
           |      FROM (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i
           |            FROM toks))
           |SELECT shingle, count(*) AS n FROM g GROUP BY shingle
           |ORDER BY n DESC, shingle LIMIT 20""".stripMargin))

  /** PII scrubbing: deterministic synthetic emails injected on
    * doc_id % 7 == 0 (both engines build the same text), then a
    * regexp_replace scrub + match count. Output: affected docs only. */
  private val q48 = Q("q48_pii_scrub",
    (s, dir) => {
      import s.implicits._
      val pat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val text2 = concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" mail user"), $"doc_id", lit("@example.com now")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select($"doc_id", text2.as("t2"))
        .select($"doc_id",
          regexp_count($"t2", lit(pat)).cast("long").as("n_emails"),
          length(regexp_replace($"t2", pat, "<EMAIL>")).cast("long")
            .as("scrubbed_chars"))
        .filter($"n_emails" > 0)
        .orderBy($"doc_id")
    },
    Some("""WITH t2 AS (SELECT doc_id,
           |    text || CASE WHEN doc_id % 7 = 0
           |      THEN ' mail user' || doc_id::VARCHAR || '@example.com now'
           |      ELSE '' END AS t2
           |  FROM documents)
           |SELECT doc_id,
           |  len(regexp_extract_all(t2, '[a-z0-9]+@[a-z]+\.[a-z]+'))::BIGINT
           |    AS n_emails,
           |  length(regexp_replace(t2, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'))
           |    AS scrubbed_chars
           |FROM t2
           |WHERE len(regexp_extract_all(t2, '[a-z0-9]+@[a-z]+\.[a-z]+')) > 0
           |ORDER BY doc_id""".stripMargin))

  /** Okapi BM25 top-20 docs for a fixed query-term bag; the rank key is
    * the ROUNDED score (then id) so the limit boundary is
    * engine-independent (the q35 lesson). */
  private val q49 = Q("q49_bm25",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id".as("id"), $"text")
      graft.text.Relevance
        .bm25TopDocs(docs, "id", "text", Seq("spark", "query", "window"), 20)
    },
    Some("""WITH toks AS (SELECT doc_id AS id, unnest(regexp_extract_all(text, '\S+')) AS term
           |              FROM documents),
           |posts AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
           |dl AS (SELECT id, sum(tf) AS dl FROM posts GROUP BY id),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
           |q(term) AS (VALUES ('spark'), ('query'), ('window')),
           |dfq AS (SELECT term, count(*) AS df FROM posts JOIN q USING (term)
           |        GROUP BY term),
           |sc AS (SELECT id,
           |         round(sum(ln(1 + (st.n - df + 0.5) / (df + 0.5))
           |           * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 4)
           |           AS bm25
           |       FROM posts JOIN dfq USING (term) JOIN dl USING (id), st
           |       GROUP BY id)
           |SELECT id, bm25 FROM sc ORDER BY bm25 DESC, id LIMIT 20""".stripMargin))

  /** IVF ANN search (cell-probed exact re-rank) through the
    * DETERMINISTIC hash-seeded quantizer — centroids are the 16 corpus
    * vectors first in md5-hash order, so the oracle can replay seed
    * selection (q44's signed-HUGEINT idiom), cell assignment (rounded-
    * cosine argmax, ties to lowest cell), probing and re-rank exactly.
    * The quantizer is hash-seeded, not fitted: a KMeans quantizer's
    * centroids depend on float-sum order, which would leave this entry
    * rows-only. */
  private val q51 = Q("q51_ivf_ann",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val (assigned, centers) =
        Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nLists = 16)
      Similarity.ivfTopK(assigned, centers, emb.filter($"vec_id" < 10),
          "vec_id", "embedding", k = 5, nProbe = 4)
        .select($"query_id", $"neighbor_id",
          $"rank".cast("long").as("rank"), $"cos_sim")
        .orderBy($"query_id", $"rank")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |h AS (SELECT vec_id,
           |    md5_number_lower(':' || vec_id::VARCHAR) AS hu FROM v),
           |sgn AS (SELECT vec_id,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h),
           |seeds AS (SELECT vec_id, e, cell FROM (
           |    SELECT v.vec_id, v.e,
           |      row_number() OVER (ORDER BY hs, vec_id::VARCHAR) - 1 AS cell
           |    FROM sgn JOIN v USING (vec_id)) WHERE cell < 16),
           |asg AS (SELECT vec_id, cell FROM (
           |    SELECT v.vec_id, s.cell, row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY round(list_cosine_similarity(v.e, s.e), 9) DESC, s.cell) AS rn
           |    FROM v CROSS JOIN seeds s) WHERE rn = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |probes AS (SELECT query_id, cell FROM (
           |    SELECT q.vec_id AS query_id, s.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY round(list_cosine_similarity(q.e, s.e), 9) DESC, s.cell) AS rn
           |    FROM q CROSS JOIN seeds s) WHERE rn <= 4),
           |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           |         FROM probes p JOIN asg a USING (cell)
           |         WHERE a.vec_id != p.query_id),
           |s2 AS (SELECT query_id, neighbor_id,
           |         list_cosine_similarity(qv.e, cv.e) AS cs
           |       FROM cand JOIN v qv ON qv.vec_id = query_id
           |                 JOIN v cv ON cv.vec_id = neighbor_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY cs DESC, neighbor_id) AS rank FROM s2)
           |SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Token-window chunking (64-token chunks, 8-token overlap) shown for
    * doc_id < 20: per-row fan-out bounded by each doc's own chunk count. */
  private val q54 = Q("q54_chunking",
    (s, dir) => {
      import s.implicits._
      graft.text.Chunking.chunk(
          t(s, dir, "documents").filter($"doc_id" < 20), "doc_id", "text",
          chunkTokens = 64, overlap = 8)
        .orderBy($"id", $"chunk_id")
    },
    Some("""WITH toks AS (SELECT doc_id AS id, regexp_extract_all(text, '\S+') AS tk
           |              FROM documents WHERE doc_id < 20),
           |st AS (SELECT id, tk, unnest(generate_series(0, len(tk) - 1, 56)) AS s
           |       FROM toks WHERE len(tk) > 0),
           |ch AS (SELECT id, tk, s,
           |         (row_number() OVER (PARTITION BY id ORDER BY s) - 1)::INT
           |           AS chunk_id
           |       FROM st WHERE s = 0 OR s + 8 < len(tk))
           |SELECT id, chunk_id,
           |  array_to_string(tk[s + 1 : s + 64], ' ') AS chunk_text,
           |  least(64, len(tk) - s)::INT AS n_chunk_tokens
           |FROM ch ORDER BY id, chunk_id""".stripMargin))

  /** Concatenate-and-split sequence packing per source (id order,
    * 512-token budget): one running sum windowed by the stratum key. */
  private val q55 = Q("q55_seq_packing",
    (s, dir) => {
      import s.implicits._
      graft.text.Chunking.packSequences(
          t(s, dir, "documents"), "source", "doc_id", "text",
          budgetTokens = 512)
        .select($"source", $"doc_id", $"n_tokens", $"seq_id")
        .orderBy($"source", $"doc_id")
    },
    Some("""WITH n AS (SELECT source, doc_id,
           |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens
           |  FROM documents)
           |SELECT source, doc_id, n_tokens,
           |  CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
           |    / 512.0) AS BIGINT) AS seq_id
           |FROM n ORDER BY source, doc_id""".stripMargin))

  /** URL/domain extraction + per-domain aggregates (domain-based corpus
    * filtering). Deterministic synthetic URLs injected on doc_id % 5 == 0
    * (both engines build the same text); the domain comes from the first
    * URL match per doc — regexp_extract group semantics agree across
    * Java regex and RE2. */
  private val q56 = Q("q56_domains",
    (s, dir) => {
      import s.implicits._
      val t2 = concat($"text",
        when($"doc_id" % 5 === 0,
          concat(lit(" see https://site"), $"doc_id" % 7,
            lit(".example.com/p/"), $"doc_id")).otherwise(lit("")))
      t(s, dir, "documents")
        .select($"doc_id", t2.as("t2"))
        .select($"doc_id",
          regexp_extract($"t2", "https?://([a-z0-9.-]+)", 1).as("domain"))
        .filter($"domain" =!= "")
        .groupBy($"domain")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
        .orderBy($"domain")
    },
    Some("""WITH t2 AS (SELECT doc_id,
           |    text || CASE WHEN doc_id % 5 = 0
           |      THEN ' see https://site' || (doc_id % 7)::VARCHAR
           |           || '.example.com/p/' || doc_id::VARCHAR
           |      ELSE '' END AS t2
           |  FROM documents),
           |d AS (SELECT doc_id,
           |        regexp_extract(t2, 'https?://([a-z0-9.-]+)', 1) AS domain
           |      FROM t2)
           |SELECT domain, count(*) AS n_docs, min(doc_id) AS first_doc
           |FROM d WHERE domain != '' GROUP BY domain ORDER BY domain""".stripMargin))

  /** Deterministic domain-mixture resampling: rebalance four named
    * sources toward 0.4/0.3/0.2/0.1 of a 120-row target; unlisted
    * sources drop. The oracle recomputes the per-source acceptance rate
    * with the same double arithmetic (explicit ::DOUBLE casts keep
    * DuckDB off its decimal path so both engines evaluate
    * (target·w)/n in IEEE double, bit-for-bit). */
  private val q57 = Q("q57_mixture_sample",
    (s, dir) => {
      import s.implicits._
      graft.sample.Sampling.mixtureSample(t(s, dir, "documents"),
          "source", "doc_id",
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
          targetRows = 120)
        .select($"source", $"doc_id")
        .orderBy($"source", $"doc_id")
    },
    Some("""WITH w(source, wt) AS (VALUES ('src0', 0.4::DOUBLE),
           |  ('src1', 0.3::DOUBLE), ('src2', 0.2::DOUBLE), ('src3', 0.1::DOUBLE)),
           |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
           |rates AS (SELECT c.source,
           |    least(1.0::DOUBLE, 120.0::DOUBLE * coalesce(w.wt, 0.0::DOUBLE)
           |      / CAST(c.n AS DOUBLE)) AS p
           |  FROM cnt c LEFT JOIN w USING (source)),
           |h AS (SELECT source, doc_id,
           |    md5_number_lower(':' || doc_id::VARCHAR) AS hu FROM documents),
           |u AS (SELECT source, doc_id,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h)
           |SELECT u.source, u.doc_id FROM u JOIN rates r ON u.source = r.source
           |WHERE hs / 18446744073709551616.0 + 0.5 < r.p
           |ORDER BY u.source, u.doc_id""".stripMargin))

  /** Gopher-style hard quality gates: per-rule booleans + combined keep.
    * Ratio rule inputs are rounded to 4 dp before comparison on both
    * engines, so every boolean boundary is engine-independent. */
  private val q58 = Q("q58_gopher_rules",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.gopherFilter(t(s, dir, "documents"), "text",
          minWords = 30)
        .select($"doc_id", $"rule_word_count", $"rule_mean_word_len",
          $"rule_alpha", $"rule_stopwords", $"rule_repetition",
          $"gopher_keep")
        .orderBy($"doc_id")
    },
    Some("""WITH m AS (SELECT doc_id,
           |  len(regexp_extract_all(text, '\S+')) AS n_tok,
           |  length(text) AS n_chars,
           |  len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
           |  len(regexp_extract_all(text, '\S')) AS n_nonws,
           |  len(list_filter(regexp_extract_all(text, '\S+'),
           |      t -> t IN ('the','a','is','and','of'))) AS n_stop
           |  FROM documents),
           |toks AS (SELECT doc_id AS id, regexp_extract_all(text, '\S+') AS tk
           |         FROM documents),
           |g AS (SELECT id, tk[i]||' '||tk[i+1]||' '||tk[i+2] AS sgl
           |      FROM (SELECT id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
           |            FROM toks)),
           |r AS (SELECT id, count(*) AS total, count(DISTINCT sgl) AS dst
           |      FROM g GROUP BY id),
           |mm AS (SELECT m.doc_id, m.n_tok, m.n_stop,
           |  CASE WHEN m.n_tok > 0
           |    THEN round(m.n_nonws / CAST(m.n_tok AS DOUBLE), 4) ELSE 0.0 END AS mean_len,
           |  CASE WHEN m.n_chars > 0
           |    THEN round(m.n_alpha / CAST(m.n_chars AS DOUBLE), 4) ELSE 0.0 END AS alpha_ratio,
           |  coalesce(round(1.0 - r.dst / CAST(r.total AS DOUBLE), 4), 0.0) AS rep_ratio
           |  FROM m LEFT JOIN r ON r.id = m.doc_id)
           |SELECT doc_id,
           |  (n_tok >= 30 AND n_tok <= 100000) AS rule_word_count,
           |  (mean_len >= 3.0 AND mean_len <= 10.0) AS rule_mean_word_len,
           |  (alpha_ratio >= 0.6) AS rule_alpha,
           |  (n_stop >= 2) AS rule_stopwords,
           |  (rep_ratio <= 0.2) AS rule_repetition,
           |  (n_tok >= 30 AND n_tok <= 100000
           |    AND mean_len >= 3.0 AND mean_len <= 10.0
           |    AND alpha_ratio >= 0.6 AND n_stop >= 2
           |    AND rep_ratio <= 0.2) AS gopher_keep
           |FROM mm ORDER BY doc_id""".stripMargin))

  /** Per-source token-distribution KL divergence vs the corpus blend
    * (mixture diagnostics). Rounded to 4 dp: per-term contributions are
    * bit-identical across engines, only the summation order differs
    * (~1e-15 relative — the q13 precedent). */
  private val q59 = Q("q59_token_kl",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.tokenDivergence(
          t(s, dir, "documents"), "source", "text")
        .withColumnRenamed("stratum", "source")
        .orderBy($"source")
    },
    Some("""WITH tok AS (SELECT source, unnest(regexp_extract_all(text, '\S+')) AS term
           |             FROM documents),
           |st AS (SELECT source, term, count(*) AS c_st FROM tok GROUP BY source, term),
           |tt AS (SELECT term, sum(c_st) AS c_t FROM st GROUP BY term),
           |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
           |tot AS (SELECT sum(n_s) AS n_total FROM ns)
           |SELECT st.source, max(ns.n_s)::BIGINT AS n_tokens,
           |  count(*) AS n_terms,
           |  round(sum((c_st / CAST(n_s AS DOUBLE))
           |    * ln((c_st / CAST(n_s AS DOUBLE)) / (c_t / CAST(n_total AS DOUBLE)))), 4)
           |    AS kl_divergence
           |FROM st JOIN tt USING (term) JOIN ns USING (source), tot
           |GROUP BY st.source ORDER BY source""".stripMargin))

  /** Incremental exact dedup over the dup-seeded corpus: "seen" = even
    * original ids' hash set, "batch" = everything else. Exercises both
    * rules — cross-batch (copies of even %7 docs drop against the hash
    * set) and in-batch first-wins (odd %7 originals beat their +1000000
    * copies by min id). */
  private val q60 = Q("q60_incremental_dedup",
    (s, dir) => {
      import s.implicits._
      val c = corpus(s, dir)
      val seen = Dedup.exactGroups(
          c.filter($"id" < 1000000 && $"id" % 2 === 0), "id", "text")
        .select($"content_md5")
      Dedup.incrementalExactDedup(
          c.filter(!($"id" < 1000000 && $"id" % 2 === 0)), "id", "text", seen)
        .select($"id")
        .orderBy($"id")
    },
    Some(s"""WITH $corpusSql,
           |seen AS (SELECT DISTINCT md5(text) AS h FROM corpus
           |         WHERE id < 1000000 AND id % 2 = 0),
           |batch AS (SELECT id, md5(text) AS h FROM corpus
           |          WHERE NOT (id < 1000000 AND id % 2 = 0)),
           |fresh AS (SELECT b.id, b.h FROM batch b
           |          WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.h = b.h))
           |SELECT min(id) AS id FROM fresh GROUP BY h ORDER BY id""".stripMargin))

  /** Canonical text normalization (L36): NFC composition (native
    * expression — the fixture is seeded with a decomposed e + U+0301 so
    * composition does real work), lowercase, whitespace collapse, trim.
    * Both engines implement UAX #15 NFC, so the cleaned strings compare
    * byte-equal. */
  private val q62 = Q("q62_normalize_text",
    (s, dir) => {
      import s.implicits._
      val seeded = t(s, dir, "documents").select($"doc_id",
        concat(lit("  THE  Quick "), $"text",
          lit(" CAFE café  ")).as("text"))
      TextAnalysis.normalizeText(seeded, "text")
        .select($"doc_id", $"text_norm")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  trim(regexp_replace(lower(nfc_normalize(
           |    '  THE  Quick ' || text || ' CAFE cafe' || chr(769) || '  ')),
           |    '\s+', ' ', 'g')) AS text_norm
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Cross-corpus line dedup (L37, the C4-style cleaning step) over the
    * dup-seeded corpus re-lined into 10-token lines: duplicate lines keep
    * only their (min id, min pos) occurrence and docs are reassembled in
    * order. The oracle replays lines as the same 10-token slices and
    * ranks occurrences with a window; outputs compare md5 + length of
    * the rebuilt text. Exact-dup docs lose ALL lines (their originals
    * own every line); "+ extra"-mutated docs keep only their changed
    * final line — both shapes are exercised by the seeding. */
  private val q63 = Q("q63_line_dedup",
    (s, dir) => {
      import s.implicits._
      // CR/LF normalize BEFORE relining (fuzz-40 v3): the demo joins
      // its 10-token lines with "\n", and lineDedup's unit is the
      // newline-split line — raw text carrying embedded "\r\n" would
      // make the operator's line grain diverge from the oracle's
      // constructed-line grain (a dedup survivor shifts the whole
      // rebuilt text). Both sides normalize identically.
      val toks = split(regexp_replace($"text", "[\r\n]", " "), " ")
      val lined = corpus(s, dir).select($"id",
        array_join(
          transform(
            sequence(lit(0), floor((size(toks) - 1) / 10).cast("int")),
            i => array_join(slice(toks, i * 10 + 1, lit(10)), " ")),
          "\n").as("text"))
      Dedup.lineDedup(lined, "id", "text")
        .select($"id", md5($"text").as("text_md5"),
          length($"text").cast("long").as("n_chars"))
        .orderBy($"id")
    },
    Some(s"""WITH $corpusSql,
           |toks AS (SELECT id,
           |           string_split(regexp_replace(text, '[\r\n]', ' ', 'g'),
           |                        ' ') AS tk
           |         FROM corpus),
           |lines AS (SELECT id, i AS pos,
           |            array_to_string(tk[i*10+1:i*10+10], ' ') AS line
           |          FROM (SELECT id, tk,
           |                  unnest(generate_series(0,
           |                    CAST(floor((len(tk)-1)/10.0) AS INT))) AS i
           |                FROM toks)),
           |ranked AS (SELECT *, row_number()
           |             OVER (PARTITION BY line ORDER BY id, pos) AS rn
           |           FROM lines),
           |rebuilt AS (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS text
           |            FROM ranked WHERE rn = 1 GROUP BY id)
           |SELECT c.id, md5(coalesce(r.text, '')) AS text_md5,
           |       length(coalesce(r.text, ''))::BIGINT AS n_chars
           |FROM corpus c LEFT JOIN rebuilt r ON c.id = r.id
           |ORDER BY c.id""".stripMargin))

  /** Snapshot corpus delta (L38): old = docs with id % 3 != 0, new =
    * docs with id % 4 != 0 where every id % 5 == 0 doc was re-crawled
    * with changed content — exercises added (new ids + mutated content),
    * removed (dropped ids + the mutated docs' old content), and retained
    * in one diff. Compared at the status-summary level (counts of
    * distinct contents and doc multiplicities per side). */
  private val q64 = Q("q64_corpus_delta",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val old = docs.filter($"doc_id" % 3 =!= 0).select($"doc_id", $"text")
      val neu = docs.filter($"doc_id" % 4 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 5 === 0, concat($"text", lit(" recrawled")))
            .otherwise($"text").as("text"))
      Dedup.corpusDelta(old, neu, "text")
        .groupBy($"status")
        .agg(count(lit(1)).as("n_contents"),
          sum($"n_old").as("docs_old"), sum($"n_new").as("docs_new"))
        .orderBy($"status")
    },
    Some("""WITH old AS (SELECT md5(text) AS h, count(*) AS n_old
           |  FROM documents WHERE doc_id % 3 <> 0 GROUP BY md5(text)),
           |neu AS (SELECT md5(CASE WHEN doc_id % 5 = 0
           |                        THEN text || ' recrawled' ELSE text END) AS h,
           |        count(*) AS n_new
           |  FROM documents WHERE doc_id % 4 <> 0 GROUP BY 1),
           |delta AS (SELECT coalesce(old.h, neu.h) AS h,
           |            coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new,
           |            CASE WHEN old.h IS NULL THEN 'added'
           |                 WHEN neu.h IS NULL THEN 'removed'
           |                 ELSE 'retained' END AS status
           |          FROM old FULL OUTER JOIN neu ON old.h = neu.h)
           |SELECT status, count(*) AS n_contents,
           |       sum(n_old)::BIGINT AS docs_old, sum(n_new)::BIGINT AS docs_new
           |FROM delta GROUP BY status ORDER BY status""".stripMargin))

  /** Quality-gate threshold sweep (L39) over the 4-dp quality scores:
    * per observed 0.05-wide score bucket, docs in the bucket and docs
    * surviving a >= threshold gate (suffix sum). */
  private val q65 = Q("q65_gate_sweep",
    (s, dir) => {
      val scored = TextAnalysis.withQuality(t(s, dir, "documents"), "text")
      TextAnalysis.gateSweep(scored, "quality_score")
    },
    Some("""WITH m AS (SELECT doc_id,
           |  len(regexp_extract_all(text, '\S+')) AS n_tok,
           |  length(text) AS n_chars,
           |  len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
           |  len(regexp_extract_all(text, '[0-9]')) AS n_digit,
           |  len(regexp_extract_all(text, '\S')) AS n_nonws,
           |  len(list_filter(regexp_extract_all(text, '\S+'),
           |      t -> t IN ('the','a','is','and','of'))) AS n_stop
           |  FROM documents),
           |r AS (SELECT doc_id,
           |  CASE WHEN n_tok > 0 THEN round(n_nonws / CAST(n_tok AS DOUBLE), 4) ELSE 0.0 END AS mean_token_len,
           |  CASE WHEN n_chars > 0 THEN round(n_alpha / CAST(n_chars AS DOUBLE), 4) ELSE 0.0 END AS alpha_ratio,
           |  CASE WHEN n_chars > 0 THEN round(n_digit / CAST(n_chars AS DOUBLE), 4) ELSE 0.0 END AS digit_ratio,
           |  CASE WHEN n_tok > 0 THEN round(n_stop / CAST(n_tok AS DOUBLE), 4) ELSE 0.0 END AS stopword_ratio
           |  FROM m),
           |q AS (SELECT round(0.4 * alpha_ratio
           |      + 0.3 * (CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 1.0 ELSE 0.0 END)
           |      + 0.2 * least(stopword_ratio * 5.0, 1.0)
           |      + 0.1 * (1.0 - least(digit_ratio * 10.0, 1.0)), 4) AS score FROM r),
           |b AS (SELECT CAST(floor(round(score / 0.05, 6)) AS INT) AS bucket,
           |             count(*) AS n_bucket
           |      FROM q GROUP BY 1),
           |k AS (SELECT bucket, n_bucket,
           |        sum(n_bucket) OVER (ORDER BY bucket DESC
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_keep
           |      FROM b)
           |SELECT round(bucket * 0.05::DOUBLE, 2) AS threshold, n_bucket,
           |       n_keep::BIGINT AS n_keep
           |FROM k ORDER BY threshold""".stripMargin))

  /** ExactSubstr-style duplicated-span statistics (L40) over the
    * dup-seeded corpus, k = 8 token windows: per affected doc, total
    * windows, removable (non-first duplicated) windows, and the exact
    * token mass covered by removable spans (interval union). The oracle
    * replays the same window hashing (md5 of the space-joined 8-gram)
    * and the same gaps-and-islands merge. */
  private val q66 = Q("q66_span_stats",
    (s, dir) => {
      import s.implicits._
      Dedup.duplicateSpanStats(corpus(s, dir), "id", "text", k = 8)
        .filter($"n_removable" > 0)
        .orderBy($"id")
    },
    Some(s"""WITH $corpusSql,
           |tk AS (SELECT id, regexp_extract_all(text, '\\S+') AS t FROM corpus),
           |w AS (SELECT id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
           |      FROM (SELECT id, t, unnest(generate_series(1, len(t) - 7)) AS i
           |            FROM tk)),
           |d AS (SELECT id, pos,
           |        row_number() OVER (PARTITION BY h ORDER BY id, pos) AS rn,
           |        count(*) OVER (PARTITION BY h) AS n
           |      FROM w),
           |rm AS (SELECT id, pos FROM d WHERE n >= 2 AND rn > 1),
           |isl AS (SELECT id, pos, CASE WHEN pos > coalesce(max(pos + 7) OVER
           |          (PARTITION BY id ORDER BY pos
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           |        THEN 1 ELSE 0 END AS f FROM rm),
           |seg AS (SELECT id, pos, sum(f) OVER (PARTITION BY id ORDER BY pos) AS g
           |        FROM isl),
           |cov AS (SELECT id, sum(e - s + 1)::BIGINT AS dup_tokens FROM
           |          (SELECT id, g, min(pos) AS s, max(pos) + 7 AS e
           |           FROM seg GROUP BY id, g)
           |        GROUP BY id),
           |cnt AS (SELECT id, count(*) AS n_removable FROM rm GROUP BY id),
           |tot AS (SELECT id, len(t) AS n_tok, greatest(len(t) - 7, 0) AS n_windows
           |        FROM tk)
           |SELECT tot.id, n_windows, n_removable, dup_tokens,
           |       round(dup_tokens / CAST(n_tok AS DOUBLE), 4) AS dup_frac
           |FROM tot JOIN cnt USING (id) JOIN cov USING (id)
           |ORDER BY tot.id""".stripMargin))

  /** ExactSubstr-style span REMOVAL (L40's rewrite pass) on the same
    * corpus: every token covered by a removable window is dropped, docs
    * reassembled token-order, space-joined (the q63 compare shape). */
  private val q67 = Q("q67_span_mask",
    (s, dir) => {
      import s.implicits._
      Dedup.maskDuplicateSpans(corpus(s, dir), "id", "text", k = 8)
        .orderBy($"id")
    },
    Some(s"""WITH $corpusSql,
           |tk AS (SELECT id, regexp_extract_all(text, '\\S+') AS t FROM corpus),
           |w AS (SELECT id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
           |      FROM (SELECT id, t, unnest(generate_series(1, len(t) - 7)) AS i
           |            FROM tk)),
           |d AS (SELECT id, pos,
           |        row_number() OVER (PARTITION BY h ORDER BY id, pos) AS rn,
           |        count(*) OVER (PARTITION BY h) AS n
           |      FROM w),
           |rm AS (SELECT id, pos FROM d WHERE n >= 2 AND rn > 1),
           |cp AS (SELECT DISTINCT id, p FROM
           |        (SELECT id, unnest(generate_series(pos, pos + 7)) AS p FROM rm)),
           |toks AS (SELECT id, i - 1 AS p, t[i] AS tok
           |         FROM (SELECT id, t, unnest(generate_series(1, len(t))) AS i
           |               FROM tk)),
           |kept AS (SELECT toks.id, toks.p, toks.tok FROM toks
           |         WHERE NOT EXISTS (SELECT 1 FROM cp
           |                           WHERE cp.id = toks.id AND cp.p = toks.p)),
           |reb AS (SELECT id, string_agg(tok, ' ' ORDER BY p) AS text
           |        FROM kept GROUP BY id)
           |SELECT c.id, coalesce(r.text, '') AS text
           |FROM corpus c LEFT JOIN reb r ON c.id = r.id
           |ORDER BY c.id""".stripMargin))

  /** Bloom-guarded incremental dedup (L41): same contract as q60's plain
    * anti-join — the oracle IS the exact form, proving the bloom routing
    * changes nothing. Different ingest split (history = id % 3 == 0) so
    * the two entries exercise different dup mixes; bloom deliberately
    * undersized (high fpp) to push real traffic down both branches. */
  private val q68 = Q("q68_bloom_incremental_dedup",
    (s, dir) => {
      import s.implicits._
      val c = corpus(s, dir)
      val seen = Dedup.exactGroups(c.filter($"id" % 3 === 0), "id", "text")
        .select($"content_md5")
      val bloom = Dedup.seenBloom(seen, expectedItems = 500L, fpp = 0.05)
      Dedup.bloomGuardedIncrementalDedup(
          c.filter($"id" % 3 =!= 0), "id", "text", seen, bloom)
        .select($"id")
        .orderBy($"id")
    },
    Some(s"""WITH $corpusSql,
           |seen AS (SELECT DISTINCT md5(text) AS h FROM corpus WHERE id % 3 = 0),
           |batch AS (SELECT id, md5(text) AS h FROM corpus WHERE id % 3 <> 0),
           |fresh AS (SELECT b.id, b.h FROM batch b
           |          WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.h = b.h))
           |SELECT min(id) AS id FROM fresh GROUP BY h ORDER BY id""".stripMargin))

  /** Leakage-safe content-keyed split (L42): 80/10/10 by content hash
    * over documents, summarized per (split, source). The oracle replays
    * the md5-uniform (q44's HUGEINT sign idiom) with the EXACT double
    * boundaries the Scala side computes (interpolated, so both engines
    * compare against bit-identical constants). */
  private val splitUppers = graft.sample.Sampling.cumulativeUppers(
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  private val q69 = Q("q69_content_split",
    (s, dir) => {
      import s.implicits._
      graft.sample.Sampling.contentSplit(t(s, dir, "documents"), "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy($"split", $"source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"split", $"source")
    },
    Some(s"""WITH h AS (SELECT source, md5_number_lower(':' || text) AS hu
           |           FROM documents),
           |sgn AS (SELECT source,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h),
           |u AS (SELECT source, hs::DOUBLE / 18446744073709551616 + 0.5 AS u
           |      FROM sgn),
           |a AS (SELECT source, CASE WHEN u < ${splitUppers(0)} THEN 'train'
           |                          WHEN u < ${splitUppers(1)} THEN 'val'
           |                          ELSE 'test' END AS split FROM u)
           |SELECT split, source, count(*) AS n_docs FROM a
           |GROUP BY split, source ORDER BY split, source""".stripMargin))

  /** Unigram-LM log-perplexity scoring (L43, the CCNet-style quality
    * proxy): corpus-fit add-one-smoothed unigram LM, per-doc mean token
    * negative log-likelihood. ln() agreement across engines is ~1-ulp;
    * the 4-dp rounding absorbs it (the q59 precedent). */
  private val q72 = Q("q72_unigram_ppl",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.unigramLogPerplexity(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
           |             FROM documents),
           |dt AS (SELECT doc_id, term, count(*) AS c_dt FROM tok GROUP BY 1, 2),
           |lm AS (SELECT term, sum(c_dt) AS c_t FROM dt GROUP BY term),
           |sc AS (SELECT sum(c_t) AS n_total, count(*) AS v FROM lm)
           |SELECT doc_id, sum(c_dt)::BIGINT AS n_tokens,
           |  round(sum(c_dt * -ln((c_t + 1) / CAST(n_total + v AS DOUBLE)))
           |        / CAST(sum(c_dt) AS DOUBLE), 4) AS logppl
           |FROM dt JOIN lm USING (term), sc
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** SemDeDup semantic dedup (L44) over a near-dup-seeded embedding set
    * (vec_id % 9 == 0 gets a +0.01-per-component copy at vec_id +
    * 100000 — the shipped vectors have no natural near-dups, max
    * within-cell cosine 0.51). Threshold 0.9 keeps every natural pair
    * and drops seeded copies that land in their original's cell —
    * copies quantized into a DIFFERENT cell survive, which is
    * SemDeDup's documented recall trade, and the oracle replays the
    * same cells so the compare pins exactly that semantics. */
  private val q73 = Q("q73_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      val seeded = base.union(base.filter($"vec_id" % 9 === 0)
        .select(($"vec_id" + 100000).as("vec_id"),
          transform($"embedding", x => x + lit(0.01)).as("embedding")))
      Similarity.semanticDedup(seeded, "vec_id", "embedding",
          nLists = 16, threshold = 0.9)
        .select($"id".as("vec_id"), $"cell".cast("long").as("cell"), $"kept")
        .orderBy($"vec_id")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           |           UNION ALL
           |           SELECT vec_id + 100000,
           |                  list_transform(embedding::DOUBLE[], x -> x + 0.01)
           |           FROM embeddings WHERE vec_id % 9 = 0),
           |h AS (SELECT vec_id,
           |    md5_number_lower(':' || vec_id::VARCHAR) AS hu FROM v),
           |sgn AS (SELECT vec_id,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h),
           |seeds AS (SELECT vec_id, e, cell FROM (
           |    SELECT v.vec_id, v.e,
           |      row_number() OVER (ORDER BY hs, vec_id::VARCHAR) - 1 AS cell
           |    FROM sgn JOIN v USING (vec_id)) WHERE cell < 16),
           |asg AS (SELECT vec_id, cell FROM (
           |    SELECT v.vec_id, s.cell, row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY round(list_cosine_similarity(v.e, s.e), 9) DESC, s.cell) AS rn
           |    FROM v CROSS JOIN seeds s) WHERE rn = 1),
           |dropped AS (SELECT DISTINCT b.vec_id FROM asg a
           |            JOIN asg b USING (cell)
           |            JOIN v va ON va.vec_id = a.vec_id
           |            JOIN v vb ON vb.vec_id = b.vec_id
           |            WHERE a.vec_id < b.vec_id
           |              AND round(list_cosine_similarity(va.e, vb.e), 6) >= 0.9)
           |SELECT asg.vec_id, asg.cell,
           |       asg.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
           |FROM asg ORDER BY vec_id""".stripMargin))

  /** Markup strip (L45): documents wrapped in an HTML shell whose script
    * block contains a bare '<' (tag-only stripping would corrupt it),
    * plus comments, entities, and a double-escaped &amp;amp; — the
    * extract-text ingest step. Both engines run the same RE2-safe
    * patterns. */
  private val q74 = Q("q74_markup_strip",
    (s, dir) => {
      import s.implicits._
      val seeded = t(s, dir, "documents").select($"doc_id",
        concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
            "</head><body><!-- boilerplate --><p class=\"main\">"),
          $"text",
          lit("</p><br/>&amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;" +
            "&nbsp;end</body></html>")).as("text"))
      TextAnalysis.stripMarkup(seeded, "text")
        .select($"doc_id", $"text_plain")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  trim(regexp_replace(
           |    replace(replace(replace(replace(replace(replace(
           |      regexp_replace(
           |        regexp_replace(
           |          regexp_replace(
           |            regexp_replace(
           |              '<html><head><style>p{color:red}</style>' ||
           |              '<script type="text/javascript">var x = 1 < 2;</script>' ||
           |              '</head><body><!-- boilerplate --><p class="main">' ||
           |              text ||
           |              '</p><br/>&amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;' ||
           |              '&nbsp;end</body></html>',
           |              '<!--.*?-->', ' ', 'gs'),
           |            '<script\b[^>]*>.*?</script\s*>', ' ', 'gsi'),
           |          '<style\b[^>]*>.*?</style\s*>', ' ', 'gsi'),
           |        '<[^>]*>', ' ', 'g'),
           |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
           |    '\s+', ' ', 'g')) AS text_plain
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** n-gram contamination fraction (L46): benchmark = the first 40
    * tokens of every doc_id % 4 == 0 doc, so contaminated documents
    * show PARTIAL fractions (the shingles inside the truncated prefix)
    * rather than the trivial 1.0 of whole-doc copies — the compare
    * exercises the ratio, not just membership. */
  private val q76 = Q("q76_contamination",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val bench = docs.filter($"doc_id" % 4 === 0)
        .select(array_join(slice(TextAnalysis.tokens($"text"), 1, 40), " ")
          .as("text"))
      graft.dedup.Decontaminate.contaminationFraction(
          docs.select($"doc_id".as("id"), $"text"), "id", "text",
          bench, "text", shingleSize = 8)
        .orderBy($"id")
    },
    Some("""WITH tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t
           |            FROM documents),
           |bt AS (SELECT t[1:40] AS t FROM tk WHERE doc_id % 4 = 0),
           |bsh AS (SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS shingle
           |        FROM (SELECT t, unnest(generate_series(1, len(t) - 7)) AS i
           |              FROM bt)),
           |tsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
           |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
           |              FROM tk)),
           |agg AS (SELECT doc_id, count(*) AS n_shingles,
           |          count(CASE WHEN shingle IN (SELECT shingle FROM bsh)
           |                THEN 1 END) AS n_contaminated
           |        FROM tsh GROUP BY doc_id)
           |SELECT doc_id AS id, n_shingles, n_contaminated,
           |  round(n_contaminated / CAST(n_shingles AS DOUBLE), 4)
           |    AS contamination_frac
           |FROM agg WHERE n_contaminated > 0 ORDER BY id""".stripMargin))

  /** Cross-source duplicate matrix (L47): documents + a "mirror" feed
    * that re-serves every doc_id % 6 == 0 content (plus a web→social
    * partial copy at % 11) — which source pairs share content, counted
    * per distinct content. */
  private val q82 = Q("q82_source_dup_matrix",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"text", $"source")
      val seeded = docs
        .union(t(s, dir, "documents").filter($"doc_id" % 6 === 0)
          .select($"text", lit("mirror").as("source")))
        .union(t(s, dir, "documents")
          .filter($"doc_id" % 11 === 0 && $"source" === "web")
          .select($"text", lit("social").as("source")))
      Dedup.crossSourceDupMatrix(seeded, "text", "source")
        .orderBy($"source_a", $"source_b")
    },
    Some("""WITH seeded AS (
           |  SELECT text, source FROM documents
           |  UNION ALL SELECT text, 'mirror' FROM documents WHERE doc_id % 6 = 0
           |  UNION ALL SELECT text, 'social' FROM documents
           |            WHERE doc_id % 11 = 0 AND source = 'web'),
           |seen AS (SELECT DISTINCT md5(text) AS h, source FROM seeded)
           |SELECT a.source AS source_a, b.source AS source_b,
           |       count(*) AS n_shared
           |FROM seen a JOIN seen b ON a.h = b.h AND a.source < b.source
           |GROUP BY a.source, b.source ORDER BY source_a, source_b""".stripMargin))

  /** Padding-efficiency table (L48): what pad-to-256 batching wastes per
    * power-of-2 doc-length bucket — the measurement that justifies
    * sequence packing (q55). Bucket key floors the 9-dp-rounded log2. */
  private val q83 = Q("q83_padding_efficiency",
    (s, dir) => {
      graft.text.Chunking.paddingEfficiency(
        t(s, dir, "documents"), "text", seqLen = 256)
    },
    Some("""WITH m AS (
           |  SELECT len(regexp_extract_all(text, '\S+'))::BIGINT AS n,
           |         ceil(len(regexp_extract_all(text, '\S+')) / 256.0)::BIGINT
           |           * 256 AS p
           |  FROM documents),
           |b AS (SELECT floor(round(log2(n), 9))::INT AS len_bucket,
           |             count(*) AS n_docs,
           |             sum(n)::BIGINT AS total_tokens,
           |             sum(p)::BIGINT AS padded_slots,
           |             round(1.0 - sum(n) / CAST(sum(p) AS DOUBLE), 4)
           |               AS waste_frac
           |      FROM m WHERE n > 0 GROUP BY 1)
           |SELECT len_bucket, (2 ** len_bucket)::BIGINT AS bucket_lo, n_docs,
           |       total_tokens, padded_slots, waste_frac
           |FROM b ORDER BY len_bucket""".stripMargin))

  /** Temperature (α = 0.5) mixture sampling (L49, the mT5/XLM-R
    * rebalancing rule) over a deliberately skewed stratum (first digit
    * of the source number — 'src1' merges with 'src10'..'src19' into an
    * 11× stratum): small strata get up-sampled acceptance rates, the
    * big one down-sampled. The oracle recomputes n^α weights and the
    * q57 rate/md5 machinery; the tiny cross-engine pow/sum-order ulp on
    * the rate boundary has ~1e-16-per-doc flip probability (the q59 ln
    * precedent). */
  private val q90 = Q("q90_temperature_sample",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .withColumn("stratum", substring($"source", 4, 1))
      graft.sample.Sampling.temperatureSample(docs, "stratum", "doc_id",
          alpha = 0.5, targetRows = 150)
        .select($"stratum", $"doc_id")
        .orderBy($"stratum", $"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, substr(source, 4, 1) AS stratum
           |           FROM documents
           |           -- null strata are outside both the weight
           |           -- budget and the sample (the operator's
           |           -- strataCounts contract; fuzz-15 finding)
           |           WHERE substr(source, 4, 1) IS NOT NULL),
           |cnt AS (SELECT stratum, count(*) AS n FROM d GROUP BY stratum),
           |tw AS (SELECT stratum, n, pow(CAST(n AS DOUBLE), 0.5) AS raw
           |       FROM cnt),
           |tot AS (SELECT sum(raw) AS t FROM tw),
           |rates AS (SELECT stratum,
           |    least(1.0::DOUBLE, 150.0::DOUBLE * (raw / t)
           |      / CAST(n AS DOUBLE)) AS p
           |  FROM tw, tot),
           |h AS (SELECT stratum, doc_id,
           |    md5_number_lower(':' || doc_id::VARCHAR) AS hu FROM d),
           |u AS (SELECT stratum, doc_id,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h)
           |SELECT u.stratum, u.doc_id FROM u JOIN rates r ON u.stratum = r.stratum
           |WHERE hs / 18446744073709551616.0 + 0.5 < r.p
           |ORDER BY u.stratum, u.doc_id""".stripMargin))

  /** Weighted sample without replacement (L50, Efraimidis–Spirakis
    * A-ES): 30 docs per language, inclusion ∝ n_chars — longer docs
    * favored but not guaranteed. The oracle replays the md5 uniform and
    * the 9-dp-rounded, max-normalized ln(u)·w_max/w rank key (max, not
    * mean: independent of partial-agg merge order, so the boundary
    * can't drift with partitioning). */
  private val q91 = Q("q91_weighted_sample",
    (s, dir) => {
      import s.implicits._
      graft.sample.Sampling.weightedSample(t(s, dir, "documents"),
          "lang", "doc_id", "n_chars", n = 30)
        .select($"lang", $"doc_id", $"n_chars")
        .orderBy($"lang", $"doc_id")
    },
    Some("""WITH h AS (SELECT lang, doc_id, n_chars,
           |    md5_number_lower(':' || doc_id::VARCHAR) AS hu FROM documents),
           |u AS (SELECT lang, doc_id, n_chars,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT
           |      / 18446744073709551616.0 + 0.5 AS u
           |  FROM h),
           |wb AS (SELECT max(CAST(n_chars AS DOUBLE)) AS wbar
           |       FROM documents WHERE n_chars > 0),
           |r AS (SELECT lang, doc_id, n_chars,
           |        row_number() OVER (PARTITION BY lang
           |          ORDER BY round(ln(u) * wbar / CAST(n_chars AS DOUBLE), 9) DESC,
           |                   doc_id) AS rn
           |      FROM u, wb WHERE n_chars > 0)
           |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 30
           |ORDER BY lang, doc_id""".stripMargin))

  /** Full dedup CLUSTERING (L51, round 7): MinHash-LSH verified pairs
    * -> connected components -> per-doc cluster label, size, min-id
    * representative — the end-to-end keep-list a dedup pass ships. The
    * oracle replays q33's banded pair pipeline, closes it with a
    * recursive CTE, and derives the same min-id labels, so the compare
    * pins banding + verification + component labeling together. */
  private val q93 = Q("q93_minhash_clusters",
    (s, dir) => {
      import s.implicits._
      Dedup.minhashClusters(corpus(s, dir), "id", "text")
        .orderBy($"id")
    },
    Some(s"""WITH RECURSIVE $corpusSql,
            |toks AS (SELECT id, regexp_extract_all(text, '\\S+') AS tk FROM corpus),
            |sh AS (SELECT DISTINCT id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
            |       FROM (SELECT id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks)),
            |idx AS (SELECT unnest(generate_series(0, 15)) AS i),
            |th0 AS (SELECT id, i, md5_number_lower(CAST(i AS VARCHAR) || ':' || shingle) AS hu
            |        FROM sh, idx),
            |th AS (SELECT id, i, (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
            |         THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS h FROM th0),
            |sigs AS (SELECT id, i, min(h) AS sig FROM th GROUP BY id, i),
            |bk AS (SELECT id, i // 4 AS band, string_agg(sig::VARCHAR, ',' ORDER BY i) AS key
            |       FROM sigs GROUP BY id, i // 4),
            |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
            |         FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key AND x.id < y.id),
            |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
            |common AS (SELECT id_a, id_b, count(*) AS n_common
            |           FROM cand JOIN sh a ON a.id = id_a
            |                     JOIN sh b ON b.id = id_b AND b.shingle = a.shingle
            |           GROUP BY id_a, id_b),
            |pr AS (SELECT id_a, id_b
            |       FROM common JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
            |       WHERE round(n_common / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 4) >= 0.5),
            |edges AS (SELECT id_a AS u, id_b AS v FROM pr
            |          UNION ALL SELECT id_b, id_a FROM pr),
            |reach AS (SELECT id, id AS r FROM corpus
            |          UNION
            |          SELECT t.id, e.v FROM reach t JOIN edges e ON e.u = t.r),
            |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
            |sz AS (SELECT cluster, count(*)::BIGINT AS cluster_size
            |       FROM lab GROUP BY cluster)
            |SELECT lab.id, lab.cluster, sz.cluster_size,
            |       (lab.id = lab.cluster) AS is_representative
            |FROM lab JOIN sz USING (cluster)
            |ORDER BY lab.id""".stripMargin))

  /** CCNet-style perplexity bucketing (L52, round 7): q72's unigram LM
    * scores cut at the global 1/3 / 2/3 quantiles into head/middle/tail,
    * reported per source — the standard three-way fluency split for
    * weighting training data. Both engines bucket the 4-dp-rounded
    * scores against linear-interpolated quantiles of those same rounded
    * values, so boundary labels cannot flip on float noise. */
  private val q94 = Q("q94_ppl_buckets",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      graft.text.CorpusStats.perplexityBuckets(docs, "doc_id", "text")
        .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
        .groupBy($"source", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          // snap the sum to EXACT integer ten-thousandths, divide, and
          // emit the raw quotient with NO final round: sums of 4-dp
          // scores divided by counts like 10 land on apparent .xxxx5
          // midpoints where the engines' round implementations split
          // (DuckDB's x·1e4 multiply can hit the tie exactly while
          // BigDecimal sees the sub-midpoint binary value — fuzz-31);
          // the integer-snap + division is the same double on both
          round(sum($"logppl") * 10000).cast("long").cast("double")
            ./(count(lit(1)))./(lit(10000)).as("avg_logppl"))
        .orderBy($"source", $"bucket")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
           |             FROM documents),
           |dt AS (SELECT doc_id, term, count(*) AS c_dt FROM tok GROUP BY 1, 2),
           |lm AS (SELECT term, sum(c_dt) AS c_t FROM dt GROUP BY term),
           |sc AS (SELECT sum(c_t) AS n_total, count(*) AS v FROM lm),
           |ppl AS (SELECT doc_id,
           |    round(sum(c_dt * -ln((c_t + 1) / CAST(n_total + v AS DOUBLE)))
           |          / CAST(sum(c_dt) AS DOUBLE), 4) AS logppl
           |  FROM dt JOIN lm USING (term), sc GROUP BY doc_id),
           |cuts AS (SELECT
           |           round(quantile_cont(logppl,
           |             CAST(1 AS DOUBLE) / 3), 4) AS clo,
           |           round(quantile_cont(logppl,
           |             CAST(2 AS DOUBLE) / 3), 4) AS chi
           |         FROM ppl),
           |lab AS (SELECT doc_id, logppl,
           |    CASE WHEN logppl <= clo THEN 'head'
           |         WHEN logppl <= chi THEN 'middle'
           |         ELSE 'tail' END AS bucket
           |  FROM ppl, cuts)
           |SELECT source, bucket, count(*) AS n_docs,
           |       round(sum(logppl) * 10000)::BIGINT::DOUBLE
           |         / count(*) / 10000 AS avg_logppl
           |FROM lab JOIN documents USING (doc_id)
           |GROUP BY source, bucket ORDER BY source, bucket""".stripMargin))

  /** Top-PMI within-document co-occurrence pairs (L53, round 7): which
    * terms share documents far more than chance — presence counts, a
    * doc-frequency band bounding the pair join, 4-dp-rounded PMI with a
    * lexicographic tie-break so the top-k cut is engine-independent. */
  private val q96 = Q("q96_pmi_pairs",
    (s, dir) => {
      graft.text.CorpusStats.pmiPairs(t(s, dir, "documents"),
        "doc_id", "text", minTermDocs = 10, maxTermDocs = 400,
        minPairDocs = 5, k = 50)
    },
    Some("""WITH dt AS (SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
           |            FROM documents),
           |tc AS (SELECT term, count(*) AS c FROM dt GROUP BY term
           |       HAVING count(*) >= 10 AND count(*) <= 400),
           |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
           |kept AS (SELECT doc_id, dt.term, c FROM dt JOIN tc USING (term)),
           |pr AS (SELECT a.term AS term_a, b.term AS term_b,
           |         count(*) AS n, max(a.c) AS ca, max(b.c) AS cb
           |       FROM kept a JOIN kept b
           |         ON a.doc_id = b.doc_id AND a.term < b.term
           |       GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT term_a, term_b, n::BIGINT AS n_pair_docs,
           |  round(ln(CAST(n AS DOUBLE) * nd.n_docs / CAST(ca * cb AS DOUBLE)), 4) AS pmi
           |FROM pr, nd
           |ORDER BY pmi DESC, term_a, term_b LIMIT 50""".stripMargin))

  /** Deterministic shard assignment report (L54, round 7): md5-mod-8
    * sharding of the documents table with per-shard doc/char totals —
    * the write-side routing every training pipeline runs, oracled
    * through the same md5 recurrence as the sampling family. */
  private val q97 = Q("q97_shard_stats",
    (s, dir) => {
      import s.implicits._
      graft.sample.Sampling.hashShard(t(s, dir, "documents"), "doc_id", 8)
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .orderBy($"shard")
    },
    Some("""WITH h AS (SELECT doc_id, n_chars,
           |    md5_number_lower(':' || doc_id::VARCHAR) AS hu FROM documents),
           |sgn AS (SELECT doc_id, n_chars,
           |    (hu::HUGEINT - CASE WHEN hu >= 9223372036854775808::HUGEINT
           |       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS hs
           |  FROM h)
           |SELECT ((hs % 8) + 8) % 8 AS shard, count(*) AS n_docs,
           |  sum(n_chars)::BIGINT AS total_chars,
           |  min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM sgn GROUP BY 1 ORDER BY shard""".stripMargin))

  /** Sorted-neighborhood near-dup pairs
    * ([[Dedup.sortedNeighborhoodPairs]]): the classic SNM blocking
    * alternative to LSH — sort by normalized text inside 2-char prefix
    * blocks, compare each row to its next 3 neighbors only (lead()
    * windows, no self-join), verify with exact unigram Jaccard. The
    * oracle restates the same windowed contract via a rank-band join:
    * blocking recall is the operator's declared trade, and the compare
    * proves the lead() pairing visits exactly the declared pairs. */
  private val q108 = Q("q108_sorted_neighborhood",
    (s, dir) => {
      import s.implicits._
      Dedup.sortedNeighborhoodPairs(corpus(s, dir), "id", "text",
          windowSize = 3, minJaccard = 0.4, blockLen = 2)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH $corpusSql,
            |b AS (SELECT id, list_distinct(regexp_extract_all(text, '\\S+')) AS toks,
            |        lower(trim(text)) AS key,
            |        substring(lower(trim(text)), 1, 2) AS blk FROM corpus),
            |r AS (SELECT *, row_number() OVER (PARTITION BY blk ORDER BY key, id) AS rn FROM b),
            |sh AS (SELECT blk, rn - k AS rn0, id, toks
            |       FROM r CROSS JOIN (VALUES (1), (2), (3)) t(k)),
            |p AS (SELECT x.id AS xa, y.id AS xb, x.toks AS ta, y.toks AS tb
            |      FROM r x JOIN sh y ON y.blk = x.blk AND y.rn0 = x.rn),
            |j AS (SELECT least(xa, xb) AS id_a, greatest(xa, xb) AS id_b,
            |        round(len(list_intersect(ta, tb)) /
            |          CAST(len(ta) + len(tb) - len(list_intersect(ta, tb)) AS DOUBLE), 4) AS jaccard
            |      FROM p
            |      WHERE len(ta) + len(tb) - len(list_intersect(ta, tb)) > 0)
            |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4
            |ORDER BY id_a, id_b""".stripMargin))

  /** Exact phrase search (L56, [[graft.text.PhraseSearch]]): positional
    * postings intersection, rarity-ordered. The oracle is the substring
    * scan (`LIKE` with space padding) — a formulation that shares NO
    * machinery with the postings join, so the compare proves the index
    * semantics, not the implementation. */
  private val q128 = Q("q128_phrase_search",
    (s, dir) => {
      import s.implicits._
      graft.text.PhraseSearch.containing(
          t(s, dir, "documents"), "doc_id", "text",
          phrase = Seq("table", "hash"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id FROM documents
           |WHERE ' ' || text || ' ' LIKE '% table hash %'
           |ORDER BY doc_id""".stripMargin))

  /** Golden-record survivorship (L57, [[graft.dedup.Survivorship]]):
    * the full entity-resolution composition — sorted-neighborhood
    * blocking → connected components → (len DESC, id ASC) election —
    * over the dup-seeded corpus. The oracle replays the blocking
    * declaratively (q108's form), closes clusters with a recursive
    * reachability CTE (the q32 pattern), and elects with a window —
    * three independent formulations of the three stages. */
  private val q129 = Q("q129_golden_records",
    (s, dir) => {
      import s.implicits._
      Survivorship.goldenRecords(corpus(s, dir), "id", "text",
          windowSize = 3, minJaccard = 0.4, blockLen = 2)
        .orderBy($"cluster")
    },
    Some(s"""WITH RECURSIVE $corpusSql,
            |b AS (SELECT id, text,
            |        list_distinct(regexp_extract_all(text, '\\S+')) AS toks,
            |        lower(trim(text)) AS key,
            |        substring(lower(trim(text)), 1, 2) AS blk FROM corpus),
            |r AS (SELECT *, row_number() OVER (PARTITION BY blk ORDER BY key, id) AS rn FROM b),
            |sh AS (SELECT blk, rn - k AS rn0, id, toks
            |       FROM r CROSS JOIN (VALUES (1), (2), (3)) t(k)),
            |p AS (SELECT x.id AS xa, y.id AS xb, x.toks AS ta, y.toks AS tb
            |      FROM r x JOIN sh y ON y.blk = x.blk AND y.rn0 = x.rn),
            |j AS (SELECT least(xa, xb) AS id_a, greatest(xa, xb) AS id_b
            |      FROM p
            |      WHERE len(ta) + len(tb) - len(list_intersect(ta, tb)) > 0
            |        AND round(len(list_intersect(ta, tb)) /
            |          CAST(len(ta) + len(tb) - len(list_intersect(ta, tb)) AS DOUBLE), 4) >= 0.4),
            |edges AS (SELECT id_a AS u, id_b AS v FROM j
            |          UNION ALL SELECT id_b, id_a FROM j),
            |reach AS (SELECT id, id AS rt FROM corpus
            |          UNION
            |          SELECT t.id, e.v FROM reach t JOIN edges e ON e.u = t.rt),
            |comp AS (SELECT id, min(rt) AS cluster FROM reach GROUP BY id),
            |lab AS (SELECT c.cluster, b2.id, length(b2.text) AS len
            |        FROM comp c JOIN corpus b2 ON b2.id = c.id),
            |rk AS (SELECT cluster, id,
            |         row_number() OVER (PARTITION BY cluster
            |           ORDER BY len DESC, id ASC) AS rn,
            |         count(*) OVER (PARTITION BY cluster) AS nm
            |       FROM lab)
            |SELECT cluster, id AS golden_id, nm::BIGINT AS n_members
            |FROM rk WHERE rn = 1 ORDER BY cluster""".stripMargin))

  /** Multinomial Naive Bayes (L58, [[graft.ml.NaiveBayes]]): fit on
    * even doc_ids, score odd — Laplace-smoothed token likelihoods +
    * class priors, argmax with lexicographic tie-break. Min top-2
    * margin on this data is 4e-3, three orders above cross-engine ln
    * noise, so the argmax is engine-stable. */
  private val q130 = Q("q130_naive_bayes",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      graft.ml.NaiveBayes.trainScore(
          docs.filter($"doc_id" % 2 === 0),
          docs.filter($"doc_id" % 2 === 1),
          "doc_id", "text", "lang")
        .orderBy($"doc_id")
    },
    Some("""WITH tr AS (SELECT lang, text FROM documents WHERE doc_id % 2 = 0),
           |te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
           |cls AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1),
           |prior AS (SELECT lang,
           |    ln(nd * 1.0 / (SELECT sum(nd) FROM cls)) AS lp FROM cls),
           |ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS term
           |         FROM tr),
           |tc AS (SELECT lang, term, count(*) AS n FROM ttok GROUP BY 1, 2),
           |tot AS (SELECT lang, sum(n) AS nt FROM tc GROUP BY 1),
           |v AS (SELECT count(DISTINCT term) AS vs FROM ttok),
           |stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |         FROM te),
           |sc AS (SELECT s.doc_id, c.lang,
           |         sum(ln((coalesce(tc.n, 0) + 1.0) / (tot.nt + v.vs)))
           |           + any_value(p.lp) AS score
           |       FROM stok s CROSS JOIN cls c
           |       LEFT JOIN tc ON tc.lang = c.lang AND tc.term = s.term
           |       JOIN tot ON tot.lang = c.lang, v
           |       JOIN prior p ON p.lang = c.lang
           |       GROUP BY 1, 2),
           |rk AS (SELECT doc_id, lang, score,
           |         row_number() OVER (PARTITION BY doc_id
           |           ORDER BY score DESC, lang) AS rn
           |       FROM sc)
           |SELECT doc_id, lang AS pred, round(score, 4) AS score
           |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Deterministic Lloyd's k-means (L59, [[graft.ml.KMeans]]) on the
    * embeddings table: k=8, 3 (assign, update) rounds from the
    * lowest-id seed, then final-assignment stats. The oracle UNROLLS
    * the three iterations as chained CTEs (assign via windowed argmin
    * over `list_distance`, update via subscript-unnested per-dimension
    * means) — aggregation is illegal inside a recursive CTE, so the
    * unroll is also the only honest SQL statement of the algorithm.
    * Cross-engine determinism comes from the module's 9-dp distance /
    * 6-dp centroid rounding contract. */
  private val q133 = Q("q133_kmeans",
    (s, dir) => {
      graft.ml.KMeans.lloydStats(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 3)
    },
    Some {
      def assign(cin: String, aout: String) =
        s"""$aout AS (SELECT vec_id, cell, d FROM (
           |    SELECT v.vec_id, c.cell, round(list_distance(v.e, c.e), 9) AS d,
           |      row_number() OVER (PARTITION BY v.vec_id
           |        ORDER BY round(list_distance(v.e, c.e), 9), c.cell) AS rn
           |    FROM v CROSS JOIN $cin c) WHERE rn = 1)""".stripMargin
      def update(ain: String, cprev: String, cout: String) =
        s"""m_$cout AS (SELECT cell, j, round(avg(x), 6) AS x FROM (
           |    SELECT a.cell, generate_subscripts(v.e, 1) AS j, unnest(v.e) AS x
           |    FROM $ain a JOIN v USING (vec_id)) GROUP BY 1, 2),
           |n_$cout AS (SELECT cell, list(x ORDER BY j) AS e FROM m_$cout
           |            GROUP BY cell),
           |$cout AS (SELECT p.cell, coalesce(n.e, p.e) AS e
           |          FROM $cprev p LEFT JOIN n_$cout n USING (cell))""".stripMargin
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
         |       FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
         |${assign("c0", "a1")},
         |${update("a1", "c0", "c1")},
         |${assign("c1", "a2")},
         |${update("a2", "c1", "c2")},
         |${assign("c2", "a3")},
         |${update("a3", "c2", "c3")},
         |${assign("c3", "af")}
         |SELECT cell, count(*)::BIGINT AS n_members,
         |  round(sum(d * d), 2) AS inertia
         |FROM af GROUP BY cell ORDER BY cell""".stripMargin
    })

  /** First principal component (L60, [[graft.ml.Pca]]): covariance as
    * a distributed pair-exploded aggregate (6-dp-rounded cells so both
    * engines eigensolve the IDENTICAL matrix), then a driver power
    * iteration — dim²-bounded at any corpus size, so no dispatch
    * threshold exists to tune. Sign fixed by the largest-|loading|
    * dimension; the oracle replays the same relational covariance and
    * a recursive-CTE power iteration in the same index order. */
  private val q137 = Q("q137_pca",
    (s, dir) =>
      graft.ml.Pca.topComponent(t(s, dir, "embeddings"),
        "vec_id", "embedding", iters = 30)
        .orderBy(col("j")),
    Some("""WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS e
           |                     FROM embeddings),
           |nn AS (SELECT count(*)::BIGINT AS n FROM v),
           |tok AS (SELECT vec_id, generate_subscripts(e, 1) - 1 AS j,
           |          unnest(e) AS x FROM v),
           |mu AS (SELECT j, sum(x) AS s FROM tok GROUP BY j),
           |dimc AS (SELECT count(*)::INT AS d FROM mu),
           |pr AS (SELECT a.j AS j, b.j AS k, sum(a.x * b.x) AS sxx
           |       FROM tok a JOIN tok b ON a.vec_id = b.vec_id AND a.j <= b.j
           |       GROUP BY 1, 2),
           |cells AS (SELECT pr.j, pr.k,
           |    round((pr.sxx - nn.n * (ma.s / nn.n) * (mb.s / nn.n))
           |      / (nn.n - 1), 6) AS c
           |  FROM pr JOIN mu ma ON ma.j = pr.j JOIN mu mb ON mb.j = pr.k, nn),
           |sym AS (SELECT j, k, c FROM cells UNION ALL
           |        SELECT k, j, c FROM cells WHERE j <> k),
           |cm AS (SELECT list(rw ORDER BY j) AS m FROM (
           |    SELECT j, list(c ORDER BY k) AS rw FROM sym GROUP BY j)),
           |it AS (
           |  SELECT 0 AS iter,
           |         list_transform(range(1, d + 1),
           |           i -> 1.0 / sqrt(d::DOUBLE)) AS x
           |  FROM dimc
           |  UNION ALL
           |  SELECT iter + 1, xn FROM (
           |    SELECT it.iter, t3.xn FROM it, cm, dimc,
           |    LATERAL (SELECT list_transform(range(1, dimc.d + 1), i ->
           |        list_reduce(list_transform(range(1, dimc.d + 1),
           |          k -> cm.m[i][k] * it.x[k]), (acc, z) -> acc + z)) AS y) t1,
           |    LATERAL (SELECT sqrt(list_reduce(list_transform(t1.y,
           |        z -> z * z), (acc, z) -> acc + z)) AS nrm0) t15,
           |    LATERAL (SELECT CASE WHEN t15.nrm0 = 0.0 THEN 1.0
           |        ELSE t15.nrm0 END AS nrm) t2,
           |    LATERAL (SELECT list_transform(t1.y, z -> z / t2.nrm) AS xn) t3
           |    WHERE it.iter < 30) q),
           |fin AS (SELECT x FROM it ORDER BY iter DESC LIMIT 1),
           |anch AS (SELECT min((-abs(x[i]), i)) AS a FROM fin,
           |         LATERAL (SELECT unnest(range(1, len(x) + 1)) AS i) g),
           |sgn AS (SELECT CASE WHEN fin.x[anch.a[2]] < 0 THEN -1.0
           |          ELSE 1.0 END AS s FROM fin, anch),
           |mv AS (SELECT list_transform(range(1, d + 1), i ->
           |         list_reduce(list_transform(range(1, d + 1),
           |           k -> cm.m[i][k] * fin.x[k]), (acc, z) -> acc + z)) AS y
           |       FROM fin, cm, dimc),
           |eig AS (SELECT round(list_reduce(
           |          list_transform(range(1, len(fin.x) + 1),
           |            i -> fin.x[i] * mv.y[i]), (acc, z) -> acc + z), 4) AS ev
           |        FROM fin, mv)
           |SELECT CAST(g.i - 1 AS BIGINT) AS j,
           |  round(sgn.s * fin.x[g.i], 6) + 0.0 AS loading,
           |  eig.ev AS eigenvalue
           |FROM fin, sgn, eig,
           |  LATERAL (SELECT unnest(range(1, len(fin.x) + 1)) AS i) g
           |ORDER BY j""".stripMargin))

  /** Pairwise source-vocabulary cosine
    * ([[graft.text.CorpusStats.strataSimilarityMatrix]]): term counts
    * are integers, so dot products and norms are exact in double —
    * the 4-dp cosine is engine-noise-free by construction. */
  private val q121 = Q("q121_source_similarity",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.strataSimilarityMatrix(
          t(s, dir, "documents"), "source", "text")
        .orderBy($"s_a", $"s_b")
    },
    Some("""WITH tok AS (SELECT source AS stratum,
           |    unnest(regexp_extract_all(text, '\S+')) AS term
           |  FROM documents),
           |tf AS (SELECT stratum, term, CAST(count(*) AS DOUBLE) AS n
           |       FROM tok GROUP BY 1, 2),
           |nm AS (SELECT stratum, sqrt(sum(n * n)) AS norm FROM tf GROUP BY 1),
           |d AS (SELECT x.stratum AS s_a, y.stratum AS s_b, sum(x.n * y.n) AS dot
           |      FROM tf x JOIN tf y ON x.term = y.term AND x.stratum < y.stratum
           |      GROUP BY 1, 2)
           |SELECT s_a, s_b, round(dot / (na.norm * nb.norm), 4) AS cosine
           |FROM d JOIN nm na ON na.stratum = s_a
           |       JOIN nm nb ON nb.stratum = s_b
           |ORDER BY s_a, s_b""".stripMargin))

  /** Per-source token Shannon entropy
    * ([[graft.text.CorpusStats.tokenEntropy]]): H = ln N − Σ n·ln n / N
    * over the (stratum, term) counts — no per-term probability join. */
  private val q122 = Q("q122_entropy",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.tokenEntropy(
          t(s, dir, "documents"), "source", "text")
        .orderBy($"stratum")
    },
    Some("""WITH tok AS (SELECT source AS stratum,
           |    unnest(regexp_extract_all(text, '\S+')) AS term
           |  FROM documents),
           |c AS (SELECT stratum, term, count(*) AS n FROM tok GROUP BY 1, 2)
           |SELECT stratum, count(*) AS n_types, sum(n)::BIGINT AS n_tokens,
           |  round(ln(CAST(sum(n) AS DOUBLE)) -
           |    sum(n * ln(CAST(n AS DOUBLE))) / CAST(sum(n) AS DOUBLE), 4) AS entropy
           |FROM c GROUP BY stratum ORDER BY stratum""".stripMargin))

  val all: Seq[Q] = Seq(q20, q21, q22, q23, q24, q25, q26, q27, q28,
    q29, q30, q31, q32, q33, q37, q41, q42, q43, q44, q45, q46, q47,
    q48, q49, q51, q54, q55, q56, q57, q58, q59, q60, q62, q63, q64, q65,
    q66, q67, q68, q69, q72, q73, q74, q76, q82, q83, q90, q91,
    q93, q94, q96, q97, q108, q121, q122, q128, q129, q130, q133, q137)
}
