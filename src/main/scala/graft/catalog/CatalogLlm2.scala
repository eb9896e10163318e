package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-7 batch Y (X154+):
  * seeded differentially-private release, training-mix token
  * budgeting, and curriculum phase assembly.
  */
object CatalogLlm2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X154: ε-DP count release ([[graft.privacy.Privacy.dpCounts]],
    * ε = 0.5) of customers per segment — exact Laplace-mechanism math
    * over an md5-seeded uniform both engines replay bit-identically. */
  private val q263 = Q("q263_dp_counts",
    (s, dir) => {
      import s.implicits._
      graft.privacy.Privacy.dpCounts(t(s, dir, "customer"),
          "c_mktsegment", epsilon = 0.5, seedSalt = "release1")
        .orderBy($"c_mktsegment")
    },
    Some("""WITH g AS (
           |  SELECT c_mktsegment, count(*)::BIGINT AS true_count
           |  FROM customer GROUP BY 1),
           |u AS (
           |  SELECT c_mktsegment, true_count,
           |    (md5_number_lower('release1:' || c_mktsegment)
           |       & 140737488355327)::DOUBLE / 140737488355327.0 - 0.5
           |      AS uu
           |  FROM g),
           |n AS (
           |  SELECT c_mktsegment, true_count,
           |    -(1.0 / 0.5) * sign(uu)
           |      * ln(greatest(1.0 - 2.0 * abs(uu), 1e-12)) AS noise
           |  FROM u)
           |SELECT c_mktsegment, true_count, round(noise, 4) AS noise,
           |  round(true_count + noise, 4) AS released,
           |  0.5::DOUBLE AS epsilon
           |FROM n ORDER BY c_mktsegment""".stripMargin))

  /** X155: training-mix token budgeting — per source: available
    * tokens, target share, implied epochs (> 1 = oversample), and the
    * post-mix effective share. Total budget = 1.2× the corpus so some
    * sources must repeat — the real mixture-planning arithmetic behind
    * q57's sampler. */
  private val q264 = Q("q264_mix_budget",
    (s, dir) => {
      import s.implicits._
      import graft.text.TextAnalysis.tokenCount
      // target weight per source derived from its id (srcN → (N+1)/210
      // over the 20 sources — Σ = 1), so the plan needs no side table
      // sources whose id suffix doesn't parse (fuzz-18: '' / 'Z')
      // are outside the mix — a budget needs a weight, and DuckDB's
      // INT cast errors where Spark's nulls, so the guard is explicit
      // on both sides (ANSI-safe here too)
      val avail = t(s, dir, "documents")
        .filter(substring($"source", 4, 10).rlike("^[0-9]+$"))
        .groupBy($"source")
        .agg(sum(tokenCount($"text")).as("avail_tokens"))
        .withColumn("weight",
          round((substring($"source", 4, 10).cast("int") + 1) / 210.0, 6))
      val tot = avail.agg(sum($"avail_tokens").as("__tot"))
      avail.crossJoin(broadcast(tot))
        .select($"source", $"avail_tokens", $"weight",
          round($"weight" * $"__tot" * 1.2, 2).as("target_tokens"),
          round($"weight" * $"__tot" * 1.2 / $"avail_tokens", 4)
            .as("epochs"),
          ($"weight" * $"__tot" * 1.2 > $"avail_tokens").as("oversampled"))
        .orderBy($"source")
    },
    Some("""WITH avail AS (
           |  SELECT source,
           |    sum(len(regexp_extract_all(text, '\S+')))::BIGINT
           |      AS avail_tokens,
           |    round((substr(source, 4)::INT + 1) / 210.0, 6) AS weight
           |  FROM documents
           |  WHERE try_cast(substr(source, 4) AS INT) IS NOT NULL
           |  GROUP BY 1),
           |tot AS (SELECT sum(avail_tokens)::DOUBLE AS tt FROM avail)
           |SELECT source, avail_tokens, weight,
           |  round(weight * tt * 1.2, 2) AS target_tokens,
           |  round(weight * tt * 1.2 / avail_tokens, 4) AS epochs,
           |  weight * tt * 1.2 > avail_tokens AS oversampled
           |FROM avail, tot ORDER BY source""".stripMargin))

  /** X156: curriculum phase assembly — documents ranked by the q22
    * quality score (asc: train on cleanest last or first is the
    * caller's policy; ranking ties broken by doc_id) and cut into four
    * floor-arithmetic phases; per-phase doc/token/quality profile. */
  private val q265 = Q("q265_curriculum",
    (s, dir) => graft.util.Pin.scope { pin =>
      import s.implicits._
      val scored = pin(graft.text.TextAnalysis
        .withQuality(t(s, dir, "documents"), "text")
        .select($"doc_id", $"n_tokens", $"quality_score"))
      // document-grain global rank: one eager count probe routes it
      // through the size-dispatched Ranks form (no single-partition
      // sort over the corpus at scale); the whole-frame count window
      // collapses to a literal
      val n = scored.count()
      graft.util.Ranks.globalRowNumber(scored,
          Seq($"quality_score".asc, $"doc_id".asc), "rn", n)
        .withColumn("phase",
          (floor(($"rn" - 1) * 4.0 / lit(n)) + 1).cast("long"))
        .groupBy($"phase")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("total_tokens"),
          round(avg($"quality_score"), 4).as("avg_quality"),
          round(min($"quality_score"), 4).as("min_quality"),
          round(max($"quality_score"), 4).as("max_quality"))
        .orderBy($"phase")
        // 4-row result: materialized before scored's pin is released
        .localCheckpoint()
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
           |r AS (SELECT doc_id, n_tok::BIGINT AS n_tokens,
           |  CASE WHEN n_tok > 0
           |    THEN round(n_nonws / CAST(n_tok AS DOUBLE), 4)
           |    ELSE 0.0 END AS mtl,
           |  CASE WHEN n_chars > 0
           |    THEN round(n_alpha / CAST(n_chars AS DOUBLE), 4)
           |    ELSE 0.0 END AS ar,
           |  CASE WHEN n_chars > 0
           |    THEN round(n_digit / CAST(n_chars AS DOUBLE), 4)
           |    ELSE 0.0 END AS dr,
           |  CASE WHEN n_tok > 0
           |    THEN round(n_stop / CAST(n_tok AS DOUBLE), 4)
           |    ELSE 0.0 END AS sr
           |  FROM m),
           |q AS (SELECT doc_id, n_tokens,
           |  round(0.4 * ar
           |    + 0.3 * (CASE WHEN mtl >= 2.0 AND mtl <= 12.0
           |             THEN 1.0 ELSE 0.0 END)
           |    + 0.2 * least(sr * 5.0, 1.0)
           |    + 0.1 * (1.0 - least(dr * 10.0, 1.0)), 4) AS qs
           |  FROM r),
           |rk AS (SELECT doc_id, n_tokens, qs,
           |    row_number() OVER (ORDER BY qs, doc_id) AS rn,
           |    count(*) OVER () AS nn
           |  FROM q),
           |p AS (SELECT (floor((rn - 1) * 4.0 / nn) + 1)::BIGINT AS phase,
           |        n_tokens, qs
           |      FROM rk)
           |SELECT phase, count(*)::BIGINT AS n_docs,
           |  sum(n_tokens)::BIGINT AS total_tokens,
           |  round(avg(qs), 4) AS avg_quality,
           |  round(min(qs), 4) AS min_quality,
           |  round(max(qs), 4) AS max_quality
           |FROM p GROUP BY phase ORDER BY phase""".stripMargin))

  val all: Seq[Q] = Seq(q263, q264, q265)
}
