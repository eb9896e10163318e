package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-7 batch G (X74+): seasonal
  * smoothing, robust order statistics, experiment z-tests, fuzzy string
  * distance, corpus divergence, overlap audits. Conventions follow
  * Catalog.scala.
  */
object CatalogEcon2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X74: Holt–Winters additive seasonal smoothing of each event
    * type's HOURLY count series, season m = 24
    * ([[graft.events.Ewma.holtWinters]]). The oracle replays the
    * identical (l, b, s[24]) recurrence as a recursive CTE whose state
    * row carries the seasonal window as a LIST column rotated per step
    * — the q163 replay technique extended with list state. The seed
    * mean is a sum of integer counts (exact in double at any order),
    * so both engines iterate identical arithmetic from step one. */
  private val q173 = Q("q173_holt_winters",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("c"))
      graft.events.Ewma.holtWinters(series, "event_type", "h", "c",
        m = 24, alpha = 0.3, beta = 0.1, gamma = 0.2)
        .orderBy($"event_type")
    },
    Some("""WITH RECURSIVE s AS (
           |  SELECT event_type, date_trunc('hour', ts) AS h,
           |         count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |r AS (
           |  SELECT event_type, c,
           |         row_number() OVER (PARTITION BY event_type
           |                            ORDER BY h) AS rn
           |  FROM s),
           |seed AS (
           |  SELECT event_type, sum(c)::DOUBLE / 24 AS l0
           |  FROM r WHERE rn <= 24 GROUP BY 1),
           |s0 AS (
           |  SELECT r.event_type,
           |         list(r.c::DOUBLE - seed.l0 ORDER BY r.rn) AS sl,
           |         seed.l0
           |  FROM r JOIN seed
           |    ON r.event_type IS NOT DISTINCT FROM seed.event_type
           |  WHERE rn <= 24 GROUP BY r.event_type, seed.l0),
           |it AS (
           |  SELECT s0.event_type, 24 AS rn, s0.l0 AS lv,
           |         0.0::DOUBLE AS bv, s0.sl AS sl
           |  FROM s0
           |  UNION ALL
           |  SELECT it.event_type, r.rn, t1.ln2_, t2.bn,
           |         list_append(it.sl[2:], t2.sn)
           |  FROM it
           |  JOIN r ON r.event_type IS NOT DISTINCT FROM it.event_type
           |        AND r.rn = it.rn + 1,
           |  LATERAL (SELECT
           |      0.3::DOUBLE * (r.c - it.sl[1]) +
           |      (1.0::DOUBLE - 0.3::DOUBLE) * (it.lv + it.bv) AS ln2_)
           |    t1,
           |  LATERAL (SELECT
           |      0.1::DOUBLE * (t1.ln2_ - it.lv) +
           |      (1.0::DOUBLE - 0.1::DOUBLE) * it.bv AS bn,
           |      0.2::DOUBLE * (r.c - t1.ln2_) +
           |      (1.0::DOUBLE - 0.2::DOUBLE) * it.sl[1] AS sn) t2),
           |f AS (SELECT event_type, max(rn) AS n FROM it GROUP BY 1)
           |SELECT it.event_type, f.n::BIGINT AS n,
           |  round(it.lv, 6) AS level, round(it.bv, 6) AS trend,
           |  round(it.sl[1], 6) AS season_next,
           |  round(it.lv + it.bv + it.sl[1], 6) AS forecast_next
           |FROM it JOIN f
           |  ON f.event_type IS NOT DISTINCT FROM it.event_type
           |               AND it.rn = f.n
           |ORDER BY 1""".stripMargin))

  /** X75: lower weighted median of line price weighted by quantity per
    * returnflag ([[graft.de.RobustStats.weightedMedian]]) — cumulative
    * weight crosses half-total in pure BIGINT (2·cumw ≥ totw), so the
    * selected value is engine-exact, no interpolation. */
  private val q174 = Q("q174_weighted_median",
    (s, dir) => {
      import s.implicits._
      val v = t(s, dir, "lineitem")
        .select($"l_returnflag",
          round($"l_extendedprice" * 100).cast("long").as("cents"),
          $"l_quantity".cast("long").as("w"))
      graft.de.RobustStats.weightedMedian(v, "l_returnflag", "cents", "w")
        .orderBy($"l_returnflag")
    },
    Some("""WITH cells AS (
           |  SELECT l_returnflag AS g,
           |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
           |         sum(CAST(l_quantity AS BIGINT))::BIGINT AS w
           |  FROM lineitem
           |  WHERE l_extendedprice IS NOT NULL
           |    AND l_quantity IS NOT NULL
           |  GROUP BY 1, 2),
           |c2 AS (
           |  SELECT g, v, w,
           |         sum(w) OVER (PARTITION BY g ORDER BY v
           |           ROWS BETWEEN UNBOUNDED PRECEDING
           |           AND CURRENT ROW) AS cum,
           |         sum(w) OVER (PARTITION BY g) AS tot,
           |         count(*) OVER (PARTITION BY g) AS nv
           |  FROM cells)
           |SELECT g AS l_returnflag, max(nv)::BIGINT AS n_values,
           |  max(tot)::BIGINT AS total_weight,
           |  min(CASE WHEN cum * 2 >= tot THEN v END)::BIGINT AS w_median
           |FROM c2 GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X76: stratified two-proportion z-test
    * ([[graft.de.Experiment.twoProportionZ]]) — md5-parity variant
    * assignment (engine-identical cohorts, the q164 technique),
    * success = order fulfilled; z from exact per-stratum counts. */
  private val q175 = Q("q175_two_proportion_z",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.md5_long
      val units = t(s, dir, "orders")
        .select($"o_orderpriority",
          when(md5_long($"o_custkey".cast("string"))
            .bitwiseAND(lit(1L)) === 0, "A").otherwise("B").as("grp"),
          ($"o_orderstatus" === "F").as("ok"))
      graft.de.Experiment.twoProportionZ(units, "o_orderpriority",
          "grp", "ok", a = "A", b = "B")
        .orderBy($"o_orderpriority")
    },
    Some("""WITH u AS (
           |  SELECT o_orderpriority AS st,
           |    CASE WHEN (md5_number_lower(CAST(o_custkey AS VARCHAR))
           |               & 1) = 0 THEN 'A' ELSE 'B' END AS grp,
           |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ok
           |  FROM orders),
           |a AS (
           |  SELECT st,
           |    sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_a,
           |    sum(CASE WHEN grp = 'A' THEN ok ELSE 0 END)::BIGINT AS x_a,
           |    sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_b,
           |    sum(CASE WHEN grp = 'B' THEN ok ELSE 0 END)::BIGINT AS x_b
           |  FROM u GROUP BY 1)
           |SELECT st AS o_orderpriority, n_a, x_a, n_b, x_b,
           |  round(x_a::DOUBLE / n_a, 6) AS p_a,
           |  round(x_b::DOUBLE / n_b, 6) AS p_b,
           |  CASE WHEN n_a > 0 AND n_b > 0
           |        AND (x_a + x_b)::DOUBLE / (n_a + n_b) > 0
           |        AND (x_a + x_b)::DOUBLE / (n_a + n_b) < 1 THEN
           |    round((x_a::DOUBLE / n_a - x_b::DOUBLE / n_b) /
           |      sqrt(((x_a + x_b)::DOUBLE / (n_a + n_b)) *
           |           (1.0 - (x_a + x_b)::DOUBLE / (n_a + n_b)) *
           |           (1.0 / n_a + 1.0 / n_b)), 4)
           |  END AS z
           |FROM a ORDER BY o_orderpriority""".stripMargin))

  /** L63: TRUE Damerau-Levenshtein fuzzy matching over blocked part
    * names — graft's codegen'd Lowrance-Wagner
    * [[graft.functions.gfunctions.damerau_levenshtein]] vs DuckDB's
    * INDEPENDENT built-in (the q159 certify-the-algorithm technique;
    * the unrestricted variant is pinned by DL("CA","ABC") = 2).
    * Integer distance → plain value compare, no rounding contract. */
  private val q176 = Q("q176_damerau",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.damerau_levenshtein
      val names = t(s, dir, "part")
        .select($"p_name").distinct()
        // the certified comparison is pinned to single-byte names:
        // graft's DL is CHAR-grain, DuckDB's built-in is BYTE-grain —
        // identical only where byte == char (the q29 discipline;
        // fuzz-20's unicode suffixes desynced the two grains)
        .filter(octet_length($"p_name") === length($"p_name"))
        // single-word/empty names have no second token: try_element_at
        // yields null (which an equi-join silently drops) while the
        // oracle's split_part yields '' (one joinable block) — coalesce
        // to '' so both engines put them in the same block (fuzz-20).
        // try_ variant because plain element_at ERRORS out-of-bounds
        // under ANSI (fuzz-40's 1-char names have no second token)
        .withColumn("blk",
          coalesce(try_element_at(split($"p_name", " "), lit(2)),
            lit("")))
      val a = names.select($"p_name".as("name_a"), $"blk")
      val b = names.select($"p_name".as("name_b"), $"blk")
      a.join(b, Seq("blk"))
        .filter($"name_a" < $"name_b")
        .withColumn("dl", damerau_levenshtein($"name_a", $"name_b"))
        .filter($"dl" <= 6)
        .select($"name_a", $"name_b", $"dl")
        .orderBy($"dl", $"name_a", $"name_b")
    },
    Some("""WITH n AS (SELECT DISTINCT p_name,
           |    split_part(p_name, ' ', 2) AS blk FROM part
           |  WHERE strlen(p_name) = length(p_name)),
           |p AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
           |    damerau_levenshtein(a.p_name, b.p_name)::BIGINT AS dl
           |  FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name)
           |SELECT name_a, name_b, dl FROM p WHERE dl <= 6
           |ORDER BY dl, name_a, name_b""".stripMargin))

  /** L64: pairwise Jensen–Shannon divergence between source strata
    * ([[graft.text.CorpusStats.pairwiseJsd]]) — the symmetric,
    * smoothing-free mixture distance; disjoint-support mass enters in
    * closed form, so the join stays on the common vocabulary. */
  private val q177 = Q("q177_jsd",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.pairwiseJsd(t(s, dir, "documents"),
          "source", "text")
        .orderBy($"s_a", $"s_b")
    },
    Some("""WITH tf AS (SELECT source AS s,
           |    unnest(regexp_extract_all(text, '\S+')) AS term
           |  FROM documents),
           |cnt AS (SELECT s, term, count(*)::BIGINT AS c
           |        FROM tf GROUP BY 1, 2),
           |tot AS (SELECT s, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
           |j AS (SELECT a.s AS s_a, b.s AS s_b, a.c AS c_a, b.c AS c_b,
           |             ta.n AS n_a, tb.n AS n_b
           |      FROM cnt a JOIN cnt b
           |        ON a.term = b.term AND a.s < b.s
           |      JOIN tot ta ON ta.s = a.s
           |      JOIN tot tb ON tb.s = b.s),
           |agg AS (SELECT s_a, s_b,
           |    count(*)::BIGINT AS n_common_terms,
           |    sum(c_a * 1.0 / n_a) AS ma,
           |    sum(c_b * 1.0 / n_b) AS mb,
           |    sum((c_a * 1.0 / n_a) *
           |          ln(2.0 * (c_a * 1.0 / n_a)
           |             / ((c_a * 1.0 / n_a) + (c_b * 1.0 / n_b)))
           |        + (c_b * 1.0 / n_b) *
           |          ln(2.0 * (c_b * 1.0 / n_b)
           |             / ((c_a * 1.0 / n_a) + (c_b * 1.0 / n_b))))
           |      AS core
           |  FROM j GROUP BY 1, 2)
           |SELECT s_a, s_b, n_common_terms,
           |  round((core + (2.0 - ma - mb) * ln(2.0)) / 2, 6) AS jsd,
           |  round((core + (2.0 - ma - mb) * ln(2.0)) / 2 / ln(2.0), 6)
           |    AS jsd_normalized
           |FROM agg ORDER BY s_a, s_b""".stripMargin))

  /** X77: Pythagorean-means battery (AM/GM/HM) of order totals per
    * priority ([[graft.de.RobustStats.pythagoreanMeans]]) — AM an
    * exact-integer ratio, GM/HM the log/reciprocal identities. */
  private val q178 = Q("q178_pyth_means",
    (s, dir) => {
      import s.implicits._
      val v = t(s, dir, "orders")
        .select($"o_orderpriority",
          round($"o_totalprice" * 100).cast("long").as("cents"))
        // the operator's documented domain is a POSITIVE column
        // (GM's ln and HM's reciprocal both need it); pin it on both
        // sides — DuckDB's ln errors on a fuzzed zero (fuzz-23)
        .filter($"cents" > 0)
      graft.de.RobustStats.pythagoreanMeans(v, "o_orderpriority",
          "cents")
        .orderBy($"o_orderpriority")
    },
    Some("""WITH v AS (SELECT o_orderpriority AS g,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
           |  FROM orders
           |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0)
           |SELECT g AS o_orderpriority, count(*)::BIGINT AS n,
           |  round(sum(c)::DOUBLE / count(*), 4) AS am,
           |  round(exp(sum(ln(c::DOUBLE)) / count(*)), 4) AS gm,
           |  round(count(*) / sum(1.0 / c), 4) AS hm
           |FROM v GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X78: deterministic mode per group
    * ([[graft.de.RobustStats.mode]]) — most frequent brand per part
    * type, smallest value on count ties (explicit convention where
    * `mode()` builtins are tie-unspecified). */
  private val q179 = Q("q179_mode",
    (s, dir) => {
      import s.implicits._
      graft.de.RobustStats.mode(t(s, dir, "part"), "p_type", "p_brand")
        .orderBy($"p_type")
    },
    Some("""WITH cells AS (SELECT p_type AS g, p_brand AS v,
           |                 count(*)::BIGINT AS c
           |               FROM part GROUP BY 1, 2),
           |rk AS (SELECT g, v, c,
           |         count(*) OVER (PARTITION BY g) AS nd,
           |         row_number() OVER (PARTITION BY g
           |           ORDER BY c DESC, v) AS rn
           |       FROM cells)
           |SELECT g AS p_type, v AS mode_value, c AS mode_count,
           |  nd::BIGINT AS n_distinct
           |FROM rk WHERE rn = 1 ORDER BY p_type""".stripMargin))

  /** L65: bigram multiset-overlap F1 between sorted-neighborhood
    * candidate pairs ([[graft.text.CorpusStats.ngramOverlapF1]]) —
    * the ROUGE-style near-dup audit; every doc appears in ≤ 2 pairs so
    * the gram join stays corpus-linear. */
  private val q180 = Q("q180_overlap_f1",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.ngramOverlapF1(t(s, dir, "documents"),
          "doc_id", "text", "source", n = 2)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH d AS (SELECT doc_id, source, text,
           |             length(text) AS len FROM documents),
           |p0 AS (SELECT doc_id AS id_a,
           |         lead(doc_id) OVER (PARTITION BY source
           |           ORDER BY len, doc_id) AS id_b
           |       FROM d),
           |pairs AS (SELECT id_a, id_b FROM p0 WHERE id_b IS NOT NULL),
           |bg AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
           |       FROM (SELECT doc_id,
           |               regexp_extract_all(text, '\S+') AS ts
           |             FROM documents),
           |       UNNEST(range(1, len(ts))) AS r(i)),
           |cnt AS (SELECT doc_id, g, count(*)::BIGINT AS c
           |        FROM bg GROUP BY 1, 2),
           |tot AS (SELECT doc_id, sum(c)::BIGINT AS t
           |        FROM cnt GROUP BY 1),
           |ov AS (SELECT p.id_a, p.id_b,
           |         sum(least(a.c, b.c))::BIGINT AS o
           |       FROM pairs p
           |       JOIN cnt a ON a.doc_id = p.id_a
           |       JOIN cnt b ON b.doc_id = p.id_b AND b.g = a.g
           |       GROUP BY 1, 2)
           |SELECT p.id_a, p.id_b, ta.t AS n_a, tb.t AS n_b,
           |  coalesce(ov.o, 0)::BIGINT AS overlap,
           |  round(coalesce(ov.o, 0) * 1.0 / ta.t, 4) AS "precision",
           |  round(coalesce(ov.o, 0) * 1.0 / tb.t, 4) AS "recall",
           |  round(2.0 * coalesce(ov.o, 0) / (ta.t + tb.t), 4) AS f1
           |FROM pairs p
           |JOIN tot ta ON ta.doc_id = p.id_a
           |JOIN tot tb ON tb.doc_id = p.id_b
           |LEFT JOIN ov ON ov.id_a = p.id_a AND ov.id_b = p.id_b
           |ORDER BY p.id_a, p.id_b""".stripMargin))

  val all: Seq[Q] = Seq(q173, q174, q175, q176, q177, q178, q179, q180)
}
