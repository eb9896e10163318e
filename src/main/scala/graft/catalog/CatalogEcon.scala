package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries for the econometric / epidemiological
  * operator family (X66+): inequality and concentration measures,
  * right-censored survival, graph geometry readouts, enrichment
  * significance, information-theoretic dependence, and deterministic
  * bootstrap uncertainty. Conventions follow Catalog.scala (matching
  * aliases, deterministic ORDER BY, integer fixed-point cores, rounding
  * on both sides).
  */
object CatalogEcon {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X66: per-nation Gini of customer spend
    * ([[graft.report.Inequality.gini]]). Spend snaps to exact cents
    * before ranking, so the rank-weighted sum is pure BIGINT and the
    * coefficient is engine-noise-free. */
  private val q165 = Q("q165_gini",
    (s, dir) => {
      import s.implicits._
      val spend = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(round(sum($"o_totalprice") * 100).cast("long").as("cents"))
      val units = spend
        .join(broadcast(t(s, dir, "customer")
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
      graft.report.Inequality.gini(units, "c_nationkey", "c_custkey",
          "cents")
        .orderBy($"c_nationkey")
    },
    Some("""WITH sp AS (
           |  SELECT o_custkey AS k,
           |         CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
           |  FROM orders GROUP BY 1),
           |j AS (SELECT c_nationkey AS g, k, cents
           |      FROM sp JOIN customer ON c_custkey = k
           |      WHERE cents IS NOT NULL),
           |r AS (SELECT g, cents,
           |        row_number() OVER (PARTITION BY g
           |          ORDER BY cents, k) AS i
           |      FROM j),
           |a AS (SELECT g, count(*)::BIGINT AS n_units,
           |        sum(cents)::BIGINT AS total,
           |        sum(i * cents)::BIGINT AS ix
           |      FROM r GROUP BY 1)
           |SELECT g AS c_nationkey, n_units, total,
           |  round(2.0 * ix / (n_units * total)
           |        - (n_units + 1)::DOUBLE / n_units, 6) AS gini
           |FROM a ORDER BY c_nationkey""".stripMargin))

  /** X67: Herfindahl–Hirschman supplier-revenue concentration per
    * nation ([[graft.report.Inequality.hhi]]) — exact-cents firm
    * totals, HHI on the 0–10000 antitrust scale plus CR1. */
  private val q166 = Q("q166_hhi",
    (s, dir) => {
      import s.implicits._
      val rev = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_nationkey", $"s_suppkey")
        .agg(round(sum($"l_extendedprice") * 100).cast("long").as("cents"))
      graft.report.Inequality.hhi(rev, "s_nationkey", "cents")
        .orderBy($"s_nationkey")
    },
    Some("""WITH rev AS (
           |  SELECT s_nationkey AS g, l_suppkey,
           |         CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
           |           AS cents
           |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |  GROUP BY 1, 2)
           |SELECT g AS s_nationkey, count(*)::BIGINT AS n_firms,
           |  sum(cents)::BIGINT AS total,
           |  round(sum(cents::DOUBLE * cents)
           |        / (sum(cents)::DOUBLE * sum(cents)) * 10000.0, 4)
           |    AS hhi,
           |  round(max(cents) / sum(cents)::DOUBLE, 6) AS top_share
           |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X68: Theil-T within/between decomposition of customer spend
    * across nations ([[graft.report.Inequality.theilDecomposition]]) —
    * the additively-decomposable inequality readout (within_term +
    * between_term sums to total Theil, pinned by InequalitySpec). */
  private val q167 = Q("q167_theil",
    (s, dir) => {
      import s.implicits._
      val spend = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(round(sum($"o_totalprice") * 100).cast("long").as("cents"))
        // Theil is defined on positive incomes: x ln x needs x > 0 —
        // DuckDB's ln ERRORS on a fuzzed zero/negative total where
        // Spark nulls (the q283 log-domain discipline)
        .filter($"cents" > 0)
      val units = spend
        .join(broadcast(t(s, dir, "customer")
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
      graft.report.Inequality.theilDecomposition(units, "c_nationkey",
          "cents")
        .orderBy($"c_nationkey")
    },
    Some("""WITH sp AS (
           |  SELECT o_custkey AS k,
           |         CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
           |  FROM orders GROUP BY 1
           |  HAVING CAST(round(sum(o_totalprice) * 100) AS BIGINT) > 0),
           |j AS (SELECT c_nationkey AS g, cents
           |      FROM sp JOIN customer ON c_custkey = k),
           |g1 AS (SELECT g, count(*)::BIGINT AS n_units,
           |         sum(cents)::BIGINT AS total,
           |         sum(cents::DOUBLE * ln(cents::DOUBLE)) AS xlx
           |       FROM j GROUP BY 1),
           |tt AS (SELECT sum(n_units)::BIGINT AS nn,
           |              sum(total)::BIGINT AS xx FROM g1)
           |SELECT g AS c_nationkey, n_units, total,
           |  round(xlx / total::DOUBLE
           |        - ln(total::DOUBLE / n_units), 6) AS theil_within,
           |  round((total::DOUBLE / xx) *
           |        (xlx / total::DOUBLE - ln(total::DOUBLE / n_units)), 6)
           |    AS within_term,
           |  round((total::DOUBLE / xx) *
           |        ln((total::DOUBLE / xx) / (n_units::DOUBLE / nn)), 6)
           |    AS between_term
           |FROM g1, tt ORDER BY c_nationkey""".stripMargin))

  /** X69: Kaplan–Meier customer-retention curve
    * ([[graft.de.Survival.kaplanMeier]]) — lifespan = days between a
    * customer's first and last order, right-censored when the last
    * order falls within 180 days of the corpus end (still active).
    * Ŝ(t) is exp(Σ ln) with the cumulative sum in duration order on
    * both engines, so the doubles agree bit-for-bit pre-round. */
  private val q168 = Q("q168_kaplan_meier",
    (s, dir) => {
      import s.implicits._
      val u = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(to_date(min($"o_orderdate")).as("fd"),
          to_date(max($"o_orderdate")).as("ld"))
      val mx = u.agg(max($"ld").as("md"))
      val subj = u.crossJoin(broadcast(mx))
        .select(datediff($"ld", $"fd").cast("long").as("dur"),
          when(datediff($"md", $"ld") > 180, 1).otherwise(0).as("ev"))
      graft.de.Survival.kaplanMeier(subj, "dur", "ev")
        .orderBy($"t")
    },
    Some("""WITH u AS (
           |  SELECT o_custkey, min(o_orderdate::DATE) AS fd,
           |         max(o_orderdate::DATE) AS ld
           |  FROM orders GROUP BY 1),
           |mx AS (SELECT max(ld) AS md FROM u),
           |subj AS (
           |  -- complete-case on the time axis (kaplanMeier contract):
           |  -- all-null-date customers have no observable duration
           |  SELECT datediff('day', fd, ld)::BIGINT AS t,
           |         CASE WHEN datediff('day', ld, md) > 180
           |              THEN 1 ELSE 0 END AS ev
           |  FROM u, mx WHERE fd IS NOT NULL),
           |byt AS (SELECT t, sum(ev)::BIGINT AS n_event,
           |          sum(1 - ev)::BIGINT AS n_censored
           |        FROM subj GROUP BY 1),
           |w AS (SELECT t, n_event, n_censored,
           |        (sum(n_event + n_censored) OVER ()
           |         - coalesce(sum(n_event + n_censored) OVER (
           |             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
           |             AND 1 PRECEDING), 0))::BIGINT AS n_risk
           |      FROM byt),
           |sv AS (SELECT t, n_risk, n_event, n_censored,
           |         CASE WHEN n_event = 0 OR n_event = n_risk THEN 0.0
           |              ELSE ln((n_risk - n_event)::DOUBLE / n_risk)
           |         END AS lt,
           |         min(CASE WHEN n_event = n_risk AND n_event > 0
           |                  THEN 0 ELSE 1 END) OVER (ORDER BY t
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |           AS alive
           |       FROM w)
           |SELECT t, n_risk, n_event, n_censored,
           |  CASE WHEN alive = 0 THEN 0.0
           |       ELSE round(exp(sum(lt) OVER (ORDER BY t
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           |  END AS survival
           |FROM sv ORDER BY t""".stripMargin))

  /** X70: closeness / eccentricity / harmonic centrality of the nation
    * flow graph ([[graft.graph.ShortestPaths.closenessStats]] over the
    * q139 arcs). The ORACLE enumerates bounded walks (d ≤ 480 =
    * (|V|−1)·w_max, so every shortest path is covered) as a
    * dedup-terminated recursive CTE and takes the per-pair min — an
    * independent formulation of APSP vs the relaxation loop. */
  private val q169 = Q("q169_closeness",
    (s, dir) => {
      import s.implicits._
      val flows = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
        .join(broadcast(t(s, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
        .filter($"c_nationkey" =!= $"s_nationkey")
        .groupBy($"c_nationkey", $"s_nationkey")
        .agg(sum($"l_extendedprice").as("rev"))
        .filter($"rev" > 5000000)
        .select($"c_nationkey".cast("string").as("src"),
          $"s_nationkey".cast("string").as("dst"),
          (($"c_nationkey" * 7 + $"s_nationkey" * 11) % 20 + 1)
            .cast("long").as("w"))
      val nodes = flows.select(explode(array($"src", $"dst")).as("gene"))
        .distinct()
      graft.graph.ShortestPaths.closenessStats(s, nodes, flows)
        .select($"gene".cast("long").as("nationkey"), $"n_reachable",
          $"eccentricity", $"closeness", $"harmonic")
        .orderBy($"nationkey")
    },
    Some("""WITH RECURSIVE f0 AS (
           |  SELECT c.c_nationkey AS sa, s.s_nationkey AS sb,
           |         CAST((c.c_nationkey * 7 + s.s_nationkey * 11) % 20 + 1
           |           AS BIGINT) AS w
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  WHERE c.c_nationkey <> s.s_nationkey
           |  GROUP BY 1,2,3 HAVING sum(l.l_extendedprice) > 5000000),
           |e AS (SELECT sa::VARCHAR AS u, sb::VARCHAR AS v, w FROM f0),
           |r AS (
           |  SELECT u AS src, v AS dst, w AS d FROM e
           |  UNION
           |  SELECT r.src, e.v, r.d + e.w
           |  FROM r JOIN e ON e.u = r.dst WHERE r.d + e.w <= 480),
           |sd AS (SELECT src, dst, min(d)::BIGINT AS dist
           |       FROM r WHERE src <> dst GROUP BY 1, 2),
           |nd AS (SELECT DISTINCT g FROM
           |        (SELECT u AS g FROM e UNION ALL SELECT v FROM e)),
           |ag AS (SELECT nd.g, count(sd.dist)::BIGINT AS n_reachable,
           |         max(sd.dist) AS eccentricity,
           |         sum(sd.dist) AS sumd,
           |         sum(1.0 / sd.dist) AS harm
           |       FROM nd LEFT JOIN sd ON sd.src = nd.g GROUP BY 1)
           |SELECT CAST(g AS BIGINT) AS nationkey, n_reachable,
           |  eccentricity,
           |  CASE WHEN sumd > 0
           |       THEN round(n_reachable / sumd::DOUBLE, 6) END
           |    AS closeness,
           |  round(coalesce(harm, 0.0), 6) AS harmonic
           |FROM ag ORDER BY nationkey""".stripMargin))

  /** X71: hypergeometric over-representation of high-price parts per
    * p_type ([[graft.enrich.OverRepresentation.enrich]], the ORA /
    * one-sided Fisher test every gene-set tool runs —
    * `pipeline2.py:700-760`'s missing significance layer). Spark
    * evaluates the tail through commons-math3
    * ([[org.apache.spark.sql.graft.StatKernels.hypergeomPValue]]); the ORACLE
    * re-derives it from first principles as a Σ exp(lgamma·) series —
    * two independent implementations of the same published tail, so
    * the 6-dp compare certifies the distribution itself. */
  private val q170 = Q("q170_enrichment",
    (s, dir) => {
      import s.implicits._
      val part = t(s, dir, "part")
      val membership = part.select($"p_partkey", $"p_type")
      val selected = part.filter($"p_retailprice" > 980)
        .select($"p_partkey")
      graft.enrich.OverRepresentation.enrich(membership, selected,
          "p_partkey", "p_type")
        .orderBy($"set_name")
    },
    Some("""WITH m AS (SELECT DISTINCT p_partkey AS item, p_type AS st
           |           FROM part),
           |sel AS (SELECT DISTINCT p_partkey AS item FROM part
           |        WHERE p_retailprice > 980),
           |uni AS (SELECT count(DISTINCT item)::BIGINT AS big_n FROM m),
           |ls AS (SELECT count(*)::BIGINT AS n_draw FROM sel),
           |ps AS (SELECT st, count(*)::BIGINT AS set_size
           |       FROM m GROUP BY 1),
           |hh AS (SELECT st, count(*)::BIGINT AS n_hits
           |       FROM m JOIN sel USING (item) GROUP BY 1),
           |base AS (SELECT ps.st, set_size,
           |           coalesce(n_hits, 0)::BIGINT AS n_hits, n_draw, big_n
           |         FROM ps LEFT JOIN hh USING (st), ls, uni),
           |ser AS (SELECT unnest(generate_series(0,
           |          (SELECT max(set_size) FROM ps))) AS i),
           |terms AS (
           |  SELECT b.st, exp(
           |      lgamma(b.set_size + 1.0) - lgamma(ser.i + 1.0)
           |    - lgamma(b.set_size - ser.i + 1.0)
           |    + lgamma(b.big_n - b.set_size + 1.0)
           |    - lgamma(b.n_draw - ser.i + 1.0)
           |    - lgamma(b.big_n - b.set_size - b.n_draw + ser.i + 1.0)
           |    - (lgamma(b.big_n + 1.0) - lgamma(b.n_draw + 1.0)
           |       - lgamma(b.big_n - b.n_draw + 1.0))) AS tm
           |  FROM base b JOIN ser
           |    ON ser.i BETWEEN b.n_hits AND least(b.set_size, b.n_draw)),
           |psum AS (SELECT st, sum(tm) AS p FROM terms GROUP BY 1)
           |SELECT b.st AS set_name, b.set_size, b.n_hits, b.n_draw,
           |  b.big_n,
           |  round(CASE WHEN b.n_hits <=
           |    greatest(0, b.n_draw + b.set_size - b.big_n)
           |    THEN 1.0 ELSE coalesce(psum.p, 0.0) END, 6) AS pvalue,
           |  round(b.n_hits * b.big_n
           |        / (b.n_draw::DOUBLE * b.set_size), 4)
           |    AS fold_enrichment
           |FROM base b LEFT JOIN psum ON psum.st = b.st
           |ORDER BY set_name""".stripMargin))

  /** X72: categorical mutual information between p_brand and
    * p_size ([[graft.de.InfoTheory.mutualInformation]]) — the
    * H = ln N − Σ c ln c / N identity over exact BIGINT cell counts,
    * marginals summed from the SAME joint-cell aggregate. */
  private val q171 = Q("q171_mutual_info",
    (s, dir) => {
      graft.de.InfoTheory.mutualInformation(t(s, dir, "part"),
        "p_brand", "p_size")
    },
    Some("""WITH cells AS (SELECT p_brand AS x, p_size AS y,
           |                 count(*)::BIGINT AS c
           |               FROM part GROUP BY 1, 2),
           |mx AS (SELECT x, sum(c)::BIGINT AS cx FROM cells GROUP BY 1),
           |my AS (SELECT y, sum(c)::BIGINT AS cy FROM cells GROUP BY 1),
           |a AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS n_cells,
           |        sum(c::DOUBLE * ln(c::DOUBLE)) AS clc_xy FROM cells),
           |ax AS (SELECT sum(cx::DOUBLE * ln(cx::DOUBLE)) AS clc_x
           |       FROM mx),
           |ay AS (SELECT sum(cy::DOUBLE * ln(cy::DOUBLE)) AS clc_y
           |       FROM my)
           |SELECT n, n_cells,
           |  round(ln(n::DOUBLE) - clc_x / n, 6) AS h_x,
           |  round(ln(n::DOUBLE) - clc_y / n, 6) AS h_y,
           |  round(ln(n::DOUBLE) - clc_xy / n, 6) AS h_xy,
           |  round((ln(n::DOUBLE) - clc_x / n)
           |        + (ln(n::DOUBLE) - clc_y / n)
           |        - (ln(n::DOUBLE) - clc_xy / n), 6) AS mi,
           |  CASE WHEN (ln(n::DOUBLE) - clc_x / n) > 0
           |         AND (ln(n::DOUBLE) - clc_y / n) > 0
           |       THEN round(((ln(n::DOUBLE) - clc_x / n)
           |                   + (ln(n::DOUBLE) - clc_y / n)
           |                   - (ln(n::DOUBLE) - clc_xy / n))
           |            / sqrt((ln(n::DOUBLE) - clc_x / n)
           |                   * (ln(n::DOUBLE) - clc_y / n)), 6)
           |  END AS nmi
           |FROM a, ax, ay""".stripMargin))

  /** X73: deterministic percentile-bootstrap CI (B=200, 95%) of mean
    * customer account balance per market segment
    * ([[graft.sample.Bootstrap.meanCi]]) — replicate draws indexed by
    * md5("b:j") & (2⁴⁷−1) mod n, so both engines resample identical
    * multisets and every replicate mean is an exact-integer ratio. */
  private val q172 = Q("q172_bootstrap_ci",
    (s, dir) => {
      import s.implicits._
      val v = t(s, dir, "customer")
        .select($"c_mktsegment",
          round($"c_acctbal" * 100).cast("long").as("cents"))
      graft.sample.Bootstrap.meanCi(v, "c_mktsegment", "cents",
          bReps = 200, alpha = 0.05)
        .select($"c_mktsegment", $"n_units", $"b_reps",
          round($"mean" / 100, 4).as("mean_bal"),
          round($"ci_lo" / 100, 4).as("ci_lo_bal"),
          round($"ci_hi" / 100, 4).as("ci_hi_bal"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH v AS (SELECT c_mktsegment AS g,
           |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           |  FROM customer WHERE c_acctbal IS NOT NULL),
           |ix AS (SELECT g, cents,
           |    row_number() OVER (PARTITION BY g ORDER BY cents) - 1
           |      AS idx
           |  FROM v),
           |sz AS (SELECT g, count(*)::BIGINT AS n FROM v GROUP BY 1),
           |bb AS (SELECT unnest(generate_series(0, 199)) AS b),
           |dr AS (SELECT sz.g, bb.b,
           |    ((md5_number_lower(bb.b::VARCHAR || ':' || jj.j::VARCHAR)
           |      & 140737488355327)::BIGINT % sz.n) AS idx
           |  FROM sz, bb,
           |  LATERAL (SELECT unnest(generate_series(0, sz.n - 1)) AS j)
           |    jj(j)),
           |rm AS (SELECT dr.g, dr.b,
           |    sum(ix.cents)::DOUBLE / count(*) AS m
           |  FROM dr JOIN ix ON ix.g = dr.g AND ix.idx = dr.idx
           |  GROUP BY 1, 2),
           |rk AS (SELECT g, m,
           |    row_number() OVER (PARTITION BY g ORDER BY m, b) AS r
           |  FROM rm),
           |ci AS (SELECT g,
           |    round(max(CASE WHEN r = 5 THEN m END), 4) AS lo,
           |    round(max(CASE WHEN r = 195 THEN m END), 4) AS hi
           |  FROM rk GROUP BY 1),
           |pt AS (SELECT g, count(*)::BIGINT AS n_units,
           |    round(sum(cents)::DOUBLE / count(*), 4) AS mean
           |  FROM v GROUP BY 1)
           |SELECT pt.g AS c_mktsegment, pt.n_units,
           |  200::BIGINT AS b_reps,
           |  round(pt.mean / 100, 4) AS mean_bal,
           |  round(ci.lo / 100, 4) AS ci_lo_bal,
           |  round(ci.hi / 100, 4) AS ci_hi_bal
           |FROM pt JOIN ci ON ci.g = pt.g
           |ORDER BY c_mktsegment""".stripMargin))

  val all: Seq[Q] = Seq(q165, q166, q167, q168, q169, q170, q171, q172)
}
