package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-11 batch: adaptive-gain state
  * estimation (the local-level Kalman filter next to the fixed-gain
  * EWMA/Holt family), conditional-quantile regression (the τ-line OLS
  * cannot give), and reciprocal-rank fusion (the hybrid-retrieval
  * combiner every BM25-plus-embeddings stack serves).
  */
object CatalogR11 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X308: local-level Kalman filter over each event type's daily
    * count series ([[graft.events.Kalman.localLevel]] — q163's
    * adaptive-gain sibling). The oracle replays the (x, P) recursion
    * as a recursive CTE: seed x = first count, P = rVar, then the
    * predict/update arithmetic in the identical operation order, so
    * both engines iterate the same doubles (the q163 replay
    * discipline). qVar = 25, rVar = 100 — a gain that visibly adapts
    * over the first weeks of the series. */
  private val q405 = Q("q405_kalman_level",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      graft.events.Kalman.localLevel(series, "event_type", "d", "c",
          qVar = 25.0, rVar = 100.0)
        .orderBy($"event_type")
    },
    Some("""WITH RECURSIVE s AS (
           |  SELECT event_type, date_trunc('day', ts) AS d,
           |         count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |r AS (
           |  SELECT event_type, c::DOUBLE AS c,
           |         row_number() OVER (PARTITION BY event_type
           |                            ORDER BY d) AS rn
           |  FROM s),
           |e AS (
           |  SELECT event_type, rn, c AS x, 100.0::DOUBLE AS p,
           |         NULL::DOUBLE AS k
           |  FROM r WHERE rn = 1
           |  UNION ALL
           |  SELECT r.event_type, r.rn,
           |    e.x + ((e.p + 25.0) / ((e.p + 25.0) + 100.0))
           |        * (r.c - e.x),
           |    (1.0 - (e.p + 25.0) / ((e.p + 25.0) + 100.0))
           |        * (e.p + 25.0),
           |    (e.p + 25.0) / ((e.p + 25.0) + 100.0)
           |  FROM e JOIN r
           |    ON r.event_type IS NOT DISTINCT FROM e.event_type
           |   AND r.rn = e.rn + 1),
           |f AS (SELECT event_type, max(rn) AS n FROM e GROUP BY 1)
           |SELECT e.event_type, f.n::BIGINT AS n,
           |  round(e.x, 6) AS level, round(e.p, 6) AS level_var,
           |  round(e.k, 6) AS gain, round(e.x, 6) AS forecast_next,
           |  round(e.p + 25.0 + 100.0, 6) AS forecast_var
           |FROM e JOIN f ON f.event_type IS NOT DISTINCT FROM e.event_type
           |             AND e.rn = f.n
           |ORDER BY 1""".stripMargin))

  /** X309: τ = 0.9 quantile regression of document length (chars) on
    * token count + long-token count
    * ([[graft.ml.Regression.quantile2]]): the chars-per-token upper
    * envelope — docs far ABOVE the 90% plane carry abnormally fat
    * tokens (base64 blobs, URL soup) that a mean line would average
    * away. The only strongly-structured numeric relation in the test
    * tables (chars ≈ 5.5·tokens + 3·long_tokens), so the IRLS
    * trajectory is smooth and the τ-calibration lands near 0.9. The
    * oracle replays the OLS seed and all 16 IRLS steps in a recursive
    * CTE with the CENTERED Cramer solve in
    * [[graft.ml.Regression.olsBeta]]'s exact expression order; 1 − τ
    * and τ − 1 are evaluated as runtime doubles on both sides (the
    * q163 1−α discipline), and both side decisions are 6-dp
    * pre-rounded (integer inputs put residual atoms exactly on the
    * plane — the raw sign test flipped whole atom-groups across
    * engines at first oracle contact). ε = 0.5 chars: the weight cap
    * in y-units, sized to the char-grain residual spread. */
  private val q406 = Q("q406_quantile_reg",
    (s, dir) => {
      import s.implicits._
      import graft.text.TextAnalysis
      val toks = TextAnalysis.tokens($"text")
      graft.ml.Regression.quantile2(
        t(s, dir, "documents").select(
          $"n_chars".cast("double").as("y"),
          size(toks).cast("double").as("x1"),
          size(filter(toks, t => length(t) >= 8)).cast("double")
            .as("x2")),
        "y", "x1", "x2", tau = 0.9, iters = 16, eps = 0.5)
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT n_chars::DOUBLE AS y,
           |         len(regexp_extract_all(text, '\S+'))::DOUBLE AS x1,
           |         len(list_filter(regexp_extract_all(text, '\S+'),
           |             t -> len(t) >= 8))::DOUBLE AS x2
           |  FROM documents
           |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
           |fx(it, b0, b1, b2) AS (
           |  SELECT 0,
           |    (sy - (c1y * c22 - c2y * c12) / det * s1
           |        - (c2y * c11 - c1y * c12) / det * s2) / sw,
           |    (c1y * c22 - c2y * c12) / det,
           |    (c2y * c11 - c1y * c12) / det
           |  FROM (
           |    SELECT sw, s1, s2, sy,
           |      s11 - s1 * s1 / sw AS c11, s22 - s2 * s2 / sw AS c22,
           |      s12 - s1 * s2 / sw AS c12, s1y - s1 * sy / sw AS c1y,
           |      s2y - s2 * sy / sw AS c2y,
           |      (s11 - s1 * s1 / sw) * (s22 - s2 * s2 / sw)
           |        - (s12 - s1 * s2 / sw) * (s12 - s1 * s2 / sw) AS det
           |    FROM (
           |      SELECT sum(1.0::DOUBLE) AS sw, sum(x1) AS s1,
           |        sum(x2) AS s2, sum(y) AS sy, sum(x1 * x1) AS s11,
           |        sum(x2 * x2) AS s22, sum(x1 * x2) AS s12,
           |        sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
           |      FROM d) a) b
           |  UNION ALL
           |  SELECT it + 1,
           |    (sy - (c1y * c22 - c2y * c12) / det * s1
           |        - (c2y * c11 - c1y * c12) / det * s2) / sw,
           |    (c1y * c22 - c2y * c12) / det,
           |    (c2y * c11 - c1y * c12) / det
           |  FROM (
           |    SELECT it, sw, s1, s2, sy,
           |      s11 - s1 * s1 / sw AS c11, s22 - s2 * s2 / sw AS c22,
           |      s12 - s1 * s2 / sw AS c12, s1y - s1 * sy / sw AS c1y,
           |      s2y - s2 * sy / sw AS c2y,
           |      (s11 - s1 * s1 / sw) * (s22 - s2 * s2 / sw)
           |        - (s12 - s1 * s2 / sw) * (s12 - s1 * s2 / sw) AS det
           |    FROM (
           |      SELECT rw.it, sum(w) AS sw, sum(w * x1) AS s1,
           |        sum(w * x2) AS s2, sum(w * y) AS sy,
           |        sum(w * x1 * x1) AS s11, sum(w * x2 * x2) AS s22,
           |        sum(w * x1 * x2) AS s12, sum(w * x1 * y) AS s1y,
           |        sum(w * x2 * y) AS s2y
           |      FROM (
           |        SELECT fx.it,
           |          abs(0.9::DOUBLE - CASE
           |              WHEN round(d.y - fx.b0 - fx.b1 * d.x1
           |                         - fx.b2 * d.x2, 6) < 0
           |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
           |            / greatest(abs(d.y - fx.b0 - fx.b1 * d.x1
           |                           - fx.b2 * d.x2), 0.5::DOUBLE)
           |            AS w,
           |          d.y, d.x1, d.x2
           |        FROM fx, d WHERE fx.it < 16) rw
           |      GROUP BY 1) a) b),
           |fin AS (SELECT b0, b1, b2 FROM fx WHERE it = 16),
           |sc AS (
           |  SELECT count(*)::BIGINT AS n,
           |    avg(greatest(0.9::DOUBLE * r,
           |                 (0.9::DOUBLE - 1.0) * r)) AS pb,
           |    avg(CASE WHEN round(r, 6) < 0 THEN 1.0::DOUBLE
           |             ELSE 0.0::DOUBLE END) AS sb
           |  FROM (SELECT d.y - fin.b0 - fin.b1 * d.x1
           |               - fin.b2 * d.x2 AS r
           |        FROM d, fin) z)
           |SELECT n, round(fin.b0, 4) AS b0, round(fin.b1, 4) AS b1,
           |  round(fin.b2, 4) AS b2, round(pb, 6) AS pinball,
           |  round(sb, 4) AS share_below
           |FROM sc CROSS JOIN fin""".stripMargin))

  /** X310: reciprocal-rank fusion of the cosine ranking and the raw
    * inner-product ranking for the vec_id < 5 probe queries
    * ([[graft.ml.Ranking.rrfFusion]]): the two score scales are
    * incomparable (norm-invariant vs norm-weighted), which is exactly
    * the case RRF's rank-space combination exists for. Both engines
    * rank the identical doubles (codegen'd `cosine_similarity` vs
    * DuckDB's list functions, the q26 parity), ranks are exact
    * integers, and the fused score 1/(60+r₁) + 1/(60+r₂) is the same
    * two-term sum in the same order. */
  private val q407 = Q("q407_rrf_fusion",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.cosine_similarity
      val v = t(s, dir, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      val q = broadcast(v.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"e".as("qv")))
      val scored = v.select($"vec_id".as("neighbor_id"), $"e".as("cv"))
        .crossJoin(q)
        .filter($"neighbor_id" =!= $"query_id")
        .select($"query_id", $"neighbor_id",
          cosine_similarity($"qv", $"cv").as("cos_sim"),
          aggregate(zip_with($"qv", $"cv", (x, y) => x * y),
            lit(0.0), (acc, z) => acc + z).as("dot"))
      graft.ml.Ranking.rrfFusion(scored, "query_id", "neighbor_id",
          Seq("cos_sim", "dot"), k = 60, topN = 5)
        .select($"query_id", $"neighbor_id",
          $"rank_1".cast("long").as("rank_1"),
          $"rank_2".cast("long").as("rank_2"),
          $"rrf_score", $"fused_rank".cast("long").as("fused_rank"))
        .orderBy($"query_id", $"fused_rank")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
           |           FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 5),
           |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |        list_cosine_similarity(q.e, c.e) AS cs,
           |        list_inner_product(q.e, c.e) AS dp
           |      FROM q, v c WHERE c.vec_id != q.vec_id),
           |r AS (SELECT query_id, neighbor_id,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY cs DESC NULLS LAST, neighbor_id)
           |          AS rank_1,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY dp DESC NULLS LAST, neighbor_id)
           |          AS rank_2
           |      FROM s),
           |f AS (SELECT query_id, neighbor_id, rank_1, rank_2,
           |        1.0 / (60.0 + rank_1) + 1.0 / (60.0 + rank_2)
           |          AS rrf,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY 1.0 / (60.0 + rank_1)
           |                 + 1.0 / (60.0 + rank_2) DESC, neighbor_id)
           |          AS fused_rank
           |      FROM r)
           |SELECT query_id, neighbor_id, rank_1::BIGINT AS rank_1,
           |  rank_2::BIGINT AS rank_2, round(rrf, 6) AS rrf_score,
           |  fused_rank::BIGINT AS fused_rank
           |FROM f WHERE fused_rank <= 5
           |ORDER BY query_id, fused_rank""".stripMargin))

  /** X311: Gumbel block-maxima fit by L-moments over each event
    * type's daily maxima ([[graft.de.Evt.gumbelBlockMaxima]] —
    * annual-maxima EVT next to q360's peaks-over-threshold GPD). The
    * estimator is linear in the order statistics, so the oracle is a
    * straight replay: the same rank window, the same three weighted
    * sums, the same closed-form μ/β/return-level arithmetic with the
    * Euler–Mascheroni constant as an identical 16-digit literal on
    * both sides. Tied maxima are rank-order invariant (equal values
    * under permuted ranks — the q162 argument). */
  private val q408 = Q("q408_gumbel_maxima",
    (s, dir) => {
      import s.implicits._
      graft.de.Evt.gumbelBlockMaxima(
        t(s, dir, "events")
          .select($"event_type", date_trunc("day", $"ts").as("d"),
            $"value"),
        "event_type", "d", "value")
        .orderBy($"event_type")
    },
    Some("""WITH bm AS (
           |  SELECT event_type, date_trunc('day', ts) AS b,
           |         max(value) AS m
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |rk AS (
           |  SELECT event_type, m,
           |    (row_number() OVER (PARTITION BY event_type
           |       ORDER BY m) - 1)::DOUBLE AS r0
           |  FROM bm),
           |ag AS (
           |  SELECT event_type, count(*)::BIGINT AS n_blocks,
           |    sum(m) AS s0, sum(r0 * m) AS s1,
           |    sum(r0 * (r0 - 1.0) * m) AS s2
           |  FROM rk GROUP BY 1),
           |lm AS (
           |  SELECT event_type, n_blocks, n_blocks::DOUBLE AS n,
           |    s0 / n_blocks::DOUBLE AS b0,
           |    s1 / (n_blocks::DOUBLE * (n_blocks::DOUBLE - 1.0)) AS b1,
           |    s2 / (n_blocks::DOUBLE * (n_blocks::DOUBLE - 1.0)
           |          * (n_blocks::DOUBLE - 2.0)) AS b2
           |  FROM ag),
           |fit AS (
           |  SELECT event_type, n_blocks, b0 AS l1,
           |    2.0 * b1 - b0 AS l2,
           |    (6.0 * b2 - 6.0 * b1 + b0)
           |      / nullif(2.0 * b1 - b0, 0.0) AS t3,
           |    CASE WHEN n_blocks >= 3
           |         THEN (2.0 * b1 - b0) / ln(2.0) END AS beta
           |  FROM lm),
           |gp AS (
           |  SELECT event_type, n_blocks, t3, beta,
           |    l1 - 0.5772156649015329 * beta AS mu
           |  FROM fit)
           |SELECT event_type, n_blocks,
           |  round(mu, 4) AS location, round(beta, 4) AS scale,
           |  round(CASE WHEN n_blocks >= 3 THEN t3 END, 4) AS l_skew,
           |  round(CASE WHEN n_blocks >= 3 THEN
           |    t3 - (2.0 * ln(3.0) / ln(2.0) - 3.0) END, 4)
           |    AS l_skew_gap,
           |  round(mu - beta * ln(-ln(1.0 - 1.0 / 20.0)), 4) AS rl_20,
           |  round(mu - beta * ln(-ln(1.0 - 1.0 / 100.0)), 4)
           |    AS rl_100
           |FROM gp ORDER BY event_type""".stripMargin))

  /** X312: two-component 1-D Gaussian-mixture EM over document
    * lengths ([[graft.ml.Mixture.gmm2]] — the bimodality screen). The
    * oracle replays seed + all 12 EM rounds in a recursive CTE
    * carrying (π, μ₁, v₁, μ₂, v₂): densities, responsibilities, and
    * the five M-step sums written in the operator's exact expression
    * order (the q379 replay discipline; EM's smooth attracting map
    * has no sign knife-edges, so no pre-rounding is needed anywhere).
    * The operator's degenerate-collapse guard (skip update when a
    * component's mass hits zero) is unreachable on this data and not
    * modeled by the oracle — stated. */
  private val q409 = Q("q409_gmm_em",
    (s, dir) => {
      import s.implicits._
      graft.ml.Mixture.gmm2(
        t(s, dir, "documents").select($"n_chars".cast("double")
          .as("x")),
        "x", iters = 12)
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT n_chars::DOUBLE AS x FROM documents
           |  WHERE n_chars IS NOT NULL),
           |base AS (
           |  SELECT count(*)::DOUBLE AS n, min(x) AS mn, max(x) AS mx,
           |         var_pop(x) AS vp
           |  FROM d),
           |cst AS (
           |  SELECT n, mn, mx,
           |    0.000001 * (mx - mn) * (mx - mn) AS vfloor,
           |    greatest(vp / 4.0,
           |      0.000001 * (mx - mn) * (mx - mn)) AS v0
           |  FROM base),
           |fx(it, p, m1, v1, m2, v2) AS (
           |  SELECT 0, 0.5::DOUBLE, mn + (mx - mn) / 4.0, v0,
           |         mn + 3.0 * (mx - mn) / 4.0, v0
           |  FROM cst
           |  UNION ALL
           |  SELECT it + 1, sg / cst.n, sgx / sg,
           |    greatest(sgxx / sg - (sgx / sg) * (sgx / sg),
           |             cst.vfloor),
           |    (sx - sgx) / (cst.n - sg),
           |    greatest((sxx - sgxx) / (cst.n - sg)
           |        - ((sx - sgx) / (cst.n - sg))
           |          * ((sx - sgx) / (cst.n - sg)),
           |      cst.vfloor)
           |  FROM (
           |    SELECT it, sum(g) AS sg, sum(g * x) AS sgx,
           |      sum(g * x * x) AS sgxx, sum(x) AS sx,
           |      sum(x * x) AS sxx
           |    FROM (
           |      SELECT it, x,
           |        CASE WHEN p * p1 + (1.0 - p) * p2 > 0
           |             THEN p * p1 / (p * p1 + (1.0 - p) * p2)
           |             ELSE 0.5 END AS g
           |      FROM (
           |        SELECT fx.it, fx.p, d.x,
           |          exp(-(d.x - fx.m1) * (d.x - fx.m1)
           |              / (2.0 * fx.v1))
           |            / sqrt(2.0 * pi() * fx.v1) AS p1,
           |          exp(-(d.x - fx.m2) * (d.x - fx.m2)
           |              / (2.0 * fx.v2))
           |            / sqrt(2.0 * pi() * fx.v2) AS p2
           |        FROM fx, d WHERE fx.it < 12) e) r
           |    GROUP BY 1) a, cst),
           |fin AS (SELECT p, m1, v1, m2, v2 FROM fx WHERE it = 12),
           |sc AS (
           |  SELECT count(*)::BIGINT AS nn,
           |    avg(ln(fin.p * exp(-(d.x - fin.m1) * (d.x - fin.m1)
           |            / (2.0 * fin.v1)) / sqrt(2.0 * pi() * fin.v1)
           |        + (1.0 - fin.p) * exp(-(d.x - fin.m2)
           |            * (d.x - fin.m2) / (2.0 * fin.v2))
           |          / sqrt(2.0 * pi() * fin.v2))) AS ll
           |  FROM d, fin)
           |SELECT nn AS n, round(fin.p, 4) AS weight1,
           |  round(fin.m1, 4) AS mu1, round(sqrt(fin.v1), 4) AS sd1,
           |  round(fin.m2, 4) AS mu2, round(sqrt(fin.v2), 4) AS sd2,
           |  round(ll, 6) AS avg_loglik
           |FROM sc CROSS JOIN fin""".stripMargin))

  /** X313: Local Outlier Factor over the event-type × hour activity
    * profile ([[graft.ml.Lof.localOutlierFactor]] — the density-RATIO
    * anomaly score; profile cells whose (ln volume, ln value) sits in
    * a locally sparse region score ≫ 1). The catalog pins it on the
    * BOUNDED profile grain (≤ |types|×24 points at any sf — the
    * engine convention for quadratic-by-nature operators); the
    * operator itself is grid-blocked for fact-scale inputs. The
    * oracle replays brute-force with the identical 6-dp distance
    * rounding, id tie-breaks, radius truncation, and strict null
    * propagation. k = 5, radius = 0.25 (covers every profile cell's
    * 5-NN at both bench grains — measured). */
  private val q410 = Q("q410_lof_profile",
    (s, dir) => {
      import s.implicits._
      val prof = t(s, dir, "events")
        // profile cells need a nameable id: concat_ws silently DROPS a
        // null event_type (pid becomes just the hour) while the
        // oracle's || nulls the whole pid — pin non-null types (fuzz-24)
        .filter($"event_type".isNotNull && $"ts".isNotNull)
        .groupBy($"event_type", hour($"ts").as("h"))
        .agg(log(lit(1.0) + count(lit(1))).as("x"),
          // greatest(.,0): a fuzzed negative value-sum would put the
          // log out of domain (DuckDB errors where Spark nulls)
          log(lit(1.0) + greatest(coalesce(sum($"value"), lit(0.0)),
            lit(0.0))).as("y"))
        .select(concat_ws(":", $"event_type", $"h").as("pid"),
          $"x", $"y")
      graft.ml.Lof.localOutlierFactor(prof, "pid", "x", "y",
          k = 5, radius = 0.25)
        .orderBy($"pid")
    },
    Some("""WITH u AS (
           |  SELECT event_type || ':' || hour(ts) AS pid,
           |    ln(1.0 + count(*)) AS x,
           |    ln(1.0 + greatest(coalesce(sum(value), 0.0), 0.0)) AS y
           |  FROM events
           |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
           |  GROUP BY event_type, hour(ts)),
           |p AS (
           |  SELECT a.pid AS ai, b.pid AS bi,
           |    round(sqrt((a.x - b.x) * (a.x - b.x)
           |               + (a.y - b.y) * (a.y - b.y)), 6) AS d
           |  FROM u a JOIN u b ON a.pid != b.pid),
           |knn AS (
           |  SELECT * FROM (
           |    SELECT ai, bi, d, row_number() OVER (
           |        PARTITION BY ai ORDER BY d, bi) AS r
           |    FROM p WHERE d <= 0.25) z
           |  WHERE r <= 5),
           |kd AS (
           |  SELECT ai, count(*)::BIGINT AS n_neighbors,
           |    CASE WHEN count(*) >= 5 THEN max(d) END AS kdk
           |  FROM knn GROUP BY 1),
           |reach AS (
           |  SELECT knn.ai, knn.bi, knn.d,
           |    CASE WHEN nb.kdk IS NOT NULL
           |         THEN greatest(nb.kdk, knn.d) END AS rch
           |  FROM knn JOIN kd nb ON nb.ai = knn.bi),
           |lrd AS (
           |  SELECT ai,
           |    CASE WHEN count(*) = count(rch)
           |         THEN 5.0 / nullif(sum(rch), 0.0) END AS l
           |  FROM reach GROUP BY 1),
           |nbl AS (
           |  SELECT knn.ai,
           |    CASE WHEN count(*) = count(nl.l) THEN avg(nl.l) END
           |      AS avgl
           |  FROM knn JOIN lrd nl ON nl.ai = knn.bi GROUP BY 1)
           |SELECT u.pid, coalesce(kd.n_neighbors, 0) AS n_neighbors,
           |  round(kd.kdk, 6) AS k_dist,
           |  round(CASE WHEN kd.n_neighbors >= 5 THEN lrd.l END, 6)
           |    AS lrd,
           |  round(CASE WHEN kd.n_neighbors >= 5
           |        THEN nbl.avgl / lrd.l END, 4) AS lof
           |FROM u
           |  LEFT JOIN kd ON kd.ai = u.pid
           |  LEFT JOIN lrd ON lrd.ai = u.pid
           |  LEFT JOIN nbl ON nbl.ai = u.pid
           |ORDER BY pid""".stripMargin))

  /** X314: DTW distance from every event type's January daily-count
    * series to the purchase series ([[graft.events.Dtw
    * .dtwToReference]]): which activity streams run the purchase
    * SHAPE, allowing lag — the elastic-alignment question rolling
    * correlation (q209) cannot answer. The oracle replays the DP in
    * row-major flattened order as a recursive CTE whose state is the
    * trailing (m+2)-cell window of the DP matrix — every cell is
    * |aᵢ−bⱼ| + least(3 prior cells) in a fixed order, so the two
    * engines' doubles are BIT-identical (the 6-dp round is display
    * only). The calendar window is pinned in the query (Jan 2024 —
    * the fixture's span) so the series stays ≤ 31 points under any
    * fuzz regeneration and the engine's maxLen guard never bites. */
  private val q411 = Q("q411_dtw_activity",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts" >= lit("2024-01-01").cast("timestamp") &&
          $"ts" < lit("2024-02-01").cast("timestamp"))
        .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      graft.events.Dtw.dtwToReference(series, "event_type", "d", "c",
          refKey = "purchase")
        .orderBy($"event_type")
    },
    Some("""WITH RECURSIVE s AS (
           |  SELECT event_type, date_trunc('day', ts) AS d,
           |         count(*)::DOUBLE AS c
           |  FROM events
           |  WHERE ts >= TIMESTAMP '2024-01-01'
           |    AND ts < TIMESTAMP '2024-02-01'
           |  GROUP BY 1, 2),
           |arr AS (
           |  SELECT event_type, list(c ORDER BY d) AS a
           |  FROM s GROUP BY 1),
           |ref AS (SELECT a AS b FROM arr
           |        WHERE event_type = 'purchase'),
           |dims AS (
           |  SELECT arr.event_type, arr.a, ref.b,
           |         len(arr.a) AS n, len(ref.b) AS m
           |  FROM arr, ref),
           |fx(event_type, c, lst) AS (
           |  SELECT event_type, 0, [0.0::DOUBLE] FROM dims
           |  UNION ALL
           |  SELECT event_type, c1,
           |    list_slice(nl, greatest(len(nl) - m - 1, 1), len(nl))
           |  FROM (
           |    SELECT fx.event_type, fx.c + 1 AS c1, dims.m,
           |      list_append(fx.lst,
           |        CASE
           |          WHEN (fx.c + 1) % (dims.m + 1) = 0
           |            OR (fx.c + 1) // (dims.m + 1) = 0
           |          THEN 'infinity'::DOUBLE
           |          ELSE abs(dims.a[(fx.c + 1) // (dims.m + 1)]
           |                   - dims.b[(fx.c + 1) % (dims.m + 1)])
           |            + least(fx.lst[len(fx.lst)],
           |                    fx.lst[len(fx.lst) - dims.m],
           |                    fx.lst[len(fx.lst) - dims.m - 1])
           |        END) AS nl
           |    FROM fx JOIN dims
           |      ON fx.event_type IS NOT DISTINCT FROM dims.event_type
           |    WHERE fx.c < (dims.n + 1) * (dims.m + 1) - 1) z),
           |fin AS (
           |  SELECT fx.event_type, fx.lst[len(fx.lst)] AS dtw,
           |         dims.n, dims.m
           |  FROM fx JOIN dims
           |    ON fx.event_type IS NOT DISTINCT FROM dims.event_type
           |  WHERE fx.c = (dims.n + 1) * (dims.m + 1) - 1)
           |SELECT event_type, n::BIGINT AS n, m::BIGINT AS m,
           |  round(dtw, 6) AS dtw,
           |  round(dtw / (n + m)::DOUBLE, 6) AS dtw_norm
           |FROM fin ORDER BY event_type""".stripMargin))

  /** X315: content-defined chunking + cross-document chunk dedup per
    * source ([[graft.dedup.ContentChunking.contentDefinedChunks]] —
    * the FastCDC segmentation at token grain; dup_share is the
    * shared-boilerplate mass that survives doc-level near-dedup).
    * Every boundary decision is exact 64-bit integer arithmetic
    * (md5-gear & 32-bit mask, 48-bit roll), so the oracle's per-token
    * recursive replay produces bit-identical chunk sets; chunk hashes
    * are md5 of the canonical single-space token join on both sides. */
  private val q412 = Q("q412_cdc_chunks",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val ch = graft.dedup.ContentChunking.contentDefinedChunks(
        docs, "doc_id", "text",
        maskBits = 4, minTokens = 8, maxTokens = 64)
      ch.join(docs.select($"doc_id", $"source"), Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct($"chunk_hash").as("n_distinct"),
          round(lit(1.0) - countDistinct($"chunk_hash")
            .cast("double") / count(lit(1)).cast("double"), 4)
            .as("dup_share"),
          round(avg($"n_toks"), 4).as("avg_toks"))
        .orderBy($"source")
    },
    Some("""WITH RECURSIVE tok AS (
           |  SELECT doc_id, source, regexp_extract_all(text, '\S+')
           |    AS tk
           |  FROM documents WHERE text IS NOT NULL),
           |docs AS (
           |  SELECT doc_id, source, tk, len(tk) AS n
           |  FROM tok WHERE len(tk) > 0),
           |tv AS (
           |  SELECT doc_id, u.i AS pos,
           |    (md5_number_lower(tk[u.i]) & 4294967295)::BIGINT AS g
           |  FROM docs, LATERAL unnest(range(1, n + 1)) u(i)),
           |st(doc_id, pos, h, run, ends) AS (
           |  SELECT doc_id, 0, 0::BIGINT, 0, []::INT[] FROM docs
           |  UNION ALL
           |  SELECT doc_id, pos, nh,
           |    CASE WHEN cut THEN 0 ELSE nrun END,
           |    CASE WHEN cut THEN list_append(ends, pos::INT)
           |         ELSE ends END
           |  FROM (
           |    SELECT s.doc_id, s.pos + 1 AS pos, s.ends,
           |      ((s.h * 2 + g.g) & 281474976710655) AS nh,
           |      s.run + 1 AS nrun,
           |      ((s.run + 1 >= 8 AND
           |        (((s.h * 2 + g.g) & 281474976710655) & 15) = 0)
           |       OR s.run + 1 >= 64) AS cut
           |    FROM st s JOIN tv g
           |      ON g.doc_id = s.doc_id AND g.pos = s.pos + 1) z),
           |fin AS (
           |  SELECT st.doc_id, docs.source, docs.tk,
           |    CASE WHEN st.run > 0
           |         THEN list_append(st.ends, docs.n::INT)
           |         ELSE st.ends END AS ends
           |  FROM st JOIN docs USING (doc_id) WHERE st.pos = docs.n),
           |ch AS (
           |  SELECT doc_id, source, tk, ends[u.i] AS e,
           |    CASE WHEN u.i = 1 THEN 1 ELSE ends[u.i - 1] + 1 END
           |      AS s
           |  FROM fin, LATERAL unnest(range(1, len(ends) + 1)) u(i)),
           |hashed AS (
           |  SELECT source, (e - s + 1) AS n_toks,
           |    md5(array_to_string(tk[s:e], ' ')) AS chunk_hash
           |  FROM ch)
           |SELECT source, count(*)::BIGINT AS n_chunks,
           |  count(DISTINCT chunk_hash)::BIGINT AS n_distinct,
           |  round(1.0 - count(DISTINCT chunk_hash)::DOUBLE
           |    / count(*)::DOUBLE, 4) AS dup_share,
           |  round(avg(n_toks), 4) AS avg_toks
           |FROM hashed GROUP BY source ORDER BY source""".stripMargin))

  val all: Seq[Q] = Seq(q405, q406, q407, q408, q409, q410, q411,
    q412)
}
