package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-8 batches: ordinal agreement
  * (X263 weighted κ), imbalance-honest classification (X264 MCC
  * panel), exact Bayesian A/B (X265), tail risk (X266 CVaR), forecast
  * evaluation (X267 MASE), segmented OLS (X268), graph cuts
  * (X269/X270), Markov removal-effect attribution (X271), logistic
  * regression (X272), and the text/LLM batch (X274 char entropy,
  * X275 G² collocations, X276 Good–Turing, X277 corpus BLEU-4).
  */
object CatalogStats4 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X263: linear + quadratic weighted Cohen's κ between two derived
    * ordinal ratings of event value — exact integer confusion cells,
    * margin-domain-bounded grid. */
  private val q370 = Q("q370_weighted_kappa",
    (s, dir) => {
      import s.implicits._
      graft.ml.Metrics.weightedKappa(
        t(s, dir, "events").filter($"value".isNotNull)
          .select(
            least(lit(3L), floor($"value" / 25)).as("ra"),
            greatest(lit(0L), least(lit(3L),
              floor(($"value" + pmod($"event_id", lit(7)) - 3) / 25)))
              .as("rb")),
        "ra", "rb")
    },
    Some("""WITH r AS (
           |  SELECT least(3, floor(value / 25))::BIGINT AS i,
           |    greatest(0, least(3,
           |      floor((value + event_id % 7 - 3) / 25)))::BIGINT AS j
           |  FROM events WHERE value IS NOT NULL),
           |cl AS (SELECT i, j, count(*)::BIGINT AS c
           |       FROM r GROUP BY 1, 2),
           |ra AS (SELECT i, sum(c) AS ri FROM cl GROUP BY 1),
           |rb AS (SELECT j, sum(c) AS cj FROM cl GROUP BY 1),
           |g AS (
           |  SELECT ra.i, rb.j, ri, cj, coalesce(c, 0) AS c,
           |    abs(ra.i - rb.j)::DOUBLE AS d
           |  FROM ra CROSS JOIN rb
           |  LEFT JOIN cl ON cl.i = ra.i AND cl.j = rb.j),
           |n AS (SELECT sum(c)::BIGINT AS n FROM cl),
           |k AS (SELECT count(DISTINCT v)::BIGINT AS n_categories
           |      FROM (SELECT i AS v FROM r UNION ALL
           |            SELECT j FROM r)),
           |s AS (SELECT sum(d * c) AS ol, sum(d * d * c) AS oq,
           |        sum(d * ri * cj) AS el, sum(d * d * ri * cj) AS eq
           |      FROM g)
           |SELECT n, n_categories,
           |  round(1 - ol * n / nullif(el, 0), 4) AS kappa_linear,
           |  round(1 - oq * n / nullif(eq, 0), 4) AS kappa_quadratic
           |FROM n CROSS JOIN k CROSS JOIN s""".stripMargin))

  /** X264: multiclass Matthews correlation (R_K) + balanced accuracy
    * over a deterministic 1-in-5 label corruption — exact BIGINT
    * confusion margins. */
  private val q371 = Q("q371_mcc_panel",
    (s, dir) => {
      import s.implicits._
      graft.ml.Metrics.mccPanel(
        t(s, dir, "events").select(
          $"event_type".as("y"),
          when(pmod($"event_id", lit(5)) === 0, lit("view"))
            .otherwise($"event_type").as("p")),
        "y", "p")
    },
    Some("""WITH pairs AS (
           |  SELECT event_type AS y,
           |    CASE WHEN event_id % 5 = 0 THEN 'view'
           |         ELSE event_type END AS p
           |  FROM events),
           |cl AS (SELECT y, p, count(*)::BIGINT AS c
           |       FROM pairs GROUP BY 1, 2),
           |tk AS (SELECT y AS cls, sum(c) AS t FROM cl GROUP BY 1),
           |pk AS (SELECT p AS cls, sum(c) AS pc FROM cl GROUP BY 1),
           |tp AS (SELECT y AS cls, c AS tp FROM cl WHERE y = p),
           |m AS (
           |  SELECT coalesce(tk.cls, pk.cls) AS cls,
           |    coalesce(t, 0) AS t, coalesce(pc, 0) AS pc,
           |    coalesce(tp, 0) AS tp
           |  FROM tk FULL OUTER JOIN pk ON tk.cls = pk.cls
           |  LEFT JOIN tp ON coalesce(tk.cls, pk.cls) = tp.cls),
           |a AS (
           |  SELECT sum(t)::BIGINT AS s, sum(tp) AS c,
           |    sum(t * pc) AS tpdot, sum(t * t) AS tt,
           |    sum(pc * pc) AS pp,
           |    avg(CASE WHEN t > 0 THEN tp::DOUBLE / t END) AS bacc
           |  FROM m)
           |SELECT s AS n, round(c::DOUBLE / s, 4) AS accuracy,
           |  round(bacc, 4) AS balanced_accuracy,
           |  round((c * s - tpdot)::DOUBLE /
           |    nullif(sqrt((s * s - pp)::DOUBLE * (s * s - tt)::DOUBLE),
           |      0), 4) AS mcc
           |FROM a""".stripMargin))

  /** X265: exact Bayesian P(p_B > p_A) per event type over md5-parity
    * cohorts — both engines sum the identical closed-form series off
    * the SAME sequential Σln-factorial table (the q301 discipline). */
  private val q372 = Q("q372_bayes_ab",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.md5_long
      graft.de.Experiment.bayesAb(
        t(s, dir, "events").select($"event_type",
          when(md5_long($"user_id".cast("string"))
            .bitwiseAND(lit(1L)) === 0, "A").otherwise("B").as("grp"),
          when($"value" > 80, 1).otherwise(0).as("x")),
        "event_type", "grp", "x")
        .orderBy($"event_type")
    },
    Some("""WITH obs AS (
           |  SELECT event_type,
           |    CASE WHEN (md5_number_lower(CAST(user_id AS VARCHAR))
           |               & 1) = 0 THEN 'A' ELSE 'B' END AS grp,
           |    CASE WHEN value > 80 THEN 1 ELSE 0 END AS x
           |  FROM events),
           |cnt AS (
           |  SELECT event_type AS s,
           |    count(CASE WHEN grp = 'A' THEN 1 END)::BIGINT AS n_a,
           |    count(CASE WHEN grp = 'A' AND x = 1 THEN 1
           |          END)::BIGINT AS s_a,
           |    count(CASE WHEN grp = 'B' THEN 1 END)::BIGINT AS n_b,
           |    count(CASE WHEN grp = 'B' AND x = 1 THEN 1
           |          END)::BIGINT AS s_b
           |  FROM obs GROUP BY 1),
           |par AS (SELECT *, s_a + 1 AS a1, n_a - s_a + 1 AS b1,
           |          s_b + 1 AS a2, n_b - s_b + 1 AS b2
           |        FROM cnt),
           |lf AS (SELECT i AS id,
           |    sum(CASE WHEN i > 0 THEN ln(i::DOUBLE) ELSE 0 END)
           |      OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND
           |            CURRENT ROW) AS lf
           |  FROM (SELECT unnest(generate_series(0, mx + 3)) AS i
           |        FROM (SELECT max(n_a + n_b) AS mx FROM cnt))),
           |grid AS (SELECT p.*, unnest(generate_series(0, a2 - 1)) AS i
           |         FROM par p WHERE n_a > 0 AND n_b > 0),
           |terms AS (SELECT g.s,
           |    (SELECT lf FROM lf WHERE id = g.a1 + g.i - 1)
           |    + (SELECT lf FROM lf WHERE id = g.b1 + g.b2 - 1)
           |    - (SELECT lf FROM lf
           |       WHERE id = g.a1 + g.i + g.b1 + g.b2 - 1)
           |    - ln((g.b2 + g.i)::DOUBLE)
           |    - ((SELECT lf FROM lf WHERE id = g.i)
           |       + (SELECT lf FROM lf WHERE id = g.b2 - 1)
           |       - (SELECT lf FROM lf WHERE id = g.i + g.b2))
           |    - ((SELECT lf FROM lf WHERE id = g.a1 - 1)
           |       + (SELECT lf FROM lf WHERE id = g.b1 - 1)
           |       - (SELECT lf FROM lf WHERE id = g.a1 + g.b1 - 1))
           |      AS lnt
           |  FROM grid g),
           |p AS (SELECT s, sum(exp(lnt)) AS p FROM terms GROUP BY 1)
           |SELECT cnt.s AS event_type, n_a, s_a, n_b, s_b,
           |  round(s_a::DOUBLE / nullif(n_a, 0), 4) AS rate_a,
           |  round(s_b::DOUBLE / nullif(n_b, 0), 4) AS rate_b,
           |  round(p.p, 6) AS p_b_beats_a
           |FROM cnt LEFT JOIN p USING (s)
           |ORDER BY event_type""".stripMargin))

  /** X266: historical VaR + expected shortfall of daily-quantity
    * return chains per return flag — exact-integer daily series, so
    * both engines derive identical return doubles; Spark `percentile`
    * ≡ DuckDB `quantile_cont`. */
  private val q373 = Q("q373_expected_shortfall",
    (s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "lineitem")
        .filter($"l_shipdate".isNotNull) // null-instant (fuzz-37)
        .groupBy($"l_returnflag", $"l_shipdate")
        .agg(sum($"l_quantity").cast("long").as("qty"))
      graft.events.Finance.expectedShortfall(daily, "l_returnflag",
        "l_shipdate", "qty", p = 0.05)
        .orderBy($"l_returnflag")
    },
    Some("""WITH daily AS (
           |  SELECT l_returnflag, l_shipdate,
           |    sum(l_quantity)::BIGINT AS qty
           |  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1, 2),
           |r AS (
           |  SELECT l_returnflag,
           |    qty::DOUBLE / nullif(lag(qty) OVER (
           |      PARTITION BY l_returnflag ORDER BY l_shipdate), 0) - 1
           |      AS r
           |  FROM daily),
           |rr AS (SELECT * FROM r WHERE r IS NOT NULL),
           |v AS (SELECT l_returnflag, count(*)::BIGINT AS n_returns,
           |        quantile_cont(r, 0.05) AS var
           |      FROM rr GROUP BY 1)
           |SELECT rr.l_returnflag, max(n_returns) AS n_returns,
           |  round(max(var), 6) AS var_p,
           |  sum(CASE WHEN r <= var THEN 1 ELSE 0 END)::BIGINT
           |    AS n_tail,
           |  round(avg(CASE WHEN r <= var THEN r END), 6) AS es_p
           |FROM rr JOIN v USING (l_returnflag)
           |GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** X267: MASE backtest of the season-7 naive forecaster on per-type
    * daily event counts — integer series, train-half scale, test-half
    * score. */
  private val q374 = Q("q374_mase",
    (s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      graft.events.Backtest.maseSplit(daily, "event_type", "d", "c",
        season = 7).orderBy($"event_type")
    },
    Some("""WITH daily AS (
           |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |w AS (
           |  SELECT event_type, c,
           |    row_number() OVER (PARTITION BY event_type ORDER BY d)
           |      AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS n,
           |    lag(c, 7) OVER (PARTITION BY event_type ORDER BY d)
           |      AS f
           |  FROM daily),
           |t2 AS (SELECT *, rn <= n // 2 AS train FROM w)
           |SELECT event_type,
           |  sum(CASE WHEN train THEN 1 ELSE 0 END)::BIGINT AS n_train,
           |  sum(CASE WHEN NOT train AND f IS NOT NULL THEN 1 ELSE 0
           |      END)::BIGINT AS n_test_scored,
           |  round(avg(CASE WHEN NOT train AND f IS NOT NULL
           |                 THEN abs(c - f)::DOUBLE END), 4) AS test_mae,
           |  round(avg(CASE WHEN train AND f IS NOT NULL
           |                 THEN abs(c - f)::DOUBLE END), 4)
           |    AS train_scale,
           |  round(avg(CASE WHEN NOT train AND f IS NOT NULL
           |                 THEN abs(c - f)::DOUBLE END) /
           |    nullif(avg(CASE WHEN train AND f IS NOT NULL
           |                    THEN abs(c - f)::DOUBLE END), 0), 4)
           |    AS mase
           |FROM t2 GROUP BY 1
           |HAVING sum(CASE WHEN NOT train AND f IS NOT NULL THEN 1
           |           ELSE 0 END) > 0
           |ORDER BY event_type""".stripMargin))

  /** X268: segmented OLS of extended price on quantity with a knot at
    * 25 — the hinge-basis ols2, one sufficient-statistics
    * aggregate. */
  private val q375 = Q("q375_segmented_ols",
    (s, dir) => {
      graft.ml.Regression.segmented(t(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", knot = 25.0)
    },
    Some("""WITH d AS (
           |  SELECT l_extendedprice::DOUBLE AS y,
           |    l_quantity::DOUBLE AS x,
           |    greatest(0, l_quantity::DOUBLE - 25) AS h
           |  FROM lineitem
           |  WHERE l_extendedprice IS NOT NULL
           |    AND l_quantity IS NOT NULL),
           |a AS (
           |  SELECT count(*)::BIGINT AS n, sum(x) AS s1, sum(h) AS s2,
           |    sum(y) AS sy, sum(x * x) AS s11, sum(h * h) AS s22,
           |    sum(x * h) AS s12, sum(x * y) AS s1y, sum(h * y) AS s2y,
           |    sum(y * y) AS syy
           |  FROM d),
           |c AS (
           |  SELECT n, sy, s1, s2,
           |    s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
           |    s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
           |    s2y - s2 * sy / n AS c2y, syy - sy * sy / n AS cyy
           |  FROM a),
           |b AS (
           |  SELECT n, sy, s1, s2, c1y, c2y, cyy,
           |    (c1y * c22 - c2y * c12) / nullif(c11 * c22 - c12 * c12,
           |      0) AS b1,
           |    (c2y * c11 - c1y * c12) / nullif(c11 * c22 - c12 * c12,
           |      0) AS b2
           |  FROM c)
           |SELECT n, round((sy - b1 * s1 - b2 * s2) / n, 4)
           |    AS intercept,
           |  round(b1, 4) AS slope_left, round(b2, 4) AS slope_change,
           |  round(round(b1, 4) + round(b2, 4), 4) AS slope_right,
           |  round((b1 * c1y + b2 * c2y) / nullif(cyy, 0), 4) AS r2
           |FROM b""".stripMargin))

  /** Top-40 nation-trade edges by EXACT-CENTS revenue (integer sums →
    * deterministic ranking cross-engine), the bounded graph under
    * q376/q377. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val und = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(t(s, dir, "customer")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select(least($"c_nationkey", $"s_nationkey").as("a"),
        greatest($"c_nationkey", $"s_nationkey").as("b"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"a", $"b").agg(sum($"cents").as("cents"))
    und.withColumn("r", row_number().over(
        Window.orderBy($"cents".desc, $"a", $"b")))
      .filter($"r" <= 40)
      .select($"a".cast("string").as("src"),
        $"b".cast("string").as("dst"))
  }

  private val tradeEdgesSql =
    """e0 AS (
      |  SELECT least(c.c_nationkey, s.s_nationkey) AS a,
      |    greatest(c.c_nationkey, s.s_nationkey) AS b,
      |    sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2),
      |e1 AS (SELECT a, b,
      |        row_number() OVER (ORDER BY cents DESC, a, b) AS r
      |      FROM e0 QUALIFY r <= 40),
      |e AS (SELECT a::VARCHAR AS a, b::VARCHAR AS b, r FROM e1),
      |und AS (SELECT least(a, b) AS a, greatest(a, b) AS b, r FROM e),
      |nodes AS (SELECT DISTINCT a AS v FROM und
      |          UNION SELECT b FROM und),
      |sym AS (SELECT a AS u, b AS w, r FROM und
      |        UNION ALL SELECT b, a, r FROM und)""".stripMargin

  /** X269: articulation points of the top-40 trade graph — driver
    * Tarjan vs an INDEPENDENT per-candidate-removal recursive-CTE
    * reachability oracle (components counted as distinct min-reachable
    * labels; sentinel -1 exclusion = the unmodified graph). */
  private val q376 = Q("q376_articulation",
    (s, dir) => {
      import s.implicits._
      graft.graph.Cut.articulationPoints(tradeEdges(s, dir),
        "src", "dst").orderBy($"node")
    },
    Some(s"""WITH RECURSIVE $tradeEdgesSql,
           |excl AS (SELECT v AS x FROM nodes
           |         UNION ALL SELECT '-1'),
           |reach(x, s, t) AS (
           |  SELECT excl.x, n.v, n.v FROM excl, nodes n
           |  WHERE n.v <> excl.x
           |  UNION
           |  SELECT reach.x, reach.s, sym.w
           |  FROM reach JOIN sym ON sym.u = reach.t
           |  WHERE sym.w <> reach.x),
           |lab AS (SELECT x, s, min(t) AS l FROM reach GROUP BY 1, 2),
           |comp AS (SELECT x, count(DISTINCT l)::BIGINT AS nc
           |         FROM lab GROUP BY 1),
           |base AS (SELECT nc AS c0 FROM comp WHERE x = '-1'),
           |deg AS (SELECT v, count(*)::BIGINT AS degree FROM (
           |          SELECT a AS v FROM und UNION ALL SELECT b FROM und)
           |        GROUP BY 1)
           |SELECT deg.v AS node, degree, comp.nc
           |    AS components_if_removed,
           |  comp.nc > base.c0 AS is_articulation
           |FROM deg JOIN comp ON comp.x = deg.v CROSS JOIN base
           |ORDER BY node""".stripMargin))

  /** X270: bridges of the same graph — Tarjan low-link vs a
    * per-edge-removal reachability oracle (endpoint b unreachable from
    * a without that edge ⇔ bridge). */
  private val q377 = Q("q377_bridges",
    (s, dir) => {
      import s.implicits._
      graft.graph.Cut.bridgeEdges(tradeEdges(s, dir), "src", "dst")
        .orderBy($"src", $"dst")
    },
    Some(s"""WITH RECURSIVE $tradeEdgesSql,
           |rb(eid, t) AS (
           |  SELECT r, a FROM und
           |  UNION
           |  SELECT rb.eid, sym.w FROM rb
           |  JOIN sym ON sym.u = rb.t AND sym.r <> rb.eid)
           |SELECT und.a AS src, und.b AS dst,
           |  NOT EXISTS (SELECT 1 FROM rb
           |              WHERE rb.eid = und.r AND rb.t = und.b)
           |    AS is_bridge
           |FROM und ORDER BY src, dst""".stripMargin))

  /** X271: Markov-chain removal-effect attribution over user journeys
    * (channels = non-purchase event types, conversion = any
    * purchase) — the driver's fixed 200-step absorption fixpoint
    * replayed by the oracle as a recursive CTE over the same
    * transition probabilities (absorbing self-loops keep CONV/NULL in
    * the state vector). */
  private val q378 = Q("q378_markov_attribution",
    (s, dir) => {
      import s.implicits._
      graft.events.Attribution.markovRemoval(
        t(s, dir, "events").select($"user_id", $"ts", $"event_id",
          $"event_type",
          when($"event_type" === "purchase", 1).otherwise(0)
            .as("is_conv")),
        "user_id", "ts", "event_id", "event_type", "is_conv",
        iters = 200)
        .orderBy($"channel")
    },
    Some("""WITH RECURSIVE conv AS (
           |  SELECT DISTINCT user_id FROM events
           |  WHERE event_type = 'purchase'),
           |touches AS (
           |  SELECT e.user_id AS u, e.ts, e.event_id,
           |    e.event_type AS ch,
           |    CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS cv
           |  FROM events e LEFT JOIN conv c ON c.user_id = e.user_id
           |  WHERE e.event_type <> 'purchase' AND e.ts IS NOT NULL),
           |hops AS (
           |  SELECT u, ch,
           |    row_number() OVER (PARTITION BY u
           |      ORDER BY ts, event_id) AS rn,
           |    coalesce(lead(ch) OVER (PARTITION BY u
           |        ORDER BY ts, event_id),
           |      CASE WHEN cv = 1 THEN 'CONV' ELSE 'NULL' END) AS t
           |  FROM touches),
           |trans AS (
           |  SELECT f, t, count(*)::BIGINT AS n FROM (
           |    SELECT ch AS f, t FROM hops
           |    UNION ALL
           |    SELECT 'START', ch FROM hops WHERE rn = 1
           |    UNION ALL
           |    SELECT 'START', 'CONV' FROM conv
           |    WHERE user_id NOT IN (SELECT u FROM touches))
           |  GROUP BY 1, 2),
           |tot AS (SELECT sum(n)::BIGINT AS n_transitions FROM trans),
           |pm AS (
           |  SELECT f, t, n::DOUBLE / sum(n) OVER (PARTITION BY f)
           |    AS p
           |  FROM trans
           |  UNION ALL SELECT 'CONV', 'CONV', 1.0::DOUBLE
           |  UNION ALL SELECT 'NULL', 'NULL', 1.0::DOUBLE),
           |chans AS (SELECT DISTINCT ch FROM touches),
           |scen AS (SELECT ch AS sc FROM chans
           |         UNION ALL SELECT 'BASE'),
           |states AS (SELECT DISTINCT f AS st FROM pm),
           |fx(sc, it, st, p) AS (
           |  SELECT scen.sc, 0, states.st,
           |    CASE WHEN states.st = 'CONV' THEN 1.0::DOUBLE
           |         ELSE 0.0::DOUBLE END
           |  FROM scen, states
           |  UNION ALL
           |  SELECT prev.sc, prev.it + 1, pm.f,
           |    CASE WHEN pm.f = prev.sc THEN 0.0::DOUBLE
           |         ELSE sum(pm.p * CASE WHEN pm.t = prev.sc THEN 0.0
           |                              ELSE prev.p END)
           |    END
           |  FROM fx prev JOIN pm ON pm.t = prev.st
           |  WHERE prev.it < 200
           |  GROUP BY prev.sc, prev.it, pm.f),
           |fin AS (SELECT sc, st, p FROM fx WHERE it = 200),
           |pb AS (SELECT p AS base FROM fin
           |       WHERE sc = 'BASE' AND st = 'START'),
           |eff AS (
           |  SELECT chans.ch, fin.p AS prem,
           |    CASE WHEN base = 0 THEN 0.0
           |         ELSE greatest(0.0, 1 - fin.p / base) END AS re
           |  FROM chans
           |  JOIN fin ON fin.sc = chans.ch AND fin.st = 'START'
           |  CROSS JOIN pb),
           |se AS (SELECT sum(re) AS s FROM eff)
           |SELECT ch AS channel, n_transitions,
           |  round(base, 6) AS p_conv_base,
           |  round(prem, 6) AS p_conv_removed,
           |  round(re, 6) AS removal_effect,
           |  CASE WHEN s = 0 THEN NULL
           |       ELSE round(re / s, 6) END AS attribution_share
           |FROM eff CROSS JOIN pb CROSS JOIN se CROSS JOIN tot
           |ORDER BY channel""".stripMargin))

  /** X272: two-regressor logistic regression (purchase ~ value +
    * hour-of-day) — 8 fixed Newton steps, each ONE sufficient-stats
    * aggregate; the oracle replays the identical cofactor solve in a
    * recursive CTE. */
  private val q379 = Q("q379_logistic",
    (s, dir) => {
      import s.implicits._
      graft.ml.Regression.logistic2(
        t(s, dir, "events")
          .filter($"value".isNotNull && $"ts".isNotNull)
          .select(
            when($"event_type" === "purchase", 1.0).otherwise(0.0)
              .as("y"),
            ($"value" / 100).as("x1"),
            (hour($"ts") / 24).as("x2")),
        "y", "x1", "x2", iters = 8)
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT CASE WHEN event_type = 'purchase' THEN 1.0::DOUBLE
           |              ELSE 0.0::DOUBLE END AS y,
           |    value / 100 AS x1, hour(ts) / 24 AS x2
           |  FROM events
           |  WHERE value IS NOT NULL AND ts IS NOT NULL),
           |fx(it, b0, b1, b2) AS (
           |  SELECT 0, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
           |  UNION ALL
           |  SELECT it + 1,
           |    b0 + ((dd * f - e * e) * g1 + (c * e - b * f) * g2
           |          + (b * e - c * dd) * g3) / det,
           |    b1 + ((c * e - b * f) * g1 + (a * f - c * c) * g2
           |          + (b * c - a * e) * g3) / det,
           |    b2 + ((b * e - c * dd) * g1 + (b * c - a * e) * g2
           |          + (a * dd - b * b) * g3) / det
           |  FROM (
           |    SELECT agg.*,
           |      a * (dd * f - e * e) - b * (b * f - c * e)
           |        + c * (b * e - c * dd) AS det
           |    FROM (
           |      SELECT it, b0, b1, b2,
           |        sum(mu * (1 - mu)) AS a,
           |        sum(mu * (1 - mu) * x1) AS b,
           |        sum(mu * (1 - mu) * x2) AS c,
           |        sum(mu * (1 - mu) * x1 * x1) AS dd,
           |        sum(mu * (1 - mu) * x1 * x2) AS e,
           |        sum(mu * (1 - mu) * x2 * x2) AS f,
           |        sum(y - mu) AS g1, sum((y - mu) * x1) AS g2,
           |        sum((y - mu) * x2) AS g3
           |      FROM (
           |        SELECT fx.it, fx.b0, fx.b1, fx.b2, d.y, d.x1, d.x2,
           |          1 / (1 + exp(-(fx.b0 + fx.b1 * d.x1
           |                         + fx.b2 * d.x2))) AS mu
           |        FROM fx, d WHERE fx.it < 8) r
           |      GROUP BY 1, 2, 3, 4) agg) s),
           |fin AS (SELECT b0, b1, b2 FROM fx WHERE it = 8),
           |sc AS (
           |  SELECT count(*)::BIGINT AS n,
           |    sum(y * eta - ln(1 + exp(eta))) AS ll,
           |    sum(y) AS s
           |  FROM (SELECT d.y,
           |          fin.b0 + fin.b1 * d.x1 + fin.b2 * d.x2 AS eta
           |        FROM d, fin) z)
           |SELECT n,
           |  round(fin.b0, 4) AS b0, round(fin.b1, 4) AS b1,
           |  round(fin.b2, 4) AS b2,
           |  round(-2 * ll, 4) AS deviance,
           |  CASE WHEN s <= 0 OR s >= n THEN NULL
           |       ELSE round(1 - ll / (s * ln(s / n)
           |                  + (n - s) * ln(1 - s / n)), 4)
           |  END AS mcfadden_r2
           |FROM sc CROSS JOIN fin""".stripMargin))

  /** X274: per-source character-entropy profile via the codegen'd
    * `char_entropy` function — the base64/padding screen; per-doc
    * values pre-rounded 6dp before the source rollup. */
  private val q380 = Q("q380_char_entropy",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.char_entropy
      t(s, dir, "documents")
        .select($"source", round(char_entropy($"text"), 6).as("h"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg($"h"), 4).as("avg_entropy"),
          round(min($"h"), 6).as("min_entropy"),
          round(max($"h"), 6).as("max_entropy"))
        .orderBy($"source")
    },
    Some("""WITH ch AS (
           |  SELECT doc_id, source,
           |    unnest(string_split(text, '')) AS c
           |  FROM documents),
           |cnt AS (SELECT doc_id, source, c, count(*) AS k
           |        FROM ch GROUP BY 1, 2, 3),
           |tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1),
           |ent AS (
           |  SELECT cnt.source,
           |    round(-sum((k::DOUBLE / n) * ln(k::DOUBLE / n)
           |      / ln(2)), 6) AS h
           |  FROM cnt JOIN tot USING (doc_id)
           |  GROUP BY cnt.source, cnt.doc_id)
           |SELECT source, count(*)::BIGINT AS n_docs,
           |  round(avg(h), 4) AS avg_entropy,
           |  round(min(h), 6) AS min_entropy,
           |  round(max(h), 6) AS max_entropy
           |FROM ent GROUP BY 1 ORDER BY source""".stripMargin))

  /** X275: Dunning G² collocations over the corpus bigram universe —
    * top 20 by the ROUNDED score with bigram tie-break. */
  private val q381 = Q("q381_collocations",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.collocations(t(s, dir, "documents"),
        "text", minCount = 5L, topK = 20)
        .orderBy($"g2".desc, $"w1", $"w2")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id,
           |    generate_subscripts(regexp_extract_all(text, '\S+'), 1)
           |      AS p,
           |    unnest(regexp_extract_all(text, '\S+')) AS t
           |  FROM documents),
           |bg AS (
           |  SELECT a.t AS w1, b.t AS w2, count(*)::BIGINT AS k11
           |  FROM tok a JOIN tok b
           |    ON b.doc_id = a.doc_id AND b.p = a.p + 1
           |  GROUP BY 1, 2),
           |m1 AS (SELECT w1, sum(k11)::BIGINT AS c1
           |       FROM bg GROUP BY 1),
           |m2 AS (SELECT w2, sum(k11)::BIGINT AS c2
           |       FROM bg GROUP BY 1),
           |tot AS (SELECT sum(k11)::BIGINT AS nn FROM bg),
           |cells AS (
           |  SELECT bg.w1, bg.w2, k11, c1, c2, nn,
           |    c1 - k11 AS k12, c2 - k11 AS k21,
           |    nn - c1 - c2 + k11 AS k22
           |  FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2)
           |  CROSS JOIN tot WHERE k11 >= 5),
           |sc AS (
           |  SELECT w1, w2, k11,
           |    round(2 * (
           |      CASE WHEN k11 > 0 THEN k11 * ln(k11 /
           |        (c1 * c2 / nn::DOUBLE)) ELSE 0 END +
           |      CASE WHEN k12 > 0 THEN k12 * ln(k12 /
           |        (c1 * (nn - c2) / nn::DOUBLE)) ELSE 0 END +
           |      CASE WHEN k21 > 0 THEN k21 * ln(k21 /
           |        ((nn - c1) * c2 / nn::DOUBLE)) ELSE 0 END +
           |      CASE WHEN k22 > 0 THEN k22 * ln(k22 /
           |        ((nn - c1) * (nn - c2) / nn::DOUBLE)) ELSE 0 END),
           |      4) AS g2
           |  FROM cells)
           |SELECT w1, w2, k11 AS n11, g2 FROM sc
           |ORDER BY g2 DESC, w1 || ' ' || w2 LIMIT 20""".stripMargin))

  /** X276: Good–Turing unseen-mass panel per source. */
  private val q382 = Q("q382_good_turing",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.goodTuring(t(s, dir, "documents"),
        "source", "text").orderBy($"source")
    },
    Some("""WITH tc AS (
           |  SELECT source, t, count(*)::BIGINT AS c FROM (
           |    SELECT source, unnest(regexp_extract_all(text, '\S+'))
           |      AS t
           |    FROM documents) GROUP BY 1, 2)
           |SELECT source, sum(c)::BIGINT AS n_tokens,
           |  count(*)::BIGINT AS vocab,
           |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
           |  sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
           |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) /
           |    sum(c)::DOUBLE, 6) AS p_unseen,
           |  round(2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) /
           |    nullif(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)::DOUBLE,
           |    4) AS r_star_1
           |FROM tc GROUP BY 1 ORDER BY source""".stripMargin))

  /** X277: corpus BLEU-4 of each document against its own 80%-prefix
    * "reference" — clipping, geometric mean, and brevity penalty all
    * exercised on a deterministic pair construction. */
  private val q383 = Q("q383_bleu",
    (s, dir) => {
      import s.implicits._
      val toks = graft.text.TextAnalysis.tokens($"text")
      val cut = greatest(lit(1),
        floor(size(toks) * 4 / 5).cast("int"))
      val pairs = t(s, dir, "documents")
        .select($"doc_id", $"text".as("cand"),
          array_join(slice(toks, lit(1), cut), " ").as("ref"))
      graft.text.Relevance.bleuCorpus(pairs, "doc_id", "cand", "ref")
    },
    Some("""WITH pairs AS (
           |  SELECT doc_id, text AS cand,
           |    array_to_string(list_slice(
           |      regexp_extract_all(text, '\S+'), 1,
           |      greatest(1, (len(regexp_extract_all(text, '\S+'))
           |                   * 4) // 5)), ' ') AS ref
           |  FROM documents),
           |cl AS (SELECT doc_id, regexp_extract_all(cand, '\S+')
           |         AS l FROM pairs),
           |rl AS (SELECT doc_id, regexp_extract_all(ref, '\S+')
           |         AS l FROM pairs),
           |ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
           |gc0 AS (SELECT doc_id, n, l,
           |          unnest(generate_series(1, len(l) - n + 1)) AS i
           |        FROM cl CROSS JOIN ns),
           |gr0 AS (SELECT doc_id, n, l,
           |          unnest(generate_series(1, len(l) - n + 1)) AS i
           |        FROM rl CROSS JOIN ns),
           |gc AS (SELECT doc_id, n,
           |         array_to_string(list_slice(l, i, i + n - 1), ' ')
           |           AS g, count(*) AS cc
           |       FROM gc0 GROUP BY 1, 2, 3),
           |gr AS (SELECT doc_id, n,
           |         array_to_string(list_slice(l, i, i + n - 1), ' ')
           |           AS g, count(*) AS cr
           |       FROM gr0 GROUP BY 1, 2, 3),
           |pn AS (SELECT n,
           |         sum(least(cc, coalesce(cr, 0)))::DOUBLE /
           |           nullif(sum(cc), 0) AS p
           |       FROM gc LEFT JOIN gr USING (doc_id, n, g)
           |       GROUP BY 1),
           |pv AS (SELECT max(CASE WHEN n = 1 THEN p END) AS p1,
           |         max(CASE WHEN n = 2 THEN p END) AS p2,
           |         max(CASE WHEN n = 3 THEN p END) AS p3,
           |         max(CASE WHEN n = 4 THEN p END) AS p4
           |       FROM pn),
           |lens AS (
           |  SELECT count(*)::BIGINT AS n_pairs,
           |    sum(len(regexp_extract_all(cand, '\S+')))::BIGINT AS c,
           |    sum(len(regexp_extract_all(ref, '\S+')))::BIGINT AS r
           |  FROM pairs)
           |SELECT n_pairs,
           |  round(p1, 6) AS p1, round(p2, 6) AS p2,
           |  round(p3, 6) AS p3, round(p4, 6) AS p4,
           |  round(CASE WHEN c >= r THEN 1.0::DOUBLE
           |             ELSE exp(1 - r::DOUBLE / c) END, 6)
           |    AS brevity_penalty,
           |  round(CASE
           |      WHEN p1 IS NULL OR p2 IS NULL OR p3 IS NULL
           |        OR p4 IS NULL THEN NULL
           |      WHEN p1 > 0 AND p2 > 0 AND p3 > 0 AND p4 > 0
           |      THEN (CASE WHEN c >= r THEN 1.0::DOUBLE
           |                 ELSE exp(1 - r::DOUBLE / c) END) *
           |        exp((ln(p1) + ln(p2) + ln(p3) + ln(p4)) / 4)
           |      ELSE 0.0::DOUBLE END, 6) AS bleu
           |FROM lens CROSS JOIN pv""".stripMargin))

  /** X279: Poisson regression of per-(type, day) event counts on
    * weekday and day-of-month trend (log link, 8 fixed Newton steps; recursive-CTE
    * replay oracle — the q379 discipline with W = mu). */
  private val q384 = Q("q384_poisson",
    (s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).cast("double").as("y"))
        .select($"y",
          ((dayofweek($"d") - 1) / lit(7.0)).as("x1"),
          (dayofmonth($"d") / lit(31.0)).as("x2"))
      graft.ml.Regression.poisson2(daily, "y", "x1", "x2", iters = 8)
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT y, dayofweek(dd) / 7.0 AS x1,
           |    day(dd) / 31.0 AS x2
           |  FROM (SELECT event_type, ts::DATE AS dd,
           |          count(*)::DOUBLE AS y
           |        FROM events WHERE ts IS NOT NULL
           |        GROUP BY 1, 2)),
           |fx(it, b0, b1, b2) AS (
           |  SELECT 0, ln((SELECT avg(y) FROM d)), 0.0::DOUBLE,
           |    0.0::DOUBLE
           |  UNION ALL
           |  SELECT it + 1,
           |    b0 + ((dd * f - e * e) * g1 + (c * e - b * f) * g2
           |          + (b * e - c * dd) * g3) / det,
           |    b1 + ((c * e - b * f) * g1 + (a * f - c * c) * g2
           |          + (b * c - a * e) * g3) / det,
           |    b2 + ((b * e - c * dd) * g1 + (b * c - a * e) * g2
           |          + (a * dd - b * b) * g3) / det
           |  FROM (
           |    SELECT agg.*,
           |      a * (dd * f - e * e) - b * (b * f - c * e)
           |        + c * (b * e - c * dd) AS det
           |    FROM (
           |      SELECT it, b0, b1, b2,
           |        sum(mu) AS a, sum(mu * x1) AS b, sum(mu * x2) AS c,
           |        sum(mu * x1 * x1) AS dd, sum(mu * x1 * x2) AS e,
           |        sum(mu * x2 * x2) AS f,
           |        sum(y - mu) AS g1, sum((y - mu) * x1) AS g2,
           |        sum((y - mu) * x2) AS g3
           |      FROM (
           |        SELECT fx.it, fx.b0, fx.b1, fx.b2, d.y, d.x1, d.x2,
           |          exp(fx.b0 + fx.b1 * d.x1 + fx.b2 * d.x2) AS mu
           |        FROM fx, d WHERE fx.it < 8) r
           |      GROUP BY 1, 2, 3, 4) agg) s),
           |fin AS (SELECT b0, b1, b2 FROM fx WHERE it = 8),
           |sc AS (
           |  SELECT count(*)::BIGINT AS n,
           |    sum(2 * (CASE WHEN y > 0 THEN y * ln(y / mu)
           |             ELSE 0 END - (y - mu))) AS dev,
           |    avg(y) AS m
           |  FROM (SELECT d.y,
           |          exp(fin.b0 + fin.b1 * d.x1 + fin.b2 * d.x2) AS mu
           |        FROM d, fin) z)
           |SELECT n, round(fin.b0, 4) AS b0, round(fin.b1, 4) AS b1,
           |  round(fin.b2, 4) AS b2, round(dev, 4) AS deviance,
           |  round(m, 4) AS mean_rate
           |FROM sc CROSS JOIN fin""".stripMargin))

  /** X278: Huber robust regression of extended price on quantity and
    * discount — OLS start, one MAD scale fix, 4 fixed IRLS steps; the
    * oracle replays OLS + scale + the weighted-solve recursion. */
  private val q385 = Q("q385_huber",
    (s, dir) => {
      // exactScale pinned: the DuckDB oracle replays the EXACT
      // recursive median/MAD, so the approx_percentile dispatch path
      // (valid for the library at fact scale) would diverge from it at
      // sf where lineitem exceeds the 4M dispatch threshold; pinning
      // also drops the per-call count() probe job
      graft.ml.Regression.huber2(t(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", "l_discount", iters = 4,
        exactScale = Some(true))
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT l_extendedprice::DOUBLE AS y,
           |    l_quantity::DOUBLE AS x1, l_discount::DOUBLE AS x2
           |  FROM lineitem
           |  WHERE l_extendedprice IS NOT NULL
           |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
           |ols AS (
           |  SELECT (sy - b1 * s1 - b2 * s2) / sw AS b0, b1, b2 FROM (
           |    SELECT sw, s1, s2, sy,
           |      (c1y * c22 - c2y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b1,
           |      (c2y * c11 - c1y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b2
           |    FROM (
           |      SELECT sw, s1, s2, sy,
           |        s11 - s1 * s1 / sw AS c11, s22 - s2 * s2 / sw AS c22,
           |        s12 - s1 * s2 / sw AS c12, s1y - s1 * sy / sw AS c1y,
           |        s2y - s2 * sy / sw AS c2y
           |      FROM (
           |        SELECT count(*)::DOUBLE AS sw, sum(x1) AS s1,
           |          sum(x2) AS s2, sum(y) AS sy, sum(x1 * x1) AS s11,
           |          sum(x2 * x2) AS s22, sum(x1 * x2) AS s12,
           |          sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
           |        FROM d) a) c) b),
           |med AS (SELECT quantile_cont(y - b0 - b1 * x1 - b2 * x2,
           |          0.5) AS m
           |        FROM d, ols),
           |sca AS (SELECT quantile_cont(abs(y - b0 - b1 * x1
           |          - b2 * x2 - m), 0.5) / 0.6745 AS sc
           |        FROM d, ols, med),
           |fx(it, b0, b1, b2) AS (
           |  SELECT 0, b0, b1, b2 FROM ols
           |  UNION ALL
           |  SELECT it + 1, (sy - b1n * s1 - b2n * s2) / sw, b1n, b2n
           |  FROM (
           |    SELECT it, sw, s1, s2, sy,
           |      (c1y * c22 - c2y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b1n,
           |      (c2y * c11 - c1y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b2n
           |    FROM (
           |      SELECT it, sw, s1, s2, sy,
           |        s11 - s1 * s1 / sw AS c11, s22 - s2 * s2 / sw AS c22,
           |        s12 - s1 * s2 / sw AS c12, s1y - s1 * sy / sw AS c1y,
           |        s2y - s2 * sy / sw AS c2y
           |      FROM (
           |        SELECT it, sum(w) AS sw, sum(w * x1) AS s1,
           |          sum(w * x2) AS s2, sum(w * y) AS sy,
           |          sum(w * x1 * x1) AS s11, sum(w * x2 * x2) AS s22,
           |          sum(w * x1 * x2) AS s12, sum(w * x1 * y) AS s1y,
           |          sum(w * x2 * y) AS s2y
           |        FROM (
           |          SELECT fx.it, d.*,
           |            least(1.0::DOUBLE, 1.345 * sca.sc /
           |              abs(d.y - fx.b0 - fx.b1 * d.x1
           |                  - fx.b2 * d.x2)) AS w
           |          FROM fx, d, sca WHERE fx.it < 4) r
           |        GROUP BY 1) a) c) b),
           |fin AS (SELECT b0, b1, b2 FROM fx WHERE it = 4),
           |sh AS (
           |  SELECT count(*)::BIGINT AS n,
           |    avg(CASE WHEN 1.345 * sca.sc /
           |          abs(y - fin.b0 - fin.b1 * x1 - fin.b2 * x2) < 1
           |        THEN 1.0 ELSE 0.0 END) AS share
           |  FROM d, fin, sca)
           |SELECT n, round(fin.b0, 4) AS b0, round(fin.b1, 4) AS b1,
           |  round(fin.b2, 4) AS b2,
           |  round(sca.sc, 6) AS scale,
           |  round(share, 4) AS share_downweighted
           |FROM sh CROSS JOIN fin CROSS JOIN sca""".stripMargin))

  /** X280: single-covariate Cox proportional hazards of customer
    * churn duration on scaled account balance — fixed-8-step Newton
    * on the Breslow partial likelihood; the oracle recomputes the
    * risk-set sums by an INDEPENDENT t2 >= t join (no window) inside
    * a recursive CTE, and Simpson-integrates the Wald tail. */
  private val q386 = Q("q386_cox_ph",
    (s, dir) => {
      import s.implicits._
      val u = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(to_date(min($"o_orderdate")).as("fd"),
          to_date(max($"o_orderdate")).as("ld"))
      val mx = u.agg(max($"ld").as("md"))
      val subj = u.crossJoin(broadcast(mx))
        .join(broadcast(t(s, dir, "customer")),
          $"o_custkey" === $"c_custkey")
        .select(datediff($"ld", $"fd").cast("double").as("dur"),
          when(datediff($"md", $"ld") > 180, 1).otherwise(0).as("ev"),
          ($"c_acctbal" / 10000).as("x"))
      graft.de.Survival.coxPh(subj, "dur", "ev", "x", iters = 8)
    },
    Some("""WITH RECURSIVE u AS (
           |  SELECT o_custkey, min(o_orderdate::DATE) AS fd,
           |         max(o_orderdate::DATE) AS ld
           |  FROM orders GROUP BY 1),
           |mx AS (SELECT max(ld) AS md FROM u),
           |subj AS (
           |  -- complete-case on the covariate mirrors coxPh (fuzz-24:
           |  -- a fuzzed null balance inflated n while exp(beta*NULL)
           |  -- silently dropped the row from every risk-set sum)
           |  SELECT datediff('day', fd, ld)::DOUBLE AS t,
           |    CASE WHEN datediff('day', ld, md) > 180 THEN 1
           |         ELSE 0 END AS e,
           |    c.c_acctbal / 10000 AS x
           |  FROM u CROSS JOIN mx
           |  JOIN customer c ON c.c_custkey = u.o_custkey
           |  -- covariate AND time-axis complete-case (coxPh filters
           |  -- both; fuzz-48 all-null-date subjects count toward n
           |  -- otherwise while never entering a risk set)
           |  WHERE c.c_acctbal IS NOT NULL AND fd IS NOT NULL),
           |cells AS (SELECT t, x, count(*)::BIGINT AS n,
           |            sum(e)::BIGINT AS d
           |          FROM subj GROUP BY 1, 2),
           |fx(it, beta) AS (
           |  SELECT 0, 0.0::DOUBLE
           |  UNION ALL
           |  SELECT it + 1, beta + u / i FROM (
           |    SELECT a.it, a.beta,
           |      sum(a.sx - a.d * rs.s1 / rs.s0) AS u,
           |      sum(a.d * (rs.s2 / rs.s0
           |          - (rs.s1 / rs.s0) * (rs.s1 / rs.s0))) AS i
           |    FROM (SELECT c2.it, c2.beta, c2.t,
           |        sum(c2.w) AS w0, sum(c2.x * c2.w) AS w1,
           |        sum(c2.x * c2.x * c2.w) AS w2,
           |        sum(c2.d) AS d, sum(c2.d * c2.x) AS sx
           |      FROM (SELECT fx.it, fx.beta, c.t, c.x, c.n, c.d,
           |              c.n * exp(fx.beta * c.x) AS w
           |            FROM fx, cells c WHERE fx.it < 8) c2
           |      GROUP BY 1, 2, 3) a
           |    JOIN LATERAL (
           |      SELECT sum(b.w0) AS s0, sum(b.w1) AS s1,
           |        sum(b.w2) AS s2
           |      FROM (SELECT c2.it, c2.beta, c2.t,
           |        sum(c2.w) AS w0, sum(c2.x * c2.w) AS w1,
           |        sum(c2.x * c2.x * c2.w) AS w2,
           |        sum(c2.d) AS d, sum(c2.d * c2.x) AS sx
           |      FROM (SELECT fx.it, fx.beta, c.t, c.x, c.n, c.d,
           |              c.n * exp(fx.beta * c.x) AS w
           |            FROM fx, cells c WHERE fx.it < 8) c2
           |      GROUP BY 1, 2, 3) b
           |      WHERE b.it = a.it AND b.t >= a.t) rs ON true
           |    WHERE a.d > 0
           |    GROUP BY 1, 2) st),
           |fin AS (SELECT beta FROM fx WHERE it = 8),
           |inf AS (
           |  SELECT sum(a.d * (rs.s2 / rs.s0
           |      - (rs.s1 / rs.s0) * (rs.s1 / rs.s0))) AS i
           |  FROM (SELECT c2.t,
           |        sum(c2.w) AS w0, sum(c2.x * c2.w) AS w1,
           |        sum(c2.x * c2.x * c2.w) AS w2,
           |        sum(c2.d) AS d, sum(c2.d * c2.x) AS sx
           |      FROM (SELECT c.t, c.x, c.n, c.d,
           |              c.n * exp(fin.beta * c.x) AS w
           |            FROM cells c, fin) c2
           |      GROUP BY 1) a
           |  JOIN LATERAL (
           |    SELECT sum(b.w0) AS s0, sum(b.w1) AS s1,
           |      sum(b.w2) AS s2
           |    FROM (SELECT c2.t,
           |        sum(c2.w) AS w0, sum(c2.x * c2.w) AS w1,
           |        sum(c2.x * c2.x * c2.w) AS w2,
           |        sum(c2.d) AS d, sum(c2.d * c2.x) AS sx
           |      FROM (SELECT c.t, c.x, c.n, c.d,
           |              c.n * exp(fin.beta * c.x) AS w
           |            FROM cells c, fin) c2
           |      GROUP BY 1) b WHERE b.t >= a.t) rs ON true
           |  WHERE a.d > 0),
           |tots AS (SELECT sum(n)::BIGINT AS n, sum(d)::BIGINT AS ne
           |         FROM cells),
           |stat AS (
           |  SELECT fin.beta, 1.0 / sqrt(inf.i) AS se,
           |    fin.beta * sqrt(inf.i) AS z
           |  FROM fin, inf),
           |grid AS (SELECT abs(z) AS az,
           |           unnest(generate_series(0, 20000)) AS i
           |         FROM stat),
           |pts AS (SELECT az * i / 20000 AS xg,
           |          CASE WHEN i = 0 OR i = 20000 THEN 1
           |               WHEN i % 2 = 1 THEN 4 ELSE 2 END AS wt,
           |          az / 20000 AS h
           |        FROM grid),
           |ig AS (SELECT sum(wt * exp(-xg * xg / 2)) * max(h) / 3.0
           |         / sqrt(2 * pi()) AS phi
           |       FROM pts)
           |SELECT tots.n, tots.ne AS n_events,
           |  round(stat.beta, 4) AS beta,
           |  round(exp(stat.beta), 4) AS hazard_ratio,
           |  round(stat.se, 4) AS se, round(stat.z, 4) AS z,
           |  round(1.0 - 2.0 * ig.phi, 6) AS p_value
           |FROM tots, stat, ig""".stripMargin))

  /** X281: per-source average ROUGE-L of each sampled doc's 12-token
    * prefix against the NEXT doc's 10-token prefix — the kernel's DP
    * LCS vs an INDEPENDENT longest-increasing-chain recursive-CTE
    * oracle over match positions. */
  private val q387 = Q("q387_rouge_l",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      def prefix(c: org.apache.spark.sql.Column, k: Int) =
        array_join(slice(graft.text.TextAnalysis.tokens(c),
          lit(1), lit(k)), " ")
      val pairs = t(s, dir, "documents")
        .withColumn("nxt", lead($"text", 1).over(w))
        .filter($"nxt".isNotNull && pmod($"doc_id", lit(17)) === 0)
        .select($"source", $"doc_id",
          prefix($"text", 12).as("cand"),
          prefix($"nxt", 10).as("ref"))
      graft.text.Relevance.rougeL(pairs, "doc_id", "cand", "ref")
        .join(pairs.select($"doc_id", $"source"), Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"lcs").as("sum_lcs"),
          round(avg($"f1"), 4).as("avg_f1"))
        .orderBy($"source")
    },
    Some("""WITH RECURSIVE docs2 AS (
           |  SELECT source, doc_id,
           |    lead(text) OVER (PARTITION BY source ORDER BY doc_id)
           |      AS nxt, text
           |  FROM documents),
           |pairs AS (
           |  SELECT source, doc_id,
           |    list_slice(regexp_extract_all(text, '\S+'), 1, 12)
           |      AS ct,
           |    list_slice(regexp_extract_all(nxt, '\S+'), 1, 10)
           |      AS rt
           |  FROM docs2
           |  WHERE nxt IS NOT NULL AND doc_id % 17 = 0),
           |ctok AS (SELECT doc_id, generate_subscripts(ct, 1) AS i,
           |           unnest(ct) AS t FROM pairs),
           |rtok AS (SELECT doc_id, generate_subscripts(rt, 1) AS j,
           |           unnest(rt) AS t FROM pairs),
           |m AS (SELECT c.doc_id, c.i, r.j
           |      FROM ctok c JOIN rtok r
           |        ON r.doc_id = c.doc_id AND r.t = c.t),
           |chain(doc_id, i, j, l) AS (
           |  SELECT doc_id, i, j, 1 FROM m
           |  UNION
           |  SELECT m.doc_id, m.i, m.j, chain.l + 1
           |  FROM chain JOIN m ON m.doc_id = chain.doc_id
           |    AND m.i > chain.i AND m.j > chain.j),
           |lcs AS (SELECT doc_id, max(l)::BIGINT AS lcs
           |        FROM chain GROUP BY 1),
           |sc AS (
           |  SELECT p.source, p.doc_id,
           |    coalesce(lcs.lcs, 0) AS lcs,
           |    len(ct)::BIGINT AS cl, len(rt)::BIGINT AS rl
           |  FROM pairs p LEFT JOIN lcs USING (doc_id)),
           |f AS (
           |  SELECT source, doc_id, lcs,
           |    lcs / nullif(cl, 0)::DOUBLE AS p,
           |    lcs / nullif(rl, 0)::DOUBLE AS r
           |  FROM sc)
           |SELECT source, count(*)::BIGINT AS n_pairs,
           |  sum(lcs)::BIGINT AS sum_lcs,
           |  round(avg(round(CASE
           |      WHEN p IS NULL OR r IS NULL THEN NULL
           |      WHEN p + r = 0 THEN 0.0
           |      ELSE 2 * p * r / (p + r) END, 4)), 4) AS avg_f1
           |FROM f GROUP BY 1 ORDER BY source""".stripMargin))

  /** X282: split-conformal interval for a fixed linear price model —
    * exact order-statistic calibration quantile, parity split,
    * test-half realized coverage. */
  private val q388 = Q("q388_conformal",
    (s, dir) => {
      import s.implicits._
      graft.ml.Conformal.splitConformal(
        t(s, dir, "lineitem").select(
          ($"l_orderkey" * 10 + $"l_linenumber").as("id"),
          $"l_extendedprice".as("y"),
          ($"l_quantity" * 1000 + 500).as("pred"),
          pmod($"l_orderkey", lit(2)).cast("int").as("cal")),
        "id", "y", "pred", "cal", alpha = 0.1)
    },
    Some("""WITH res AS (
           |  -- r IS NOT NULL mirrors the operator's complete-case on
           |  -- the residual: a fuzzed null price/quantity otherwise
           |  -- inflates n_cal and parks nulls at the tail of the
           |  -- calibration order where rank_k lands on one (fuzz-20)
           |  SELECT l_orderkey * 10 + l_linenumber AS id,
           |    abs(l_extendedprice - (l_quantity * 1000 + 500))::DOUBLE
           |      AS r,
           |    l_orderkey % 2 = 1 AS cal
           |  FROM lineitem
           |  WHERE l_extendedprice IS NOT NULL
           |    AND l_quantity IS NOT NULL),
           |nc AS (SELECT count(*)::BIGINT AS n_cal FROM res
           |       WHERE cal),
           |k AS (SELECT n_cal,
           |        ceil((n_cal + 1) * 0.9)::BIGINT AS rank_k
           |      FROM nc),
           |q AS (
           |  SELECT r AS qv FROM (
           |    SELECT r, row_number() OVER (ORDER BY r, id) AS rn
           |    FROM res WHERE cal) x, k
           |  WHERE x.rn = k.rank_k),
           |tst AS (
           |  SELECT count(*)::BIGINT AS n_test,
           |    avg(CASE WHEN r <= (SELECT qv FROM q) THEN 1.0
           |             ELSE 0.0 END) AS cov
           |  FROM res WHERE NOT cal)
           |SELECT k.n_cal, tst.n_test, k.rank_k,
           |  round((SELECT qv FROM q), 6) AS q_hat,
           |  0.9::DOUBLE AS target,
           |  CASE WHEN (SELECT qv FROM q) IS NULL THEN NULL
           |       ELSE round(cov, 4) END AS coverage,
           |  round(2 * (SELECT qv FROM q), 6) AS mean_width
           |FROM k CROSS JOIN tst""".stripMargin))

  /** X283: doubly-robust AIPW ATE of "afternoon" on event value —
    * propensity from the q379 logistic recursion, outcome models from
    * two q375-style OLS closed forms, one scored aggregate; the
    * oracle replays the entire composed recipe. */
  private val q389 = Q("q389_aipw_ate",
    (s, dir) => {
      import s.implicits._
      graft.ml.Causal.aipwAte(
        t(s, dir, "events")
          .filter($"value".isNotNull && $"ts".isNotNull)
          .select(
            when(hour($"ts") >= 12, 1.0).otherwise(0.0).as("t"),
            $"value".as("y"),
            ((dayofweek($"ts") - 1) / lit(7.0)).as("x1"),
            (pmod($"user_id", lit(10)) / lit(10.0)).as("x2")),
        "t", "y", "x1", "x2", iters = 8, clip = 0.01)
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT CASE WHEN hour(ts) >= 12 THEN 1.0::DOUBLE
           |              ELSE 0.0::DOUBLE END AS t,
           |    value::DOUBLE AS y, dayofweek(ts) / 7.0 AS x1,
           |    (user_id % 10) / 10.0 AS x2
           |  FROM events
           |  WHERE value IS NOT NULL AND ts IS NOT NULL),
           |fx(it, b0, b1, b2) AS (
           |  SELECT 0, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
           |  UNION ALL
           |  SELECT it + 1,
           |    b0 + ((dd * f - e * e) * g1 + (c * e - b * f) * g2
           |          + (b * e - c * dd) * g3) / det,
           |    b1 + ((c * e - b * f) * g1 + (a * f - c * c) * g2
           |          + (b * c - a * e) * g3) / det,
           |    b2 + ((b * e - c * dd) * g1 + (b * c - a * e) * g2
           |          + (a * dd - b * b) * g3) / det
           |  FROM (
           |    SELECT agg.*,
           |      a * (dd * f - e * e) - b * (b * f - c * e)
           |        + c * (b * e - c * dd) AS det
           |    FROM (
           |      SELECT it, b0, b1, b2,
           |        sum(mu * (1 - mu)) AS a,
           |        sum(mu * (1 - mu) * x1) AS b,
           |        sum(mu * (1 - mu) * x2) AS c,
           |        sum(mu * (1 - mu) * x1 * x1) AS dd,
           |        sum(mu * (1 - mu) * x1 * x2) AS e,
           |        sum(mu * (1 - mu) * x2 * x2) AS f,
           |        sum(t - mu) AS g1, sum((t - mu) * x1) AS g2,
           |        sum((t - mu) * x2) AS g3
           |      FROM (
           |        SELECT fx.it, fx.b0, fx.b1, fx.b2, d.t, d.x1, d.x2,
           |          1 / (1 + exp(-(fx.b0 + fx.b1 * d.x1
           |                         + fx.b2 * d.x2))) AS mu
           |        FROM fx, d WHERE fx.it < 8) r
           |      GROUP BY 1, 2, 3, 4) agg) s2),
           |g AS (SELECT b0, b1, b2 FROM fx WHERE it = 8),
           |bt AS (
           |  SELECT (sy - b1 * s1 - b2 * s2) / sw AS b0, b1, b2 FROM (
           |    SELECT sw, s1, s2, sy,
           |      (c1y * c22 - c2y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b1,
           |      (c2y * c11 - c1y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b2
           |    FROM (
           |      SELECT sw, s1, s2, sy,
           |        s11 - s1 * s1 / sw AS c11, s22 - s2 * s2 / sw AS c22,
           |        s12 - s1 * s2 / sw AS c12, s1y - s1 * sy / sw AS c1y,
           |        s2y - s2 * sy / sw AS c2y
           |      FROM (
           |        SELECT count(*)::DOUBLE AS sw, sum(x1) AS s1,
           |          sum(x2) AS s2, sum(y) AS sy, sum(x1 * x1) AS s11,
           |          sum(x2 * x2) AS s22, sum(x1 * x2) AS s12,
           |          sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
           |        FROM d WHERE t = 1.0) a) c) b),
           |bc AS (
           |  SELECT (sy - b1 * s1 - b2 * s2) / sw AS b0, b1, b2 FROM (
           |    SELECT sw, s1, s2, sy,
           |      (c1y * c22 - c2y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b1,
           |      (c2y * c11 - c1y * c12) / nullif(c11 * c22 - c12 * c12,
           |        0) AS b2
           |    FROM (
           |      SELECT sw, s1, s2, sy,
           |        s11 - s1 * s1 / sw AS c11, s22 - s2 * s2 / sw AS c22,
           |        s12 - s1 * s2 / sw AS c12, s1y - s1 * sy / sw AS c1y,
           |        s2y - s2 * sy / sw AS c2y
           |      FROM (
           |        SELECT count(*)::DOUBLE AS sw, sum(x1) AS s1,
           |          sum(x2) AS s2, sum(y) AS sy, sum(x1 * x1) AS s11,
           |          sum(x2 * x2) AS s22, sum(x1 * x2) AS s12,
           |          sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
           |        FROM d WHERE t = 0.0) a) c) b),
           |z AS (
           |  SELECT d.t, d.y,
           |    least(0.99, greatest(0.01,
           |      1 / (1 + exp(-(g.b0 + g.b1 * d.x1 + g.b2 * d.x2)))))
           |      AS e,
           |    bt.b0 + bt.b1 * d.x1 + bt.b2 * d.x2 AS m1,
           |    bc.b0 + bc.b1 * d.x1 + bc.b2 * d.x2 AS m0
           |  FROM d, g, bt, bc),
           |sc AS (
           |  SELECT count(*)::BIGINT AS n,
           |    sum(t)::DOUBLE AS nt,
           |    avg(CASE WHEN t = 1.0 THEN y END) AS my1,
           |    avg(CASE WHEN t = 0.0 THEN y END) AS my0,
           |    avg(m1 - m0) AS reg,
           |    avg((m1 - m0) + t * (y - m1) / e
           |        - (1 - t) * (y - m0) / (1 - e)) AS aipw,
           |    avg(e) AS pe
           |  FROM z)
           |SELECT n, round(nt)::BIGINT AS n_treated,
           |  round(my1 - my0, 4) AS ate_naive,
           |  round(reg, 4) AS ate_regression,
           |  round(aipw, 4) AS ate_aipw,
           |  round(pe, 4) AS mean_propensity
           |FROM sc""".stripMargin))

  /** X284: Hosmer–Lemeshow decile GOF of the q379 logistic fit —
    * ntile bins over the deterministic (p̂, id) order, exact even-dof
    * χ²₈ closed-form tail. */
  private val q390 = Q("q390_hosmer_lemeshow",
    (s, dir) => {
      import s.implicits._
      val scored = graft.ml.Regression.logisticScore(
        t(s, dir, "events")
          .filter($"value".isNotNull && $"ts".isNotNull)
          .select($"event_id",
            when($"event_type" === "purchase", 1.0).otherwise(0.0)
              .as("y"),
            ($"value" / 100).as("x1"),
            (hour($"ts") / 24).as("x2")),
        "y", "x1", "x2", iters = 8)
      graft.ml.Calibration.hosmerLemeshow(scored, "y", "p_hat",
        "event_id", bins = 10)
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT event_id,
           |    CASE WHEN event_type = 'purchase' THEN 1.0::DOUBLE
           |         ELSE 0.0::DOUBLE END AS y,
           |    value / 100 AS x1, hour(ts) / 24 AS x2
           |  FROM events
           |  WHERE value IS NOT NULL AND ts IS NOT NULL),
           |fx(it, b0, b1, b2) AS (
           |  SELECT 0, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
           |  UNION ALL
           |  SELECT it + 1,
           |    b0 + ((dd * f - e * e) * g1 + (c * e - b * f) * g2
           |          + (b * e - c * dd) * g3) / det,
           |    b1 + ((c * e - b * f) * g1 + (a * f - c * c) * g2
           |          + (b * c - a * e) * g3) / det,
           |    b2 + ((b * e - c * dd) * g1 + (b * c - a * e) * g2
           |          + (a * dd - b * b) * g3) / det
           |  FROM (
           |    SELECT agg.*,
           |      a * (dd * f - e * e) - b * (b * f - c * e)
           |        + c * (b * e - c * dd) AS det
           |    FROM (
           |      SELECT it, b0, b1, b2,
           |        sum(mu * (1 - mu)) AS a,
           |        sum(mu * (1 - mu) * x1) AS b,
           |        sum(mu * (1 - mu) * x2) AS c,
           |        sum(mu * (1 - mu) * x1 * x1) AS dd,
           |        sum(mu * (1 - mu) * x1 * x2) AS e,
           |        sum(mu * (1 - mu) * x2 * x2) AS f,
           |        sum(y - mu) AS g1, sum((y - mu) * x1) AS g2,
           |        sum((y - mu) * x2) AS g3
           |      FROM (
           |        SELECT fx.it, fx.b0, fx.b1, fx.b2, d.y, d.x1, d.x2,
           |          1 / (1 + exp(-(fx.b0 + fx.b1 * d.x1
           |                         + fx.b2 * d.x2))) AS mu
           |        FROM fx, d WHERE fx.it < 8) r
           |      GROUP BY 1, 2, 3, 4) agg) s2),
           |fin AS (SELECT b0, b1, b2 FROM fx WHERE it = 8),
           |scored AS (
           |  SELECT d.event_id, d.y,
           |    1 / (1 + exp(-(fin.b0 + fin.b1 * d.x1
           |                   + fin.b2 * d.x2))) AS ph
           |  FROM d, fin),
           |binned AS (
           |  SELECT y, ph,
           |    ntile(10) OVER (ORDER BY ph, event_id) AS g
           |  FROM scored),
           |cells AS (
           |  SELECT g, count(*)::BIGINT AS ng, sum(y) AS og,
           |    sum(ph) AS eg
           |  FROM binned GROUP BY 1),
           |agg AS (
           |  SELECT sum(ng)::BIGINT AS n,
           |    sum(CASE WHEN eg <= 0 OR eg >= ng THEN 0.0
           |        ELSE (og - eg) * (og - eg) /
           |             (eg * (1 - eg / ng)) END) AS hl,
           |    sum(CASE WHEN eg <= 0 OR eg >= ng THEN 1 ELSE 0
           |        END)::BIGINT AS ndeg
           |  FROM cells)
           |SELECT n, 10 AS bins, round(hl, 4) AS hl_stat, 8 AS dof,
           |  ndeg AS n_degenerate_bins,
           |  round(exp(-hl / 2) * (1 + (hl / 2) + pow(hl / 2, 2) / 2
           |    + pow(hl / 2, 3) / 6), 6) AS p_value
           |FROM agg""".stripMargin))

  /** X285: three rounds of L2 stump boosting of event value on
    * hour-of-day — driver scan over 24 cells, rounded-SSE argmin;
    * the oracle unrolls the identical three rounds. */
  private val q391 = Q("q391_stump_boost",
    (s, dir) => {
      import s.implicits._
      graft.ml.Boost.stumpBoost(
        t(s, dir, "events")
          .filter($"value".isNotNull && $"ts".isNotNull)
          .select(hour($"ts").cast("long").as("h"), $"value"),
        "h", "value", rounds = 3)
        .orderBy($"round")
    },
    Some("""WITH cells AS (
           |  SELECT hour(ts)::BIGINT AS x, count(*)::BIGINT AS n,
           |    sum(value) AS sy, sum(value * value) AS syy
           |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           |  GROUP BY 1),
           |tot AS (SELECT sum(n)::DOUBLE AS tn FROM cells),
           |c1 AS (SELECT x, n, sy AS rsy, syy AS rs2 FROM cells),
           |t1 AS (
           |  SELECT x, sum(n) OVER w AS an, sum(rsy) OVER w AS asy,
           |    (SELECT sum(n) FROM c1) AS wn,
           |    (SELECT sum(rsy) FROM c1) AS wsy,
           |    (SELECT sum(rs2) FROM c1) AS ws2
           |  FROM c1 WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
           |  QUALIFY x < (SELECT max(x) FROM c1)),
           |b1 AS (
           |  SELECT x AS s, asy / an AS lm,
           |    (wsy - asy) / (wn - an) AS rm
           |  FROM t1
           |  ORDER BY round(ws2 - asy * asy / an
           |    - (wsy - asy) * (wsy - asy) / (wn - an), 6), x
           |  LIMIT 1),
           |c2 AS (
           |  SELECT c.x, c.n,
           |    c.sy - c.n * (CASE WHEN c.x <= b1.s THEN b1.lm
           |                       ELSE b1.rm END) AS rsy,
           |    c.syy - 2 * (CASE WHEN c.x <= b1.s THEN b1.lm
           |                      ELSE b1.rm END) * c.sy
           |      + c.n * pow(CASE WHEN c.x <= b1.s THEN b1.lm
           |                       ELSE b1.rm END, 2) AS rs2
           |  FROM cells c, b1),
           |t2 AS (
           |  SELECT x, sum(n) OVER w AS an, sum(rsy) OVER w AS asy,
           |    (SELECT sum(n) FROM c2) AS wn,
           |    (SELECT sum(rsy) FROM c2) AS wsy,
           |    (SELECT sum(rs2) FROM c2) AS ws2
           |  FROM c2 WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
           |  QUALIFY x < (SELECT max(x) FROM c2)),
           |b2 AS (
           |  SELECT x AS s, asy / an AS lm,
           |    (wsy - asy) / (wn - an) AS rm
           |  FROM t2
           |  ORDER BY round(ws2 - asy * asy / an
           |    - (wsy - asy) * (wsy - asy) / (wn - an), 6), x
           |  LIMIT 1),
           |p2 AS (
           |  SELECT c.x, c.n, c.sy, c.syy,
           |    (CASE WHEN c.x <= b1.s THEN b1.lm ELSE b1.rm END)
           |    + (CASE WHEN c.x <= b2.s THEN b2.lm ELSE b2.rm END)
           |      AS p
           |  FROM cells c, b1, b2),
           |c3 AS (
           |  SELECT x, n, sy - n * p AS rsy,
           |    syy - 2 * p * sy + n * p * p AS rs2
           |  FROM p2),
           |t3 AS (
           |  SELECT x, sum(n) OVER w AS an, sum(rsy) OVER w AS asy,
           |    (SELECT sum(n) FROM c3) AS wn,
           |    (SELECT sum(rsy) FROM c3) AS wsy,
           |    (SELECT sum(rs2) FROM c3) AS ws2
           |  FROM c3 WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
           |  QUALIFY x < (SELECT max(x) FROM c3)),
           |b3 AS (
           |  SELECT x AS s, asy / an AS lm,
           |    (wsy - asy) / (wn - an) AS rm
           |  FROM t3
           |  ORDER BY round(ws2 - asy * asy / an
           |    - (wsy - asy) * (wsy - asy) / (wn - an), 6), x
           |  LIMIT 1),
           |p3 AS (
           |  SELECT p2.x, p2.n, p2.sy, p2.syy,
           |    p2.p + (CASE WHEN p2.x <= b3.s THEN b3.lm ELSE b3.rm
           |            END) AS p
           |  FROM p2, b3),
           |m1 AS (
           |  SELECT sum(c.syy - 2 * (CASE WHEN c.x <= b1.s THEN b1.lm
           |           ELSE b1.rm END) * c.sy
           |      + c.n * pow(CASE WHEN c.x <= b1.s THEN b1.lm
           |                  ELSE b1.rm END, 2)) / tot.tn AS mse
           |  FROM cells c, b1, tot GROUP BY tot.tn),
           |m2 AS (SELECT sum(syy - 2 * p * sy + n * p * p) / tot.tn
           |         AS mse
           |       FROM p2, tot GROUP BY tot.tn),
           |m3 AS (SELECT sum(syy - 2 * p * sy + n * p * p) / tot.tn
           |         AS mse
           |       FROM p3, tot GROUP BY tot.tn)
           |SELECT 1 AS round, b1.s AS split_at,
           |  round(b1.lm, 6) AS left_value,
           |  round(b1.rm, 6) AS right_value,
           |  round(m1.mse, 6) AS train_mse
           |FROM b1, m1
           |UNION ALL
           |SELECT 2, b2.s, round(b2.lm, 6), round(b2.rm, 6),
           |  round(m2.mse, 6) FROM b2, m2
           |UNION ALL
           |SELECT 3, b3.s, round(b3.lm, 6), round(b3.rm, 6),
           |  round(m3.mse, 6) FROM b3, m3
           |ORDER BY round""".stripMargin))

  /** X286: Yuen's 20%-trimmed t-test of order totals, fulfilled vs
    * open, per priority — rank-cut trimming, winsorized variance, the
    * q14 Simpson t-tail oracle. */
  private val q392 = Q("q392_yuen_trimmed",
    (s, dir) => {
      import s.implicits._
      graft.de.Inference.yuenTrimmed(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus", "o_totalprice",
        a = "F", b = "O", trim = 0.2)
        .orderBy($"o_orderpriority")
    },
    Some("""WITH inp AS (
           |  SELECT o_orderpriority AS s, o_orderstatus AS g,
           |    o_totalprice::DOUBLE AS v
           |  FROM orders
           |  WHERE o_orderstatus IN ('F', 'O')
           |    AND o_totalprice IS NOT NULL),
           |rk AS (
           |  SELECT s, g, v,
           |    row_number() OVER (PARTITION BY s, g ORDER BY v) AS rn,
           |    count(*) OVER (PARTITION BY s, g) AS n
           |  FROM inp),
           |ct AS (SELECT *, floor(n * 0.2)::BIGINT AS cut FROM rk),
           |bounds AS (
           |  SELECT s, g, min(v) AS lo, max(v) AS hi
           |  FROM ct WHERE rn > cut AND rn <= n - cut GROUP BY 1, 2),
           |st AS (
           |  SELECT ct.s, ct.g, count(*)::BIGINT AS nn,
           |    (count(*) - 2 * max(cut))::BIGINT AS h,
           |    avg(CASE WHEN rn > cut AND rn <= n - cut THEN v END)
           |      AS tm,
           |    var_samp(least(greatest(v, lo), hi)) AS sw
           |  FROM ct JOIN bounds ON bounds.s = ct.s AND bounds.g = ct.g
           |  GROUP BY 1, 2),
           |j AS (
           |  SELECT a.s, a.nn AS na, a.h AS ha, a.tm AS tma,
           |    a.sw AS swa, b.nn AS nb, b.h AS hb, b.tm AS tmb,
           |    b.sw AS swb
           |  FROM st a JOIN st b ON a.s = b.s
           |  WHERE a.g = 'F' AND b.g = 'O'),
           |w AS (
           |  SELECT s, ha, hb, tma, tmb,
           |    swa * (na - 1) / (ha * (ha - 1))::DOUBLE AS da,
           |    swb * (nb - 1) / (hb * (hb - 1))::DOUBLE AS db
           |  FROM j WHERE ha >= 2 AND hb >= 2),
           |w2 AS (
           |  SELECT s, ha, hb, tma, tmb,
           |    (tma - tmb) / nullif(sqrt(da + db), 0) AS t,
           |    pow(da + db, 2) / nullif(pow(da, 2) / (ha - 1)
           |        + pow(db, 2) / (hb - 1), 0) AS df
           |  FROM w),
           |g2 AS (SELECT s, t, df / 2.0 AS a,
           |         sqrt(1 - df / (df + t * t)) AS lo
           |       FROM w2),
           |grid AS (SELECT s, a, lo,
           |           unnest(generate_series(0, 20000)) AS i
           |         FROM g2),
           |pts AS (SELECT s, a, lo + (1.0 - lo) * i / 20000 AS u,
           |          CASE WHEN i = 0 OR i = 20000 THEN 1
           |               WHEN i % 2 = 1 THEN 4 ELSE 2 END AS wt,
           |          (1.0 - lo) / 20000 AS h
           |        FROM grid),
           |simpson AS (SELECT s, max(a) AS a,
           |              sum(wt * 2 * exp((a - 1.0) *
           |                ln(greatest(1e-300, 1 - u * u))))
           |                * max(h) / 3.0 AS binc
           |            FROM pts GROUP BY s)
           |SELECT w2.s AS o_orderpriority, ha AS h_a, hb AS h_b,
           |  round(tma, 4) AS tmean_a, round(tmb, 4) AS tmean_b,
           |  round(t, 4) AS t_stat, round(df, 2) AS df,
           |  round(binc / exp(lgamma(a) + lgamma(0.5)
           |    - lgamma(a + 0.5)), 6) AS p_value
           |FROM w2 JOIN simpson ON simpson.s = w2.s
           |ORDER BY o_orderpriority""".stripMargin))

  /** X287: Mood's median test of event values across the five event
    * types — exact grand median, 2×k counts, even-dof closed-form χ²₄
    * tail. */
  private val q393 = Q("q393_mood_median",
    (s, dir) => {
      import s.implicits._
      // pinned to the five canonical types (q215/q217 discipline): the
      // oracle's closed-form χ² tail exp(-x/2)(1+x/2) is the dof = 4
      // survival — fuzz-injected extra classes change k, the operator
      // then correctly nulls its dof-bound p while the oracle kept
      // applying the now-wrong closed form
      graft.de.Inference.moodMedian(
        t(s, dir, "events").filter($"value".isNotNull &&
          $"event_type".isin("click", "error", "purchase", "signup",
            "view")),
        "event_type", "value")
    },
    Some("""WITH base AS (
           |  SELECT event_type AS g, value::DOUBLE AS v FROM events
           |  WHERE value IS NOT NULL AND event_type IN
           |    ('click', 'error', 'purchase', 'signup', 'view')),
           |med AS (SELECT quantile_cont(v, 0.5) AS m FROM base),
           |cells AS (
           |  SELECT g, count(*)::BIGINT AS n,
           |    sum(CASE WHEN v > m THEN 1 ELSE 0 END)::BIGINT AS ab
           |  FROM base, med GROUP BY 1),
           |tot AS (SELECT sum(n)::BIGINT AS nn, sum(ab)::BIGINT AS aa,
           |          count(*)::BIGINT AS k
           |        FROM cells),
           |sc AS (
           |  SELECT sum(
           |      pow(ab - n * aa / nn::DOUBLE, 2) /
           |        (n * aa / nn::DOUBLE) +
           |      pow((n - ab) - n * (nn - aa) / nn::DOUBLE, 2) /
           |        (n * (nn - aa) / nn::DOUBLE)) AS chi
           |  FROM cells, tot)
           |SELECT tot.nn AS n, tot.k, round(med.m, 4) AS grand_median,
           |  round(sc.chi, 4) AS chi2, (tot.k - 1)::BIGINT AS dof,
           |  round(exp(-sc.chi / 2) * (1 + sc.chi / 2), 6) AS p_value
           |FROM tot, sc, med""".stripMargin))

  /** X288: Jonckheere–Terpstra ordered trend of order totals across
    * the five priority tiers — exact integer 2·JT and tie-corrected
    * variance, Simpson normal-tail oracle. */
  private val q394 = Q("q394_jonckheere",
    (s, dir) => {
      graft.de.RankStats.jonckheereTerpstra(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"))
    },
    Some("""WITH cells AS (
           |  SELECT o_totalprice::DOUBLE AS v, o_orderpriority AS g,
           |    count(*)::BIGINT AS c
           |  FROM orders WHERE o_totalprice IS NOT NULL
           |  GROUP BY 1, 2),
           |piv AS (
           |  SELECT v,
           |    sum(CASE WHEN g = '1-URGENT' THEN c ELSE 0 END) AS c0,
           |    sum(CASE WHEN g = '2-HIGH' THEN c ELSE 0 END) AS c1,
           |    sum(CASE WHEN g = '3-MEDIUM' THEN c ELSE 0 END) AS c2,
           |    sum(CASE WHEN g = '4-NOT SPECIFIED' THEN c ELSE 0 END)
           |      AS c3,
           |    sum(CASE WHEN g = '5-LOW' THEN c ELSE 0 END) AS c4
           |  FROM cells GROUP BY 1),
           |cum AS (
           |  SELECT *, c0 + c1 + c2 + c3 + c4 AS tv,
           |    coalesce(sum(c0) OVER w, 0) AS s0,
           |    coalesce(sum(c1) OVER w, 0) AS s1,
           |    coalesce(sum(c2) OVER w, 0) AS s2,
           |    coalesce(sum(c3) OVER w, 0) AS s3
           |  FROM piv
           |  WINDOW w AS (ORDER BY v
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |agg AS (
           |  SELECT
           |    sum(c1 * (2 * s0 + c0)
           |      + c2 * (2 * (s0 + s1) + c0 + c1)
           |      + c3 * (2 * (s0 + s1 + s2) + c0 + c1 + c2)
           |      + c4 * (2 * (s0 + s1 + s2 + s3) + c0 + c1 + c2 + c3))
           |      ::BIGINT AS jt2,
           |    sum(c0)::BIGINT AS n0, sum(c1)::BIGINT AS n1,
           |    sum(c2)::BIGINT AS n2, sum(c3)::BIGINT AS n3,
           |    sum(c4)::BIGINT AS n4,
           |    sum(tv * (tv - 1) * (2 * tv + 5))::BIGINT AS t25,
           |    sum(tv * (tv - 1))::BIGINT AS t2,
           |    sum(tv * (tv - 1) * (tv - 2))::BIGINT AS t3
           |  FROM cum),
           |st AS (
           |  SELECT n0 + n1 + n2 + n3 + n4 AS n, jt2 / 2.0 AS jt,
           |    (pow(n0 + n1 + n2 + n3 + n4, 2)
           |     - (pow(n0, 2) + pow(n1, 2) + pow(n2, 2) + pow(n3, 2)
           |        + pow(n4, 2))) / 4.0 AS mean,
           |    ((n0 + n1 + n2 + n3 + n4)::DOUBLE
           |       * (n0 + n1 + n2 + n3 + n4 - 1)
           |       * (2 * (n0 + n1 + n2 + n3 + n4) + 5)
           |     - (n0::DOUBLE * (n0 - 1) * (2 * n0 + 5)
           |        + n1::DOUBLE * (n1 - 1) * (2 * n1 + 5)
           |        + n2::DOUBLE * (n2 - 1) * (2 * n2 + 5)
           |        + n3::DOUBLE * (n3 - 1) * (2 * n3 + 5)
           |        + n4::DOUBLE * (n4 - 1) * (2 * n4 + 5))
           |     - t25) / 72.0
           |    + (n0::DOUBLE * (n0 - 1) * (n0 - 2)
           |       + n1::DOUBLE * (n1 - 1) * (n1 - 2)
           |       + n2::DOUBLE * (n2 - 1) * (n2 - 2)
           |       + n3::DOUBLE * (n3 - 1) * (n3 - 2)
           |       + n4::DOUBLE * (n4 - 1) * (n4 - 2)) * t3
           |      / (36.0 * (n0 + n1 + n2 + n3 + n4)
           |         * (n0 + n1 + n2 + n3 + n4 - 1)
           |         * (n0 + n1 + n2 + n3 + n4 - 2))
           |    + (n0::DOUBLE * (n0 - 1) + n1::DOUBLE * (n1 - 1)
           |       + n2::DOUBLE * (n2 - 1) + n3::DOUBLE * (n3 - 1)
           |       + n4::DOUBLE * (n4 - 1)) * t2
           |      / (8.0 * (n0 + n1 + n2 + n3 + n4)
           |         * (n0 + n1 + n2 + n3 + n4 - 1)) AS var
           |  FROM agg),
           |zs AS (SELECT n, jt, mean, (jt - mean) / sqrt(var) AS z
           |       FROM st),
           |grid AS (SELECT abs(z) AS az,
           |           unnest(generate_series(0, 20000)) AS i
           |         FROM zs),
           |pts AS (SELECT az * i / 20000 AS x,
           |          CASE WHEN i = 0 OR i = 20000 THEN 1
           |               WHEN i % 2 = 1 THEN 4 ELSE 2 END AS wt,
           |          az / 20000 AS h
           |        FROM grid),
           |ig AS (SELECT sum(wt * exp(-x * x / 2)) * max(h) / 3.0
           |         / sqrt(2 * pi()) AS phi
           |       FROM pts)
           |SELECT n::BIGINT AS n, 5 AS k, round(jt, 1) AS jt,
           |  round(mean, 1) AS mean, round(z, 4) AS z,
           |  round(1.0 - 2.0 * phi, 6) AS p_value
           |FROM zs, ig""".stripMargin))

  /** X289: Brunner–Munzel of event value, click vs view — exact
    * doubled-midrank placements, Welch-style df, Simpson t-tail
    * oracle. */
  private val q395 = Q("q395_brunner_munzel",
    (s, dir) => {
      graft.de.RankStats.brunnerMunzel(t(s, dir, "events"),
        "event_type", "value", a = "click", b = "view")
    },
    Some("""WITH cells AS (
           |  SELECT value::DOUBLE AS v,
           |    count(CASE WHEN event_type = 'click' THEN 1
           |          END)::BIGINT AS ca,
           |    count(CASE WHEN event_type = 'view' THEN 1
           |          END)::BIGINT AS cb
           |  FROM events
           |  WHERE event_type IN ('click', 'view')
           |    AND value IS NOT NULL
           |  GROUP BY 1),
           |rk AS (
           |  SELECT *,
           |    coalesce(sum(ca) OVER w, 0) AS ba,
           |    coalesce(sum(cb) OVER w, 0) AS bb
           |  FROM cells
           |  WINDOW w AS (ORDER BY v
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |rk2 AS (
           |  SELECT ca, cb,
           |    2 * (ba + bb) + ca + cb + 1 AS r2,
           |    2 * ba + ca + 1 AS ra2, 2 * bb + cb + 1 AS rb2
           |  FROM rk),
           |agg AS (
           |  SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
           |    sum(ca * r2)::BIGINT AS sra2,
           |    sum(cb * r2)::BIGINT AS srb2,
           |    sum(ca * pow(r2 - ra2, 2)) AS qa,
           |    sum(cb * pow(r2 - rb2, 2)) AS qb,
           |    sum(ca * (r2 - ra2))::BIGINT AS la,
           |    sum(cb * (r2 - rb2))::BIGINT AS lb
           |  FROM rk2),
           |st AS (
           |  SELECT na, nb,
           |    sra2 / na::DOUBLE AS mra2, srb2 / nb::DOUBLE AS mrb2,
           |    (qa / 4.0 - na * pow((la / 2.0) / na, 2)) / (na - 1)
           |      AS sa,
           |    (qb / 4.0 - nb * pow((lb / 2.0) / nb, 2)) / (nb - 1)
           |      AS sb
           |  FROM agg),
           |w2 AS (
           |  SELECT na, nb,
           |    (mrb2 - mra2) / (2.0 * (na + nb)) + 0.5 AS phat,
           |    na * nb * (mrb2 - mra2) / 2.0 / (na + nb)
           |      / sqrt(na * sa + nb * sb) AS t,
           |    pow(na * sa + nb * sb, 2) /
           |      (pow(na * sa, 2) / (na - 1)
           |       + pow(nb * sb, 2) / (nb - 1)) AS df
           |  FROM st),
           |g2 AS (SELECT na, nb, phat, t, df / 2.0 AS a,
           |         sqrt(1 - df / (df + t * t)) AS lo
           |       FROM w2),
           |grid AS (SELECT a, lo, unnest(generate_series(0, 20000))
           |           AS i
           |         FROM g2),
           |pts AS (SELECT a, lo + (1.0 - lo) * i / 20000 AS u,
           |          CASE WHEN i = 0 OR i = 20000 THEN 1
           |               WHEN i % 2 = 1 THEN 4 ELSE 2 END AS wt,
           |          (1.0 - lo) / 20000 AS h
           |        FROM grid),
           |simpson AS (SELECT max(a) AS a,
           |              sum(wt * 2 * exp((a - 1.0) *
           |                ln(greatest(1e-300, 1 - u * u))))
           |                * max(h) / 3.0 AS binc
           |            FROM pts)
           |SELECT na AS n_a, nb AS n_b, round(phat, 4) AS p_hat,
           |  round(t, 4) AS t_stat, round(df, 2) AS df,
           |  round(binc / exp(lgamma(a) + lgamma(0.5)
           |    - lgamma(a + 0.5)), 6) AS p_value
           |FROM w2, simpson""".stripMargin))

  /** X290: keyness of source src1 vs the rest of the corpus — signed
    * per-term G², top 15 each direction, rounded-score rank key. */
  private val q396 = Q("q396_keyness",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.keyness(t(s, dir, "documents"),
        "source", "text", target = "src1", minCount = 5L, topK = 15)
        .orderBy($"g2_signed".desc, $"term")
    },
    Some("""WITH tc AS (
           |  SELECT t,
           |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT
           |      AS n_target,
           |    sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS n_rest
           |  FROM (SELECT source = 'src1' AS tgt,
           |          unnest(regexp_extract_all(text, '\S+')) AS t
           |        FROM documents) GROUP BY 1),
           |tot AS (SELECT sum(n_target)::BIGINT AS nt,
           |          sum(n_rest)::BIGINT AS nr
           |        FROM tc),
           |sc AS (
           |  SELECT t, n_target, n_rest,
           |    round(2 * (
           |      CASE WHEN n_target > 0 THEN n_target * ln(n_target /
           |        ((n_target + n_rest) * nt / (nt + nr)::DOUBLE))
           |        ELSE 0 END +
           |      CASE WHEN n_rest > 0 THEN n_rest * ln(n_rest /
           |        ((n_target + n_rest) * nr / (nt + nr)::DOUBLE))
           |        ELSE 0 END) *
           |      (CASE WHEN n_target >=
           |         (n_target + n_rest) * nt / (nt + nr)::DOUBLE
           |       THEN 1.0 ELSE -1.0 END), 4) + 0.0 AS g2
           |  FROM tc, tot WHERE n_target + n_rest >= 5),
           |rk AS (
           |  SELECT *,
           |    row_number() OVER (ORDER BY g2 DESC, t) AS rp,
           |    row_number() OVER (ORDER BY g2 ASC, t) AS rn
           |  FROM sc)
           |SELECT t AS term, n_target, n_rest, g2 AS g2_signed
           |FROM rk WHERE rp <= 15 OR rn <= 15
           |ORDER BY g2_signed DESC, term""".stripMargin))

  /** X291: Gries' DP dispersion of terms across sources — top 25 most
    * CLUMPED frequent terms (the jargon/boilerplate screen); absent
    * parts' share mass restored in closed form. */
  private val q397 = Q("q397_dispersion",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.dispersionDp(t(s, dir, "documents"),
        "source", "text", minCount = 20L)
        .orderBy($"dp".desc, $"term")
        .limit(25)
    },
    Some("""WITH tc AS (
           |  SELECT p, t, count(*)::BIGINT AS c FROM (
           |    SELECT source AS p,
           |      unnest(regexp_extract_all(text, '\S+')) AS t
           |    FROM documents) GROUP BY 1, 2),
           |parts AS (SELECT p, sum(c)::BIGINT AS pn
           |          FROM tc GROUP BY 1),
           |tot AS (SELECT sum(pn)::BIGINT AS nn FROM parts),
           |tt AS (SELECT t, sum(c)::BIGINT AS tcnt FROM tc
           |       GROUP BY 1 HAVING sum(c) >= 20)
           |SELECT t AS term, max(tcnt) AS n_occurrences,
           |  count(*)::BIGINT AS n_parts_present,
           |  round((sum(abs(c / tcnt::DOUBLE - pn / nn::DOUBLE))
           |    + 1.0 - sum(pn / nn::DOUBLE)) / 2, 4) AS dp
           |FROM tc JOIN tt USING (t) JOIN parts USING (p)
           |CROSS JOIN tot
           |GROUP BY t ORDER BY dp DESC, term LIMIT 25""".stripMargin))

  /** X292: Fleiss' κ over a constant-5-rater design (dense event ids
    * bucketed in fives, category = event type) — exact BIGINT counts
    * to the closing ratios. */
  private val q398 = Q("q398_fleiss_kappa",
    (s, dir) => {
      import s.implicits._
      graft.de.Agreement.fleissKappa(
        t(s, dir, "events").select(
          floor($"event_id" / 5).cast("long").as("item"),
          $"event_type"),
        "item", "event_type")
    },
    Some("""WITH cells AS (
           |  -- operator contract: a null category is no rating
           |  -- (fuzz-22: the oracle counted NULL as a 7th category)
           |  SELECT event_id // 5 AS i, event_type AS c,
           |    count(*)::BIGINT AS n
           |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
           |items AS (SELECT i, sum(n)::BIGINT AS m,
           |            sum(n * n)::BIGINT AS sq
           |          FROM cells GROUP BY 1),
           |ia AS (SELECT count(*)::BIGINT AS n_items,
           |         min(m) AS mmin, max(m) AS mmax,
           |         sum(sq)::BIGINT AS sqsum, sum(m)::BIGINT AS tot
           |       FROM items),
           |ca AS (SELECT count(*)::BIGINT AS n_categories,
           |         sum(nc * nc)::BIGINT AS nc2
           |       FROM (SELECT c, sum(n)::BIGINT AS nc
           |             FROM cells GROUP BY 1))
           |SELECT n_items,
           |  CASE WHEN mmin = mmax AND mmin >= 2 THEN mmin END
           |    AS n_raters,
           |  n_categories,
           |  CASE WHEN mmin = mmax AND mmin >= 2 THEN
           |    round((sqsum - tot) /
           |      (n_items * mmin * (mmin - 1))::DOUBLE, 4) END
           |    AS p_bar,
           |  CASE WHEN mmin = mmax AND mmin >= 2 THEN
           |    round(nc2 / (tot * tot)::DOUBLE, 4) END AS p_e,
           |  CASE WHEN mmin = mmax AND mmin >= 2
           |        AND nc2 < tot * tot THEN
           |    round(((sqsum - tot) /
           |        (n_items * mmin * (mmin - 1))::DOUBLE
           |      - nc2 / (tot * tot)::DOUBLE) /
           |      (1 - nc2 / (tot * tot)::DOUBLE), 4) END AS kappa
           |FROM ia CROSS JOIN ca""".stripMargin))

  /** X293: Krippendorff's α (nominal) over a RAGGED design (items of
    * 3-4 ratings) — single-rating items dropped, closed-form nominal
    * disagreement masses. */
  private val q399 = Q("q399_krippendorff",
    (s, dir) => {
      import s.implicits._
      graft.de.Agreement.krippendorffAlpha(
        t(s, dir, "events").select(
          pmod($"event_id", lit(3000)).as("item"), $"event_type"),
        "item", "event_type")
    },
    Some("""WITH cells AS (
           |  -- operator contract: a null category is no rating (fuzz-22)
           |  SELECT event_id % 3000 AS i, event_type AS c,
           |    count(*)::BIGINT AS n
           |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
           |items AS (SELECT i, sum(n)::BIGINT AS m,
           |            sum(n * n)::BIGINT AS sq
           |          FROM cells GROUP BY 1
           |          HAVING sum(n) >= 2),
           |ia AS (SELECT count(*)::BIGINT AS n_items,
           |         sum(m)::BIGINT AS n_ratings,
           |         sum((m * m - sq) / (m - 1)::DOUBLE) AS dov
           |       FROM items),
           |ca AS (SELECT count(*)::BIGINT AS n_categories,
           |         sum(nc * nc)::BIGINT AS nc2,
           |         sum(nc)::BIGINT AS nsum
           |       FROM (SELECT c, sum(n)::BIGINT AS nc
           |             FROM cells JOIN items USING (i)
           |             GROUP BY c))
           |SELECT n_items, n_ratings, n_categories,
           |  round(dov, 4) AS d_o,
           |  round((nsum * nsum - nc2) / (nsum - 1)::DOUBLE, 4)
           |    AS d_e,
           |  CASE WHEN (nsum * nsum - nc2) > 0 THEN
           |    round(1 - dov / ((nsum * nsum - nc2) /
           |      (nsum - 1)::DOUBLE), 4) END AS alpha
           |FROM ia CROSS JOIN ca""".stripMargin))

  /** X294: the curation funnel — the one-query readout every
    * training-data pipeline reports: per source, documents surviving
    * exact dedup (md5 content hash, min-doc_id winner) then cheap
    * quality gates (token-count band + digit-ratio cap), with the
    * surviving token mass. Pure composition of the engine's own
    * conventions (q20's hash-dedup, q22's gate arithmetic); one
    * window + one aggregate. */
  private val q400 = Q("q400_curation_funnel",
    (s, dir) =>
      graft.text.Curation.funnel(t(s, dir, "documents"),
        "source", "doc_id", "text",
        minTok = 20, maxTok = 2000, maxDigitRatio = 0.2),
    Some("""WITH base AS (
           |  SELECT source, doc_id,
           |    len(regexp_extract_all(text, '\S+'))::BIGINT AS ntok,
           |    len(regexp_extract_all(text, '[0-9]'))::BIGINT
           |      AS ndig,
           |    length(text)::BIGINT AS nch,
           |    md5_number_lower(text) AS h
           |  FROM documents),
           |ranked AS (
           |  SELECT *,
           |    row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
           |      AS keep,
           |    ntok BETWEEN 20 AND 2000 AND ndig < nch * 0.2
           |      AS quality
           |  FROM base)
           |SELECT source, count(*)::BIGINT AS n_raw,
           |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT
           |    AS n_unique,
           |  sum(CASE WHEN keep AND quality THEN 1 ELSE 0
           |      END)::BIGINT AS n_quality,
           |  sum(CASE WHEN keep AND quality THEN ntok ELSE 0
           |      END)::BIGINT AS tokens_out
           |FROM ranked GROUP BY 1 ORDER BY source""".stripMargin))

  /** X295: Gwet's AC1 on the q398 constant-5-rater design — the
    * prevalence-robust companion readout. */
  private val q401 = Q("q401_gwet_ac1",
    (s, dir) => {
      import s.implicits._
      graft.de.Agreement.gwetAc1(
        t(s, dir, "events").select(
          floor($"event_id" / 5).cast("long").as("item"),
          $"event_type"),
        "item", "event_type")
    },
    Some("""WITH cells AS (
           |  -- operator contract: a null category is no rating
           |  -- (fuzz-22: the oracle counted NULL as a 7th category)
           |  SELECT event_id // 5 AS i, event_type AS c,
           |    count(*)::BIGINT AS n
           |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
           |items AS (SELECT i, sum(n)::BIGINT AS m,
           |            sum(n * n)::BIGINT AS sq
           |          FROM cells GROUP BY 1),
           |ia AS (SELECT count(*)::BIGINT AS n_items,
           |         min(m) AS mmin, max(m) AS mmax,
           |         sum(sq)::BIGINT AS sqsum, sum(m)::BIGINT AS tot
           |       FROM items),
           |ca AS (SELECT count(*)::BIGINT AS n_categories,
           |         sum(nc * nc)::BIGINT AS nc2
           |       FROM (SELECT c, sum(n)::BIGINT AS nc
           |             FROM cells GROUP BY 1))
           |SELECT n_items,
           |  CASE WHEN mmin = mmax AND mmin >= 2 THEN mmin END
           |    AS n_raters,
           |  n_categories,
           |  CASE WHEN mmin = mmax AND mmin >= 2 THEN
           |    round((sqsum - tot) /
           |      (n_items * mmin * (mmin - 1))::DOUBLE, 4) END
           |    AS p_bar,
           |  CASE WHEN mmin = mmax AND mmin >= 2 THEN
           |    round((1 - nc2 / (tot * tot)::DOUBLE) /
           |      (n_categories - 1), 4) END AS p_e_gamma,
           |  CASE WHEN mmin = mmax AND mmin >= 2
           |        AND (1 - nc2 / (tot * tot)::DOUBLE) /
           |            (n_categories - 1) < 1 THEN
           |    round(((sqsum - tot) /
           |        (n_items * mmin * (mmin - 1))::DOUBLE
           |      - (1 - nc2 / (tot * tot)::DOUBLE) /
           |        (n_categories - 1)) /
           |      (1 - (1 - nc2 / (tot * tot)::DOUBLE) /
           |        (n_categories - 1)), 4) END AS ac1
           |FROM ia CROSS JOIN ca""".stripMargin))

  val all: Seq[Q] = Seq(q370, q371, q372, q373, q374, q375, q376,
    q377, q378, q379, q380, q381, q382, q383, q384, q385, q386,
    q387, q388, q389, q390, q391, q392, q393, q394, q395, q396,
    q397, q398, q399, q400, q401)
}
