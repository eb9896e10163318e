package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-7 batch H (X79+): survival
  * inference, seasonal decomposition, graph summary statistics, control
  * charts, GROUPING SETS / bag set-ops relational widening, growth
  * decomposition, contingency effect sizes. Conventions follow
  * Catalog.scala.
  */
object CatalogEcon3 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X79: two-sample log-rank test over customer lifespans
    * ([[graft.de.Survival.logRank]]) — md5-parity cohorts (the q164
    * assignment), censoring as in q168; O/E/V from exact integer
    * at-risk tables sharing one bounded duration sort. */
  private val q181 = Q("q181_log_rank",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.md5_long
      val u = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(to_date(min($"o_orderdate")).as("fd"),
          to_date(max($"o_orderdate")).as("ld"))
      val mx = u.agg(max($"ld").as("md"))
      val subj = u.crossJoin(broadcast(mx))
        .select(
          when(md5_long($"o_custkey".cast("string"))
            .bitwiseAND(lit(1L)) === 0, "A").otherwise("B").as("grp"),
          datediff($"ld", $"fd").cast("long").as("dur"),
          when(datediff($"md", $"ld") > 180, 1).otherwise(0).as("ev"))
      graft.de.Survival.logRank(subj, "grp", "dur", "ev", a = "A",
        b = "B")
    },
    Some("""WITH u AS (
           |  SELECT o_custkey, min(o_orderdate::DATE) AS fd,
           |         max(o_orderdate::DATE) AS ld
           |  FROM orders GROUP BY 1),
           |mx AS (SELECT max(ld) AS md FROM u),
           |subj AS (
           |  SELECT CASE WHEN (md5_number_lower(
           |             CAST(o_custkey AS VARCHAR)) & 1) = 0
           |           THEN 'A' ELSE 'B' END AS grp,
           |         datediff('day', fd, ld)::BIGINT AS t,
           |         CASE WHEN datediff('day', ld, md) > 180
           |              THEN 1 ELSE 0 END AS ev
           |  -- complete-case on the time axis (kaplanMeier contract)
           |  FROM u, mx WHERE fd IS NOT NULL),
           |byt AS (
           |  SELECT t,
           |    sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END)::BIGINT AS c_a,
           |    sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END)::BIGINT AS c_b,
           |    sum(CASE WHEN grp = 'A' AND ev = 1 THEN 1 ELSE 0
           |        END)::BIGINT AS d_a,
           |    sum(CASE WHEN grp = 'B' AND ev = 1 THEN 1 ELSE 0
           |        END)::BIGINT AS d_b
           |  FROM subj GROUP BY 1),
           |at AS (
           |  SELECT *,
           |    (sum(c_a) OVER () - coalesce(sum(c_a) OVER (ORDER BY t
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |       0))::BIGINT AS n_at,
           |    (sum(c_b) OVER () - coalesce(sum(c_b) OVER (ORDER BY t
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |       0))::BIGINT AS n_bt
           |  FROM byt),
           |sc AS (
           |  SELECT c_a, c_b, d_a, d_b, n_at, n_bt,
           |    (d_a + d_b)::DOUBLE * n_at / (n_at + n_bt)::DOUBLE AS ea,
           |    CASE WHEN n_at + n_bt > 1 THEN
           |      (d_a + d_b)::DOUBLE *
           |      (n_at / (n_at + n_bt)::DOUBLE) *
           |      (n_bt / (n_at + n_bt)::DOUBLE) *
           |      ((n_at + n_bt)::DOUBLE - (d_a + d_b)::DOUBLE) /
           |      ((n_at + n_bt)::DOUBLE - 1.0)
           |    ELSE 0.0 END AS vt
           |  FROM at)
           |SELECT sum(c_a)::BIGINT AS n_a, sum(c_b)::BIGINT AS n_b,
           |  sum(d_a)::BIGINT AS o_a, round(sum(ea), 4) AS e_a,
           |  sum(d_b)::BIGINT AS o_b,
           |  round(sum((d_a + d_b)::DOUBLE - ea), 4) AS e_b,
           |  CASE WHEN sum(vt) > 0 THEN
           |    round((sum(d_a) - sum(ea)) / sqrt(sum(vt)), 4) END AS z,
           |  CASE WHEN sum(vt) > 0 THEN
           |    round(pow(sum(d_a) - sum(ea), 2) / sum(vt), 4)
           |  END AS chi2
           |FROM sc""".stripMargin))

  /** X80: classical additive seasonal decomposition of each event
    * type's daily counts, period 7 ([[graft.events.Decompose.classical]])
    * — trend is the exact centered-MA integer-sum ratio; seasonal is
    * 6-dp-rounded BEFORE the residual on both engines (the documented
    * contract). */
  private val q182 = Q("q182_seasonal_decompose",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      graft.events.Decompose.classical(series, "event_type", "d", "c",
          m = 7)
        .orderBy($"event_type", $"idx")
    },
    Some("""WITH s AS (
           |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |b AS (
           |  SELECT event_type, c,
           |    (row_number() OVER (PARTITION BY event_type ORDER BY d)
           |     - 1)::BIGINT AS idx,
           |    count(*) OVER (PARTITION BY event_type) AS n,
           |    sum(c) OVER (PARTITION BY event_type ORDER BY d
           |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
           |  FROM s),
           |b2 AS (
           |  SELECT event_type, c, idx, n,
           |    CASE WHEN idx >= 3 AND idx < n - 3
           |         THEN win::DOUBLE / 7 END AS trend
           |  FROM b),
           |se AS (SELECT event_type, idx % 7 AS ph,
           |         avg(c - trend) AS sraw
           |       FROM b2 WHERE trend IS NOT NULL GROUP BY 1, 2),
           |ce AS (SELECT event_type, avg(sraw) AS cc
           |       FROM se GROUP BY 1),
           |sea AS (SELECT se.event_type, ph,
           |          round(sraw - cc, 6) AS seasonal
           |        FROM se JOIN ce USING (event_type))
           |SELECT b2.event_type, b2.idx, b2.c::DOUBLE AS x,
           |  round(b2.trend, 6) AS trend, sea.seasonal,
           |  round(b2.c - b2.trend - sea.seasonal, 6) AS residual
           |FROM b2 LEFT JOIN sea ON sea.event_type = b2.event_type
           |                     AND sea.ph = b2.idx % 7
           |ORDER BY 1, 2""".stripMargin))

  /** X81: whole-graph summary of the directed nation flow graph
    * ([[graft.graph.GraphStats.summary]]) — reciprocity and Newman
    * degree assortativity from exact integer degrees. */
  private val q183 = Q("q183_graph_summary",
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
        .select($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      graft.graph.GraphStats.summary(flows, "src", "dst")
    },
    Some("""WITH f0 AS (
           |  SELECT c.c_nationkey AS sa, s.s_nationkey AS sb
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  WHERE c.c_nationkey <> s.s_nationkey
           |  GROUP BY 1, 2 HAVING sum(l.l_extendedprice) > 5000000),
           |e AS (SELECT DISTINCT sa::VARCHAR AS u, sb::VARCHAR AS v
           |      FROM f0 WHERE sa <> sb),
           |und AS (SELECT DISTINCT least(u, v) AS a,
           |          greatest(u, v) AS b FROM e),
           |deg AS (SELECT x, count(*)::BIGINT AS d FROM (
           |          SELECT a AS x FROM und
           |          UNION ALL SELECT b FROM und) GROUP BY 1),
           |nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg),
           |ne AS (SELECT count(*)::BIGINT AS n_edges FROM e),
           |rc AS (SELECT count(*)::BIGINT AS r FROM e
           |       JOIN e e2 ON e2.u = e.v AND e2.v = e.u),
           |mom AS (SELECT count(*)::BIGINT AS m,
           |          sum(x1.d * x2.d)::BIGINT AS sjk,
           |          sum(x1.d + x2.d)::BIGINT AS sj,
           |          sum(x1.d * x1.d + x2.d * x2.d)::BIGINT AS sj2
           |        FROM und JOIN deg x1 ON x1.x = und.a
           |                 JOIN deg x2 ON x2.x = und.b)
           |SELECT n_nodes, n_edges,
           |  round(r::DOUBLE / n_edges, 6) AS reciprocity,
           |  CASE WHEN (sj2 / (2.0 * m) -
           |             (sj / (2.0 * m)) * (sj / (2.0 * m))) > 0 THEN
           |    round((sjk / (m * 1.0) -
           |           (sj / (2.0 * m)) * (sj / (2.0 * m))) /
           |          (sj2 / (2.0 * m) -
           |           (sj / (2.0 * m)) * (sj / (2.0 * m))), 6)
           |  END AS assortativity
           |FROM mom, nn, ne, rc""".stripMargin))

  /** X82: tabular CUSUM control chart over each event type's daily
    * counts ([[graft.events.Changepoint.cusum]]), reset-on-alarm; the
    * oracle replays the (S⁺, S⁻, alarms) recurrence as a recursive
    * CTE with the identical runtime-double arithmetic. */
  private val q184 = Q("q184_cusum",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      graft.events.Changepoint.cusum(series, "event_type", "d", "c",
          mu0 = 30.0, k = 2.0, h = 15.0)
        .orderBy($"event_type")
    },
    Some("""WITH RECURSIVE s AS (
           |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |r AS (
           |  SELECT event_type, c,
           |         row_number() OVER (PARTITION BY event_type
           |                            ORDER BY d) AS rn
           |  FROM s),
           |it AS (
           |  SELECT event_type, 0::BIGINT AS rn, 0.0::DOUBLE AS sp,
           |         0.0::DOUBLE AS sn, 0::BIGINT AS na,
           |         NULL::BIGINT AS fa
           |  FROM (SELECT DISTINCT event_type FROM r)
           |  UNION ALL
           |  SELECT it.event_type, r.rn,
           |    CASE WHEN t1.spr > 15.0::DOUBLE THEN 0.0::DOUBLE
           |         ELSE t1.spr END,
           |    CASE WHEN t1.snr > 15.0::DOUBLE THEN 0.0::DOUBLE
           |         ELSE t1.snr END,
           |    (it.na + CASE WHEN t1.spr > 15.0::DOUBLE THEN 1 ELSE 0 END
           |           + CASE WHEN t1.snr > 15.0::DOUBLE THEN 1 ELSE 0
           |             END)::BIGINT,
           |    coalesce(it.fa,
           |      CASE WHEN t1.spr > 15.0::DOUBLE
           |             OR t1.snr > 15.0::DOUBLE THEN r.rn END)
           |  FROM it
           |  JOIN r ON r.event_type IS NOT DISTINCT FROM it.event_type
           |        AND r.rn = it.rn + 1,
           |  LATERAL (SELECT
           |      greatest(0.0::DOUBLE,
           |        it.sp + (r.c - 30.0::DOUBLE - 2.0::DOUBLE)) AS spr,
           |      greatest(0.0::DOUBLE,
           |        it.sn + (30.0::DOUBLE - 2.0::DOUBLE - r.c)) AS snr)
           |    t1),
           |f AS (SELECT event_type, max(rn) AS n FROM it GROUP BY 1)
           |SELECT it.event_type, f.n::BIGINT AS n,
           |  round(it.sp, 6) AS s_pos, round(it.sn, 6) AS s_neg,
           |  it.na AS n_alarms, it.fa AS first_alarm
           |FROM it JOIN f
           |  ON f.event_type IS NOT DISTINCT FROM it.event_type
           |  AND it.rn = f.n
           |ORDER BY 1""".stripMargin))

  /** §2.4 widening: GROUPING SETS with grouping_id — the explicit
    * multi-level aggregate ROLLUP/CUBE (q84/q87) can't express
    * (skip-level sets). SQL-authored on the Spark side too
    * (DataFrame API has no grouping-sets builder). */
  private val q185 = Q("q185_grouping_sets",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
              |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
              |    AS gid,
              |  count(*) AS n_rows,
              |  round(sum(l_quantity), 2) AS sum_qty
              |FROM li_gs
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
              |                        (l_returnflag), ())
              |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT
           |    AS gid,
           |  count(*)::BIGINT AS n_rows,
           |  round(sum(l_quantity), 2) AS sum_qty
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           |                        (l_returnflag), ())
           |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin))

  /** §2.7 widening: INTERSECT ALL / EXCEPT ALL — bag semantics with
    * multiplicities (q86 covered the DISTINCT set forms), summarized
    * to (op, n_rows, n_distinct) so the compare pins the multiset
    * cardinalities. */
  private val q186 = Q("q186_setops_all",
    (s, dir) => {
      import s.implicits._
      val f = t(s, dir, "orders").filter($"o_orderstatus" === "F")
        .select($"o_custkey")
      val o = t(s, dir, "orders").filter($"o_orderstatus" === "O")
        .select($"o_custkey")
      f.intersectAll(o).withColumn("op", lit("intersect_all"))
        .union(f.exceptAll(o).withColumn("op", lit("except_all")))
        .groupBy($"op")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"o_custkey").as("n_distinct"))
        .orderBy($"op")
    },
    Some("""WITH f AS (SELECT o_custkey FROM orders
           |           WHERE o_orderstatus = 'F'),
           |o AS (SELECT o_custkey FROM orders
           |      WHERE o_orderstatus = 'O'),
           |ia AS (SELECT * FROM f INTERSECT ALL SELECT * FROM o),
           |ea AS (SELECT * FROM f EXCEPT ALL SELECT * FROM o)
           |SELECT 'intersect_all' AS op, count(*)::BIGINT AS n_rows,
           |  count(DISTINCT o_custkey)::BIGINT AS n_distinct FROM ia
           |UNION ALL
           |SELECT 'except_all', count(*)::BIGINT,
           |  count(DISTINCT o_custkey)::BIGINT FROM ea
           |ORDER BY op""".stripMargin))

  /** X84: new-vs-returning daily actives
    * ([[graft.events.Cohorts.newVsReturning]]) — the DAU growth
    * decomposition; exact counts from first-seen join. */
  private val q187 = Q("q187_new_vs_returning",
    (s, dir) => {
      import s.implicits._
      graft.events.Cohorts.newVsReturning(t(s, dir, "events"),
          "user_id", "ts")
        .orderBy($"day")
    },
    Some("""WITH fs AS (SELECT user_id, min(ts::DATE) AS fd
           |            FROM events GROUP BY 1),
           |act AS (SELECT DISTINCT user_id, ts::DATE AS day
           |        FROM events)
           |SELECT day, count(*)::BIGINT AS n_active,
           |  sum(CASE WHEN day = fd THEN 1 ELSE 0 END)::BIGINT AS n_new,
           |  (count(*) - sum(CASE WHEN day = fd THEN 1 ELSE 0
           |   END))::BIGINT AS n_returning,
           |  round(sum(CASE WHEN day = fd THEN 1 ELSE 0 END)
           |        / count(*)::DOUBLE, 4) AS new_share
           |FROM act JOIN fs USING (user_id)
           |GROUP BY day ORDER BY day""".stripMargin))

  /** X85: contingency effect sizes — chi-square plus Cramér's V and
    * the contingency coefficient over (priority × status)
    * ([[graft.de.RankStats.contingencyEffects]]); V makes χ²
    * comparable across table sizes. */
  private val q188 = Q("q188_cramers_v",
    (s, dir) => {
      graft.de.RankStats.contingencyEffects(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus")
    },
    Some("""WITH cells AS (SELECT o_orderpriority AS a,
           |                 o_orderstatus AS b, count(*)::BIGINT AS o
           |               FROM orders GROUP BY 1, 2),
           |m AS (SELECT a, b, o,
           |        sum(o) OVER (PARTITION BY a) AS rt,
           |        sum(o) OVER (PARTITION BY b) AS ct,
           |        sum(o) OVER () AS n
           |      FROM cells),
           |e AS (SELECT o, rt::DOUBLE * ct / n AS ex, n FROM m),
           |agg AS (SELECT (sum(pow(o - ex, 2) / ex)
           |                + max(n) - sum(ex)) AS chi2,
           |          (SELECT count(DISTINCT a) FROM cells) AS nr,
           |          (SELECT count(DISTINCT b) FROM cells) AS nc,
           |          max(n)::BIGINT AS n
           |        FROM e)
           |SELECT round(chi2, 4) AS chi2,
           |  ((nr - 1) * (nc - 1))::BIGINT AS dof, n,
           |  nr::BIGINT AS n_rows, nc::BIGINT AS n_cols,
           |  CASE WHEN least(nr, nc) - 1 > 0 THEN
           |    round(sqrt(chi2 / (n * (least(nr, nc) - 1))), 4)
           |  END AS cramers_v,
           |  round(sqrt(chi2 / (chi2 + n)), 4) AS contingency_c
           |FROM agg""".stripMargin))

  val all: Seq[Q] = Seq(q181, q182, q183, q184, q185, q186, q187, q188)
}
