package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries for the round-7 statistical / time-
  * series operator family (X49+): distribution comparison, robust
  * trend, recurrence smoothing, changepoint detection. Conventions
  * follow Catalog.scala (matching aliases, deterministic ORDER BY,
  * rounding on both sides).
  */
object CatalogStats {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X49: per-group two-sample Kolmogorov–Smirnov D — l_quantity
    * distributions of returnflag 'A' vs 'N' within each linestatus.
    * Integral quantities tie heavily, exercising the distinct-value
    * ECDF steps; the scaled max-gap is integer-exact on both engines. */
  private val q144 = Q("q144_ks_test",
    (s, dir) => {
      import s.implicits._
      graft.de.RankStats.ksTest(t(s, dir, "lineitem"),
        "l_linestatus", "l_returnflag", "l_quantity", a = "A", b = "N")
        .orderBy($"l_linestatus")
    },
    Some("""WITH cells AS (
           |  SELECT l_linestatus AS g, l_quantity AS v,
           |         count(*) FILTER (WHERE l_returnflag = 'A')::BIGINT AS ca,
           |         count(*) FILTER (WHERE l_returnflag = 'N')::BIGINT AS cb
           |  FROM lineitem WHERE l_returnflag IN ('A', 'N')
           |    AND l_quantity IS NOT NULL
           |  GROUP BY 1, 2),
           |w AS (
           |  SELECT g,
           |         sum(ca) OVER (PARTITION BY g ORDER BY v) AS cuma,
           |         sum(cb) OVER (PARTITION BY g ORDER BY v) AS cumb,
           |         sum(ca) OVER (PARTITION BY g) AS ta,
           |         sum(cb) OVER (PARTITION BY g) AS tb
           |  FROM cells)
           |SELECT g AS l_linestatus,
           |       max(ta)::BIGINT AS n_a, max(tb)::BIGINT AS n_b,
           |       round(CASE WHEN max(ta) > 0 AND max(tb) > 0 THEN
           |         max(abs(cuma * tb - cumb * ta)) * 1.0
           |           / (max(ta) * max(tb)) END, 6) AS ks_d
           |FROM w GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X50: Mann–Kendall S + Theil–Sen slope of each event type's daily
    * count series (30 points → 435 pairs per key; the pairwise join
    * runs over the AGGREGATE, never the events). Integer counts and
    * integer day indices make S exact and every slope engine-identical;
    * the median interpolates the two middle slopes on even counts. */
  private val q145 = Q("q145_trend",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type",
          datediff(to_date($"ts"), to_date(lit("2024-01-01"))).as("t"))
        .agg(count(lit(1)).as("c"))
      graft.ml.TrendStats.trend(series, "event_type", "t", "c")
        .orderBy($"event_type")
    },
    Some("""WITH s AS (
           |  SELECT event_type,
           |         datediff('day', DATE '2024-01-01', ts::DATE) AS t,
           |         count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |p AS (
           |  SELECT a.event_type AS et,
           |         sign(b.c - a.c) AS sg,
           |         (b.c - a.c) * 1.0 / (b.t - a.t) AS sl
           |  FROM s a JOIN s b
           |    ON a.event_type = b.event_type AND a.t < b.t),
           |c AS (SELECT event_type AS et, count(*)::BIGINT AS n_points
           |      FROM s GROUP BY 1)
           |SELECT p.et AS event_type, c.n_points,
           |       count(*)::BIGINT AS n_pairs,
           |       sum(sg)::BIGINT AS mk_s,
           |       round(median(sl), 6) AS theil_sen
           |FROM p JOIN c ON c.et = p.et
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin))

  /** X51: exact EWMA (α = 0.25) of each event type's daily count
    * series via the ordered-array fold; the oracle replays the
    * identical recurrence as a recursive CTE (the q53/q80 technique),
    * so the doubles agree bit-for-bit before the 6-dp round. */
  private val q146 = Q("q146_ewma",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      graft.events.Ewma.ewmaLast(series, "event_type", "d", "c",
        alpha = 0.25)
        .orderBy($"event_type")
    },
    Some("""WITH RECURSIVE s AS (
           |  SELECT event_type, date_trunc('day', ts) AS d,
           |         count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |r AS (
           |  SELECT event_type, c,
           |         row_number() OVER (PARTITION BY event_type
           |                            ORDER BY d) AS rn
           |  FROM s),
           |e AS (
           |  SELECT event_type, rn, c::DOUBLE AS acc
           |  FROM r WHERE rn = 1
           |  UNION ALL
           |  SELECT r.event_type, r.rn, 0.75 * e.acc + 0.25 * r.c
           |  FROM e JOIN r ON r.event_type IS NOT DISTINCT FROM e.event_type
           |               AND r.rn = e.rn + 1),
           |f AS (SELECT event_type, max(rn) AS n FROM e GROUP BY 1)
           |SELECT e.event_type, f.n::BIGINT AS n,
           |       round(e.acc, 6) AS ewma_last
           |FROM e JOIN f ON f.event_type IS NOT DISTINCT FROM e.event_type
           |             AND e.rn = f.n
           |ORDER BY 1""".stripMargin))

  /** X52: best mean-shift changepoint of each event type's daily count
    * series (CUSUM-scan argmax with earliest-split tie-break; prefix
    * sums exact in LONG, stat rounded before ranking). */
  private val q147 = Q("q147_changepoint",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      graft.events.Changepoint.meanShiftScan(series, "event_type", "d",
        "c", minSeg = 3)
        .orderBy($"event_type")
    },
    Some("""WITH s AS (
           |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |w AS (
           |  SELECT event_type, d,
           |         row_number() OVER pk AS i,
           |         sum(c) OVER pk AS sl,
           |         count(*) OVER (PARTITION BY event_type) AS n,
           |         sum(c) OVER (PARTITION BY event_type) AS st
           |  FROM s
           |  WINDOW pk AS (PARTITION BY event_type ORDER BY d
           |                ROWS BETWEEN UNBOUNDED PRECEDING
           |                AND CURRENT ROW)),
           |sc AS (
           |  SELECT event_type, d, n,
           |         round(pow(sl * 1.0 / i - (st - sl) * 1.0 / (n - i), 2)
           |               * (i * (n - i)) * 1.0 / n, 6) AS stat
           |  FROM w WHERE i >= 3 AND i <= n - 3),
           |rk AS (
           |  SELECT event_type, n, d, stat,
           |         row_number() OVER (PARTITION BY event_type
           |           ORDER BY stat DESC, d) AS rn
           |  FROM sc)
           |SELECT event_type, n::BIGINT AS n, d AS split_at,
           |       round(stat, 4) AS stat
           |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin))

  /** X53: 2-D skyline — parts no other part beats on BOTH price and
    * size. The Spark side is the sort-based distinct-x window plan; the
    * ORACLE is the naive NOT EXISTS dominance query, an independent
    * formulation proving the window plan computes the same front. */
  private val q148 = Q("q148_skyline",
    (s, dir) => {
      import s.implicits._
      graft.report.Skyline.skyline2d(
        t(s, dir, "part").select($"p_partkey", $"p_retailprice", $"p_size"),
        "p_retailprice", "p_size")
        .orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey, p_retailprice, p_size
           |FROM part p
           |-- complete-case mirrors skyline2d (fuzz-25): a null
           |-- coordinate can neither dominate nor be dominated
           |WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
           |  AND NOT EXISTS (
           |  SELECT 1 FROM part q
           |  WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
           |    AND q.p_retailprice <= p.p_retailprice
           |    AND q.p_size <= p.p_size
           |    AND (q.p_retailprice < p.p_retailprice
           |         OR q.p_size < p.p_size))
           |ORDER BY p_partkey""".stripMargin))

  /** X54: RFM segment rollup — per (r,f,m) quintile cell, customer
    * count and mean spend. Quintiles are floor-arithmetic on
    * total-order ranks (custkey tie-break), so both engines cut
    * identically; the oracle replays the same three ranks. */
  private val q149 = Q("q149_rfm",
    (s, dir) => {
      import s.implicits._
      graft.report.Rfm.segments(t(s, dir, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy($"r_score", $"f_score", $"m_score")
    },
    Some("""WITH pe AS (
           |  -- complete-case on the recency axis (Rfm.scores filter):
           |  -- all-null-date entities have no observable recency
           |  SELECT o_custkey AS k, max(o_orderdate::DATE) AS last_d,
           |         count(*)::BIGINT AS frequency,
           |         round(sum(o_totalprice), 2) AS monetary
           |  FROM orders GROUP BY 1
           |  HAVING max(o_orderdate::DATE) IS NOT NULL),
           |a AS (SELECT max(last_d) AS anchor_d FROM pe),
           |b AS (SELECT k, datediff('day', last_d, anchor_d)::BIGINT
           |        AS recency_days, frequency, monetary FROM pe, a),
           |r AS (SELECT *,
           |        row_number() OVER (ORDER BY recency_days, k) AS rr,
           |        row_number() OVER (ORDER BY frequency DESC, k) AS rf,
           |        row_number() OVER (ORDER BY monetary DESC, k) AS rm,
           |        count(*) OVER () AS n
           |      FROM b),
           |sc AS (SELECT monetary,
           |         (5 - floor((rr - 1) * 5.0 / n))::INT AS r_score,
           |         (5 - floor((rf - 1) * 5.0 / n))::INT AS f_score,
           |         (5 - floor((rm - 1) * 5.0 / n))::INT AS m_score
           |       FROM r)
           |SELECT r_score, f_score, m_score,
           |       count(*)::BIGINT AS n_customers,
           |       sum(round(monetary * 100)::BIGINT)::DOUBLE
           |         / count(*) / 100 AS avg_monetary
           |FROM sc GROUP BY 1, 2, 3
           |ORDER BY r_score, f_score, m_score""".stripMargin))

  /** L61: per-doc bigram cross-entropy under the corpus add-1
    * conditional LM (q72's order-2 companion); the oracle rebuilds the
    * bigram stream with a lateral index unnest over the token list. */
  private val q150 = Q("q150_bigram_ppl",
    (s, dir) => {
      import s.implicits._
      graft.text.CorpusStats.bigramLogPerplexity(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
           |             regexp_extract_all(text, '\S+') AS ts
           |           FROM documents),
           |bg AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS bg
           |       FROM d, UNNEST(range(1, len(ts))) AS r(i)),
           |db AS (SELECT doc_id, bg, count(*) AS c_db
           |       FROM bg GROUP BY 1, 2),
           |lm AS (SELECT bg, sum(c_db) AS c_b,
           |              split_part(bg, ' ', 1) AS w1
           |       FROM db GROUP BY bg),
           |tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS term
           |        FROM documents),
           |uni AS (SELECT term, count(*) AS c_u FROM tok GROUP BY 1),
           |vc AS (SELECT count(*) AS v FROM uni),
           |sc AS (SELECT lm.bg,
           |         -ln((c_b + 1) / CAST(c_u + v AS DOUBLE)) AS nlp
           |       FROM lm JOIN uni ON uni.term = lm.w1, vc)
           |SELECT doc_id, sum(c_db)::BIGINT AS n_bigrams,
           |       round(sum(c_db * nlp) / CAST(sum(c_db) AS DOUBLE), 4)
           |         AS bigram_logppl
           |FROM db JOIN sc USING (bg)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** X55: Benford first-digit screen over order totals. The digit is
    * extracted from the decimal STRING rendering (no float log), so
    * both engines bucket identically by construction. */
  private val q151 = Q("q151_benford",
    (s, dir) => {
      graft.util.Profile.benfordFirstDigit(t(s, dir, "orders"),
        "o_totalprice")
    },
    Some("""WITH v AS (
           |  SELECT substr(regexp_replace(
           |           CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS VARCHAR),
           |           '[^1-9]', '', 'g'), 1, 1)::INT AS digit
           |  FROM orders WHERE o_totalprice > 0),
           |c AS (SELECT digit, count(*)::BIGINT AS n FROM v GROUP BY 1),
           |t AS (SELECT sum(n) AS tot FROM c)
           |SELECT digit, n,
           |       round(n * 1.0 / tot, 6) AS share,
           |       round(log10(1 + 1.0 / digit), 6) AS benford_p,
           |       round(round(n * 1.0 / tot, 6)
           |             - round(log10(1 + 1.0 / digit), 6), 6) AS deviation
           |FROM c, t ORDER BY digit""".stripMargin))

  /** X56: grid-blocked DBSCAN over integer planar coordinates
    * (customers scattered by (rounded acctbal, hash-derived y)). The
    * Spark side blocks with the 3×3 cell join; the ORACLE is the naive
    * all-pairs ε-join plus a recursive min-label closure over the core
    * graph — independent formulations, integer distance arithmetic on
    * both, so membership and labels match exactly. eps=200/minPts=4
    * yields a real mix at sf0.01 (~530 core, ~160 isolated). */
  private val q152 = Q("q152_dbscan",
    (s, dir) => {
      import s.implicits._
      val pts = t(s, dir, "customer").select($"c_custkey",
        round($"c_acctbal", 0).cast("long").as("x"),
        (($"c_custkey" * 40503L) % 8000L).as("y"))
      graft.ml.Dbscan.cluster(pts, "c_custkey", "x", "y",
        eps = 200L, minPts = 4)
        .orderBy($"c_custkey")
    },
    Some("""WITH RECURSIVE p AS (
           |  SELECT c_custkey AS id,
           |         CAST(round(c_acctbal, 0) AS BIGINT) AS x,
           |         (c_custkey * 40503) % 8000 AS y
           |  FROM customer),
           |nb AS (SELECT a.id AS ia, b.id AS ib
           |       FROM p a JOIN p b ON a.id != b.id
           |         AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 40000),
           |cnt AS (SELECT ia, count(*) AS nn FROM nb GROUP BY 1),
           |rl AS (SELECT p.id, coalesce(nn, 0) + 1 >= 4 AS is_core
           |       FROM p LEFT JOIN cnt ON cnt.ia = p.id),
           |ce AS (SELECT ia, ib FROM nb
           |       JOIN rl ra ON ra.id = nb.ia AND ra.is_core
           |       JOIN rl rb ON rb.id = nb.ib AND rb.is_core),
           |reach AS (
           |  SELECT id, id AS lbl FROM rl WHERE is_core
           |  UNION
           |  SELECT ce.ib, reach.lbl FROM reach
           |  JOIN ce ON ce.ia = reach.id),
           |cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY 1),
           |bord AS (SELECT nb.ia AS id, min(cl.cluster) AS cluster
           |         FROM nb
           |         JOIN rl r ON r.id = nb.ia AND NOT r.is_core
           |         JOIN rl rc ON rc.id = nb.ib AND rc.is_core
           |         JOIN cl ON cl.id = nb.ib
           |         GROUP BY 1)
           |SELECT rl.id AS c_custkey,
           |       CASE WHEN is_core THEN 'core'
           |            WHEN bord.id IS NOT NULL THEN 'border'
           |            ELSE 'noise' END AS role,
           |       CASE WHEN is_core THEN cl.cluster
           |            ELSE bord.cluster END AS cluster
           |FROM rl
           |LEFT JOIN cl ON cl.id = rl.id
           |LEFT JOIN bord ON bord.id = rl.id
           |ORDER BY c_custkey""".stripMargin))

  /** X57: item–item cosine top-5 neighbors over order-basket
    * incidence (support ≥ 20, co-count ≥ 2); cosine rounded before the
    * per-item rank so the cut is engine-stable. */
  private val q153 = Q("q153_item_neighbors",
    (s, dir) => {
      import s.implicits._
      graft.reco.ItemSim.topNeighbors(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 20L, minPairCount = 2L,
        k = 5)
        .orderBy($"item", $"rk")
    },
    Some("""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
           |           FROM lineitem),
           |f AS (SELECT it, count(*)::BIGINT AS sup FROM b
           |      GROUP BY 1 HAVING count(*) >= 20),
           |pb AS (SELECT b.bk, b.it, f.sup FROM b JOIN f USING (it)),
           |pr AS (SELECT a.it AS i, c.it AS j, a.sup AS si, c.sup AS sj,
           |              count(*)::BIGINT AS pc
           |       FROM pb a JOIN pb c ON a.bk = c.bk AND a.it < c.it
           |       GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
           |bo AS (SELECT i AS item, j AS neighbor, pc, si AS sa, sj AS sb
           |       FROM pr
           |       UNION ALL
           |       SELECT j, i, pc, sj, si FROM pr),
           |sc AS (SELECT item, neighbor, pc AS pair_count,
           |         round(pc / sqrt(CAST(sa * sb AS DOUBLE)), 6) AS cosine
           |       FROM bo),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY item
           |         ORDER BY cosine DESC, neighbor) AS rk FROM sc)
           |SELECT item, neighbor, pair_count, cosine, rk::INT AS rk
           |FROM rk WHERE rk <= 5 ORDER BY item, rk""".stripMargin))

  /** X58: common-neighbor Jaccard link prediction on the sparse
    * low-quantity part–supplier graph (2,289 edges); pairs with ≥ 2
    * shared neighbors, existing edges flagged. The oracle is the
    * direct symmetric-adjacency self-join. */
  private val q154 = Q("q154_link_jaccard",
    (s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "lineitem")
        .filter($"l_quantity" <= 2)
        .select(($"l_partkey" % 997).as("src"),
          ($"l_suppkey" % 997).as("dst"))
      graft.graph.LinkPrediction.neighborhoodJaccard(edges,
        minCommon = 2L)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH e AS (
           |  SELECT DISTINCT least(l_partkey % 997, l_suppkey % 997) AS a,
           |                  greatest(l_partkey % 997, l_suppkey % 997) AS b
           |  FROM lineitem
           |  WHERE l_quantity <= 2
           |    AND l_partkey % 997 != l_suppkey % 997),
           |sym AS (SELECT a AS v, b AS n FROM e
           |        UNION ALL SELECT b, a FROM e),
           |deg AS (SELECT v, count(*)::BIGINT AS deg FROM sym GROUP BY 1),
           |cm AS (SELECT l.v AS id_a, r.v AS id_b,
           |              count(*)::BIGINT AS common
           |       FROM sym l JOIN sym r ON l.n = r.n AND l.v < r.v
           |       GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT id_a, id_b, common,
           |       da.deg AS deg_a, db.deg AS deg_b,
           |       round(common * 1.0 / (da.deg + db.deg - common), 6)
           |         AS jaccard,
           |       (ex.a IS NOT NULL) AS is_edge
           |FROM cm
           |JOIN deg da ON da.v = id_a
           |JOIN deg db ON db.v = id_b
           |LEFT JOIN e ex ON ex.a = id_a AND ex.b = id_b
           |ORDER BY id_a, id_b""".stripMargin))

  /** §2.5 widening: the remaining analytic-window family — ntile,
    * nth_value / first_value / last_value over an explicit full frame,
    * and lag — all on ONE (partition, order) sort.
    *
    * Tie-break contract (fuzz-48): (orderkey, linenumber) is NOT
    * unique in the corpus — the generator emits duplicate line ids —
    * and the v4 suppkey collapse put duplicates with DIFFERENT
    * quantities into one partition, where lag read an engine-dependent
    * neighbor. The sort therefore totals over every emitted attribute
    * (…, l_quantity with NULLS FIRST pinned — Spark's asc default,
    * spelled explicitly in the oracle): rows still tied are identical
    * in all output-relevant columns, so any interleaving yields the
    * same output multiset. */
  private val q155 = Q("q155_window_battery",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy($"l_suppkey")
        .orderBy($"l_orderkey", $"l_linenumber",
          $"l_quantity".asc_nulls_first)
      val wFull = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "lineitem")
        .filter($"l_suppkey" < 10)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_quantity",
          ntile(4).over(wOrd).as("quartile"),
          lag($"l_quantity", 1).over(wOrd).as("prev_qty"),
          nth_value($"l_quantity", 2).over(wFull).as("second_qty"),
          first($"l_quantity").over(wFull).as("first_qty"),
          last($"l_quantity").over(wFull).as("last_qty"))
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
           |       (ntile(4) OVER wo)::INT AS quartile,
           |       lag(l_quantity, 1) OVER wo AS prev_qty,
           |       nth_value(l_quantity, 2) OVER wf AS second_qty,
           |       first_value(l_quantity) OVER wf AS first_qty,
           |       last_value(l_quantity) OVER wf AS last_qty
           |FROM lineitem WHERE l_suppkey < 10
           |WINDOW wo AS (PARTITION BY l_suppkey
           |              ORDER BY l_orderkey, l_linenumber,
           |                       l_quantity NULLS FIRST),
           |       wf AS (PARTITION BY l_suppkey
           |              ORDER BY l_orderkey, l_linenumber,
           |                       l_quantity NULLS FIRST
           |              ROWS BETWEEN UNBOUNDED PRECEDING
           |              AND UNBOUNDED FOLLOWING)
           |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin))

  /** X59: hierarchy flattening by pointer doubling (child→parent
    * forest from integer-divided custkeys, depth ≈ log₁₀ n). The
    * Spark side settles in ⌈log₂ depth⌉ self-joins; the ORACLE walks
    * the hierarchy one hop per recursive round — independent
    * formulations of root and depth. */
  private val q156 = Q("q156_hierarchy",
    (s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "customer").select($"c_custkey",
        when($"c_custkey" <= 10, lit(null).cast("long"))
          .otherwise(($"c_custkey" / 10).cast("long")).as("par"))
      graft.graph.Hierarchy.flattenToRoot(edges, "c_custkey", "par")
        .orderBy($"c_custkey")
    },
    Some("""WITH RECURSIVE e AS (
           |  SELECT c_custkey AS node,
           |         CASE WHEN c_custkey <= 10 THEN NULL
           |              ELSE c_custkey // 10 END AS par
           |  FROM customer),
           |-- the operator's universe is children UNION parents: a
           |-- referenced-but-absent parent (fuzz-19 row drops) is a
           |-- synthesized ROOT, so its orphaned subtree still resolves
           |e2 AS (
           |  SELECT node, par FROM e
           |  UNION ALL
           |  SELECT DISTINCT par AS node, NULL AS par FROM e
           |  WHERE par IS NOT NULL
           |    AND par NOT IN (SELECT node FROM e)),
           |r AS (
           |  SELECT node, node AS root, 0::BIGINT AS depth
           |  FROM e2 WHERE par IS NULL
           |  UNION ALL
           |  SELECT e2.node, r.root, r.depth + 1
           |  FROM e2 JOIN r ON e2.par = r.node)
           |SELECT node AS c_custkey, root, depth
           |FROM r ORDER BY 1""".stripMargin))

  /** X59 (fuzzy-match verify kernel): blocked Jaro-Winkler name matching.
    * Spark side is graft's native codegen'd `jaro_winkler` function;
    * the ORACLE is DuckDB's built-in `jaro_winkler_similarity` — two
    * independent implementations of the published definition, so the
    * hash compare certifies the algorithm itself (the q62/NFC technique).
    * Blocking: distinct names paired only within their last-word block
    * (the ER-blocking shape of q107 — the quadratic verify runs per
    * block, never corpus²; at 100 TB the block key is the skew knob).
    * Score rounded to 4 dp so last-ulp arithmetic-order differences
    * between the two engines' formula evaluation cannot flip the hash. */
  private val q159 = Q("q159_jaro_winkler",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.jaro_winkler
      val names = t(s, dir, "part")
        .select($"p_name").distinct()
        // q176's fuzz-20 finding applies here too: graft's JW is
        // CHAR-grain, DuckDB's is BYTE-grain — pin single-byte names
        // (q29 discipline) and coalesce the missing second token to ''
        // so single-word names block identically to split_part
        // (try_ variant: plain element_at errors out-of-bounds under
        // ANSI — fuzz-40's 1-char names have no second token)
        .filter(octet_length($"p_name") === length($"p_name"))
        .withColumn("blk",
          coalesce(try_element_at(split($"p_name", " "), lit(2)),
            lit("")))
      val a = names.select($"p_name".as("name_a"), $"blk")
      val b = names.select($"p_name".as("name_b"), $"blk")
      a.join(b, Seq("blk"))
        .filter($"name_a" < $"name_b")
        .withColumn("jw", round(jaro_winkler($"name_a", $"name_b"), 4))
        .filter($"jw" >= 0.75)
        .select($"name_a", $"name_b", $"jw")
        .orderBy($"jw".desc, $"name_a", $"name_b")
    },
    Some("""WITH n AS (SELECT DISTINCT p_name,
           |    split_part(p_name, ' ', 2) AS blk FROM part
           |  WHERE strlen(p_name) = length(p_name)),
           |p AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
           |    round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
           |  FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name)
           |SELECT name_a, name_b, jw FROM p WHERE jw >= 0.75
           |ORDER BY jw DESC, name_a, name_b""".stripMargin))

  /** X61: count-min sketch point estimates for the corpus's top tokens.
    * Every hash is md5-derived (== DuckDB md5_number_lower) and the
    * bucket is the hash's LOW BITS (width a power of two), so sketch
    * CELLS — not just estimates — are bit-identical cross-engine; the
    * oracle rebuilds the full sketch and replays the min-over-rows
    * point query. est >= exact by construction (CmsKmvSpec). */
  private val q160 = Q("q160_cms_tokens",
    (s, dir) => {
      graft.sketch.Sketches.cmsTokenReport(
        t(s, dir, "documents"), "text",
        depth = 4, width = 256, probeTopK = 20)
    },
    Some("""WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS token
           |             FROM documents),
           |freq AS (SELECT token, count(*)::BIGINT AS exact_n
           |         FROM tok GROUP BY token),
           |idx AS (SELECT unnest(generate_series(0, 3)) AS i),
           |hb AS (SELECT token, exact_n, i,
           |    (md5_number_lower(CAST(i AS VARCHAR) || ':' || token) & 255)::BIGINT AS b
           |  FROM freq, idx),
           |cells AS (SELECT i, b, sum(exact_n)::BIGINT AS cell
           |          FROM hb GROUP BY i, b),
           |probes AS (SELECT token, exact_n FROM freq
           |           ORDER BY exact_n DESC, token LIMIT 20)
           |SELECT p.token, p.exact_n, min(c.cell)::BIGINT AS cms_n
           |FROM probes p JOIN hb h ON h.token = p.token
           |     JOIN cells c ON c.i = h.i AND c.b = h.b
           |GROUP BY p.token, p.exact_n
           |ORDER BY p.token""".stripMargin))

  /** X62: KMV distinct-count sketch vs exact, per group. The k-th
    * minimum hash is selected under UNSIGNED order on both engines
    * (Spark ranks on h XOR Long.MinValue over the signed
    * reinterpretation; DuckDB ranks the native UBIGINT — same element),
    * and both divide the same IEEE double, so the 4-dp estimate is
    * engine-noise-free. ~11k distinct orderkeys per flag vs k=256
    * → ±1/√k ≈ 6% expected error, visible in the report. */
  private val q161 = Q("q161_kmv_distinct",
    (s, dir) => {
      graft.sketch.Sketches.kmvDistinct(
          t(s, dir, "lineitem"), "l_returnflag", "l_orderkey", k = 256)
        .withColumnRenamed("grp", "l_returnflag")
    },
    Some("""WITH dh AS (SELECT DISTINCT l_returnflag AS grp,
           |    md5_number_lower(CAST(l_orderkey AS VARCHAR)) AS hu
           |  FROM lineitem),
           |ex AS (SELECT grp, count(*)::BIGINT AS exact_distinct
           |       FROM dh GROUP BY grp),
           |rk AS (SELECT grp, hu,
           |         row_number() OVER (PARTITION BY grp ORDER BY hu) AS r
           |       FROM dh),
           |kth AS (SELECT grp, hu::DOUBLE AS uk FROM rk WHERE r = 256)
           |SELECT ex.grp AS l_returnflag, ex.exact_distinct,
           |  round(coalesce(255 * 18446744073709551616.0 / uk,
           |                 ex.exact_distinct::DOUBLE), 4) AS kmv_est
           |FROM ex LEFT JOIN kth ON kth.grp = ex.grp
           |ORDER BY l_returnflag""".stripMargin))

  /** X63: Kruskal–Wallis H per scope — l_quantity across returnflag
    * classes within each linestatus (q144's KS companion for 3+
    * samples). Integral quantities tie massively, so the tie-corrected
    * h_adj visibly exceeds h. Rank sums are exact BIGINTs on both
    * engines (doubled-rank trick, RankStats.kruskalWallis); the oracle
    * replays the identical cell formulation. */
  private val q162 = Q("q162_kruskal_wallis",
    (s, dir) => {
      import s.implicits._
      graft.de.RankStats.kruskalWallis(
          t(s, dir, "lineitem"), "l_linestatus", "l_returnflag",
          "l_quantity")
        .orderBy($"l_linestatus")
    },
    Some("""WITH cells AS (SELECT l_linestatus AS s, l_returnflag AS c,
           |    l_quantity AS v, count(*)::BIGINT AS cnt
           |  FROM lineitem WHERE l_quantity IS NOT NULL
           |  GROUP BY 1, 2, 3),
           |pv AS (SELECT s, v, sum(cnt)::BIGINT AS t
           |       FROM cells GROUP BY 1, 2),
           |rk AS (SELECT s, v, t,
           |    coalesce(sum(t) OVER (PARTITION BY s ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0)::BIGINT AS cb
           |  FROM pv),
           |rc AS (SELECT cells.s, cells.c, cnt,
           |         (2 * cb + t + 1)::BIGINT AS r2
           |       FROM cells JOIN rk
           |         ON cells.s IS NOT DISTINCT FROM rk.s
           |        AND cells.v = rk.v),
           |cl AS (SELECT s, c, sum(cnt * r2)::BIGINT AS rsum,
           |         sum(cnt)::BIGINT AS nj
           |       FROM rc GROUP BY 1, 2),
           |ties AS (SELECT s, sum(t*t*t - t)::BIGINT AS tt
           |         FROM pv GROUP BY 1),
           |sc AS (SELECT s, sum(nj)::BIGINT AS n,
           |         (count(*) - 1)::BIGINT AS dof,
           |         sum(rsum::DOUBLE * rsum / (4.0 * nj)) AS sq
           |       FROM cl GROUP BY 1)
           |SELECT sc.s AS l_linestatus, n, dof,
           |  round(12.0 / (n * (n + 1.0)) * sq - 3.0 * (n + 1.0), 4) AS h,
           |  round((12.0 / (n * (n + 1.0)) * sq - 3.0 * (n + 1.0)) /
           |    nullif(1.0 - tt / (n::DOUBLE * n * n - n), 0.0), 4) AS h_adj
           |FROM sc JOIN ties ON ties.s IS NOT DISTINCT FROM sc.s
           |ORDER BY l_linestatus""".stripMargin))

  /** X64: Holt linear-trend smoothing of each event type's daily count
    * series (q146's two-state companion). The oracle replays the
    * identical recurrence as a recursive CTE carrying (l, b) columns;
    * both engines evaluate 1−α as the runtime double `1.0 − α` (the
    * Ewma.holtForecast docstring explains why the decimal-simplified
    * literal would diverge). */
  private val q163 = Q("q163_holt_trend",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      graft.events.Ewma.holtForecast(series, "event_type", "d", "c",
        alpha = 0.3, beta = 0.1)
        .orderBy($"event_type")
    },
    Some("""WITH RECURSIVE s AS (
           |  SELECT event_type, date_trunc('day', ts) AS d,
           |         count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |r AS (
           |  SELECT event_type, c,
           |         row_number() OVER (PARTITION BY event_type
           |                            ORDER BY d) AS rn
           |  FROM s),
           |e AS (
           |  SELECT event_type, rn, c::DOUBLE AS l, 0.0::DOUBLE AS b
           |  FROM r WHERE rn = 1
           |  UNION ALL
           |  SELECT r.event_type, r.rn,
           |    0.3::DOUBLE * r.c +
           |      (1.0::DOUBLE - 0.3::DOUBLE) * (e.l + e.b),
           |    0.1::DOUBLE * ((0.3::DOUBLE * r.c +
           |        (1.0::DOUBLE - 0.3::DOUBLE) * (e.l + e.b)) - e.l) +
           |      (1.0::DOUBLE - 0.1::DOUBLE) * e.b
           |  FROM e JOIN r ON r.event_type IS NOT DISTINCT FROM e.event_type
           |               AND r.rn = e.rn + 1),
           |f AS (SELECT event_type, max(rn) AS n FROM e GROUP BY 1)
           |SELECT e.event_type, f.n::BIGINT AS n,
           |       round(e.l, 6) AS level, round(e.b, 6) AS trend,
           |       round(e.l + e.b, 6) AS forecast_next
           |FROM e JOIN f ON f.event_type IS NOT DISTINCT FROM e.event_type
           |             AND e.rn = f.n
           |ORDER BY 1""".stripMargin))

  /** X65: CUPED experiment readout over events — variant assigned by
    * the deterministic md5 parity of user_id (cross-engine identical),
    * pre/post = first/second half-month spend per user, cents-snapped
    * so both engines adjust IDENTICAL unit frames and only the final
    * 4-dp-rounded aggregates touch accumulation order. */
  private val q164 = Q("q164_cuped",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.md5_long
      val cut = lit("2024-01-16").cast("timestamp")
      val units = t(s, dir, "events")
        .groupBy($"user_id")
        .agg(
          round(coalesce(sum(when($"ts" < cut, $"value")), lit(0.0)), 2)
            .as("pre"),
          round(coalesce(sum(when($"ts" >= cut, $"value")), lit(0.0)), 2)
            .as("post"))
        .withColumn("variant",
          when(md5_long($"user_id".cast("string"))
            .bitwiseAND(lit(1L)) === 0, "A").otherwise("B"))
      graft.de.Experiment.cupedReadout(units, "variant", "pre", "post")
    },
    Some("""WITH u AS (
           |  SELECT user_id,
           |    round(coalesce(sum(value) FILTER (
           |      WHERE ts < TIMESTAMP '2024-01-16'), 0), 2) AS pre,
           |    round(coalesce(sum(value) FILTER (
           |      WHERE ts >= TIMESTAMP '2024-01-16'), 0), 2) AS post,
           |    CASE WHEN (md5_number_lower(CAST(user_id AS VARCHAR)) & 1) = 0
           |         THEN 'A' ELSE 'B' END AS variant
           |  FROM events GROUP BY user_id),
           |s AS (SELECT avg(pre) AS mx, covar_samp(pre, post) AS cxy,
           |             var_samp(pre) AS vx FROM u),
           |a AS (SELECT variant, post,
           |        post - (CASE WHEN vx > 0 THEN cxy / vx ELSE 0 END) *
           |          (pre - mx) AS adj
           |      FROM u, s)
           |SELECT variant, count(*)::BIGINT AS n,
           |  round(avg(post), 4) AS raw_mean, round(avg(adj), 4) AS adj_mean,
           |  round(var_samp(post), 4) AS raw_var,
           |  round(var_samp(adj), 4) AS adj_var,
           |  round(1.0 - var_samp(adj) / nullif(var_samp(post), 0), 4)
           |    AS var_reduction
           |FROM a GROUP BY variant ORDER BY variant""".stripMargin))

  val all: Seq[Q] = Seq(q144, q145, q146, q147, q148, q149, q150, q151,
    q152, q153, q154, q155, q156, q159, q160, q161, q162, q163, q164)
}
