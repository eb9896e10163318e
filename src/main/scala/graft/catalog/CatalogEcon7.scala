package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-7 batch L (L67+): accent
  * folding, geodesic distance, series repair, rolling dependence,
  * growth reporting. Conventions follow Catalog.scala.
  */
object CatalogEcon7 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** L67: accent folding — graft's native NFD→strip-marks→NFC
    * [[graft.functions.gfunctions.strip_accents]] vs DuckDB's
    * INDEPENDENT utf8proc `strip_accents` (the certify-the-algorithm
    * discipline). The corpus is ASCII, so both sides first INJECT
    * diacritics with the same translate map — the kernel then has
    * real work whose output the hash compare certifies. */
  private val q206 = Q("q206_strip_accents",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.strip_accents
      val accented = translate($"p_name",
        "aeioun", "áèîöüñ")
      t(s, dir, "part")
        .select($"p_partkey", accented.as("accented"))
        .withColumn("folded", strip_accents($"accented"))
        .withColumn("roundtrip_ok",
          $"folded" === translate($"accented",
            "áèîöüñ", "aeioun"))
        .orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey,
           |  translate(p_name, 'aeioun',
           |            'áèîöüñ') AS accented,
           |  strip_accents(translate(p_name, 'aeioun',
           |            'áèîöüñ')) AS folded,
           |  strip_accents(translate(p_name, 'aeioun', 'áèîöüñ'))
           |    = translate(translate(p_name, 'aeioun', 'áèîöüñ'),
           |                'áèîöüñ', 'aeioun') AS roundtrip_ok
           |FROM part ORDER BY p_partkey""".stripMargin))

  /** L69: haversine distance matrix over deterministic per-nation
    * coordinates ([[graft.functions.gfunctions.haversine_km]]) —
    * close pairs under 5000 km; the 2-dp round absorbs libm last-ulp
    * differences between the engines' trig implementations. */
  private val q207 = Q("q207_haversine",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.haversine_km
      val pts = t(s, dir, "nation")
        .select($"n_nationkey",
          (($"n_nationkey" * 7 % 120) - 60 + 0.5).as("lat"),
          (($"n_nationkey" * 13 % 360) - 180 + 0.25).as("lon"))
      val a = pts.select($"n_nationkey".as("k_a"), $"lat".as("lat_a"),
        $"lon".as("lon_a"))
      val b = pts.select($"n_nationkey".as("k_b"), $"lat".as("lat_b"),
        $"lon".as("lon_b"))
      a.crossJoin(b).filter($"k_a" < $"k_b")
        .withColumn("dist_km", round(haversine_km($"lat_a", $"lon_a",
          $"lat_b", $"lon_b"), 2))
        .filter($"dist_km" <= 5000)
        .select($"k_a", $"k_b", $"dist_km")
        .orderBy($"k_a", $"k_b")
    },
    Some("""WITH pts AS (
           |  SELECT n_nationkey AS k,
           |         (n_nationkey * 7 % 120) - 60 + 0.5 AS lat,
           |         (n_nationkey * 13 % 360) - 180 + 0.25 AS lon
           |  FROM nation),
           |pr AS (SELECT a.k AS k_a, b.k AS k_b,
           |         round(2.0 * 6371.0 * asin(sqrt(
           |           sin(radians(b.lat - a.lat) / 2) *
           |           sin(radians(b.lat - a.lat) / 2) +
           |           cos(radians(a.lat)) * cos(radians(b.lat)) *
           |           sin(radians(b.lon - a.lon) / 2) *
           |           sin(radians(b.lon - a.lon) / 2))), 2) AS dist_km
           |       FROM pts a JOIN pts b ON a.k < b.k)
           |SELECT k_a, k_b, dist_km FROM pr WHERE dist_km <= 5000
           |ORDER BY k_a, k_b""".stripMargin))

  /** X97: linear interpolation of a gappy daily series
    * ([[graft.events.Interpolate.linear]]) — every 5th day's count is
    * nulled out, then repaired; interior gaps take the exact-integer
    * line, edges clamp. */
  private val q208 = Q("q208_interpolate",
    (s, dir) => {
      import s.implicits._
      val series = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type",
          datediff(to_date($"ts"), to_date(lit("2024-01-01")))
            .cast("long").as("t"))
        .agg(count(lit(1)).as("c0"))
        .select($"event_type", $"t",
          when($"t" % 5 === 0, lit(null).cast("long"))
            .otherwise($"c0").as("c"))
      graft.events.Interpolate.linear(series, "event_type", "t", "c")
        .orderBy($"event_type", $"t")
    },
    Some("""WITH s AS (
           |  SELECT event_type,
           |         datediff('day', DATE '2024-01-01', ts::DATE) AS t,
           |         count(*)::BIGINT AS c0
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |g AS (SELECT event_type, t,
           |        CASE WHEN t % 5 = 0 THEN NULL ELSE c0 END AS c
           |      FROM s),
           |m AS (SELECT event_type, t, c,
           |        last_value(c IGNORE NULLS) OVER wf AS pv,
           |        last_value(CASE WHEN c IS NOT NULL THEN t::DOUBLE END
           |          IGNORE NULLS) OVER wf AS pt,
           |        first_value(c IGNORE NULLS) OVER wb AS nv,
           |        first_value(CASE WHEN c IS NOT NULL THEN t::DOUBLE
           |          END IGNORE NULLS) OVER wb AS nt
           |      FROM g
           |      WINDOW wf AS (PARTITION BY event_type ORDER BY t
           |               ROWS BETWEEN UNBOUNDED PRECEDING
           |               AND CURRENT ROW),
           |             wb AS (PARTITION BY event_type ORDER BY t
           |               ROWS BETWEEN CURRENT ROW
           |               AND UNBOUNDED FOLLOWING))
           |SELECT event_type, t, c,
           |  round(CASE WHEN c IS NOT NULL THEN c::DOUBLE
           |             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           |               pv + (nv - pv) * (t::DOUBLE - pt) / (nt - pt)
           |             ELSE coalesce(pv, nv)::DOUBLE END, 4)
           |    AS x_interp,
           |  (c IS NULL) AS is_filled
           |FROM m ORDER BY event_type, t""".stripMargin))

  /** X98: trailing 7-day rolling correlation of each event type's
    * daily counts against the purchase series — the co-movement
    * monitor; both engines' streaming corr kernels agree far inside
    * the 4-dp round on 7-point windows. */
  private val q209 = Q("q209_rolling_corr",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .filter($"ts".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("c"))
      val ref = daily.filter($"event_type" === "purchase")
        .select($"d", $"c".as("ref_c"))
      val w = Window.partitionBy($"event_type").orderBy($"d")
        .rowsBetween(-6, Window.currentRow)
      daily.filter($"event_type" =!= "purchase")
        .join(broadcast(ref), Seq("d"))
        // covar/stddev with a nullif guard instead of corr(): Spark's
        // Corr divides by sqrt(m2x*m2y) unguarded, which ANSI mode
        // turns into DIVIDE_BY_ZERO on a zero-variance window; this
        // form is the same estimator (4-dp round absorbs accumulation
        // order) and yields null exactly where DuckDB's corr does.
        .withColumn("roll_corr",
          round(covar_samp($"c", $"ref_c").over(w) /
            nullif(stddev_samp($"c").over(w) *
              stddev_samp($"ref_c").over(w), lit(0.0)), 4))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"event_type").orderBy($"d")))
        .filter($"rn" >= 7)
        .select($"event_type", $"d", $"c", $"ref_c", $"roll_corr")
        .orderBy($"event_type", $"d")
    },
    Some("""WITH daily AS (
           |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |ref AS (SELECT d, c AS ref_c FROM daily
           |        WHERE event_type = 'purchase'),
           |j AS (SELECT daily.event_type, daily.d, daily.c, ref.ref_c
           |      FROM daily JOIN ref USING (d)
           |      WHERE event_type <> 'purchase'),
           |w AS (SELECT event_type, d, c, ref_c,
           |        round(corr(c, ref_c) OVER (PARTITION BY event_type
           |          ORDER BY d ROWS BETWEEN 6 PRECEDING
           |          AND CURRENT ROW), 4) AS roll_corr,
           |        row_number() OVER (PARTITION BY event_type
           |          ORDER BY d) AS rn
           |      FROM j)
           |SELECT event_type, d, c, ref_c, roll_corr
           |FROM w WHERE rn >= 7
           |ORDER BY event_type, d""".stripMargin))

  /** §2.5 widening: month-over-month growth report — lag-based percent
    * change per priority over exact-cents monthly revenue. */
  private val q210 = Q("q210_mom_growth",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val monthly = t(s, dir, "orders")
        .filter($"o_orderdate".isNotNull) // null-instant complete-case (fuzz-37)
        .groupBy($"o_orderpriority",
          date_trunc("month", $"o_orderdate").as("m"))
        .agg(round(sum($"o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy($"o_orderpriority").orderBy($"m")
      monthly
        .withColumn("prev_cents", lag($"cents", 1).over(w))
        .select($"o_orderpriority", $"m", $"cents", $"prev_cents",
          when($"prev_cents" > 0,
            round(($"cents" - $"prev_cents").cast("double") /
              $"prev_cents" * 100, 4)).as("mom_pct"))
        .orderBy($"o_orderpriority", $"m")
    },
    Some("""WITH monthly AS (
           |  SELECT o_orderpriority,
           |         date_trunc('month', o_orderdate)::TIMESTAMP AS m,
           |         CAST(round(sum(o_totalprice) * 100) AS BIGINT)
           |           AS cents
           |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
           |w AS (SELECT o_orderpriority, m, cents,
           |        lag(cents, 1) OVER (PARTITION BY o_orderpriority
           |          ORDER BY m) AS prev_cents
           |      FROM monthly)
           |SELECT o_orderpriority, m, cents, prev_cents,
           |  CASE WHEN prev_cents > 0 THEN
           |    round((cents - prev_cents)::DOUBLE / prev_cents * 100, 4)
           |  END AS mom_pct
           |FROM w ORDER BY o_orderpriority, m""".stripMargin))

  val all: Seq[Q] = Seq(q206, q207, q208, q209, q210)
}
