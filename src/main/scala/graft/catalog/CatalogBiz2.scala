package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-7 batch X (X150+): calendar
  * seasonality index, sample-ratio-mismatch guard, Lorenz
  * concentration table, and classical price indexes — business-
  * analytics staples, each one or two map-side aggregates plus a
  * bounded window.
  */
object CatalogBiz2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X150: day-of-week seasonal index — exact-cents mean daily revenue
    * per weekday over its daily-total series, indexed to the all-day
    * mean (dayofweek: 1 = Sunday on both engines' conventions aligned
    * via explicit ISO mapping below). */
  private val q259 = Q("q259_dow_index",
    (s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "orders")
        .groupBy(date_trunc("day", $"o_orderdate").as("d"))
        .agg(round(sum($"o_totalprice") * 100).cast("long").as("cents"))
        // ISO weekday 1 = Monday … 7 = Sunday: Spark's dayofweek is
        // 1 = Sunday, so iso = ((dayofweek + 5) mod 7) + 1
        .withColumn("dow", (pmod(dayofweek($"d") + 5, lit(7)) + 1)
          .cast("int"))
      val overall = daily.agg(avg($"cents").as("__all"))
      daily.groupBy($"dow")
        .agg(count(lit(1)).as("n_days"),
          avg($"cents").as("__m"))
        .crossJoin(broadcast(overall))
        .select($"dow", $"n_days",
          round($"__m" / 100.0, 2).as("mean_revenue"),
          round($"__m" / $"__all", 4).as("dow_index"))
        .orderBy($"dow")
    },
    Some("""WITH daily AS (
           |  SELECT date_trunc('day', o_orderdate) AS d,
           |    round(sum(o_totalprice) * 100)::BIGINT AS cents
           |  FROM orders GROUP BY 1),
           |dw AS (SELECT cents, isodow(d)::INT AS dow FROM daily),
           |o AS (SELECT avg(cents) AS al FROM dw)
           |SELECT dow, count(*)::BIGINT AS n_days,
           |  round(avg(cents) / 100.0, 2) AS mean_revenue,
           |  round(avg(cents) / o.al, 4) AS dow_index
           |FROM dw, o GROUP BY dow, o.al ORDER BY dow""".stripMargin))

  /** X151: sample-ratio-mismatch (SRM) guard — chi-square
    * goodness-of-fit of the observed even/odd-user split against the
    * designed 50/50, p from the 1-dof identity
    * p = 2·P(Z > √χ²) via normal_sf; Simpson normal-tail oracle. The
    * first sanity gate of every A/B readout. */
  private val q260 = Q("q260_srm",
    (s, dir) => {
      import s.implicits._
      import graft.functions.gfunctions.normal_sf
      val a = t(s, dir, "events")
        .select($"user_id").distinct()
        .agg(sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when($"user_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
      val n = ($"n_a" + $"n_b").cast("double")
      val e = n / 2
      val chi2 = ($"n_a" - e) * ($"n_a" - e) / e +
        ($"n_b" - e) * ($"n_b" - e) / e
      a.select($"n_a", $"n_b",
        round(chi2, 4).as("chi2"),
        round(lit(2.0) * normal_sf(sqrt(chi2)), 6).as("p_value"))
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
           |c AS (
           |  SELECT
           |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
           |      AS n_a,
           |    sum(CASE WHEN user_id % 2 != 0 THEN 1 ELSE 0 END)::BIGINT
           |      AS n_b
           |  FROM u),
           |st AS (
           |  SELECT n_a, n_b,
           |    (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
           |      / ((n_a + n_b) / 2.0)
           |    + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
           |      / ((n_a + n_b) / 2.0) AS chi2
           |  FROM c),
           |grid AS (SELECT sqrt(chi2) AS az,
           |           unnest(generate_series(0, 20000)) AS i
           |         FROM st),
           |pts AS (SELECT az * i / 20000 AS x,
           |          CASE WHEN i = 0 OR i = 20000 THEN 1
           |               WHEN i % 2 = 1 THEN 4 ELSE 2 END AS wt,
           |          az / 20000 AS h
           |        FROM grid),
           |ig AS (SELECT sum(wt * exp(-x * x / 2)) * max(h) / 3.0
           |         / sqrt(2 * pi()) AS phi
           |       FROM pts)
           |SELECT n_a, n_b, round(chi2, 4) AS chi2,
           |  round(1.0 - 2.0 * phi, 6) AS p_value
           |FROM st, ig""".stripMargin))

  /** X152: Lorenz concentration table — decile cumulative revenue
    * shares over customers ranked by spend (the curve behind the q165
    * Gini; exact-cents cumulative sums, floor-arithmetic equal-count
    * deciles — the X54 no-ntile discipline). */
  private val q261 = Q("q261_lorenz",
    (s, dir) => graft.util.Pin.scope { pin =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val cust = pin(t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(round(sum($"o_totalprice") * 100).cast("long").as("cents"))
        // complete-case on the ranked axis (fuzz-43, the gini class):
        // an all-null-price customer has null cents — engines rank
        // nulls at opposite ends, shifting every decile boundary
        .filter($"cents".isNotNull))
      // customer-grain global rank: one eager count probe routes it
      // through the size-dispatched Ranks form (no single-partition
      // sort over the customer domain at scale); the whole-frame
      // count window collapses to a literal. The decile windows below
      // run over 10 rows by construction.
      val n = cust.count()
      val ranked = graft.util.Ranks.globalRowNumber(cust,
        Seq($"cents".asc, $"o_custkey".asc), "rn", n)
      ranked
        .withColumn("decile",
          (floor(($"rn" - 1) * 10.0 / lit(n)) + 1).cast("long"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_customers"),
          sum($"cents").as("__dc"))
        .withColumn("cum_cents", sum($"__dc").over(
          Window.orderBy($"decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum($"__dc").over(Window.partitionBy(lit(1))))
        .select($"decile", $"n_customers",
          round($"__dc" / 100.0, 2).as("decile_revenue"),
          round($"cum_cents".cast("double") / $"tot", 4).as("cum_share"))
        .orderBy($"decile")
        // 10-row result: materialized before cust's pin is released
        .localCheckpoint()
    },
    Some("""WITH cust AS (
           |  SELECT o_custkey,
           |    round(sum(o_totalprice) * 100)::BIGINT AS cents
           |  FROM orders GROUP BY 1),
           |r AS (
           |  SELECT cents,
           |    row_number() OVER (ORDER BY cents, o_custkey) AS rn,
           |    count(*) OVER () AS nn
           |  FROM cust WHERE cents IS NOT NULL),
           |d AS (
           |  SELECT (floor((rn - 1) * 10.0 / nn) + 1)::BIGINT AS decile,
           |    cents
           |  FROM r),
           |g AS (SELECT decile, count(*)::BIGINT AS n_customers,
           |        sum(cents)::BIGINT AS dc
           |      FROM d GROUP BY 1)
           |SELECT decile, n_customers,
           |  round(dc / 100.0, 2) AS decile_revenue,
           |  round((sum(dc) OVER (ORDER BY decile
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
           |    / (sum(dc) OVER ()), 4) AS cum_share
           |FROM g ORDER BY decile""".stripMargin))

  /** X153: classical price indexes — Laspeyres, Paasche, Fisher
    * between the 1995 base year and 1998, over parts traded in BOTH
    * years (per-part unit value = Σprice/Σqty, the standard unit-value
    * index construction). */
  private val q262 = Q("q262_price_index",
    (s, dir) => {
      import s.implicits._
      // nullif guards (fuzz-40 ANSI): a part-year whose fuzz-zeroed
      // quantities sum to 0 has no unit price — NULL in both modes
      // (DuckDB nulls /0 natively; ANSI Spark errors unguarded)
      def yr(y: Int) = t(s, dir, "lineitem")
        .filter(year($"l_shipdate") === y)
        .groupBy($"l_partkey")
        .agg((sum($"l_extendedprice") / nullif(sum($"l_quantity"),
          lit(0.0))).as("p"),
          sum($"l_quantity").as("q"))
      val j = yr(1995).select($"l_partkey", $"p".as("p0"), $"q".as("q0"))
        .join(yr(1998).select($"l_partkey", $"p".as("p1"), $"q".as("q1")),
          Seq("l_partkey"))
      val a = j.agg(count(lit(1)).as("n_parts"),
        sum($"p1" * $"q0").as("s10"), sum($"p0" * $"q0").as("s00"),
        sum($"p1" * $"q1").as("s11"), sum($"p0" * $"q1").as("s01"))
      val lasp = $"s10" / nullif($"s00", lit(0.0))
      val paas = $"s11" / nullif($"s01", lit(0.0))
      a.select($"n_parts",
        round(lasp, 4).as("laspeyres"),
        round(paas, 4).as("paasche"),
        round(sqrt(lasp * paas), 4).as("fisher"))
    },
    Some("""WITH y0 AS (
           |  SELECT l_partkey, sum(l_extendedprice) / sum(l_quantity)
           |      AS p0, sum(l_quantity) AS q0
           |  FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1),
           |y1 AS (
           |  SELECT l_partkey, sum(l_extendedprice) / sum(l_quantity)
           |      AS p1, sum(l_quantity) AS q1
           |  FROM lineitem WHERE year(l_shipdate) = 1998 GROUP BY 1),
           |j AS (SELECT p0, q0, p1, q1 FROM y0 JOIN y1 USING (l_partkey)),
           |a AS (
           |  SELECT count(*)::BIGINT AS n_parts,
           |    sum(p1 * q0) AS s10, sum(p0 * q0) AS s00,
           |    sum(p1 * q1) AS s11, sum(p0 * q1) AS s01
           |  FROM j)
           |SELECT n_parts, round(s10 / s00, 4) AS laspeyres,
           |  round(s11 / s01, 4) AS paasche,
           |  round(sqrt((s10 / s00) * (s11 / s01)), 4) AS fisher
           |FROM a""".stripMargin))

  val all: Seq[Q] = Seq(q259, q260, q261, q262)
}
