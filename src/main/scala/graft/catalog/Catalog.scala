package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables
import graft.functions.gfunctions._
import graft.de.Stats

/** Named query catalog: one entry per SURVEY §2 operator (plus the
  * LLM-data-pipeline extensions), each expressed over the driver's parquet
  * test tables with a matching DuckDB oracle where the semantics are
  * ANSI-SQL-expressible.
  *
  * Conventions (driver contract):
  *  - Spark output column names == oracle SQL aliases (compare sorts columns
  *    by name before hashing).
  *  - Every query ends in a deterministic ORDER BY on both sides.
  *  - Computed doubles are rounded on both sides (sums of 2-decimal money
  *    to 2 dp, means/ratios to 4 dp) so IEEE accumulation-order noise can't
  *    flip the hash.
  *  - count()/sums of integers are cast to BIGINT in DuckDB (its sum(int)
  *    is HUGEINT).
  */
object Catalog {

  final case class Q(name: String,
                     run: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- A: core relational

  /** A5/A6/A11: grouped sums/avgs/counts with map-side partial aggregation
    * (TPC-H Q1 shape).
    *
    * Round-15 exact-accumulation discipline (the q17 sf1-skew class,
    * generalized): every emitted figure here is a GRID-valued aggregate
    * — quantity integer, money cents, disc_price on the 1e-4 grid — so
    * float sums + a final round invite cross-engine ulp flips once
    * group sums grow (at 100 TB a naive double money sum's error
    * exceeds the half-cent margin). Sums accumulate in DECIMAL (exact,
    * order-independent, overflow-safe to 38 digits); averages are
    * integer-ratio half-up via `div` in integer space (one exact IEEE
    * division at the end). Oracle mirrors every step. */
  private val q1 = Q("q1_pricing_agg",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity".cast("decimal(28,2)")), 2)
            .cast("double").as("sum_qty"),
          round(sum($"l_extendedprice".cast("decimal(28,2)")), 2)
            .cast("double").as("sum_base_price"),
          round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(30,4)")), 2).cast("double").as("sum_disc_price"),
          sum(round($"l_quantity").cast("long")).as("__sq"),
          sum(round($"l_discount" * 100).cast("long")).as("__sd"),
          count(lit(1)).as("count_order"))
        .select($"l_returnflag", $"l_linestatus", $"sum_qty",
          $"sum_base_price", $"sum_disc_price",
          (expr("(2*__sq*10000 + count_order) div (2*count_order)") / 1e4)
            .as("avg_qty"),
          (expr("(200*__sd + count_order) div (2*count_order)") / 1e4)
            .as("avg_disc"),
          $"count_order")
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
           | CAST(round(sum(CAST(l_quantity AS DECIMAL(28,2))), 2) AS DOUBLE) AS sum_qty,
           | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,2))), 2) AS DOUBLE) AS sum_base_price,
           | CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS sum_disc_price,
           | ((2*sum(CAST(round(l_quantity) AS BIGINT))*10000 + count(*))
           |   // (2*count(*))) / 1e4 AS avg_qty,
           | ((200*sum(CAST(round(l_discount*100) AS BIGINT)) + count(*))
           |   // (2*count(*))) / 1e4 AS avg_disc,
           | count(*) AS count_order
           |FROM lineitem GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** F2/F5 + §2.6: selective filter + global agg (TPC-H Q6 shape); the
    * filter and both referenced columns push down to the parquet scan. */
  private val q2 = Q("q2_filter_revenue",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        // revenue terms sit on the 1e-4 grid (cents × 2-dp discount):
        // exact DECIMAL accumulation, half-up at 2 dp, one cast (q1's
        // round-15 discipline — a float sum rounded coarser than its
        // grid can straddle a .xx5 under sum-order ulps)
        .agg(round(sum(($"l_extendedprice" * $"l_discount")
            .cast("decimal(30,4)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    },
    Some("""SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
           | count(*) AS n_rows
           |FROM lineitem
           |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin))

  /** J1: broadcast hash join of the fact table against a small dimension
    * (probe->gene mapping shape, `pipeline2.py:515-520`). */
  private val q3 = Q("q3_broadcast_join",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_items"),
          round(sum($"l_extendedprice"), 2).as("revenue"))
        .orderBy($"p_brand")
    },
    Some("""SELECT p_brand, count(*) AS n_items,
           | round(sum(l_extendedprice), 2) AS revenue
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  /** A7 (sufficient-statistics half): Welch t-statistic and
    * Welch–Satterthwaite df per part type, comparing l_extendedprice
    * between returnflag groups — exactly the reference's per-gene
    * case-vs-control shape (`pipeline2.py:586-603`), one hash agg, no
    * self-join. */
  private val q13 = Q("q13_welch_stats",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val st = li.filter($"l_returnflag".isin("A", "N"))
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_type")
        .agg(
          avg(when($"l_returnflag" === "A", $"l_extendedprice")).as("mean_a"),
          var_samp(when($"l_returnflag" === "A", $"l_extendedprice")).as("var_a"),
          count(when($"l_returnflag" === "A", $"l_extendedprice")).as("n_a"),
          avg(when($"l_returnflag" === "N", $"l_extendedprice")).as("mean_n"),
          var_samp(when($"l_returnflag" === "N", $"l_extendedprice")).as("var_n"),
          count(when($"l_returnflag" === "N", $"l_extendedprice")).as("n_n"))
      st.select($"p_type",
          round(welch_t($"mean_a", $"var_a", $"n_a", $"mean_n", $"var_n", $"n_n"), 4).as("t_stat"),
          round(welch_df($"var_a", $"n_a", $"var_n", $"n_n"), 4).as("t_df"))
        .orderBy($"p_type")
    },
    Some("""WITH st AS (
           |  SELECT p_type,
           |    avg(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS mean_a,
           |    var_samp(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS var_a,
           |    count(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS n_a,
           |    avg(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS mean_n,
           |    var_samp(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS var_n,
           |    count(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS n_n
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE l_returnflag IN ('A', 'N')
           |  GROUP BY p_type)
           |SELECT p_type,
           |  round((mean_a - mean_n) / NULLIF(sqrt(var_a / n_a + var_n / n_n), 0), 4) AS t_stat,
           |  round(power(var_a / n_a + var_n / n_n, 2)
           |        / NULLIF(power(var_a / n_a, 2) / (n_a - 1)
           |                 + power(var_n / n_n, 2) / (n_n - 1), 0), 4) AS t_df
           |FROM st ORDER BY p_type""".stripMargin))

  /** A7 (full): Welch p-values via graft's `t_test_pvalue`
    * function. DuckDB has no t CDF, but the p-value IS the regularized
    * incomplete beta I_x(df/2, 1/2), x = df/(df+t^2) — which the oracle
    * computes by Simpson-integrating the substituted form
    * B(x; a, 1/2) = int_{sqrt(1-x)}^{1} 2(1-u^2)^(a-1) du (smooth for
    * a >= 1, i.e. df >= 2; group sizes here put df in the thousands) over
    * a 20k-point grid and normalizing by exp(lgamma...). Agreement with
    * the exact incomplete beta is ~1e-13 at these df — far inside the
    * 6-dp rounding. */
  private val q14 = Q("q14_welch_pvalue",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .select($"p_type", $"l_returnflag".as("grp"), $"l_extendedprice".as("v"))
      Stats.welchTTest(li, Seq("p_type"), "grp", "v", caseVal = "A", controlVal = "N")
        .select($"p_type", round($"t_stat", 4).as("t_stat"),
          round($"pvalue", 6).as("pvalue"))
        .orderBy($"p_type")
    },
    Some("""WITH st AS (
           |  SELECT p_type,
           |    avg(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS mean_a,
           |    var_samp(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS var_a,
           |    count(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS n_a,
           |    avg(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS mean_n,
           |    var_samp(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS var_n,
           |    count(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS n_n
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE l_returnflag IN ('A', 'N')
           |  GROUP BY p_type),
           |w AS (SELECT p_type,
           |        (mean_a - mean_n) / nullif(sqrt(var_a / n_a + var_n / n_n), 0) AS t,
           |        power(var_a / n_a + var_n / n_n, 2)
           |          / nullif(power(var_a / n_a, 2) / (n_a - 1)
           |                   + power(var_n / n_n, 2) / (n_n - 1), 0) AS df
           |      FROM st),
           |g AS (SELECT p_type, t, df / 2.0 AS a, sqrt(1 - df / (df + t * t)) AS lo FROM w),
           |grid AS (SELECT p_type, t, a, lo, unnest(generate_series(0, 20000)) AS i FROM g),
           |pts AS (SELECT p_type, t, a,
           |               lo + (1.0 - lo) * i / 20000 AS u,
           |               CASE WHEN i = 0 OR i = 20000 THEN 1
           |                    WHEN i % 2 = 1 THEN 4 ELSE 2 END AS wt,
           |               (1.0 - lo) / 20000 AS h
           |        FROM grid),
           |simpson AS (SELECT p_type, max(t) AS t, max(a) AS a,
           |              sum(wt * 2 * exp((a - 1.0) * ln(greatest(1e-300, 1 - u * u))))
           |                * max(h) / 3.0 AS binc
           |            FROM pts GROUP BY p_type)
           |SELECT p_type, round(t, 4) AS t_stat,
           |  round(binc / exp(lgamma(a) + lgamma(0.5) - lgamma(a + 0.5)), 6) AS pvalue
           |FROM simpson ORDER BY p_type""".stripMargin))

  /** A8: Benjamini–Hochberg FDR over a deterministic pseudo-p derived from
    * integer keys (exact rational arithmetic — bit-identical across
    * engines). Exercises the rank window + reverse running-min
    * (`pipeline2.py:619-627`). The o_orderkey % 3 filter keeps the input
    * proportional to the scale factor (2/3 of orders at every sf), so
    * BENCH actually measures BH scaling; bhAdjust switches to the
    * distributed two-pass form above the row-count threshold. */
  private val q15 = Q("q15_bh_fdr",
    (s, dir) => {
      import s.implicits._
      val p = t(s, dir, "orders")
        .filter($"o_orderkey" % 3 =!= 0)
        .select($"o_orderkey".as("id"),
          (($"o_orderkey" * 9973) % 10007 / lit(10007.0)).as("pvalue"))
      Stats.bhAdjust(p, "pvalue", "adjusted_pvalue", tieBreak = Seq("id"))
        .orderBy($"id")
    },
    Some("""WITH p AS (
           |  SELECT o_orderkey AS id,
           |         ((o_orderkey * 9973) % 10007) / 10007.0 AS pvalue
           |  FROM orders WHERE o_orderkey % 3 != 0),
           |r AS (
           |  SELECT id, pvalue,
           |         row_number() OVER (ORDER BY pvalue, id) AS rk,
           |         CAST(count(*) OVER () AS DOUBLE) AS m
           |  FROM p)
           |SELECT id, pvalue,
           |  least(1.0, min(pvalue * m / rk)
           |    OVER (ORDER BY rk DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS adjusted_pvalue
           |FROM r ORDER BY id""".stripMargin))

  val all: Seq[Q] =
    Seq(q1, q2, q3, q13, q14, q15) ++ CatalogDomain.all ++
      CatalogLlm.all ++ CatalogStats.all ++ CatalogEcon.all ++
      CatalogEcon2.all ++ CatalogEcon3.all ++ CatalogEcon4.all ++
      CatalogEcon5.all ++ CatalogEcon6.all ++ CatalogEcon7.all ++
      CatalogEcon8.all ++ CatalogEcon9.all ++ CatalogFin.all ++
      CatalogEr.all ++ CatalogStats2.all ++ CatalogEpi.all ++
      CatalogBiz.all ++ CatalogWalks.all ++ CatalogText2.all ++
      CatalogSignal.all ++ CatalogRecon.all ++ CatalogBiz2.all ++
      CatalogLlm2.all ++ CatalogRank.all ++ CatalogSurv.all ++
      CatalogMisc.all ++ CatalogMisc2.all ++ CatalogMisc3.all ++
      CatalogAttr.all ++ CatalogGrid.all ++ CatalogSqlTvf.all ++
      CatalogSeq.all ++ CatalogStats3.all ++ CatalogStats4.all ++
      CatalogR10.all ++ CatalogR11.all ++ CatalogR12.all ++ CatalogR13.all ++
      CatalogR14.all

  // Signed-zero closure (see [[SignedZero]]): every double output
  // column — schema-derived on the Spark side, registry-derived on the
  // oracle side — is canonicalized to +0.0 at assembly, so no
  // tiny-negative score can hash-diverge on the Spark-round-vs-DuckDB-
  // round signed-zero asymmetry, at any scale factor.
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name ->
      ((s: SparkSession, dir: String) =>
        SignedZero.canonDf(q.run(s, dir)))).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q =>
      q.oracle.map(sql => q.name -> SignedZero.canonSql(q.name, sql)))
      .toMap
}
