package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gfunctions.md5_long
import graft.util.Pin

/** Deterministic, oracle-checkable sketches (X61/X62).
  *
  * Production Spark reaches for `approx_count_distinct` (HLL++) and the
  * DataSketches bindings; those are engine-specific binaries a DuckDB
  * oracle cannot replay. These sketches keep the same asymptotics but
  * derive every hash from md5 (bit-compatible with DuckDB
  * `md5_number_lower`, [[org.apache.spark.sql.graft.HashUtil]]), so the
  * sketch CONTENT — not just the final estimate — is reproducible
  * cross-engine and the whole pipeline stays under the driver's hash
  * compare. The md5-vs-xxhash64 cost trade is the same one the dedup
  * family documents (SCALE.md): swap the hash for speed once you give up
  * the oracle.
  */
object Sketches {

  /** Count-min sketch over token frequencies + point-estimate report for
    * the exact top-`probeTopK` tokens (the CMS paper's point query,
    * Cormode & Muthukrishnan 2005).
    *
    * Shape (100-TB posture): one corpus-grain explode collapses
    * immediately into the (token, n) frequency aggregate — map-side
    * partial, shuffle is vocabulary-sized. The sketch itself is a
    * `depth × width` aggregate of that table (tiny, broadcast-sized by
    * construction), and estimates join probes back against it on the
    * (row, bucket) key. Nothing downstream of the first aggregate ever
    * touches corpus grain.
    *
    * `width` must be a power of two: the bucket is the hash's low bits
    * (`h & (width-1)`), which is identical arithmetic on Spark's signed
    * reinterpretation and DuckDB's UBIGINT — no signed-mod headache.
    * Estimates are upper bounds: est >= exact always (CmsKmvSpec pins
    * the guarantee).
    */
  def cmsTokenReport(docs: DataFrame, textCol: String,
                     depth: Int = 4, width: Int = 256,
                     probeTopK: Int = 20): DataFrame = Pin.scope { pin =>
    require(width > 0 && (width & (width - 1)) == 0,
      s"width must be a power of two, got $width")
    import docs.sparkSession.implicits._
    import graft.functions.gfunctions.word_shingles

    val freq = pin(docs
      .select(explode(word_shingles(col(textCol), 1)).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("exact_n")))

    val rows = explode(array((0 until depth).map(lit): _*)).as("i")
    def bucket(tok: Column, i: Column): Column =
      md5_long(concat(i.cast("string"), lit(":"), tok))
        .bitwiseAND(lit((width - 1).toLong))

    // depth × vocab rows -> depth × width sketch cells
    val sketch = freq.select($"token", $"exact_n", rows)
      .select($"i", bucket($"token", $"i").as("b"), $"exact_n")
      .groupBy($"i", $"b")
      .agg(sum($"exact_n").as("cell"))

    val probes = freq
      .orderBy($"exact_n".desc, $"token")
      .limit(probeTopK)

    probes.select($"token", $"exact_n", rows)
      .select($"token", $"exact_n", $"i", bucket($"token", $"i").as("b"))
      .join(sketch, Seq("i", "b"))
      .groupBy($"token")
      .agg(max($"exact_n").as("exact_n"), min($"cell").as("cms_n"))
      .orderBy($"token")
      // probeTopK-row output: materialized before the vocabulary
      // table's pin is released
      .localCheckpoint()
  }

  /** KMV (k-minimum-values) distinct-count sketch per group (Bar-Yossef
    * et al. 2002): keep the k smallest distinct hash values; estimate
    * D ≈ (k−1) / u_k where u_k is the k-th minimum as a fraction of the
    * hash space. Groups with fewer than k distinct values are exact by
    * construction (the sketch holds every hash), and the report says so.
    *
    * Shape: facts collapse to the DISTINCT (group, hash) table first —
    * the only corpus-grain pass. The rank window partitions by group over
    * that distinct table (shuffle is distinct-values-sized). At 100 TB
    * you would pre-prune with a per-partition local top-k (the
    * `util/Ranks` two-pass trick) before the window; at catalog scale the
    * window IS the honest plan. Unsigned hash order: Spark ranks on
    * `h XOR Long.MinValue` (exact unsigned order over the signed
    * reinterpretation); the oracle ranks the native UBIGINT — same
    * element wins on both engines, and the estimate divides the same
    * IEEE double. Estimate rounded to 4 dp.
    */
  /** HyperLogLog distinct-count sketch (X86), p = 8 → m = 256
    * registers, reported next to the exact count. Register contents
    * are BIT-IDENTICAL cross-engine by construction (the X61/X62
    * discipline): hash = md5-low-8 (== DuckDB `md5_number_lower`
    * bit pattern), register index = hash & (m−1) (low bits), and
    * ρ = trailing-zero count of the remaining bits + 1 — computed as
    * `bit_count((w & −w) − 1) + 1`, a branch-free identity both
    * engines evaluate on the same BIGINT (the shifted word fits in 56
    * bits, so signedness never matters). The estimator is the standard
    * α_m·m²/Σ2^(−M_j) with linear-counting small-range correction;
    * empty registers enter the harmonic sum in closed form
    * (m − n_present), so the aggregate never densifies.
    *
    * Scale: ONE hash aggregate to registers (shuffle ∝ groups×m, never
    * rows) + a group roll-up — the sketch composes under max, so
    * partial aggregation is map-side. Expected error 1.04/√m ≈ 6.5%.
    *
    * Output: (grp, exact_distinct BIGINT, n_registers_set BIGINT,
    * hll_est 4-dp). */
  def hllDistinct(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val m = 256
    val h = md5_long(col("__v"))
    val w = shiftrightunsigned(h, 8)
    val rho = when(w === 0L, lit(64 - 8 + 1))
      .otherwise(bit_count(w.bitwiseAND(-w) - 1) + 1)
    val regs = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("string").as("__v"))
      .groupBy(col("grp"), h.bitwiseAND(lit(m - 1L)).as("__idx"),
        col("__v"))
      .agg(max(rho).as("__rho0"))   // distinct collapse rides the agg key
      .groupBy(col("grp"), col("__idx"))
      .agg(max(col("__rho0")).as("__rho"),
        countDistinct(col("__v")).as("__dv"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    val agg = regs.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_registers_set"),
        sum(pow(lit(2.0), -col("__rho"))).as("__hsum"),
        sum(col("__dv")).as("exact_distinct"))
    val harmonic = col("__hsum") + (lit(m.toDouble) - col("n_registers_set"))
    val rawE = alpha * m * m / harmonic
    val zeros = lit(m.toDouble) - col("n_registers_set")
    val est = when(rawE <= 2.5 * m && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros)).otherwise(rawE)
    agg.select(col("grp"), col("exact_distinct"), col("n_registers_set"),
      round(est, 4).as("hll_est"))
  }

  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int = 256): DataFrame = Pin.scope { pin =>
    require(k >= 2, s"k must be >= 2, got $k")
    import df.sparkSession.implicits._

    val hashed = pin(df
      .select(col(groupCol).as("grp"),
        md5_long(col(valueCol).cast("string")).as("h"))
      .distinct())

    val exact = hashed.groupBy($"grp")
      .agg(count(lit(1)).as("exact_distinct"))

    val w = Window.partitionBy($"grp")
      .orderBy($"h".bitwiseXOR(lit(Long.MinValue)))
    val two64 = 18446744073709551616.0 // 2^64
    val kth = hashed
      .withColumn("r", row_number().over(w))
      .filter($"r" === k)
      // unsigned value of the signed bit pattern, as an IEEE double
      .select($"grp",
        ($"h".cast("double") + when($"h" < 0, lit(two64)).otherwise(lit(0.0)))
          .as("uk"))

    exact.join(kth, Seq("grp"), "left")
      .select($"grp",
        $"exact_distinct",
        round(coalesce(lit(k - 1) * lit(two64) / $"uk",
          $"exact_distinct".cast("double")), 4).as("kmv_est"))
      .orderBy($"grp")
      // group-count-sized output: materialized before release
      .localCheckpoint()
  }

  /** KMV set operations (Beyer et al. 2007): distinct-count estimates
    * for A, B, A∪B plus the Jaccard/intersection estimates from ONE
    * pass of bottom-k signatures — the sketch answer to "how much do
    * these two columns overlap" that never materializes the
    * intersection ([[graft.util.Profile]]'s joinability twin at
    * sketch cost). The union's bottom-k IS the merged sketch (same
    * deterministic md5 value domain as [[kmvDistinct]], so estimates
    * are engine-replayable); ρ = how many of those k smallest union
    * hashes belong to BOTH sides, Jaccard ≈ ρ/k, |A∩B| ≈ (ρ/k)·|A∪B|.
    * Per-side membership rides the same hash aggregate — no second
    * scan. Output (one row): k_used BIGINT, est_a, est_b, est_union
    * (4dp), rho BIGINT, jaccard_est 4dp, est_intersection 4dp. */
  def kmvSetOps(left: DataFrame, right: DataFrame, valueCol: String,
                k: Int = 256): DataFrame = Pin.scope { pin =>
    require(k >= 2, s"k must be >= 2, got $k")
    import left.sparkSession.implicits._
    val two64 = 18446744073709551616.0
    val hashes = pin(left.select(md5_long(col(valueCol).cast("string"))
        .as("h"), lit(1).as("__a"), lit(0).as("__b"))
      .unionAll(right.select(
        md5_long(col(valueCol).cast("string")).as("h"),
        lit(0).as("__a"), lit(1).as("__b")))
      .groupBy($"h")
      .agg(max($"__a").as("in_a"), max($"__b").as("in_b")))
    // Bottom-k via orderBy(unsigned).limit(k) — planned as
    // TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    // the driver), NEVER an unpartitioned window ranking the full
    // distinct domain through one task. Order on the sign-flipped LONG
    // (exact unsigned order); the k-row frames are sketch-sized by
    // contract, so driver-side arithmetic on them is free.
    val hx = $"h".bitwiseXOR(lit(Long.MinValue))
    def uk(h: Long): Double =
      if (h < 0) h.toDouble + two64 else h.toDouble
    def kthEst(bottomK: Array[Long], exact: Double): Double =
      if (bottomK.length < k) exact
      else (k - 1).toDouble * two64 / uk(bottomK.last)
    val exacts = hashes.agg(
      sum($"in_a").cast("long"), sum($"in_b").cast("long"),
      count(lit(1))).head
    val (exactA, exactB, exactU) = (exacts.getLong(0).toDouble,
      exacts.getLong(1).toDouble, exacts.getLong(2).toDouble)
    val topU = hashes.orderBy(hx.asc).limit(k)
      .select($"h", $"in_a", $"in_b").collect()
    def sideBottomK(flag: Column): Array[Long] =
      hashes.filter(flag === 1).orderBy(hx.asc).limit(k)
        .select($"h").as[Long].collect()
    val estA = kthEst(sideBottomK($"in_a"), exactA)
    val estB = kthEst(sideBottomK($"in_b"), exactB)
    val kUsed = topU.length.toLong
    val rho = topU.count(r => r.getInt(1) == 1 && r.getInt(2) == 1).toLong
    val estU = kthEst(topU.map(_.getLong(0)), exactU)
    val jac = if (kUsed == 0) 0.0 else rho.toDouble / kUsed
    Seq((kUsed, rnd4(estA), rnd4(estB), rnd4(estU), rho, rnd4(jac),
      rnd4(jac * estU)))
      .toDF("k_used", "est_a", "est_b", "est_union", "rho",
        "jaccard_est", "est_intersection")
  }

  private def rnd4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
