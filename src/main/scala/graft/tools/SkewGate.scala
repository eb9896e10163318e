package graft.tools

import graft.GraftSession
import graft.catalog.Catalog

/** Round-12 skew gate: both measured decades (sf0.1→sf1→sf10) used
  * [[ScaleUpGen]]'s UNIFORM replication — no gate had ever run a
  * Zipf-hot key, the likeliest real 100-TB failure mode. This main
  * times each gate query on BOTH the uniform sf1 slice and the skewed
  * one (`ScaleUpGen ... skew`: top key ≈20% of fact rows, Zipf α=1.1
  * over 8 hot keys, 50% hot mass) INTERLEAVED — same JVM, same
  * minute — so the reported ratio is pure skew response, not host-day
  * variance.
  *
  * Query set = top-N most expensive from the newest bench record ∪
  * every hot-key-capped / join-fan-out operator the skew targets
  * (item-neighbor co-occurrence, association rules, basket lift,
  * fuzzy join, postings-based dedup, salted join, sessionization).
  *
  * Gate: a non-exempt query whose skew/uniform ratio exceeds
  * `maxRatio` (default 10×) fails the run — the ScaleGate discipline
  * applied to the skew axis. Ratios land in SCALE.md.
  *
  * Usage: `sbt 'runMain graft.tools.SkewGate [uniformDir] [skewDir]
  * [N] [benchJson]'` (defaults tmp/sf1, tmp/sf1skew, 20, newest
  * bench_full_r*.json).
  */
object SkewGate {

  /** Operators whose semantics make a hot key expensive BY CONTRACT —
    * each with the rationale (ScaleGate.densityExempt discipline). */
  val skewExempt: Map[String, String] = Map()

  /** Skew-targeted operators measured regardless of bench rank: the
    * hot-key-capped co-occurrence family, blocked joins, postings
    * dedup, and per-key sessionization — the shapes a Zipf key
    * stresses first. */
  val skewTargets: Seq[String] = Seq(
    "q153_item_neighbors", "q225_assoc3", "q124_basket_lift",
    "q107_fuzzy_join", "q24_ngram_jaccard", "q33_minhash_lsh",
    "q258_containment", "q81_salted_join", "q61_key_skew",
    "q17_sessionize", "q50_session_window", "q96_pmi_pairs",
    "q149_rfm", "q77_funnel",
    // text-postings family (the round-14 boilerplate/text-skew axis:
    // hot shingles stress df-caps and prefix filters)
    "q128_phrase_search", "q49_bm25", "q418_winnowing", "q422_dict_scrub")

  def main(args: Array[String]): Unit = {
    val uniformDir = if (args.nonEmpty) args(0) else "tmp/sf1"
    val skewDir = if (args.length > 1) args(1) else "tmp/sf1skew"
    val topN = if (args.length > 2) args(2).toInt else 20
    val benchJson = if (args.length > 3) Some(args(3)) else None
    val maxRatio = 10.0
    Seq(uniformDir, skewDir).foreach(d =>
      require(new java.io.File(s"$d/lineitem.parquet").exists(),
        s"$d missing — generate with graft.tools.ScaleUpGen " +
          "(add 'skew' as the 4th arg for the skewed slice)"))

    val bj = benchJson.getOrElse(BenchJson.newestBenchFile())
    val baseTimes = BenchJson.queryTimes(bj)
    val top = baseTimes.toSeq.sortBy(-_._2).take(topN).map(_._1)
    val names = (top ++ skewTargets).distinct
      .filter(Catalog.queries.contains)
    println(s"skew gate: ${names.size} queries " +
      s"(top-$topN of $bj + ${skewTargets.size} skew targets) " +
      s"on $uniformDir vs $skewDir")

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // JVM/codegen warm-up on both dirs
    Seq(uniformDir, skewDir).foreach(Runner.warmUp(spark, _))

    val qs = Catalog.queries
    def time(name: String, dir: String): Double =
      Runner.timed(spark, name)(qs(name)(spark, dir))._1
    // interleaved best-of-2: U S U S per query, one warm-up pair
    val rows = names.map { name =>
      time(name, uniformDir); time(name, skewDir) // warm-up pair
      val u = math.min(time(name, uniformDir), {
        time(name, skewDir); time(name, uniformDir)
      })
      val s = math.min(time(name, skewDir), time(name, skewDir))
      (name, u, s, s / u)
    }

    println("\n| query | uniform sf1 s | skew sf1 s | skew/uniform |")
    println("| --- | --- | --- | --- |")
    rows.sortBy(-_._4).foreach { case (n, u, s, r) =>
      println(f"| $n | $u%.2f | $s%.2f | $r%.2fx |")
    }
    val over = rows.filter(_._4 > maxRatio)
    val (exempt, bad) = over.partition(r => skewExempt.contains(r._1))
    exempt.foreach(r =>
      println(f"\nEXEMPT ${r._1} ${r._4}%.1fx — ${skewExempt(r._1)}"))
    if (bad.nonEmpty) {
      println("\nSKEW-KILLED (ratio > " + maxRatio + "x): " +
        bad.map(r => f"${r._1} ${r._4}%.1fx").mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    println(f"\nall non-exempt skew ratios at-or-below $maxRatio%.0fx")
    spark.stop()
  }
}
