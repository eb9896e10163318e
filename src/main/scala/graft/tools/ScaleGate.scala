package graft.tools

import graft.GraftSession
import graft.catalog.Catalog

/** The per-round large-scale gate, as one repeatable main (SCALE.md
  * "Round-10 sf1 gate" made structural):
  *
  *  1. ensures the sf1 slice exists (10× key-shifted sf0.1 via
  *     [[ScaleUpGen]] conventions — regenerate with that tool when the
  *     generator changes),
  *  2. reads a bench_full_r*.json per-query timing record,
  *  3. runs the top-N most expensive queries at the sf1 dir through
  *     [[Runner.timed]] (warm-up + best-of-2 per query — the plan the
  *     bench record timed),
  *  4. prints the markdown factor table for SCALE.md, flagging any
  *     query whose wall factor exceeds the data factor (super-linear —
  *     the q107 class this gate exists to catch).
  *
  * Usage: `sbt 'runMain graft.tools.ScaleGate [benchJson] [sf1Dir] [N]'`
  * (defaults: the newest bench_full_r*.json, tmp/sf1, 20).
  */
object ScaleGate {
  def main(args: Array[String]): Unit = {
    val benchJson = args.headOption.getOrElse(BenchJson.newestBenchFile())
    val sf1Dir = if (args.length > 1) args(1) else "tmp/sf1"
    val topN = if (args.length > 2) args(2).toInt else 20
    require(new java.io.File(s"$sf1Dir/lineitem.parquet").exists(),
      s"$sf1Dir missing — generate it: " +
        "sbt 'runMain graft.tools.ScaleUpGen /root/testdata/sf0.1 tmp/sf1 10'")

    val baseTimes = BenchJson.queryTimes(benchJson)
    val top = baseTimes.toSeq.sortBy(-_._2).take(topN)
    println(s"sf1 gate: top-$topN of ${baseTimes.size} queries from " +
      s"$benchJson at $sf1Dir")

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Runner.warmUp(spark, sf1Dir)

    val qs = Catalog.queries
    val rows = top.map { case (name, base) =>
      val run = () => Runner.timed(spark, name)(qs(name)(spark, sf1Dir))._1
      run() // warm-up
      val t = math.min(run(), run())
      (name, base, t, t / base)
    }
    println("\n| query | sf0.1 s | sf1 s | factor |")
    println("| --- | --- | --- | --- |")
    rows.foreach { case (n, b, t, f) =>
      println(f"| $n | $b%.2f | $t%.2f | $f%.2fx |")
    }
    val superLinear = rows.filter(_._4 > 10.0)
    val (exempt, bad) =
      superLinear.partition(r => densityExempt.contains(r._1))
    exempt.foreach { r =>
      println(f"\nEXEMPT ${r._1} ${r._4}%.1fx — ${densityExempt(r._1)}")
    }
    if (bad.nonEmpty) {
      println(s"\nSUPER-LINEAR (factor > 10x data growth): " +
        bad.map(r => f"${r._1} ${r._4}%.1fx").mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    println("\nall non-exempt factors at-or-below the 10x data growth")
    spark.stop()
  }

  /** Queries whose super-linear sf1 factor is SEMANTIC, not a plan
    * defect — each with the rationale (the PlanAllowlist discipline).
    * The scaled data keeps sf0.1's value domains, so density grows
    * with volume; operators whose work is density-quadratic BY
    * DEFINITION get documented here, not "fixed". */
  val densityExempt: Map[String, String] = Map(
    "q152_dbscan" -> ("fixed-ε DBSCAN on the fixed coordinate domain: " +
      "10x points = 10x per-cell occupancy, and ε-pair volume is " +
      "occupancy-quadratic by semantics. The constant-density row " +
      "(dbscan, area ∝ n) is the 100-TB analogy and holds linear; on " +
      "genuinely denser data the knobs are ε/minPts (SCALE.md " +
      "\"Round-10 sf1 gate (10x the bench grain, one decade up)\")"),
    "q32_embedding_dedup" -> ("planesPerTable pinned at 4 so the " +
      "DuckDB oracle can replay the exact hyperplane signs; bucket " +
      "occupancy then grows with the corpus and pair volume is " +
      "occupancy-quadratic. The operator's documented contract scales " +
      "planes with log(corpus) — with it followed (planes ∝ log n) " +
      "the constant-occupancy row holds linear (SCALE.md \"sf1 gate " +
      "deepening: top-80 + the q32 parameterization finding\")"),
    "q223_fellegi_sunter" -> ("the entry blocks on NATURAL keys " +
      "(nation × mktsegment = 125 blocks), so occupancy grows with the " +
      "data and pair volume is occupancy-quadratic — a property of the " +
      "block-key choice, not the operator; production blocking keeps " +
      "block count ∝ entities, and that row holds linear (SCALE.md " +
      "\"Full-catalog sf1 gate (all 404 queries) and the q308 fix\")"))
}
