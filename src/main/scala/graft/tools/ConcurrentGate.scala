package graft.tools

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.catalog.Catalog

/** Round-14 concurrent-session gate: every bench, sweep, and gate runs
  * queries SERIALLY, but a real cluster multiplexes one session across
  * threads — and shared mutable surfaces exist (the Tables.load legacy-
  * conf toggle, temp-view names in the SQL-TVF queries, Observation
  * callbacks, operator-internal persists). This main runs the gate set
  * once serially (reference digests), then 4 concurrent threads × the
  * full set in ONE SparkSession under the FAIR scheduler (each thread
  * in its own pool, per-thread shuffled order so interleavings differ),
  * and asserts every concurrent result digest equals its serial run.
  *
  * Digest = (Σ xxhash64(to_json(struct(columns sorted by name))), row
  * count) — row-order-free, column-order-pinned, exact on every type
  * the catalog emits. Any nondeterminism or cross-thread state bleed
  * flips it.
  *
  * Usage: `tools/run_main.sh graft.tools.ConcurrentGate [sfDir] [N]
  * [benchJson]` (defaults /root/testdata/sf0.1, 20, newest
  * bench_full_r*.json). Exit 1 on any mismatch.
  */
object ConcurrentGate {

  /** Queries touching shared mutable surfaces, gated regardless of
    * bench rank: temp-view registrations (same view NAME re-registered
    * by every thread), the SQL TVF path, eager probe queries. */
  val sharedStateTargets: Seq[String] = Seq(
    "q284_sql_tvf_sessions", "q342_sql_tvf_dedup", "q185_grouping_sets",
    "q103_grouping_sets", "q100_profile", "q149_rfm", "q15_bh_fdr")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val topN = if (args.length > 1) args(1).toInt else 20
    val benchJson =
      if (args.length > 2) args(2) else BenchJson.newestBenchFile()
    val baseTimes = BenchJson.queryTimes(benchJson)
    val names = (baseTimes.toSeq.sortBy(-_._2).take(topN).map(_._1) ++
      sharedStateTargets).distinct.filter(Catalog.queries.contains)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(Some(cpus)).master(s"local[$cpus]")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val qs = Catalog.queries
    def digest(df: DataFrame): (Long, Long) = {
      val row = xxhash64(to_json(struct(df.columns.sorted.map(col): _*)))
      val r = df.select(sum(row).as("h"), count(lit(1)).as("n")).head()
      ((if (r.isNullAt(0)) 0L else r.getLong(0)), r.getLong(1))
    }

    println(s"concurrent gate: ${names.size} queries " +
      s"(top-$topN of $benchJson + ${sharedStateTargets.size} " +
      s"shared-state targets) at $sfDir, 4 threads, FAIR")

    // ---- serial reference
    val serial = names.map { n => n -> digest(qs(n)(spark, sfDir)) }.toMap
    println(s"serial pass done (${serial.size} digests)")

    // ---- 4 concurrent threads, per-thread shuffled order
    val results =
      new ConcurrentHashMap[(Int, String), Either[Throwable, (Long, Long)]]()
    val pool = Executors.newFixedThreadPool(4)
    (0 until 4).foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"pool$t")
          new scala.util.Random(t).shuffle(names).foreach { n =>
            val r = try Right(digest(qs(n)(spark, sfDir)))
            catch { case NonFatal(e) => Left(e) }
            results.put((t, n), r)
          }
        }
      })
    }
    pool.shutdown()
    require(pool.awaitTermination(60, TimeUnit.MINUTES),
      "concurrent pass did not finish in 60 min")

    var bad = 0
    names.foreach { n =>
      (0 until 4).foreach { t =>
        results.get((t, n)) match {
          case Right(d) if d == serial(n) => ()
          case Right(d) =>
            println(s"MISMATCH $n thread $t: $d != serial ${serial(n)}")
            bad += 1
          case Left(e) =>
            println(s"ERROR $n thread $t: ${e.getClass.getSimpleName}: " +
              s"${e.getMessage}")
            bad += 1
          case null =>
            println(s"MISSING $n thread $t")
            bad += 1
        }
      }
    }
    println(if (bad == 0)
      s"concurrent gate PASS: ${names.size} queries x 4 threads all " +
        "equal their serial digests"
    else s"concurrent gate FAIL: $bad mismatches/errors")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
