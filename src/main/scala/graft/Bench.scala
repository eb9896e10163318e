package graft

import scala.util.control.NonFatal

import graft.tools.Runner

/** Benchmark main (driver contract): one JSON line with per-query and
  * total wall seconds over SPARK_GRAFT_SF_DIR.
  *
  * - Each query is timed through [[Runner.timed]]: noop sink, cache
  *   cleared per run, output row count observed ("rows" in the JSON), so
  *   a silently-empty result is visible instead of reading as a fast
  *   success.
  * - A warm-up pass ([[Runner.warmUp]]) runs before timing so the first
  *   query doesn't carry JVM + session start-up.
  * - A query that throws is reported in "failed" and EXCLUDED from the
  *   total, rather than its near-zero exception-path elapsed time
  *   deflating the headline number.
  * - The headline set is the ENTIRE catalog, ordered by query number
  *   (rounds 1-5 curated an explicit subset; deriving it from
  *   SparkEntry.queries means a new catalog entry can never be silently
  *   absent from round-over-round perf tracking). Cross-round deltas on
  *   the shared names remain comparable — per-query times don't care
  *   how many neighbors run around them (caches are cleared between
  *   queries).
  */
object Bench {

  private def queryNumber(name: String): Int =
    name.stripPrefix("q").takeWhile(_.isDigit).toInt

  private val headline =
    SparkEntry.queries.keys.toSeq.sortBy(n => (queryNumber(n), n))

  // Best-of-3 per query: later runs amortize one-time codegen / JIT and
  // shield the recorded number from transient host noise (a contended
  // recording once masqueraded as a 2x regression). Protocol note:
  // rounds 1-5 recorded best-of-2 — the "runs" field in the JSON marks
  // which protocol a snapshot used, so cross-round deltas near the
  // noise floor should be read against same-runs recordings.
  private val runsPerQuery = 3

  def main(args: Array[String]): Unit = {
    // Restrict the headline set to a comma-separated subset
    // (tools/bench_ab.sh uses it; unset, the whole catalog is timed).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    Runner.warmUp(spark, sfDir)

    val queries = SparkEntry.queries
    val results: Seq[(String, Either[String, (Double, Long)])] =
      headline.filter(n => only.forall(_.contains(n))).map { name =>
        // headline is derived from the same map, so lookup cannot miss
        val fn = queries(name)
        try {
          val runs = (1 to runsPerQuery).map { i =>
            Runner.timed(spark, s"$name-$i")(fn(spark, sfDir))
          }
          name -> Right((runs.map(_._1).min, runs.last._2))
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            name -> Left(e.getClass.getSimpleName)
        }
      }
    val ok = results.collect { case (n, Right(v)) => n -> v }
    val failed = results.collect { case (n, Left(_)) => n }
    val qs = ok.map { case (k, (t, _)) => "\"" + k + "\":" + t }
      .mkString("{", ",", "}")
    val rows = ok.map { case (k, (_, r)) => "\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val fails = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2._1).sum
    // Host load (1/5/15-min averages) rides along so a recording taken
    // under contention is self-identifying instead of reading as a
    // regression of the binary.
    val load = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString("[", ",", "]")
    } catch { case NonFatal(_) => "[]" }
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rows":$rows,"failed":$fails,"loadavg":$load,"runs":$runsPerQuery,"sf":"$sfDir"}"""
    // The driver captures only the TAIL (~2.3 KB) of stdout; a 428-query
    // record is ~12 KB, so every round's per-query dict arrived truncated
    // and unparseable (BENCH_r01..r14: parsed null). Defense in depth:
    // (1) the full canonical record (with the per-query dict) is printed
    // AND written to bench_full.json in the working directory, (2) the
    // LAST stdout line is a compact fixed-size summary — total seconds,
    // query count, failures, load — that always fits the tail capture
    // whole, parses on its own, and is marked "summary":true.
    println(full)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => () }
    println(
      s"""{"metric":"total","summary":true,"value":$total,"unit":"sec","n":${ok.size},"failed":$fails,"loadavg":$load,"runs":$runsPerQuery,"sf":"$sfDir"}""")
    spark.stop()
  }
}
