package graft

import java.nio.file.Files

import graft.de.{RobustStats, Survival}
import graft.dedup.Dedup
import graft.graph.{Scc, Triangles}
import graft.pipeline.{DrugTargetPipeline, PipelineConfig}
import graft.sample.Bootstrap
import graft.text.CorpusStats

/** Operators leave no cache entry behind: on return, and when a guard
  * trips after the frame it counts was pinned. A long-lived shared
  * session (Verify's 428 queries, a notebook) would otherwise
  * accumulate one cached frame per call. Each test clears the cache
  * first and asserts the session's cache manager is empty after the
  * call; a returned frame is read after that check, so a result that
  * needed the released cache would show here as a recompute, never as
  * a wrong or failed read. Suites run one after another in the forked
  * test JVM (see `EagerJobContractSpec`), so no other suite's frames
  * are in the cache meanwhile. */
class CacheLifecycleSpec extends SparkSuite {
  import spark.implicits._

  private def cacheManager = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  /** Runs `body` on a cleared cache and fails if it left an entry. */
  private def leavesNoCache[T](body: => T): T = {
    spark.catalog.clearCache()
    val out = body
    assert(cacheManager.isEmpty, "cache entries left behind")
    out
  }

  private def series = Seq(("a", 1.0, 3.0), ("a", 2.0, 5.0),
    ("a", 3.0, 4.0), ("a", 4.0, 9.0), ("b", 1.0, 1.0), ("b", 2.0, 2.0))
    .toDF("g", "x", "y")

  private def docs = Seq(
    (1L, "web", "alpha beta gamma delta epsilon zeta eta"),
    (2L, "web", "alpha beta gamma delta epsilon zeta theta"),
    (3L, "books", "alpha beta gamma delta epsilon zeta eta"),
    (4L, "books", "iota kappa lambda mu nu xi omicron"))
    .toDF("id", "src", "text")

  test("hodgesLehmann releases its pinned points on return") {
    val r = leavesNoCache(RobustStats.hodgesLehmann(series, "g", "y"))
    assert(r.orderBy("g").collect().map(_.getLong(2)).toSeq == Seq(10L, 3L))
  }

  test("hodgesLehmann releases its pinned points when the guard trips") {
    val e = leavesNoCache(intercept[IllegalArgumentException](
      RobustStats.hodgesLehmann(series, "g", "y", maxGroupRows = 0L)))
    assert(e.getMessage == "requirement failed: hodgesLehmann input has " +
      "a group with 4 rows — above the series-grain contract (0); " +
      "pre-aggregate first")
  }

  test("theilSen releases its pinned points on return") {
    val r = leavesNoCache(RobustStats.theilSen(series, "g", "x", "y"))
    assert(r.orderBy("g").collect().map(_.getLong(2)).toSeq == Seq(6L, 1L))
  }

  test("meanCi releases its pinned index on return") {
    val cents = Seq(("a", 100L), ("a", 250L), ("a", 400L), ("b", 50L),
      ("b", 70L)).toDF("g", "cents")
    val r = leavesNoCache(Bootstrap.meanCi(cents, "g", "cents", bReps = 20))
    assert(r.orderBy("g").collect().map(_.getLong(1)).toSeq == Seq(3L, 2L))
  }

  test("pairwiseJsd leaves no cache entry on return") {
    val r = leavesNoCache(CorpusStats.pairwiseJsd(docs, "src", "text"))
    assert(r.count() == 1L)
  }

  test("kaplanMeier releases its duration table when the guard trips") {
    val df = Seq((1L, 1), (2L, 0), (3L, 1)).toDF("dur", "ev")
    val e = leavesNoCache(intercept[IllegalArgumentException](
      Survival.kaplanMeier(df, "dur", "ev", maxDistinctTimes = 0L)))
    assert(e.getMessage == "requirement failed: kaplanMeier: 3 distinct " +
      "durations exceeds the single-sort guard (0) — bucket the " +
      "duration column before calling")
  }

  test("a Dedup pair lister releases its pinned postings") {
    val r = leavesNoCache(Dedup.ngramJaccardPairs(docs, "id", "text",
      shingleSize = 3, minJaccard = 0.5))
    assert(r.orderBy("id_a", "id_b").collect()
      .map(p => (p.getLong(0), p.getLong(1))).toSeq ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("clusteringCoefficient releases its canonical and oriented edges") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val r = leavesNoCache(Triangles.clusteringCoefficient(edges))
    assert(r.orderBy("node").collect().map(_.getLong(2)).toSeq ==
      Seq(1L, 1L, 1L))
  }

  test("the distributed SCC loop releases its pinned edges") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L)).toDF("src", "dst")
    val r = leavesNoCache(Scc.components(spark, nodes, edges,
      driverNodeThreshold = 0L, driverEdgeThreshold = 0L))
    assert(r.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("DrugTargetPipeline.run releases the probe and gene rows") {
    val cfg = PipelineConfig(
      matrixPath = resource("tiny_geo_matrix.txt"),
      mappingCsvPath = resource("tiny_probe_mapping.csv"),
      outputDir = Files.createTempDirectory("graft-cache").toString,
      ensemblSnapshotPath = Some(resource("tiny_ensembl_snapshot.csv")),
      openTargetsSnapshotPath =
        Some(resource("tiny_opentargets_snapshot.json")))
    val result = leavesNoCache(new DrugTargetPipeline(spark, cfg).run())
    assert(result.failures.isEmpty)
    assert(result.finalTargets.get.collect().map(_.getString(0))
      .contains("DDR1"))
  }
}
