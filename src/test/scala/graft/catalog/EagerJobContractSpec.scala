package graft.catalog

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSuite
import graft.tools.{EagerJobs, ExplainAudit, PlanHygiene}

/** Job-count discipline for EAGER queries (round-10 verdict task 7):
  * every query in [[ExplainAudit.excluded]] runs Spark jobs during
  * CONSTRUCTION, which exempts it from the plan audit — so this spec
  * pins how MANY. Each eager query is constructed at the scale of its
  * pin ([[EagerJobs.pinScale]], sf0.001 for most) under a
  * job listener (metadata jobs filtered, the CatalogInventory
  * methodology) and its non-metadata job count must stay within
  * max(2, 25%) of the pinned [[EagerJobs.expected]] value. A lost
  * persist or an accidental extra probe pass fails here with the
  * offending query named; a legitimate pass-structure change updates
  * the pin in the same commit.
  *
  * Tests run sequentially in the forked test JVM (build.sbt default),
  * so the shared-session job counter is not contaminated by
  * concurrent suites; the listener bus is drained before and after
  * each construction.
  */
class EagerJobContractSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** The test-data directory of `name`'s pin, a sibling of [[sfDir]]. */
  private def pinDir(name: String): String = java.nio.file.Paths.get(sfDir)
    .resolveSibling(EagerJobs.pinScale(name)).toString

  private def slack(expected: Int): Int = math.max(2, (expected + 3) / 4)

  test("EagerJobs.expected exactly covers the excluded set") {
    val exc = ExplainAudit.excluded.keySet
    val pinned = EagerJobs.expected.keySet
    val unpinned = exc.diff(pinned)
    assert(unpinned.isEmpty,
      s"eager queries with no pinned job count: $unpinned — run " +
        "graft.tools.CatalogInventory and paste the EAGER JOB COUNTS block")
    val stale = pinned.diff(exc)
    assert(stale.isEmpty, s"pinned counts for non-eager queries: $stale")
  }

  test("every eager query's construction job count is within slack of " +
    "its pin") {
    val qs = Catalog.queries
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (!PlanHygiene.isMetadataJob(js)) jobs.incrementAndGet()
    })
    def drained(): Int = {
      org.apache.spark.graft.ListenerBusAccess
        .waitUntilEmpty(spark.sparkContext)
      jobs.get()
    }
    val bad = Seq.newBuilder[String]
    ExplainAudit.excluded.keys.toSeq.sorted.foreach { name =>
      spark.catalog.clearCache()
      val before = drained()
      qs(name)(spark, pinDir(name)) // construction only — never an action here
      val got = drained() - before
      val exp = EagerJobs.expected.getOrElse(name, 0)
      if (math.abs(got - exp) > slack(exp))
        bad += s"$name: construction ran $got jobs, pinned $exp " +
          s"(slack ${slack(exp)})"
    }
    val failures = bad.result()
    assert(failures.isEmpty,
      s"${failures.size} eager job-count drifts:\n  " +
        failures.mkString("\n  ") +
        "\n(legitimate pass-structure change? regenerate via " +
        "sbt 'runMain graft.tools.CatalogInventory' and update " +
        "EagerJobs.expected in the same commit)")
  }

  test("every graph query's pin is taken on a non-empty graph") {
    val qs = Catalog.queries
    val empty = EagerJobs.graphPinScale.keys.toSeq.sorted.collect {
      case name if qs(name)(spark, pinDir(name)).isEmpty =>
        s"$name at ${EagerJobs.pinScale(name)}"
    }
    assert(empty.isEmpty, "graph queries pinned on an empty result: " +
      empty.mkString(", "))
    assert(EagerJobs.graphPinScale.keySet.subsetOf(EagerJobs.expected.keySet))
  }
}
