package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.GraftSession
import graft.catalog.{Catalog, SignedZero}

/** One-pass catalog inventory (builder tool, not driver contract):
  *
  *  1. Regenerates the signed-zero registry resource
  *     (`src/main/resources/graft/signed_zero_cols.tsv`): every
  *     query's double output columns, derived from its LIVE schema at
  *     sf0.001 — the oracle-side half of the [[SignedZero]] closure.
  *  2. Classifies every query as LAZY (constructing the DataFrame ran
  *     zero Spark jobs — its plan is auditable) or EAGER (construction
  *     ran jobs: driver-dispatch loops, IRLS/Newton aggregates, pinned
  *     assignments) — the `ExplainAudit.audited`/`excluded` split,
  *     enforced by CatalogHygieneSpec over the WHOLE catalog.
  *  3. For each lazy query, reports physical-plan hygiene findings
  *     (CartesianProduct, BroadcastNestedLoopJoin, unpartitioned
  *     Window) — the same detectors `CatalogPlanAuditSpec` asserts
  *     against its allow-lists.
  *
  * Output: the TSV resource (written in place), plus a report on
  * stdout. Run after adding queries; the specs fail until the
  * registry/inventory are regenerated and findings classified.
  */
object CatalogInventory {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(4)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (!PlanHygiene.isMetadataJob(js)) jobs.incrementAndGet()
    })

    def qNum(n: String): Int = n.stripPrefix("q").takeWhile(_.isDigit).toInt
    val sorted = Catalog.all.sortBy(q => (qNum(q.name), q.name))

    val tsv = new StringBuilder(
      "# query\tdouble output columns (ArrayType(Double) suffixed [])" +
        "\tall output columns (gates the ORDER BY re-application)\n" +
        "# generated by graft.tools.CatalogInventory from live schemas" +
        " at sf0.001 — the oracle-side half of the SignedZero closure;\n" +
        "# CatalogPlanAuditSpec fails if this drifts from any query's" +
        " actual schema. Regenerate: sbt 'runMain graft.tools.CatalogInventory'\n")
    val lazies = Seq.newBuilder[String]
    val eagers = Seq.newBuilder[String]
    val eagerJobCounts = Seq.newBuilder[(String, Int)]
    val findings = Seq.newBuilder[String]

    /** Constructs `q` over `dir`: the frame and the non-metadata jobs
      * construction ran. */
    def construct(q: Catalog.Q,
                  dir: String): (org.apache.spark.sql.DataFrame, Int) = {
      spark.catalog.clearCache()
      val before = {
        org.apache.spark.graft.ListenerBusAccess
          .waitUntilEmpty(spark.sparkContext)
        jobs.get()
      }
      val df =
        try q.run(spark, dir)
        catch {
          case NonFatal(e) =>
            println(s"CONSTRUCT-FAIL ${q.name}: ${e.getMessage}")
            spark.stop(); sys.exit(1)
        }
      org.apache.spark.graft.ListenerBusAccess
        .waitUntilEmpty(spark.sparkContext)
      (df, jobs.get() - before)
    }

    sorted.foreach { q =>
      val (df, constructionJobs) = construct(q, sfDir)
      val eager = constructionJobs > 0
      if (eager) { eagers += q.name; eagerJobCounts += q.name -> constructionJobs }
      else lazies += q.name

      val cols = SignedZero.doubleCols(df.schema.fields.toSeq)
      if (cols.nonEmpty)
        tsv.append(s"${q.name}\t${cols.mkString(",")}\t" +
          s"${df.columns.mkString(",")}\n")
      // nested doubles would slip the closure — surface them
      df.schema.fields.foreach { f =>
        val s = f.dataType.simpleString
        val top = f.dataType.typeName == "double" ||
          s == "array<double>"
        if (!top && s.contains("double"))
          println(s"WARN ${q.name}: nested double in ${f.name}: $s")
      }

      if (!eager) PlanHygiene.violations(df).foreach { v =>
        findings += s"${q.name}: $v"
      }
    }

    val out = Paths.get("src/main/resources/graft/signed_zero_cols.tsv")
    Files.createDirectories(out.getParent)
    Files.write(out, tsv.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out")

    println(s"\n== LAZY (auditable) ${lazies.result().size} ==")
    lazies.result().grouped(6).foreach(g => println("  " + g.mkString(", ")))
    println(s"\n== EAGER (construction runs jobs) ${eagers.result().size} ==")
    eagers.result().grouped(6).foreach(g => println("  " + g.mkString(", ")))
    println(s"\n== PLAN FINDINGS ${findings.result().size} ==")
    findings.result().foreach(f => println("  " + f))
    // paste-ready block for graft.tools.EagerJobs.expected — the
    // per-eager-query construction job counts EagerJobContractSpec pins
    println(s"\n== EAGER JOB COUNTS (paste into EagerJobs.expected) ==")
    // a query pinned at another scale (EagerJobs.pinScale) is counted
    // again over that sibling of sfDir
    val byName = sorted.map(q => q.name -> q).toMap
    eagerJobCounts.result().foreach { case (n, c) =>
      val scale = EagerJobs.pinScale(n)
      val pinned =
        if (Paths.get(sfDir).getFileName.toString == scale) c
        else construct(byName(n),
          Paths.get(sfDir).resolveSibling(scale).toString)._2
      println("    \"" + n + "\" -> " + pinned + ",")
    }
    spark.stop()
  }
}
