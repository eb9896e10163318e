package graft.tools

import org.json4s.{JArray, JDouble, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.pipeline.{DrugTargetPipeline, PipelineConfig, PipelineResult}

/** CLI entry for the full nine-stage pipeline.
  *
  * Usage: sbt "runMain graft.tools.RunPipeline <matrix.txt[.gz]>
  *   <mapping.csv> <outputDir> [ensemblSnapshot.csv] [openTargets.json]"
  *
  * The last stdout line is one JSON record of the run ([[record]]).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunPipeline <matrix> <mapping.csv> <outDir> [ensembl.csv] [opentargets.json]")
    // SPARK_MASTER is a deployment address (a cluster, or a wider local[N])
    val spark = GraftSession.builder(Some(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt))
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = PipelineConfig(
      matrixPath = args(0), mappingCsvPath = args(1), outputDir = args(2),
      ensemblSnapshotPath = args.lift(3),
      openTargetsSnapshotPath = args.lift(4))
    val result = new DrugTargetPipeline(spark, cfg).run()
    result.failures.foreach { case (stage, e) =>
      System.err.println(s"[pipeline] stage $stage failed: ${e.getMessage}")
    }
    println(record(result, args(2)))
    spark.stop()
  }

  /** One-line JSON record of a run: output directory, per-stage seconds
    * in run order, and each failed stage with its error,
    * `{"out":…,"failed":N,"stages":[{"name":…,"s":…}],"failures":[{"stage":…,"error":…}]}`. */
  def record(result: PipelineResult, outDir: String): String =
    JsonMethods.compact(JObject(
      "out" -> JString(outDir),
      "failed" -> JInt(result.failures.length),
      "stages" -> JArray(result.stageSeconds.toList.map { case (name, s) =>
        JObject("name" -> JString(name), "s" -> JDouble(s))
      }),
      "failures" -> JArray(result.failures.toList.map { case (stage, e) =>
        JObject("stage" -> JString(stage), "error" -> JString(e.toString))
      })))
}
