package graft.tools

import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkSuite
import graft.pipeline.{DrugTargetPipeline, PipelineConfig}

class RunPipelineSpec extends SparkSuite {

  test("record: one JSON line with per-stage seconds and failures") {
    val out = Files.createTempDirectory("graft-run").toString
    val result = new DrugTargetPipeline(spark, PipelineConfig(
      matrixPath = resource("tiny_geo_matrix.txt"),
      mappingCsvPath = resource("tiny_probe_mapping.csv"),
      outputDir = out)).run()
    val failed = result.copy(failures = result.failures :+
      ("summary_report" -> new IllegalStateException("bad \"quote\"\nline")))

    for (r <- Seq(result, failed)) {
      val line = RunPipeline.record(r, out)
      assert(!line.contains("\n"))
      val json = JsonMethods.parse(line)
      assert(json \ "out" == JString(out))
      assert(json \ "failed" == JInt(r.failures.length))
      val stages = (json \ "stages").children
        .map(s => ((s \ "name").values, (s \ "s").values))
      assert(stages == r.stageSeconds.toList)
      val failures = (json \ "failures").children
        .map(f => ((f \ "stage").values, (f \ "error").values))
      assert(failures == r.failures.toList.map { case (n, e) => (n, e.toString) })
    }
    assert(result.failures.isEmpty)
    assert(result.stageSeconds.map(_._1).take(2) ==
      Seq("metadata_sink", "preprocess_and_map"))
  }
}
