package graft.tools

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.Files

import graft.GraftSession
import graft.pipeline.{DrugTargetPipeline, PipelineConfig}

/** End-to-end smoke at the REFERENCE's true data scale: a synthetic GEO
  * Series Matrix with 54,675 probes x 50 samples (36 case / 14 control,
  * GSE46602's shape) plus an 80%-coverage probe mapping, run through the
  * full nine-stage pipeline. Prints per-stage-free wall time and the
  * summary counts — the single-node throughput comparison point against
  * the reference's pandas/R implementation on the same workload shape.
  *
  * Deterministic: all values derive from an integer LCG; ~500 genes get
  * a case-shifted mean so the differential/network stages run on a
  * realistic significant set.
  */
object ScaleSmoke {

  private def lcg(seed: Long): Long = (seed * 6364136223846793005L + 1442695040888963407L)

  /** uniform double in [0,1) from an integer key */
  private def u(key: Long): Double =
    ((lcg(key) >>> 11).toDouble / (1L << 53).toDouble)

  def main(args: Array[String]): Unit = {
    val nProbes = args.headOption.map(_.toInt).getOrElse(54675)
    val nCase = 36
    val nControl = 14
    val n = nCase + nControl
    val tmp = Files.createTempDirectory("graft-scale").toString

    // --- synthesize the matrix file (tab-separated, GEO-shaped) ---
    val t0 = System.nanoTime()
    val matrix = s"$tmp/synthetic_series_matrix.txt"
    val w = new BufferedWriter(new FileWriter(matrix), 1 << 20)
    val ids = (1 to n).map(i => f"GSM$i%05d")
    w.write("!Series_title\t\"synthetic\"\n")
    w.write("!Sample_geo_accession\t" + ids.map("\"" + _ + "\"").mkString("\t") + "\n")
    w.write("!Sample_title\t" + (1 to n).map(i =>
      "\"" + (if (i <= nCase) s"tumor_$i" else s"normal_$i") + "\"").mkString("\t") + "\n")
    w.write("!Sample_characteristics_ch1\t" + (1 to n).map(i =>
      "\"tissue: " + (if (i <= nCase) "prostate cancer" else "benign prostate") + "\"")
      .mkString("\t") + "\n")
    w.write("\"ID_REF\"\t" + ids.map("\"" + _ + "\"").mkString("\t") + "\n")
    var p = 0
    val sb = new java.lang.StringBuilder(1024)
    while (p < nProbes) {
      sb.setLength(0)
      sb.append('"').append(p).append("_at\"")
      val base = 6.0 + 4.0 * u(p.toLong * 7919)
      val shifted = p % 100 == 0      // ~1% of probes carry case signal
      var s = 0
      while (s < n) {
        val noise = (u(p.toLong * 1000003 + s) - 0.5) * 0.8
        val shift = if (shifted && s < nCase) 2.5 else 0.0
        sb.append('\t').append(math.rint((base + shift + noise) * 10000) / 10000.0)
        s += 1
      }
      sb.append('\n')
      w.write(sb.toString)
      p += 1
    }
    w.close()

    // --- mapping csv: 80% of probes map to ~nProbes/3 gene symbols ---
    val mapping = s"$tmp/mapping.csv"
    val mw = new BufferedWriter(new FileWriter(mapping), 1 << 20)
    mw.write("PROBEID,SYMBOL\n")
    p = 0
    while (p < nProbes) {
      if (p % 5 != 4) mw.write(s"${p}_at,GENE${p / 3}\n")
      p += 1
    }
    mw.close()
    val genT = (System.nanoTime() - t0) / 1e9

    // --- full pipeline run ---
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val t1 = System.nanoTime()
    val result = new DrugTargetPipeline(spark,
      PipelineConfig(matrix, mapping, s"$tmp/out")).run()
    val runT = (System.nanoTime() - t1) / 1e9

    val summary = Files.readString(java.nio.file.Paths.get(s"$tmp/out/summary.txt"))
    println(summary)
    result.stageSeconds.foreach { case (n, s) => println(f"[stage] $n%-24s $s%8.2f s") }
    println(s"[scale-smoke] probes=$nProbes samples=$n gen=${genT}s " +
      s"pipeline=${runT}s failures=${result.failures.map(_._1).mkString(",")}")
    spark.stop()
  }
}
