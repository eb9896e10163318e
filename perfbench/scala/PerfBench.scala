package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.de.DifferentialExpression
import graft.enrich.TargetValidation
import graft.geo.GeoMatrixReader
import graft.graph.Centrality
import graft.mapping.ProbeMapping
import graft.net.CoExpressionNetwork
import graft.pipeline.{DrugTargetPipeline, PipelineConfig}
import graft.prep.Preprocess
import graft.report.{Figures, Sinks}

/** JVM side of the benchmark. `run.py` starts one JVM per mode:
  *
  *   pipeline IN OUT TRACE RESULT              DrugTargetPipeline on IN
  *   catalog  DATA QUERIES TRACE RESULT        queries cold, then warm
  *   names    RESULT                           every catalog query name
  *
  * Each mode prints `READY` once the session has finished its trivial job,
  * so the caller can time set-up from process start. Results go to the
  * RESULT json file; stdout carries nothing else.
  */
object Main {

  val Cores = 4

  def main(args: Array[String]): Unit = {
    val spark = session()
    println("READY")
    System.out.flush()
    args(0) match {
      case "names"    => writeJson(args(1), graft.SparkEntry.queries.keys.toSeq.sorted)
      case "pipeline" => Pipeline.run(spark, args(1), args(2), args(3) == "1", args(4))
      case "catalog"  => Catalog.run(spark, args(1), args(2).split(",").toSeq, args(3) == "1", args(4))
      case m          => throw new IllegalArgumentException(s"unknown mode $m")
    }
    spark.stop()
  }

  def session(): SparkSession = {
    val spark = GraftSession.builder(Some(Cores))
      .master(s"local[$Cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) {
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }

  def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), Json(value))
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number           => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]      => s.map(apply).mkString("[", ",", "]")
    case o                   => quote(o.toString)
  }
  private def quote(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }.mkString("\"", "", "\"")
}

/** Span tracer built from standard Spark hooks only: a SparkListener for
  * jobs, stages and tasks (attributed to the span whose name is the
  * driver thread's local property when the job started), a
  * QueryExecutionListener for planning phases, and CodeGenerator /
  * CodegenMetrics deltas for compile time and count. Spans are flat and
  * sequential, so a span's self time is its duration. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"

  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double,
                        compiles: Long, compileNs: Long)
  final class TaskAgg {
    var tasks = 0L; var empty = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, String]
  val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val stages = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val tasks = mutable.Map.empty[String, TaskAgg]
  val phasesMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageOp = mutable.Map.empty[Int, String]
  val opJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val opTasks = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var cacheMem = 0L
  var cacheDisk = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val s = prop(Prop).getOrElse("untraced")
      jobs(s) += 1
      e.stageIds.foreach(stageSpan(_) = s)
      prop(Tracer.OpProp).foreach { op =>
        opJobs(op) += 1
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages(stageSpan.getOrElse(e.stageInfo.stageId, "untraced")) += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = tasks.getOrElseUpdate(stageSpan.getOrElse(e.stageId, "untraced"), new TaskAgg)
      a.tasks += 1
      stageOp.get(e.stageId).foreach(opTasks(_) += 1)
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          a.empty += 1
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized {
      qe.tracker.phases.foreach { case (p, s) => phasesMs(p) += s.durationMs }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = { var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t }
  private var startNs = 0L
  private var startMs = 0L
  private var gc0 = 0L
  private var compiles0 = 0L
  private var compileNs0 = 0L
  var wallS = 0.0

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    gc0 = gcMs
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    startMs = System.currentTimeMillis()
    startNs = System.nanoTime()
  }

  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Prop, name)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      spans += Span(name, ms0, System.currentTimeMillis(), dt,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, CodeGenerator.compileTime - n0)
      sc.setLocalProperty(Prop, null)
      val info = sc.getRDDStorageInfo
      cacheMem = math.max(cacheMem, info.map(_.memSize).sum)
      cacheDisk = math.max(cacheDisk, info.map(_.diskSize).sum)
    }
  }

  /** Stops the clock, drains the listener buses and returns every counter. */
  def finish(): mutable.LinkedHashMap[String, Double] = {
    wallS = (System.nanoTime() - startNs) / 1e9
    val endMs = System.currentTimeMillis()
    val gcS = (gcMs - gc0) / 1e3
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    ListenerBusAccess.waitUntilEmpty(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    val all = tasks.values
    val allIntervals = all.flatMap(_.intervals).toSeq
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("spark.jobs") = jobs.values.sum.toDouble
    out("spark.stages") = stages.values.sum.toDouble
    out("spark.tasks") = all.map(_.tasks).sum.toDouble
    out("spark.empty_task_frac") =
      if (out("spark.tasks") == 0) 0.0 else all.map(_.empty).sum / out("spark.tasks")
    out("spark.slot_util") = all.map(_.runMs).sum / 1e3 / (wallS * Main.Cores)
    out("spark.task_run_s") = all.map(_.runMs).sum / 1e3
    out("spark.task_cpu_s") = all.map(_.cpuNs).sum / 1e9
    out("spark.gc_s") = gcS
    out("spark.shuffle_read_bytes") = all.map(_.shuffleRead).sum.toDouble
    out("spark.shuffle_write_bytes") = all.map(_.shuffleWrite).sum.toDouble
    out("spark.spill_bytes") = all.map(_.spill).sum.toDouble
    out("sql.analysis_ms") = phasesMs("analysis").toDouble
    out("sql.optimization_ms") = phasesMs("optimization").toDouble
    out("sql.planning_ms") = phasesMs("planning").toDouble
    out("codegen.compile_ms") = compileMs
    out("codegen.compiles") = compiles.toDouble
    out("driver_s") = Tracer.idleSeconds(startMs, endMs, allIntervals)
    out("cache.mem_bytes") = cacheMem.toDouble
    out("cache.disk_bytes") = cacheDisk.toDouble
    out
  }

  /** Per-layer sums over every span of that name. */
  def layer(name: String): mutable.LinkedHashMap[String, Double] = {
    val ss = spans.filter(_.name == name)
    val a = tasks.getOrElse(name, new TaskAgg)
    mutable.LinkedHashMap(
      s"$name.s" -> ss.map(_.seconds).sum,
      s"$name.driver_s" -> ss.map(s => Tracer.idleSeconds(s.startMs, s.endMs, a.intervals.toSeq)).sum,
      s"$name.tasks" -> a.tasks.toDouble,
      s"$name.task_cpu_s" -> a.cpuNs / 1e9,
      s"$name.shuffle_bytes" -> a.shuffleWrite.toDouble)
  }

  def spanSeconds: Double = spans.map(_.seconds).sum
}

object Tracer {
  /** Local property naming the operation (one catalog query execution)
    * that jobs started on the driver thread belong to. */
  val OpProp = "perfbench.op"

  /** Seconds of [from, to] (epoch ms) during which none of `intervals` ran. */
  def idleSeconds(from: Long, to: Long, intervals: Seq[(Long, Long)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0L, (to - from) - busy) / 1e3
  }
}

/** The pipeline workload. Untraced: one `DrugTargetPipeline.run()`.
  * Traced: the same layer calls in the same order, each wrapped in a span
  * and its output materialized at the boundary. */
object Pipeline {

  def config(in: String, out: String): PipelineConfig =
    PipelineConfig(s"$in/series_matrix.txt.gz", s"$in/probe_mapping.csv", out,
      Some(s"$in/ensembl.csv"), Some(s"$in/opentargets.json"))

  def run(spark: SparkSession, in: String, out: String, trace: Boolean, result: String): Unit = {
    val cfg = config(in, out)
    if (!trace) {
      val t0 = System.nanoTime()
      val r = new DrugTargetPipeline(spark, cfg).run()
      val dt = (System.nanoTime() - t0) / 1e9
      Main.writeJson(result, Map(
        "work_s" -> dt,
        "peak_rss_mb" -> Main.peakRssMb(),
        "stages" -> r.stageSeconds.map { case (n, s) => Map("name" -> n, "s" -> s) },
        "failures" -> r.failures.map { case (n, e) => Map("name" -> n, "error" -> e.toString) }))
    } else {
      val tr = new Tracer(spark)
      tr.start()
      val stages = mutable.ArrayBuffer.empty[(String, Double)]
      val failures = traced(spark, cfg, tr, stages)
      val engine = tr.finish()
      val layers = mutable.LinkedHashMap.empty[String, Double]
      Seq("geo.read", "prep.run", "mapping.collapse", "de.run", "net.build",
        "graph.betweenness", "report.csv").foreach(l => layers ++= tr.layer(l))
      Seq("graph.eigenvector", "graph.scores", "enrich.validate", "report.figures",
        "report.summary").foreach(l => layers(s"$l.s") = tr.spans.filter(_.name == l).map(_.seconds).sum)
      Main.writeJson(result, Map(
        "work_s" -> tr.wallS,
        "span_s" -> tr.spanSeconds,
        "peak_rss_mb" -> Main.peakRssMb(),
        "metrics" -> (layers ++ engine),
        "stages" -> stages.map { case (n, s) => Map("name" -> n, "s" -> s) },
        "spans" -> tr.spans.map(s => Map("name" -> s.name, "s" -> s.seconds,
          "compiles" -> s.compiles, "compile_ms" -> s.compileNs / 1e6)),
        "failures" -> failures.map { case (n, e) => Map("name" -> n, "error" -> e.toString) }))
    }
  }

  private def mat(df: DataFrame): DataFrame = { df.persist(StorageLevel.MEMORY_AND_DISK).count(); df }

  /** Mirrors `DrugTargetPipeline.run` call for call (stage isolation
    * included), so its outputs are byte-identical to the untraced run's. */
  def traced(spark: SparkSession, config: PipelineConfig, tr: Tracer,
             stages: mutable.ArrayBuffer[(String, Double)]): Seq[(String, Throwable)] = {
    val failures = mutable.ArrayBuffer.empty[(String, Throwable)]
    def stage[T](name: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      try Some(body) catch { case NonFatal(e) => failures += name -> e; None }
      finally stages += name -> (System.nanoTime() - t0) / 1e9
    }
    val out = config.outputDir
    val csv = (df: DataFrame, path: String) => tr.span("report.csv")(Sinks.writeCsv(df, path))

    val geo = tr.span("geo.read") {
      val g = GeoMatrixReader.read(spark, config.matrixPath)
      mat(g.expression)
      g
    }
    stage("metadata_sink") {
      csv(geo.metadata.drop("characteristics").orderBy("ordinal"), s"$out/data/metadata")
    }

    val genes = stage("preprocess_and_map") {
      val prepped = tr.span("prep.run")(mat(Preprocess.run(geo.expression, geo.sampleIds.length)))
      val g = tr.span("mapping.collapse") {
        val mapping = ProbeMapping.loadMappingCsv(spark, config.mappingCsvPath)
        mat(ProbeMapping.collapseToGenes(prepped, mapping))
      }
      csv(Sinks.pivotWide(g, "gene", "sample_id", "value", geo.sampleIds), s"$out/data/gene_mapped")
      g
    }

    val differential = genes.flatMap { g =>
      stage("differential_analysis") {
        val res = tr.span("de.run")(mat(DifferentialExpression.run(spark, g, geo.sampleIds, geo.metadata)))
        csv(res.orderBy("gene"), s"$out/data/differential_results")
        csv(Sinks.volcanoData(res).orderBy("gene"), s"$out/data/volcano_data")
        res
      }
    }
    differential.foreach { res =>
      stage("figure_volcano") {
        tr.span("report.figures") {
          val pts = Sinks.volcanoData(res).orderBy("gene").collect()
            .filter(r => !r.isNullAt(1) && !r.isNullAt(2)).map { r =>
              (r.getDouble(1), r.getDouble(2), !r.isNullAt(3) && r.getBoolean(3))
            }.toSeq
          Figures.renderVolcano(pts, pThreshold = 0.05, fcThreshold = 1.0,
            s"$out/figures/volcano_plot.png")
        }
      }
    }
    val significant = differential.flatMap { d =>
      stage("significant_genes") {
        val sig = tr.span("de.run")(mat(DifferentialExpression.significant(d)))
        csv(sig.orderBy("gene"), s"$out/data/significant_genes")
        sig
      }
    }

    val network = genes.flatMap { g =>
      stage("construct_network") {
        val (top, corrs, edges, topSeq, edgeSeq) = tr.span("net.build") {
          val top = mat(CoExpressionNetwork.topGenes(g, significant, config.nTopGenes))
          val corrs = mat(CoExpressionNetwork.correlations(g, top))
          val edges = mat(CoExpressionNetwork.edges(corrs, config.corrThreshold))
          val topSeq = top.collect().map(_.getString(0)).toSeq
          val edgeSeq = edges.collect()
            .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
          (top, corrs, edges, topSeq, edgeSeq)
        }
        csv(Sinks.pivotWide(
          corrs.select(col("g1"), col("g2"), col("corr"))
            .unionAll(corrs.select(col("g2"), col("g1"), col("corr")))
            .unionAll(top.select(col("gene").as("g1"), col("gene").as("g2"), lit(1.0).as("corr"))),
          "g1", "g2", "corr", topSeq), s"$out/data/correlation_matrix")
        tr.span("report.csv")(Sinks.writeGexf(topSeq, edgeSeq, s"$out/data/gene_network.gexf"))
        (top, edges)
      }
    }

    val targetScores = network.flatMap { case (top, edges) =>
      stage("analyze_network") {
        val nNodes = tr.span("graph.scores")(top.count())
        val scores =
          if (nNodes < 2) {
            import spark.implicits._
            val names =
              if (nNodes == 0) Seq("PLACEHOLDER") else top.collect().map(_.getString(0)).toSeq
            names.map((_, 0.0, 0.0, 0.0, 0.0)).toDF("gene", "degree_centrality",
              "betweenness_centrality", "eigenvector_centrality", "composite_score")
          } else {
            val nodes = top.select("gene")
            val deg = tr.span("graph.scores")(mat(Centrality.degreeCentrality(nodes, edges)))
            val btw = tr.span("graph.betweenness")(mat(Centrality.betweennessCentrality(spark, nodes, edges)))
            val eig = tr.span("graph.eigenvector")(mat(Centrality.eigenvectorCentrality(spark, nodes, edges)))
            tr.span("graph.scores")(Centrality.compositeScores(
              deg.join(btw, Seq("gene")).join(eig, Seq("gene"))))
          }
        val persisted = tr.span("graph.scores")(mat(scores))
        csv(persisted, s"$out/data/network_targets")
        persisted
      }
    }

    (network, targetScores) match {
      case (Some((_, edges)), Some(ts)) =>
        lazy val vizData = Sinks.networkVizData(ts, edges)
        stage("figure_viz_nodes") {
          csv(vizData._1.orderBy(col("node_size").desc, col("gene")), s"$out/data/network_viz_nodes")
        }
        stage("figure_viz_edges") {
          csv(vizData._2.orderBy("src", "dst"), s"$out/data/network_viz_edges")
        }
        stage("figure_barplot") {
          csv(Sinks.barplotData(ts).orderBy(col("composite_score").desc, col("gene")),
            s"$out/data/top_targets_barplot")
        }
        stage("figure_network_png") {
          tr.span("report.figures") {
            val nodes = vizData._1.orderBy(col("node_size").desc, col("gene")).collect()
              .map(r => (r.getString(0), r.getDouble(1))).toSeq
            if (nodes.size > 1) {
              val es = vizData._2.orderBy("src", "dst").collect()
                .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
              Figures.renderNetwork(nodes, es, s"$out/figures/network_visualization.png")
            }
          }
        }
        stage("figure_barplot_png") {
          tr.span("report.figures") {
            val tops = Sinks.barplotData(ts).orderBy(col("composite_score").desc, col("gene"))
              .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
            if (tops.nonEmpty) Figures.renderBarplot(tops, s"$out/figures/top_targets.png")
          }
        }
      case _ => ()
    }

    targetScores.foreach { ts =>
      (config.ensemblSnapshotPath, config.openTargetsSnapshotPath) match {
        case (Some(ens), Some(ot)) =>
          stage("validate_targets") {
            val ft = tr.span("enrich.validate")(mat(TargetValidation.validate(ts,
              TargetValidation.loadEnsemblSnapshot(spark, ens),
              TargetValidation.loadOpenTargetsSnapshot(spark, ot),
              config.topNValidation)))
            csv(ft, s"$out/data/final_targets")
          }
        case _ => ()
      }
    }

    stage("summary_report") {
      tr.span("report.summary") {
        val meta = geo.metadata
        val nCase = meta.filter(col("condition") === "case").count()
        val nControl = meta.filter(col("condition") === "control").count()
        val nProbes = geo.expression.select("probe_id").distinct().count()
        val nGenes = genes.map(_.select("gene").distinct().count()).getOrElse(0L)
        val nSig = significant.map(_.count()).getOrElse(0L)
        val nUp = significant.map(_.filter(col("log2FC") > 0).count()).getOrElse(0L)
        val nDown = significant.map(_.filter(col("log2FC") < 0).count()).getOrElse(0L)
        val nNodes = network.map(_._1.count()).getOrElse(0L)
        val nEdges = network.map(_._2.count()).getOrElse(0L)
        val topTargets = targetScores.map(
          _.orderBy(col("composite_score").desc, col("gene")).limit(10)
            .collect().map(r => (r.getString(0), r.getAs[Double]("composite_score"))).toSeq)
          .getOrElse(Seq.empty)
        Sinks.summaryReport(geo.sampleIds.length.toLong, nCase, nControl,
          nProbes, nGenes, nSig, nUp, nDown, nNodes, nEdges, topTargets, s"$out/summary.txt")
      }
    }
    failures.toSeq
  }
}

/** The catalog workload: each query once cold, then once warm, through the
  * `noop` sink, with its row count and an order-insensitive content digest
  * observed on the rows flowing to the sink (no second execution). */
object Catalog {

  /** Sum of per-row xxhash64 over every column; doubles rounded to 6
    * places and -0.0 folded to 0.0, maps hashed as sorted entry arrays. */
  def digest(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      f.dataType match {
        case DoubleType | FloatType =>
          val d = round(c.cast(DoubleType), 6)
          when(d === 0.0, lit(0.0)).otherwise(d)
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    if (cols.isEmpty) lit(0L) else sum(xxhash64(cols: _*))
  }

  def run(spark: SparkSession, dir: String, names: Seq[String], trace: Boolean, result: String): Unit = {
    val queries = graft.SparkEntry.queries
    val tr = if (trace) Some(new Tracer(spark)) else None
    tr.foreach(_.start())
    def span[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    // Untimed warm-up, as graft.Bench does: parquet scan, aggregate and
    // codegen paths every query shares are loaded before the first timing.
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    for (pass <- Seq("cold", "warm"); name <- names) {
      spark.catalog.clearCache()
      val op = s"$name/$pass"
      spark.sparkContext.setLocalProperty(Tracer.OpProp, op)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q0 = System.nanoTime()
      val rec: Map[String, Any] =
        try {
          val obs = Observation(op)
          val built = span("catalog.build")(queries(name)(spark, dir))
          val b = (System.nanoTime() - q0) / 1e6
          // positional names only where the query's own names collide
          val df = if (built.columns.distinct.length == built.columns.length) built
            else built.toDF(built.columns.indices.map(i => s"c$i"): _*)
          span("catalog.execute") {
            df.observe(obs, count(lit(1)).as("rows"), digest(df).as("digest"))
              .write.format("noop").mode("overwrite").save()
          }
          val ms = (System.nanoTime() - q0) / 1e6
          val m = obs.get
          Map("name" -> name, "pass" -> pass, "ms" -> ms, "build_ms" -> b,
            "rows" -> m("rows"), "digest" -> Option(m("digest")).map(_.toString).orNull,
            "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0))
        } catch {
          case NonFatal(e) =>
            Map("name" -> name, "pass" -> pass, "ms" -> (System.nanoTime() - q0) / 1e6,
              "error" -> e.toString.take(300))
        }
      spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
      records += rec
    }
    val work = (System.nanoTime() - t0) / 1e9
    val metrics = tr.map { t =>
      val engine = t.finish()
      def layerMs(s: String) = t.spans.filter(_.name == s).map(_.seconds).sum * 1e3
      def median(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2).toDouble
      val ops = records.map(r => s"${r("name")}/${r("pass")}").toSeq
      mutable.LinkedHashMap(
        "catalog.build_ms" -> layerMs("catalog.build"),
        "catalog.execute_ms" -> layerMs("catalog.execute"),
        "catalog.eager_jobs" -> t.jobs("catalog.build").toDouble,
        "query.jobs_p50" -> median(ops.map(t.opJobs)),
        "query.tasks_p50" -> median(ops.map(t.opTasks)),
        "codegen.compiles_warm" -> records.filter(_("pass") == "warm")
          .map(_.getOrElse("compiles", 0L).asInstanceOf[Long]).sum.toDouble) ++ engine
    }
    Main.writeJson(result, Map(
      "work_s" -> work,
      "peak_rss_mb" -> Main.peakRssMb(),
      "records" -> records,
      "metrics" -> metrics.orNull))
  }
}
