package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.GraftSession
import graft.catalog.Catalog

/** Optimization-round measurement harness (opt guide §1): run named
  * catalog queries under the BENCH session conf, sink through noop,
  * and print a per-stage breakdown (task count, task-time sum/max,
  * shuffle bytes) from a SparkListener so the expensive stage — not
  * just the expensive query — is identifiable without the UI. Also
  * dumps `.explain("formatted")` per query to an output directory
  * (plans/r14/<query>_<tag>.txt) when one is given.
  *
  * Usage: ProfileQuery <outDirOrNONE> <tag> <q1,q2,...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32).
  * Each query runs twice; the stage table is from the LAST run so
  * one-time codegen noise is amortized away.
  */
object ProfileQuery {

  private val runs = 2

  private final case class StageAgg(
      var name: String = "",
      var tasks: Int = 0,
      var taskTimeMs: Long = 0L,
      var maxTaskMs: Long = 0L,
      var shuffleReadB: Long = 0L,
      var shuffleWriteB: Long = 0L,
      var inputB: Long = 0L,
      var spillB: Long = 0L)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ProfileQuery <outDirOrNONE> <tag> <q1,q2,...>")
    val outDir = if (args(0) == "NONE") None else Some(args(0))
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    var collecting = false
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (collecting && t.taskMetrics != null) synchronized {
          val a = stages.getOrElseUpdate(t.stageId, StageAgg())
          a.tasks += 1
          val ms = t.taskMetrics.executorRunTime
          a.taskTimeMs += ms
          if (ms > a.maxTaskMs) a.maxTaskMs = ms
          a.shuffleReadB += t.taskMetrics.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteB += t.taskMetrics.shuffleWriteMetrics.bytesWritten
          a.inputB += t.taskMetrics.inputMetrics.bytesRead
          a.spillB += t.taskMetrics.diskBytesSpilled
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (collecting) synchronized {
          stages.get(s.stageInfo.stageId).foreach(_.name =
            s.stageInfo.name.takeWhile(_ != '\n').take(60))
        }
    }
    spark.sparkContext.addSparkListener(listener)

    Runner.warmUp(spark, sfDir)

    val qs = Catalog.queries
    names.foreach { name =>
      val fn = qs.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      var elapsed = 0.0
      (1 to runs).foreach { i =>
        stages.clear()
        collecting = true
        spark.sparkContext.setJobDescription(s"$name run $i")
        elapsed = Runner.timed(spark, s"$name-$i")(fn(spark, sfDir))._1
        // listener events are posted asynchronously; give the bus a
        // moment to drain before reading (listenerBus is private[spark])
        Thread.sleep(300)
        collecting = false
        if (i == runs && outDir.isDefined) {
          val plan = fn(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          val p = Paths.get(outDir.get, s"${name}_$tag.txt")
          Files.createDirectories(p.getParent)
          Files.write(p, plan.getBytes(StandardCharsets.UTF_8))
        }
      }
      println(f"\n=== $name%s  last-run wall ${elapsed}%.2fs  " +
        f"(${stages.size}%d stages) ===")
      println(f"${"stage"}%8s ${"tasks"}%6s ${"tTime(s)"}%9s " +
        f"${"maxT(s)"}%8s ${"shRd(MB)"}%9s ${"shWr(MB)"}%9s " +
        f"${"in(MB)"}%8s ${"spill"}%6s  name")
      stages.toSeq.sortBy(-_._2.taskTimeMs).take(14).foreach {
        case (id, a) =>
          println(f"$id%8d ${a.tasks}%6d ${a.taskTimeMs / 1e3}%9.2f " +
            f"${a.maxTaskMs / 1e3}%8.2f ${a.shuffleReadB / 1e6}%9.1f " +
            f"${a.shuffleWriteB / 1e6}%9.1f ${a.inputB / 1e6}%8.1f " +
            f"${a.spillB / 1e6}%6.1f  ${a.name}%s")
      }
    }
    spark.stop()
  }
}
