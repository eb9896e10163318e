package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level sweep of `src/main` for these invariants:
  *
  *  - every session comes from [[GraftSession]], so no entry main can
  *    drift from the library's conf contract (ANSI off, UTC, parquet NTZ
  *    inference off, the extensions) — `SparkSession.builder` appears
  *    only in GraftSession.scala;
  *  - no `case …: Throwable`: fatal JVM errors (OOM, interrupts) must
  *    abort a run instead of being recorded as a failed query or a
  *    degraded stage — catch with `scala.util.control.NonFatal`;
  *  - no `.treeReduce` / `.treeAggregate` call: their last merge folds the task
  *    results on the driver in completion order (and their shuffle
  *    levels in fetch order), so a floating-point sum moves between
  *    reruns — merge in partition order instead (see
  *    `Centrality.sumInPartitionOrder`);
  *  - no `CodegenFallback`: an expression mixing it in drops its whole
  *    projection out of whole-stage codegen. A stateless function is a
  *    `KernelCall` (expressions.scala), whose `StaticInvoke` has both
  *    paths.
  *
  * Patterns match across line breaks, so a call split over lines
  * (`SparkSession\n  .builder`) is caught too.
  */
class SessionHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString ->
        Files.readString(p))
      .toSeq.sortBy(_._1)
    finally walk.close()
  }

  private val builderCall = """SparkSession\s*\.\s*builder\b""".r
  private val throwableCase =
    """case\s+[\w$]+\s*:\s*(java\.lang\.)?Throwable\b""".r
  private val completionOrderMerge = """\.\s*tree(Reduce|Aggregate)\b""".r
  private val codegenFallback = """\bCodegenFallback\b""".r

  /** `file:line: text` for every match of `re` in `src`, at the line
    * where the match starts. */
  private def sites(src: Seq[(String, String)],
                    re: scala.util.matching.Regex): Seq[String] =
    for {
      (file, text) <- src
      m <- re.findAllMatchIn(text).toSeq
    } yield {
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      s"$file:$line: ${text.linesIterator.drop(line - 1).next().trim}"
    }

  test("SparkSession.builder is called only from GraftSession") {
    val src = sources
    assert(src.nonEmpty, s"no sources under $root")
    val outside = sites(src.filterNot(_._1 == "graft/GraftSession.scala"),
      builderCall)
    assert(outside.isEmpty,
      "build the session with GraftSession.local/builder:\n" +
        outside.mkString("\n"))
  }

  test("no catch case binds Throwable (use NonFatal)") {
    val found = sites(sources, throwableCase)
    assert(found.isEmpty,
      "catch with scala.util.control.NonFatal:\n" + found.mkString("\n"))
  }

  test("no treeReduce or treeAggregate (completion-order merges)") {
    val found = sites(sources, completionOrderMerge)
    assert(found.isEmpty,
      "merge partial results in partition order:\n" + found.mkString("\n"))
  }

  test("no CodegenFallback (every expression keeps whole-stage codegen)") {
    val found = sites(sources, codegenFallback)
    assert(found.isEmpty,
      "call a kernel method through KernelCall instead:\n" +
        found.mkString("\n"))
  }

  test("the scanners fire on planted violations") {
    val planted = Seq("graft/tools/Planted.scala" -> Seq(
      "    val spark = SparkSession.builder().master(\"local[4]\")",
      "    val s2 = SparkSession.builder.master(\"local[2]\")",
      "    val s3 = SparkSession",
      "      .builder.getOrCreate()",
      "    val ok = GraftSession.builder(Some(4))",
      "    catch { case e: Throwable => Left(e) }",
      "      case _: Throwable => ()",
      "      case e: Throwable if retry => ()",
      "      case e: java.lang.Throwable => ()",
      "      case NonFatal(e) => ()",
      "    val s = rdd.treeReduce(_ + _)",
      "    val t = rdd.treeAggregate(0.0)(_ + _, _ + _, depth = 3)",
      "      .treeReduce { (x, y) => x }",
      "    val ok2 = rdd.reduce(_ + _) // not treeReduce: completion order",
      "    val ok3 = rdd.subtreeReduce(x)",
      "import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback",
      "    extends UnaryExpression with CodegenFallback {",
      "  // NoCodegenFallbackHere, codegenFallback: other identifiers",
      "    with ImplicitCastInputTypes with CodegenFallback").mkString("\n"))
    assert(sites(planted, builderCall).map(_.takeWhile(_ != ' ')) ===
      Seq("graft/tools/Planted.scala:1:", "graft/tools/Planted.scala:2:",
        "graft/tools/Planted.scala:3:"))
    assert(sites(planted, throwableCase).size === 4)
    assert(sites(planted, completionOrderMerge).map(_.takeWhile(_ != ' ')) ===
      Seq("graft/tools/Planted.scala:11:", "graft/tools/Planted.scala:12:",
        "graft/tools/Planted.scala:13:"))
    assert(sites(planted, codegenFallback).map(_.takeWhile(_ != ' ')) ===
      Seq("graft/tools/Planted.scala:16:", "graft/tools/Planted.scala:17:",
        "graft/tools/Planted.scala:19:"))
  }
}
