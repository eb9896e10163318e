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
  *    paths;
  *  - no `.persist(`, `.cache()` or `.unpersist(` outside
  *    `graft/util/Pin.scala`: an operator pins a frame it reads more
  *    than once with `Pin.scope`, which releases it when the scope
  *    returns or throws. The per-round lineage cuts of the distributed
  *    iterative loops are the named exceptions ([[perRoundCaching]]);
  *  - every file is reachable from an entry point: the mains, the
  *    catalog, the pipeline, the session and extension classes, the
  *    Catalyst package and the types the benchmark names. A file is
  *    reached when a reached file names one of its top-level types
  *    outside comments, so a cluster of files that only name each
  *    other is unreached too. Code that only a spec calls is deleted
  *    with the spec.
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
  private val cacheCall =
    """\.\s*(?:persist|unpersist)\s*\(|\.\s*cache\s*\(\s*\)""".r

  /** The caching calls allowed outside Pin.scala: (file, trimmed line)
    * -> why. */
  private val perRoundCaching: Map[(String, String), String] = Map(
    ("graft/graph/Centrality.scala",
      ".persist(StorageLevel.MEMORY_AND_DISK)") ->
      ("eigenvector's distributed loop caches each round's RDD before " +
        "its localCheckpoint (an RDD, not a DataFrame: Pin cannot own it)"),
    ("graft/graph/Centrality.scala",
      "prevRdd.foreach(_.unpersist(false))") ->
      ("and releases the previous round's RDD once the new round is " +
        "materialized (the GraphX Pregel lifecycle)"))

  /** Caching calls in `src` outside Pin.scala and the allowed sites. */
  private def unpinnedCaching(src: Seq[(String, String)]): Seq[String] =
    sites(src.filterNot(_._1 == "graft/util/Pin.scala"), cacheCall)
      .filterNot { site =>
        val Array(file, _, text) = site.split(":", 3)
        perRoundCaching.contains(file -> text.trim)
      }

  private val topLevelType = ("""(?m)^(?:(?:final|sealed|abstract|""" +
    """implicit|case|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*""" +
    """(?:object|class|trait)\s+([A-Za-z_]\w*)""").r
  private val identifier = """[A-Za-z_]\w*""".r
  private val definesMain = """\bdef\s+main\b""".r
  private val charLiteral = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'""".r

  /** `text` without its `//` and (nested) `/* */` comments. String and
    * char literals are kept whole, so a `//` inside a string starts no
    * comment. */
  private def code(text: String): String = {
    val out = new StringBuilder
    val n = text.length
    var i = 0
    def at(s: String) = text.startsWith(s, i)
    def keep(j: Int): Unit = { out ++= text.substring(i, j); i = j }
    while (i < n) {
      if (at("/*")) {
        var depth = 0
        while ({
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < n
        }) ()
        out += ' '
      } else if (at("//")) {
        while (i < n && text(i) != '\n') i += 1
      } else if (at("\"\"\"")) {
        val end = text.indexOf("\"\"\"", i + 3)
        keep(if (end < 0) n else end + 3)
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        keep(math.min(j + 1, n))
      } else charLiteral.findPrefixOf(text.substring(i, math.min(n, i + 8))) match {
        case Some(lit) => keep(i + lit.length)
        case None => out += text(i); i += 1
      }
    }
    out.toString
  }

  /** The root files of `src`: the mains, the catalog, the pipeline, the
    * session and extension classes, the Catalyst package, and every
    * file defining a type in `rootNames`. */
  private def isRoot(file: String, fileCode: String,
                     rootNames: Set[String]): Boolean =
    Set("graft/Bench.scala", "graft/Verify.scala", "graft/SparkEntry.scala",
      "graft/GraftSession.scala", "graft/GraftExtensions.scala")(file) ||
      Seq("graft/catalog/", "graft/pipeline/", "org/apache/spark/sql/graft/")
        .exists(file.startsWith) ||
      definesMain.findFirstIn(fileCode).nonEmpty ||
      topLevelType.findAllMatchIn(fileCode).exists(m => rootNames(m.group(1)))

  /** Files of `src` that no root reaches, in file order: a file is
    * reached when a reached file's code names one of its top-level
    * types. */
  private def unreached(src: Seq[(String, String)],
                        rootNames: Set[String]): Seq[String] = {
    val codes = src.map { case (f, t) => f -> code(t) }
    val types = codes.map { case (f, c) =>
      f -> topLevelType.findAllMatchIn(c).map(_.group(1)).toSet }
    val names = codes.map { case (f, c) =>
      f -> identifier.findAllIn(c).toSet }.toMap
    var reached = codes.collect {
      case (f, c) if isRoot(f, c, rootNames) => f }.toSet
    var frontier = reached
    while (frontier.nonEmpty) {
      val used = frontier.flatMap(names)
      frontier = types.collect {
        case (f, ts) if !reached(f) && ts.exists(used) => f }.toSet
      reached ++= frontier
    }
    src.map(_._1).filterNot(reached)
  }

  /** Every identifier the benchmark's Scala sources use outside
    * comments: the library types it calls are roots. */
  private def benchmarkNames: Set[String] = {
    val dir = Paths.get("perfbench/scala")
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap(p => identifier.findAllIn(code(Files.readString(p))))
      .toSet
    finally walk.close()
  }

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

  test("every persist, cache and unpersist goes through Pin") {
    val found = unpinnedCaching(sources)
    assert(found.isEmpty,
      "pin the frame inside Pin.scope { pin => ... } instead:\n" +
        found.mkString("\n"))
    // every allowed site still exists, so a stale entry cannot hide
    // a new call on the same line text
    val allowed = sites(sources, cacheCall).map { site =>
      val Array(file, _, text) = site.split(":", 3)
      file -> text.trim
    }.toSet
    assert(perRoundCaching.keySet.diff(allowed).isEmpty,
      s"stale per-round entries: ${perRoundCaching.keySet.diff(allowed)}")
  }

  test("every src/main file is reachable from an entry point") {
    val names = benchmarkNames
    assert(names.contains("DrugTargetPipeline"),
      "perfbench/scala no longer names the pipeline")
    val orphans = unreached(sources, names)
    assert(orphans.isEmpty,
      "no main, catalog query, pipeline stage or benchmark reaches " +
        "these files; delete them with their specs:\n" +
        orphans.mkString("\n"))
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
      "    with ImplicitCastInputTypes with CodegenFallback",
      "    val b = df.select(col(\"id\")).persist()",
      "      .persist(StorageLevel.MEMORY_AND_DISK)",
      "    val c = df.cache()",
      "    b.unpersist(false); c",
      "      .unpersist(blocking = true)",
      "    val ok4 = Pin.scope { pin => pin(df).count() }",
      "    val ok5 = df.localCheckpoint() // not persisted: cacheTable(x)",
      "    val ok6 = df.cached ; val ok7 = persistent(df)").mkString("\n"))
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
    assert(unpinnedCaching(planted).map(_.takeWhile(_ != ' ')) ===
      Seq("graft/tools/Planted.scala:20:", "graft/tools/Planted.scala:21:",
        "graft/tools/Planted.scala:22:", "graft/tools/Planted.scala:23:",
        "graft/tools/Planted.scala:24:"))
    // Pin.scala itself, and an allowed per-round line in its file, pass
    assert(unpinnedCaching(Seq(
      "graft/util/Pin.scala" -> "df.persist(StorageLevel.MEMORY_AND_DISK)",
      "graft/graph/Centrality.scala" ->
        "      prevRdd.foreach(_.unpersist(false))\n      x.persist()")) ===
      Seq("graft/graph/Centrality.scala:2: x.persist()"))

    // reachability: Entry is a root (a main) and Timed one by the
    // benchmark's names. Orphan is named by nothing, PingA and PingB
    // only by each other, Mentioned only in comments (line, scaladoc,
    // nested block). The `//` in a string and the '"' char literal must
    // not hide the code after them (Used, Quoted).
    val tree = Seq(
      "graft/tools/Entry.scala" -> Seq(
        "object Entry {",
        "  /** see [[Mentioned]] */",
        "  def main(args: Array[String]): Unit = {",
        "    val url = \"http://host/x\" ; Used.f() // Mentioned.g()",
        "    val q = '\"' ; /* Mentioned /* nested */ Mentioned */ Quoted.f()",
        "  }",
        "}").mkString("\n"),
      "graft/x/Used.scala" -> "final case class Used(x: Int)\nobject Used { def f() = 1 }",
      "graft/x/Quoted.scala" -> "private[graft] object Quoted { def f() = 1 }",
      "graft/x/Timed.scala" -> "class Timed { def run() = Helper.h() }",
      "graft/x/Helper.scala" -> "object Helper { def h() = 2 }",
      "graft/x/Mentioned.scala" -> "object Mentioned { def g() = 3 }",
      "graft/x/Orphan.scala" -> "object Orphan { def g() = Used.f() }",
      "graft/x/PingA.scala" -> "object PingA { def a(): Int = PingB.b() }",
      "graft/x/PingB.scala" -> "trait PingB\nobject PingB { def b(): Int = PingA.a() }")
    assert(unreached(tree, Set("Timed")) === Seq("graft/x/Mentioned.scala",
      "graft/x/Orphan.scala", "graft/x/PingA.scala", "graft/x/PingB.scala"))
    // a catalog file is a root without being named
    assert(unreached(tree.map { case (f, t) =>
      f.replace("graft/x/Orphan", "graft/catalog/Orphan") -> t },
      Set("Timed")) === Seq("graft/x/Mentioned.scala",
      "graft/x/PingA.scala", "graft/x/PingB.scala"))
  }
}
