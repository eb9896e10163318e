package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.functions.gfunctions._
import graft.text.UrlOps

/** Every stateless graft function is a [[org.apache.spark.sql.graft.KernelCall]]
  * whose generated-code and interpreted paths both come from one
  * `StaticInvoke`. These tests run each function on fixture rows that
  * cover null inputs and domain edges, once inside whole-stage codegen
  * and once fully interpreted, and require the same bits.
  */
class KernelCallSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("s2", StringType),
    StructField("toks", ArrayType(StringType)),
    StructField("v1", ArrayType(DoubleType, containsNull = false)),
    StructField("v2", ArrayType(DoubleType, containsNull = false)),
    StructField("t", DoubleType), StructField("df", DoubleType),
    StructField("x", DoubleType), StructField("a", DoubleType),
    StructField("b", DoubleType),
    StructField("k", LongType), StructField("bigK", LongType),
    StructField("n", LongType), StructField("bigN", LongType),
    StructField("z", DoubleType)))

  private val rows = Seq(
    Row("a b c d a b", "a b d", Seq("x", "y", "x"), Seq(1.0, 2.0, 3.0),
      Seq(0.5, -1.0, 4.0), 2.0, 10.0, 0.5, 2.0, 3.0, 3L, 10L, 20L, 100L,
      1.96),
    // df <= 0, x > 1, k past min(K, n), zero-norm cosine
    Row("", "", Seq.empty[String], Seq(0.0, 0.0), Seq(1.0, 1.0), 1.0, 0.0,
      1.5, 1.0, 1.0, 6L, 5L, 5L, 10L, -40.0),
    // negative df, x < 0, inconsistent margins (K > N), NaN z
    Row("Müller café é", "Muller cafe", Seq("é", null), Seq(3.0),
      Seq(1.0, 2.0), -1.0, -3.0, -0.1, 2.0, 2.0, 1L, 20L, 5L, 10L,
      Double.NaN),
    // nulls everywhere
    Row(null, null, null, null, null, null, null, null, null, null, null,
      null, null, null, null),
    // NaN t, a <= 0, k at the lower support edge, z = -0.0
    Row("http://u:p@Host.COM:80/a/?utm_x=1&b=2#f", "http://host.com/a",
      Seq("a", "b"), Seq(1e-300, 1e300), Seq(1e-300, 1e300), Double.NaN,
      5.0, 0.3, 0.0, 1.0, 0L, 5L, 5L, 10L, -0.0),
    // infinite t, NaN b, bigN past Int.MaxValue, empty vectors
    Row("  x  y  ", "x y", Seq(null, null), Seq.empty[Double],
      Seq.empty[Double], Double.PositiveInfinity, 3.0, 1.0, 1.0,
      Double.NaN, 1L, 2L, 3L, 3000000000L, 0.0),
    // negative margins, a mismatch-length cosine
    Row("not a url", "not an url", Seq("q"), Seq(1.0, 1.0, 1.0),
      Seq(2.0), 0.0, 1.0, 0.0, 0.5, 0.5, 1L, -1L, 2L, 10L, 8.5),
    // infinite shapes: +inf a, +inf b, -inf a with +inf b
    Row("aab", "ab", Seq("a"), Seq(1.0), Seq(1.0), 1.0, 2.0, 0.5,
      Double.PositiveInfinity, 2.0, 1L, 2L, 2L, 4L, 1.0),
    Row("ab", "aab", Seq("b"), Seq(2.0), Seq(3.0), -1.0, 2.0, 0.5, 2.0,
      Double.PositiveInfinity, 1L, 2L, 2L, 4L, -1.0),
    Row("ba", "ba", Seq("c"), Seq(4.0), Seq(5.0), 3.0, 4.0, 0.25,
      Double.NegativeInfinity, Double.PositiveInfinity, 0L, 1L, 1L, 2L,
      2.0))

  /** Each stateless function once, with the kernel method its generated
    * code must call. */
  private val calls: Seq[(String, Column)] = Seq(
    "StatKernels.tTestPValue(" -> t_test_pvalue(col("t"), col("df")),
    "StatKernels.hypergeomPValue(" ->
      hypergeom_pvalue(col("k"), col("bigK"), col("n"), col("bigN")),
    "StatKernels.regIncBeta(" -> reg_inc_beta(col("x"), col("a"), col("b")),
    "StatKernels.normalSF(" -> normal_sf(col("z")),
    "StatKernels.cosineSimilarity(" -> cosine_similarity(col("v1"), col("v2")),
    "HashUtil.simhash64(" -> simhash64(col("toks")),
    "HashUtil.md5Lower8LE(" -> md5_long(col("s")),
    "HashUtil.rollingHash64(" -> rolling_hash64(col("toks")),
    "StringSim.damerauLevenshtein(" ->
      damerau_levenshtein(col("s"), col("s2")),
    "StringSim.jaroWinkler(" -> jaro_winkler(col("s"), col("s2")),
    "TextKernels.wordShingles(" -> word_shingles(col("s"), 2),
    "TextKernels.nfcNormalize(" -> nfc_normalize(col("s")),
    "TextKernels.stripAccents(" -> strip_accents(col("s")),
    "TextKernels.charEntropy(" -> char_entropy(col("s")),
    "TextKernels.bleuCounts(" -> bleu_counts(col("s"), col("s2")),
    "TextKernels.rougeLCounts(" -> rouge_l_counts(col("s"), col("s2")),
    "TextKernels.repetitionCounts(" -> repetition_counts(col("s"), 2),
    "MinhashKernel.hashes(" -> minhash_hashes(col("s"), 3),
    "LshKernel.tableBuckets(" -> lsh_table_buckets(col("v1"), 3, 4, 2),
    "UrlKernel.parts(" -> UrlOps.urlHost(col("s")))

  /** A relation the optimizer cannot fold into a local one, so the
    * projection really runs in the mode under test. */
  private def fixture: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Doubles by raw bits (so -0.0 and NaN payloads count), recursively. */
  private def bits(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }

  test("every kernel function: generated code and interpreted evaluation " +
    "give the same bits") {
    val (compiled, code) = {
      val df = fixture.select(calls.map(_._2): _*)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty,
        s"projection left whole-stage codegen:\n$plan")
      (df.collect().toSeq.map(bits),
        org.apache.spark.sql.execution.debug.codegenString(plan))
    }
    calls.foreach { case (call, _) =>
      assert(code.contains(call), s"generated code never calls $call")
    }
    val interpreted = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val df = fixture.select(calls.map(_._2): _*)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w }.isEmpty)
      df.collect().toSeq.map(bits)
    }
    assert(compiled.length == rows.length)
    compiled.zip(interpreted).zipWithIndex.foreach { case ((c, i), r) =>
      assert(c == i, s"row $r differs between codegen and interpreted")
    }
  }

  test("statistics give null outside their domain and on null input") {
    val r = fixture.select(calls.take(5).map(_._2): _*).collect()
    def at(row: Int, fn: Int): Any = r(row).get(fn)
    // row 0 is inside every domain
    (0 until 5).foreach(fn => assert(at(0, fn) != null, s"fn $fn row 0"))
    assert(at(1, 0) == null) // df = 0
    assert(at(2, 0) == null) // df < 0
    assert(at(4, 0) == null) // NaN t
    assert(at(5, 0) == 0.0) // infinite t: I_0 = 0, not null
    assert(at(1, 1) == 0.0) // k > min(K, n)
    assert(at(2, 1) == null) // K > N
    assert(at(4, 1) == 1.0) // k at the lower support edge
    assert(at(5, 1) == null) // N past Int.MaxValue
    assert(at(6, 1) == null) // K < 0
    assert(at(1, 2) == null) // x > 1
    assert(at(2, 2) == null) // x < 0
    assert(at(4, 2) == null) // a = 0
    assert(at(5, 2) == null) // NaN b
    assert(at(7, 2) == null) // a = +inf
    assert(at(8, 2) == null) // b = +inf
    assert(at(9, 2) == null) // a = -inf, b = +inf
    assert(at(2, 3) == null) // NaN z
    assert(at(1, 3) == 1.0) // erfc(-40/sqrt 2)/2
    assert(at(1, 4) == null) // zero-norm cosine
    assert(at(5, 4) == null) // empty vectors
    assert(at(6, 4) == 1.0) // truncated to the shorter vector
    (0 until 5).foreach(fn => assert(at(3, fn) == null, s"fn $fn null row"))
    assert(at(0, 0) ==
      org.apache.spark.sql.graft.StatKernels.tTestPValue(2.0, 10.0))
  }

  test("names, plan strings and nullability read as for one expression " +
    "per function") {
    import spark.implicits._
    val df = Seq("a b c").toDF("t")
      .select(md5_long($"t"), word_shingles($"t", 2),
        lsh_table_buckets(org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(1.0)), 2, 3, 1),
        normal_sf(org.apache.spark.sql.functions.lit(1.0)))
    assert(df.columns.toSeq == Seq("md5_long(t)", "word_shingles(t)",
      "lsh_table_buckets(array(1.0))", "normal_sf(CAST(1.0 AS DOUBLE))"))
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.matches("(?s).*md5_long\\(t#\\d+\\) AS .*"), analyzed)
    assert(analyzed.matches("(?s).*word_shingles\\(t#\\d+, 2\\) AS .*"),
      analyzed)
    assert(analyzed.contains("lsh_table_buckets(array(1.0), 2, 3, 1)"),
      analyzed)
    // a string column of a local Seq is nullable; the literal is not
    val nullable = df.schema.fields.map(_.nullable).toSeq
    assert(nullable == Seq(true, true, false, true))
    val nonNull = spark.range(1).select(md5_long(
      org.apache.spark.sql.functions.lit("x")))
    assert(!nonNull.schema.head.nullable)
  }

  test("repeated calls with equal arguments merge into one per row") {
    val parts = gfunctions.call("url_parts",
      org.apache.spark.sql.graft.UrlKernel, "parts",
      org.apache.spark.sql.graft.UrlKernel.schema, Seq(StringType),
      Seq(col("u")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row("http://a.com:80/x?b=2")), 1),
        StructType(Seq(StructField("u", StringType))))
      .select(parts.getField("scheme"), parts.getField("auth"),
        parts.getField("query"))
    val project = df.queryExecution.executedPlan
      .collectFirst { case p: ProjectExec => p }.get
    def kernelCalls(cse: Boolean): Int = {
      val bound = project.projectList.map(
        BindReferences.bindReference(_, project.child.output))
      val ctx = new CodegenContext
      val code = ctx.generateExpressions(bound, doSubexpressionElimination = cse)
      val all = code.map(_.code.toString).mkString("\n") +
        ctx.subexprFunctionsCode + ctx.declareAddedFunctions()
      "UrlKernel\\.parts\\(".r.findAllMatchIn(all).size
    }
    assert(kernelCalls(cse = false) == 3)
    assert(kernelCalls(cse = true) == 1)
    assert(df.collect().toSeq == Seq(Row("http", "a.com:80", "b=2")))
  }
}
