package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** A call of one stateless graft function: SQL `name(children…)`
  * evaluates `kernel.method(children…, params…)`, a static method of a
  * kernel object (HashUtil.scala). The replacement is Spark's own
  * [[StaticInvoke]], so the generated-code path and the interpreted path
  * both come from this one declaration: generated code calls the method
  * directly, interpreted evaluation calls it by reflection, and both
  * pass the same arguments in the same order.
  *
  *  - `params` are the function's integer settings (shingle size, hash
  *    count, LSH shape). They are appended as literals inside the
  *    `StaticInvoke` only, so they stay off `children`: the generated
  *    column name and SQL text read `word_shingles(t)`, while the plan
  *    string keeps them (`word_shingles(t#1, 2)`).
  *  - A null input gives null. Otherwise the result is null only when
  *    `nullOutsideDomain` is set and the kernel returns null (a
  *    `java.lang.Double` kernel outside its domain), so a function is
  *    nullable iff an input is nullable or it can leave its domain.
  *  - The call is deterministic, so common-subexpression elimination
  *    merges repeated calls with equal arguments (in positions every row
  *    evaluates) into one per row.
  *
  * Built by [[graft.functions.gfunctions]]; [[graft.GraftExtensions]]
  * registers the SQL names.
  */
case class KernelCall(
    name: String,
    kernel: Class[_],
    method: String,
    resultType: DataType,
    inputTypes: Seq[AbstractDataType],
    children: Seq[Expression],
    params: Seq[Int] = Nil,
    nullOutsideDomain: Boolean = false)
    extends RuntimeReplaceable with ImplicitCastInputTypes {

  override lazy val replacement: Expression = StaticInvoke(
    kernel, resultType, method, children ++ params.map(Literal(_)),
    inputTypes ++ params.map(_ => IntegerType),
    returnNullable = nullOutsideDomain)

  override def prettyName: String = name

  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ params.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** All text-quality counts in one native character pass:
  * [n_tokens, n_non_ws, n_alpha, n_digit, n_marker_tokens]. The
  * regexp_count route evaluates one regexp_extract_all (full match-array
  * materialization) per metric per reference — and CASE-branch duplicates
  * escape subexpression elimination — so a 6-metric quality projection
  * pays ~10 regex scans per row; this is one scan, no allocation, inside
  * whole-stage codegen. Count semantics match the DuckDB oracle's regex
  * definitions (see [[TextKernels.qualityCounts]]).
  */
case class TextQualityCounts(child: Expression, markers: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "text_quality_counts"

  @transient private lazy val markerArr: Array[String] = markers.toArray

  override def nullSafeEval(v: Any): Any =
    TextKernels.qualityCounts(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], markerArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("markers", markerArr, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextKernels.qualityCounts($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom-filter membership probe of a STRING column against a serialized
  * `org.apache.spark.util.sketch.BloomFilter` (as built by the public
  * `DataFrameStatFunctions.bloomFilter`, which puts the string's UTF-8
  * bytes). The filter binary must be foldable; it is deserialized once
  * (lazily, per JVM) and shipped to generated code as a reference object,
  * so the probe stays inside whole-stage codegen. No false negatives —
  * a `false` is definitive; `true` carries the build-time fpp.
  *
  * Scale role: guards the incremental-dedup history anti-join — the
  * overwhelmingly-new portion of an ingest batch short-circuits on
  * `false` and never reaches the join (Dedup.bloomGuardedIncrementalDedup).
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter = {
    require(left.foldable, "bloom filter binary must be a constant")
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(b: Any, v: Any): Any =
    filter.mightContainBinary(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloom", filter,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, (_, v) => s"$bf.mightContainBinary($v.getBytes())")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Aho–Corasick dictionary scrub: every non-overlapping
  * leftmost-longest occurrence of a dictionary term is replaced by
  * `mask` in ONE automaton pass — O(bytes + matches) regardless of
  * dictionary size, where the regex-alternation route (q48's scrub) is
  * per-position-per-pattern and stops scaling around a few hundred
  * terms. The automaton is built once on the driver and shipped to
  * codegen via a reference object, so 10k-term gazetteer scrubs stay
  * inside whole-stage codegen with zero per-row setup.
  *
  * Oracle form (match semantics pinned in [[AhoCorasick]]): a DuckDB
  * `regexp_replace(text, '(t1|…|tn)', mask, 'g')` with branches ordered
  * LONGEST-FIRST produces the identical string for metacharacter-free
  * dictionaries.
  */
case class DictScrub(child: Expression, dict: Seq[String], mask: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "dict_scrub"

  @transient private lazy val ac = new AhoCorasick(dict)
  @transient private lazy val maskU8 =
    org.apache.spark.unsafe.types.UTF8String.fromString(mask)

  override def nullSafeEval(v: Any): Any =
    ac.scrub(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], maskU8)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("ac", ac,
      "org.apache.spark.sql.graft.AhoCorasick")
    val maskRef = ctx.addReferenceObj("mask", maskU8,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c => s"$acRef.scrub($c, $maskRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A driver-supplied double "parameter" constant that is deliberately
  * NOT a literal: `foldable = false` keeps the optimizer from inlining
  * the value into the generated Java source — it rides the codegen
  * `references` array instead (`ctx.addReferenceObj`), so a
  * fixed-iteration driver (Newton / IRLS / EM / Lloyd) that re-plans
  * the same step shape with new coefficients produces byte-identical
  * generated code every step and the Janino class cache hits after
  * step 1. A plain `lit(beta)` changes the source text each step and
  * forces a full recompile of every step stage (measured in
  * `artifacts/r15opt/codegen_probe.log`: 2 compiles/step -> 0 after
  * step 1; pinned by `graft.util.ParamSpec`).
  *
  * Runtime cost: one boxed-Double read per codegen'd evaluation —
  * hoisted like any other expression; plan shape, partitioning and
  * arithmetic are IDENTICAL to the literal version (same IEEE double,
  * same expression tree). Constant folding over pure-literal subtrees
  * that include the parameter is intentionally prevented; callers
  * pass pre-computed products (e.g. K*scale) when they want
  * driver-side folding.
  */
case class ScalarParam(value: Double)
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "scalar_param"
  // VALUE-INDEPENDENT hash (equality stays value-sensitive, which is
  // all the contract requires): subexpression-elimination buckets
  // subtrees by semanticHash, and a value-dependent hash made the
  // common-subexpression NUMBERING (subExprValue_3 vs _4) flip
  // between steps with different coefficients — the only remaining
  // source-text difference between two steps of a fixed-iteration
  // driver, i.e. the last thing busting the Janino cache. A constant
  // per-class hash keeps bucket order insertion-deterministic; the
  // handful of params per plan makes collisions irrelevant.
  override def hashCode: Int = "scalar_param".hashCode
  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("scalarParam", value, "java.lang.Double")
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block
        .BlockHelper(
          new StringContext(s"double ${ev.value} = ", ".doubleValue();"))
        .code(ref),
      isNull =
        org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}
