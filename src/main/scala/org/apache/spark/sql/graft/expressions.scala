package org.apache.spark.sql.graft

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Two-sided Student-t p-value: P(|T_df| >= |t|).
  *
  * The one scalar function the reference surface needs that Spark SQL lacks
  * (Welch t-test p-values, `drug_target_gse46602/pipeline2.py:598-603` uses
  * `scipy.stats.ttest_ind(equal_var=False)`). Uses the standard identity
  * p = I_{df/(df+t^2)}(df/2, 1/2) with the regularized incomplete beta from
  * commons-math3 (on the Spark classpath). Returns null for non-positive or
  * NaN df (scipy returns NaN there; graft normalizes NaN to null, SURVEY
  * §1.2).
  */
case class TTestPValue(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "t_test_pvalue"
  override def nullable: Boolean = true

  override def nullSafeEval(tVal: Any, dfVal: Any): Any = {
    val t = tVal.asInstanceOf[Double]
    val df = dfVal.asInstanceOf[Double]
    if (df.isNaN || t.isNaN || df <= 0.0) null
    else Beta.regularizedBeta(df / (df + t * t), df / 2.0, 0.5)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hypergeometric upper-tail p-value P(X >= k) for overlap k between a
  * size-`n` draw and a size-`bigK` success set in a size-`bigN`
  * population — the over-representation (ORA / one-sided Fisher exact)
  * test of enrichment analysis, the significance layer the reference's
  * target-validation stage reports qualitatively
  * (`drug_target_gse46602/pipeline2.py:700-760` scores target overlap
  * without a p-value; every published ORA tool computes exactly this
  * tail). Evaluated per GROUP row (pathways × conditions), never per
  * fact row, so CodegenFallback + commons-math3 (same precedent as
  * [[TTestPValue]]) costs nothing measurable. Null for inconsistent
  * margins; exact 1.0 / 0.0 at the support edges.
  */
case class HypergeomPValue(first: Expression, second: Expression,
                           third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, LongType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hypergeom_pvalue"
  override def nullable: Boolean = true

  override def nullSafeEval(kV: Any, bigKV: Any, nV: Any, bigNV: Any): Any = {
    val k = kV.asInstanceOf[Long]
    val bigK = bigKV.asInstanceOf[Long]
    val n = nV.asInstanceOf[Long]
    val bigN = bigNV.asInstanceOf[Long]
    if (bigN <= 0 || bigK < 0 || n < 0 || bigK > bigN || n > bigN ||
        bigN > Int.MaxValue) null
    else if (k <= math.max(0L, n + bigK - bigN)) 1.0
    else if (k > math.min(bigK, n)) 0.0
    else new org.apache.commons.math3.distribution.HypergeometricDistribution(
      bigN.toInt, bigK.toInt, n.toInt)
      .upperCumulativeProbability(k.toInt)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** Cosine similarity between two double arrays, with whole-stage codegen.
  *
  * Backbone of the similarity-search / embedding-dedup operators. Nulls and
  * length mismatches follow "truncate to shorter" semantics; a zero-norm
  * input yields null. Arrays must not contain null elements (embedding
  * vectors never do).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  override def nullable: Boolean = true

  override def nullSafeEval(aVal: Any, bVal: Any): Any = {
    val a = aVal.asInstanceOf[ArrayData]
    val b = bVal.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = $a.getDouble($i); double y = $b.getDouble($i);
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($den == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $den; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash over an array of token strings (near-dup fingerprint).
  *
  * Token hash = low 8 bytes of MD5, little-endian — bit-identical to
  * DuckDB's `md5_number_lower`, so the whole fingerprint is reproducible by
  * the DuckDB oracle (bit-vote SQL over unnested tokens). Bit b of the
  * result is 1 iff the sum of (+1/-1) votes from token-hash bit b is
  * positive. Hamming distance between simhashes approximates token-multiset
  * similarity. Kernel in [[HashUtil.simhash64]]; codegen calls it directly,
  * keeping the expression inside whole-stage codegen.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    HashUtil.simhash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.HashUtil.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit string hash: low 8 bytes of MD5, little-endian — the bit pattern
  * of DuckDB's `md5_number_lower` as a signed long. Used as the
  * engine-independent hash for minhash signatures, LSH band keys, and exact
  * dedup, so every derived result stays oracle-checkable.
  */
case class Md5Long(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_long"

  override def nullSafeEval(v: Any): Any =
    HashUtil.md5Lower8LE(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.HashUtil.md5Lower8LE($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaro-Winkler string similarity in [0,1], codegen'd, with semantics
  * pinned to DuckDB's native `jaro_winkler_similarity` (the oracle side of
  * q159 — an INDEPENDENT implementation of the same published definition,
  * so the cross-engine compare checks the algorithm, not a replay).
  * Kernel and exact conventions in [[StringSim.jaroWinkler]]. Spark has
  * `levenshtein` but no Jaro-Winkler; fuzzy-matching pipelines (ER
  * blocking verifies, typo-tolerant joins) want the prefix-weighted form
  * because it ranks short-name typos far better than raw edit distance.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    StringSim.jaroWinkler(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graft.StringSim.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** TRUE Damerau-Levenshtein distance (unrestricted transpositions —
  * Lowrance-Wagner), codegen'd; semantics pinned to DuckDB's built-in
  * `damerau_levenshtein`, an INDEPENDENT implementation of the same
  * published definition, so the q-catalog compare certifies the
  * algorithm (the q159 technique). Spark ships only `levenshtein`;
  * typo-tolerant ER wants the transposition-aware distance because
  * swapped adjacent letters are the dominant human typo class and plain
  * edit distance double-charges them. Kernel in
  * [[StringSim.damerauLevenshtein]].
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    StringSim.damerauLevenshtein(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graft.StringSim.damerauLevenshtein($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Unicode NFC normalization of a string (UAX #15 canonical composition),
  * matching DuckDB `nfc_normalize`. Spark has no built-in normalizer; a
  * native expression keeps the cleaning stage inside whole-stage codegen
  * (kernel has an isNormalized fast path, so ASCII corpora pay one scan
  * and zero allocation per row).
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(v: Any): Any =
    TextKernels.nfcNormalize(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextKernels.nfcNormalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Diacritic stripping (NFD → drop \p{Mn} → NFC), pinned to DuckDB's
  * INDEPENDENT utf8proc-based `strip_accents` (the q159/q176
  * certify-the-algorithm discipline) — the accent-folding step of
  * search normalization and ER blocking ("Müller" must block with
  * "Muller"). Codegen'd; ASCII fast path. Kernel in
  * [[TextKernels.stripAccents]].
  */
case class StripAccents(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"

  override def nullSafeEval(v: Any): Any =
    TextKernels.stripAccents(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextKernels.stripAccents($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shannon entropy (bits) of a string's code-point distribution —
  * codegen'd quality screen (base64/hex blobs score high and flat,
  * padding scores near zero, natural language ~4 bits). Kernel in
  * [[TextKernels.charEntropy]]; deterministic sorted-codepoint
  * accumulation.
  */
case class CharEntropy(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(v: Any): Any =
    TextKernels.charEntropy(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextKernels.charEntropy($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BLEU sufficient statistics of a (candidate, reference) string pair
  * in one native pass: [num1, den1, …, num4, den4, cand_len, ref_len]
  * (clipped order-n matches and totals). Per-pair by definition —
  * no shuffle, whole-stage codegen. Kernel in
  * [[TextKernels.bleuCounts]].
  */
case class BleuCounts(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType)
  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "bleu_counts"

  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.bleuCounts(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"org.apache.spark.sql.graft.TextKernels.bleuCounts($l, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ROUGE-L sufficient statistics of a (candidate, reference) string
  * pair: [lcs_len, cand_len, ref_len] over whitespace tokens —
  * two-row-DP token LCS, per-pair local, whole-stage codegen. Kernel
  * in [[TextKernels.rougeLCounts]].
  */
case class RougeLCounts(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType)
  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "rouge_l_counts"

  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.rougeLCounts(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"org.apache.spark.sql.graft.TextKernels.rougeLCounts($l, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Word n-gram shingles of a string in a single native pass (tokenize on
  * \s+, join n consecutive tokens with one space). Replaces the
  * interpreted transform/slice/concat_ws chain in the dedup hot path —
  * higher-order functions are not codegen'd in Spark, and projection
  * collapsing multiplies their cost; this expression stays inside
  * whole-stage codegen. Token boundaries match the declarative path and
  * the DuckDB oracle exactly.
  */
case class WordShingles(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  require(n >= 1, "shingle size must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(v: Any): Any =
    TextKernels.wordShingles(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-table LSH bucket ids of an embedding column, one kernel call per
  * row (array<long>, element t = table t's sign-bit-packed bucket).
  * Replaces a per-plane column expression fan-out whose generated code
  * (tables x planes x dim literal arrays) dominated runtime via janino
  * compilation; this stays a single small codegen call.
  */
case class LshTableBuckets(child: Expression, tables: Int,
                           planesPerTable: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  require(tables >= 1 && planesPerTable >= 1 && planesPerTable <= 64)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_table_buckets"

  override def nullSafeEval(v: Any): Any =
    LshKernel.tableBuckets(v.asInstanceOf[ArrayData], tables, planesPerTable, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.LshKernel.tableBuckets($c, $tables, $planesPerTable, $dim)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The k MinHash hash-family values of a shingle string in one codegen
  * call (values identical to md5_long("i:" + shingle) for i in 0..k-1,
  * hence to the DuckDB oracle). Replaces an interpreted transform()
  * lambda doing k concat+md5 rounds per posting.
  */
case class MinhashHashes(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  require(k >= 1, "hash count must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_hashes"

  override def nullSafeEval(v: Any): Any =
    MinhashKernel.hashes(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.MinhashKernel.hashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
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

/** Repetition counts in one native pass:
  * [total n-grams, distinct n-grams, n_tokens, max single-token count].
  * See [[TextKernels.repetitionCounts]] — replaces an interpreted
  * O(distinct×total) per-row fold.
  */
case class RepetitionCounts(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  require(n >= 1, "n-gram size must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "repetition_counts"

  override def nullSafeEval(v: Any): Any =
    TextKernels.repetitionCounts(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextKernels.repetitionCounts($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Order-sensitive 64-bit document fingerprint: polynomial rolling hash
  * (base 31 in Z/2^64) over the md5-derived hashes of a token array.
  * Engine-specific (modular multiplication is not expressible in DuckDB
  * without overflow), so it is pinned by unit tests rather than the SQL
  * oracle; the catalog's oracle-checked fingerprint uses plain md5 hex.
  */
case class RollingHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash64"

  override def nullSafeEval(v: Any): Any =
    HashUtil.rollingHash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.HashUtil.rollingHash64($c)")

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

/** Regularized incomplete beta I_x(a, b) — the shared kernel behind the
  * F-distribution tail (one-way ANOVA, Brown–Forsythe), the binomial
  * tail, and the t tail ([[TTestPValue]] is the b = 1/2 special case).
  * P(F_{d1,d2} > f) = I_x(d2/2, d1/2) with x = d2 / (d2 + d1·f).
  * Evaluated per GROUP row (one per ANOVA scope), never per fact row, so
  * CodegenFallback + commons-math3's continued fraction costs nothing
  * measurable (same precedent as [[TTestPValue]]). Null outside the
  * support (x ∉ [0,1], a/b ≤ 0), matching scipy.special.betainc's NaN.
  */
case class RegularizedIncBeta(first: Expression, second: Expression,
                              third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "reg_inc_beta"
  override def nullable: Boolean = true

  override def nullSafeEval(xV: Any, aV: Any, bV: Any): Any = {
    val x = xV.asInstanceOf[Double]
    val a = aV.asInstanceOf[Double]
    val b = bV.asInstanceOf[Double]
    if (x.isNaN || a.isNaN || b.isNaN || x < 0.0 || x > 1.0 ||
        a <= 0.0 || b <= 0.0) null
    else Beta.regularizedBeta(x, a, b)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Standard-normal survival function P(Z > z) = erfc(z/√2)/2 — the tail
  * behind rank-test normal approximations (Mann–Whitney U, Wilcoxon) and
  * two-proportion z-tests. commons-math3 Erf.erfc is accurate to machine
  * precision over the full double range (scipy.stats.norm.sf parity).
  * Group-row cardinality only; CodegenFallback per [[TTestPValue]].
  */
case class NormalSF(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "normal_sf"
  override def nullable: Boolean = true

  override def nullSafeEval(zV: Any): Any = {
    val z = zV.asInstanceOf[Double]
    if (z.isNaN) null
    else org.apache.commons.math3.special.Erf.erfc(z / math.sqrt(2.0)) / 2.0
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
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

/** One-pass URL decomposition into struct<scheme, auth, path, query>
  * — the per-row kernel of UrlOps.canonicalizeUrl / urlHost, which
  * previously ran the SAME anchored URL regex through 4+ separate
  * `regexp_extract` calls per row (one per group plus the malformed
  * guard; CSE merges exact duplicates but not distinct group
  * numbers). One compiled-pattern match populates all four groups.
  *
  * EXACT `regexp_extract` replication, field by field (the DuckDB
  * oracle replays the same regex decomposition, so outputs must be
  * bit-identical): a non-matching non-null input yields "" in every
  * field (regexp_extract's no-match value — the scheme field doubles
  * as the malformed guard exactly as `regexp_extract(url, re, 1) =
  * ''` did); a group that did not participate in the match (absent
  * `?query`) yields "" (RegExpExtract's null-group convention); a
  * null input nulls the struct (null-intolerant unary expression,
  * same propagation as regexp_extract's). The pattern is anchored, so
  * `find(0)` ≡ `matches` — the same entry point RegExpExtract uses.
  */
case class UrlParts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = UrlParts.schema
  override def prettyName: String = "url_parts"
  override def nullSafeEval(v: Any): Any =
    UrlKernel.parts(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.UrlKernel.parts($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UrlParts {
  val schema: DataType = StructType(Seq(
    StructField("scheme", StringType, nullable = false),
    StructField("auth", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("query", StringType, nullable = false)))
}

object UrlKernel {
  private val pattern = java.util.regex.Pattern.compile(
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$")
  private val Empty = org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8

  def parts(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val m = pattern.matcher(u.toString)
    if (!m.find(0))
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](Empty, Empty, Empty, Empty))
    else {
      def g(i: Int): org.apache.spark.unsafe.types.UTF8String = {
        val s = m.group(i)
        if (s == null) Empty
        else org.apache.spark.unsafe.types.UTF8String.fromString(s)
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](g(1), g(2), g(3), g(4)))
    }
  }
}
