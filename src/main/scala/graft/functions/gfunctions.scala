package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BloomMightContain, ColumnBridge, DictScrub, HashUtil, KernelCall, LshKernel, MinhashKernel, StatKernels, StringSim, TextKernels, TextQualityCounts}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** graft's function surface: custom Catalyst expressions exposed as
  * `Column`s plus pure-column helpers composed from Spark built-ins.
  * Everything here is usable inside whole-stage codegen'd plans.
  *
  * A stateless function is one [[KernelCall]] of a kernel method
  * (HashUtil.scala). To add one: write the kernel method, add a wrapper
  * here through [[call]], and, if SQL should see it, register the name in
  * [[graft.GraftExtensions]].
  */
object gfunctions {

  /** `name(args…)` as a call of `kernel.method(args…, params…)`. */
  private[graft] def call(name: String, kernel: AnyRef, method: String,
                          resultType: DataType, inputTypes: Seq[DataType],
                          args: Seq[Column], params: Seq[Int] = Nil,
                          nullOutsideDomain: Boolean = false): Column =
    ColumnBridge.column(KernelCall(name, kernel.getClass, method,
      resultType, inputTypes, args.map(ColumnBridge.expression), params,
      nullOutsideDomain))

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)

  /** Two-sided Student-t p-value P(|T_df| >= |t|) (Welch t-test, A7).
    * Null for non-positive or NaN df ([[StatKernels.tTestPValue]]). */
  def t_test_pvalue(t: Column, df: Column): Column =
    tTestPValue(t.cast(DoubleType), df.cast(DoubleType))

  /** [[t_test_pvalue]] without the explicit casts: SQL's form, where the
    * analyzer casts implicitly. */
  private[graft] def tTestPValue(t: Column, df: Column): Column =
    call("t_test_pvalue", StatKernels, "tTestPValue", DoubleType,
      Seq(DoubleType, DoubleType), Seq(t, df), nullOutsideDomain = true)

  /** Hypergeometric upper-tail p-value P(X >= k): enrichment /
    * over-representation significance of overlap k between a size-n
    * draw and a size-K success set in a size-N population. Evaluated per
    * group row (pathways × conditions), never per fact row. Null for
    * inconsistent margins ([[StatKernels.hypergeomPValue]]). */
  def hypergeom_pvalue(k: Column, bigK: Column, n: Column,
                       bigN: Column): Column =
    call("hypergeom_pvalue", StatKernels, "hypergeomPValue", DoubleType,
      Seq.fill(4)(LongType),
      Seq(k, bigK, n, bigN).map(_.cast(LongType)), nullOutsideDomain = true)

  /** Cosine similarity of two ARRAY<DOUBLE> columns: the backbone of the
    * similarity-search / embedding-dedup operators. Length mismatches
    * truncate to the shorter array; a zero-norm input yields null. */
  def cosine_similarity(a: Column, b: Column): Column =
    call("cosine_similarity", StatKernels, "cosineSimilarity", DoubleType,
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)), Seq(a, b),
      nullOutsideDomain = true)

  /** 64-bit SimHash of an ARRAY<STRING> token column (near-dup
    * fingerprint). Token hash = low 8 bytes of MD5, little-endian —
    * bit-identical to DuckDB's `md5_number_lower`, so the fingerprint is
    * reproducible by the DuckDB oracle (bit-vote SQL over unnested
    * tokens). Bit b is 1 iff the sum of (+1/-1) votes from token-hash bit
    * b is positive; Hamming distance approximates token-multiset
    * similarity. */
  def simhash64(tokens: Column): Column =
    call("simhash64", HashUtil, "simhash64", LongType,
      Seq(ArrayType(StringType)), Seq(tokens))

  /** 64-bit string hash: low 8 bytes of MD5, little-endian — the bit
    * pattern of DuckDB's `md5_number_lower` as a signed long. The
    * engine-independent hash for minhash signatures, LSH band keys and
    * exact dedup, so every derived result stays oracle-checkable. */
  def md5_long(c: Column): Column =
    call("md5_long", HashUtil, "md5Lower8LE", LongType, Seq(StringType),
      Seq(c))

  /** Order-sensitive 64-bit fingerprint of a token array: polynomial
    * rolling hash (base 31 in Z/2^64) over the md5-derived token hashes.
    * Engine-specific (modular multiplication is not expressible in DuckDB
    * without overflow), so unit tests pin it rather than the SQL oracle;
    * the catalog's oracle-checked fingerprint uses plain md5 hex. */
  def rolling_hash64(tokens: Column): Column =
    call("rolling_hash64", HashUtil, "rollingHash64", LongType,
      Seq(ArrayType(StringType)), Seq(tokens))

  /** TRUE Damerau-Levenshtein distance (unrestricted transpositions —
    * Lowrance-Wagner), pinned to DuckDB's built-in `damerau_levenshtein`,
    * an independent implementation of the same published definition, so
    * the catalog compare certifies the algorithm. Typo-tolerant ER wants
    * the transposition-aware distance: swapped adjacent letters are the
    * dominant human typo, and plain edit distance charges them twice. */
  def damerau_levenshtein(a: Column, b: Column): Column =
    call("damerau_levenshtein", StringSim, "damerauLevenshtein", LongType,
      Seq(StringType, StringType), Seq(a, b))

  /** Jaro-Winkler similarity in [0,1], pinned to DuckDB's native
    * `jaro_winkler_similarity` (the oracle side of q159 — an independent
    * implementation of the same definition, so the cross-engine compare
    * checks the algorithm, not a replay). Spark has `levenshtein` but no
    * Jaro-Winkler, whose prefix weighting ranks short-name typos far
    * better for ER verification. Conventions in
    * [[StringSim.jaroWinkler]]. */
  def jaro_winkler(a: Column, b: Column): Column =
    call("jaro_winkler", StringSim, "jaroWinkler", DoubleType,
      Seq(StringType, StringType), Seq(a, b))

  /** Word n-gram shingles of a STRING column in one native pass (tokenize
    * on \s+, join n consecutive tokens with one space) — the dedup hot
    * path. Token boundaries match TextAnalysis.shingles and the DuckDB
    * oracle exactly. */
  def word_shingles(text: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    call("word_shingles", TextKernels, "wordShingles",
      ArrayType(StringType, containsNull = false), Seq(StringType),
      Seq(text), params = Seq(n))
  }

  /** Unicode NFC normalization (UAX #15) of a STRING column — canonical
    * forms match DuckDB `nfc_normalize`; ASCII rows pay one scan and no
    * allocation. */
  def nfc_normalize(text: Column): Column =
    call("nfc_normalize", TextKernels, "nfcNormalize", StringType,
      Seq(StringType), Seq(text))

  /** Diacritic stripping (NFD → drop \p{Mn} → NFC), pinned to DuckDB's
    * independent utf8proc-based `strip_accents` — the accent-folding
    * step of search normalization and ER blocking ("Müller" must block
    * with "Muller"). ASCII fast path. */
  def strip_accents(text: Column): Column =
    call("strip_accents", TextKernels, "stripAccents", StringType,
      Seq(StringType), Seq(text))

  /** Aho–Corasick dictionary scrub of a STRING column: every
    * non-overlapping leftmost-longest dictionary-term occurrence →
    * `mask`, one codegen'd automaton pass — O(bytes + matches)
    * regardless of dictionary size (the 10k-term gazetteer scrub the
    * regex-alternation route can't reach). */
  def dict_scrub(text: Column, dict: Seq[String],
                 mask: String = "[MASK]"): Column =
    ColumnBridge.column(DictScrub(ColumnBridge.expression(text), dict, mask))

  /** Shannon entropy (bits) of a STRING column's code-point
    * distribution — the quality screen: base64/hex blobs score high and
    * flat, padding near zero, natural language ~4 bits. Accumulates in
    * sorted code-point order ([[TextKernels.charEntropy]]). */
  def char_entropy(text: Column): Column =
    call("char_entropy", TextKernels, "charEntropy", DoubleType,
      Seq(StringType), Seq(text))

  /** BLEU clipped-match sufficient statistics of a (candidate,
    * reference) pair in one native pass, per pair with no shuffle:
    * [num1, den1, ..., num4, den4, cand_len, ref_len]. */
  def bleu_counts(cand: Column, ref: Column): Column =
    call("bleu_counts", TextKernels, "bleuCounts", Longs,
      Seq(StringType, StringType), Seq(cand, ref))

  /** ROUGE-L sufficient statistics of a (candidate, reference) pair over
    * whitespace tokens (two-row-DP token LCS, per pair):
    * [lcs_len, cand_len, ref_len]. */
  def rouge_l_counts(cand: Column, ref: Column): Column =
    call("rouge_l_counts", TextKernels, "rougeLCounts", Longs,
      Seq(StringType, StringType), Seq(cand, ref))

  /** Repetition counts of a STRING column in one native pass:
    * [total n-grams, distinct n-grams, n_tokens, max token count]. */
  def repetition_counts(text: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    call("repetition_counts", TextKernels, "repetitionCounts", Ints,
      Seq(StringType), Seq(text), params = Seq(n))
  }

  /** Quality-metric counts of a STRING column in one native pass:
    * [n_tokens, n_non_ws, n_alpha, n_digit, n_marker_tokens]. */
  def text_quality_counts(text: Column, markers: Seq[String]): Column =
    ColumnBridge.column(TextQualityCounts(
      ColumnBridge.expression(text), markers))

  /** The k MinHash hash-family values of a shingle STRING column in one
    * call (== md5_long(i + ":" + shingle) for i in 0..k-1, hence equal to
    * the DuckDB oracle's values). */
  def minhash_hashes(shingle: Column, k: Int): Column = {
    require(k >= 1, "hash count must be >= 1")
    call("minhash_hashes", MinhashKernel, "hashes", Longs, Seq(StringType),
      Seq(shingle), params = Seq(k))
  }

  /** Per-table LSH buckets of an ARRAY<DOUBLE> column (deterministic LCG
    * hyperplanes, one kernel call per row): element t is table t's
    * sign-bit-packed bucket. Replaces a per-plane column fan-out whose
    * generated code (tables × planes × dim literals) spent most of the
    * runtime in Janino compilation. */
  def lsh_table_buckets(vec: Column, tables: Int, planesPerTable: Int,
                        dim: Int): Column = {
    require(tables >= 1 && planesPerTable >= 1 && planesPerTable <= 64)
    call("lsh_table_buckets", LshKernel, "tableBuckets", Longs,
      Seq(ArrayType(DoubleType)), Seq(vec),
      params = Seq(tables, planesPerTable, dim))
  }

  /** Bloom-filter membership probe of a STRING column against a
    * serialized sketch BloomFilter literal (codegen'd; no false
    * negatives, build-time fpp on positives). */
  def bloom_might_contain(bloomBytes: Array[Byte], value: Column): Column =
    ColumnBridge.column(BloomMightContain(
      ColumnBridge.expression(lit(bloomBytes)),
      ColumnBridge.expression(value)))

  /** Great-circle (haversine) distance in km between two lat/lon
    * degree pairs — pure built-ins, codegen'd; the identical
    * expression tree is replayable in any SQL engine (libm last-ulp
    * differences are absorbed by the caller's rounding contract).
    * Mean Earth radius 6371.0 km. */
  def haversine_km(lat1: Column, lon1: Column, lat2: Column,
                   lon2: Column): Column = {
    val dlat = radians(lat2 - lat1) / 2
    val dlon = radians(lon2 - lon1) / 2
    val a = sin(dlat) * sin(dlat) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dlon) * sin(dlon)
    lit(2.0 * 6371.0) * asin(sqrt(a))
  }

  /** NaN / +-Inf -> null (F4, `pipeline2.py:617` inf coercion plus graft's
    * NaN-as-null discipline, SURVEY §1.2). */
  def nan_inf_to_null(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity,
      lit(null).cast(DoubleType)).otherwise(c)

  /** Welch t-statistic from per-group sufficient statistics
    * (t = (meanA - meanB) / sqrt(varA/nA + varB/nB); A = case, B = control
    * to match `scipy.stats.ttest_ind(case, control)`). Division by a zero
    * standard error yields null (scipy yields NaN; normalized to null). */
  def welch_t(meanA: Column, varA: Column, nA: Column,
              meanB: Column, varB: Column, nB: Column): Column = {
    val se = sqrt(varA / nA + varB / nB)
    (meanA - meanB) / nullif(se, lit(0.0))
  }

  /** Welch–Satterthwaite degrees of freedom. Null when either group has
    * fewer than 2 observations (sample variance undefined). The nullif
    * guards keep this ANSI-safe: division by zero yields null, never an
    * error, matching scipy's NaN-on-degenerate-input. */
  def welch_df(varA: Column, nA: Column, varB: Column, nB: Column): Column = {
    val a = varA / nA
    val b = varB / nB
    val num = (a + b) * (a + b)
    val den = (a * a) / nullif(nA - lit(1), lit(0)) +
      (b * b) / nullif(nB - lit(1), lit(0))
    num / nullif(den, lit(0.0))
  }

  /** Gene-symbol validity predicate (F6, `pipeline2.py:794-827`): length
    * 1..20, no "_at", no UNKNOWN_ prefix, at least one letter, charset
    * alnum plus '.' and '-'. The charset admits no '_', so it implies the
    * "_at" and UNKNOWN_ rules, which are not tested again (the "_at" rule
    * is case-insensitive: its `lower` would load ICU's case mappings, about
    * 1.7 s on first use in a JVM). Pure built-ins, no UDF. */
  def is_valid_symbol(c: Column): Column =
    c.isNotNull &&
      length(c).between(1, 20) &&
      c.rlike("[A-Za-z]") &&
      c.rlike("^[A-Za-z0-9.\\-]+$")

  /** Regularized incomplete beta I_x(a, b): F-distribution tails
    * (P(F_{d1,d2} > f) = reg_inc_beta(d2/(d2+d1*f), d2/2, d1/2)),
    * binomial tails, t tails. Evaluated per group row. Null outside the
    * support ([[StatKernels.regIncBeta]]). */
  def reg_inc_beta(x: Column, a: Column, b: Column): Column =
    call("reg_inc_beta", StatKernels, "regIncBeta", DoubleType,
      Seq.fill(3)(DoubleType), Seq(x, a, b).map(_.cast(DoubleType)),
      nullOutsideDomain = true)

  /** Standard-normal survival function P(Z > z) (rank-test and
    * two-proportion normal approximations). Null for NaN z
    * ([[StatKernels.normalSF]]). */
  def normal_sf(z: Column): Column =
    call("normal_sf", StatKernels, "normalSF", DoubleType, Seq(DoubleType),
      Seq(z.cast(DoubleType)), nullOutsideDomain = true)
}
