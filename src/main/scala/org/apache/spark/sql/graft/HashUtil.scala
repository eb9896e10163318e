package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Hash kernels shared by graft's custom expressions (and callable from
  * generated code, so the expressions stay inside whole-stage codegen).
  *
  * The 64-bit string hash is the low 8 bytes of MD5 interpreted
  * little-endian — bit-identical to DuckDB's `md5_number_lower`, which is
  * what makes simhash/minhash results oracle-checkable by the driver's
  * DuckDB compare. MD5 is slower than xxhash64 but engine-independent;
  * swap-in of a faster fingerprint is a documented engine-specific option.
  */
object HashUtil {
  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Low 8 bytes of MD5(bytes), little-endian (== DuckDB md5_number_lower
    * bit pattern, reinterpreted as a signed long). */
  def md5Lower8LE(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (d(8 + i) & 0xffL); i -= 1 }
    h
  }

  def md5Lower8LE(s: UTF8String): Long = md5Lower8LE(s.getBytes)

  /** 64-bit SimHash over a token array: bit b of the result is set iff the
    * sum of (+1/-1) votes from bit b of each token's hash is positive.
    * Null tokens are skipped. */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = md5Lower8LE(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Order-sensitive polynomial rolling hash over a token array:
    * h = sum(hash(tok_i) * 31^(n-1-i)) in Z/2^64. Null tokens hash as 0. */
  def rollingHash64(arr: ArrayData): Long = {
    var h = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val t = if (arr.isNullAt(i)) 0L else md5Lower8LE(arr.getUTF8String(i))
      h = h * 31L + t
      i += 1
    }
    h
  }
}

/** Text kernels for the dedup/text operators (callable from generated
  * code). Tokenization matches Java regex \s+ splitting — the same token
  * boundaries as the declarative `split`/`regexp_extract_all('\S+')`
  * paths and the DuckDB oracle.
  */
object TextKernels {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace tokens, empties dropped. */
  def tokens(s: UTF8String): Array[String] = {
    val raw = Ws.split(s.toString)
    var n = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) n += 1; i += 1 }
    if (n == raw.length) raw
    else {
      val out = new Array[String](n)
      var j = 0
      i = 0
      while (i < raw.length) {
        if (raw(i).nonEmpty) { out(j) = raw(i); j += 1 }
        i += 1
      }
      out
    }
  }

  /** Word n-gram shingles (space-joined) in one pass — the codegen-able
    * replacement for the interpreted transform/slice/concat_ws chain. */
  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val toks = tokens(s)
    val m = toks.length - n + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode NFC normalization (canonical composition — e + U+0301
    * combining acute becomes the single codepoint U+00E9). Same canonical
    * forms as DuckDB's `nfc_normalize` (both implement UAX #15). ASCII is
    * closed under NFC, so the common all-ASCII row returns after one
    * byte scan with ZERO allocation (no UTF-16 decode); non-ASCII rows
    * decode once, and only rows that actually change re-encode. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    if (s.isFullAscii) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Diacritic stripping: NFD decomposition, drop combining marks
    * (\p{Mn}), recompose survivors — semantics pinned to DuckDB's
    * utf8proc-based `strip_accents` (probed: café→cafe, Zürich→Zurich,
    * й→и; ø/æ/ß/đ/ł have no decomposition and pass through —
    * StripAccentsSpec). ASCII fast path pays one scan, no allocation.
    */
  def stripAccents(s: UTF8String): UTF8String = {
    if (s.isFullAscii) return s
    val decomposed = java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(decomposed.length)
    var i = 0
    while (i < decomposed.length) {
      val c = decomposed.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(java.text.Normalizer.normalize(
      sb.toString, java.text.Normalizer.Form.NFC))
  }

  /** Shannon entropy (bits) of the CODE-POINT frequency distribution of
    * a string — the cheap screen that separates natural text (~4 bits)
    * from base64/hex blobs (high, flat distribution) and repeated-char
    * padding (near 0). One code-point pass to count, one pass over the
    * ≤ alphabet-size frequency table; the Σ p·log₂p accumulation runs in
    * SORTED codepoint order so the float chain is deterministic
    * per-engine (cross-engine diffs are one-ulp class, absorbed by the
    * caller's rounding — the q338 lesson). Empty string → 0.0. */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.TreeMap[Integer, java.lang.Long]()
    var i = 0
    var total = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val prev = counts.get(cp)
      counts.put(cp, if (prev == null) 1L else prev + 1L)
      total += 1L
      i += Character.charCount(cp)
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / total
      h -= p * (math.log(p) / math.log(2.0))
    }
    h
  }

  /** BLEU sufficient statistics of one (candidate, reference) pair in
    * one native pass: [num₁, den₁, …, num₄, den₄, cand_len, ref_len],
    * where numₙ = Σ_g min(c_cand(g), c_ref(g)) over the candidate's
    * order-n grams (the clipped matches) and denₙ = total candidate
    * n-grams. Clipping is PER-PAIR by definition, so BLEU needs no
    * cross-row state at all — this kernel replaces an explode +
    * (pair, gram) shuffle join with an embarrassingly parallel scan
    * (measured: the join form went super-linear from shuffle spill at
    * a fixed partition count; this is flat). */
  def bleuCounts(cand: UTF8String, ref: UTF8String): ArrayData = {
    val ct = tokens(cand)
    val rt = tokens(ref)
    val out = new Array[Any](10)
    var n = 1
    while (n <= 4) {
      val refCounts = new java.util.HashMap[String, Long]()
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i + n <= rt.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' '); sb.append(rt(i + j)); j += 1
        }
        val k = sb.toString
        refCounts.put(k, refCounts.getOrDefault(k, 0L) + 1L)
        i += 1
      }
      // count candidate grams, clipping each gram's credit at the
      // reference count (decrement-as-consumed)
      var num = 0L
      var den = 0L
      i = 0
      while (i + n <= ct.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' '); sb.append(ct(i + j)); j += 1
        }
        val k = sb.toString
        val left = refCounts.getOrDefault(k, 0L)
        if (left > 0L) { num += 1L; refCounts.put(k, left - 1L) }
        den += 1L
        i += 1
      }
      out(2 * (n - 1)) = num
      out(2 * (n - 1) + 1) = den
      n += 1
    }
    out(8) = ct.length.toLong
    out(9) = rt.length.toLong
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ROUGE-L sufficient statistics of one (candidate, reference) pair:
    * [lcs_len, cand_len, ref_len] over whitespace tokens. Token-level
    * longest common subsequence by the classic two-row DP (O(m·n)
    * time, O(min) memory) — per-pair local like [[bleuCounts]], so the
    * operator is one shuffle-free kernel scan. */
  def rougeLCounts(cand: UTF8String, ref: UTF8String): ArrayData = {
    val a = tokens(cand)
    val b0 = tokens(ref)
    // DP over the shorter side for O(min) memory
    val (longer, shorter) = if (a.length >= b0.length) (a, b0) else (b0, a)
    val m = shorter.length
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < longer.length) {
      var j = 0
      while (j < m) {
        cur(j + 1) =
          if (longer(i) == shorter(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](prev(m).toLong, a.length.toLong, b0.length.toLong))
  }

  /** All quality-metric counts of a text in ONE character pass — no regex,
    * no token-array allocation. Returns
    * [n_tokens, n_non_ws, n_alpha, n_digit, n_marker_tokens].
    * Semantics match the regex definitions used by the DuckDB oracle:
    * whitespace is the ASCII \s class (space, \t, \n, \x0B, \f, \r — both
    * Java default \s and RE2 \s), a token is a maximal non-ws run, alpha
    * is [A-Za-z], digit is [0-9], and a marker hit is token == marker
    * (checked with regionMatches, no substring allocation). */
  def qualityCounts(s: UTF8String, markers: Array[String]): ArrayData = {
    val str = s.toString
    val n = str.length
    var nTok = 0; var nonWs = 0; var alpha = 0; var digit = 0; var stop = 0
    var tokStart = -1
    var i = 0
    // iterate CODE POINTS, not UTF-16 units: regex counting ('\\S') is
    // per-code-point on both engines, so a surrogate pair (emoji etc.)
    // must count as ONE non-ws char — charAt iteration would count 2
    while (i <= n) {
      val cp = if (i == n) ' '.toInt else str.codePointAt(i)
      val step = if (i == n) 1 else Character.charCount(cp)
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!ws) {
        nonWs += 1
        if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) alpha += 1
        else if (cp >= '0' && cp <= '9') digit += 1
        if (tokStart < 0) tokStart = i
      } else if (tokStart >= 0) {
        nTok += 1
        val len = i - tokStart
        var k = 0
        var matched = false
        while (k < markers.length && !matched) {
          val mk = markers(k)
          if (mk.length == len && str.regionMatches(tokStart, mk, 0, len))
            matched = true
          k += 1
        }
        if (matched) stop += 1
        tokStart = -1
      }
      i += step
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](nTok, nonWs, alpha, digit, stop))
  }

  /** Repetition counts of a text in one pass:
    * [total n-grams, distinct n-grams, n_tokens, max single-token count].
    * The declarative route (transform over array_distinct x filter) is an
    * interpreted O(distinct x total) fold per row; this is O(tokens) with
    * two per-row hash maps. */
  def repetitionCounts(s: UTF8String, n: Int): ArrayData = {
    val toks = tokens(s)
    val tokCounts = new java.util.HashMap[String, Integer]()
    var top = 0
    var i = 0
    while (i < toks.length) {
      val c = tokCounts.merge(toks(i), 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    val m = toks.length - n + 1
    var total = 0
    var distinct = 0
    if (m > 0) {
      total = m
      val seen = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder
      i = 0
      while (i < m) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        if (seen.add(sb.toString)) distinct += 1
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](total, distinct, toks.length, top))
  }
}

/** Random-hyperplane LSH kernel: all table buckets of a vector in one
  * pass. Planes are deterministic LCG values (identical to
  * graft.ann.Similarity.planeComponent and the SQL oracle's integer
  * recurrence), memoized per (nPlanes, dim).
  */
object LshKernel {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def planeComponent(p: Int, j: Int, dim: Int): Double = {
    val seed = (p.toLong * dim + j) & 0x7fffffffL
    val v = (1103515245L * seed + 12345L) % 2147483648L
    v.toDouble / 1073741824.0 - 1.0
  }

  def planesFor(nPlanes: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((nPlanes, dim), { case (np, d) =>
      Array.tabulate(np, d)((p, j) => planeComponent(p, j, d))
    })

  /** Per-table sign-bit-packed buckets: element t = bucket in table t
    * (planes t*planesPerTable .. t*planesPerTable+planesPerTable-1, bit
    * position = plane index within the table). dot == 0 -> bit 0. */
  def tableBuckets(vec: ArrayData, tables: Int, planesPerTable: Int,
                   dim: Int): ArrayData = {
    val pl = planesFor(tables * planesPerTable, dim)
    val n = math.min(vec.numElements(), dim)
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planesPerTable) {
        val w = pl(t * planesPerTable + p)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += vec.getDouble(j) * w(j); j += 1 }
        if (dot > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** MinHash hash-family kernel: the k md5-derived hashes of one shingle
  * ("i:shingle" for i in 0..k-1) in one call — identical values to
  * md5_number_lower(CAST(i AS VARCHAR) || ':' || shingle) in the oracle,
  * computed without per-hash string concatenation or interpreted
  * higher-order functions.
  */
object MinhashKernel {
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def hashes(s: UTF8String, k: Int): ArrayData = {
    val payload = s.getBytes
    val md = md5Local.get()
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      md.reset()
      md.update(Integer.toString(i).getBytes)
      md.update(':'.toByte)
      md.update(payload)
      val d = md.digest()
      var h = 0L
      var j = 7
      while (j >= 0) { h = (h << 8) | (d(8 + j) & 0xffL); j -= 1 }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** String-similarity kernels callable from generated code. */
object StringSim {

  /** Jaro-Winkler similarity, pinned to DuckDB `jaro_winkler_similarity`
    * semantics (probed against DuckDB 1.x on this host, JaroWinklerSpec):
    * either side empty → 0.0 (even both-empty); match window
    * max(|a|,|b|)/2 − 1 (floored, min 0); transpositions = floor(half the
    * out-of-order matched positions); Winkler prefix boost (weight 0.1,
    * prefix capped at 4) applied only when jaro > 0.7 strictly. Compares
    * UTF-16 code units — identical to byte comparison on ASCII, which is
    * all the catalog exercises.
    */
  def jaroWinkler(aS: UTF8String, bS: UTF8String): Double = {
    val a = aS.toString
    val b = bS.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val win = math.max(0, math.max(la, lb) / 2 - 1)
    val aM = new Array[Boolean](la)
    val bM = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + win)
      var j = math.max(0, i - win)
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && b.charAt(j) == a.charAt(i)) {
          aM(i) = true; bM(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var raw = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) raw += 1
        k += 1
      }
      i += 1
    }
    val t = raw / 2
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t) / md) / 3.0
    if (jaro <= 0.7) jaro
    else {
      var p = 0
      val maxP = math.min(4, math.min(la, lb))
      while (p < maxP && a.charAt(p) == b.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    }
  }

  /** TRUE (unrestricted) Damerau-Levenshtein distance — the
    * Lowrance-Wagner algorithm with the last-occurrence table, NOT the
    * cheaper optimal-string-alignment variant: DL("CA","ABC") = 2
    * (transpose then insert), where OSA says 3. Pinned to DuckDB
    * `damerau_levenshtein`, which was probed to return 2 there
    * (DamerauLevenshteinSpec). O(|a|·|b|) time, compares UTF-16 code
    * units like [[jaroWinkler]].
    */
  def damerauLevenshtein(aS: UTF8String, bS: UTF8String): Long = {
    val a = aS.toString
    val b = bS.toString
    val la = a.length
    val lb = b.length
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    val maxd = la + lb
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = maxd
    var i = 0
    while (i <= la) { d(i + 1)(0) = maxd; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j + 1) = maxd; d(1)(j + 1) = j; j += 1 }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val kBox = da.get(b.charAt(j - 1))
        val k = if (kBox == null) 0 else kBox.intValue()
        val l = db
        val cost =
          if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = math.min(
          math.min(d(i)(j) + cost,
            math.min(d(i + 1)(j) + 1, d(i)(j + 1) + 1)),
          d(k)(l) + (i - k - 1) + 1 + (j - l - 1))
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d(la + 1)(lb + 1).toLong
  }
}

/** Distribution tails and vector similarity behind graft's statistics
  * functions (callable from generated code). Each returns null outside
  * its domain, where scipy returns NaN (graft normalizes NaN to null,
  * SURVEY §1.2); a NaN that the formula itself yields passes through.
  */
object StatKernels {

  /** Two-sided Student-t p-value P(|T_df| >= |t|), the Welch test's tail
    * (`drug_target_gse46602/pipeline2.py:598-603` uses
    * `scipy.stats.ttest_ind(equal_var=False)`): the identity
    * p = I_{df/(df+t^2)}(df/2, 1/2) with commons-math3's regularized
    * incomplete beta. Null for NaN t or NaN / non-positive df. */
  def tTestPValue(t: Double, df: Double): java.lang.Double =
    if (df.isNaN || t.isNaN || df <= 0.0) null
    else org.apache.commons.math3.special.Beta.regularizedBeta(
      df / (df + t * t), df / 2.0, 0.5)

  /** Hypergeometric upper tail P(X >= k) for overlap k between a size-`n`
    * draw and a size-`bigK` success set in a size-`bigN` population: the
    * over-representation (ORA / one-sided Fisher exact) test of
    * enrichment analysis. Null for inconsistent margins; exact 1.0 / 0.0
    * at the support edges. */
  def hypergeomPValue(k: Long, bigK: Long, n: Long,
                      bigN: Long): java.lang.Double =
    if (bigN <= 0 || bigK < 0 || n < 0 || bigK > bigN || n > bigN ||
        bigN > Int.MaxValue) null
    else if (k <= math.max(0L, n + bigK - bigN)) 1.0
    else if (k > math.min(bigK, n)) 0.0
    else new org.apache.commons.math3.distribution.HypergeometricDistribution(
      bigN.toInt, bigK.toInt, n.toInt)
      .upperCumulativeProbability(k.toInt)

  /** Regularized incomplete beta I_x(a, b): the F-distribution tail
    * (one-way ANOVA, Brown–Forsythe: P(F_{d1,d2} > f) = I_x(d2/2, d1/2)
    * with x = d2 / (d2 + d1·f)), the binomial tail, and the t tail
    * ([[tTestPValue]] is the b = 1/2 case). Null outside the support
    * (x ∉ [0,1], a or b ≤ 0 or infinite, any NaN), where
    * scipy.special.betainc returns NaN (commons-math3's continued
    * fraction diverges on an infinite shape). */
  def regIncBeta(x: Double, a: Double, b: Double): java.lang.Double =
    if (x.isNaN || a.isNaN || b.isNaN || x < 0.0 || x > 1.0 ||
        a <= 0.0 || b <= 0.0 || a.isInfinite || b.isInfinite) null
    else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)

  /** Standard-normal survival P(Z > z) = erfc(z/√2)/2, the tail behind
    * rank-test normal approximations (Mann–Whitney U, Wilcoxon) and
    * two-proportion z-tests. commons-math3 Erf.erfc is accurate to
    * machine precision over the full double range (scipy.stats.norm.sf
    * parity). Null for NaN z. */
  def normalSF(z: Double): java.lang.Double =
    if (z.isNaN) null
    else org.apache.commons.math3.special.Erf.erfc(z / math.sqrt(2.0)) / 2.0

  /** Cosine similarity of two double arrays, truncated to the shorter
    * one; null when either norm is zero. Elements must not be null
    * (embedding vectors never are). Sums run in index order. */
  def cosineSimilarity(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }
}

/** One-pass URL decomposition into struct<scheme, auth, path, query>,
  * the per-row kernel of `UrlOps.canonicalizeUrl` / `urlHost`. One
  * compiled-pattern match fills all four fields, where four
  * `regexp_extract` calls (one per group, plus the malformed guard) ran
  * the same regex again for each.
  *
  * EXACT `regexp_extract` replication, field by field (the DuckDB
  * oracle replays the same regex decomposition, so outputs must be
  * bit-identical): a non-matching non-null input yields "" in every
  * field (regexp_extract's no-match value — the scheme field doubles
  * as the malformed guard exactly as `regexp_extract(url, re, 1) =
  * ''` did); a group that did not participate in the match (absent
  * `?query`) yields "" (RegExpExtract's null-group convention); a null
  * input nulls the struct (the same propagation as regexp_extract's).
  * The pattern is anchored, so `find(0)` ≡ `matches` — the same entry
  * point RegExpExtract uses.
  */
object UrlKernel {
  val schema: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StructType(Seq("scheme", "auth", "path", "query")
      .map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType, nullable = false)))

  private val pattern = java.util.regex.Pattern.compile(
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$")
  private val Empty = UTF8String.EMPTY_UTF8

  def parts(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val m = pattern.matcher(u.toString)
    if (!m.find(0))
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](Empty, Empty, Empty, Empty))
    else {
      def g(i: Int): UTF8String = {
        val s = m.group(i)
        if (s == null) Empty else UTF8String.fromString(s)
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](g(1), g(2), g(3), g(4)))
    }
  }
}
