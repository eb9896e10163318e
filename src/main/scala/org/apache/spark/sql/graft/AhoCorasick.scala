package org.apache.spark.sql.graft

import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern matcher over UTF-8 BYTES, built once per
  * query and shared across rows (the expression holds it via
  * `ctx.addReferenceObj`, so the scan stays inside whole-stage codegen).
  *
  * Replaces the regex-alternation route for gazetteer-sized
  * dictionaries: `regexp_replace(text, '(t1|…|t10000)', mask)` is
  * O(position × patterns) in the worst case and compiles a pathological
  * automaton, while AC is O(bytes + matches) regardless of dictionary
  * size — the scrub an LLM-corpus blocklist/PII gazetteer needs at
  * 100 TB.
  *
  * Match semantics (pinned so a regex-alternation oracle with branches
  * ordered LONGEST-FIRST agrees exactly, Java regex and RE2 alike):
  * scan left to right; at the leftmost position where any dictionary
  * term matches, take the LONGEST term matching there, emit the mask,
  * and resume scanning AT THE END of the consumed term (matches never
  * overlap). Byte-grain is safe for ASCII dictionaries against UTF-8
  * text: a multi-byte code point contains no byte < 0x80, so a pattern
  * can never match inside one.
  *
  * Serializable: the automaton ships to executors once per task via the
  * expression's reference object (~16 B per node plus the goto maps).
  */
final class AhoCorasick(patterns: Seq[String]) extends Serializable {
  require(patterns.nonEmpty, "empty dictionary")
  require(patterns.forall(_.nonEmpty), "empty pattern in dictionary")

  // --- build the trie (goto), then BFS the fail + output links -------
  // Nodes in growable parallel arrays; transitions as per-node
  // HashMap[Byte, Int] kept sparse (gazetteer alphabets are small).
  private val gotoMaps =
    scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[java.lang.Byte, Integer]())
  private val failLink = scala.collection.mutable.ArrayBuffer(0)
  // longest pattern length ENDING at this node (0 = none); the dict link
  // lets shorter suffix matches surface without walking fails per byte
  private val outLen = scala.collection.mutable.ArrayBuffer(0)
  private val dictLink = scala.collection.mutable.ArrayBuffer(0)

  patterns.foreach { p =>
    val bytes = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var node = 0
    bytes.foreach { b =>
      val m = gotoMaps(node)
      val nxt = m.get(b)
      node = if (nxt != null) nxt.intValue()
      else {
        gotoMaps += new java.util.HashMap[java.lang.Byte, Integer]()
        failLink += 0; outLen += 0; dictLink += 0
        val id = gotoMaps.size - 1
        m.put(b, id)
        id
      }
    }
    outLen(node) = math.max(outLen(node), bytes.length)
  }

  locally { // BFS fail links (classic Aho–Corasick construction)
    val queue = new java.util.ArrayDeque[Integer]()
    gotoMaps(0).forEach((_, v) => { failLink(v) = 0; queue.add(v) })
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      dictLink(u) =
        if (outLen(failLink(u)) > 0) failLink(u) else dictLink(failLink(u))
      gotoMaps(u).forEach { (b, v) =>
        var f = failLink(u)
        while (f != 0 && !gotoMaps(f).containsKey(b)) f = failLink(f)
        val t = gotoMaps(f).get(b)
        failLink(v) = if (t != null && t.intValue() != v.intValue())
          t.intValue() else 0
        queue.add(v)
      }
    }
  }

  // frozen arrays for the scan hot path
  private val gotoArr: Array[java.util.HashMap[java.lang.Byte, Integer]] =
    gotoMaps.toArray
  private val fail: Array[Int] = failLink.toArray
  private val out: Array[Int] = outLen.toArray
  private val dict: Array[Int] = dictLink.toArray

  /** One automaton pass collecting (endExclusive, len) of every match,
    * then the greedy leftmost-longest non-overlapping selection (the
    * regex-'g' scan contract documented above). Returns the scrubbed
    * string; null input handled by the expression's nullSafeEval. */
  def scrub(text: UTF8String, mask: UTF8String): UTF8String = {
    val bytes = text.getBytes
    val n = bytes.length
    // matches as parallel arrays: start position and length
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val lens = new scala.collection.mutable.ArrayBuffer[Int]()
    var node = 0
    var i = 0
    while (i < n) {
      val b: java.lang.Byte = bytes(i)
      while (node != 0 && !gotoArr(node).containsKey(b)) node = fail(node)
      val nxt = gotoArr(node).get(b)
      node = if (nxt != null) nxt.intValue() else 0
      // record EVERY match ending here (longest + dict-link suffixes);
      // the greedy pass below needs shorter-starting-later ones too
      var m = node
      var seen = false
      while (m != 0 && !seen) {
        if (out(m) > 0) { starts += (i + 1 - out(m)); lens += out(m) }
        val d = dict(m)
        if (d == 0) seen = true else m = d
      }
      i += 1
    }
    if (starts.isEmpty) return text
    // greedy leftmost-longest: sort by (start asc, len desc), sweep
    val order = starts.indices.sortBy(k => (starts(k), -lens(k)))
    val sb = new java.io.ByteArrayOutputStream(n)
    val maskBytes = mask.getBytes
    var cursor = 0
    order.foreach { k =>
      val s = starts(k)
      if (s >= cursor) {
        sb.write(bytes, cursor, s - cursor)
        sb.write(maskBytes, 0, maskBytes.length)
        cursor = s + lens(k)
      }
    }
    sb.write(bytes, cursor, n - cursor)
    UTF8String.fromBytes(sb.toByteArray)
  }
}
