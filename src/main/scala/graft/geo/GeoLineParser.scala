package graft.geo

/** Line-level parse semantics of the GEO Series Matrix format: the one
  * parser behind [[GeoMatrixReader]] (header, and every data row through a
  * `flatMap` over `spark.read.text`). Mirrors `pipeline2.py:434-474`:
  * tab-split, n+1-field guard, whole-row drop when any value fails Python
  * float(), probe-id prefix/quote cleanup, NaN/Inf normalized to null
  * (SURVEY §1.2). The specs check it against an independent
  * column-expression parse of the same file.
  */
object GeoLineParser {

  /** Python str.strip(chars): remove any run of `chars` from both ends. */
  def pyStrip(s: String, chars: String): String = {
    var start = 0
    var end = s.length
    while (start < end && chars.indexOf(s.charAt(start)) >= 0) start += 1
    while (end > start && chars.indexOf(s.charAt(end - 1)) >= 0) end -= 1
    s.substring(start, end)
  }

  def isHeader(line: String): Boolean =
    !line.startsWith("!") && !line.startsWith("#") && line.contains("ID_REF")

  /** Sample ids from the ID_REF header line, in source-column order. */
  def parseHeader(line: String): Seq[String] =
    line.split("\t", -1).toSeq.drop(1).map(pyStrip(_, "\"' "))

  /** Probe-id cleanup (`pipeline2.py:449-459`): substring after the FIRST
    * ':' if present, else after the FIRST '-' if present; then strip
    * quotes and whitespace. */
  def cleanProbeId(raw: String): String = {
    val afterPrefix =
      if (raw.contains(":")) raw.substring(raw.indexOf(':') + 1)
      else if (raw.contains("-")) raw.substring(raw.indexOf('-') + 1)
      else raw
    afterPrefix.replaceAll("^[\"']+|[\"']+$", "").trim
  }

  /** One expression value: Some(boxed double) on success (null for
    * NaN/Inf — Python float accepts any-case nan/inf spellings), None when
    * the token would fail Python float() (drops the whole row). Type
    * suffixes ('1.5d') are rejected like Python/Spark, unlike raw Java
    * parseDouble. */
  def parseValue(token: String): Option[java.lang.Double] = {
    val t = token.trim
    if (t.isEmpty) return None
    val last = t.charAt(t.length - 1)
    if (last == 'd' || last == 'D' || last == 'f' || last == 'F')
      return specialValue(t)
    // Java parseDouble accepts hex-float literals ('0x1.8p3'); Python
    // float() rejects them
    if (hexPrefix.matcher(t).find()) return specialValue(t)
    try {
      val d = java.lang.Double.parseDouble(t)
      Some(if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d))
    } catch {
      case _: NumberFormatException => specialValue(t)
    }
  }

  private val hexPrefix = java.util.regex.Pattern.compile("^[+-]?0[xX]")

  private def specialValue(t: String): Option[java.lang.Double] =
    if (t.toLowerCase.matches("[+-]?(nan|inf|infinity)")) Some(null) else None

  /** Full data-row parse: None for metadata/comment/header lines, short
    * rows, or rows with any unparseable value; otherwise the cleaned probe
    * id and exactly n boxed values (null = missing). */
  def parseDataRow(line: String, n: Int): Option[(String, Array[java.lang.Double])] = {
    if (line.startsWith("!") || line.startsWith("#") || line.contains("ID_REF"))
      return None
    val parts = line.split("\t", -1)
    if (parts.length < n + 1) return None
    val values = new Array[java.lang.Double](n)
    var i = 0
    while (i < n) {
      parseValue(parts(i + 1)) match {
        case Some(v) => values(i) = v
        case None => return None
      }
      i += 1
    }
    Some((cleanProbeId(parts(0)), values))
  }
}
