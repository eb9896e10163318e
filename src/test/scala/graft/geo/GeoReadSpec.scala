package graft.geo

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkSuite
import graft.functions.gfunctions.nan_inf_to_null

/** File-level behaviour of [[GeoMatrixReader.read]] over Spark's text
  * source: parity with an independent column-expression parse, byte-range
  * splits, gzip, directory listing and header edge cases. */
class GeoReadSpec extends SparkSuite {

  /** Cells of a probe-row frame (or of the long reference parse). */
  private def rows(df: DataFrame) =
    (if (df.columns.contains("sample_id")) df else LongForm.expand(df))
      .collect().map(r => (r.getString(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet

  private def expression(path: String) =
    GeoMatrixReader.read(spark, path).expression

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("read equals the column-expression reference parse") {
    val path = resource("tiny_geo_matrix.txt")
    val geo = GeoMatrixReader.read(spark, path)
    val viaExpr = rows(GeoReadSpec.parseExpression(
      spark.read.text(path), geo.sampleIds))
    assert(rows(geo.expression) == viaExpr)
    assert(viaExpr.nonEmpty)
  }

  test("split uncompressed read (many tiny byte ranges) equals unsplit read") {
    // 64-byte ranges split across header and data lines, 700-byte ranges
    // hand a straddling line to the next split; line ownership must
    // neither drop nor duplicate any row
    for ((file, bytes) <- Seq("tiny_geo_matrix.txt" -> 64,
                              "medium_geo_matrix.txt" -> 64,
                              "medium_geo_matrix.txt" -> 700)) {
      val path = resource(file)
      val unsplit = rows(expression(path))
      withConf("spark.sql.files.maxPartitionBytes", bytes.toString) {
        val split = expression(path)
        assert(split.rdd.getNumPartitions > 1, s"$file at $bytes bytes")
        assert(rows(split) == unsplit, s"$file at $bytes bytes")
      }
    }
  }

  test("gzip file reads whole (single partition) and equals uncompressed") {
    val src = Paths.get(resource("tiny_geo_matrix.txt"))
    val dir = Files.createTempDirectory("geo-gz")
    val gz = dir.resolve("matrix.txt.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write(Files.readAllBytes(src)); out.close()
    val viaGz = expression(gz.toString)
    assert(viaGz.rdd.getNumPartitions == 1, "gzip is unsplittable")
    assert(rows(viaGz) == rows(expression(src.toString)))
    // mixed directory: gzip + uncompressed copies of the same matrix
    Files.copy(src, dir.resolve("matrix2.txt"))
    assert(expression(dir.toString).count() == 2 * viaGz.count())
  }

  test("directory read skips _SUCCESS and dotfiles by file name") {
    val dir = Files.createTempDirectory("geo-dir")
    Files.copy(Paths.get(resource("tiny_geo_matrix.txt")),
      dir.resolve("matrix.txt"), StandardCopyOption.REPLACE_EXISTING)
    // decoys that would inject rows (and a second header) if scanned: a
    // _SUCCESS marker and a hidden file, each a one-row matrix
    val decoy = "ID_REF\tGSMX\nBAD_PROBE\t1.0\n"
    Files.writeString(dir.resolve("_SUCCESS"), decoy)
    Files.writeString(dir.resolve(".hidden"), decoy)
    val got = rows(expression(dir.toString))
    assert(got == rows(expression(dir.resolve("matrix.txt").toString)))
    assert(!got.exists(_._1 == "BAD_PROBE"))
  }

  test("a directory mixing series with different ID_REF headers is rejected") {
    val dir = Files.createTempDirectory("geo-mixed")
    Files.writeString(dir.resolve("a.txt"), "ID_REF\tS1\tS2\np1\t1.0\t2.0\n")
    Files.writeString(dir.resolve("b.txt"), "ID_REF\tS3\tS4\np2\t3.0\t4.0\n")
    val e = intercept[IllegalArgumentException](
      GeoMatrixReader.read(spark, dir.toString))
    assert(e.getMessage.contains("mixes GEO series with 2 distinct ID_REF headers"))
    assert(e.getMessage.contains("[S1, S2]") && e.getMessage.contains("[S3, S4]"))
  }

  test("trailing-tab header: 3 sample ids, every row dropped (Python split)") {
    val dir = Files.createTempDirectory("geo-ttab")
    val f = dir.resolve("m.txt")
    Files.writeString(f,
      "!Series_title\t\"x\"\nID_REF\tS1\tS2\t\np1\t1.0\t2.0\t\n")
    // Python str.split('\t') keeps the trailing empty field -> 3 sample
    // columns (S1, S2, ''); every data row's empty last token fails
    // float() and the row drops (a bare Java split would see 2 samples
    // and keep the rows)
    val geo = GeoMatrixReader.read(spark, f.toString)
    assert(geo.sampleIds == Seq("S1", "S2", ""))
    assert(geo.expression.collect().isEmpty)
  }

  test("line parser: probe cleanup, row drop, nan/inf -> null") {
    assert(GeoLineParser.cleanProbeId("\"1007_s_at\"") == "1007_s_at")
    assert(GeoLineParser.cleanProbeId("1234:AFFX-x") == "AFFX-x")
    assert(GeoLineParser.cleanProbeId("12-34") == "34")
    assert(GeoLineParser.parseValue("3.25").contains(3.25))
    assert(GeoLineParser.parseValue(" 1e3 ").contains(1000.0))
    assert(GeoLineParser.parseValue("NaN").contains(null: java.lang.Double))
    assert(GeoLineParser.parseValue("-inf").contains(null: java.lang.Double))
    assert(GeoLineParser.parseValue("abc").isEmpty)
    assert(GeoLineParser.parseValue("1.5d").isEmpty)   // Python float() rejects
    assert(GeoLineParser.parseValue("0x1.8p3").isEmpty)  // Java hex float; Python rejects
    assert(GeoLineParser.parseValue("-0X10").isEmpty)
    assert(GeoLineParser.parseValue("0").contains(0.0)) // plain zero still parses
    assert(GeoLineParser.parseDataRow("p1\t1.0\t2.0", 2).exists(_._1 == "p1"))
    assert(GeoLineParser.parseDataRow("p1\t1.0\tjunk", 2).isEmpty)
    assert(GeoLineParser.parseDataRow("p1\t1.0", 2).isEmpty)      // short row
    assert(GeoLineParser.parseDataRow("!meta\t1\t2", 2).isEmpty)
  }
}

object GeoReadSpec {

  /** Reference parse of S3 (data rows -> long form) in column expressions,
    * written independently of [[GeoLineParser]]. Probe-id cleanup
    * reproduces `pipeline2.py:449-459`: take the substring after the FIRST
    * ':' if present, else after the FIRST '-' if present, then strip quotes
    * and whitespace. A row is dropped when any of its n values would fail
    * Python float() (`pipeline2.py:464-468`); values that parse to NaN/Inf
    * are kept as rows but normalized to null (SURVEY §1.2). */
  def parseExpression(lines: DataFrame, sampleIds: Seq[String]): DataFrame = {
    val n = sampleIds.length
    val v = col("value")
    val parts = split(v, "\t")

    val probeRaw = element_at(col("__parts"), 1)
    val afterPrefix = when(probeRaw.contains(":"), regexp_replace(probeRaw, "^[^:]*:", ""))
      .when(probeRaw.contains("-"), regexp_replace(probeRaw, "^[^-]*-", ""))
      .otherwise(probeRaw)
    val probeId = trim(regexp_replace(afterPrefix, "^[\"']+|[\"']+$", ""))

    val tokens = slice(col("__parts"), 2, n)
    // Python float() accepts numbers and any-case nan/inf spellings. Spark's
    // string->double try_cast goes through Java parseDouble, which ALSO
    // accepts 'd'/'f' type suffixes and hex floats that Python rejects —
    // the two extra guards give Python's answer.
    val tokenOk = (x: Column) =>
      (x.try_cast(DoubleType).isNotNull &&
        !trim(x).rlike("[dDfF]$") && !trim(x).rlike("^[+-]?0[xX]")) ||
        lower(trim(x)).rlike("^[+-]?(nan|inf|infinity)$")

    lines
      .filter(!v.startsWith("!") && !v.startsWith("#") && !v.contains("ID_REF"))
      .withColumn("__parts", parts)
      .filter(size(col("__parts")) >= n + 1)                    // guard, py:441
      .filter(forall(tokens, tokenOk))                          // row drop, py:464-468
      .select(probeId.as("probe_id"),
        posexplode(transform(tokens, x => nan_inf_to_null(x.try_cast(DoubleType)))))
      .select(col("probe_id"),
        element_at(typedLit(sampleIds), col("pos") + 1).as("sample_id"),
        col("col").as("value"))
  }
}
