package graft.prep

import java.lang.Double.doubleToRawLongBits
import java.nio.file.{Files, Path}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite
import graft.geo.{GeoData, GeoMatrixReader, LongForm}
import graft.mapping.ProbeMapping

/** Bit-exact parity of the probe-row `Preprocess.run` and
  * `ProbeMapping.collapseToGenes` with the long-layout window and
  * grouped-median plans they replaced ([[LongLayoutReference]]): every
  * preprocessed value by its raw bits, and the collapsed frame's
  * partition-by-partition row sequence, the order downstream sums
  * consume it in. */
class ProbeRowsParitySpec extends SparkSuite {

  private type Cell = (String, String, Option[Long])

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(doubleToRawLongBits(r.getDouble(i)))

  /** Row sequence of every partition of `df` once persisted, as the
    * pipeline persists the collapsed genes. */
  private def layout(df: DataFrame): Seq[Seq[Cell]] = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try p.rdd.glom().collect().toSeq
      .map(_.toSeq.map(r => (r.getString(0), r.getString(1), bits(r, 2))))
    finally p.unpersist()
  }

  /** Asserts preprocess parity and returns both collapsed layouts
    * (probe rows, long-layout reference). */
  private def parity(geo: GeoData, mapping: DataFrame): (Seq[Seq[Cell]], Seq[Seq[Cell]]) = {
    geo.expression.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = geo.sampleIds.length
      val prepped = Preprocess.run(geo.expression, n)
      val reference = LongLayoutReference.preprocess(
        LongForm.expand(geo.expression), n)
      val got = LongForm.expand(prepped).collect()
        .map(r => (r.getString(0), r.getString(1)) -> bits(r, 2)).toMap
      val want = reference.collect()
        .map(r => (r.getString(0), r.getString(1)) -> bits(r, 2)).toMap
      assert(got.size == want.size && got.nonEmpty)
      assert(got == want, "preprocessed values differ from the window plan")
      (layout(ProbeMapping.collapseToGenes(prepped, mapping)),
        layout(LongLayoutReference.collapse(reference, mapping)))
    } finally geo.expression.unpersist()
  }

  private def fixture(name: String): (GeoData, DataFrame) =
    (GeoMatrixReader.read(spark, resource(s"${name}_geo_matrix.txt")),
      ProbeMapping.loadMappingCsv(spark, resource(s"${name}_probe_mapping.csv")))

  test("medium fixture: bit-identical values and partition layout") {
    val (geo, mapping) = fixture("medium")
    val (got, want) = parity(geo, mapping)
    assert(got == want)
  }

  test("tiny fixture: bit-identical values; each gene's rows in the same " +
    "partition and order") {
    // 12 (gene, sample) keys: the grouped median's partitions hold fewer
    // than its sort-based fallback's 128 keys and come out in hash-map
    // insertion order, which interleaves genes differently from the
    // sorted layout. Per-gene sums see only the per-gene order.
    val (geo, mapping) = fixture("tiny")
    val (got, want) = parity(geo, mapping)
    def byGene(l: Seq[Seq[Cell]]) = l.map(_.groupBy(_._1))
    assert(got.length == want.length)
    assert(byGene(got) == byGene(want))
  }

  /** A GEO matrix over GSM1..GSM12 (non-lexical ids) with its mapping:
    * 240 genes of 1-3 probes plus 30 unmapped probes, 4% NaN and 1% Inf
    * cells, probes under and exactly at the 20% threshold, zero-variance
    * probes, and, on the log branch, values at and below -1 (log2(x+1)
    * null) including one probe with no value left. */
  private def generated(seed: Long, logBranch: Boolean): (GeoData, DataFrame) = {
    val rng = new scala.util.Random(seed)
    val ids = (1 to 12).map(i => s"GSM$i")
    def fmt(v: Double) = "%.3f".formatLocal(Locale.ROOT, v)
    def value(): String = {
      val u = rng.nextDouble()
      if (u < 0.04) "nan" else if (u < 0.05) "inf"
      else if (logBranch) fmt(rng.nextDouble() * 300)
      else fmt(rng.nextDouble() * 95 - 5)
    }
    val genes = (0 until 240).map(g => f"G$g%03d")
    val probes = genes.flatMap(g =>
      (0 until 1 + rng.nextInt(3)).map(k => s"${g}_$k")) ++
      (0 until 30).map(k => s"U$k")
    val rows = probes.zipWithIndex.map { case (p, i) =>
      val vs: Seq[String] =
        if (i % 37 == 5) ids.indices.map(j => if (j < 2) value() else "nan")
        else if (i % 41 == 7) ids.indices.map(j => if (j < 3) fmt(j + 1.5) else "nan")
        else if (i % 53 == 11) ids.indices.map(j => if (j == 4) "nan" else "7.250")
        else if (logBranch && i % 29 == 3)
          ids.indices.map(j => if (j % 4 == 0) fmt(-1 - j / 4.0) else value())
        else if (logBranch && i == 100) ids.map(_ => "-2.000")
        else ids.map(_ => value())
      (p +: vs).mkString("\t")
    }
    val top = if (logBranch) "250.500" else "100.000"
    val dir = Files.createTempDirectory("probe-rows")
    val matrix = dir.resolve("matrix.txt")
    Files.writeString(matrix,
      ("!Series_title\t\"generated\"" +:
        ("!Sample_geo_accession\t" + ids.mkString("\t")) +:
        ("ID_REF\t" + ids.mkString("\t")) +:
        (("TOP\t" + ids.map(_ => top).mkString("\t")) +: rows))
        .mkString("", "\n", "\n"))
    val mapping: Path = dir.resolve("mapping.csv")
    Files.writeString(mapping, ("PROBEID,SYMBOL" +: "TOP,G000" +:
      probes.filterNot(_.startsWith("U")).map(p => s"$p,${p.takeWhile(_ != '_')}"))
      .mkString("", "\n", "\n"))
    (GeoMatrixReader.read(spark, matrix.toString),
      ProbeMapping.loadMappingCsv(spark, mapping.toString))
  }

  for ((logBranch, name) <- Seq(false -> "max exactly 100, no log2",
                                true -> "max above 100, log2 with values <= -1")) {
    test(s"generated matrix ($name): bit-identical values and layout " +
      "with > 128 keys per partition and non-lexical sample ids") {
      val (geo, mapping) = generated(seed = if (logBranch) 2 else 1, logBranch)
      assert(geo.sampleIds.sorted != geo.sampleIds)
      val (got, want) = parity(geo, mapping)
      assert(want.forall(_.length > 128),
        s"partition sizes ${want.map(_.length)}")
      assert(got == want)
    }
  }
}
