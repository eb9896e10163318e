package graft.prep

import java.lang.Double.doubleToRawLongBits
import java.nio.file.{Files, Path}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite
import graft.geo.{GeoData, GeoMatrixReader, LongForm, ProbeRows}
import graft.mapping.ProbeMapping

/** Bit-exact parity of the probe-row `Preprocess.run` and
  * `ProbeMapping.collapseToGenes` with the long-layout window and
  * grouped-median plans they replaced ([[LongLayoutReference]]): every
  * preprocessed value and every collapsed (gene, sample) median by its raw
  * bits. And the gene rows do not depend on the partitioning: the same
  * vectors, bit for bit, at 1, 4 and 200 shuffle partitions and with the
  * probe rows spread over 7 input partitions. */
class ProbeRowsParitySpec extends SparkSuite {

  private type Cell = (String, String)

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(doubleToRawLongBits(r.getDouble(i)))

  /** (gene, sample) -> value bits of a long frame. */
  private def cells(long: DataFrame): Map[Cell, Option[Long]] =
    long.collect().map(r => (r.getString(0), r.getString(1)) -> bits(r, 2)).toMap

  /** Gene rows by gene, each vector by its raw bits. */
  private def geneBits(genes: DataFrame): Map[String, Seq[Option[Long]]] =
    genes.collect().map(r => r.getString(0) -> r.getSeq[java.lang.Double](1)
      .map(v => Option(v).map(x => doubleToRawLongBits(x)))).toMap

  private def withPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Asserts preprocess and collapse parity with the long-layout plans and
    * that the gene rows are the same under every partitioning tried. */
  private def parity(geo: GeoData, mapping: DataFrame): Unit = {
    geo.expression.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = geo.sampleIds.length
      val prepped = Preprocess.run(geo.expression, n)
      val reference = LongLayoutReference.preprocess(
        LongForm.expand(geo.expression), n)
      val got = cells(LongForm.expand(prepped))
      assert(got.size == reference.count() && got.nonEmpty)
      assert(got == cells(reference), "preprocessed values differ from the window plan")

      val genes = ProbeMapping.collapseToGenes(prepped, mapping)
      assert(ProbeRows.sampleIds(genes) == geo.sampleIds)
      val want = cells(LongLayoutReference.collapse(reference, mapping))
      val collapsed = cells(LongForm.expand(genes.withColumnRenamed("gene", "probe_id")))
      assert(collapsed.nonEmpty && collapsed == want,
        "collapsed medians differ from the grouped median")

      val base = geneBits(genes)
      for (p <- Seq(1, 4, 200)) withPartitions(p) {
        assert(geneBits(ProbeMapping.collapseToGenes(prepped, mapping)) == base,
          s"gene rows differ at $p shuffle partitions")
      }
      val spread = Preprocess.run(geo.expression.repartition(7), n)
      assert(geneBits(ProbeMapping.collapseToGenes(spread, mapping)) == base,
        "gene rows differ with the probe rows over 7 input partitions")
    } finally geo.expression.unpersist()
  }

  private def fixture(name: String): (GeoData, DataFrame) =
    (GeoMatrixReader.read(spark, resource(s"${name}_geo_matrix.txt")),
      ProbeMapping.loadMappingCsv(spark, resource(s"${name}_probe_mapping.csv")))

  test("medium fixture: bit-identical values and partition layout") {
    val (geo, mapping) = fixture("medium")
    parity(geo, mapping)
  }

  test("tiny fixture: bit-identical values; each gene's rows in the same " +
    "partition and order") {
    val (geo, mapping) = fixture("tiny")
    parity(geo, mapping)
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
      parity(geo, mapping)
    }
  }
}
