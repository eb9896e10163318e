package graft.geo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Parsed GEO series: per-probe expression rows + row-per-sample metadata.
  *
  * `expression`: one row per probe in the [[ProbeRows]] layout,
  * (probe_id STRING NOT NULL, value ARRAY<DOUBLE>): the probe's values in
  * `sampleIds` order, null for a NaN, Inf or missing cell. The sample ids
  * travel once, in the `value` field's metadata, not in every row. Per-probe
  * steps (threshold, impute, z-score) are row maps with no shuffle; the
  * probe collapse emits the same layout keyed by gene, one row per gene
  * ([[ProbeRows.GeneSchema]]), and the per-gene statistics downstream are
  * row maps over it too.
  *
  * `metadata`: (sample_id STRING, ordinal INT, title STRING,
  * condition STRING, characteristics MAP<STRING,STRING>) — ordinal is the
  * sample's column position in the source file (drives the reference's
  * positional fallbacks, `pipeline2.py:392-401,567-573`).
  */
final case class GeoData(expression: DataFrame, metadata: DataFrame,
                         sampleIds: Seq[String])

/** Owner of the per-probe expression layout:
  * `(probe_id STRING NOT NULL, value ARRAY<DOUBLE> NOT NULL)`, one row per
  * probe, values in sample order, null = NaN, Inf or missing. The sample
  * ids are stored once, in the `value` field's metadata. A typed map drops
  * field metadata, so every step that rebuilds `value` re-attaches it with
  * [[ProbeRows.value]]. Gene rows, the probe collapse's output, are the
  * same layout keyed by `gene` ([[GeneSchema]]). */
object ProbeRows {

  private val SampleIdsKey = "sample_ids"

  /** Schema of a typed map that emits probe rows; [[value]] then
    * re-attaches the sample ids the map dropped. */
  val Schema: StructType = StructType(Seq(
    StructField("probe_id", StringType, nullable = false),
    StructField("value", ArrayType(DoubleType, containsNull = true),
      nullable = false)))

  /** Schema of a typed map that emits gene rows, `(gene, value)`. */
  val GeneSchema: StructType = StructType(Seq(
    StructField("gene", StringType, nullable = true), Schema("value")))

  /** `values` as the `value` column, carrying `sampleIds`. */
  def value(values: Column, sampleIds: Seq[String]): Column =
    values.as("value", new MetadataBuilder()
      .putStringArray(SampleIdsKey, sampleIds.toArray).build())

  /** The sample ids a probe-row frame carries; fails when the frame is
    * not in this layout. */
  def sampleIds(df: DataFrame): Seq[String] =
    sampleIdsOf(df).getOrElse(throw new IllegalArgumentException(
        "expression frame carries no sample ids: expected one row per " +
          "probe, (probe_id, value ARRAY<DOUBLE>), with the ids in the " +
          s"`value` field's '$SampleIdsKey' metadata (GeoMatrixReader.read " +
          s"output); got ${df.schema.simpleString}"))

  /** The sample ids of a probe- or gene-row frame; None for any other. */
  def sampleIdsOf(df: DataFrame): Option[Seq[String]] =
    df.schema.find(_.name == "value")
      .filter(_.metadata.contains(SampleIdsKey))
      .map(_.metadata.getStringArray(SampleIdsKey).toSeq)
}

/** GEO Series Matrix reader (S1–S3, `pipeline2.py:170-347,434-474`).
  *
  * Line routing is content-based rather than stateful: `!` lines are
  * metadata, `#` lines are skipped, the line containing `ID_REF` is the
  * sample header, everything else with enough tab-separated fields is a data
  * row — same net routing as the reference's `in_data_section` flag on
  * well-formed files, but order-independent so the scan parallelizes.
  *
  * Metadata and header lines are parsed on the driver: their count is
  * bounded by #samples × #characteristic-keys (dimension-sized by
  * construction), while the expression rows — the part that scales — stay
  * distributed. Every line goes through [[GeoLineParser]]; Spark's text
  * source does the file work (gzip, splits, directory listing).
  */
object GeoMatrixReader {

  private val CancerKeywords =
    Seq("cancer", "tumor", "tumour", "malignant", "carcinoma")
  private val BenignKeywords =
    Seq("benign", "normal", "healthy", "non-tumor", "non-cancer", "non-malignant")

  def read(spark: SparkSession, path: String): GeoData = {
    // One driver-side collect takes the '!' metadata block and every
    // ID_REF header line; the expression rows stay distributed. No
    // raw-text cache: at 100 TB caching the matrix text would store the
    // dataset twice. The collect is one narrow full scan whose OUTPUT is
    // dimension-sized (text sources don't push value predicates).
    val lines = spark.read.text(path)
    val v = col("value")
    val (headerLines, metaLines) = lines
      .filter(v.startsWith("!") ||
        (!v.startsWith("#") && v.contains("ID_REF")))
      .collect().map(_.getString(0)).toSeq
      .partition(GeoLineParser.isHeader)

    // The reference keeps raw (possibly quoted) sample ids in the expression
    // frame and strips quotes later during reconciliation
    // (`pipeline2.py:363-370`); graft folds the normalization into the parse.
    // A directory of matrices must share one header: the rows of every file
    // are labelled with these ids, so a second series would be mislabelled.
    val headers = headerLines.map(GeoLineParser.parseHeader).distinct
    val sampleIds: Seq[String] = headers match {
      case Seq(ids) => ids
      case Seq() => throw new IllegalArgumentException(
        s"No ID_REF header line found in $path")
      case _ => throw new IllegalArgumentException(
        s"$path mixes GEO series with ${headers.length} distinct ID_REF " +
          "headers: " + headers.map(_.mkString("[", ", ", "]")).mkString("; "))
    }
    val metadata = buildMetadata(spark, metaLines)

    // Each kept data row becomes one probe row.
    val n = sampleIds.length
    val expression = lines.as(Encoders.STRING).flatMap { line =>
      GeoLineParser.parseDataRow(line, n).iterator.map { case (probe, values) =>
        Row(probe, values)
      }
    }(Encoders.row(ProbeRows.Schema))
      .select(col("probe_id"), ProbeRows.value(col("value"), sampleIds))

    GeoData(expression, metadata, sampleIds)
  }

  /** S2 + the grouping rules (`pipeline2.py:213-347`): accession + title
    * lines, characteristics pivot (label taken from the FIRST sample's
    * "label: value" — a reference quirk kept as-is), cancer/benign keyword
    * assignment with tissue -> title -> any-characteristic precedence, and
    * the half/half default when either group has < 2 samples. The frame is
    * a local relation in `ordinal` order: collecting it runs no Spark job. */
  private[geo] def buildMetadata(spark: SparkSession,
                                 metaLines: Seq[String]): DataFrame = {
    // split limit -1: keep trailing empty fields (Python str.split
    // semantics — the last sample's empty characteristic must survive)
    def firstLine(prefix: String): Option[Array[String]] =
      metaLines.find(_.startsWith(prefix)).map(_.split("\t", -1))

    val sampleIds: Seq[String] = firstLine("!Sample_geo_accession")
      .map(_.drop(1).toSeq.map(GeoLineParser.pyStrip(_, "\""))).getOrElse(Seq.empty)
    val titles: Seq[String] = firstLine("!Sample_title")
      .map(_.drop(1).toSeq.map(GeoLineParser.pyStrip(_, "\""))).getOrElse(Seq.empty)

    val characteristics: Map[String, scala.collection.mutable.LinkedHashMap[String, String]] =
      sampleIds.map(_ -> scala.collection.mutable.LinkedHashMap.empty[String, String]).toMap

    metaLines.filter(_.startsWith("!Sample_characteristics_ch")).foreach { line =>
      val parts = line.split("\t", -1)
      if (parts.length >= 2) {
        val first = GeoLineParser.pyStrip(parts(1), "\"").trim
        if (first.contains(":")) {
          val label = first.split(":", 2)(0).trim.toLowerCase
          sampleIds.zipWithIndex.foreach { case (sid, i) =>
            if (i + 1 < parts.length) {
              var value = GeoLineParser.pyStrip(parts(i + 1), "\"").trim
              if (value.contains(":")) value = value.split(":", 2)(1).trim
              characteristics(sid)(label) = value
            }
          }
        }
      }
    }

    def matchGroup(text: String): Option[String] = {
      val t = text.toLowerCase
      if (CancerKeywords.exists(t.contains)) Some("case")
      else if (BenignKeywords.exists(t.contains)) Some("control")
      else None
    }

    var groups: Map[String, String] = sampleIds.flatMap { sid =>
      val fromTissue = characteristics(sid).get("tissue").flatMap(matchGroup)
      val fromTitle = fromTissue.orElse {
        val i = sampleIds.indexOf(sid)
        if (i < titles.length) matchGroup(titles(i)) else None
      }
      val fromAny = fromTitle.orElse(
        matchGroup(characteristics(sid).values.mkString(" ")))
      fromAny.map(sid -> _)
    }.toMap

    val caseCount = groups.valuesIterator.count(_ == "case")
    val controlCount = groups.valuesIterator.count(_ == "control")
    if (caseCount < 2 || controlCount < 2) {
      // Default half/half split (`pipeline2.py:301-309`).
      val midpoint = sampleIds.length / 2
      groups = sampleIds.zipWithIndex.map { case (sid, i) =>
        sid -> (if (i < midpoint) "control" else "case")
      }.toMap
    }

    val schema = StructType(Seq(
      StructField("sample_id", StringType, nullable = false),
      StructField("ordinal", IntegerType, nullable = false),
      StructField("title", StringType, nullable = true),
      StructField("condition", StringType, nullable = true),
      StructField("characteristics",
        MapType(StringType, StringType), nullable = false)))
    val rows = sampleIds.zipWithIndex.map { case (sid, i) =>
      Row(sid, i, if (i < titles.length) titles(i) else null,
        groups.get(sid).orNull, characteristics(sid).toMap)
    }
    spark.createDataFrame(rows.asJava, schema)
  }
}
