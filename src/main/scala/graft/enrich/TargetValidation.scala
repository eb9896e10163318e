package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.gfunctions.is_valid_symbol

/** Target validation against offline Ensembl/OpenTargets snapshots
  * (S6/S7, J7, A13, A16, F6/F7; `pipeline2.py:829-1021`).
  *
  * The reference's N+1 synchronous HTTP loop becomes two left-outer
  * broadcast joins with identical miss semantics (zero-filled metrics,
  * `pipeline2.py:1002-1009`). The snapshot keeps the GraphQL result shape
  * (FIXTURES.md §3) so an online `mapPartitions` connector could slot in
  * without schema change.
  */
object TargetValidation {

  /** OpenTargets GraphQL response shape (`pipeline2.py:883-910`). */
  val openTargetsSchema: StructType = StructType.fromDDL(
    """ensembl_id STRING, approvedSymbol STRING, biotype STRING,
      |knownDrugs STRUCT<count: BIGINT,
      |  rows: ARRAY<STRUCT<drug: STRUCT<id: STRING, name: STRING>>>>,
      |associatedDiseases STRUCT<count: BIGINT,
      |  rows: ARRAY<STRUCT<disease: STRUCT<id: STRING, name: STRING>,
      |              score: DOUBLE>>>""".stripMargin)

  def loadOpenTargetsSnapshot(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(openTargetsSchema).json(path)

  /** (symbol, ensembl_id) csv with header. One row per symbol: real
    * Ensembl snapshots can map a symbol to several ids, and a duplicate
    * would fan out the enrichment left join into multiple final-target
    * rows per gene (the reference's dict lookup holds exactly one
    * mapping) — the minimum id wins, deterministically. */
  def loadEnsemblSnapshot(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(col("symbol"), col("ensembl_id"))
      .groupBy("symbol").agg(min(col("ensembl_id")).as("ensembl_id"))

  /** F7 + §2.6 top-k + J7 + A13 + A16.
    *
    * @param targetScores (gene, composite_score, ...) sorted or not — the
    *                     top-N cut re-sorts deterministically
    * @return (gene, composite_score, num_known_drugs, avg_association_score,
    *         drugability_score) sorted by drugability desc — the
    *         final_targets.csv contract
    */
  def validate(targetScores: DataFrame, ensembl: DataFrame,
               openTargets: DataFrame, topN: Int = 20): DataFrame = {
    val top = targetScores
      .filter(is_valid_symbol(col("gene")))
      .orderBy(col("composite_score").desc, col("gene"))
      .limit(topN)
      .select("gene", "composite_score")

    val withEns = top.join(
      broadcast(ensembl.select(col("symbol"), col("ensembl_id"))),
      top("gene") === col("symbol"), "left").drop("symbol")
    val joined = withEns.join(
      broadcast(openTargets), Seq("ensembl_id"), "left")

    // A13: mean disease-association score over the rows array, 0 if empty
    // (`pipeline2.py:983-985`); null scores are skipped like the reference's
    // `if row.get("score") is not None`.
    val scores = filter(
      col("associatedDiseases.rows"), r => r.getField("score").isNotNull)
    val nScores = coalesce(size(scores), lit(0))
    val avgScore = when(nScores > 0,
      aggregate(scores, lit(0.0), (acc, r) => acc + r.getField("score")) / nScores)
      .otherwise(lit(0.0))
    val nDrugs = coalesce(col("knownDrugs.count"), lit(0L))

    joined
      .withColumn("num_known_drugs", nDrugs)
      .withColumn("__avg", avgScore)
      .withColumn("avg_association_score", round(col("__avg"), 3))
      // A16: drugability from the UNrounded average, then rounded — the
      // reference's exact arithmetic order (`pipeline2.py:988-998`).
      .withColumn("drugability_score",
        round(nDrugs * 0.6 + col("__avg") * 0.4, 3))
      .select("gene", "composite_score", "num_known_drugs",
        "avg_association_score", "drugability_score")
      .orderBy(col("drugability_score").desc, col("gene"))
  }
}
