package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Lloyd's k-means over an embedding column — the clustering step under
  * corpus curation (topic balancing, SemDeDup cell structure, IVF list
  * training). Deterministic by construction so two engines (or two
  * runs) agree bit-for-bit:
  *
  *  - init: the k lowest-id vectors, cell = id rank (no RNG);
  *  - assignment: argmin of the 9-dp-ROUNDED L2 distance, ties to the
  *    lowest cell — the rounding absorbs cross-engine fused-multiply
  *    noise so a boundary vector cannot flip cells;
  *  - update: per-dimension mean ROUNDED to 6 dp — the means are where
  *    summation order leaks between engines, and re-rounding each round
  *    stops drift from compounding across iterations;
  *  - empty clusters keep their previous centroid.
  *
  * Scale shape: each iteration is one broadcast crossJoin of the k×dim
  * centroid table against the vectors (map-side argmin, no shuffle) +
  * one dim-column aggregate (map-side partials) — the classic
  * mini-batch-free distributed Lloyd's. The distance fold runs inside
  * codegen'd array intrinsics (zip_with/aggregate), not a UDF.
  */
object KMeans {

  /** Run `iters` (assign, update) rounds from the deterministic seed,
    * then report the final assignment: (cell BIGINT, n_members BIGINT,
    * inertia = Σd² rounded 2dp), ordered by cell. */
  def lloydStats(vecs: DataFrame, id: String, vec: String,
                 k: Int, iters: Int): DataFrame = Pin.scope { pin =>
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val v = pin(vecs.select(col(id).as("__vid"),
        col(vec).cast("array<double>").as("__e")))
    val dim = v.select(size(col("__e")).as("d")).head().getInt(0)

    def dist(e: Column, ce: Column): Column =
      round(sqrt(aggregate(
        zip_with(e, ce, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z)), 9)

    def assign(cent: DataFrame): DataFrame =
      v.crossJoin(broadcast(cent))
        .withColumn("__d", dist(col("__e"), col("__ce")))
        .groupBy(col("__vid"))
        .agg(min(struct(col("__d"), col("__cell"), col("__e"))).as("__m"))
        .select(col("__vid"), col("__m.__d").as("__d"),
          col("__m.__cell").as("__cell"), col("__m.__e").as("__e"))

    // Centroids live on the DRIVER between rounds — k×dim doubles,
    // bounded by the k parameter (the driver-bounded-collect contract).
    // They used to round-trip through a per-iteration localCheckpoint
    // (one extra job + cache write per round) and a cent join; the
    // means aggregate is unchanged — same expressions, same 6-dp
    // rounding, bit-identical values — it is collected instead of
    // joined back, so each Lloyd round is exactly ONE job (assign +
    // means) instead of two, with no growing cache. Empty clusters
    // keep their previous centroid, as before; a present group's mean
    // array is taken as-is (null components and all), mirroring the
    // old coalesce-on-whole-array semantics.
    import vecs.sparkSession.implicits._
    var cent: Seq[(Long, Seq[Option[Double]])] =
      v.orderBy(col("__vid")).limit(k).collect().zipWithIndex.map {
        case (r, i) =>
          i.toLong -> r.getSeq[Any](1)
            .map(x => Option(x).map(_.asInstanceOf[Double])).toSeq
      }.toSeq
    def centDf: DataFrame =
      cent.toDF("__cell", "__ce")
        .select(col("__cell"), col("__ce").cast("array<double>"))
    var iter = 0
    while (iter < iters) {
      val meanCols = (0 until dim).map(j =>
        round(avg(element_at(col("__e"), j + 1)), 6).as(s"__c$j"))
      val means = assign(centDf).groupBy(col("__cell"))
        .agg(meanCols.head, meanCols.tail: _*)
        .collect().map { r =>
          r.getLong(0) -> (1 to dim).map(j =>
            if (r.isNullAt(j)) Option.empty[Double]
            else Some(r.getDouble(j))).toSeq
        }.toMap
      cent = cent.map { case (c, old) => c -> means.getOrElse(c, old) }
      iter += 1
    }
    assign(centDf).groupBy(col("__cell").as("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("__d") * col("__d")), 2).as("inertia"))
      .orderBy(col("cell"))
      .localCheckpoint()
  }
}
