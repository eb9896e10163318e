package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.util.Pin

/** Grid-blocked DBSCAN over integer planar coordinates — the density
  * clustering composition: [[graft.join.SpatialJoin]]'s cell blocking
  * generates the ε-neighbor pairs, a count aggregate separates core
  * from border/noise, and [[Dedup.connectedComponents]] (size-
  * dispatched driver union-find / large-star-small-star) labels the
  * core graph. Clusters are re-labeled to their MIN member id, so the
  * labeling is engine-independent (CC roots are an implementation
  * detail; the min-id relabel is one aggregate + join over the
  * core-sized table).
  *
  * Exactness: coordinates are cast to LONG and all distances compared
  * as squared integers (dist² ≤ ε²) — no float boundary anywhere, so
  * an all-pairs SQL oracle reproduces membership bit-for-bit.
  *
  * Scale: neighbor pairs come from the 3×3 cell equi-join (constant ×9
  * probe explode, never all-pairs); per-cell density is the skew knob
  * exactly as in the spatial NN join. The neighbor-count and
  * border-assignment aggregates run at pair grain (candidate-
  * proportional); the CC input is core-core pairs only.
  *
  * DBSCAN semantics implemented: |N_ε(p)| counts p itself; core ⇔
  * count ≥ minPts; border = non-core within ε of ≥1 core (assigned the
  * MIN cluster among adjacent cores — deterministic where classic
  * DBSCAN is scan-order-dependent); noise = the rest. Border points
  * adjacent to two clusters thus get the smaller label, documented
  * divergence from the order-dependent original. */
object Dbscan {

  /** (id, role ∈ 'core'|'border'|'noise', cluster BIGINT — min member
    * id of the cluster, null for noise). `id` must be a LONG-castable
    * unique key; x/y integer-valued. */
  def cluster(points: DataFrame, id: String, x: String, y: String,
              eps: Long, minPts: Int): DataFrame = Pin.scope { pin =>
    require(eps > 0 && minPts >= 1, "eps and minPts must be positive")
    val pts = pin(points.select(col(id).cast("long").as("__id"),
        col(x).cast("long").as("__x"), col(y).cast("long").as("__y")))
    def cell(c: Column): Column = floor(c.cast("double") / eps).cast("long")
    val probes = pts
      .withColumn("__dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("__id").as("__ia"), col("__x").as("__xa"),
        col("__y").as("__ya"),
        (cell(col("__x")) + col("__dx")).as("__cx"),
        (cell(col("__y")) + col("__dy")).as("__cy"))
    val cells = pts.select(col("__id").as("__ib"), col("__x").as("__xb"),
      col("__y").as("__yb"), cell(col("__x")).as("__cx"),
      cell(col("__y")).as("__cy"))
    // Directed ε-neighbor pairs (both orientations; self excluded).
    val d2 = (col("__xa") - col("__xb")) * (col("__xa") - col("__xb")) +
      (col("__ya") - col("__yb")) * (col("__ya") - col("__yb"))
    val pairs = pin(probes.join(cells, Seq("__cx", "__cy"))
      .filter(col("__ia") =!= col("__ib") && d2 <= lit(eps * eps))
      .select(col("__ia"), col("__ib")))
    val nbrCnt = pairs.groupBy(col("__ia")).agg(count(lit(1)).as("__nn"))
    // core ⇔ 1 (self) + neighbors ≥ minPts
    val roles = pin(pts.join(nbrCnt, pts("__id") === nbrCnt("__ia"), "left")
      .select(col("__id"),
        (coalesce(col("__nn"), lit(0L)) + 1 >= minPts).as("__core")))
    val coreIds = roles.filter(col("__core")).select(col("__id"))
    val coreEdges = pairs
      .join(coreIds.withColumnRenamed("__id", "__ia"), Seq("__ia"))
      .join(coreIds.withColumnRenamed("__id", "__ib"), Seq("__ib"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"))
    val comp = Dedup.connectedComponents(coreEdges)
    // Min-id relabel + singleton cores (no core neighbor = own cluster).
    val minLabel = comp.groupBy(col("component"))
      .agg(min(col("id")).as("__cl"))
    val coreClusters = pin(coreIds
      .join(comp.join(minLabel, Seq("component"))
          .select(col("id").as("__id"), col("__cl")),
        Seq("__id"), "left")
      .select(col("__id"), coalesce(col("__cl"), col("__id")).as("cluster")))
    // Border: non-core adjacent to ≥1 core → min adjacent core cluster.
    val borderClusters = pairs
      .join(roles.filter(!col("__core")).select(col("__id").as("__ia")),
        Seq("__ia"))
      .join(coreClusters.withColumnRenamed("__id", "__ib"), Seq("__ib"))
      .groupBy(col("__ia"))
      .agg(min(col("cluster")).as("cluster"))
    roles
      .join(coreClusters.withColumnRenamed("cluster", "__ccl"),
        Seq("__id"), "left")
      .join(borderClusters.withColumnRenamed("__ia", "__id")
          .withColumnRenamed("cluster", "__bcl"),
        Seq("__id"), "left")
      .select(col("__id").as(id),
        when(col("__core"), lit("core"))
          .when(col("__bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("__core"), col("__ccl"))
          .otherwise(col("__bcl")).as("cluster"))
      .localCheckpoint()
  }
}
