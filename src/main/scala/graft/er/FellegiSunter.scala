package graft.er

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fellegi–Sunter probabilistic record-linkage scoring (Fellegi &
  * Sunter 1969, JASA): candidate pairs get a log-likelihood-ratio
  * match weight Σ_f [agree_f · log2(m_f/u_f) +
  * (1−agree_f) · log2((1−m_f)/(1−u_f))], where m_f = P(agree | match)
  * and u_f = P(agree | non-match) per comparison field.
  *
  * The library splits the ER pipeline the scalable way: blocking
  * produces a bounded candidate set (never all-pairs — the same
  * discipline as the minhash/simhash band joins), agreement predicates
  * are plain boolean columns on the pair frame, and scoring is one
  * projection. Complements [[graft.dedup.Survivorship.goldenRecords]]
  * (which consumes the matched clusters this scoring decides).
  */
object FellegiSunter {

  /** Within-block candidate pairs: self-join on the blocking keys with
    * `id` strictly increasing to emit each unordered pair once. Every
    * non-key payload column appears twice as `l_<col>` / `r_<col>`.
    * The join shuffles on the block keys only; block sizes bound the
    * pair count (callers pick blocking with bounded fan-out, the
    * standard ER contract).
    */
  def blockedPairs(df: DataFrame, id: String,
                   blockCols: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(blockCols.contains).toSeq
    def side(p: String): DataFrame = df.select(
      (blockCols.map(col) ++ payload.map(c => col(c).as(s"$p$c"))): _*)
    side("l_").join(side("r_"), blockCols)
      .filter(col(s"l_$id") < col(s"r_$id"))
  }

  /** Match weight over precomputed boolean agreement columns.
    * `fields` maps agreement column name → (m, u). Adds
    * `fs_score` (4dp) and per-field weights are folded into one
    * codegen'd expression — no UDF, no extra pass.
    */
  def score(pairs: DataFrame,
            fields: Map[String, (Double, Double)]): DataFrame = {
    require(fields.nonEmpty, "at least one comparison field")
    fields.foreach { case (f, (m, u)) =>
      require(m > 0 && m < 1 && u > 0 && u < 1, s"m/u in (0,1) for $f")
    }
    val log2 = math.log(2.0)
    val w = fields.toSeq.sortBy(_._1).map { case (f, (m, u)) =>
      when(col(f), lit(math.log(m / u) / log2))
        .otherwise(lit(math.log((1 - m) / (1 - u)) / log2))
    }.reduce(_ + _)
    pairs.withColumn("fs_score", round(w, 4))
  }
}
