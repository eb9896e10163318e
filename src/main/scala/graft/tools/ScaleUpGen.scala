package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** sf1 slice generator (builder tool, not driver contract): scales the
  * read-only sf0.1 testdata 10× by unioning key-shifted copies, so the
  * per-round large-scale gate (SCALE.md "sf1 gate") has a measured
  * point one decade above the bench grain. NOT an oracle input — the
  * driver's DuckDB compare stays at sf0.01; this data exists purely to
  * time the top-N most expensive queries at 10× bench scale.
  *
  * Key discipline: every copy i shifts each table's surrogate keys by
  * i × (max key + 1) so foreign-key joins stay consistent (an order's
  * copy references the same customer's copy) and key cardinality
  * scales with the data — distinct/dedup/groupBy queries do 10× real
  * work instead of collapsing onto the original key domain.
  * `documents.text` gets a per-copy suffix token (a near-dup, not an
  * exact dup — the shape web-scale dedup actually faces); dimension
  * tables (region, nation) are copied unchanged.
  */
object ScaleUpGen {

  /** Zipf-hot-key remap (round-12 skew gate): both measured decades
    * replicate keys UNIFORMLY, so no gate has ever run a hot key — the
    * likeliest real 100-TB failure mode. With mode "skew", after the
    * 10× key-shifted scale-up, each fact table's join/group keys are
    * remapped so `hotMass` (50%) of rows land on the `H` (8) smallest
    * key values with Zipf(α=1.1) rank weights — the TOP key then holds
    * hotMass·w₁/Σw ≈ 20% of ALL rows (the judge-prescribed 10-20%
    * band), the second ~9%, a long uniform tail keeps the rest.
    * Foreign-key validity holds: keys 0..H−1 exist in every scaled
    * dimension's copy 0 (unshifted). The draw hashes a stable row
    * identity + salt, so the skewed slice is deterministic. */
  private val H = 8
  private val HotMass = 0.5
  private val Alpha = 1.1
  private def zipfHot(df: DataFrame, key: String, idCols: Seq[String],
                      salt: String): DataFrame = {
    val w = (1 to H).map(i => 1.0 / math.pow(i, Alpha))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    // pmod, not abs(...)%: abs(Long.MinValue) overflows negative, which
    // would unconditionally remap that row to hot key 0
    def u(s: String) =
      pmod(xxhash64(concat_ws("|",
        (idCols.map(col) :+ lit(s)): _*)), lit(1000000L)) / 1000000.0
    // inverse-CDF when-chain over the 8 ranks (rank i -> key i-1)
    var rank: org.apache.spark.sql.Column = lit((H - 1).toLong)
    for (i <- (H - 1) to 1 by -1)
      rank = when(u(salt + "2") < cum(i - 1), lit((i - 1).toLong))
        .otherwise(rank)
    df.withColumn(key,
      when(u(salt) < HotMass, rank.cast(df.schema(key).dataType))
        .otherwise(col(key)))
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else ""
    require(mode == "" || mode == "skew" || mode == "textskew",
      s"mode must be '', 'skew' or 'textskew', got '$mode'")
    val skew = mode == "skew"
    val textSkew = mode == "textskew"
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def t(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // one max-key probe per shifted column, reused across all copies
    def span(df: DataFrame, c: String): Long =
      df.agg(coalesce(max(col(c)), lit(0L)).cast("long")).head.getLong(0) + 1L

    val custSpan = span(t("customer"), "c_custkey")
    val suppSpan = span(t("supplier"), "s_suppkey")
    val partSpan = span(t("part"), "p_partkey")
    val orderSpan = span(t("orders"), "o_orderkey")
    val eventSpan = span(t("events"), "event_id")
    val userSpan = span(t("events"), "user_id")
    val docSpan = span(t("documents"), "doc_id")
    val vecSpan = span(t("embeddings"), "vec_id")

    /** Union `factor` copies, shifting the listed long key columns by
      * i × span each; `extra` post-processes each copy with its index. */
    def scale(df: DataFrame, shifts: Map[String, Long],
              extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, (col(c) + lit(i.toLong * s)).cast(
            df.schema(c).dataType))
        }
        extra(shifted, i)
      }.reduce(_ unionAll _)

    val outputs: Seq[(String, DataFrame)] = Seq(
      "region" -> t("region"),
      "nation" -> t("nation"),
      // entity NAMES get a per-copy suffix: real sf1 data has 10x
      // DISTINCT names, so leaving 10 exact copies of each name would
      // inflate every name-blocked operator's per-block pair volume
      // 100x (the q107 fuzzy-join artifact) — a property of the naive
      // copy, not of the operator being measured
      "customer" -> scale(t("customer"), Map("c_custkey" -> custSpan),
        (d, i) => if (i == 0) d
          else d.withColumn("c_name", concat(col("c_name"), lit(s" #$i")))),
      "supplier" -> scale(t("supplier"), Map("s_suppkey" -> suppSpan),
        (d, i) => if (i == 0) d
          else d.withColumn("s_name", concat(col("s_name"), lit(s" #$i")))),
      "part" -> scale(t("part"), Map("p_partkey" -> partSpan),
        (d, i) => if (i == 0) d
          else d.withColumn("p_name", concat(col("p_name"), lit(s" #$i")))),
      "orders" -> scale(t("orders"),
        Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan)),
      "lineitem" -> scale(t("lineitem"),
        Map("l_orderkey" -> orderSpan, "l_partkey" -> partSpan,
          "l_suppkey" -> suppSpan)),
      "events" -> scale(t("events"),
        Map("event_id" -> eventSpan, "user_id" -> userSpan)),
      "documents" -> scale(t("documents"), Map("doc_id" -> docSpan),
        (d, i) => if (i == 0) d
          else d.withColumn("text", concat(col("text"), lit(s" v$i")))
            .withColumn("n_chars", col("n_chars") + lit(3L))),
      // embeddings get a per-copy dimension ROTATION (norm- and
      // distribution-preserving, decorrelates copies): identical copies
      // would give every vector 10 exact clones and blow LSH candidate
      // pairs up 100x per bucket (the q32 15x gate artifact — a data
      // defect, not an operator one; real 10x corpora have 10x
      // DISTINCT vectors)
      "embeddings" -> scale(t("embeddings"), Map("vec_id" -> vecSpan),
        (d, i) => if (i == 0) d
          else d.withColumn("embedding",
            concat(slice(col("embedding"), i + 1, 10000),
              slice(col("embedding"), 1, i)))))

    // textskew: the realest 100-TB TEXT skew is boilerplate — one
    // header shingle block in ~30% of docs (site templates, license
    // footers, newsletter banners). Fact keys stay uniform so the axis
    // is isolated: only the postings family (shingle df distribution)
    // sees the change. Hash-deterministic per doc_id.
    val boilerplate = "subscribe to our newsletter for weekly updates " +
      "terms and conditions apply all rights reserved copyright " +
      "twenty twenty four"
    val textSkewed: Seq[(String, DataFrame)] =
      if (!textSkew) outputs
      else outputs.map {
        case ("documents", df) =>
          "documents" -> df
            .withColumn("text",
              when(pmod(xxhash64(col("doc_id"), lit("bp")),
                lit(100L)) < 30,
                concat(lit(boilerplate + " "), col("text")))
                .otherwise(col("text")))
            .withColumn("n_chars", length(col("text")).cast("long"))
        case other => other
      }

    // skew remap AFTER scaling so the hot keys draw from the full 10×
    // row population; each fact's stable row identity seeds the draw
    val skewed: Seq[(String, DataFrame)] =
      if (!skew) textSkewed
      else textSkewed.map {
        case ("orders", df) =>
          "orders" -> zipfHot(df, "o_custkey", Seq("o_orderkey"), "oc")
        case ("lineitem", df) =>
          "lineitem" -> zipfHot(
            zipfHot(df, "l_partkey", Seq("l_orderkey", "l_linenumber"),
              "lp"),
            "l_suppkey", Seq("l_orderkey", "l_linenumber"), "ls")
        case ("events", df) =>
          "events" -> zipfHot(df, "user_id", Seq("event_id"), "eu")
        case other => other
      }

    skewed.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"wrote $out/$name.parquet")
    }
    spark.stop()
  }
}
