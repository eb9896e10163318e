package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Seeded differential-fuzz table generator (round-10 verdict task 6).
  *
  * All 404 oracle fixtures are FIXED — the signed-zero (round 8) and
  * GPD-tie (round 9) bugs were both data-shape bugs a fixed fixture
  * happened to expose. This tool regenerates the test tables with
  * schema-preserving, adversarially-shaped perturbations — ties, hot
  * keys, empty groups, nulls in value AND group columns, exact and
  * negative zeros, unicode and empty strings, constant-date clumps,
  * boilerplate-duplicate documents — and the ordinary Verify +
  * selfcheck.py pipeline then re-compares Spark vs DuckDB on the
  * fuzzed tables:
  *
  *   sbt 'runMain graft.tools.FuzzGen <seed> <srcDir> <outDir>'
  *   sbt "runMain graft.Verify <outDir> /tmp/verify_fuzz <q1,q2,…>"
  *   python3 tools/selfcheck.py <outDir> /tmp/verify_fuzz
  *
  * Every perturbation decision is a pure function of
  * xxhash64(primary key, column tag, seed) — partition-independent and
  * reproducible: the SEED alone reproduces any divergence (FuzzGenSpec
  * pins bit-identical regeneration). Key/join columns are never
  * touched, so FK structure survives; row DROPS (hash % 37) create the
  * empty-group shapes.
  */
object FuzzGen {

  /** Per-table primary key used to key the hash stream. */
  private val pk = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  val tables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** The deterministic per-(row, column, seed) hash stream. For
    * lineitem the key is (l_orderkey, l_linenumber) so sibling lines
    * perturb independently. */
  private def h(table: String, tag: String, seed: Long): Column = {
    val keyCols: Seq[Column] =
      if (table == "lineitem") Seq(col("l_orderkey"), col("l_linenumber"))
      else Seq(col(pk(table)))
    pmod(xxhash64((keyCols :+ lit(tag) :+ lit(seed)): _*), lit(1000L))
  }

  /** Value-column double perturbation: nulls, exact zeros, sign flips
    * (0.0 under a flip yields -0.0 — the signed-zero shape), and mass
    * 1-dp rounding for tie pressure. */
  private def fuzzDouble(table: String, c: String, seed: Long): Column = {
    val k = h(table, c, seed)
    when(k < 60, lit(null).cast("double"))
      .when(k < 120, lit(0.0))
      .when(k < 180, -col(c))
      .when(k < 430, round(col(c), 1))
      .otherwise(col(c))
  }

  /** Free-string perturbation: unicode suffixes, empty strings, a rare
    * null (group-key nulls are a real ingest shape). Generator v3
    * (seeds >= 40, round-12 text axis) layers string-SHAPE extremes on
    * an independent hash stream: 1-char astral-plane values (surrogate
    * pairs — the byte- vs char- vs UTF-16-code-unit grain divergence
    * class), astral suffixes, CRLF injection, and whitespace-only
    * values. Versioned by seed: seeds < 40 reproduce v1/v2 output
    * bit-for-bit. */
  private def fuzzString(table: String, c: String, seed: Long): Column = {
    val k = h(table, c, seed)
    val v2 = when(k < 60, concat(col(c), lit(" β☃æé")))
      .when(k < 100, lit(""))
      .when(k < 130, lit(null).cast("string"))
      .otherwise(col(c))
    if (seed < 40) v2
    else {
      val k3 = h(table, c + "!v3", seed)
      when(k3 < 25, lit("🀄"))
        .when(k3 < 50, concat(col(c), lit("𝕏𐍈")))
        .when(k3 < 75, concat(lit("a\r\n"), col(c)))
        .when(k3 < 95, lit(" "))
        .otherwise(v2)
    }
  }

  /** Low-cardinality enum perturbation: collapse a slice onto one hot
    * value (skew + hot-key pressure) and a rare null group. */
  private def fuzzEnum(table: String, c: String, seed: Long): Column = {
    val k = h(table, c, seed)
    when(k < 150, lit("Z"))
      .when(k < 180, lit(null).cast("string"))
      .otherwise(col(c))
  }

  /** Timestamp clumping: a slice of rows lands on one constant instant
    * (date-grain tie pressure); the rest keep their spread. From seed
    * 37 (generator v2) a rare NULL timestamp joins in — the one null
    * axis v1 never exercised (event-time is nullable in real ingest,
    * and engines sort null instants at opposite ends); versioned by
    * seed so every historical divergence still reproduces bit-for-bit
    * from its seed. */
  private def fuzzTs(table: String, c: String, seed: Long): Column = {
    val k = h(table, c, seed)
    val v1 = when(k < 120, to_timestamp(lit("2024-06-15 12:00:00")))
      .otherwise(col(c))
    if (seed >= 37)
      when(k >= 970, lit(null).cast("timestamp")).otherwise(v1)
    else v1
  }

  /** Document-text perturbation: boilerplate duplicates (near-dup /
    * dedup pressure), unicode, and empty docs. Generator v3 (seeds >=
    * 40): the ~80 text/dedup/chunking queries had never been fuzzed on
    * string SHAPE — v3 adds 1-char docs (ascii AND astral: a surrogate
    * pair is 1 codepoint, 2 UTF-16 units, 4 UTF-8 bytes — the three
    * grains engines disagree on), astral-suffix docs, CRLF line
    * structure, whitespace-only docs, and NFD-decomposed accents
    * (e + combining acute vs precomposed é: equal NFC, unequal
    * codepoints). Versioned by seed. */
  private def fuzzText(table: String, c: String, seed: Long): Column = {
    val k = h(table, c, seed)
    val v2 = when(k < 100,
        lit("the quick brown fox jumps over the lazy dog " +
          "and then the quick brown fox jumps again over the same dog"))
      .when(k < 160, concat(col(c), lit(" — κόσμος 世界 🌍")))
      .when(k < 190, lit(""))
      .otherwise(col(c))
    if (seed < 40) v2
    else {
      val k3 = h(table, c + "!v3", seed)
      when(k3 < 20, lit("🀄"))
        .when(k3 < 40, lit("x"))
        .when(k3 < 65, concat(col(c), lit(" 𝕏𐍈🌌😀")))
        .when(k3 < 90,
          concat(lit("header\r\n"), col(c), lit("\r\ntrailer\r\n")))
        .when(k3 < 110, lit("   "))
        .when(k3 < 130, // NFD: e + U+0301 combining acute, not precomposed
          concat(col(c), lit(" café éclair")))
        .otherwise(v2)
    }
  }

  private val enums = Set("c_mktsegment", "o_orderstatus",
    "o_orderpriority", "l_returnflag", "l_linestatus", "event_type",
    "lang", "source", "p_brand", "p_type")

  /** Generator v4 (seeds >= 48, round-15 skew axis): Zipf-remap GROUP/
    * JOIN keys so every fuzz sweep also runs a fat key. q17's
    * sf1-skew divergence (float-sum ulps on a 46-session hot user)
    * was unreachable by v1–v3, whose keys stay uniform — value shape
    * alone never concentrates enough mass on one group for sum-order
    * effects to bite. Same inverse-CDF construction as
    * [[ScaleUpGen]]'s skew mode (H=8 hot keys, Zipf α=1.1, 50% hot
    * mass → top key ≈ 20% of all rows), drawn from the v4 hash stream
    * so seeds < 48 reproduce bit-for-bit. Remapped FK columns may
    * dangle after the drop filter — harmless for parity (the oracle
    * reads the same fuzzed parquet) and it adds the empty-join shape
    * for free. */
  private val skewKeys = Map(
    "events" -> Seq("user_id"),
    "orders" -> Seq("o_custkey"),
    "lineitem" -> Seq("l_partkey", "l_suppkey"))
  private val SkewH = 8
  private val SkewHotMass = 0.5
  private val SkewAlpha = 1.1
  private def fuzzKey(table: String, c: String, seed: Long)
                     (in: Column): Column = {
    val w = (1 to SkewH).map(i => 1.0 / math.pow(i, SkewAlpha))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    def u(tag: String) = h(table, c + tag, seed) / 1000.0
    var rank: Column = lit((SkewH - 1).toLong)
    for (i <- (SkewH - 1) to 1 by -1)
      rank = when(u("!v4r") < cum(i - 1), lit((i - 1).toLong)).otherwise(rank)
    when(u("!v4") < SkewHotMass, rank).otherwise(in)
  }

  /** Untouched columns: keys preserve FK structure; props stays valid
    * JSON; embeddings stay NaN-free finite vectors. */
  private def untouched(c: String): Boolean =
    c.endsWith("key") || c.endsWith("_id") || c == "props" ||
      c == "embedding" || c == "label" || c == "l_linenumber" ||
      c == "p_size" || c == "n_chars"

  /** The pure, seed-deterministic perturbation (unit-pinned). */
  def perturb(table: String, df: DataFrame, seed: Long): DataFrame = {
    val skewed = skewKeys.getOrElse(table, Nil).toSet
    val cols = df.schema.fields.map { f =>
      val c = f.name
      val out =
        if (seed >= 48 && skewed(c)) fuzzKey(table, c, seed)(col(c))
        else if (untouched(c)) col(c)
        else if (c == "text") fuzzText(table, c, seed)
        else if (enums.contains(c)) fuzzEnum(table, c, seed)
        else f.dataType.typeName match {
          case "double" => fuzzDouble(table, c, seed)
          case "string" => fuzzString(table, c, seed)
          case "timestamp" => fuzzTs(table, c, seed)
          case _ => col(c)
        }
      out.cast(f.dataType).as(c)
    }
    df.select(cols.toSeq: _*)
      .filter(h(table, "drop", seed) % 37 =!= 0) // empty-group pressure
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: FuzzGen <seed> <srcDir> <outDir>")
    val (seed, src, out) = (args(0).toLong, args(1), args(2))
    val spark = GraftSession.local(8)
    tables.foreach { t =>
      perturb(t, spark.read.parquet(s"$src/$t.parquet"), seed)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"fuzzed $t (seed $seed)")
    }
    spark.stop()
  }
}
