package graft.sample

import graft.SparkSuite

class SamplingSpec extends SparkSuite {
  import spark.implicits._

  private val rows = (0L until 1000L).map(i => (i, s"s${i % 4}")).toDF("k", "g")

  test("hashSample: deterministic, partitioning-independent, ~fraction") {
    val a = Sampling.hashSample(rows, "k", 0.2).select("k").as[Long].collect().sorted
    val b = Sampling.hashSample(rows.repartition(13), "k", 0.2)
      .select("k").as[Long].collect().sorted
    assert(a.toSeq == b.toSeq, "sample must not depend on partitioning")
    assert(a.length > 120 && a.length < 280, s"got ${a.length} of ~200")
    // salted sample is decorrelated, not a subset/superset
    val c = Sampling.hashSample(rows, "k", 0.2, salt = "x")
      .select("k").as[Long].collect().toSet
    assert(c != a.toSet)
  }

  test("mixtureSample: hits target mixture in expectation, drops unlisted") {
    // 250 rows per stratum; target 200 rows at 0.5/0.3/0.2 over three of
    // the four strata -> acceptance rates 0.4/0.24/0.16, s3 dropped
    val w = Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2)
    val got = Sampling.mixtureSample(rows, "g", "k", w, targetRows = 200)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(!got.contains("s3"), "unlisted stratum must drop")
    // each stratum within ±50% of its expected contribution (hash noise)
    assert(got("s0") > 50 && got("s0") < 150, s"s0=${got("s0")} of ~100")
    assert(got("s1") > 30 && got("s1") < 90, s"s1=${got("s1")} of ~60")
    assert(got("s2") > 20 && got("s2") < 60, s"s2=${got("s2")} of ~40")
    // a stratum whose share already undershoots its target is kept whole
    val all = Sampling.mixtureSample(rows, "g", "k", Map("s0" -> 1.0),
      targetRows = 5000)
    assert(all.count() == 250, "rate caps at 1.0 — every s0 row kept")
    // deterministic and partitioning-independent
    val a = Sampling.mixtureSample(rows, "g", "k", w, 200)
      .select("k").as[Long].collect().sorted
    val b = Sampling.mixtureSample(rows.repartition(11), "g", "k", w, 200)
      .select("k").as[Long].collect().sorted
    assert(a.toSeq == b.toSeq)
  }

  test("contentSplit: duplicates co-assign, splits partition, ~weights") {
    // 300 distinct contents, each duplicated 3x under different ids
    val docs = (0L until 900L).map(i => (i, s"content ${i % 300}"))
      .toDF("id", "text")
    val got = Sampling.contentSplit(docs, "text",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // zero leakage: every content maps to exactly one split
    val leaky = got.groupBy("text")
      .agg(org.apache.spark.sql.functions.countDistinct("split").as("ns"))
      .filter($"ns" > 1).count()
    assert(leaky == 0L)
    // every row assigned; proportions loosely near 80/10/10
    val counts = got.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 900L)
    assert(counts("train") > 600 && counts("train") < 840, counts.toString)
    assert(counts("val") > 30 && counts("test") > 30, counts.toString)
    // deterministic and partitioning-independent
    val a = got.select("id", "split").as[(Long, String)].collect().sorted.toSeq
    val b = Sampling.contentSplit(docs.repartition(17), "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").as[(Long, String)].collect().sorted.toSeq
    assert(a == b)
    // degenerate weights rejected loudly
    val err = intercept[IllegalArgumentException] {
      Sampling.contentSplit(docs, "text", Seq("a" -> 0.0, "b" -> 1.0))
    }
    assert(err.getMessage ===
      "requirement failed: splits must be non-empty with positive weights")
  }

  test("temperatureSample: null strata get no mass; bad alpha rejected") {
    val skew = ((0L until 700L).map(i => (i, "s0")) ++
      (0L until 300L).map(i => (700 + i, s"s${1 + i % 3}"))).toDF("k", "g")
    // null-stratum rows neither consume target mass nor get sampled:
    // counting them would scale every real stratum's rate down
    val withNulls = skew.union(
      (0L until 1000L).map(i => (5000 + i, Option.empty[String]))
        .toDF("k", "g"))
    def sampled(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Sampling.temperatureSample(df, "g", "k", alpha = 0.5, targetRows = 200)
        .select("k").as[Long].collect().sorted.toSeq
    assert(sampled(withNulls) == sampled(skew))
    val err = intercept[IllegalArgumentException] {
      Sampling.temperatureSample(skew, "g", "k", alpha = 1.5, targetRows = 200)
    }
    assert(err.getMessage === "requirement failed: alpha must be in [0, 1]")
  }

  test("temperatureSample: up-samples small strata vs natural rate") {
    val skew = ((0L until 700L).map(i => (i, "s0")) ++
      (0L until 300L).map(i => (700 + i, s"s${1 + i % 3}"))).toDF("k", "g")
    val got = Sampling.temperatureSample(skew, "g", "k",
        alpha = 0.5, targetRows = 200)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    // expected rates: w ∝ sqrt(n): s0 sqrt(700)=26.46, others 10 each
    // -> w0=0.469, wi=0.177; rate0 = 200*0.469/700 = 0.134,
    //    ratei = 200*0.177/100 = 0.354 — small strata ~2.6x the rate
    val r0 = got.getOrElse("s0", 0L).toDouble / 700
    val r1 = got.getOrElse("s1", 0L).toDouble / 100
    assert(r1 > r0 * 1.5, s"small-stratum rate $r1 vs big $r0")
    assert(got.values.sum > 120 && got.values.sum < 280,
      s"total ${got.values.sum} of ~200")
  }

  test("weightedSample: n per stratum, weight-proportional, deterministic") {
    // two strata; within each, ids 0-49 get weight 1, ids 50-99 weight 20
    val weighted = (0L until 200L)
      .map(i => (i, s"s${i / 100}", if (i % 100 < 50) 1.0 else 20.0))
      .toDF("k", "g", "w")
    val got = Sampling.weightedSample(weighted, "g", "k", "w", 20)
    val counts = got.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts == Map("s0" -> 20L, "s1" -> 20L))
    // heavy rows dominate the sample but light rows are not impossible
    val heavy = got.filter($"w" === 20.0).count()
    assert(heavy > 30, s"heavy rows in sample: $heavy of 40")
    // partitioning-independent
    val a = got.select("k").as[Long].collect().sorted
    val b = Sampling.weightedSample(weighted.repartition(7), "g", "k", "w", 20)
      .select("k").as[Long].collect().sorted
    assert(a.toSeq == b.toSeq)
    // null / non-positive weights excluded, schema unchanged
    val withBad = weighted.union(
      Seq((900L, "s0", 0.0), (901L, "s0", -1.0)).toDF("k", "g", "w"))
    val ids = Sampling.weightedSample(withBad, "g", "k", "w", 200)
      .select("k").as[Long].collect().toSet
    assert(!ids.contains(900L) && !ids.contains(901L))
    assert(got.columns.toSeq == weighted.columns.toSeq)
  }

  test("stratifiedHashSample: exactly n per stratum, deterministic") {
    val got = Sampling.stratifiedHashSample(rows, "g", "k", 10)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(got == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L, "s3" -> 10L))
    val again = Sampling.stratifiedHashSample(rows.repartition(7), "g", "k", 10)
      .select("k").as[Long].collect().sorted
    val first = Sampling.stratifiedHashSample(rows, "g", "k", 10)
      .select("k").as[Long].collect().sorted
    assert(again.toSeq == first.toSeq)
  }

  test("hashShard: full range, deterministic, partitioning-independent, " +
    "roughly balanced") {
    val sharded = Sampling.hashShard(rows, "k", 8)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    assert(sharded.values.forall(s => s >= 0 && s < 8))
    // every shard populated and no shard hogs the table (md5 uniformity;
    // `rows` has a few hundred keys)
    val counts = sharded.values.groupBy(identity).view.mapValues(_.size)
    assert(counts.size == 8 && counts.values.max <= sharded.size / 2)
    val again = Sampling.hashShard(rows.repartition(7), "k", 8)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    assert(again == sharded)
    // salt decorrelates assignments
    val salted = Sampling.hashShard(rows, "k", 8, salt = "v2")
      .select("k", "shard").as[(Long, Long)].collect().toMap
    assert(salted != sharded)
  }
}
