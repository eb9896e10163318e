package graft.er

import graft.SparkSuite
import org.apache.spark.sql.functions._

class FellegiSunterSpec extends SparkSuite {
  import spark.implicits._

  test("blockedPairs: within-block pairs only, each unordered pair once") {
    val df = Seq((1L, "x", 10.0), (2L, "x", 20.0), (3L, "x", 30.0),
      (4L, "y", 40.0)).toDF("id", "blk", "v")
    val p = FellegiSunter.blockedPairs(df, "id", Seq("blk"))
    val got = p.select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(p.columns.toSet ==
      Set("blk", "l_id", "l_v", "r_id", "r_v"))
  }

  test("score: log2 likelihood-ratio weights, agree vs disagree") {
    val pairs = Seq((true, true), (true, false), (false, false))
      .toDF("f1", "f2")
    val r = FellegiSunter.score(pairs,
        Map("f1" -> ((0.9, 0.1)), "f2" -> ((0.8, 0.2))))
      .select("fs_score").as[Double].collect()
    val a1 = math.log(9.0) / math.log(2.0)       //  3.1699
    val d1 = math.log(0.1 / 0.9) / math.log(2.0) // -3.1699
    val a2 = 2.0                                 // log2(4)
    val d2 = -2.0                                // log2(0.25)
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(r(0) == r4(a1 + a2))
    assert(r(1) == r4(a1 + d2))
    assert(r(2) == r4(d1 + d2))
  }

  test("score rejects degenerate m/u") {
    val pairs = Seq(Tuple1(true)).toDF("f1")
    assert(intercept[IllegalArgumentException] {
      FellegiSunter.score(pairs, Map("f1" -> ((1.0, 0.1))))
    }.getMessage == "requirement failed: m/u in (0,1) for f1")
    assert(intercept[IllegalArgumentException] {
      FellegiSunter.score(pairs, Map.empty)
    }.getMessage == "requirement failed: at least one comparison field")
  }

  test("end-to-end: a planted near-duplicate outranks random pairs") {
    val df = Seq(
      (1L, "b1", 100.0), (2L, "b1", 101.0),     // near-dup: all agree
      (3L, "b1", 5000.0), (11L, "b1", -9000.0)) // strangers
      .toDF("id", "blk", "bal")
    val scored = FellegiSunter.score(
      FellegiSunter.blockedPairs(df, "id", Seq("blk"))
        .withColumn("bal_close", abs(col("l_bal") - col("r_bal")) < 500)
        .withColumn("key_mod", col("l_id") % 10 === col("r_id") % 10)
        .withColumn("sign_eq", (col("l_bal") >= 0) === (col("r_bal") >= 0)),
      Map("bal_close" -> ((0.85, 0.10)), "key_mod" -> ((0.90, 0.10)),
        "sign_eq" -> ((0.95, 0.50))))
    val top = scored.orderBy(col("fs_score").desc, col("l_id"))
      .select("l_id", "r_id").as[(Long, Long)].head()
    assert(top == ((1L, 11L)) || top == ((1L, 2L)))
    // (1,11) agrees on key_mod(1%10==11%10) but not balance/sign;
    // (1,2) agrees on balance + sign but not key_mod. Verify exact order:
    val w = Map("b" -> (math.log(8.5) / math.log(2)),
      "k" -> (math.log(9.0) / math.log(2)),
      "s" -> (math.log(1.9) / math.log(2)))
    val s12 = w("b") + (math.log(0.1 / 0.9) / math.log(2)) + w("s")
    val s111 = (math.log(0.15 / 0.9) / math.log(2)) + w("k") +
      (math.log(0.05 / 0.5) / math.log(2))
    assert(s12 > s111)
    assert(top == ((1L, 2L)))
  }
}
