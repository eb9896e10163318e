package graft.de

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.SparkSuite

class StatsSpec extends SparkSuite {

  /** Both Welch forms over (gene, condition, value) rows of one gene: the
    * long aggregate ([[Stats.welchTTest]]) and the row map over the gene's
    * vector, values in row order ([[Stats.welchTTestRows]]). */
  private def welchBoth(rows: Seq[(String, String, Double)]): Seq[Row] = {
    import spark.implicits._
    val long = Stats.welchTTest(rows.toDF("gene", "condition", "value"),
      Seq("gene"), "condition", "value")
    val vector = Stats.welchTTestRows(
      Seq((rows.head._1, rows.map(_._3))).toDF("gene", "value"), "gene", "value",
      rows.map(_._2 == "case").toArray, rows.map(_._2 == "control").toArray)
    assert(long.columns.toSeq == vector.columns.toSeq)
    Seq(long.collect().head, vector.collect().head)
  }

  test("welchTTest matches scipy ttest_ind(equal_var=False) on a pinned case") {
    // case = [3.1,4.2,5.3,4.8], control = [2.0,2.5,1.8,2.2,2.4]; expected
    // values computed with an independent incomplete-beta implementation
    // (scipy semantics, tolerance 1e-9).
    val rows = Seq(3.1, 4.2, 5.3, 4.8).map(v => ("g1", "case", v)) ++
      Seq(2.0, 2.5, 1.8, 2.2, 2.4).map(v => ("g1", "control", v))
    for (r <- welchBoth(rows)) {
      assert(approx(r.getAs[Double]("mean_case"), 4.35))
      assert(approx(r.getAs[Double]("mean_control"), 2.18))
      assert(r.getAs[Long]("n_case") == 4L && r.getAs[Long]("n_control") == 5L)
      assert(approx(r.getAs[Double]("log2fc"), 2.17))
      assert(approx(r.getAs[Double]("t_stat"), 4.424273929811939))
      assert(approx(r.getAs[Double]("t_df"), 3.441202274363128))
      assert(approx(r.getAs[Double]("pvalue"), 0.016005107446869053))
    }
  }

  test("welchTTestRows gives the aggregate's bits over one in-order " +
    "partition: avg, var_samp and count applied in vector order") {
    val rng = new scala.util.Random(7)
    val ids = 0 until 11
    val isCase = ids.map(_ % 3 != 0).toArray
    val isControl = ids.map(_ % 3 == 0).toArray
    val genes = (0 until 40).map { g =>
      s"g$g" -> ids.map(i =>
        if (g % 5 == 0 && i == 3) null           // a missing cell
        else if (g % 7 == 0 && isControl(i) && i > 0) null   // one control value
        else java.lang.Double.valueOf(rng.nextGaussian() * 1e3 + g))
    }
    val longRows = for ((g, vs) <- genes; i <- ids)
      yield Row(g, if (isCase(i)) "case" else "control", vs(i))
    val long = spark.createDataFrame(spark.sparkContext.parallelize(longRows, 1),
      StructType.fromDDL("gene STRING, condition STRING, value DOUBLE"))
    val vectors = spark.createDataFrame(spark.sparkContext.parallelize(
        genes.map { case (g, vs) => Row(g, vs) }, 3),
      StructType.fromDDL("gene STRING, value ARRAY<DOUBLE>"))
    def byGene(df: DataFrame) = df.collect().map(r => r.getString(0) ->
      r.toSeq.tail.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case o => o
      }).toMap
    val want = byGene(Stats.welchTTest(long, Seq("gene"), "condition", "value"))
    val got = byGene(Stats.welchTTestRows(vectors, "gene", "value", isCase, isControl))
    assert(got.size == 40 && got == want)
    // the one-control-value genes: var_samp null, so t and p are null
    assert(got("g7").last == null)
  }

  test("t-CDF p-values match the exact regularized incomplete beta at pinned points") {
    import spark.implicits._
    import graft.functions.gfunctions.t_test_pvalue
    // reference values computed with 30-digit mpmath betainc
    val pinned = Seq(
      (2.0, 10.0, 0.073388034771),
      (1.0, 5.0, 0.363217467649),
      (0.5, 1000.0, 0.617185080834),
      (3.2, 4000.0, 0.001385018910),
      (0.1, 2.5, 0.927806544062),
      (5.5, 12345.0, 3.8735e-8),
      (0.01, 3.0, 0.992649111413),
      (1.7, 49.2, 0.095445342429),
      (-2.0, 10.0, 0.073388034771))  // two-sided: sign-invariant
    val got = pinned.map { case (t, df, _) => (t, df) }
      .toDF("t", "df")
      .select($"t", $"df", t_test_pvalue($"t", $"df").as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    pinned.foreach { case (t, df, want) =>
      assert(approx(got((t, df)), want, 1e-7), s"t=$t df=$df")
    }
  }

  test("welch t flips sign under group swap; p unchanged") {
    val rows = Seq(1.0, 2.0, 3.0).map(v => ("g", "case", v)) ++
      Seq(4.0, 5.5, 6.0, 7.0).map(v => ("g", "control", v))
    val swapped = rows.map { case (g, c, v) =>
      (g, if (c == "case") "control" else "case", v) }
    for ((a, b) <- welchBoth(rows).zip(welchBoth(swapped))) {
      assert(approx(a.getAs[Double]("t_stat"), -b.getAs[Double]("t_stat")))
      assert(approx(a.getAs[Double]("pvalue"), b.getAs[Double]("pvalue")))
    }
  }

  test("welch p null when a group is constant-free (n<2) or zero-SE") {
    val rows = Seq(("g", "case", 1.0), ("g", "case", 1.0),
      ("g", "control", 1.0), ("g", "control", 1.0))
    for (r <- welchBoth(rows)) {
      // zero variance both sides -> SE 0 -> t null -> p null (scipy: NaN)
      assert(r.isNullAt(r.fieldIndex("t_stat")))
      assert(r.isNullAt(r.fieldIndex("pvalue")))
    }
  }

  test("bhAdjust matches statsmodels fdr_bh on a pinned case, nulls isolated") {
    import spark.implicits._
    val df = Seq(("a", Some(0.01)), ("b", Some(0.04)), ("c", Some(0.03)),
      ("d", Some(0.005)), ("e", None), ("f", Some(0.20)))
      .toDF("id", "pvalue")
    val out = Stats.bhAdjust(df, "pvalue", "adj", tieBreak = Seq("id"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex("adj"))) None else Some(r.getAs[Double]("adj")))).toMap
    assert(approx(out("a").get, 0.025))
    assert(approx(out("b").get, 0.05))
    assert(approx(out("c").get, 0.049999999999999996))
    assert(approx(out("d").get, 0.025))
    assert(out("e").isEmpty)   // null p stays null, excluded from m
    assert(approx(out("f").get, 0.20))
  }

  test("bhAdjust properties: monotone in p-rank, within [0,1], idempotent cut") {
    import spark.implicits._
    // deterministic pseudo-random p's
    val ps = (1 to 200).map(i => ("k" + i, ((i * 7919) % 1009) / 1009.0))
    val out = Stats.bhAdjust(ps.toDF("id", "pvalue"), "pvalue", "adj", Seq("id"))
      .orderBy("pvalue").collect().map(_.getAs[Double]("adj"))
    assert(out.forall(a => a >= 0.0 && a <= 1.0))
    assert(out.sliding(2).forall { case Array(x, y) => x <= y; case _ => true })
  }

  test("distributed BH equals windowed BH exactly (incl. nulls and ties)") {
    import spark.implicits._
    val ps = (1 to 997).map { i =>
      val p = if (i % 19 == 0) None else Some(((i * 7919) % 1009) / 1009.0)
      ("k" + i, p)
    } ++ Seq(("t1", Some(0.25)), ("t2", Some(0.25)), ("t3", Some(0.25)))
    val df = ps.toDF("id", "pvalue").repartition(7)
    val windowed = Stats.bhAdjust(df, "pvalue", "adj", Seq("id"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex("adj"))) None else Some(r.getDouble(r.fieldIndex("adj"))))).toMap
    val distributed = Stats.bhAdjust(df, "pvalue", "adj", Seq("id"),
        distributedThreshold = 1L)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex("adj"))) None else Some(r.getDouble(r.fieldIndex("adj"))))).toMap
    assert(windowed.size == distributed.size)
    // bit-exact equality: both forms apply the same operations in order
    windowed.foreach { case (k, v) => assert(distributed(k) == v, s"at $k") }
  }

  /** [[Stats.bhAdjustRows]] against both branches of [[Stats.bhAdjust]]
    * (ties by gene): every adjusted value compared with `==`, nulls in
    * place. */
  private def assertDriverBh(rows: Seq[(String, java.lang.Double)]): Unit = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (g, p) => Row(g, p) }, 3),
      StructType.fromDDL("gene STRING, pvalue DOUBLE"))
    val got = Stats.bhAdjustRows(rows.map(_._1).toIndexedSeq, rows.map(_._2).toIndexedSeq)
    assert(got.length == rows.size)
    for (threshold <- Seq(Long.MaxValue, 0L)) {   // windowed, distributed
      val want = Stats.bhAdjust(df, "pvalue", "adj", Seq("gene"), threshold)
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(want.size == rows.size)
      for (((g, _), a) <- rows.zip(got))
        assert(Option(a).map(_.doubleValue) == want(g), s"$g, threshold $threshold")
    }
  }

  test("driver BH has bhAdjust's bits on both branches: ties, p = 0 and " +
    "1, null and NaN p, m = 0 and 1, UTF-8 tie-break") {
    val nan = java.lang.Double.valueOf(Double.NaN)
    def d(x: Double) = java.lang.Double.valueOf(x)
    // zＡ < z𝐀 in UTF-8 bytes, z𝐀 < zＡ in UTF-16 units
    assertDriverBh(Seq("a" -> d(0.01), "b" -> d(0.04), "c" -> d(0.03),
      "d" -> d(0.005), "e" -> null, "f" -> d(0.2), "g" -> nan, "h" -> d(0.0),
      "i" -> d(1.0), "j" -> d(1.0), "k" -> d(0.0), "z𝐀" -> d(0.02),
      "zＡ" -> d(0.02), "z~" -> d(0.02), "y" -> d(0.03)))
    assertDriverBh(Seq("a" -> null, "b" -> nan))            // m = 0
    assertDriverBh(Seq.empty)
    assertDriverBh(Seq("a" -> d(0.3), "b" -> null))         // m = 1
    assertDriverBh(Seq("a" -> d(1.0)))
    assertDriverBh((1 to 997).map { i =>
      ("k" + i, if (i % 19 == 0) null else d(((i * 7919) % 1009) / 1009.0))
    } ++ Seq("t1" -> d(0.25), "t2" -> d(0.25), "t3" -> d(0.25)))
  }

  test("tied p-values receive identical adjusted values") {
    import spark.implicits._
    val df = Seq(("a", 0.02), ("b", 0.02), ("c", 0.02), ("d", 0.5))
      .toDF("id", "pvalue")
    val out = Stats.bhAdjust(df, "pvalue", "adj", Seq("id"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("adj")).toMap
    assert(out("a") == out("b") && out("b") == out("c"))
  }

  test("byAdjust matches statsmodels fdr_by on a pinned case and is " +
    "uniformly >= BH") {
    import spark.implicits._
    // statsmodels multipletests(method='fdr_by') on
    // [0.01, 0.02, 0.03, 0.5]: H_4 = 25/12; BH = [.04, .04, .04, .5]
    // → BY = min(1, BH·H_4) = [.0833.., .0833.., .0833.., 1.0]
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.5))
      .toDF("id", "pvalue")
    val by = Stats.byAdjust(df, "pvalue", "adj", Seq("id"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("adj")).toMap
    assert(approx(by("a"), 0.04 * 25 / 12, 1e-9))
    assert(approx(by("c"), 0.04 * 25 / 12, 1e-9))
    assert(by("d") == 1.0)
    val bh = Stats.bhAdjust(df, "pvalue", "adj", Seq("id"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("adj")).toMap
    Seq("a", "b", "c", "d").foreach(k => assert(by(k) >= bh(k)))
  }

  test("byAdjust isolates null/NaN p-values like bhAdjust") {
    import spark.implicits._
    val df = Seq(("a", 0.01), ("b", Double.NaN), ("c", 0.2))
      .toDF("id", "pvalue")
    val out = Stats.byAdjust(df, "pvalue", "adj", Seq("id"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("b").isNullAt(out("b").fieldIndex("adj")))
    assert(!out("a").isNullAt(out("a").fieldIndex("adj")))
    // m counts only the 2 valid tests: H_2 = 1.5
    assert(approx(out("a").getAs[Double]("adj"), 0.01 * 2 * 1.5, 1e-9))
  }

  test("storeyPi0: hand-computed pi0 over the lambda grid, nulls " +
    "excluded from m") {
    import spark.implicits._
    val df = Seq(Some(0.1), Some(0.3), Some(0.6), Some(0.9),
      None: Option[Double]).toDF("pvalue")
    val r = Stats.storeyPi0(df, "pvalue", Seq(0.2, 0.5))
      .collect().map(x => x.getDouble(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // m = 4 valid; lambda 0.2: 3 above -> 3/(0.8*4) = 0.9375
    assert(r(0.2) == ((4L, 3L, 0.9375)))
    // lambda 0.5: 2 above -> 2/(0.5*4) = 1.0 (capped boundary)
    assert(r(0.5) == ((4L, 2L, 1.0)))
  }

  test("storeyPi0: all-tiny p-values give pi0 0; cap holds at 1") {
    import spark.implicits._
    val tiny = Seq(0.001, 0.002, 0.003).toDF("pvalue")
    val r = Stats.storeyPi0(tiny, "pvalue", Seq(0.5)).head()
    assert(r.getDouble(3) == 0.0)
    val high = Seq(0.95, 0.96, 0.97).toDF("pvalue")
    val r2 = Stats.storeyPi0(high, "pvalue", Seq(0.5)).head()
    assert(r2.getDouble(3) == 1.0) // 3/(0.5*3) = 2 -> capped
  }
}
