package graft.prep

import graft.SparkSuite
import graft.geo.LongForm

class PreprocessSpec extends SparkSuite {

  test("F1 threshold + A2 median impute + A4 z-score (no log2 branch)") {
    // 5 samples; probe p1 full, p2 has 2 nulls (60% non-null, kept),
    // p3 has 4+ nulls (<=20%: dropped when 1 of 5 non-null = 20% -> kept?
    // threshold is >= 0.2*5 = 1 non-null -> p3 with exactly 1 survives;
    // p4 all null -> dropped).
    val rows =
      Seq("s1" -> Some(1.0), "s2" -> Some(2.0), "s3" -> Some(3.0),
        "s4" -> Some(4.0), "s5" -> Some(5.0)).map { case (s, v) => ("p1", s, v) } ++
      Seq("s1" -> Some(10.0), "s2" -> None, "s3" -> Some(20.0),
        "s4" -> None, "s5" -> Some(30.0)).map { case (s, v) => ("p2", s, v) } ++
      Seq("s1" -> None, "s2" -> None, "s3" -> None,
        "s4" -> None, "s5" -> Some(7.0)).map { case (s, v) => ("p3", s, v) } ++
      Seq("s1" -> Option.empty[Double], "s2" -> None, "s3" -> None,
        "s4" -> None, "s5" -> None).map { case (s, v) => ("p4", s, v) }
    val df = LongForm.pack(spark, Seq("s1", "s2", "s3", "s4", "s5"), rows)
    val out = LongForm.expand(Preprocess.run(df, nSamples = 5))
    val byProbe = out.collect().groupBy(_.getString(0))
    assert(byProbe.keySet == Set("p1", "p2", "p3"))   // p4 dropped (0 < 1)

    // p2 nulls imputed with median(10,20,30)=20, then z-scored:
    // values [10,20,20,20,30], mu=20, sd_pop=sqrt(200/5 - 0)=sqrt(40)... =
    // mean((x-mu)^2) = (100+0+0+0+100)/5 = 40 -> sd = 6.3245...
    val p2 = byProbe("p2").map(r => r.getString(1) -> r.getDouble(2)).toMap
    val sd = math.sqrt(40.0)
    assert(approx(p2("s1"), -10.0 / sd))
    assert(approx(p2("s2"), 0.0))
    assert(approx(p2("s5"), 10.0 / sd))

    // p3: single value -> sd 0 -> z-score 0 everywhere (sklearn scale_=1
    // on zero variance => (x - mu)/1 = 0 for the imputed constant row)
    assert(byProbe("p3").forall(_.getDouble(2) == 0.0))
  }

  test("A3: log2 branch taken when max > 100") {
    val df = LongForm.pack(spark, Seq("s1", "s2", "s3"),
      Seq(("p", "s1", Some(1023.0)), ("p", "s2", Some(255.0)),
        ("p", "s3", Some(511.0))))
    val out = LongForm.expand(Preprocess.run(df, nSamples = 3)).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    // log2(x+1) = 10, 8, 9 -> mu 9, sd_pop sqrt(2/3)
    val sd = math.sqrt(2.0 / 3.0)
    assert(approx(out("s1"), 1.0 / sd))
    assert(approx(out("s2"), -1.0 / sd))
    assert(approx(out("s3"), 0.0))
  }

  test("robustOutlierStats: hand-computed median/MAD flags the spike") {
    import spark.implicits._
    // g1: values 1..7 plus a 100.0 spike -> med 4.5, MAD 2.0
    //     M(100) = 0.6745*(100-4.5)/2 = 32.21 -> 1 outlier
    // g2: constant -> MAD 0, no outliers, null M throughout
    val df = ((1 to 7).map(i => ("g1", i.toDouble)) :+ (("g1", 100.0)))
      .++(Seq(("g2", 5.0), ("g2", 5.0), ("g2", 5.0)))
      .toDF("g", "v")
    val got = Preprocess.robustOutlierStats(df, Seq("g"), "v")
      .select("g", "n", "med", "mad", "n_outliers", "max_abs_m")
      .as[(String, Long, Double, Double, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val (_, n1, med1, mad1, o1, m1) = got("g1")
    assert(n1 == 8 && med1 == 4.5 && mad1 == 2.0 && o1 == 1)
    assert(approx(m1.get, 0.6745 * (100.0 - 4.5) / 2.0, 1e-3))
    val (_, n2, _, mad2, o2, m2) = got("g2")
    assert(n2 == 3 && mad2 == 0.0 && o2 == 0 && m2.isEmpty)
  }

  test("winsorizedStats: clip bounds, means, and clip counts on a known group") {
    import spark.implicits._
    // 1..20 with lo=0.05, hi=0.95: p05 = 1.95, p95 = 19.05 (interpolated)
    // -> value 1 clips up to 1.95, value 20 clips down to 19.05
    val df = (1 to 20).map(i => ("g", i.toDouble)).toDF("g", "v")
    val r = Preprocess.winsorizedStats(df, Seq("g"), "v")
      .select("n", "p_lo", "p_hi", "mean_raw", "mean_wins",
        "n_clip_lo", "n_clip_hi")
      .as[(Long, Double, Double, Double, Double, Long, Long)].head()
    assert(r._1 == 20 && r._2 == 1.95 && r._3 == 19.05)
    assert(r._4 == 10.5)
    val meanWins = ((2 to 19).map(_.toDouble).sum + 1.95 + 19.05) / 20
    assert(approx(r._5, meanWins, 1e-9))
    assert(r._6 == 1 && r._7 == 1)
  }

  test("percentile dispatch: forced approx tracks exact within sketch error " +
    "and the auto threshold keeps small groups exact") {
    import spark.implicits._
    // Small groups: auto dispatch must take the exact path (the sf0.01
    // oracle compares depend on it) — identical output to exact forced.
    val df = (1 to 200).map(i => ("g" + (i % 3), i.toDouble)).toDF("g", "v")
    val auto = Preprocess.winsorizedStats(df, Seq("g"), "v")
      .orderBy("g").collect().toSeq
    val exact = Preprocess.winsorizedStats(df, Seq("g"), "v",
      exactQuantiles = Some(true)).orderBy("g").collect().toSeq
    assert(auto == exact,
      "auto dispatch must stay exact under the group-size threshold")
    assert(Preprocess.ExactPercentileMaxGroupRows > 200)
    // Forced approx (the >threshold path at scale): same schema, bounds
    // within the sketch's rank error of exact on uniform data.
    val approxR = Preprocess.winsorizedStats(df, Seq("g"), "v",
      exactQuantiles = Some(false)).orderBy("g")
      .select("g", "p_lo", "p_hi", "n").as[(String, Double, Double, Long)]
      .collect()
    assert(approxR.map(_._1).toSeq == Seq("g0", "g1", "g2"))
    approxR.foreach { case (_, plo, phi, n) =>
      assert(n > 0 && plo >= 1.0 && phi <= 200.0 && plo < phi)
    }
    val madApprox = Preprocess.robustOutlierStats(df, Seq("g"), "v",
      exactMedians = Some(false)).orderBy("g")
      .select("g", "med").as[(String, Double)].collect()
    val madExact = Preprocess.robustOutlierStats(df, Seq("g"), "v",
      exactMedians = Some(true)).orderBy("g")
      .select("g", "med").as[(String, Double)].collect()
    madApprox.zip(madExact).foreach { case ((g1, ma), (g2, me)) =>
      assert(g1 == g2 && math.abs(ma - me) <= 2.0,
        s"approx median $ma strayed from exact $me in $g1")
    }
  }

  test("robustOutlierStats and winsorizedStats match brute force on random groups") {
    import spark.implicits._
    // deterministic LCG data: 7 groups, 30-150 rows each, heavy tail
    def lcg(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    val rows = (0 until 7).flatMap { g =>
      val n = 30 + (math.abs(lcg(g * 31L)) % 121).toInt
      (0 until n).map { i =>
        val h = lcg(g * 1009L + i)
        val base = (math.abs(h) % 100000) / 100.0
        val v = if (i % 17 == 0) base * 50 else base   // planted tail
        (s"g$g", v)
      }
    }
    val df = rows.toDF("g", "v")

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    def quantile(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.length) s.last
      else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }

    val mad = Preprocess.robustOutlierStats(df, Seq("g"), "v")
      .select("g", "n", "med", "mad", "n_outliers")
      .as[(String, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    val win = Preprocess.winsorizedStats(df, Seq("g"), "v")
      .select("g", "p_lo", "p_hi", "n_clip_lo", "n_clip_hi")
      .as[(String, Double, Double, Long, Long)].collect()
      .map(r => r._1 -> r).toMap

    rows.groupBy(_._1).foreach { case (g, grp) =>
      val vs = grp.map(_._2)
      val med0 = median(vs)
      val mad0 = median(vs.map(v => math.abs(v - med0)))
      val expOut = vs.count(v =>
        mad0 != 0.0 && math.abs(0.6745 * (v - med0) / mad0) > 3.5)
      val (_, n1, med1, mad1, out1) = mad(g)
      assert(n1 == vs.length && approx(med1, med0) && approx(mad1, mad0),
        s"$g med/mad")
      assert(out1 == expOut, s"$g outliers: got $out1 want $expOut")

      val (plo0, phi0) = (quantile(vs, 0.05), quantile(vs, 0.95))
      val (_, plo1, phi1, clo1, chi1) = win(g)
      // the operator reports 4-dp-rounded bounds: compare within 5e-5 abs
      assert(math.abs(plo1 - plo0) <= 5.1e-5 && math.abs(phi1 - phi0) <= 5.1e-5,
        s"$g bounds: $plo1/$phi1 vs $plo0/$phi0")
      assert(clo1 == vs.count(_ < plo0) && chi1 == vs.count(_ > phi0),
        s"$g clip counts")
    }
  }

  test("null-valued groups are screened like any other (not silently dropped)") {
    import spark.implicits._
    val df = Seq((Some("g1"), 1.0), (Some("g1"), 2.0), (Some("g1"), 3.0),
      (Option.empty[String], 10.0), (None, 20.0), (None, 30.0))
      .toDF("g", "v")
    val mad = Preprocess.robustOutlierStats(df, Seq("g"), "v")
      .select("g", "n", "med").as[(Option[String], Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(mad(Some("g1")) == ((3L, 2.0)))
    assert(mad(None) == ((3L, 20.0)), "null group must appear in the screen")
    val win = Preprocess.winsorizedStats(df, Seq("g"), "v")
      .select("g", "n").as[(Option[String], Long)].collect().toMap
    assert(win(None) == 3L)
  }

  test("robustOutlierStats survives the outliers a mean z-score would not") {
    import spark.implicits._
    // half the group is a wild cluster: mean/std are dragged, median/MAD not
    val df = ((1 to 10).map(i => ("g", 10.0 + i * 0.01)) ++
      (1 to 4).map(i => ("g", 1e6 * i))).toDF("g", "v")
    val got = Preprocess.robustOutlierStats(df, Seq("g"), "v")
      .select("n_outliers").as[Long].head()
    assert(got == 4)   // exactly the planted cluster, not half the data
  }

  test("quantileNormalize: samples share one distribution afterwards") {
    import spark.implicits._
    // Two aligned samples with different scales: rank means are the
    // midpoints; both samples map onto the identical distribution.
    val df = Seq(
      ("s1", 1L, 10.0), ("s1", 2L, 20.0), ("s1", 3L, 30.0),
      ("s2", 4L, 100.0), ("s2", 5L, 200.0), ("s2", 6L, 300.0)
    ).toDF("sample", "id", "v")
    val got = Preprocess.quantileNormalize(df, "sample", "v",
        tieBreak = Seq("id"))
      .select("sample", "id", "qn_value")
      .as[(String, Long, Double)].collect()
      .map(r => r._2 -> r._3).toMap
    assert(got == Map(1L -> 55.0, 2L -> 110.0, 3L -> 165.0,
      4L -> 55.0, 5L -> 110.0, 6L -> 165.0))
  }

  test("quantileNormalize: ragged samples trim to the common length") {
    import spark.implicits._
    val df = Seq(
      ("s1", 1L, 1.0), ("s1", 2L, 2.0), ("s1", 3L, 99.0),
      ("s2", 4L, 3.0), ("s2", 5L, 4.0)
    ).toDF("sample", "id", "v")
    val got = Preprocess.quantileNormalize(df, "sample", "v",
        tieBreak = Seq("id"))
      .select("id", "qn_value").as[(Long, Double)].collect().toMap
    // s1's third-ranked 99.0 is trimmed; rank means over (1,3), (2,4).
    assert(got == Map(1L -> 2.0, 2L -> 3.0, 4L -> 2.0, 5L -> 3.0))
  }
}
