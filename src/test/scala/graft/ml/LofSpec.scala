package graft.ml

import graft.SparkSuite

class LofSpec extends SparkSuite {
  import spark.implicits._

  /** Brute-force driver replica of the identical recipe (6dp-rounded
    * distances, id tie-breaks, radius truncation, strict nulls). */
  private def ref(pts: Seq[(String, Double, Double)], k: Int,
                  radius: Double): Map[String, (Int, Option[Double],
                  Option[Double], Option[Double])] = {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val knn = pts.map { case (id, x, y) =>
      val nb = pts.filter(_._1 != id)
        .map { case (b, bx, by) =>
          (b, r6(math.sqrt((x - bx) * (x - bx) + (y - by) * (y - by))))
        }
        .filter(_._2 <= radius)
        .sortBy { case (b, d) => (d, b) }
        .take(k)
      id -> nb
    }.toMap
    val kdist = knn.map { case (id, nb) =>
      id -> (if (nb.size >= k) Some(nb.map(_._2).max) else None)
    }
    pts.map { case (id, _, _) =>
      val nb = knn(id)
      val n = nb.size
      def lrdOf(p: String): Option[Double] = {
        val pn = knn(p)
        if (pn.size < k) None
        else {
          val reaches = pn.map { case (b, d) =>
            kdist(b).map(kd => math.max(kd, d))
          }
          if (reaches.exists(_.isEmpty)) None
          else {
            val s = reaches.flatten.sum
            if (s == 0.0) None else Some(k.toDouble / s)
          }
        }
      }
      val lrdA = if (n >= k) lrdOf(id) else None
      val lof = lrdA.flatMap { la =>
        val ls = nb.map { case (b, _) => lrdOf(b) }
        if (ls.exists(_.isEmpty)) None
        else Some(ls.flatten.sum / ls.size / la)
      }
      id -> (n, kdist(id).filter(_ => n >= k), lrdA, lof)
    }.toMap
  }

  // two clusters of different density + one genuine outlier:
  // LOF's motivating configuration (a global distance threshold
  // cannot score both clusters correctly)
  private val twoDensity: Seq[(String, Double, Double)] = {
    val tight = for (i <- 0 until 4; j <- 0 until 4)
      yield (f"t$i$j", i * 0.1, j * 0.1)
    val loose = for (i <- 0 until 4; j <- 0 until 4)
      yield (f"l$i$j", 5.0 + i * 0.8, j * 0.8)
    (tight ++ loose) :+ (("out", 2.5, 1.2))
  }

  test("matches the brute-force reference on the two-density set") {
    val got = Lof.localOutlierFactor(twoDensity.toDF("id", "x", "y"),
        "id", "x", "y", k = 3, radius = 3.0)
      .collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    val want = ref(twoDensity, 3, 3.0)
    assert(got.size == twoDensity.size)
    twoDensity.foreach { case (id, _, _) =>
      val g = got(id); val (n, kd, lrd, lof) = want(id)
      assert(g.getAs[Long]("n_neighbors") == n, s"n($id)")
      kd match {
        case Some(v) => assert(approx(g.getAs[Double]("k_dist"), v,
          1e-6), s"kd($id)")
        case None => assert(g.isNullAt(g.fieldIndex("k_dist")), s"kd($id)")
      }
      (lof, Option(g.get(g.fieldIndex("lof")))) match {
        case (Some(v), Some(gv)) =>
          assert(math.abs(gv.asInstanceOf[Double] - v) < 1e-3,
            s"lof($id): $gv vs $v")
        case (None, None) =>
        case other => fail(s"lof($id) null mismatch: $other")
      }
    }
  }

  test("the outlier scores far above both cluster interiors") {
    val got = Lof.localOutlierFactor(twoDensity.toDF("id", "x", "y"),
        "id", "x", "y", k = 3, radius = 3.0)
      .collect().map(r => r.getAs[String]("id") ->
        Option(r.get(r.fieldIndex("lof")))).toMap
    val out = got("out").get.asInstanceOf[Double]
    val interiors = Seq("t11", "t22", "l11", "l22")
      .map(got(_).get.asInstanceOf[Double])
    assert(out > 2.0, s"outlier lof $out")
    interiors.foreach(v => assert(v < 1.3, s"interior lof $v"))
  }

  test("isolated point keeps its row with n_neighbors = 0") {
    val pts = Seq(("a", 0.0, 0.0), ("b", 0.1, 0.0), ("c", 0.0, 0.1),
      ("far", 99.0, 99.0))
    val got = Lof.localOutlierFactor(pts.toDF("id", "x", "y"),
        "id", "x", "y", k = 2, radius = 1.0)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(got.size == 4)
    assert(got("far").getAs[Long]("n_neighbors") == 0)
    assert(got("far").isNullAt(got("far").fieldIndex("lof")))
  }

  test("duplicate stacks deeper than k null out instead of inf") {
    val pts = Seq(("a", 1.0, 1.0), ("b", 1.0, 1.0), ("c", 1.0, 1.0),
      ("d", 1.0, 1.0))
    val got = Lof.localOutlierFactor(pts.toDF("id", "x", "y"),
        "id", "x", "y", k = 2, radius = 1.0)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(got("a").getAs[Long]("n_neighbors") == 2)
    assert(got("a").isNullAt(got("a").fieldIndex("lrd")))
    assert(got("a").isNullAt(got("a").fieldIndex("lof")))
  }

  test("cross-cell neighbors are found (blocking loses no pair)") {
    // two points straddling a cell boundary at radius granularity
    val pts = Seq(("a", 0.99, 0.0), ("b", 1.01, 0.0), ("c", 0.5, 0.0))
    val got = Lof.localOutlierFactor(pts.toDF("id", "x", "y"),
        "id", "x", "y", k = 1, radius = 1.0)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(got("a").getAs[Long]("n_neighbors") == 1)
    assert(got("a").getAs[Double]("k_dist") == 0.02)
    assert(got("b").getAs[Double]("k_dist") == 0.02)
  }

  test("invalid params rejected; null coordinates dropped") {
    val df = Seq(("a", Some(1.0), Some(1.0)), ("b", None, Some(2.0)))
      .toDF("id", "x", "y")
    assert(Lof.localOutlierFactor(df, "id", "x", "y", 1, 1.0)
      .count() == 1)
    assert(intercept[IllegalArgumentException] {
      Lof.localOutlierFactor(df, "id", "x", "y", 0, 1.0)
    }.getMessage == "requirement failed: k must be >= 1, got 0")
    assert(intercept[IllegalArgumentException] {
      Lof.localOutlierFactor(df, "id", "x", "y", 1, 0.0)
    }.getMessage == "requirement failed: radius must be positive, got 0.0")
  }
}
