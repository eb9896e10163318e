package graft

import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends SparkSuite {

  test("extensions register SQL-callable functions at session build") {
    val base = spark // force shared-session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    try {
      val r = s2.sql(
        """SELECT md5_long('abc') AS m,
          |       t_test_pvalue(2.0, 10.0) AS p,
          |       simhash64(array('x','x','y')) AS s,
          |       cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
          |       rolling_hash64(array('a','b')) AS rh,
          |       word_shingles('a b c d', 3) AS ws,
          |       minhash_hashes('a b c', 2) AS mh,
          |       lsh_table_buckets(array(1.0d, 0.5d), 2, 4, 2) AS lb,
          |       repetition_counts('a b a b', 2) AS rc,
          |       text_quality_counts('the cat 12', 'the,a') AS qc,
          |       char_entropy('aab') AS ce,
          |       bleu_counts('a b c d', 'a b d') AS bc,
          |       rouge_l_counts('a b c', 'a c') AS rl
          |""".stripMargin).collect()(0)
      assert(r.getAs[Long]("m") == 8250560606382298838L)
      assert(math.abs(r.getAs[Double]("p") - 0.0733880348) < 1e-6)
      assert(math.abs(r.getAs[Double]("c") - 1.0) < 1e-12)
      assert(r.getSeq[String](r.fieldIndex("ws")).toSeq == Seq("a b c", "b c d"))
      assert(r.getSeq[Long](r.fieldIndex("mh")).length == 2)
      assert(r.getSeq[Long](r.fieldIndex("lb")).length == 2)
      // 3 bigrams ("a b","b a","a b"), 2 distinct, 4 tokens, 'a'/'b' x2
      assert(r.getSeq[Int](r.fieldIndex("rc")).toSeq == Seq(3, 2, 4, 2))
      // 3 tokens, 8 non-ws chars, 6 alpha, 2 digits, 1 marker hit ("the")
      assert(r.getSeq[Int](r.fieldIndex("qc")).toSeq == Seq(3, 8, 6, 2, 1))
      // -(2/3 log2 2/3 + 1/3 log2 1/3)
      assert(math.abs(r.getAs[Double]("ce") - 0.9182958340544896) < 1e-12)
      // unigrams 3/4 clipped, bigrams 1/3 ("a b"), no 3- or 4-gram match
      assert(r.getSeq[Long](r.fieldIndex("bc")).toSeq ==
        Seq(3L, 4L, 1L, 3L, 0L, 2L, 0L, 1L, 4L, 3L))
      // LCS "a c" = 2 tokens
      assert(r.getSeq[Long](r.fieldIndex("rl")).toSeq == Seq(2L, 3L, 2L))

      // every SQL name builds the same expression as its Column call
      import graft.functions.gfunctions._
      import org.apache.spark.sql.functions.{array, lit}
      val c = s2.range(1).select(
        md5_long(lit("abc")), t_test_pvalue(lit(2.0), lit(10.0)),
        simhash64(array(lit("x"), lit("x"), lit("y"))),
        cosine_similarity(array(lit(1.0), lit(0.0)), array(lit(1.0), lit(0.0))),
        rolling_hash64(array(lit("a"), lit("b"))),
        word_shingles(lit("a b c d"), 3), minhash_hashes(lit("a b c"), 2),
        lsh_table_buckets(array(lit(1.0), lit(0.5)), 2, 4, 2),
        repetition_counts(lit("a b a b"), 2),
        text_quality_counts(lit("the cat 12"), Seq("the", "a")),
        char_entropy(lit("aab")), bleu_counts(lit("a b c d"), lit("a b d")),
        rouge_l_counts(lit("a b c"), lit("a c"))).collect()(0)
      assert(r.length == 13 && c.length == 13)
      (0 until 13).foreach { i =>
        val (sql, col) = (r.get(i), c.get(i))
        val same = (sql, col) match {
          case (a: Double, b: Double) =>
            java.lang.Double.doubleToRawLongBits(a) ==
              java.lang.Double.doubleToRawLongBits(b)
          case (a, b) => a == b
        }
        assert(same, s"${r.schema(i).name}: SQL $sql, Column $col")
      }

      // table-valued functions ride the same injection: sessionize a
      // tiny view purely through SQL (2 events 10s apart + 1 far away
      // → 2 sessions for the user)
      import s2.implicits._
      Seq((1L, "2024-01-01 00:00:00", 1.0),
        (1L, "2024-01-01 00:00:10", 2.0),
        (1L, "2024-01-01 09:00:00", 3.0))
        .toDF("user_id", "ts_s", "value")
        .selectExpr("user_id", "cast(ts_s as timestamp) as ts", "value")
        .createOrReplaceTempView("ext_events")
      val sess = s2.sql(
        """SELECT user_id, session_seq, n_events, total_value
          |FROM graft_sessions('ext_events', 'ts', 'user_id', 'value', 1800)
          |ORDER BY session_seq""".stripMargin).collect()
      assert(sess.length == 2)
      assert(sess(0).getAs[Long]("n_events") == 2L)
      assert(sess(1).getAs[Double]("total_value") == 3.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
