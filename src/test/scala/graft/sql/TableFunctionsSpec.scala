package graft.sql

import graft.SparkSuite
import org.apache.spark.sql.SparkSession

/** Imperative TVF registration on a session without the TVFs — the path
  * for sessions not built through GraftExtensions (notebooks, existing
  * deployments). The shared test session carries the extensions, so
  * each test takes a child session, drops the injected TVFs there,
  * checks they no longer resolve, and only then calls
  * [[TableFunctions.register]]: a broken register fails these tests. */
class TableFunctionsSpec extends SparkSuite {

  private def registered(): SparkSession = {
    val plain = spark.newSession()
    val reg = plain.sessionState.tableFunctionRegistry
    TableFunctions.all.foreach { case (id, _, _) => reg.dropFunction(id) }
    TableFunctions.all.foreach { case (id, _, _) =>
      val e = intercept[Exception] {
        plain.sql(s"SELECT * FROM ${id.funcName}('t', 'c')").collect()
      }
      assert(e.getMessage.contains("UNRESOLVABLE_TABLE_VALUED_FUNCTION"),
        s"${id.funcName} still resolves after drop: ${e.getMessage}")
    }
    TableFunctions.register(plain)
    plain
  }

  test("graft_exact_dedup TVF matches the Scala operator") {
    val s = registered()
    import s.implicits._
    val docs = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "cc"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("tvf_docs")
    val viaSql = s.sql(
      "SELECT doc_id FROM graft_exact_dedup('tvf_docs', 'doc_id', 'text')")
      .as[Long].collect().sorted.toSeq
    val viaScala = graft.dedup.Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaSql == Seq(1L, 2L, 4L))
    assert(viaSql == viaScala)
  }

  test("graft_asof TVF: backward as-of through SQL") {
    val s = registered()
    import s.implicits._
    Seq((1L, "2024-01-01 00:00:05"), (1L, "2024-01-01 00:00:20"))
      .toDF("k", "ts_s")
      .selectExpr("k", "cast(ts_s as timestamp) as ts")
      .createOrReplaceTempView("tvf_left")
    Seq((1L, "2024-01-01 00:00:00", 10.0), (1L, "2024-01-01 00:00:10", 20.0))
      .toDF("k", "ts_s", "px")
      .selectExpr("k", "cast(ts_s as timestamp) as ts", "px")
      .createOrReplaceTempView("tvf_right")
    val r = s.sql(
      """SELECT k, ts, px FROM graft_asof('tvf_left', 'tvf_right',
        |                                 'k', 'ts', 'px')
        |ORDER BY ts""".stripMargin)
      .selectExpr("px").as[Double].collect().toSeq
    assert(r == Seq(10.0, 20.0))
  }

  test("non-literal or wrong-arity TVF args fail with the contract " +
    "message") {
    val s = registered()
    val e = intercept[Exception] {
      s.sql("SELECT * FROM graft_sessions('x', 'ts')").collect()
    }
    assert(e.getMessage.contains("expects 5 arguments"))
  }
}
