package graft.graph

import org.apache.spark.SparkThrowable

import graft.SparkSuite

class DriverCollectSpec extends SparkSuite {

  test("ifFits: a frame at its cap fits in collect order, one row " +
    "past it does not") {
    val df = spark.range(0, 10, 1, 3).toDF("id")
    assert(DriverCollect.ifFits(df, 10L).map(_.toSeq) ==
      Some(df.collect().toSeq))
    assert(DriverCollect.ifFits(df, 9L).isEmpty)
    assert(DriverCollect.ifFits(df.limit(0), 0L).map(_.length) == Some(0))
  }

  test("ifFits: a negative cap decides without reading the frame, and " +
    "the second frame is read only when the first fits") {
    // reading this frame fails the job
    val unreadable = spark.range(1).selectExpr("assert_true(id < 0) AS x")
    assert(DriverCollect.ifFits(unreadable, -1L).isEmpty)
    val df = spark.range(5).toDF("id")
    assert(DriverCollect.ifFits(df, 4L, unreadable, 100L).isEmpty)
    // the failure is the second frame's assert_true at run time, not an
    // analysis error (whose message would quote the same plan text)
    val e = intercept[RuntimeException](
      DriverCollect.ifFits(df, 5L, unreadable, 100L))
    assert(e.asInstanceOf[SparkThrowable].getCondition == "USER_RAISED_EXCEPTION" &&
      e.getMessage.contains("'(id < 0)' is not true"), e.getMessage)
  }
}
