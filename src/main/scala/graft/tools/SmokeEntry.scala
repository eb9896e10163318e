// Driven via: sbt "runMain graft.tools.SmokeEntry"
package graft.tools

import graft.{GraftSession, SparkEntry}

object SmokeEntry {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"ENTRY_ROWS=${rows.length}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
