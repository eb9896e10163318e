package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, getOrCreate reuses). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(Some(4))
    .master("local[4]")
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
