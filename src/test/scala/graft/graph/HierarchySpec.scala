package graft.graph

import graft.SparkSuite

class HierarchySpec extends SparkSuite {
  import spark.implicits._

  test("deep chain settles in log rounds with exact depths") {
    // chain 0 <- 1 <- 2 <- ... <- 500
    val edges = (1 to 500).map(i => (i.toLong, i - 1L)) :+ (0L, 0L)
    val out = Hierarchy.flattenToRoot(edges.toDF("c", "p"), "c", "p")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(0L) == (0L, 0L))
    assert(out(1L) == (0L, 1L))
    assert(out(500L) == (0L, 500L))
    assert(out(250L) == (0L, 250L))
  }

  test("forest: multiple roots, null parents, self-parents") {
    val edges = Seq((1L, Option.empty[Long]), (2L, Some(1L)),
      (3L, Some(1L)), (10L, Some(10L)), (11L, Some(10L)),
      (12L, Some(11L)))
    val out = Hierarchy.flattenToRoot(
      edges.toDF("c", "p"), "c", "p")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(1L) == (1L, 0L) && out(2L) == (1L, 1L))
    assert(out(10L) == (10L, 0L) && out(12L) == (10L, 2L))
  }

  test("parents not listed as children become roots") {
    val edges = Seq((5L, 99L)).toDF("c", "p")
    val out = Hierarchy.flattenToRoot(edges, "c", "p")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(99L) == (99L, 0L))
    assert(out(5L) == (99L, 1L))
  }

  test("a cycle is detected, not silently mislabeled") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("c", "p")
    val e = intercept[IllegalArgumentException] {
      Hierarchy.flattenToRoot(edges, "c", "p", maxDepthLog2 = 6)
    }
    assert(e.getMessage.contains("hierarchy did not settle in 2^6 hops"))
  }

  test("multi-parent input is rejected") {
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("c", "p")
    val e = intercept[IllegalArgumentException] {
      Hierarchy.flattenToRoot(edges, "c", "p")
    }
    assert(e.getMessage.contains("not a forest: a child has multiple parents"))
  }
}
