package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Checkpoints, ConnectedComponents}

class ConnectedComponentsSpec extends GraftSuite {
  import spark.implicits._

  private def comp(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.components(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("two components, min id wins") {
    val m = comp(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long path converges in O(log n) rounds (diameter >> rounds)") {
    // A 200-node path is the worst case for naive neighbor propagation
    // (200 rounds); star-contraction must close it within the iteration
    // cap, proving the O(log n) behavior the scaladoc promises.
    val m = comp((0L until 199L).map(i => (i, i + 1)))
    assert(m.size == 200 && m.values.forall(_ == 0L))
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val m = comp(Seq((5L, 5L), (2L, 1L), (1L, 2L), (2L, 3L), (2L, 3L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dense clique and bridge") {
    val clique = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val m = comp(clique ++ Seq((24L, 30L), (40L, 41L)))
    assert((20L to 30L by 1).filter(m.contains).forall(m(_) == 20L))
    assert(m(41L) == 40L)
  }

  test("clusterSizes counts members including the root") {
    val c = ConnectedComponents.components(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
    val sizes = ConnectedComponents.clusterSizes(c)
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(1L -> 3L, 10L -> 2L))
  }

  test("string ids order lexicographically") {
    val m = ConnectedComponents.components(
      Seq(("docB", "docA"), ("docB", "docC")).toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(m == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA"))
  }

  test("componentsEager pins blocks only until its result is released") {
    // the q_incremental_cc graph shape
    val edges = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(col("l_orderkey") < 8000)
      .select((col("l_orderkey") % 2000).as("src"), (col("l_partkey") % 2000).as("dst"))
    val before = Pins(spark)
    val staged = ConnectedComponents.componentsEager(edges)
    assert(staged.count() > 0)
    val held = Pins(spark) -- before
    assert(held.nonEmpty, "the staged result must hold its own blocks")
    Checkpoints.release(staged)
    val leaked = Pins.leftAfterRelease(spark, before)
    assert(leaked.isEmpty, s"rdd ids still pinned after release: $leaked (held: $held)")
  }
}
