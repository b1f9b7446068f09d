package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TopKAggregate._

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions installs cosine_sim at session build time") {
    val s2 = SparkTestBase.withExtensions
    val r = s2.sql(
      "SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    // md5_prefix_long must decode exactly what the composed SQL
    // spelling does (hexChars as a required int literal).
    val m = s2.sql(
      "SELECT md5_prefix_long('abc', 13) AS v, " +
        "CAST(conv(substring(md5('abc'), 1, 13), 16, 10) AS BIGINT) AS w")
      .collect()(0)
    assert(m.getLong(0) == m.getLong(1))
  }

  test("TopKByValue heap semantics: bounded, ordered, deterministic ties") {
    val agg = new TopKByValue(2)
    val buf = Seq(Entry(1, 5.0), Entry(2, 9.0), Entry(3, 9.0), Entry(4, 1.0))
      .foldLeft(agg.zero)(agg.reduce)
    assert(buf == List(Entry(2, 9.0), Entry(3, 9.0))) // tie → lower id first
    val merged = agg.merge(buf, List(Entry(9, 10.0)))
    assert(agg.finish(merged) == List(Entry(9, 10.0), Entry(2, 9.0)))
  }

  test("LevenshteinLengthGuard injects the length prefilter and preserves results") {
    import org.apache.spark.sql.functions._
    val s = SparkTestBase.spark
    import s.implicits._
    import graft.operators.FuzzyJoin
    val probe = Seq((1L, "b1", "abcdef"), (2L, "b1", "zz"), (3L, "b2", null: String))
      .toDF("p_id", "p_blk", "p_s")
    val target = Seq((10L, "b1", "abcdxf"), (11L, "b1", "abcdefghij"),
      (12L, "b1", "qq"), (13L, "b2", null: String))
      .toDF("t_id", "t_blk", "t_s")
    val cand = FuzzyJoin.candidates(probe, target,
      col("p_blk"), col("t_blk"), col("p_s"), col("t_s"), maxDist = 2)
    // The optimized plan must carry the O(1) guard ahead of the DP:
    val optimized = cand.queryExecution.optimizedPlan.toString
    assert(optimized.contains("abs((length(") && optimized.contains("levenshtein("),
      s"length guard missing from plan:\n$optimized")
    // Idempotent under the fixed-point batch: exactly one guard, not a
    // re-wrapped chain.
    assert("abs\\(\\(length\\(".r.findAllIn(optimized).length == 1, optimized)
    // Semantics preserved: (1,10) dist 1 in; (1,11) len diff 4 pruned by
    // guard AND dist > 2; (2,12) dist 2 in; nulls drop on both paths.
    val out = cand.select("p_id", "t_id", "edit_dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 10L, 1), (2L, 12L, 2)))
  }
}
