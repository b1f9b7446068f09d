package graft

import org.apache.spark.sql.SparkSession

/** Round-7 tripwire (VERDICT r6 item 2): every registered query must
  * ANALYZE cleanly against every testdata scale's physical schema.
  *
  * Motivation: in round 6 the sf* generators changed `events.ts` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=false) — which
  * Spark 4 infers as TIMESTAMP_NTZ — and 12 queries silently died at
  * analysis time (`unix_micros` rejects NTZ), poisoning the three
  * whole-registry governance sweeps along with them. One test per query
  * makes any analysis-time break fail loudly under its own name instead
  * of taking down an unrelated sweep.
  *
  * Lazily-planned queries cost only analysis here (no execution), so
  * they run against all three dirs. Queries with EAGER driver-side
  * actions inside the query function — streaming harness runs, staged
  * index builds (StagedOnce/DedupStage), collected PrefixSum cut
  * arrays, k-means iterations, bloom builds, file-format roundtrip
  * staging — execute real Spark jobs per invocation, so they stop at
  * sf0.001: running them at sf0.1 would re-do first-build side effects
  * inside an "analysis" test. Which queries are eager is measured, not
  * listed: the sf0.001 call counts the jobs it starts, in a fresh
  * session so that a staged build shared with a sibling query (as
  * `q_dedup_clusters` shares `q_dedup_canonical`'s DedupStage) cannot
  * hide. Schema-sensitivity is identical across dirs (same generator),
  * so sf0.001 analysis covers the tripwire's purpose for these.
  */
class RegistryAnalysisSpec extends GraftSuite {

  private val allDirs = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  private def analyze(s: SparkSession, name: String, dir: String): Unit =
    try SparkEntry.queries(name)(s, dir).queryExecution.analyzed
    catch {
      case e: Throwable => fail(s"$name fails analysis on $dir: ${e.getMessage}", e)
    }

  /** Analyzes `name` at sf0.001 in a fresh session and returns the jobs
    * that call started; when it started none (and `name` is not a
    * stream), also analyzes it at the larger scales, in the shared
    * session whose table loads the other queries reuse. */
  private def analyzeOnAllSchemas(name: String): Seq[JobsStarted.Job] = {
    val clone = spark.newSession()
    val (_, jobs) =
      try JobsStarted(clone)(analyze(clone, name, allDirs.head))
      finally SessionMemo.evictSession(clone)
    if (jobs.isEmpty && !name.startsWith("q_stream"))
      allDirs.tail.foreach(analyze(spark, name, _))
    jobs
  }

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"analyzes on all schemas: $name") {
      analyzeOnAllSchemas(name)
    }
  }

  test("eager queries are found even when they share a staged build") {
    val eager = Seq("q_dedup_clusters", "q_dedup_canonical", "q_lsh_index")
      .map(n => n -> analyzeOnAllSchemas(n).length)
    assert(eager.forall(_._2 > 0), s"jobs started at sf0.001: $eager")
    assert(analyzeOnAllSchemas("q1_agg").isEmpty)
  }
}
