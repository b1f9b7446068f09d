package graft

import org.apache.spark.sql.functions._

/** r19 global-window audit (VERDICT r18 #5): every unpartitioned
  * `Window.orderBy` in the engine funnels its frame through ONE
  * partition, so each site must carry a proof that the frame is
  * BOUNDED — by a preceding LIMIT, by calendar grain, or by a
  * value-range/bucket-width ratio — never corpus-sized. The syntactic
  * bounds (LIMIT k directly upstream: LlmQueries8 ×4, LlmQueries4
  * vocab, KMeans seeds) hold by construction; this spec pins the three
  * NON-syntactic bounds numerically so a data or query change that
  * breaks the boundedness argument fails a test instead of silently
  * reintroducing a single-partition corpus sort.
  */
class GlobalWindowBoundSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_skyline: bucket-window frame is value-range/bucketWidth bounded") {
    // Skyline.pareto(part, price_c, p_size, SkylineBucketWidth): the
    // global window runs over one row per price BUCKET. TPC-H retail
    // prices span ~90k-210k cents at every SF (price is a per-part
    // formula, not volume-dependent), so the frame is ~3 rows.
    val part = Tables(spark, dir, "part")
      .withColumn("price_c", round(col("p_retailprice") * 100).cast("long"))
    val width = queries.RelQueries11.SkylineBucketWidth
    val nBuckets = part.select(floor(col("price_c") / width).as("b"))
      .distinct().count()
    assert(nBuckets <= 8, s"skyline bucket frame grew to $nBuckets rows; " +
      "the bucketWidth choice no longer bounds the global window")
  }

  test("q_theil_sen: pair frame is calendar-boxed (<= 120 days -> <= 7140 pairs)") {
    // The pairwise-slope self-join is time-boxed to the LAST 120 days;
    // the global rank window runs over the query's own pair count,
    // which must stay within C(120,2) = 7140 no matter the order
    // volume. sf0.01 has orders on all 120 days (n_pairs is exactly
    // 7140 there), so widening the box or loosening the pair predicate
    // breaks the bound.
    val out = queries.RelQueries18.theilSen(spark, "/root/testdata/sf0.01").collect()
    assert(out.length == 1, s"theil-sen must emit one median row, got ${out.length}")
    val nPairs = out.head.getAs[Long]("n_pairs")
    assert(nPairs > 0 && nPairs <= 7140,
      s"theil-sen rank window ran over $nPairs pairs (bound 7140)")
  }

  test("q_hybrid_search: every ranked list is a preceding top-25") {
    // The three row_number windows in hybridSearch rank bm25 / tf /
    // cosine lists each cut by LIMIT 25 upstream; bm25 is the one list
    // built outside the function body, so pin it here.
    val bm = queries.RelQueries9.bm25(spark, dir).count()
    assert(bm <= 25, s"bm25 list carries $bm rows (> 25); the hybrid " +
      "rank windows are only bounded if each list stays a top-25")
  }
}
