package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page '98) with exact integer arithmetic, so ranks
  * are bit-identical across engines, partitionings, and reruns.
  *
  * All mass is scaled to `scale` integer units; per-edge contributions
  * use truncating integer division (`DIV` here, `//` in the DuckDB
  * twin), and the damping step is `base + (85 · Σcontrib) DIV 100`.
  * Floating-point PageRank sums doubles in shuffle arrival order —
  * irreproducible; integer sums are associative-commutative exact.
  * Dangling nodes simply leak their mass (no redistribution) — both
  * engines leak identically, and ranking order is unaffected for the
  * connected bulk.
  *
  * Shape per iteration: contributions = edges ⋈ ranks (shuffle keyed by
  * src) → groupBy(dst) sum (map-side combine) → left join back onto the
  * node list. Lineage is cut per round with an eager localCheckpoint —
  * same pattern as `ConnectedComponents` — so the plan does not grow
  * exponentially with iterations. Node count comes from one count()
  * action up front (the only driver-side value; it parameterizes the
  * base rank).
  */
object PageRank {

  /** @param edges (src, dst) directed edge list; duplicates are deduped
    * @return (id, rank) with Σrank ≤ scale (truncation + dangling leak) */
  def ranks(edges: DataFrame, iters: Int = 3,
            scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "empty graph")
    val base = 15L * scale / (100L * n)
    // staged once (r15): deg is loop-invariant but joined EVERY
    // iteration — unstaged, each round re-ran the degree aggregate's
    // exchange over e (verified: no exchange reuse across rounds; the
    // KCore alive-set lesson). One slim (src, deg) row per node.
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    var r = nodes.select(col("id"), lit(scale / n).as("rank"))
    // Per-round checkpoints are LAZY except the last (r16, the KCore/CC
    // lesson taken one step further): with no per-round driver action,
    // an eager checkpoint per iteration is a standalone job whose only
    // purpose — lineage truncation — the lazy form provides too. The
    // final EAGER checkpoint materializes the whole pipelined loop in
    // ONE job (interleaved A/B: 1.30 vs 1.37 s min, BENCHLOG "the r16
    // lazy-checkpoint sweep"), after which every intermediate round's
    // blocks are releasable deterministically.
    val rounds = collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 0 until iters) {
      val m = e.join(r.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      r = nodes.join(m.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(m, 0L)) DIV 100")).as("rank"))
        .localCheckpoint(i == iters - 1)
      if (i < iters - 1) rounds += r
    }
    // loop-only pins (ADVICE r15): after ≥1 round the returned r is an
    // eager checkpoint, so intermediate/e/nodes/deg blocks are
    // unreachable from it — release them or they stay pinned for the
    // session lifetime. (At iters=0 the returned frame still reads
    // nodes; keep the pins.)
    if (iters > 0) {
      rounds.foreach(Checkpoints.release)
      Checkpoints.release(deg); Checkpoints.release(e); Checkpoints.release(nodes)
    }
    r
  }

  /** Personalized PageRank (random walk with restart to ONE seed node):
    * identical integer discipline to [[ranks]], but all teleport mass
    * returns to `source` — r0 puts the whole `scale` on the seed and
    * the damping step adds the 15% restart only at the seed row. The
    * result is the seed's proximity distribution, the standard
    * recommendation/similarity primitive. Same per-iteration shape and
    * per-round lineage cut as [[ranks]]. */
  def personalized(edges: DataFrame, source: Long, iters: Int = 3,
                   scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    // staged once — loop-invariant, joined per iteration (see ranks)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val restart = 15L * scale / 100L
    var r = nodes.select(col("id"),
      when(col("id") === source, scale).otherwise(0L).as("rank"))
    // lazy rounds + one eager final materialization — see [[ranks]]
    val rounds = collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 0 until iters) {
      val m = e.join(r.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      r = nodes.join(m.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"),
          (when(col("id") === source, restart).otherwise(0L)
            + expr("(85 * coalesce(m, 0L)) DIV 100")).as("rank"))
        .localCheckpoint(i == iters - 1)
      if (i < iters - 1) rounds += r
    }
    if (iters > 0) {
      rounds.foreach(Checkpoints.release)
      Checkpoints.release(deg); Checkpoints.release(e); Checkpoints.release(nodes)
    }
    r
  }
}
