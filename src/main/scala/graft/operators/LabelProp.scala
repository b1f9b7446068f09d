package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007) with fully deterministic semantics, so results
  * are bit-identical across engines, partitionings, and reruns.
  *
  * Classic LPA breaks ties randomly and updates asynchronously — both
  * irreproducible on a cluster. Here every node starts labeled with its
  * own id; each round every node adopts the most frequent label among
  * its neighbors, ties broken by the SMALLEST label; all nodes update
  * simultaneously from the previous round's labels. Deterministic by
  * construction, so the DuckDB twin can unroll the same rounds.
  *
  * Shape per round — two map-side-combinable hash aggregations, no
  * window function:
  *   votes  = edges ⋈ labels (shuffle keyed by dst) →
  *            groupBy(src, nlabel) count            (partial agg combines)
  *   labels = groupBy(src) max(struct(cnt, -nlabel)) (argmax-with-min-tiebreak
  *            as a plain agg — a per-node neighbor-label multiset never
  *            materializes beyond an agg buffer on any task)
  * Lineage is cut per round with an eager localCheckpoint (same pattern
  * as [[ConnectedComponents]] / [[PageRank]]) so the plan stays
  * round-sized. Edges are symmetrized + deduped once up front; after
  * that every node appears as a `src`, so no left-join backfill is
  * needed. At 100 TB the per-round cost is two shuffles keyed by node
  * id — the same partitioning both rounds, which AQE reuses.
  */
object LabelProp {

  /** @param edges (src, dst) edge list, treated as undirected; self-loops
    *              dropped, duplicates deduped
    * @return (id, label) after `iters` synchronous rounds */
  def propagate(edges: DataFrame, iters: Int = 2): DataFrame = {
    val d = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val e = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    var labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    // lazy rounds + one eager final materialization (r16): no per-round
    // driver action exists, so eager-per-round checkpoints were N
    // standalone jobs whose only purpose — lineage truncation — the
    // lazy form provides too (see PageRank.ranks)
    val rounds = collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    for (i <- 0 until iters) {
      labels = e
        .join(labels.select(col("id").as("dst"), col("label").as("nlabel")), "dst")
        .groupBy("src", "nlabel").agg(count(lit(1)).as("cnt"))
        .groupBy("src")
        .agg(max(struct(col("cnt"), (-col("nlabel")).as("neg"))).as("m"))
        .select(col("src").as("id"), (-col("m.neg")).as("label"))
        .localCheckpoint(i == iters - 1)
      if (i < iters - 1) rounds += labels
    }
    // e only feeds the rounds; after ≥1 round the returned labels frame
    // is an eager checkpoint and no longer reads it
    if (iters > 0) {
      rounds.foreach(Checkpoints.release)
      Checkpoints.release(e)
    }
    labels
  }
}
