package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the missing step
  * between near-duplicate PAIR detection (MinHash bands, SimHash Hamming
  * blocks) and actual corpus deduplication: transitive closure of the
  * pair relation groups docs into clusters, from which one canonical
  * representative survives.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * is two shuffles (a groupBy-min and a join) over the current edge set;
  * the edge set converges to a star per component — every node linked
  * directly to its component's minimum id — in O(log n) rounds. This is
  * the 100 TB shape: no driver-side graph, no transitive-closure blowup
  * (closure is O(n·m) rows; stars stay O(n)), each round embarrassingly
  * parallel. Result at convergence is exactly "min id per component",
  * independent of iteration order — deterministic, so it can be oracled
  * against a recursive-CTE twin on small data.
  *
  * The driver loop is control flow only (one convergence action per
  * round); per-round `localCheckpoint` truncates the join lineage that
  * would otherwise grow exponentially. The checkpoint is lazy — the
  * convergence check's action is what materializes the blocks — so each
  * round runs exactly one job. Edge frames are (id, id) pairs — tiny
  * relative to the corpus — so the checkpoint blocks are cheap; the
  * previous round's blocks are explicitly released each iteration.
  */
object ConnectedComponents {

  /** (id, component) for every node appearing in `edges`, where
    * `component` is the minimum node id reachable from it. Node ids may
    * be any orderable type (long, string). Self-loops are dropped.
    * Throws if not converged within `maxIter` rounds (each round roughly
    * halves star depth; 20 covers any graph with diameter < 2^20). */
  def components(edges: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst", maxIter: Int = 20): DataFrame =
    componentsWithFinal(edges, srcCol, dstCol, maxIter)._1

  /** [[components]] for callers that immediately STAGE the result (the
    * IncrementalStage/DedupStage pattern): the output is materialized
    * as an eager checkpoint and the loop's FINAL internal edge frame is
    * released. The lazy [[components]] result keeps that final frame
    * pinned for the session — its blocks are the only copy of the
    * converged stars and the root-strict [[Checkpoints.release]] cannot
    * reach them through the derived output (r17; at 100 TB the frame is
    * component-assignment-sized, one leaked copy per CC invocation).
    * Returns a checkpoint root the caller owns and may release. */
  def componentsEager(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst", maxIter: Int = 20): DataFrame = {
    val (out, fin) = componentsWithFinal(edges, srcCol, dstCol, maxIter)
    val staged = out.localCheckpoint(true)
    Checkpoints.release(fin)
    staged
  }

  /** Core loop: returns (lazy output, the final round's checkpointed
    * edge frame the output derives from) so eager call sites can
    * release the latter once the former is materialized. */
  private[operators] def componentsWithFinal(
      edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 20): (DataFrame, DataFrame) = {
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(false)
    var prev: DataFrame = null
    var converged = isMinStar(e)
    var iter = 0
    while (!converged && iter < maxIter) {
      // largeStar's output feeds smallStar's THREE consuming subtrees
      // (the mins groupBy under both relink and self, plus relink's
      // probe side), and Catalyst does not share subplans — unstaged,
      // every round re-planned and re-shuffled the largeStar sym-union
      // + groupBy + join three times (the candidatePairs r14 lesson,
      // found here by the r15 hammingClusters stage split where CC
      // dominated the operator). A LAZY checkpoint per round (r16, the
      // KCore lesson) caps the round at one largeStar evaluation — the
      // three consumers share one persisted RDD — WITHOUT the eager
      // variant's extra materialization job per round: the blocks
      // materialize inside the convergence check's action below
      // (interleaved A/B: lazy 2.28 vs eager 2.36 s min, BENCHLOG "the
      // r16 lazy-checkpoint sweep"). The edge frame is O(|edges|) rows
      // of two ids, so the blocks are cheap at any scale and strictly
      // cheaper than two recomputes.
      val ls = largeStar(e).localCheckpoint(false)
      val next = smallStar(ls).localCheckpoint(false)
      converged = isMinStar(next) // materializes next AND ls; both releasable
      Checkpoints.release(ls)
      if (prev != null) Checkpoints.release(prev)
      prev = e
      e = next
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    if (prev != null) Checkpoints.release(prev)
    // Rounds never distinct their output (saves an exchange per round;
    // the groupBy-mins absorb duplicate rows via map-side combine), so
    // dedup once here. Converged star edges are (root, member) in
    // canonical least-first form; add the roots themselves.
    val star = e.distinct()
    val out = star.select(col("dst").as("id"), col("src").as("component"))
      .union(star.select(col("src").as("id"), col("src").as("component")).distinct())
    (out, e)
  }

  /** One row per component: (component, cluster_size). */
  def clusterSizes(comp: DataFrame): DataFrame =
    comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))

  /** Large-star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). One groupBy-min +
    * one equi-join on the symmetrized edges. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
    // No distinct here: smallStar dedups its output, so an extra exchange
    // per round buys nothing (duplicate edges only inflate the round's
    // own groupBy input, which map-side combine absorbs).
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("m").as("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Small-star: every node connects its strictly-smaller neighbors (and
    * itself) to the minimum of those neighbors. Edges arrive and leave in
    * canonical least-first orientation. */
  private def smallStar(e: DataFrame): DataFrame = {
    // e is least-first: (src < dst) ⇒ group by the larger endpoint.
    // No distinct on the output: duplicate edge rows only inflate the
    // next round's groupBy inputs (absorbed map-side) and multiplicity
    // stays O(|edges|) — contraction merges rows additively, never
    // multiplies them. The convergence check and the final output are
    // duplicate-tolerant, so the per-round dedup exchange buys nothing.
    val mins = e.groupBy("dst").agg(min(col("src")).as("m"))
    val relink = e.join(mins, "dst")
      .select(col("m").as("src"), col("src").as("dst"))
    val self = mins.select(col("m").as("src"), col("dst"))
    relink.union(self)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** True iff the edge set is already a disjoint union of min-stars —
    * the fixed point of smallStar∘largeStar — i.e. every component is
    * exactly {(root, member)} with one edge per member. In canonical
    * least-first orientation that is: no node appears both as a `src`
    * and as a `dst` (members have no children), and no `dst` has two
    * DISTINCT src partners (members link to exactly one root; duplicate
    * copies of the same edge are fine — rounds don't dedup). Checked
    * directly instead of waiting for two consecutive rounds to hash
    * identically: stability detection costs a full extra
    * largeStar+smallStar round after convergence, the direct test none.
    * Distinct-partner detection is min(peer) ≠ max(peer), not
    * count(DISTINCT) — the latter plans a second exchange. One
    * aggregation action — which also materializes the
    * lazily-checkpointed round result it runs on. */
  private def isMinStar(e: DataFrame): Boolean = {
    val endpoints = e.select(col("src").as("id"),
        lit(null).cast(e.schema("src").dataType).as("peer"), lit(1).as("is_src"))
      .union(e.select(col("dst"), col("src"), lit(0)))
    endpoints.groupBy("id")
      .agg(max(col("is_src")).as("ever_src"), min(col("is_src")).as("ever_dst"),
        min(col("peer")).as("pmin"), max(col("peer")).as("pmax"))
      .filter((col("ever_src") === 1 && col("ever_dst") === 0) ||
        col("pmin") =!= col("pmax"))
      .isEmpty
  }
}
