package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental connected-components maintenance: fold a DELTA edge
  * batch into an existing (id, component) assignment without
  * recomputing components over the full edge set.
  *
  * This is the missing back half of the incremental dedup story: the
  * persisted MinHash index already finds new near-dup PAIRS per
  * delta batch (MinHashIndex.probeNew — per-doc work only), but
  * cluster membership (who is canonical, what merged) still required a
  * full ConnectedComponents pass over all pairs ever seen. With this
  * operator a streaming corpus maintains its dedup clusters at
  * delta cost.
  *
  * Algorithm (the standard component-graph contraction):
  *   1. look up the current component of every delta endpoint —
  *      endpoints unknown to the assignment are new nodes and stand
  *      for themselves;
  *   2. contract: rewrite each delta edge to (component(src),
  *      component(dst)); drop the ones that collapse to self-loops
  *      (both ends already in one component — nothing to do);
  *   3. run the normal O(log n)-round CC on the CONTRACTED graph,
  *      whose size is bounded by the delta (≤ 2·|delta| nodes),
  *      never by the corpus;
  *   4. remap: existing rows whose component merged take their new
  *      root; untouched rows pass through; new nodes join with their
  *      root (or themselves if their edges all self-looped).
  *
  * Correctness of the min-id invariant: existing component ids are the
  * min member id by [[ConnectedComponents]]'s contract, so the min
  * over a merged set of component ids and new node ids IS the min over
  * all member ids — the incremental result is row-identical to a full
  * recompute over base ∪ delta (spec-verified, oracle-verified).
  *
  * 100 TB shape: the corpus-sized assignment is SCANNED twice and
  * SHUFFLED never — step 1 semi-joins it against the broadcast delta
  * endpoint set (delta-sized build side), step 4 left-joins it against
  * the broadcast remap table (affected-components-sized). The CC in
  * step 3 runs on a delta-sized graph. Both small frames are staged
  * eagerly so the planner sees true sizes and picks the broadcasts.
  */
object IncrementalCC {

  /** @param assign existing (id, component) rows — `component` must be
    *               the min member id (ConnectedComponents' output)
    * @param delta  new edges (srcCol, dstCol); self-loops dropped,
    *               ids orderable like the assignment's
    * @return (id, component) over all of assign's ids plus the delta's
    *         new endpoints — row-identical to
    *         `ConnectedComponents.components(baseEdges ∪ delta)`
    *
    * Pin contract (ADVICE r16): each invocation stages three eager
    * delta-sized checkpoints (endpoint ids, pruned lookup, remap) that
    * the LAZY result consumes — they stay pinned while the returned
    * frame is alive and are released only with the session. One-shot
    * batch callers accept that (the frames are delta-sized); a
    * long-lived per-batch loop must use [[addEdgesEager]], which
    * releases them before returning. */
  def addEdges(assign: DataFrame, delta: DataFrame,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    addEdgesImpl(assign, delta, srcCol, dstCol)._1

  /** [[addEdges]] for per-batch loops (the streaming fold): the result
    * is materialized as an EAGER checkpoint and the three staging
    * frames are released before returning, so a fold leaves exactly ONE
    * pinned frame — the maintained assignment itself, which the next
    * fold consumes. The caller owns that pin: release the PREVIOUS
    * assignment with [[Checkpoints.release]] once the returned frame
    * replaces it (never before — the release is destructive; see
    * Checkpoints' ordering contract). */
  def addEdgesEager(assign: DataFrame, delta: DataFrame,
                    srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val (lazyOut, staging) = addEdgesImpl(assign, delta, srcCol, dstCol)
    val out = lazyOut.localCheckpoint(true)
    staging.foreach(Checkpoints.release)
    out
  }

  private def addEdgesImpl(assign: DataFrame, delta: DataFrame,
                           srcCol: String, dstCol: String): (DataFrame, Seq[DataFrame]) = {
    val d = delta
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    val a = assign.select(col("id"), col("component"))
    val dIds = d.select(col("src").as("id"))
      .union(d.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    // current components of the touched ids only — delta-sized; the
    // corpus-sized assignment is semi-join-pruned by the broadcast
    // endpoint set, not shuffled
    val lookup = a.join(broadcast(dIds), Seq("id"), "left_semi")
      .localCheckpoint(true)
    val contracted = d
      .join(broadcast(lookup.withColumnRenamed("id", "src")
        .withColumnRenamed("component", "csrc")), Seq("src"), "left")
      .join(broadcast(lookup.withColumnRenamed("id", "dst")
        .withColumnRenamed("component", "cdst")), Seq("dst"), "left")
      .select(coalesce(col("csrc"), col("src")).as("src"),
        coalesce(col("cdst"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // CC over the contracted graph: nodes are affected component roots
    // and new ids — bounded by the delta. remap is staged eagerly, so
    // the loop's final internal frame is releasable right away (r17 —
    // the lazy components() result would pin it for the session).
    val cc = ConnectedComponents.componentsWithFinal(contracted)
    val remap = cc.out.localCheckpoint(true)
    Checkpoints.release(cc.last)
    val updatedExisting = a
      .join(broadcast(remap.select(col("id").as("component"),
        col("component").as("newc"))), Seq("component"), "left")
      .select(col("id"), coalesce(col("newc"), col("component")).as("component"))
    // new ids = delta endpoints absent from the assignment; an id whose
    // delta edges all contracted to self-loops keeps itself (it can
    // only happen for an id that equals its whole component already)
    val newIds = dIds.join(broadcast(lookup.select("id")), Seq("id"), "left_anti")
    val updatedNew = newIds
      .join(broadcast(remap), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    (updatedExisting.union(updatedNew), Seq(dIds, lookup, remap))
  }

  /** Decremental maintenance: retract a batch of edges from the graph an
    * existing assignment was computed over — takedowns, license changes,
    * document deletions — without recomputing components over the full
    * remaining edge set. Removal can SPLIT a component, which the
    * assignment alone cannot resolve, so unlike [[addEdges]] this needs
    * the surviving edges: CC re-runs on the induced subgraph of the
    * TOUCHED components only.
    *
    * Algorithm:
    *   1. touched = components containing any deleted-edge endpoint —
    *      ≤ 2·|deletes| component ids (broadcast);
    *   2. members = assignment rows of touched components (the corpus
    *      scanned once, semi-pruned by the broadcast component set);
    *   3. induced surviving subgraph = edges whose src is a touched
    *      member (components are edge-closed, so one endpoint decides)
    *      minus the deleted pairs (broadcast anti-join);
    *   4. recompute CC on that subgraph; untouched rows pass through
    *      (broadcast anti on the component id).
    *
    * Nodes of touched components that lose their last edge drop out of
    * the result — exactly [[ConnectedComponents.components]]' contract
    * (only nodes appearing in edges are assigned), so the output is
    * row-identical to a full recompute over `edges ∖ deletes`.
    *
    * 100 TB shape: the assignment and the edge set are each SCANNED
    * once or twice and SHUFFLED never — every join probe (touched ids,
    * deleted pairs, touched members) is broadcast. The recompute is
    * bounded by the touched components' induced subgraph: for dedup
    * clusters those are near-dup clusters — small by construction; a
    * retraction inside a corpus-spanning giant component degenerates to
    * recomputing that component, which is inherent to deletion, not to
    * this operator — and past [[MembersBroadcastCapKey]] rows the
    * members probe drops its broadcast hint and degrades to a shuffle
    * join instead of a forced-broadcast driver OOM (r18). Pin contract: three eager staging checkpoints
    * (deleted pairs, touched ids, members — delete/affected-sized) plus
    * the recompute's final internal frame stay pinned while the lazy
    * result is alive, as in [[addEdges]]; per-batch loops use
    * [[removeEdgesEager]], which releases all four.
    *
    * @param assign  existing (id, component) rows over `edges`
    *                (min-member-id components)
    * @param edges   the FULL edge set the assignment was computed over
    * @param deletes edges to retract (orientation-insensitive; rows not
    *                present in `edges` are ignored)
    * @return (id, component) row-identical to
    *         `ConnectedComponents.components(edges ∖ deletes)` */
  def removeEdges(assign: DataFrame, edges: DataFrame, deletes: DataFrame,
                  srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    removeEdgesImpl(assign, edges, deletes, srcCol, dstCol)._1

  /** [[removeEdges]] for per-batch loops — [[addEdgesEager]]'s contract
    * mirrored: result staged eagerly, the three staging frames AND the
    * induced-subgraph CC's final internal frame released before
    * returning; the caller owns (and releases) exactly one maintained
    * assignment generation. */
  def removeEdgesEager(assign: DataFrame, edges: DataFrame, deletes: DataFrame,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val (lazyOut, staging) = removeEdgesImpl(assign, edges, deletes, srcCol, dstCol)
    val out = lazyOut.localCheckpoint(true)
    staging.foreach(Checkpoints.release)
    out
  }

  /** Membership-row cap above which [[removeEdges]] abandons the
    * broadcast hint on the touched-members probe and lets the planner
    * shuffle instead (session conf, r18 — VERDICT r17 finding 1): the
    * other probe frames are delete-bounded, but `members` is the full
    * membership of every touched component, which a takedown inside a
    * corpus-spanning giant component makes unbounded — and a FORCED
    * broadcast of an unbounded frame fails hard (driver OOM) instead of
    * degrading. 5M ids ≈ 40 MB broadcast — comfortably under Spark's
    * 8 GB hard limit with headroom for wide id types. */
  private[graft] val MembersBroadcastCapKey = "graft.cc.membersBroadcastCap"

  /** The induced-surviving-subgraph probe with the size-gated members
    * join — package-visible so the gate's PLAN (hint kept vs dropped)
    * is spec-assertable directly: inside [[removeEdges]] the frame is
    * consumed by the recompute's first-round checkpoint and never
    * appears in the output plan. `memberRows` is the materialized
    * checkpoint's count — an O(partitions) action on already-staged
    * blocks, not a recompute. */
  private[graft] def inducedSurviving(canonEdges: DataFrame, del: DataFrame,
                                      members: DataFrame,
                                      memberRows: Long): DataFrame = {
    val cap = members.sparkSession.conf
      .get(MembersBroadcastCapKey, "5000000").toLong
    val mSrc = members.withColumnRenamed("id", "src")
    val probe = if (memberRows <= cap) broadcast(mSrc) else mSrc
    canonEdges
      .join(probe, Seq("src"), "left_semi")
      .join(broadcast(del), Seq("src", "dst"), "left_anti")
  }

  private def removeEdgesImpl(assign: DataFrame, edges: DataFrame,
                              deletes: DataFrame, srcCol: String,
                              dstCol: String): (DataFrame, Seq[DataFrame]) = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val a = assign.select(col("id"), col("component"))
    val del = canon(deletes).distinct().localCheckpoint(true)
    val delIds = del.select(col("src").as("id"))
      .union(del.select(col("dst").as("id"))).distinct()
    val touched = a.join(broadcast(delIds), Seq("id"), "left_semi")
      .select(col("component")).distinct().localCheckpoint(true)
    val members = a.join(broadcast(touched), Seq("component"), "left_semi")
      .select(col("id")).localCheckpoint(true)
    val induced = inducedSurviving(canon(edges), del, members, members.count())
    // the recompute's final internal frame rides in the staging list:
    // the eager wrapper may release it once the result materializes,
    // the lazy form leaves it pinned (the result derives from it)
    val cc = ConnectedComponents.componentsWithFinal(induced)
    val untouched = a.join(broadcast(touched), Seq("component"), "left_anti")
    val out = untouched.select(col("id"), col("component"))
      .union(cc.out.select(col("id"), col("component")))
    (out, Seq(del, touched, members, cc.last))
  }
}
