package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.normalizeText

/** Staged BASE-ERA state for the incremental-maintenance queries — the
  * [[DedupStage]] discipline applied to [[IncrementalCC]]'s inputs.
  *
  * The incremental queries' subject is the FOLD (delta edges into an
  * existing assignment); the base assignment and the corpus pair set
  * are the state a production pipeline already has on disk, maintained
  * by earlier batches. Rebuilding them on every invocation billed the
  * base build to every fold measurement (bench = warmup + 3 timed runs
  * = four base builds), drowning the thing the queries exist to
  * measure. Staged once per (session, dir) as eager checkpoints through
  * [[StagedOnce]]. At 100 TB both frames are persisted tables owned by
  * the index/cluster-maintenance job; the staging models that
  * read-amortization exactly (DedupStage's contract, verbatim).
  */
object IncrementalStage {

  val CcOwner = "q_incremental_cc"
  val DedupOwner = "q_incremental_dedup"
  val DecOwner = "q_decremental_cc"

  private def allEdges(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_orderkey") < 8000)
      .select((col("l_orderkey") % 2000).as("src"),
        (col("l_partkey") % 2000).as("dst"), col("l_linenumber"))

  /** Base-era (id, component) for q_incremental_cc: components over the
    * non-7th-line-item edges. Staged once per (session, dir). */
  def ccBaseAssign(s: SparkSession, dir: String): DataFrame =
    StagedOnce(s, s"iccbase|$dir", CcOwner, dir) {
      ConnectedComponents.componentsEager(
        allEdges(s, dir).filter(col("l_linenumber") % 7 =!= 0)
          .select("src", "dst"))
    }

  /** The delta-era edges (7th line items) — one cheap bounded scan,
    * recomputed per invocation like any delta batch would be read. */
  def ccDeltaEdges(s: SparkSession, dir: String): DataFrame =
    allEdges(s, dir).filter(col("l_linenumber") % 7 === 0).select("src", "dst")

  /** q_decremental_cc's graph: per-order CHAINS — node o·8+ln links to
    * its successor, so components are order-sized (≤ 8 nodes) and the
    * graph has MANY SMALL components, the shape dedup clusters actually
    * have. The first cut of this query used the dense incremental graph
    * (a handful of giant components): there every takedown touched
    * every component and the "delta-cost" probe silently degenerated to
    * a full recompute, 3.6 s per invocation at sf0.1 — measuring the
    * operator's worst case, not its law. Edges scale with the corpus
    * (~457k at sf0.1); the distinct absorbs the testdata's planted
    * duplicate (l_orderkey, l_linenumber) rows. (src, dst) determines
    * (o, ln), so the delete predicate is well-defined per edge. */
  private def chainEdges(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("src"),
        (col("l_orderkey") * 8 + col("l_linenumber") + 1).as("dst"),
        col("l_orderkey").as("o"), col("l_linenumber").as("ln"))
      .distinct()

  def decAllEdges(s: SparkSession, dir: String): DataFrame =
    chainEdges(s, dir).select("src", "dst")

  /** The retraction batch — a LOCALIZED takedown (every 97th order loses
    * its mid-chain links, ~0.26% of edges), so touched components are a
    * sliver of the graph and the probe's recompute is delta-sized: the
    * production regime the operator exists for. Chains split where the
    * deleted link was interior; nodes whose only link goes drop out. */
  def decDeleteEdges(s: SparkSession, dir: String): DataFrame =
    decDeleteEdgesTagged(s, dir).select("src", "dst")

  /** The takedown batch with its order key exposed, so
    * q_stream_decremental_cc can split it into micro-batches by a
    * deterministic function of the order. */
  def decDeleteEdgesTagged(s: SparkSession, dir: String): DataFrame =
    chainEdges(s, dir)
      .filter(col("o") % 97 === 0 && col("ln") % 3 === 0)
      .select("src", "dst", "o")

  /** Base assignment for q_decremental_cc: components over the FULL
    * edge set — the state a production pipeline has on disk before the
    * takedown batch arrives. Staged once per (session, dir). */
  def decBaseAssign(s: SparkSession, dir: String): DataFrame =
    StagedOnce(s, s"decbase|$dir", DecOwner, dir) {
      ConnectedComponents.componentsEager(decAllEdges(s, dir))
    }

  /** (all near-dup pairs, base-era assignment) for q_incremental_dedup:
    * the MinHash pair set over the corpus (canonical id_a < id_b) and
    * the components of its base era (id_b < 400). Staged once per
    * (session, dir); the caller slices the delta era from the staged
    * pair frame. */
  def dedupBase(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    StagedOnce(s, s"idedupbase|$dir", DedupOwner, dir) {
      val pairs = MinHashDedup.nearDuplicates(
          Tables(s, dir, "documents"), "doc_id",
          normalizeText(col("text")), threshold = 0.7)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .localCheckpoint(true)
      val assign = ConnectedComponents
        .componentsEager(pairs.filter(col("dst") < 400))
      (pairs, assign)
    }

  val RetractOwner = "q_dedup_retraction"

  /** The LIVE dedup-cluster assignment — components over the corpus's
    * full MinHash pair set (shares [[dedupBase]]'s staged pair frame) —
    * the state q_dedup_retraction applies document takedowns to.
    * Staged once per (session, dir). */
  def dedupFullAssign(s: SparkSession, dir: String): DataFrame =
    StagedOnce(s, s"idedupfull|$dir", RetractOwner, dir) {
      ConnectedComponents.componentsEager(dedupBase(s, dir)._1)
    }
}
