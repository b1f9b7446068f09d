package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFns.{cosineFast, toDoubleVec}

/** Session-staged shared state for the ANN audit queries (q_ann_sweep,
  * q_ann_drift_recall) — the [[IncrementalStage]] discipline applied to
  * the vector side (ADVICE r16: annSweep re-staged its centroid frame
  * and brute baseline as unreleased eager checkpoints on EVERY
  * invocation — four builds per bench, blocks pinned per call).
  *
  * Both audits price the same production search against the same exact
  * baseline, so the expensive invariants are staged once per
  * (session, dir):
  *  - `centsAndBrute`: the full-corpus label centroids (the "rebuilt"
  *    geometry) and the exact brute-force top-10 of the 32-query
  *    sample — one corpus scan each;
  *  - `driftState`: the BASE-snapshot centroids plus the corpus in its
  *    drift-era clustering (base rows keep their build-time cluster,
  *    appended rows sit where nearest-base-centroid assignment put
  *    them) — the in-memory mirror of [[IvfIndex]]'s staged assignment
  *    table after a delta [[IvfIndex.append]], which at 100 TB is a
  *    persisted table, not a per-query recompute.
  *
  * Both are staged through [[StagedOnce]] under the owning query.
  */
object AnnStage {

  val SweepOwner = "q_ann_sweep"
  val DriftOwner = "q_ann_drift_recall"

  /** Base-era snapshot boundary: vectors below it were present at index
    * build time, vectors at/above it arrive as delta appends. */
  val BaseSplit = 400

  /** (vec_id, label, e) over the embeddings table. */
  def corpus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("e"))

  /** The fixed 32-vector query sample (qid, qe) every ANN audit rates. */
  def queries(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).filter(col("vec_id") < 32)
      .select(col("vec_id").as("qid"), col("e").as("qe"))

  /** (full-corpus label centroids, exact brute-force top-10 per query) —
    * staged once per (session, dir). The brute frame is the recall
    * denominator both audits share; the centroids are q_ann_sweep's
    * probe geometry and q_ann_drift_recall's "rebuilt" era. */
  def centsAndBrute(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    StagedOnce(s, s"annstage|$dir", SweepOwner, dir) {
      val e = corpus(s, dir)
      val cents = Knn.centroids(e, "label").localCheckpoint(true)
      val brute = Knn.bruteForceTopK(queries(s, dir), e.select("vec_id", "e"), 10)
        .select("qid", "vec_id").localCheckpoint(true)
      (cents, brute)
    }

  /** ((cid, cv) base-snapshot centroids, (vec_id, cid, e) drift-era
    * clustered corpus): base vectors keep their build-time cluster
    * (= label); appended vectors (vec_id ≥ [[BaseSplit]]) are assigned
    * to their nearest BASE centroid by cosine (cid tiebreak — the
    * probe's own ranking geometry), exactly what [[IvfIndex.append]]
    * does to the staged assignment table. Staged once per
    * (session, dir). */
  def driftState(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    StagedOnce(s, s"anndrift|$dir", DriftOwner, dir) {
      val e = corpus(s, dir)
      val base = e.filter(col("vec_id") < BaseSplit)
      val cb = Knn.centroids(base, "label")
        .select(col("label").as("cid"), col("cv")).localCheckpoint(true)
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid"))
      val deltaCid = e.filter(col("vec_id") >= BaseSplit)
        .crossJoin(broadcast(cb))
        .withColumn("csim", cosineFast(col("e"), col("cv")))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") === 1)
        .select(col("vec_id"), col("cid"), col("e"))
      val clustered = base
        .select(col("vec_id"), col("label").as("cid"), col("e"))
        .union(deltaCid)
        .localCheckpoint(true)
      (cb, clustered)
    }
}
