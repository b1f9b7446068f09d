package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns.{fingerprint, normalizeText, tokens}

/** Shared staged dedup-graph pipeline: exact-fingerprint edges ∪ SimHash
  * Hamming-≤2 edges → connected components.
  *
  * Both q_dedup_clusters (cluster listing) and q_dedup_canonical
  * (canonical choice) consume the SAME components table; rebuilding the
  * fingerprint pass, the SimHash block join, and the O(log n) CC rounds
  * twice per suite run doubled the most expensive pipeline in the bench
  * (r6 regression). This object stages the components once per
  * (session, corpus dir) and keeps the localCheckpoint-ed result —
  * the same build-once-probe-many discipline as [[MinHashIndex]], held
  * in-JVM rather than on disk because the components frame is (id,
  * component) pairs over only the clustered minority of docs (tiny
  * relative to the corpus). At 100 TB this stage would be a persisted
  * table maintained by the index job; the staging models exactly that
  * read-amortization.
  *
  * Staged through [[StagedOnce]] under [[Owner]], so the build lands in
  * the one build ledger.
  */
object DedupStage {

  /** (id, component) over every doc participating in at least one
    * exact-dup or near-dup pair, component = min reachable doc_id.
    * Materialized once per (session, dir); callers must not mutate. */
  def components(s: SparkSession, dir: String): DataFrame =
    StagedOnce(s, s"dedup_components@$dir", Owner, dir)(build(s, dir))

  /** The registered queries this stage serves — the bench's build_s
    * report keys DedupStage builds under this name. */
  val Owner = "q_dedup_clusters+q_dedup_canonical"

  /** Always empty (the build is in [[StagedOnce.builds]]); exists only for perfbench's harness. */
  def buildSeconds(s: SparkSession): Map[String, Double] = Map.empty

  private def build(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    // fp feeds itself (rows + group-mins) across a self-join — checkpoint
    // the tiny (id, md5) frame so the documents scan and md5 run once.
    val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))
      .localCheckpoint(true)
    val fpMin = fp.groupBy("fingerprint").agg(min(col("doc_id")).as("src"))
    val fpEdges = fp.join(fpMin, "fingerprint")
      .filter(col("doc_id") =!= col("src"))
      .select(col("src"), col("doc_id").as("dst"))
    val sim = SimHash.withSimhash(docs, "doc_id", tokens(normalizeText(col("text"))))
    val hamEdges = SimHash.hammingPairs(sim, "doc_id", nBits = 32, maxDist = 2)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    ConnectedComponents.componentsEager(fpEdges.union(hamEdges))
  }
}
