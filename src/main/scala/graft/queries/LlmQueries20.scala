package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.normalizeText
import graft.operators.{Checkpoints, IncrementalCC, IncrementalStage, MinHashIndex}
import graft.sinks.{ParquetWrite, ReadBack}
import graft.streaming.StreamingIngest

/** Twentieth batch (r17): the two maintenance seams VERDICT r16 left
  * open — the probe→fold incremental-dedup composition run AS A STREAM,
  * and decremental (retraction) component maintenance.
  */
object LlmQueries20 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** The sorted, capped delta slice (doc_id ≥ 400) every streamed dedup
    * composition feeds its ADD batches from — ONE collect per
    * (session, dir): the memo key is shared, so whichever of
    * q_stream_incremental_dedup / q_stream_takedown runs first pays the
    * scan (the idxBase shared-staging discipline; review r18 — the two
    * queries previously collected byte-identical slices under separate
    * keys). StreamRowCap is the slice contract's hard guard, mirrored
    * into the twins by [[capDocsMirror]]; orderBy before limit keeps
    * the slice a contiguous id PREFIX, which the probes' minNewId
    * batching depends on. */
  private[queries] def dedupDeltaSlice(s: SparkSession,
                                       dir: String): Array[(Long, String)] = {
    import s.implicits._
    StreamQueries.slice(s, dir, "q_stream_incremental_dedup") {
      t(s, dir, "documents").filter(col("doc_id") >= 400)
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").limit(StreamQueries.StreamRowCap)
        .as[(Long, String)].collect()
    }
  }

  /** One ADD micro-batch of the probe→fold composition — the shared
    * per-batch body of q_stream_incremental_dedup and
    * q_stream_takedown (review r18: a fix to the fold must not have to
    * be remembered in two copies): append the batch's signatures to the
    * overlay, probe the layers for its new-vs-indexed pairs (id_b ≥
    * the batch's min id — later ids are not yet indexed, so this is
    * exactly the batch's pairs), fold via
    * [[IncrementalCC.addEdgesEager]]. Returns (next assignment, the
    * batch's pair frame — lazy over probe-staged checkpoints); the
    * caller owns releasing the superseded assignment generation. */
  private[queries] def addFoldBatch(s: SparkSession, docs: DataFrame,
      layers: Seq[String], overlay: String, batch: DataFrame,
      assign: DataFrame): (DataFrame, DataFrame) = {
    MinHashIndex.append(batch, "doc_id", normalizeText(col("text")), overlay)
    val minId = batch.agg(min("doc_id")).head.getLong(0)
    val pairs = MinHashIndex.probeNewMulti(s, layers, docs,
        "doc_id", normalizeText(col("text")), threshold = 0.7, minNewId = minId)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    (IncrementalCC.addEdgesEager(assign, pairs), pairs)
  }

  /** Incremental dedup-cluster maintenance AS A STREAM — the
    * composition a production ingest pipeline actually runs, per
    * micro-batch: append the batch's MinHash signatures to the
    * persisted index overlay, probe base+overlay for the batch's
    * new-vs-indexed near-dup pairs ([[MinHashIndex.probeNewMulti]] —
    * per-doc cost), and FOLD those pairs into the maintained
    * (id, component) assignment via [[IncrementalCC.addEdgesEager]] —
    * delta cost, one pinned frame (the assignment itself) carried
    * across batches, the previous generation released per fold.
    * q_incremental_dedup proved the fold batch-side; q_stream_lsh_index
    * proved the probe streams; this query proves the composed state
    * machine across THREE batches, where pairs from batch N can merge
    * clusters created by batches < N (cross-batch merges — the case a
    * per-batch-recompute harness never exercises).
    *
    * Oracle = the full recursive-closure recompute over ALL pairs ever
    * seen (q_incremental_dedup's twin, unsplit) — the hash equality
    * proves the maintained streaming state equals a from-scratch
    * recompute after every batch has folded.
    *
    * At 100 TB: per-batch cost = batch signature pass + one
    * band-partitioned bucket equi-join + a delta-sized contraction CC;
    * the corpus-sized assignment is scanned via broadcast probes, never
    * shuffled, and exactly one generation of it is ever pinned. */
  def streamIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = t(s, dir, "documents")
    val norm = normalizeText(col("text"))
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val idxBase = s"target/incdedup_idx_$tag"
    val overlay = s"target/incdedup_ovl_$tag"
    val outDir = s"target/incdedup_out_$tag"
    // Immutable base index staged once per session (the q_stream_lsh_index
    // layout: base built once, per-invocation overlay re-appended).
    graft.operators.StagedOnce(s, idxBase, owner = "q_stream_incremental_dedup",
        dir = dir) {
      MinHashIndex.build(docs.filter(col("doc_id") < 400), "doc_id", norm, idxBase)
    }
    // Base-era clusters: shared staged state with q_incremental_dedup
    // (IncrementalStage — same assignment a batch pipeline has on disk).
    val baseAssign = IncrementalStage.dedupBase(s, dir)._2
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(overlay), true)
    val delta = dedupDeltaSlice(s, dir)
    require(delta.nonEmpty, "empty delta slice")
    // Positional thirds instead of fixed id cutoffs (ADVICE r17: the
    // 434/467 literals put ~98% of the sf0.1 delta into batch 3):
    // batches stay comparable across scale dirs, and each batch is a
    // contiguous ascending id slice, so "ids >= this batch's min are
    // exactly this batch" — the probe's minNewId contract — holds.
    val batches = delta.toSeq
      .grouped(math.max((delta.length + 2) / 3, 1)).toSeq.filter(_.nonEmpty)
    // Per-batch jobs shuffle kilobyte-scale bucket/pair rows — task
    // overhead dominates at 32 partitions (the q_stream_lsh_index
    // measurement); result is partition-count independent.
    var assign = baseAssign
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.localCheckpoint(true) // one compute: append + min
          val (next, _) = addFoldBatch(s, docs, Seq(idxBase, overlay), overlay,
            b, assign)
          // release the superseded generation — never the shared staged base
          if (assign ne baseAssign) Checkpoints.release(assign)
          assign = next
          Checkpoints.release(b)
        }
        .start()
      try batches.foreach { bt => in.addData(bt); q.processAllAvailable() }
      finally q.stop()
    }
    ParquetWrite(assign.orderBy("id").write.mode("overwrite"), outDir)
    if (assign ne baseAssign) Checkpoints.release(assign)
    ReadBack.parquet(s, outDir, assign.schema).orderBy("id")
  }

  /** Mirror a harness slice's StreamRowCap into a minhash-chain twin:
    * restrict the corpus to base docs plus the first-cap delta docs by
    * id — exactly what the capped `orderBy(doc_id).limit(cap)` slice
    * feeds the stream (r18, review finding: the cap never binds at the
    * gate SFs, so hashes are unchanged there, but a 10×/100× tier dir
    * truncates the slice and an uncapped twin would diverge — the
    * StreamQueries2 convention, applied here). */
  private[queries] def capDocsMirror(base: String): String = {
    val anchor = "  FROM documents),\nsh AS ("
    val cap = StreamQueries.StreamRowCap
    val swapped = base.replace(anchor,
      s"""  FROM (SELECT doc_id, text FROM documents WHERE doc_id < 400
        UNION ALL
        SELECT doc_id, text FROM (
          SELECT doc_id, text FROM documents WHERE doc_id >= 400
          ORDER BY doc_id LIMIT $cap))),
sh AS (""")
    require(swapped != base, "minhash chain docs anchor moved; update capDocsMirror")
    swapped
  }

  /** Twin: q_incremental_dedup's recursive-CTE closure over the UNSPLIT
    * minhash pair set, with the harness slice's row cap mirrored
    * ([[capDocsMirror]]). The streaming fold must land exactly where
    * the batch fold and the full recompute land. */
  val streamIncrementalDedupSql: String =
    capDocsMirror(LlmQueries19.incrementalDedupSql)

  /** Decremental connected-components maintenance (r17, VERDICT r16
    * #2): retract a LOCALIZED takedown batch (~0.26% of edges — every
    * 97th order's mid-chain links, the takedown/license-change list a
    * 100 TB corpus pipeline receives) from a staged assignment over a
    * many-small-components chain graph via
    * [[IncrementalCC.removeEdges]]: only the components touched by a
    * deleted edge are recomputed, on their induced surviving subgraph
    * (broadcast-pruned, never a corpus shuffle); the untouched ~99.7%
    * pass through. Deletion can SPLIT components and DROP nodes, the
    * cases addEdges cannot express — both planted here (interior links
    * split chains; end-of-chain nodes lose their only link). The
    * oracle recomputes the closure over surviving edges from scratch,
    * so the hash equality proves retraction-at-delta-cost equals full
    * recompute. */
  def decrementalCC(s: SparkSession, dir: String): DataFrame =
    IncrementalCC.removeEdges(
        IncrementalStage.decBaseAssign(s, dir),
        IncrementalStage.decAllEdges(s, dir),
        IncrementalStage.decDeleteEdges(s, dir))
      .orderBy("id")

  /** Twin: recursive closure over the chain edges MINUS the takedown
    * predicate's slice — min reachable id per surviving node. Nodes
    * that lose their last edge drop out, components split: the
    * equality covers exactly the cases addEdges cannot produce. */
  val decrementalCCSql: String = """
WITH RECURSIVE raw AS (
  SELECT DISTINCT l_orderkey * 8 + l_linenumber AS src,
                  l_orderkey * 8 + l_linenumber + 1 AS dst,
                  l_orderkey AS o, l_linenumber AS ln
  FROM lineitem),
kept AS (SELECT src, dst FROM raw WHERE NOT (o % 97 = 0 AND ln % 3 = 0)),
sym AS (SELECT src, dst FROM kept UNION SELECT dst AS src, src AS dst FROM kept),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT id, component FROM comp ORDER BY id
"""

  /** Decremental maintenance AS A STREAM — takedown batches arrive as
    * micro-batches and each is folded into the maintained assignment
    * via [[IncrementalCC.removeEdgesEager]]: the retraction mirror of
    * q_stream_incremental_dedup, closing the maintenance matrix
    * (add/remove × batch/stream). Removal is compositional — deleting
    * D1 then D2 equals deleting D1 ∪ D2 — so the oracle is the same
    * closure over edges minus ALL takedowns that q_decremental_cc
    * proves; what this query adds is the carried STATE: each batch's
    * probe runs against the assignment the previous batches left,
    * and against the CURRENT edge set (original minus prior takedowns
    * — the edge table a production pipeline reads, modeled here as a
    * broadcast anti-join of the accumulated small delete frame).
    * Per-batch cost: two broadcast-pruned scans + a touched-chains CC;
    * exactly one assignment generation live at a time. */
  def streamDecrementalCC(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val outDir = s"target/sdec_out_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    val deletes = StreamQueries.slice(s, dir, "q_stream_decremental_cc") {
      // the slice contract's StreamRowCap hard guard (ADVICE r17)
      IncrementalStage.decDeleteEdgesTagged(s, dir)
        .select(col("src").cast("long"), col("dst").cast("long"),
          expr("(o div 97) % 3").cast("int").as("batch"))
        .orderBy("src", "dst").limit(StreamQueries.StreamRowCap)
        .as[(Long, Long, Int)].collect()
    }
    require(deletes.nonEmpty, "empty takedown slice")
    val batches = (0 until 3)
      .map(b => deletes.filter(_._3 == b).map(d => (d._1, d._2)).toSeq)
      .filter(_.nonEmpty)
    // Resolve the staged base BEFORE narrowing partitions (ADVICE r17:
    // if this query stages it first — scoped run, Verify ordering —
    // the corpus-sized base CC build must run at the session config,
    // not the per-batch 4-partition one).
    var assign = IncrementalStage.decBaseAssign(s, dir)
    val baseAssign = assign
    var removed: DataFrame = null // accumulated takedowns (small, staged)
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, Long)]
      val q = in.toDF().toDF("src", "dst")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.localCheckpoint(true)
          val current =
            if (removed == null) IncrementalStage.decAllEdges(s, dir)
            else IncrementalStage.decAllEdges(s, dir)
              .join(broadcast(removed), Seq("src", "dst"), "left_anti")
          val next = IncrementalCC.removeEdgesEager(assign, current, b)
          if (assign ne baseAssign) Checkpoints.release(assign)
          assign = next
          val nextRemoved =
            (if (removed == null) b else removed.union(b)).localCheckpoint(true)
          if (removed != null) Checkpoints.release(removed)
          removed = nextRemoved
          Checkpoints.release(b)
        }
        .start()
      try batches.foreach { bt => in.addData(bt); q.processAllAvailable() }
      finally q.stop()
    }
    ParquetWrite(assign.orderBy("id").write.mode("overwrite"), outDir)
    if (assign ne baseAssign) Checkpoints.release(assign)
    if (removed != null) Checkpoints.release(removed)
    ReadBack.parquet(s, outDir, assign.schema).orderBy("id")
  }

  /** Twin: q_decremental_cc's closure with the takedown slice's row cap
    * mirrored — the stream deletes only the first StreamRowCap edges by
    * (src, dst), so the twin's kept-set must exclude exactly that
    * capped subset (unbinding at the gate SFs; binding at tier dirs).
    * Modulo the cap, the batched retractions land exactly where the
    * one-shot retraction lands. */
  val streamDecrementalCCSql: String = {
    val anchor =
      "kept AS (SELECT src, dst FROM raw WHERE NOT (o % 97 = 0 AND ln % 3 = 0)),"
    val cap = StreamQueries.StreamRowCap
    val swapped = decrementalCCSql.replace(anchor,
      s"""capdel AS (SELECT src, dst FROM raw WHERE o % 97 = 0 AND ln % 3 = 0
           ORDER BY src, dst LIMIT $cap),
kept AS (SELECT src, dst FROM raw r
         WHERE NOT EXISTS (SELECT 1 FROM capdel d
                           WHERE d.src = r.src AND d.dst = r.dst)),""")
    require(swapped != decrementalCCSql,
      "decremental kept anchor moved; update streamDecrementalCCSql")
    swapped
  }

  /** DOCUMENT retraction from the LIVE dedup state — q_decremental_cc
    * applied the retraction operator to an abstract graph; this query
    * applies it to the thing a corpus pipeline actually maintains: the
    * MinHash near-dup cluster assignment. A takedown list (every 7th
    * doc: doc_id % 7 = 1 — ~9 of the 47 clustered docs at the gate
    * scale, so retractions genuinely hit clusters) removes those docs'
    * PAIRS (edges incident to
    * a retracted doc) from the staged full-corpus assignment via
    * [[IncrementalCC.removeEdges]] — a retracted doc loses every edge
    * and drops out of the assignment automatically; survivors' clusters
    * split or re-root exactly as a from-scratch recompute over the
    * surviving pairs would (the oracle). Cost: broadcast-pruned scans of
    * the pair set and assignment plus CC over the touched clusters only
    * — near-dup clusters are small by construction, so the recompute is
    * takedown-proportional, never corpus-proportional. */
  def dedupRetraction(s: SparkSession, dir: String): DataFrame = {
    val (pairs, _) = IncrementalStage.dedupBase(s, dir)
    val assign = IncrementalStage.dedupFullAssign(s, dir)
    val deletes = pairs.filter(
      col("src") % 7 === 1 || col("dst") % 7 === 1)
    IncrementalCC.removeEdges(assign, pairs, deletes).orderBy("id")
  }

  /** Twin: the shared minhash pair chain with the retracted docs'
    * pairs filtered out of the closure — derived from
    * q_incremental_dedup's twin by text substitution (the lshIndexSql
    * discipline: composites may not drift from their base chains). */
  val dedupRetractionSql: String = {
    val base = LlmQueries19.incrementalDedupSql
    val anchor = "pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.7)"
    val swapped = base.replace(anchor,
      "pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.7 " +
        "AND id_a % 7 <> 1 AND id_b % 7 <> 1)")
    require(swapped != base, "minhash twin anchor moved; update dedupRetractionSql")
    swapped
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_incremental_dedup" -> (streamIncrementalDedup _),
    "q_decremental_cc" -> (decrementalCC _),
    "q_stream_decremental_cc" -> (streamDecrementalCC _),
    "q_dedup_retraction" -> (dedupRetraction _))

  val oracles: Map[String, String] = Map(
    "q_stream_incremental_dedup" -> streamIncrementalDedupSql,
    "q_decremental_cc" -> decrementalCCSql,
    "q_stream_decremental_cc" -> streamDecrementalCCSql,
    "q_dedup_retraction" -> dedupRetractionSql)
}
