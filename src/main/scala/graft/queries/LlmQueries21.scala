package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.normalizeText
import graft.operators.{Checkpoints, IncrementalCC, IncrementalStage, MinHashIndex}
import graft.sinks.{ParquetWrite, ReadBack}
import graft.streaming.StreamingIngest

/** Twenty-first batch (r18): the composed takedown stream — VERDICT r17
  * #1. q_dedup_retraction cleans the cluster ASSIGNMENT but the
  * retracted docs' signatures stayed in the persisted index, so a later
  * probe re-emitted pairs against deleted docs and the next fold
  * re-inserted their edges: the closed maintenance matrix leaked back
  * open at the composition level. This query runs the full composition
  * per micro-batch — BOTH maintained artifacts move together — and then
  * folds a subsequent ADD batch to prove deleted docs stay gone.
  */
object LlmQueries21 {

  /** The takedown stream a production ingest pipeline runs, three
    * micro-batches over the maintained (index, assignment) pair:
    *
    *   1. ADD: append the batch to the index overlay, probe base+overlay
    *      for new-vs-indexed pairs, fold via
    *      [[IncrementalCC.addEdgesEager]] (q_stream_incremental_dedup's
    *      per-batch shape);
    *   2. TAKEDOWN: [[MinHashIndex.retract]] tombstones the ids in the
    *      overlay (takedown-sized write; the probe-side anti-join makes
    *      base+overlay behave as if the docs were never staged) AND
    *      [[IncrementalCC.removeEdgesEager]] drops their edges from the
    *      live assignment — the two halves of deletion that
    *      q_dedup_retraction only did one of;
    *   3. ADD again: the batch that PROVES the deletion held — its probe
    *      runs against the tombstone-filtered index, so a new doc
    *      near-duplicating a retracted one pairs with surviving docs
    *      only, and the fold cannot resurrect the deleted ids (without
    *      index-side retraction it would: the spec's planted corpus has
    *      a post-takedown doc whose text matches a retracted doc).
    *
    * The takedown list is a BLOCKLIST (every doc_id ≡ 1 mod 7, present
    * or future, capped at the slice guard's first StreamRowCap ids —
    * mirrored in the twin): tombstoned ids stay filtered even if later
    * batches append them — [[MinHashIndex.retract]]'s ids-never-reused
    * contract.
    *
    * Oracle = q_dedup_retraction's twin: the recursive closure over the
    * full corpus pair set restricted to surviving docs. The hash
    * equality proves the streamed composition lands exactly where a
    * from-scratch rebuild over survivors lands.
    *
    * At 100 TB: per-batch cost = batch signature pass + band-partitioned
    * bucket equi-join (adds), or a tombstone append + touched-clusters
    * recompute (takedowns); the corpus-sized assignment and pair set
    * are scanned via broadcast probes, never shuffled; exactly one
    * assignment generation and one accumulated-pair generation are
    * pinned at a time. */
  def streamTakedown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = Tables(s, dir, "documents")
    val norm = normalizeText(col("text"))
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val idxBase = s"target/incdedup_idx_$tag"
    val overlay = s"target/takedown_ovl_$tag"
    val outDir = s"target/takedown_out_$tag"
    // Shared immutable base index (one base per ingest pipeline): same
    // StagedOnce key as q_stream_incremental_dedup — whichever query
    // runs first builds it and owns the build_s attribution. Tombstones
    // go ONLY into this query's own overlay (deleted per invocation),
    // so the shared base is never mutated — the tombstone union filters
    // the layered read, which covers base docs too.
    graft.operators.StagedOnce(s, idxBase, owner = "q_stream_takedown",
        dir = dir) {
      MinHashIndex.build(docs.filter(col("doc_id") < 400), "doc_id", norm, idxBase)
    }
    val (sharedPairs, baseAssign) = IncrementalStage.dedupBase(s, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(overlay), true)
    // shared with q_stream_incremental_dedup — one collect per
    // (session, dir), the idxBase shared-staging discipline
    val delta = LlmQueries20.dedupDeltaSlice(s, dir)
    require(delta.nonEmpty, "empty delta slice")
    val blocklist = StreamQueries.slice(s, dir, "q_stream_takedown:ids") {
      docs.filter(col("doc_id") % 7 === 1)
        .select(col("doc_id").cast("long"))
        .orderBy("doc_id").limit(StreamQueries.StreamRowCap)
        .as[Long].collect()
    }
    require(blocklist.nonEmpty, "empty takedown list")
    // ADD halves around the takedown batch; the delta is a sorted
    // contiguous id slice, so each half keeps the probe's minNewId
    // contract ("ids >= this batch's min are exactly this batch").
    val half = delta.toSeq.splitAt((delta.length + 1) / 2)
    // events: (kind, doc_id, text) — kind 0 = add, kind 1 = takedown
    val batches = Seq(
      half._1.map(d => (0, d._1, d._2)),
      blocklist.toSeq.map(id => (1, id, "")),
      half._2.map(d => (0, d._1, d._2))).filter(_.nonEmpty)
    // Shared state resolved above; per-batch jobs shuffle kilobyte-scale
    // rows, so narrow the partitions for the stream only (the
    // q_stream_lsh_index measurement; result partition-count independent).
    var assign = baseAssign
    // accumulated pair set = the edge table removeEdges retracts from;
    // base era first, each fold appends its probed pairs
    var allPairs: DataFrame = null
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      allPairs = sharedPairs.filter(col("dst") < 400)
        .select("src", "dst").localCheckpoint(true)
      val in = MemoryStream[(Int, Long, String)]
      val q = in.toDF().toDF("kind", "doc_id", "text")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.localCheckpoint(true)
          if (b.filter(col("kind") === 1).isEmpty) {
            // ADD: the shared probe→fold batch body
            val adds = b.select(col("doc_id"), col("text"))
            val (next, pairs) = LlmQueries20.addFoldBatch(s, docs,
              Seq(idxBase, overlay), overlay, adds, assign)
            if (assign ne baseAssign) Checkpoints.release(assign)
            assign = next
            val acc = allPairs.union(pairs).localCheckpoint(true)
            Checkpoints.release(allPairs)
            allPairs = acc
          } else {
            // TAKEDOWN: both maintained artifacts move together
            val delIds = b.select(col("doc_id")).localCheckpoint(true)
            MinHashIndex.retract(s, overlay, delIds, "doc_id")
            val bySrc = delIds.withColumnRenamed("doc_id", "src")
            val byDst = delIds.withColumnRenamed("doc_id", "dst")
            val delPairs = allPairs
              .join(broadcast(bySrc), Seq("src"), "left_semi").select("src", "dst")
              .union(allPairs.join(broadcast(byDst), Seq("dst"), "left_semi")
                .select("src", "dst"))
            val next = IncrementalCC.removeEdgesEager(assign, allPairs, delPairs)
            if (assign ne baseAssign) Checkpoints.release(assign)
            assign = next
            val survivors = allPairs
              .join(broadcast(bySrc), Seq("src"), "left_anti")
              .join(broadcast(byDst), Seq("dst"), "left_anti")
              .select("src", "dst").localCheckpoint(true)
            Checkpoints.release(allPairs)
            allPairs = survivors
            Checkpoints.release(delIds)
          }
          Checkpoints.release(b)
        }
        .start()
      try batches.foreach { bt => in.addData(bt); q.processAllAvailable() }
      finally q.stop()
    }
    ParquetWrite(assign.orderBy("id").write.mode("overwrite"), outDir)
    if (assign ne baseAssign) Checkpoints.release(assign)
    Checkpoints.release(allPairs)
    ReadBack.parquet(s, outDir, assign.schema).orderBy("id")
  }

  /** Vector takedown from the persisted IVF index (VERDICT r17 #2 —
    * [[streamTakedown]]'s ANN sibling): the staged q_ann_ivf_persisted
    * index is COPIED (a takedown mutates an existing index; the
    * pristine original keeps serving its own query) and the blocklist
    * (vec_id ≡ 1 mod 7) is retracted via [[IvfIndex.retract]] — a
    * tombstone overlay the probe's assignment scan anti-joins, so
    * deleted vectors stop serving as neighbors WITHOUT a
    * corpus-proportional rewrite and WITHOUT refitting centroids (the
    * build-time geometry keeps serving, exactly as append-side drift).
    * The probe then answers over survivors only; survivors that the
    * retracted vectors were crowding out of the top-k rise into it.
    * Oracle = the q_ann_ivf_kmeans chain with the search side filtered
    * to survivors and the Lloyd's fit left on the FULL corpus — the
    * exact no-refit semantics. */
  def annRetraction(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFns.toDoubleVec
    import org.apache.hadoop.fs.{FileUtil, Path}
    val src = LlmQueries4.stagedIvfDir(s, dir)
    val mine = s"target/ivf_retract_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
    graft.operators.StagedOnce(s, mine, owner = "q_ann_retraction", dir = dir) {
      val conf = s.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.get(conf)
      fs.delete(new Path(mine), true)
      FileUtil.copy(fs, new Path(src), fs, new Path(mine), false, conf)
      graft.operators.IvfIndex.retract(s, mine,
        e.filter(col("vec_id") % 7 === 1).select("vec_id"), "vec_id")
    }
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    graft.operators.IvfIndex.probe(s, mine, q, k = 5, nprobe = 2)
      .select("qid", "vec_id", "cluster", "sim", "rank")
      .orderBy("qid", "rank")
  }

  /** Twin: q_ann_ivf_kmeans's chain (full-corpus Lloyd's — retraction
    * does not refit) with the search CTE restricted to surviving
    * vectors — derived by text substitution (the lshIndexSql
    * discipline: variants may not drift from their base chains). */
  val annRetractionSql: String = {
    val base = LlmQueries.annIvfKmeansSql
    val anchor = "WHERE a.vec_id <> p.qid),"
    val swapped = base.replace(anchor,
      "WHERE a.vec_id <> p.qid AND a.vec_id % 7 <> 1),")
    require(swapped != base, "ivf twin anchor moved; update annRetractionSql")
    swapped
  }

  /** Twin: q_dedup_retraction's closure (minhash pair chain restricted
    * to surviving docs) with BOTH harness caps mirrored — the delta
    * slice's doc cap ([[LlmQueries20.capDocsMirror]]) and the blocklist
    * slice's id cap (the takedown retracts only the first StreamRowCap
    * blocklisted ids, so the twin's survivor filter excludes exactly
    * that capped set; both caps unbinding at the gate SFs). The
    * streamed add→takedown→add composition must land exactly where a
    * from-scratch rebuild over survivors lands — the add batch AFTER
    * the takedown is what makes this equality prove deleted docs stay
    * gone. */
  val streamTakedownSql: String = {
    val base = LlmQueries20.capDocsMirror(LlmQueries20.dedupRetractionSql)
    val anchor = "AND id_a % 7 <> 1 AND id_b % 7 <> 1"
    val cap = StreamQueries.StreamRowCap
    val capList = "(SELECT doc_id FROM documents WHERE doc_id % 7 = 1 " +
      s"ORDER BY doc_id LIMIT $cap)"
    val swapped = base.replace(anchor,
      s"AND id_a NOT IN $capList AND id_b NOT IN $capList")
    require(swapped != base, "retraction twin anchor moved; update streamTakedownSql")
    swapped
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_takedown" -> (streamTakedown _),
    "q_ann_retraction" -> (annRetraction _))

  val oracles: Map[String, String] = Map(
    "q_stream_takedown" -> streamTakedownSql,
    "q_ann_retraction" -> annRetractionSql)
}
