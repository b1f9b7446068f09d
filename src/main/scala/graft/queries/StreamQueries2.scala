package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.functions.TextFns.bpeTokenCount
import graft.operators.PrefixSum
import graft.sinks.{ParquetWrite, ReadBack}
import graft.streaming.StreamingIngest

/** Second streaming batch: the STREAMING TRAINING EXPORT — the front
  * half of q_training_export's composition (quality gate → exact
  * keep-first dedup → sequence packing) run incrementally under
  * micro-batch ingest. The batch pipeline (LlmQueries16) proves the
  * composition once over a static corpus; a production corpus arrives
  * continuously and AT-LEAST-ONCE (connector retries replay rows), so
  * the streaming form needs exactly two pieces of cross-batch state:
  *
  *   - the carried token offset (ONE driver long — same contract as
  *     q_stream_seq_packing: a doc's seq_id is a pure function of the
  *     global deduped token prefix sum, so batch boundaries are
  *     invisible to packing);
  *   - the seen-fingerprint set, realized NOT as driver memory but as
  *     an anti-join against the fingerprint column of the output
  *     already written — disk-backed, column-pruned (the scan reads
  *     only `fp`), equi-join on the fingerprint so it shuffles by fp
  *     and scales out. At 100 TB this is a bucketed fingerprint store
  *     (bucketBy(fp) makes the anti-join shuffle-free) with a bloom
  *     pre-filter; the per-batch cost is batch × seen-index, never
  *     corpus × corpus.
  *
  * The test stream REPLAYS earlier documents inside later batches
  * (the at-least-once shape) and the oracle is the clean ONE-SHOT
  * gate→dedup→pack over the slice — so the equality proves both that
  * batch boundaries are invisible AND that redelivered rows are
  * dropped by the fingerprint state, not double-packed.
  */
object StreamQueries2 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** Incremental gate→dedup→pack under at-least-once ingest; output is
    * the packed-sequence profile (per seq_id: doc count, token mass,
    * id range) over the capped doc slice, identical to the one-shot
    * batch composition the oracle computes. */
  def streamTrainingExport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val outDir = "target/stream_texport_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    val docs = StreamQueries.slice(s, dir, "q_stream_training_export") {
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").limit(StreamQueries.StreamRowCap)
        .as[(Long, String)].collect()
    }
    require(docs.nonEmpty, "empty documents slice")
    // At-least-once ingest: the second batch carries fresh docs PLUS
    // redelivered copies of batch 1's; dedup state must drop the
    // replays or every later seq boundary shifts. Two batches, not
    // three (r14 batch-count harvest): one cross-batch replay exercises
    // the written-output anti-join exactly as the old third batch's
    // replay-of-batch-2 did — same path, one less round of the ~0.35 s
    // micro-batch machinery.
    val batches = Seq(
      docs.filter(_._1 < 150).toSeq,
      (docs.filter(_._1 >= 150) ++ docs.filter(_._1 < 50)).toSeq
    ).filter(_.nonEmpty)
    val outSchema =
      StructType.fromDDL("fp STRING, doc_id BIGINT, toks BIGINT, seq_id BIGINT")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val carried = new java.util.concurrent.atomic.AtomicLong(0L)
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // Stage 1+2 of the batch composition, per micro-batch: gate on
          // token count, fingerprint, keep-first within the batch.
          val gated = batch
            .select(col("doc_id"), bpeTokenCount(col("text")).cast("long").as("toks"),
              md5(col("text")).as("fp"))
            .filter(col("toks") >= 5 && col("toks") <= 2000)
            .groupBy("fp")
            .agg(min("doc_id").as("doc_id"), min("toks").as("toks"))
          // Cross-batch keep-first: anything whose fingerprint is already
          // in the written output arrived earlier (ingest is id-ordered,
          // so "already written" == "smaller doc_id") — drop it. The seen
          // set is the output's own fp column: no driver state, column-
          // pruned scan, fp-partitioned anti-join.
          val fresh =
            if (batchId == 0) gated
            else gated.join(ReadBack.parquet(s, outDir, outSchema).select("fp"),
              Seq("fp"), "left_anti")
          // Stage 3: pack survivors continuing from the carried offset.
          val packed = PrefixSum.runningSum(fresh, col("doc_id"),
              Seq(col("doc_id")), col("toks"), "cum0")
            .withColumn("seq_id", shiftright(col("cum0") + carried.get(), 10))
            .select("fp", "doc_id", "toks", "seq_id")
            .localCheckpoint(true) // one compute serves the write AND the fold
          ParquetWrite(packed.write.mode(if (batchId == 0) "overwrite" else "append"), outDir)
          carried.addAndGet(
            packed.agg(coalesce(sum("toks"), lit(0L))).head.getLong(0))
          ()
        }
        .start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    ReadBack.parquet(s, outDir, outSchema)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("seq_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("seq_id")
  }

  /** One-shot twin: gate → keep-first dedup → pack over the same capped
    * slice, with NO replays — redelivered rows must leave the output
    * bit-identical. */
  val streamTrainingExportSql: String = """
WITH capped AS (
  SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10000),
d AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS toks,
         md5(text) AS fp
  FROM capped),
g AS (SELECT doc_id, toks, fp FROM d WHERE toks BETWEEN 5 AND 2000),
dd AS (SELECT min(doc_id) AS doc_id, min(toks) AS toks FROM g GROUP BY fp),
c AS (
  SELECT doc_id, toks,
         SUM(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS cum0
  FROM dd)
SELECT CAST(cum0 // 1024 AS BIGINT) AS seq_id, COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS seq_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1 ORDER BY 1
"""

  /** INCREMENTAL boundary-splitting packing — the streaming twin of
    * q_packed_fragments, with the same single long of cross-batch
    * state as q_stream_seq_packing: a doc's fragment set is a pure
    * function of its global token interval [carried + cum0, …), so
    * each micro-batch emits its docs' fragments independently and a
    * sequence left part-filled at a batch edge is completed by the
    * next batch under the SAME seq_id — the union of per-batch
    * fragment outputs is row-identical to the one-shot layout, which
    * is what the oracle computes. Per-batch work is one PrefixSum pass
    * plus a bounded range explode; corpus-sized work never re-runs. */
  def streamPackedFragments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val outDir = "target/stream_pfrag_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    val docs = StreamQueries.slice(s, dir, "q_stream_packed_fragments") {
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").limit(StreamQueries.StreamRowCap)
        .as[(Long, String)].collect()
    }
    require(docs.nonEmpty, "empty documents slice")
    // Two batches (r14 batch-count harvest): one batch edge exercises
    // the carried-offset fragment split; see streamSeqPacking.
    val batches = Seq(
      docs.filter(_._1 < 150).toSeq,
      docs.filter(_._1 >= 150).toSeq).filter(_.nonEmpty)
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val carried = new java.util.concurrent.atomic.AtomicLong(0L)
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val toks = batch
            .select(col("doc_id"), bpeTokenCount(col("text")).cast("long").as("toks"))
            .filter(col("toks") > 0)
          val frags = PrefixSum.runningSum(toks, col("doc_id"),
              Seq(col("doc_id")), col("toks"), "cum0")
            .withColumn("g0", col("cum0") + carried.get())
            .withColumn("first_seq", shiftright(col("g0"), 10))
            .withColumn("last_seq", shiftright(col("g0") + col("toks") - 1, 10))
            .select(col("doc_id"), col("g0"), col("toks"),
              explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
            .withColumn("frag_tokens",
              least(col("g0") + col("toks"), (col("seq_id") + 1) * 1024L) -
                greatest(col("g0"), col("seq_id") * 1024L))
            .withColumn("whole",
              when(col("frag_tokens") === col("toks"), 1L).otherwise(0L))
            .select("doc_id", "toks", "seq_id", "frag_tokens", "whole")
            .localCheckpoint(true) // one compute serves the write AND the fold
          ParquetWrite(frags.write.mode(if (batchId == 0) "overwrite" else "append"), outDir)
          // Fragments partition each doc's tokens, so the batch's token
          // mass — the offset advance — is the fragment-mass sum, read
          // off the already-checkpointed frame.
          carried.addAndGet(
            frags.agg(coalesce(sum("frag_tokens"), lit(0L))).head.getLong(0))
          ()
        }
        .start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    ReadBack.parquet(s, outDir, StructType.fromDDL(
        "doc_id BIGINT, toks BIGINT, seq_id BIGINT, frag_tokens BIGINT, whole BIGINT"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_frags"), sum("frag_tokens").as("seq_tokens"),
        sum("whole").as("n_whole_docs"), max("frag_tokens").as("max_frag"))
      .orderBy("seq_id")
  }

  /** One-shot twin over the same capped slice. */
  val streamPackedFragmentsSql: String = """
WITH capped AS (
  SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10000),
d AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS toks
  FROM capped),
p AS (
  SELECT doc_id, toks,
         SUM(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS cum0
  FROM d WHERE toks > 0),
f AS (
  SELECT p.doc_id, p.cum0, p.toks, g.seq_id,
         LEAST(p.cum0 + p.toks, (g.seq_id + 1) * 1024) -
           GREATEST(p.cum0, g.seq_id * 1024) AS frag_tokens
  FROM p, LATERAL (SELECT unnest(range(CAST(p.cum0 // 1024 AS BIGINT),
                                       CAST((p.cum0 + p.toks - 1) // 1024 + 1 AS BIGINT))) AS seq_id) g)
SELECT CAST(seq_id AS BIGINT) AS seq_id, COUNT(*) AS n_frags,
       CAST(SUM(frag_tokens) AS BIGINT) AS seq_tokens,
       CAST(SUM(CASE WHEN frag_tokens = toks THEN 1 ELSE 0 END) AS BIGINT) AS n_whole_docs,
       CAST(MAX(frag_tokens) AS BIGINT) AS max_frag
FROM f GROUP BY 1 ORDER BY 1
"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_training_export" -> (streamTrainingExport _),
    "q_stream_packed_fragments" -> (streamPackedFragments _))

  val oracles: Map[String, String] = Map(
    "q_stream_training_export" -> streamTrainingExportSql,
    "q_stream_packed_fragments" -> streamPackedFragmentsSql)
}
