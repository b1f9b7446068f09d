package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.functions.TextFns.{normalizeText, tokenCount, tokens}
import graft.functions.VectorFns.{cosineFast, toDoubleVec}
import graft.operators.MinHashIndex
import graft.sinks.{ParquetWrite, ReadBack}
import graft.streaming.StreamingIngest

/** Eighth LLM-pipeline batch: hybrid-retrieval rank fusion, leakage-safe
  * group splits, and the streaming restatement of the persisted LSH
  * dedup index (continuous ingest).
  */
object LlmQueries8 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher SIGIR'09) over
    * three retrieval lists for one query — BM25 (precision-lexical),
    * raw term-frequency recall, and embedding cosine (semantic):
    * score(d) = Σ_lists 1/(60 + rank_d), the standard hybrid-search
    * combiner that needs no score calibration across lists. Integer
    * discipline: each contribution is 1000000 div (60 + rank) — exact
    * BIGINT, order-independent sum. Shape: each list is its own bounded
    * top-25 (BM25's posting pipeline, one posting aggregate, one
    * broadcast-query cosine pass); fusion is a union of 75 id rows and
    * one tiny aggregation — the corpus is scanned once per MODALITY,
    * never per fusion step. */
  def hybridSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bm = RelQueries9.bm25(s, dir) // top-25 (doc_id, n_terms, score_micro)
    // global window audit (r19): all four unpartitioned row_number sites
    // in this file rank frames ALREADY cut to top-25/top-10 by a
    // preceding LIMIT — the single-partition window touches ≤ 25 rows
    // by construction, never the corpus (GlobalWindowBoundSpec).
    val ra = bm.select(col("doc_id"),
      row_number().over(Window.orderBy(col("score_micro").desc, col("doc_id")))
        .cast("long").as("r"))
    val qt = Seq("merge", "hash", "window").toDF("tok")
    val tfTop = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(tokens(normalizeText(col("text")))).as("tok"))
      .join(broadcast(qt), "tok")
      .groupBy("doc_id").agg(count(lit(1)).as("tf_sum"))
      .orderBy(col("tf_sum").desc, col("doc_id")).limit(25)
    val rc = tfTop.select(col("doc_id"),
      row_number().over(Window.orderBy(col("tf_sum").desc, col("doc_id")))
        .cast("long").as("r"))
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val simTop = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        floor(cosineFast(col("v"), col("qv")) * 1e6).cast("long").as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(25)
    val rb = simTop.select(col("doc_id"),
      row_number().over(Window.orderBy(col("sim").desc, col("doc_id")))
        .cast("long").as("r"))
    ra.unionByName(rb).unionByName(rc)
      .select(col("doc_id"), expr("1000000 div (60 + r)").as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("rrf_micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_micro").desc, col("doc_id")).limit(10)
  }

  /** Twin embeds the committed BM25 twin as a CTE (substitution
    * discipline: the fused lists ARE the base queries' lists). */
  val hybridSearchSql: String = s"""
WITH bm AS (${RelQueries9.bm25Sql}),
d AS (
  SELECT doc_id,
         CASE WHEN length(s) > 0 THEN string_split(s, ' ') ELSE [] END AS toks
  FROM (SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        FROM documents)),
tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
qt AS (SELECT unnest(['merge', 'hash', 'window']) AS tok),
tftop AS (
  SELECT doc_id, COUNT(*) AS tf_sum FROM tk JOIN qt USING (tok)
  GROUP BY doc_id ORDER BY tf_sum DESC, doc_id LIMIT 25),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT v FROM e WHERE vec_id = 0),
simtop AS (
  SELECT e.vec_id AS doc_id,
         CAST(floor(list_cosine_similarity(e.v, qv.v) * 1000000) AS BIGINT) AS sim
  FROM e, qv WHERE e.vec_id <> 0
  ORDER BY sim DESC, doc_id LIMIT 25),
ra AS (SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS r FROM bm),
rb AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r FROM simtop),
rc AS (SELECT doc_id, row_number() OVER (ORDER BY tf_sum DESC, doc_id) AS r FROM tftop),
u AS (SELECT doc_id, 1000000 // (60 + r) AS c FROM ra
      UNION ALL SELECT doc_id, 1000000 // (60 + r) FROM rb
      UNION ALL SELECT doc_id, 1000000 // (60 + r) FROM rc)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_micro, COUNT(*) AS n_lists
FROM u GROUP BY doc_id ORDER BY rrf_micro DESC, doc_id LIMIT 10
"""

  /** Leakage-safe GROUP-level train/val/test split: the unit of
    * assignment is the SOURCE, not the document — every document of a
    * source lands in the same fold by construction (split is a pure
    * function of md5(source)), which is what prevents near-duplicate
    * train/test leakage within a crawl domain — the group-aware
    * counterpart to q_dataset_split's row-level hash split. 2-hex-char
    * buckets give ~80/10/10; hex string comparison orders identically
    * in both engines (ASCII). One scan, one aggregation. */
  def groupSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), tokenCount(col("text")).as("tok"),
        substring(md5(col("source")), 1, 2).as("h"))
      .withColumn("split",
        when(col("h") < "cc", "train").when(col("h") < "e6", "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok").cast("long")).as("n_tokens"))
      .orderBy("source")

  val groupSplitSql: String = """
WITH base AS (
  SELECT source,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok,
    CASE WHEN substr(md5(source), 1, 2) < 'cc' THEN 'train'
         WHEN substr(md5(source), 1, 2) < 'e6' THEN 'val'
         ELSE 'test' END AS split
  FROM documents)
SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
FROM base GROUP BY source, split ORDER BY source
"""

  /** The persisted LSH index under CONTINUOUS ingest: the base corpus
    * is staged once, then the delta arrives as a STREAM and every
    * micro-batch is appended to the index and probed against everything
    * indexed so far (foreachBatch — the streaming hook for exactly this
    * kind of transactional side effect). Because ids arrive in order,
    * the union of per-batch probe results equals the one-shot probe of
    * the whole delta — so the twin IS q_lsh_index's twin, and the
    * equality is the exactly-once-shaped guarantee this query proves.
    * At 100 TB: per-batch cost is the batch's signature pass + one
    * bucket equi-join against the staged, band-partitioned table —
    * ingest-time dedup without corpus recompute, the streaming reason
    * the index exists. */
  def streamLshIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // Plain relation, not Tables.staged: measured HERE, the staged
    // blocks were ~1.5 s SLOWER per invocation — the corpus text is
    // small enough that parquet re-scans beat checkpoint-block
    // deserialization inside the micro-batch loop.
    val docs = t(s, dir, "documents")
    val norm = normalizeText(col("text"))
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val idxBase = s"target/lsh_sindex_$tag"
    val overlay = s"target/lsh_sindex_ovl_$tag"
    val outDir = s"target/lsh_sindex_out_$tag"
    // LAYERED index: the immutable base (corpus signatures + partitioned
    // write — the expensive half) is staged ONCE per session
    // (StagedOnce, same contract as q_lsh_index); each invocation
    // appends its delta batches to a fresh per-invocation OVERLAY and
    // probes base+overlay, so re-invocation re-pays only per-batch work
    // — exactly the production split, where the base never rebuilds.
    graft.operators.StagedOnce(s, idxBase, owner = "q_stream_lsh_index",
        dir = dir) {
      MinHashIndex.build(docs.filter(col("doc_id") < 400), "doc_id", norm, idxBase)
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(overlay), true)
    val delta = StreamQueries.slice(s, dir, "q_stream_lsh_index") {
      docs.filter(col("doc_id") >= 400)
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect()
    }
    require(delta.nonEmpty, "empty delta slice")
    val batches = Seq(
      delta.filter(_._1 < 450).toSeq,
      delta.filter(_._1 >= 450).toSeq).filter(_.nonEmpty)
    // The per-batch append + probe jobs shuffle kilobyte-scale bucket
    // rows; at 32 partitions their cost is pure task overhead. Result
    // is partition-count independent — restore the conf after.
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.localCheckpoint(true) // one compute: append + min
          MinHashIndex.append(b, "doc_id", normalizeText(col("text")), overlay)
          val minId = b.agg(min("doc_id")).head.getLong(0)
          // Later ids are not yet indexed, so id_b >= minId restricts the
          // probe to exactly this batch's new-vs-indexed pairs.
          ParquetWrite(MinHashIndex.probeNewMulti(s, Seq(idxBase, overlay), docs, "doc_id",
              normalizeText(col("text")), threshold = 0.7, minNewId = minId)
            .write.mode(if (batchId == 0) "overwrite" else "append"), outDir)
        }
        .start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    ReadBack.parquet(s, outDir,
        StructType.fromDDL("id_a BIGINT, id_b BIGINT, jaccard DOUBLE"))
      .orderBy("id_a", "id_b")
  }

  /** BM25 served from the persisted inverted index
    * ([[graft.operators.TextIndex]]) — build stages tokenize-once
    * postings partitioned by 256-way term bucket, probe reads only the
    * query terms' buckets (partition-pruned at plan time) and runs the
    * identical integer-micro BM25 arithmetic. Staged inside the query
    * for oracle determinism (house pattern of q_ann_ivf_persisted /
    * q_lsh_index); the twin IS q_bm25's twin — staging may change the
    * plan, never the answer. */
  def textIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idxDir = "target/text_index_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    // Staged once per session (StagedOnce) — probes after the first
    // read only the postings buckets.
    graft.operators.StagedOnce(s, idxDir, owner = "q_text_index", dir = dir) {
      graft.operators.TextIndex.build(
        docs, "doc_id", tokens(normalizeText(col("text"))), idxDir)
    }
    graft.operators.TextIndex.probe(
      s, idxDir, Seq("merge", "hash", "window"), k = 25)
  }

  /** Int8 embedding quantization + integer-rescored kNN — the 4×
    * memory-compression play a 100 TB vector corpus runs before
    * anything else (float32 → int8 is what makes the index fit): each
    * dimension is affinely mapped to [−127, 127] by its corpus
    * min/max, search scores are EXACT BIGINT dot products of the
    * quantized vectors, and the output carries an `in_exact_top10`
    * flag against the float cosine top-10 so the recall cost of
    * quantization is measured, not assumed (7/10 at sf0.01). Float
    * discipline: the only double arithmetic is the per-component
    * affine map — scalar IEEE ops, bitwise reproducible — and every
    * score is an integer. Shape: one posexplode → per-dim min/max agg
    * (map-side combinable), ONE 1-row dim-stats broadcast, codegen'd
    * transform + integer fold per vector; never an all-pairs join. */
  def quantizedKnn(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .localCheckpoint(true) // feeds dim stats, quantization, and exact top-10
    val dims = e.select(posexplode(col("v")).as(Seq("p", "x")))
      .groupBy("p").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(array_sort(collect_list(struct(col("p"), col("mn"), col("mx")))).as("dims"))
    val quant = e.crossJoin(broadcast(dims))
      .select(col("vec_id"), expr(
        """transform(sequence(1, 64), i ->
             CASE WHEN element_at(dims, i).mx = element_at(dims, i).mn THEN 0L
                  ELSE CAST(floor((element_at(v, i) - element_at(dims, i).mn) * 254.0
                       / (element_at(dims, i).mx - element_at(dims, i).mn)) AS LONG) - 127
             END)""").as("qv"))
      .localCheckpoint(true)
    val qq = quant.filter(col("vec_id") === 0).select(col("qv").as("qqv"))
    val dots = quant.filter(col("vec_id") =!= 0).crossJoin(broadcast(qq))
      .select(col("vec_id"),
        expr("aggregate(zip_with(qv, qqv, (x, y) -> x * y), 0L, (acc, z) -> acc + z)")
          .as("qdot"))
    val qtop = dots.orderBy(col("qdot").desc, col("vec_id")).limit(10)
      .select(col("vec_id"), col("qdot"),
        row_number().over(Window.orderBy(col("qdot").desc, col("vec_id")))
          .cast("long").as("rnk"))
    val qv2 = e.filter(col("vec_id") === 0).select(col("v").as("exv"))
    val exact = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv2))
      .select(col("vec_id").as("exid"),
        floor(cosineFast(col("v"), col("exv")) * 1e6).cast("long").as("sim"))
      .orderBy(col("sim").desc, col("exid")).limit(10)
    qtop.join(exact, col("vec_id") === col("exid"), "left")
      .select(col("rnk"), col("vec_id"), col("qdot"),
        col("exid").isNotNull.as("in_exact_top10"))
      .orderBy("rnk")
  }

  val quantizedKnnSql: String = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dim AS (
  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
  FROM e, range(1, 65) r(i) GROUP BY i),
dimarr AS (
  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM dim),
q AS (
  SELECT vec_id,
    list_transform(range(1, 65), i ->
      CASE WHEN maxs[i] = mins[i] THEN 0
           ELSE CAST(floor((v[i] - mins[i]) * 254.0 / (maxs[i] - mins[i])) AS BIGINT) - 127 END) AS qv
  FROM e, dimarr),
qq AS (SELECT qv FROM q WHERE vec_id = 0),
dots AS (
  SELECT q.vec_id,
         list_sum(list_transform(range(1, 65), i -> q.qv[i] * qq.qv[i])) AS qdot
  FROM q, qq WHERE q.vec_id <> 0),
qtop AS (SELECT vec_id, CAST(qdot AS BIGINT) AS qdot,
                CAST(row_number() OVER (ORDER BY qdot DESC, vec_id) AS BIGINT) AS rnk
         FROM dots ORDER BY qdot DESC, vec_id LIMIT 10),
qv2 AS (SELECT v FROM e WHERE vec_id = 0),
ex AS (
  SELECT e.vec_id, CAST(floor(list_cosine_similarity(e.v, qv2.v) * 1000000) AS BIGINT) AS sim
  FROM e, qv2 WHERE e.vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10)
SELECT t.rnk, t.vec_id, t.qdot,
       EXISTS (SELECT 1 FROM ex WHERE ex.vec_id = t.vec_id) AS in_exact_top10
FROM qtop t ORDER BY t.rnk
"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hybrid_search" -> (hybridSearch _),
    "q_group_split" -> (groupSplit _),
    "q_stream_lsh_index" -> (streamLshIndex _),
    "q_text_index" -> (textIndex _),
    "q_quantized_knn" -> (quantizedKnn _))

  val oracles: Map[String, String] = Map(
    "q_hybrid_search" -> hybridSearchSql,
    "q_group_split" -> groupSplitSql,
    // Identical twin by design: ordered ids make the per-batch probe
    // union equal the one-shot delta probe (see scaladoc).
    "q_stream_lsh_index" -> LlmQueries7.lshIndexSql,
    // Identical twin by design: the staged probe must answer exactly
    // what the inline BM25 pipeline answers.
    "q_text_index" -> RelQueries9.bm25Sql,
    "q_quantized_knn" -> quantizedKnnSql)
}
