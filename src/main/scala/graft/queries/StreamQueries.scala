package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.sinks.{ParquetWrite, ReadBack}
import graft.streaming.StreamingIngest

/** CORRECTNESS coverage for the streaming path (SURVEY §7 stretch):
  * drives the `foreachBatch` MERGE sink through a real `MemoryStream`
  * query and checks batch-equivalence — the streaming result must equal
  * what one batch MERGE cascade over the same data produces, which is
  * exactly what the DuckDB twin computes.
  *
  * Three deterministic micro-batches over a bounded orders slice:
  * batch 0 carries keys with ticket%2=0, batch 1 %3=0, batch 2 %5=0
  * (overlapping on purpose). `batch_tag`/`price` are update columns —
  * last writer wins; `prio` is insert-only — first writer wins. Both
  * rules are closed-form per key, so the oracle is plain SQL.
  */
object StreamQueries {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** Bound on rows fed through the driver-side MemoryStream harness
    * (orderkey space scales with SF, so the predicate itself selects a
    * near-constant count; the cap is the hard guard). The production
    * entry point is `readStream` over files/queues — MemoryStream is the
    * deterministic test harness the correctness gate needs. */
  val StreamRowCap: Int = 10000

  /** State encoder of the `Map[Long, Long]` sketch streams
    * (q_stream_topk, q_stream_quantiles), built once. A map encoder
    * numbers its lambda variables from a JVM-wide counter when it is
    * built, and the numbers land in the generated (de)serializers, so
    * one built per call compiled them again on every call. */
  private val LongCountsState: Encoder[Map[Long, Long]] = ExpressionEncoder[Map[Long, Long]]()

  /** Per-(session, dir) staging of the harness's bounded input slices.
    * Each query's deterministic micro-batch input is a pure function of
    * the testdata dir (predicate/order/limit-bounded, ≤ StreamRowCap
    * rows), yet was re-collected — a full scan+sort job — on every
    * invocation. That collect is harness PREP, not the streaming
    * computation under test, so it follows the staged-artifact
    * contract: built once per (session, dir) through
    * [[graft.operators.StagedOnce]] (owner = the query) so the bench's
    * build_s line keeps the cost visible. Values are driver arrays
    * bounded by StreamRowCap — cents of heap, evicted with the
    * session. */
  private[queries] def slice[T](s: SparkSession, dir: String,
      key: String)(build: => T): T =
    graft.operators.StagedOnce(s, s"stream_slice:$key@$dir", owner = key, dir = dir)(build)

  def streamingMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = slice(s, dir, "q_streaming_merge") {
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("ticket"), col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio"))
        .orderBy("ticket").limit(StreamRowCap)
        .as[(Long, Double, String)].collect()
    }
    val batches = Seq(
      rows.toSeq.filter(_._1 % 2 == 0)
        .map { case (k, p, pr) => (k, "B0", p, s"B0:$pr") },
      rows.toSeq.filter(_._1 % 3 == 0)
        .map { case (k, p, pr) => (k, "B1", p * 2, s"B1:$pr") },
      rows.toSeq.filter(_._1 % 5 == 0)
        .map { case (k, p, pr) => (k, "B2", p * 3, s"B2:$pr") })
    val tgt = java.nio.file.Paths.get("target",
      "stream_merge_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
    // clean slate: the query must be a pure function of the input dir
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tgt), true)
    fs.delete(new org.apache.hadoop.fs.Path(tgt + "__staged"), true)
    val in = MemoryStream[(Long, String, Double, String)]
    val df = in.toDF().toDF("ticket", "batch_tag", "price", "prio")
    val (keys, updateCols, insertOnlyCols) =
      (Seq("ticket"), Seq("batch_tag", "price"), Seq("prio"))
    StreamingIngest.withStreamConfs(s) {
      val q = df.writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, _: Long) =>
          StreamingIngest.upsertBatch(batch, tgt, keys, updateCols, insertOnlyCols)
      }.start()
      try {
        batches.foreach { data => in.addData(data); q.processAllAvailable() }
      } finally q.stop()
    }
    ReadBack.parquet(s, tgt,
      StreamingIngest.targetSchema(df.schema, keys, updateCols, insertOnlyCols))
      .orderBy("ticket")
  }

  /** Closed form of the three-batch MERGE cascade: update columns take
    * the LAST batch containing the key, insert-only columns the FIRST. */
  val streamingMergeSql: String = """
WITH o AS (
  SELECT o_orderkey AS ticket, o_totalprice AS price, o_orderpriority AS prio
  FROM orders WHERE o_orderkey < 2000)
SELECT ticket,
  CASE WHEN ticket % 5 = 0 THEN 'B2'
       WHEN ticket % 3 = 0 THEN 'B1'
       ELSE 'B0' END AS batch_tag,
  CASE WHEN ticket % 5 = 0 THEN price * 3
       WHEN ticket % 3 = 0 THEN price * 2
       ELSE price END AS price,
  CASE WHEN ticket % 2 = 0 THEN concat('B0:', prio)
       WHEN ticket % 3 = 0 THEN concat('B1:', prio)
       ELSE concat('B2:', prio) END AS prio
FROM o
WHERE ticket % 2 = 0 OR ticket % 3 = 0 OR ticket % 5 = 0
ORDER BY ticket
"""

  /** Streaming gap sessionization driven end-to-end: a bounded, time-
    * ordered events slice flows through `SessionizeStream.sessionize`
    * (flatMapGroupsWithState, event-time timeout) in three chronological
    * micro-batches plus a far-future sentinel event per user that closes
    * every still-open real session inline. Sentinel sessions themselves
    * stay open and are never emitted, so the output is exactly the
    * batch gap-sessionization of the slice — which is what the oracle
    * computes (on millisecond-truncated times; the streaming path clocks
    * state in ms). */
  def streamingSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.streaming.SessionizeStream
    import graft.streaming.SessionizeStream.Event
    val rows = slice(s, dir, "q_stream_sessionize") {
      t(s, dir, "events").filter(col("user_id") < 30)
        .select(col("user_id"), col("ts"))
        .orderBy("ts", "user_id").limit(StreamRowCap)
        .as[(Long, java.sql.Timestamp)].collect()
    }
    require(rows.nonEmpty, "empty slice")
    // Chronological halves split on a timestamp VALUE (never by row
    // position): equal-timestamp rows can't straddle the batch boundary,
    // so with watermark(0s) the second batch's rows are strictly newer
    // than the first batch's watermark — nothing is dropped as late.
    val t1 = rows(rows.length / 2)._2.getTime
    val batches = Seq(
      rows.filter(_._2.getTime < t1),
      rows.filter(_._2.getTime >= t1))
      .filter(_.nonEmpty)
      .map(_.map { case (u, t) => Event(u, t) }.toSeq)
    val maxMs = rows.map(_._2.getTime).max
    val sentinel = rows.map(_._1).distinct.sorted.toSeq
      .map(u => Event(u, new java.sql.Timestamp(maxMs + 48L * 3600 * 1000)))
    // A rerun in the same session must not collide with the previous
    // run's memory-sink view.
    s.catalog.dropTempView("q_stream_sess_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[Event]
      val q = SessionizeStream.sessionize(in.toDS().withWatermark("ts", "0 seconds"))
        .writeStream.format("memory").queryName("q_stream_sess_out")
        .outputMode("append").start()
      try {
        (batches :+ sentinel).foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    s.table("q_stream_sess_out")
      .select(col("userId"), col("startUs"), col("endUs"), col("nEvents"), col("durationSec"))
      .orderBy("userId", "startUs")
  }

  /** Batch twin of the streamed gap sessions, on ms-truncated epochs. */
  val streamingSessionizeSql: String = """
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms
  FROM (SELECT user_id, ts FROM events WHERE user_id < 30
        ORDER BY ts, user_id LIMIT 10000) x),
b AS (
  SELECT user_id, ms,
         CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
                   OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
              THEN 1 ELSE 0 END AS brk
  FROM e),
g AS (
  SELECT user_id, ms,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM b)
SELECT user_id AS "userId",
       CAST(min(ms) * 1000 AS BIGINT) AS "startUs",
       CAST(max(ms) * 1000 AS BIGINT) AS "endUs",
       COUNT(*) AS "nEvents",
       CAST(max(ms) - min(ms) AS BIGINT) * 1000 / 1000000.0 AS "durationSec"
FROM g GROUP BY user_id, sid
ORDER BY "userId", "startUs"
"""

  /** Streaming exactly-once key dedup: a bounded events slice with
    * heavy planted key collisions (event_id % 500) flows through
    * `withWatermark` + `dropDuplicatesWithinWatermark` in two
    * chronological micro-batches — duplicates recur both within and
    * ACROSS batches, so the cross-batch state path is what's exercised
    * (two batches is the minimum that does; a third adds only
    * micro-batch machinery cost).
    * The watermark delay is set beyond the slice's time span so no
    * dedup state is evicted mid-test (the production tradeoff — state
    * size vs how late a duplicate may arrive — is exactly the delay
    * knob). The emitted payload is a pure function of the key, so the
    * output is deterministic no matter which physical duplicate wins
    * inside a batch, and the oracle is a plain DISTINCT. */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // Predicate-bounded slice (≤ 20000 rows at ANY sf) — a hard bound a
    // LIMIT can't give: equal-(ts, dkey) rows straddling a limit edge
    // are picked engine-specifically, a predicate is exact everywhere.
    val rows = slice(s, dir, "q_stream_dedup") {
      t(s, dir, "events")
        .filter(col("user_id") < 50 && col("event_id") < 20000)
        .select((col("event_id") % 500).as("dkey"), col("ts"))
        .orderBy("ts", "dkey")
        .as[(Long, java.sql.Timestamp)].collect()
    }
    require(rows.nonEmpty, "empty slice")
    val t1 = rows(rows.length / 2)._2.getTime
    val batches = Seq(
      rows.filter(_._2.getTime < t1),
      rows.filter(_._2.getTime >= t1)).filter(_.nonEmpty).map(_.toSeq)
    s.catalog.dropTempView("q_stream_dedup_out")
    // No watermark-only (no-data) micro-batch after each data batch:
    // here one can neither emit nor evict. dropDuplicatesWithinWatermark
    // emits a key the first time it sees it, so output never waits for
    // the watermark, and with the 87600-hour delay no key expires inside
    // the slice. The windowed, session and stream-join queries below
    // need their trailing no-data batch to emit, so they keep it.
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val in = MemoryStream[(Long, java.sql.Timestamp)]
      val q = in.toDF().toDF("dkey", "ts")
        .withWatermark("ts", "87600 hours")
        .dropDuplicatesWithinWatermark("dkey")
        .select(col("dkey"), (col("dkey") * 7).as("payload"))
        .writeStream.format("memory").queryName("q_stream_dedup_out")
        .outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    s.table("q_stream_dedup_out").orderBy("dkey")
  }

  /** Batch twin: dedup of a bounded slice is DISTINCT over its keys. */
  val streamDedupSql: String = """
SELECT DISTINCT event_id % 500 AS dkey, (event_id % 500) * 7 AS payload
FROM events WHERE user_id < 50 AND event_id < 20000
ORDER BY dkey
"""

  /** Production streaming entry — `readStream` over a FILE directory
    * (the path MemoryStream can't exercise): a bounded events slice is
    * staged as one parquet file per micro-batch INTO a directory the
    * running query watches, so file discovery itself drives the
    * batches. Windowed append-mode aggregation with a real watermark:
    * no window may emit until the watermark passes its end, so counts
    * for windows straddling a file boundary must accumulate in state
    * across batches. Files are staged chronologically on a timestamp
    * VALUE split (equal timestamps can't straddle a batch, so
    * watermark(0s) drops nothing), each staged file is an atomic
    * single-file rename, and a far-future sentinel file closes every
    * real window; the sentinel's own window never closes and is
    * excluded from append output by construction. Window starts are
    * emitted as epoch seconds (exact multiples of 21600 — no
    * cross-engine timestamp-type traps). */
  def streamFileSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Predicate-bounded slice collected ONCE (the house harness bound —
    // event_id < 20000 caps rows at any SF); staging each batch from the
    // driver-local rows costs one tiny write per file instead of a full
    // events scan per staged file (the first cut rescanned 4×).
    val rows = slice(s, dir, "q_stream_file_source") {
      t(s, dir, "events")
        .filter(col("user_id") < 40 && col("event_id") < 20000)
        .select(col("ts"), col("user_id"), col("event_type"))
        .as[(java.sql.Timestamp, Long, String)].collect()
    }
    require(rows.nonEmpty, "empty slice")
    val mnMs = rows.map(_._1.getTime).min
    val mxMs = rows.map(_._1.getTime).max
    val t1Ms = mnMs + (mxMs - mnMs) / 2
    val base = java.nio.file.Paths.get("target",
      "stream_files_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
    val inputDir = base + "/input"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    // clean slate: the query must be a pure function of the input dir
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(inputDir))
    // Stage one batch as ONE parquet file via atomic rename — the file
    // appears complete or not at all, never half-written, which is the
    // contract a production file source relies on (write-aside + move).
    def stage(i: Int, part: DataFrame): Unit = {
      val tmp = s"$base/stage_$i"
      ParquetWrite(part.coalesce(1).write.mode("overwrite"), tmp)
      val f = fs.globStatus(new org.apache.hadoop.fs.Path(tmp + "/part-*.parquet")).head.getPath
      require(fs.rename(f, new org.apache.hadoop.fs.Path(s"$inputDir/batch_$i.parquet")),
        s"staging batch $i failed")
    }
    s.catalog.dropTempView("q_stream_file_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val sliceSchema = Seq.empty[(java.sql.Timestamp, Long, String)]
        .toDF("ts", "user_id", "event_type").schema
      val stream = s.readStream.schema(sliceSchema).parquet(inputDir)
      val agg = stream.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("win_start_s"),
          col("event_type"), col("n"))
      val q = agg.writeStream.format("memory").queryName("q_stream_file_out")
        .outputMode("append").start()
      try {
        // Two chronological halves + the sentinel: the minimum batch count
        // that still forces windows to straddle a file boundary (counts
        // accumulating in state across discoveries) — each extra staged
        // file costs a write job plus a listing/state micro-batch. Halves
        // split on the ms VALUE, so equal-ms rows can't straddle a batch
        // and watermark(0s) drops nothing.
        val parts = Seq(
          rows.filter(_._1.getTime < t1Ms).toSeq,
          rows.filter(_._1.getTime >= t1Ms).toSeq).filter(_.nonEmpty)
        parts.zipWithIndex.foreach { case (p, i) =>
          stage(i, p.toDF("ts", "user_id", "event_type")); q.processAllAvailable()
        }
        val sentinel = Seq((new java.sql.Timestamp(mxMs + 48L * 3600 * 1000), -1L, "zz"))
          .toDF("ts", "user_id", "event_type")
        stage(2, sentinel)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table("q_stream_file_out").orderBy("win_start_s", "event_type")
  }

  /** Batch twin: epoch-floored 6-hour windows over the same slice. */
  val streamFileSourceSql: String = """
SELECT CAST(epoch_ms(ts) // 21600000 * 21600 AS BIGINT) AS win_start_s,
       event_type, COUNT(*) AS n
FROM events WHERE user_id < 40 AND event_id < 20000
GROUP BY 1, 2
ORDER BY win_start_s, event_type
"""

  /** Stream-stream INNER JOIN — the attribution shape (impression
    * stream × conversion stream): two independent MemoryStreams joined
    * on a key plus a time-range residual (conversion within 48 h of the
    * impression — wide enough that the bounded slices produce real
    * matches at every SF; a 0-row result would be a vacuous oracle). Each side arrives in two chronological batches fed
    * ALTERNATELY (L0, R0, L1, R1), so matches must form across batch
    * boundaries from both sides' buffered state — the part a batch join
    * can't fake. No watermark: state is never evicted, so the emitted
    * set is exactly the batch join of the bounded slices (the oracle);
    * production bounds state with `withWatermark` on both sides plus
    * this same time-range condition, trading completeness for eviction.
    * Times join as epoch-ms longs (cross-engine-stable). */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // Parity split of a bounded user range: both sides are non-empty at
    // every SF (sf0.001 has only 15 users — an absolute-range split for
    // the right side would be empty there).
    val (lRows, rRows) = slice(s, dir, "q_stream_stream_join") {
      val ev = t(s, dir, "events")
        .filter(col("event_id") < 20000 && col("user_id") < 40)
        .select(col("user_id"), (col("event_id") % 50).as("k"),
          unix_millis(col("ts")).as("ms"))
      (ev.filter(col("user_id") % 2 === 0)
        .select("k", "ms").orderBy("ms", "k").limit(StreamRowCap)
        .as[(Long, Long)].collect(),
        ev.filter(col("user_id") % 2 === 1)
          .select("k", "ms").orderBy("ms", "k").limit(StreamRowCap)
          .as[(Long, Long)].collect())
    }
    require(lRows.nonEmpty && rRows.nonEmpty, "empty slice")
    val mid = lRows(lRows.length / 2)._2
    def halves(rows: Array[(Long, Long)]) =
      Seq(rows.filter(_._2 < mid).toSeq, rows.filter(_._2 >= mid).toSeq)
    s.catalog.dropTempView("q_stream_join_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val lIn = MemoryStream[(Long, Long)]
      val rIn = MemoryStream[(Long, Long)]
      val ldf = lIn.toDF().toDF("l_k", "l_ms")
      val rdf = rIn.toDF().toDF("r_k", "r_ms")
      val joined = ldf.join(rdf,
        col("l_k") === col("r_k") &&
          col("r_ms") >= col("l_ms") && col("r_ms") <= col("l_ms") + 172800000L)
        .select(col("l_k").as("k"), col("l_ms"), col("r_ms"))
      val q = joined.writeStream.format("memory").queryName("q_stream_join_out")
        .outputMode("append").start()
      try {
        // Two rounds, both sides fed per round: L1/R1 arrivals must match
        // against L0/R0 rows held in buffered join state from round 0 —
        // the cross-batch path — at half the micro-batch rounds of
        // feeding each side separately.
        (halves(lRows), halves(rRows)).zipped.foreach { (lb, rb) =>
          lIn.addData(lb); rIn.addData(rb); q.processAllAvailable()
        }
      } finally q.stop()
    }
    s.table("q_stream_join_out").orderBy("k", "l_ms", "r_ms")
  }

  /** Batch twin: plain inner join of the two bounded slices. */
  val streamStreamJoinSql: String = """
WITH l AS (
  SELECT event_id % 50 AS k, epoch_ms(ts) AS l_ms
  FROM events WHERE event_id < 20000 AND user_id < 40 AND user_id % 2 = 0),
r AS (
  SELECT event_id % 50 AS k, epoch_ms(ts) AS r_ms
  FROM events WHERE event_id < 20000 AND user_id < 40 AND user_id % 2 = 1)
SELECT l.k, l_ms, r_ms
FROM l JOIN r ON l.k = r.k AND r_ms >= l_ms AND r_ms <= l_ms + 172800000
ORDER BY 1, l_ms, r_ms
"""

  /** Streaming windowed APPROX-DISTINCT — the sketch×streaming
    * intersection: `approx_count_distinct` (HyperLogLog++) as a
    * windowed streaming aggregate, its sketch buffer carried in the
    * state store ACROSS micro-batches (each window receives rows from
    * both chronological batches, so the merged estimate is only right
    * if partial sketches merge through state). Watermark sits beyond
    * the slice span (nothing drops; q_stream_late owns that semantics);
    * a far-future sentinel closes all real windows for append output.
    * Exposure follows the house in-tolerance-boolean pattern (q_mg_topk,
    * q_hll_union): the streamed estimate joins the exact batch distinct
    * per window and ships ok ⇔ |est − exact|·10 ≤ exact ∨ est = exact —
    * HLL++'s sparse mode is exact at these cardinalities, the 10% band
    * keeps the oracle honest if the estimator ever leaves it. */
  def streamApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = slice(s, dir, "q_stream_approx_distinct") {
      t(s, dir, "events").filter(col("event_id") < 20000)
        .select(unix_millis(col("ts")).as("ms"), col("user_id"))
        .orderBy("ms", "user_id").limit(StreamRowCap)
        .as[(Long, Long)].collect()
    }
    require(rows.nonEmpty, "empty slice")
    val mid = rows(rows.length / 2)._1
    val maxMs = rows.map(_._1).max
    s.catalog.dropTempView("q_stream_approx_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, Long)]
      val q = in.toDF().toDF("ms", "user_id")
        .withColumn("ts", timestamp_millis(col("ms")))
        .withWatermark("ts", "48 hours")
        .groupBy(window(col("ts"), "6 hours").as("w"))
        .agg(approx_count_distinct(col("user_id")).as("est"))
        .select(unix_millis(col("w.start")).as("win_ms"), col("est"))
        .writeStream.format("memory").queryName("q_stream_approx_out")
        .outputMode("append").start()
      try {
        in.addData(rows.filter(_._1 < mid).toSeq); q.processAllAvailable()
        in.addData(rows.filter(_._1 >= mid).toSeq); q.processAllAvailable()
        in.addData(Seq((maxMs + 400L * 24 * 3600 * 1000, -1L))); q.processAllAvailable()
      } finally q.stop()
    }
    // exact per-window distinct over the same slice; the inner join
    // also drops the sentinel's own window (absent from the batch side)
    val exact = s.createDataset(rows.toSeq).toDF("ms", "user_id")
      .groupBy((col("ms") - pmod(col("ms"), lit(21600000L))).as("win_ms"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    s.table("q_stream_approx_out").join(exact, "win_ms")
      .select((col("win_ms") / 1000).cast("long").as("win_start_s"),
        col("n_exact"),
        (abs(col("est") - col("n_exact")) * 10 <= col("n_exact") ||
          col("est") === col("n_exact")).as("ok"))
      .orderBy("win_start_s")
  }

  /** Batch twin: exact distinct per epoch-aligned 6-hour window. The
    * inner ORDER BY/LIMIT mirrors the harness slice's StreamRowCap
    * exactly — without it the twin reads every matching event while the
    * stream ingests only the cap, which diverges once the filter
    * matches more than the cap (first seen at sf0.1: 13 vs 25 windows).
    * Ties at the cut are harmless: the sort key IS the carried (ms,
    * user_id) pair, so boundary ties are equal pairs and per-window
    * DISTINCT counts cannot depend on which copy survives. */
  val streamApproxDistinctSql: String = """
SELECT CAST(epoch_ms(ts) // 21600000 * 21600 AS BIGINT) AS win_start_s,
       COUNT(DISTINCT user_id) AS n_exact, TRUE AS ok
FROM (SELECT ts, user_id FROM events WHERE event_id < 20000
      ORDER BY epoch_ms(ts), user_id LIMIT 10000)
GROUP BY 1 ORDER BY 1
"""

  /** Stream-stream LEFT OUTER join — the streaming restatement of the
    * reference's R8 LEFT join (`RSS PARSER/gcp_rss.py:162`) for the case
    * where the enrichment side is itself a stream that may never deliver
    * a match: unmatched left rows must still be emitted, null-padded,
    * once the watermark PROVES no match can arrive. Both sides carry a
    * 1-hour watermark and the join carries the time-range residual state
    * eviction needs (r within [l, l + 48 h]). Two chronological halves
    * feed alternately (so matches form across batch boundaries from
    * buffered state, as in q_stream_stream_join), then a far-future
    * sentinel on BOTH streams drives the global watermark past every
    * left row's match horizon — exercising the outer-join eviction path
    * that emits the null-padded remainder. Feeding is chronologically
    * batched, so no input row is ever late (batch-2 times all exceed the
    * batch-1 watermark) and no legitimate match is droppable: the
    * emitted set is therefore exactly the batch LEFT JOIN of the two
    * slices, which is the oracle. Unmatched rows surface as r_ms = -1
    * (COALESCE on both sides) — representational only: the harness
    * coerces a nullable int column to float64, and the engine really did
    * emit the row with a null right side before the COALESCE. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (lRows, rRows) = slice(s, dir, "q_stream_outer_join") {
      val ev = t(s, dir, "events")
        .filter(col("event_id") < 20000 && col("user_id") < 40)
        .select(col("user_id"), (col("event_id") % 50).as("k"),
          unix_millis(col("ts")).as("ms"))
      (ev.filter(col("user_id") % 2 === 0)
        .select("k", "ms").orderBy("ms", "k").limit(StreamRowCap)
        .as[(Long, Long)].collect(),
        ev.filter(col("user_id") % 2 === 1)
          .select("k", "ms").orderBy("ms", "k").limit(StreamRowCap)
          .as[(Long, Long)].collect())
    }
    require(lRows.nonEmpty && rRows.nonEmpty, "empty slice")
    val mid = lRows(lRows.length / 2)._2
    val maxMs = (lRows.iterator ++ rRows.iterator).map(_._2).max
    def halves(rows: Array[(Long, Long)]) =
      Seq(rows.filter(_._2 < mid).toSeq, rows.filter(_._2 >= mid).toSeq)
    s.catalog.dropTempView("q_stream_outer_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val lIn = MemoryStream[(Long, Long)]
      val rIn = MemoryStream[(Long, Long)]
      // Narrow the join state to (key, event time) per side (r19, guide
      // §2.3 / VERDICT r18 #3): the raw ms column is derivable from the
      // timestamp it built — timestamp_millis(ms) carries exactly ms×1000
      // µs, so unix_millis() after the join returns the identical long —
      // and carrying it through the stream meant every buffered state row
      // and both per-batch exchanges hauled a redundant 8-byte column. At
      // 100 TB the state store IS the scale bound of a stream-stream outer
      // join; state rows must hold join keys + needed columns only.
      val ldf = lIn.toDF().toDF("l_k", "l_ms")
        .select(col("l_k"), timestamp_millis(col("l_ms")).as("l_ts"))
        .withWatermark("l_ts", "1 hour")
      val rdf = rIn.toDF().toDF("r_k", "r_ms")
        .select(col("r_k"), timestamp_millis(col("r_ms")).as("r_ts"))
        .withWatermark("r_ts", "1 hour")
      val joined = ldf.join(rdf,
        col("l_k") === col("r_k") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 48 HOURS"),
        "left_outer")
        .select(col("l_k").as("k"), unix_millis(col("l_ts")).as("l_ms"),
          coalesce(unix_millis(col("r_ts")), lit(-1L)).as("r_ms"))
      val q = joined.writeStream.format("memory").queryName("q_stream_outer_out")
        .outputMode("append").start()
      try {
        (halves(lRows), halves(rRows)).zipped.foreach { (lb, rb) =>
          lIn.addData(lb); rIn.addData(rb); q.processAllAvailable()
        }
        // Sentinel a year out on BOTH sides: the global watermark is the
        // min across inputs, so each stream must advance for eviction.
        val far = maxMs + 365L * 24 * 3600 * 1000
        lIn.addData(Seq((-1L, far))); rIn.addData(Seq((-1L, far)))
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table("q_stream_outer_out").filter(col("k") >= 0)
      .orderBy("k", "l_ms", "r_ms")
  }

  /** Batch twin: plain LEFT JOIN of the two bounded slices — correct
    * only if the engine both matched across batches and emitted every
    * watermark-evicted unmatched left row exactly once. */
  val streamOuterJoinSql: String = """
WITH l AS (
  SELECT event_id % 50 AS k, epoch_ms(ts) AS l_ms
  FROM events WHERE event_id < 20000 AND user_id < 40 AND user_id % 2 = 0),
r AS (
  SELECT event_id % 50 AS k, epoch_ms(ts) AS r_ms
  FROM events WHERE event_id < 20000 AND user_id < 40 AND user_id % 2 = 1)
SELECT l.k, l_ms, COALESCE(r_ms, -1) AS r_ms
FROM l LEFT JOIN r ON l.k = r.k AND r_ms >= l_ms AND r_ms <= l_ms + 172800000
ORDER BY 1, l_ms, r_ms
"""

  /** Stream–static dimension-enrichment join — the most common
    * production streaming shape and the streaming restatement of the
    * reference's only join (R8: per-account RSS facts × broadcast
    * account dim, `RSS PARSER/gcp_rss.py:49-63,162`): a fact stream
    * joined per micro-batch against a STATIC dim table under an
    * explicit broadcast hint. Stateless by construction (the static
    * side is fixed — no buffered join state, no watermark needed), so
    * streaming output ≡ the batch join, which is the oracle. The dim
    * is itself a dim-chain join (customer → nation) resolved once at
    * plan time; at 100 TB the fact stream is unbounded while the dim
    * stays the bounded side — exactly the asymmetry broadcast exists
    * for. Prices cross engines as exact scaled cents. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dim = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("d_custkey"), col("n_name"))
    // Predicate-bounded fact slice (orderkeys are dense at the low end,
    // so the count is near-constant across SFs; keys are unique — no
    // batch-boundary straddle concerns).
    val rows = slice(s, dir, "q_stream_static_join") {
      t(s, dir, "orders").filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .as[(Long, Long, Long)].collect()
    }
    require(rows.nonEmpty, "empty slice")
    s.catalog.dropTempView("q_stream_static_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, Long, Long)]
      val joined = enrichStream(in.toDF().toDF("ticket", "custkey", "cents"), dim)
      val q = joined.writeStream.format("memory").queryName("q_stream_static_out")
        .outputMode("append").start()
      try {
        // Two parity batches: the dim side must serve repeated
        // micro-batches (broadcast reuse), not just one.
        Seq(rows.filter(_._1 % 2 == 0).toSeq, rows.filter(_._1 % 2 == 1).toSeq)
          .filter(_.nonEmpty)
          .foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    s.table("q_stream_static_out").orderBy("ticket")
  }

  /** The enrichment plan itself, shared with the plan-assert spec: a
    * broadcast equi-join of a (possibly streaming) fact frame against
    * the static dim. */
  def enrichStream(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(broadcast(dim), col("custkey") === col("d_custkey"))
      .select(col("ticket"), col("custkey"),
        (col("cents").cast("double") / 100.0).as("price"), col("n_name"))

  /** Batch twin: the same join over the bounded slice. */
  val streamStaticJoinSql: String = """
SELECT o_orderkey AS ticket, o_custkey AS custkey,
       CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100.0 AS price,
       n_name
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderkey < 4000
ORDER BY ticket
"""

  /** Watermark late-data ACCOUNTING — the semantics every other
    * streaming query avoids by setting the delay beyond the data span:
    * here the 30 s watermark is deliberately tight, and batch 2 replays
    * the full time range so a known subset arrives behind the
    * watermark and must be DROPPED from the windowed counts. Times are
    * value-defined (base + 2·(event_id mod 300) s for batch 1, the odd
    * seconds for batch 2 — parity keeps every comparison strict), so
    * which rows are late is closed-form: after batch 1 the watermark is
    * max(batch-1 time) − 30 s, and a batch-2 row survives iff its 60 s
    * window's END is beyond that (finalized windows' state is evicted;
    * their stragglers are discarded). A far-future sentinel closes all
    * real windows; its own window is excluded by the bound filter. The
    * oracle recomputes the same watermark arithmetic in SQL — if the
    * engine dropped more or fewer rows than the watermark contract
    * says, the counts hash-mismatch. */
  def streamLate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = 1704067200000L // 2024-01-01T00:00Z, fixed
    val ids = slice(s, dir, "q_stream_late") {
      t(s, dir, "events").filter(col("event_id") < 5000)
        .select(col("event_id").cast("long")).as[Long].collect().sorted
    }
    require(ids.nonEmpty, "empty slice")
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val b1 = ids.filter(_ % 3 == 0).map(id => (id, ts(base + 2000L * (id % 300)))).toSeq
    val b2 = ids.filter(_ % 3 == 1).map(id => (id, ts(base + 2000L * (id % 300) + 1000L))).toSeq
    s.catalog.dropTempView("q_stream_late_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, java.sql.Timestamp)]
      val q = in.toDF().toDF("id", "ts")
        .withWatermark("ts", "30 seconds")
        .groupBy(window(col("ts"), "60 seconds").as("w"))
        .agg(count(lit(1)).as("n"))
        .select((unix_timestamp(col("w.start")) - base / 1000L).as("win_start_s"), col("n"))
        .writeStream.format("memory").queryName("q_stream_late_out")
        .outputMode("append").start()
      try {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
        in.addData(Seq((-1L, ts(base + 100000L * 1000L)))); q.processAllAvailable()
      } finally q.stop()
    }
    s.table("q_stream_late_out").filter(col("win_start_s") < 9000)
      .orderBy("win_start_s")
  }

  /** Batch twin: replays the watermark arithmetic — batch-2 rows kept
    * iff their window end clears max(batch-1 offset) − 30 s. */
  val streamLateSql: String = """
WITH ids AS (SELECT CAST(event_id AS BIGINT) AS id FROM events WHERE event_id < 5000),
b1 AS (SELECT 2 * (id % 300) AS off FROM ids WHERE id % 3 = 0),
b2 AS (SELECT 2 * (id % 300) + 1 AS off FROM ids WHERE id % 3 = 1),
wm AS (SELECT MAX(off) - 30 AS w FROM b1),
kept AS (
  SELECT off FROM b1
  UNION ALL
  SELECT off FROM b2 WHERE (off - off % 60 + 60) > (SELECT w FROM wm))
SELECT CAST(off - off % 60 AS BIGINT) AS win_start_s, COUNT(*) AS n
FROM kept GROUP BY 1 ORDER BY 1
"""

  /** Checkpoint RECOVERY in the correctness gate — the production
    * contract every other streaming query assumes but none verifies
    * end-to-end: a `readStream`-over-files query with a checkpoint is
    * stopped after committing half its input, then RE-STARTED as a new
    * query object on the same checkpoint; the file-source offset log
    * must skip everything the first incarnation committed and the
    * parquet sink's metadata log must keep output exactly-once across
    * the restart. The oracle is the plain batch aggregate over the
    * whole slice — one lost file drops its group counts, one replayed
    * file doubles them, either flips the hash. Staging is the
    * single-file write+rename pattern (atomic visibility to the
    * directory listing), input split by a value predicate (event_id
    * mod 4) so both engines see identical file contents. */
  def streamRecovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = "target/stream_recovery_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val input = s"$base/input"
    fs.mkdirs(new org.apache.hadoop.fs.Path(input))
    // Slice collected once per (session, dir): each staged file is then
    // a local-rows write, not a fresh events scan per file.
    val rowsLocal = slice(s, dir, "q_stream_recovery") {
      t(s, dir, "events").filter(col("event_id") < 4000)
        .select(col("event_id").cast("long"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, String, Long)].collect()
    }
    def stage(k: Int): Unit = {
      val tmp = s"$base/stage_$k"
      ParquetWrite(rowsLocal.filter(_._1 % 4 == k).toSeq
        .toDF("event_id", "event_type", "cents")
        .coalesce(1).write.mode("overwrite"), tmp)
      val f = fs.globStatus(new org.apache.hadoop.fs.Path(tmp + "/part-*.parquet")).head.getPath
      require(fs.rename(f, new org.apache.hadoop.fs.Path(s"$input/batch_$k.parquet")))
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("event_type", "string").add("cents", "long")
    def startQuery() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(input)
      .writeStream.format("parquet")
      .options(ParquetWrite.Options) // the file sink's writes start no process either
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out")
      .outputMode("append").start()
    stage(0); stage(1)
    StreamingIngest.withStreamConfs(s) {
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
    }
    stage(2); stage(3)
    StreamingIngest.withStreamConfs(s) {
      val q2 = startQuery() // fresh incarnation, same checkpoint
      try q2.processAllAvailable() finally q2.stop()
    }
    ReadBack.parquet(s, s"$base/out", schema)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(col("cents")).cast("double") / 100.0).as("total"))
      .orderBy("event_type")
  }

  /** Batch twin: the whole slice aggregated once — exactly-once across
    * the restart is the only way the streamed sink matches it. */
  val streamRecoverySql: String = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
FROM events WHERE event_id < 4000
GROUP BY event_type ORDER BY event_type
"""

  /** Streaming heavy hitters with CUSTOM state — `flatMapGroupsWithState`
    * holding a bounded Misra–Gries summary (k = 8 counters) per group,
    * the streaming restatement of the batch `mg_summary` aggregate
    * (q_mg_topk): per-key state is a fixed-size map no matter how many
    * distinct keys flow past, the property that makes unbounded-key
    * streams survivable where an exact per-key count's state grows
    * without bound. A planted skew (half of each group's rows on keys
    * {0,1}, the rest spread over 97 tail keys) flows in two
    * chronological micro-batches (the minimum that exercises cross-
    * batch state carry), then a sentinel batch per group flushes the
    * final summary (append mode emits exactly once).
    *
    * MG estimates depend on arrival order, so raw counters are NOT
    * comparable cross-engine; what IS deterministic is the sketch's
    * guarantee, and that's what the query emits (same discipline as
    * q_stream_approx_distinct / q_cms_freq): for every key whose exact
    * count exceeds n/(k+1) — which MG must capture — `found` and
    * `in_bound` (0 ≤ exact − est ≤ n div (k+1)) are emitted as
    * booleans the oracle states as TRUE. */
  def streamTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val hk = when(col("event_id") % 4 < 2, col("event_id") % 4)
      .otherwise(col("event_id") % 97 + 4).cast("long")
    val slice = t(s, dir, "events")
      .filter(col("user_id") < 50 && col("event_id") < 20000)
      .select((col("user_id") % 4).cast("long").as("grp"), hk.as("hk"), col("ts"))
    val rows = StreamQueries.slice(s, dir, "q_stream_topk") {
      slice.orderBy("ts", "grp", "hk")
        .as[(Long, Long, java.sql.Timestamp)].collect()
    }
    require(rows.nonEmpty && rows.length <= 2 * StreamRowCap, "slice out of bounds")
    val k = 8
    def mgAdd(m: Map[Long, Long], key: Long): Map[Long, Long] =
      if (m.contains(key)) m.updated(key, m(key) + 1)
      else if (m.size < k) m.updated(key, 1L)
      else m.map { case (ky, c) => ky -> (c - 1) }.filter(_._2 > 0)
    def step(grp: Long, it: Iterator[(Long, Long)],
             state: GroupState[Map[Long, Long]]): Iterator[(Long, Long, Long)] = {
      var m = state.getOption.getOrElse(Map.empty[Long, Long])
      var flush = false
      it.foreach { case (_, key) => if (key < 0) flush = true else m = mgAdd(m, key) }
      state.update(m)
      if (flush) m.toSeq.sorted.map { case (ky, est) => (grp, ky, est) }.iterator
      else Iterator.empty
    }
    val halves = rows.grouped((rows.length + 1) / 2).toSeq
    val sentinel = (0L until 4L).map(g => (g, -1L))
    s.catalog.dropTempView("q_stream_topk_out")
    // 4 state partitions: the stateful cost is per-partition task
    // overhead, not data (result is partition-count independent).
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, Long)]
      val q = in.toDS()
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)(
          LongCountsState, implicitly[Encoder[(Long, Long, Long)]])
        .toDF("grp", "hk", "est")
        .writeStream.format("memory").queryName("q_stream_topk_out")
        .outputMode("append").start()
      try {
        halves.foreach { b => in.addData(b.map(r => (r._1, r._2)).toSeq); q.processAllAvailable() }
        in.addData(sentinel); q.processAllAvailable()
      } finally q.stop()
    }
    val exact = slice.groupBy("grp", "hk").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("n_grp", sum("exact_cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp")))
      .filter(col("exact_cnt") > expr(s"n_grp div ${k + 1}"))
    exact.join(s.table("q_stream_topk_out"), Seq("grp", "hk"), "left")
      .select(col("grp"), col("hk"), col("exact_cnt"),
        col("est").isNotNull.as("found"),
        (col("est").isNotNull && col("est") <= col("exact_cnt") &&
          col("exact_cnt") - col("est") <= expr(s"n_grp div ${k + 1}")).as("in_bound"))
      .orderBy("grp", "hk")
  }

  /** Batch twin: the probe set (keys MG must capture) with the sketch
    * guarantees stated as facts. */
  val streamTopkSql: String = """
WITH e AS (
  SELECT user_id % 4 AS grp,
         CASE WHEN event_id % 4 < 2 THEN event_id % 4
              ELSE event_id % 97 + 4 END AS hk
  FROM events WHERE user_id < 50 AND event_id < 20000),
c AS (SELECT grp, hk, COUNT(*) AS exact_cnt FROM e GROUP BY grp, hk),
n AS (SELECT grp, CAST(SUM(exact_cnt) AS BIGINT) AS n_grp FROM c GROUP BY grp)
SELECT c.grp, c.hk, c.exact_cnt, TRUE AS found, TRUE AS in_bound
FROM c JOIN n USING (grp) WHERE c.exact_cnt > n_grp // 9
ORDER BY grp, hk
"""

  /** Gap sessionization via the NATIVE `session_window` aggregation
    * under a RUNNING streaming query — the streaming restatement of
    * q_session_window, and the built-in contrast to the custom
    * flatMapGroupsWithState path (q_stream_sessionize): the same
    * expression gets state-store session MERGING for free (sessions
    * that grow across micro-batches are combined by the state store,
    * the engine-managed form of what SessionizeStream codes by hand).
    * Staging follows the house pattern: chronological value-split
    * batches (equal timestamps can't straddle a boundary, so
    * watermark(0s) drops nothing), one far-future sentinel event per
    * user whose still-open session closes every REAL session at the
    * final watermark while itself staying unemitted. Session rule
    * matches the batch twin: an event extends a session iff strictly
    * within gap, so diff >= gap breaks — island form on exact µs. */
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = slice(s, dir, "q_stream_session_window") {
      t(s, dir, "events").filter(col("user_id") < 25)
        .select(col("user_id"), col("ts"))
        .orderBy("ts", "user_id").limit(StreamRowCap)
        .as[(Long, java.sql.Timestamp)].collect()
    }
    require(rows.nonEmpty, "empty slice")
    val t1 = rows(rows.length / 2)._2.getTime
    val batches = Seq(
      rows.filter(_._2.getTime < t1),
      rows.filter(_._2.getTime >= t1)).filter(_.nonEmpty).map(_.toSeq)
    val maxMs = rows.map(_._2.getTime).max
    val sentinel = rows.map(_._1).distinct.sorted.toSeq
      .map(u => (u, new java.sql.Timestamp(maxMs + 48L * 3600 * 1000)))
    s.catalog.dropTempView("q_stream_swin_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(Long, java.sql.Timestamp)]
      val q = in.toDF().toDF("user_id", "ts")
        .withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"), col("n_events"))
        .writeStream.format("memory").queryName("q_stream_swin_out")
        .outputMode("append").start()
      try {
        (batches :+ sentinel).foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    s.table("q_stream_swin_out").orderBy("user_id", "start_us")
  }

  /** Island-form twin on exact µs; session end = last event + gap. */
  val streamSessionWindowSql: String = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM (SELECT user_id, ts FROM events WHERE user_id < 25
        ORDER BY ts, user_id LIMIT 10000) x),
b AS (
  SELECT user_id, us,
    CASE WHEN lag(us) OVER w IS NULL
              OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
g AS (
  SELECT user_id, us,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM b)
SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us,
       CAST(MAX(us) + 1800000000 AS BIGINT) AS end_us, COUNT(*) AS n_events
FROM g GROUP BY user_id, sid
ORDER BY user_id, start_us
"""

  /** Streaming RUNNING QUANTILES — the streaming twin of
    * q_exact_quantiles ([[graft.streaming.QuantileHistogram]]): per
    * order-priority group, a `flatMapGroupsWithState` query carries a
    * bounded log-scale histogram (≤ ~512 counters per group, fixed
    * 12.5% relative-error buckets) across two micro-batches of order
    * totals; a sentinel per group flushes the p25/p50/p75 answer —
    * emitted as the containing BUCKET's exact integer bounds plus the
    * exact running count. Counts are order-independent, so the first
    * bucket whose cumulative tally reaches ⌈p·n⌉ is precisely the
    * bucket of the exact discrete percentile — which is what the
    * DuckDB twin derives from `percentile_disc` with the same integer
    * bucket arithmetic: stream and batch must hash-match exactly, the
    * q_stream_topk batch-equivalence discipline applied to order
    * statistics. */
  def streamQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.streaming.QuantileHistogram
    val rows = slice(s, dir, "q_stream_quantiles") {
      t(s, dir, "orders").filter(col("o_orderkey") < 8000)
        .select(col("o_orderpriority").as("grp"),
          round(col("o_totalprice") * 100).cast("long").as("v"),
          col("o_orderkey"))
        .orderBy("v", "o_orderkey")
        .as[(String, Long, Long)].collect()
        .map(r => (r._1, r._2))
    }
    require(rows.nonEmpty, "empty slice")
    // Same ⌈p·n⌉ targets as q_exact_quantiles (DuckDB percentile_disc's
    // rank) — the one shared spelling keeps the twins aligned.
    val targets = graft.operators.PrefixSum.quartileRanks _
    def step(grp: String, it: Iterator[(String, Long)],
             state: GroupState[Map[Long, Long]]): Iterator[(String, String, Long, Long, Long)] = {
      var m = state.getOption.getOrElse(Map.empty[Long, Long])
      var flush = false
      it.foreach { case (_, v) => if (v < 0) flush = true else m = QuantileHistogram.add(m, v) }
      state.update(m)
      if (flush)
        QuantileHistogram.quantiles(m, targets)
          .map { case (q, lo, hi, n) => (grp, q, lo, hi, n) }.iterator
      else Iterator.empty
    }
    val halves = rows.grouped((rows.length + 1) / 2).toSeq
    val sentinel = rows.map(_._1).distinct.sorted.map(g => (g, -1L)).toSeq
    s.catalog.dropTempView("q_stream_quant_out")
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      val in = MemoryStream[(String, Long)]
      val q = in.toDS()
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)(
          LongCountsState, implicitly[Encoder[(String, String, Long, Long, Long)]])
        .toDF("grp", "q", "bucket_lo", "bucket_hi", "n")
        .writeStream.format("memory").queryName("q_stream_quant_out")
        .outputMode("append").start()
      try {
        halves.foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
        in.addData(sentinel); q.processAllAvailable()
      } finally q.stop()
    }
    s.table("q_stream_quant_out").orderBy("grp", "q")
  }

  /** Batch twin: the exact per-group discrete percentile, mapped into
    * the SAME log-bucket integer arithmetic the stream's histogram
    * uses (values < 8 are their own bucket; above, octave e splits
    * into 8 sub-buckets of width 2^(e-3)). The octave is derived
    * integer-exactly as `length(bin(x)) - 1` — the SQL twin of the
    * histogram's numberOfLeadingZeros — because floating
    * `floor(log2(x))` rounds UP to e for x = 2^e - 1 once e ≳ 49,
    * picking the wrong bucket bounds; the histogram's contract is all
    * positive longs, so the twin must match across that full range. */
  val streamQuantilesSql: String = """
WITH c AS (
  SELECT o_orderpriority AS grp, CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_orderkey < 8000),
x AS (
  SELECT grp, 'p25' AS q, CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT) AS x, COUNT(*) AS n FROM c GROUP BY grp
  UNION ALL
  SELECT grp, 'p50' AS q, CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY v) AS BIGINT) AS x, COUNT(*) AS n FROM c GROUP BY grp
  UNION ALL
  SELECT grp, 'p75' AS q, CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT) AS x, COUNT(*) AS n FROM c GROUP BY grp),
b AS (
  SELECT grp, q, x, CAST(n AS BIGINT) AS n,
         CASE WHEN x < 8 THEN CAST(0 AS BIGINT)
              ELSE CAST(1 AS BIGINT) << (CAST(length(bin(x)) - 1 AS BIGINT) - 3) END AS stp
  FROM x)
SELECT grp, q,
       CASE WHEN x < 8 THEN x ELSE (x // stp) * stp END AS bucket_lo,
       CASE WHEN x < 8 THEN x ELSE (x // stp) * stp + stp - 1 END AS bucket_hi,
       n
FROM b ORDER BY grp, q
"""

  /** INCREMENTAL sequence packing under streaming ingest — the
    * streaming counterpart of q_training_export's pack stage: docs
    * arrive in id order across micro-batches, and each batch packs its
    * docs into 1024-token sequences CONTINUING from the carried
    * cumulative token offset (driver state across foreachBatch calls —
    * the packer's only state is one long). Because a doc's seq_id is a
    * pure function of the global token prefix sum, batch boundaries are
    * invisible: a sequence left partially filled at a batch edge is
    * completed by the next batch under the same seq_id, and the union
    * of per-batch outputs equals the one-shot packing of the whole
    * corpus — which is exactly what the oracle computes. Per-batch
    * packing itself rides [[graft.operators.PrefixSum]], so even a
    * huge micro-batch never funnels through one task; per-batch cost
    * is batch-sized, corpus-sized work never re-runs. */
  def streamSeqPacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.functions.TextFns.bpeTokenCount
    import graft.operators.PrefixSum
    val outDir = "target/stream_pack_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    val docs = slice(s, dir, "q_stream_seq_packing") {
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").limit(StreamRowCap)
        .as[(Long, String)].collect()
    }
    require(docs.nonEmpty, "empty documents slice")
    // Two batches, not three (r14 batch-count harvest): the carried
    // offset's cross-batch contract — a sequence left partially filled
    // at a batch edge completed under the same seq_id — is exercised by
    // ONE edge; a third batch re-ran the same path and only paid the
    // ~0.35 s of per-micro-batch machinery the r13 bisection measured.
    // seq_id is a pure function of the global token prefix sum, so the
    // oracle (one-shot packing) is feed-partition-invariant.
    val batches = Seq(
      docs.filter(_._1 < 150).toSeq,
      docs.filter(_._1 >= 150).toSeq).filter(_.nonEmpty)
    StreamingIngest.withStreamConfs(s, StreamingIngest.FewStatePartitions) {
      // The packer's entire cross-batch state: tokens packed so far.
      val carried = new java.util.concurrent.atomic.AtomicLong(0L)
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val toks = batch
            .select(col("doc_id"), bpeTokenCount(col("text")).cast("long").as("toks"))
          val packed = PrefixSum.runningSum(toks, col("doc_id"),
              Seq(col("doc_id")), col("toks"), "cum0")
            .withColumn("seq_id", // exact DIV at any corpus size: long >> 10,
              // not floor(long/long) (double-exact only below 2^53 tokens)
              shiftright(col("cum0") + carried.get(), 10))
            .select("doc_id", "toks", "seq_id")
            .localCheckpoint(true) // one compute serves the write AND the fold
          ParquetWrite(packed.write.mode(if (batchId == 0) "overwrite" else "append"), outDir)
          carried.addAndGet(packed.agg(sum("toks")).head.getLong(0))
          ()
        }
        .start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    ReadBack.parquet(s, outDir,
        StructType.fromDDL("doc_id BIGINT, toks BIGINT, seq_id BIGINT"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("seq_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("seq_id")
  }

  val streamSeqPackingSql: String = """
WITH capped AS (
  SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10000),
d AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS toks
  FROM capped),
c AS (
  SELECT doc_id, toks,
         SUM(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS cum0
  FROM d)
SELECT CAST(cum0 // 1024 AS BIGINT) AS seq_id, COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS seq_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1 ORDER BY 1
"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_seq_packing" -> (streamSeqPacking _),
    "q_stream_quantiles" -> (streamQuantiles _),
    "q_stream_session_window" -> (streamSessionWindow _),
    "q_stream_topk" -> (streamTopk _),
    "q_stream_recovery" -> (streamRecovery _),
    "q_stream_late" -> (streamLate _),
    "q_stream_static_join" -> (streamStaticJoin _),
    "q_streaming_merge" -> (streamingMerge _),
    "q_stream_sessionize" -> (streamingSessionize _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_file_source" -> (streamFileSource _),
    "q_stream_stream_join" -> (streamStreamJoin _),
    "q_stream_outer_join" -> (streamOuterJoin _),
    "q_stream_approx_distinct" -> (streamApproxDistinct _))

  val oracles: Map[String, String] = Map(
    "q_stream_seq_packing" -> streamSeqPackingSql,
    "q_stream_quantiles" -> streamQuantilesSql,
    "q_stream_session_window" -> streamSessionWindowSql,
    "q_stream_topk" -> streamTopkSql,
    "q_stream_recovery" -> streamRecoverySql,
    "q_stream_late" -> streamLateSql,
    "q_stream_static_join" -> streamStaticJoinSql,
    "q_streaming_merge" -> streamingMergeSql,
    "q_stream_sessionize" -> streamingSessionizeSql,
    "q_stream_dedup" -> streamDedupSql,
    "q_stream_file_source" -> streamFileSourceSql,
    "q_stream_stream_join" -> streamStreamJoinSql,
    "q_stream_outer_join" -> streamOuterJoinSql,
    "q_stream_approx_distinct" -> streamApproxDistinctSql)
}
