package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingIngest

class StreamingSpec extends GraftSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming dedup: duplicate composite keys collapse across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Timestamp, Double)]
    val df = in.toDF().toDF("account_id", "ticket", "event_time", "profit")
    val q = StreamingIngest.dedupStream(df, "event_time", "10 minutes",
        Seq("account_id", "ticket"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    in.addData(("a", 1L, ts("2024-01-01 10:00:00"), 5.0),
      ("a", 1L, ts("2024-01-01 10:00:30"), 5.0), // dup within batch
      ("a", 2L, ts("2024-01-01 10:01:00"), 7.0))
    q.processAllAvailable()
    in.addData(("a", 1L, ts("2024-01-01 10:02:00"), 9.9), // dup across batches
      ("b", 1L, ts("2024-01-01 10:02:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out")
      .select("account_id", "ticket").as[(String, Long)].collect().toSeq
    assert(out.size == 3 && out.toSet == Set(("a", 1L), ("a", 2L), ("b", 1L)))
  }

  test("streaming windowed totals: event-time tumbling windows, exact cents") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("event_time", "kind", "value")
    val q = StreamingIngest.windowedTotals(df, "event_time", "value",
        "5 minutes", "1 minute", Seq("kind"))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    in.addData(
      (ts("2024-01-01 10:00:10"), "x", 1.25),
      (ts("2024-01-01 10:02:00"), "x", 2.50),
      (ts("2024-01-01 10:07:00"), "x", 4.00),
      (ts("2024-01-01 10:01:00"), "y", 0.75))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("win_out")
      .select(col("window.start").cast("string"), col("kind"), col("n"), col("total"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(out == Set(
      ("2024-01-01 10:00:00", "x", 2L, 3.75),
      ("2024-01-01 10:05:00", "x", 1L, 4.0),
      ("2024-01-01 10:00:00", "y", 1L, 0.75)))
  }

  test("stream-stream interval join: clicks attribute to impressions within the window") {
    // Both sides watermarked, join bounded by an event-time interval —
    // the state store holds only rows inside watermark + interval, so
    // state is bounded no matter how long the streams run.
    implicit val sqlCtx = spark.sqlContext
    val imp = MemoryStream[(Long, Timestamp)]
    val clk = MemoryStream[(Long, Timestamp)]
    val i = imp.toDF().toDF("ad_id", "imp_time").withWatermark("imp_time", "10 minutes")
    val c = clk.toDF().toDF("click_ad_id", "click_time").withWatermark("click_time", "10 minutes")
    val joined = i.join(c,
      expr("ad_id = click_ad_id AND " +
        "click_time BETWEEN imp_time AND imp_time + INTERVAL 5 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    imp.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    clk.addData((1L, ts("2024-01-01 10:03:00")),  // within 5 min → joins
      (2L, ts("2024-01-01 10:09:00")))            // outside → dropped
    q.processAllAvailable()
    q.stop()
    val out = spark.table("attr_out").select("ad_id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("stream-stream LEFT OUTER join: unmatched rows null-emit only at watermark") {
    // The outer-join contract: an unmatched left row is held in state,
    // NOT emitted, until the watermark proves no match can arrive; then
    // it comes out exactly once, null-padded. Ad 2 never gets a click
    // inside its 5-minute horizon — its null row must appear only after
    // the watermark (driven by a later batch) passes 10:00 + 5 min + 10
    // min delay.
    implicit val sqlCtx = spark.sqlContext
    val imp = MemoryStream[(Long, Timestamp)]
    val clk = MemoryStream[(Long, Timestamp)]
    val i = imp.toDF().toDF("ad_id", "imp_time").withWatermark("imp_time", "10 minutes")
    val c = clk.toDF().toDF("click_ad_id", "click_time").withWatermark("click_time", "10 minutes")
    val joined = i.join(c,
      expr("ad_id = click_ad_id AND " +
        "click_time BETWEEN imp_time AND imp_time + INTERVAL 5 MINUTES"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("outer_attr_out")
      .outputMode("append").start()
    imp.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    clk.addData((1L, ts("2024-01-01 10:03:00")))
    q.processAllAvailable()
    // watermark still at 10:03 − 10 min: ad 2 must NOT have emitted yet
    val early = spark.table("outer_attr_out").select("ad_id").as[Long].collect().toSeq
    assert(early == Seq(1L), s"premature outer emission: $early")
    // advance both sides past the horizon → eviction emits the null row
    imp.addData((9L, ts("2024-01-01 11:00:00")))
    clk.addData((9L, ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("outer_attr_out")
      .select(col("ad_id"), col("click_ad_id").isNull.as("unmatched"))
      .as[(Long, Boolean)].collect().toSet
    assert(out.contains((2L, true)), s"missing null-padded row for ad 2: $out")
    assert(out.contains((1L, false)))
  }

  test("streaming state on RocksDB provider: same dedup semantics, spill-safe state") {
    // The 100 TB state-store choice: RocksDB keeps streaming state on
    // disk with incremental checkpoints instead of exhausting executor
    // heap. Same query semantics as the HDFS-backed default — asserted
    // by rerunning the dedup scenario against the swapped provider.
    // The provider is a SQL conf captured at query start, NOT a sink
    // option — it must be set on the session, and we assert it actually
    // took effect via RocksDB-specific state-operator metrics.
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, Long, Timestamp, Double)]
      val df = in.toDF().toDF("account_id", "ticket", "event_time", "profit")
      val q = StreamingIngest.dedupStream(df, "event_time", "10 minutes",
          Seq("account_id", "ticket"))
        .writeStream.format("memory").queryName("rocks_out")
        .outputMode("append").start()
      in.addData(("a", 1L, ts("2024-01-01 10:00:00"), 5.0),
        ("a", 1L, ts("2024-01-01 10:00:30"), 5.0))
      q.processAllAvailable()
      in.addData(("a", 1L, ts("2024-01-01 10:02:00"), 9.9),
        ("c", 9L, ts("2024-01-01 10:02:00"), 1.0))
      q.processAllAvailable()
      val rocksMetrics = q.lastProgress.stateOperators.headOption
        .map(_.customMetrics.keySet().toArray.map(_.toString).toSeq)
        .getOrElse(Seq.empty)
      q.stop()
      assert(rocksMetrics.exists(_.toLowerCase.contains("rocksdb")),
        s"RocksDB provider did not take effect; state metrics: $rocksMetrics")
      val out = spark.table("rocks_out")
        .select("account_id", "ticket").as[(String, Long)].collect().toSeq
      assert(out.size == 2 && out.toSet == Set(("a", 1L), ("c", 9L)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("stateful sessionization: gap closes a session, state carries across batches") {
    import graft.streaming.SessionizeStream
    import graft.streaming.SessionizeStream.Event
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val withWm = in.toDS().withWatermark("ts", "0 seconds")
    val q = SessionizeStream.sessionize(withWm)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // session 1: two events 5 min apart; then a 40-min gap opens session 2
    in.addData(Event(7L, ts("2024-01-01 10:00:00")),
      Event(7L, ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    in.addData(Event(7L, ts("2024-01-01 10:45:00"))) // > 30-min gap
    q.processAllAvailable()
    in.addData(Event(7L, ts("2024-01-01 12:00:00"))) // closes session 2 too
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out")
      .select("userId", "nEvents", "durationSec")
      .as[(Long, Long, Double)].collect().toSet
    assert(out.contains((7L, 2L, 300.0)))  // session 1: 2 events, 5 min
    assert(out.contains((7L, 1L, 0.0)))    // session 2: the 10:45 singleton
  }

  test("foreachBatch MERGE sink: update vs insert-only across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_merge")
      .resolve("target").toString
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("ticket", "status", "gpt")
    val q = df.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingIngest.upsertBatch(batch, dir, Seq("ticket"),
          updateCols = Seq("status"), insertOnlyCols = Seq("gpt"))
    }.start()
    in.addData((1L, "open", "enriched"), (2L, "open", "note"))
    q.processAllAvailable()
    in.addData((1L, "closed", null: String), (3L, "new", "fresh"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(dir).orderBy("ticket")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(out == Seq(
      (1L, "closed", Some("enriched")), // updated, enrichment preserved
      (2L, "open", Some("note")),
      (3L, "new", Some("fresh"))))
  }

  test("foreachBatch MERGE sink: a target with other columns fails loudly, not null-filled") {
    // The sink reads the current target with the schema it writes
    // (keys ++ updateCols ++ insertOnlyCols); a target whose columns or
    // types differ must throw instead of reading missing columns as NULL.
    val batch = Seq((1L, "closed", "g")).toDF("ticket", "status", "gpt")
    Seq(
      Seq((1L, "open", "x")).toDF("ticket", "state", "note"),   // other names
      Seq(("1", "open", "x")).toDF("ticket", "status", "gpt")   // other type
    ).foreach { foreign =>
      val dir = java.nio.file.Files.createTempDirectory("graft_merge_foreign")
        .resolve("target").toString
      foreign.write.parquet(dir)
      val e = intercept[IllegalArgumentException] {
        StreamingIngest.upsertBatch(batch, dir, Seq("ticket"),
          updateCols = Seq("status"), insertOnlyCols = Seq("gpt"))
      }
      assert(e.getMessage.contains("expected [ticket bigint, status string, gpt string]"),
        e.getMessage)
      assert(spark.read.parquet(dir).collect().toSeq == foreign.collect().toSeq,
        "a rejected upsert must leave the target untouched")
    }
  }

  test("q_stream_dedup: every micro-batch carries input rows, output equals the twin") {
    // No watermark-only micro-batch may run: with no-data batches off,
    // the executed batches (the ones with an addBatch phase) are
    // exactly the two data batches.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import graft.queries.StreamQueries
    val dir = "/root/testdata/sf0.001"
    val runId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == "q_stream_dedup_out") runId.set(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == "q_stream_dedup_out") progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == runId.get) done.countDown()
    }
    spark.streams.addListener(listener)
    val out =
      try {
        val rows = StreamQueries.streamDedup(spark, dir).collect().toSeq
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "no termination event for q_stream_dedup_out")
        rows
      } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    val batches = progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
    assert(batches.nonEmpty && batches.forall(_.numInputRows > 0),
      s"micro-batches without input rows ran: ${batches.map(b => (b.batchId, b.numInputRows))}")
    assert(batches.size == 2, s"expected 2 data micro-batches, ran ${batches.size}")
    Tables(spark, dir, "events").createOrReplaceTempView("events")
    val twin =
      try spark.sql(StreamQueries.streamDedupSql).collect().toSeq
      finally spark.catalog.dropTempView("events")
    assert(out.nonEmpty && out == twin)
  }

  test("stream-static join: dim broadcast in the micro-batch plan, output = batch join") {
    // The enrichment shape: unbounded fact stream × bounded static dim.
    // Asserts (a) the micro-batch physical plan actually joins the dim
    // via BroadcastHashJoin — the strategy that scales to an unbounded
    // fact side — and (b) streaming output equals the batch join.
    import graft.queries.StreamQueries
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((10L, "ALPHA"), (20L, "BETA"))
      .toDF("d_custkey", "n_name")
    val in = MemoryStream[(Long, Long, Long)]
    val fact = in.toDF().toDF("ticket", "custkey", "cents")
    val q = StreamQueries.enrichStream(fact, dim)
      .writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    in.addData((1L, 10L, 1050L), (2L, 20L, 2000L), (3L, 99L, 1L))
    q.processAllAvailable()
    in.addData((4L, 10L, 75L))
    q.processAllAvailable()
    val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    q.stop()
    assert(exec.contains("BroadcastHashJoin"),
      s"static dim must join via broadcast in the micro-batch plan:\n${exec.take(3000)}")
    val out = spark.table("ss_join_out")
      .select("ticket", "custkey", "price", "n_name")
      .as[(Long, Long, Double, String)].collect().toSet
    assert(out == Set((1L, 10L, 10.5, "ALPHA"), (2L, 20L, 20.0, "BETA"),
      (4L, 10L, 0.75, "ALPHA")))
  }

  test("file-source query restarts from checkpoint: no loss, no duplication") {
    // The production recovery contract: a readStream-over-files query
    // with a checkpoint is killed mid-stream and RE-STARTED as a new
    // query object; the file-source offset log must skip everything the
    // first incarnation committed and the file sink's metadata log must
    // keep the output exactly-once across the restart.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val base = "target/test_ckpt_recovery"
    val input = s"$base/input"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(input))
    def stage(i: Int): Unit = {
      val tmp = s"$base/stage_$i"
      spark.range(i * 100L, (i + 1) * 100L)
        .select(col("id"), (col("id") * 2).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = fs.globStatus(new org.apache.hadoop.fs.Path(tmp + "/part-*.parquet")).head.getPath
      assert(fs.rename(f, new org.apache.hadoop.fs.Path(s"$input/batch_$i.parquet")))
    }
    val schema = new StructType().add("id", LongType).add("v", LongType)
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(input)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out")
      .outputMode("append").start()
    stage(0); stage(1)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    stage(2); stage(3)
    val q2 = startQuery() // fresh incarnation, same checkpoint
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 400)
    assert(out.select(countDistinct("id")).head.getLong(0) == 400)
    // Σ 2·id over [0, 400) = 400·399 — any lost or replayed file breaks it
    assert(out.agg(sum("v")).head.getLong(0) == 399L * 400L)
  }

  test("QuantileHistogram: bucket contract — bounds, relative error, rank agreement, order independence") {
    import graft.streaming.QuantileHistogram._
    val rnd = new scala.util.Random(42)
    // bounds + relative-error guarantee across magnitudes
    (0 until 2000).foreach { _ =>
      val v = (rnd.nextLong().abs % (1L << (rnd.nextInt(50) + 4))) + 1
      assert(bucketLo(v) <= v && v <= bucketHi(v), s"$v outside its bucket")
      assert(bucketHi(v) - bucketLo(v) <= math.max(v / 8, 0), s"bucket too wide for $v")
    }
    // quantiles() lands in the bucket of the exact rank value, for any
    // arrival order (counts are order-independent by construction)
    def targets(n: Long): Seq[(String, Long)] = Seq(
      "p25" -> (n + 3) / 4, "p50" -> (n + 1) / 2, "p75" -> (3 * n + 3) / 4)
    (1 to 20).foreach { trial =>
      val vs = Seq.fill(1 + rnd.nextInt(500))(rnd.nextLong().abs % 100000000L + 1)
      val shuffled = rnd.shuffle(vs)
      val h1 = vs.foldLeft(Map.empty[Long, Long])(add)
      val h2 = shuffled.foldLeft(Map.empty[Long, Long])(add)
      assert(h1 == h2, "histogram must be arrival-order independent")
      val sorted = vs.sorted
      quantiles(h1, targets).foreach { case (lbl, lo, hi, n) =>
        assert(n == vs.size)
        val exact = sorted((targets(n).toMap.apply(lbl) - 1).toInt)
        assert(lo == bucketLo(exact) && hi == bucketHi(exact),
          s"trial $trial $lbl: bucket [$lo,$hi] != bucket of exact rank value $exact")
      }
    }
  }

  test("withStreamConfs sets the manager key and the given confs, then restores or unsets each, also on a throw") {
    import graft.streaming.LocalCheckpointFileManager
    val managerKey = LocalCheckpointFileManager.ClassKey
    val isolationKey = StreamingIngest.ArtifactIsolationKey
    val isolation = spark.conf.get(isolationKey)
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.graft.test.streamConf"
    spark.conf.unset(unsetKey)
    val before = spark.conf.get(setKey)
    assert(spark.conf.getOption(managerKey).isEmpty && before != "7")
    def check(body: => Unit): Unit = {
      try StreamingIngest.withStreamConfs(spark, setKey -> "7", unsetKey -> "on") {
        assert(spark.conf.get(managerKey) == classOf[LocalCheckpointFileManager].getName)
        assert(spark.conf.get(isolationKey) == "false")
        assert(spark.conf.get(setKey) == "7" && spark.conf.get(unsetKey) == "on")
        body
      } finally {
        assert(spark.conf.get(setKey) == before)
        assert(spark.conf.getOption(unsetKey).isEmpty)
        assert(spark.conf.getOption(managerKey).isEmpty)
        assert(spark.conf.get(isolationKey) == isolation)
      }
    }
    check(())
    val thrown = intercept[IllegalStateException](check(throw new IllegalStateException("body")))
    assert(thrown.getMessage == "body")
  }

  test("no stream query forks for a checkpoint file or compiles code on a second call") {
    // Every stream composite is named q_stream*; each must start at
    // least one stream here, or the name no longer finds them. A stream
    // started outside StreamingIngest.withStreamConfs writes its offset,
    // commit and state files through Spark's default manager, which
    // starts chmod and readlink processes under a CheckpointFileManager
    // frame. It also runs its tasks under a class loader of its own
    // session clone, so every start recompiles the stream's generated
    // classes although their code is the same; the second call of each
    // query, with its result consumed as in the benchmark, must compile
    // none.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val dir = "/root/testdata/sf0.001"
    val streamQueries = SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.startsWith("q_stream"))
    assert(streamQueries.size >= 20)
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // Spark numbers a map encoder's lambda variables from a JVM-wide
    // counter, when the encoder is built and again when the analyzer
    // resolves its deserializer, and the numbers land in the generated
    // code. The Map[Long, Long] state encoder of these two streams is
    // built once, so only the analyzer's numbering is new on each call:
    // two classes still compile again.
    val recompiles = Map("q_stream_quantiles" -> 2, "q_stream_topk" -> 2)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt >= 1000,
      "a codegen cache smaller than one call's classes evicts them, so every call recompiles")
    def call(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    spark.streams.addListener(listener)
    val recompiled = try streamQueries.flatMap { case (name, fn) =>
      val before = started.get
      val (_, processes) = ProcessStarts(call(fn))
      // onQueryStarted is posted synchronously from start()
      assert(started.get > before, s"$name started no stream")
      val viaManager = processes.filter(_.hasFrame("CheckpointFileManager"))
      viaManager.headOption.foreach { p =>
        fail(s"$name started ${viaManager.size} processes to write checkpoint files, " +
          s"e.g. ${p.command}:\n  ${p.stack.take(40).mkString("\n  ")}")
      }
      val (_, compiled) = CodegenCompiles(call(fn))
      if (compiled > recompiles.getOrElse(name, 0)) Some(s"$name: $compiled") else None
    } finally spark.streams.removeListener(listener)
    assert(recompiled.isEmpty, s"classes compiled by the second call: ${recompiled.mkString(", ")}")
  }
}
