package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Merge
import graft.sinks.{ParquetWrite, ReadBack}

/** The reference's batch ingest re-expressed over Structured Streaming
  * (SURVEY §1.5/§7): the reference achieves effective exactly-once by
  * re-running keyed upserts (C10/R9/R10); the streaming translation is
  *
  *  - watermarked `dropDuplicatesWithinWatermark` ≡ C9 dedup + upsert
  *    idempotency, with bounded state (keys expire past the watermark)
  *  - event-time windowed aggregation with a late-data policy the batch
  *    jobs never had
  *  - a `foreachBatch` MERGE sink reusing the SAME batch Merge operator,
  *    so batch and streaming ingest share one upsert semantics
  *
  * All transforms are the same codegen'd expressions as the batch path —
  * a streaming DataFrame is just an unbounded plan over micro-batches.
  */
object StreamingIngest {

  /** Runs `body`, which starts a stream and stops it before returning,
    * with `confs` set on the session, the stream's checkpoint and state
    * files written by [[LocalCheckpointFileManager]], and the stream's
    * tasks sharing compiled code across stream starts. Afterwards each
    * key gets its previous value back, or is unset again if it was
    * unset, also when `body` throws.
    *
    * Compiled code: every `start()` runs the stream on a clone of the
    * session with a new session UUID. With artifact isolation on (Spark's
    * default), executors give each UUID its own class loader, and the
    * generated-class cache is keyed by class loader, so each start
    * recompiled every task-side class of the stream. The clone copies
    * [[ArtifactIsolationKey]] with the rest of the conf when it is
    * created, so off here means its tasks use the executor's shared
    * loader and hit the cache. The
    * engine adds no artifacts to any session, so no class becomes
    * visible that was not visible before. */
  def withStreamConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val all = Seq(
      LocalCheckpointFileManager.ClassKey -> classOf[LocalCheckpointFileManager].getName,
      ArtifactIsolationKey -> "false") ++ confs
    val prev = all.map { case (k, _) => k -> s.conf.getOption(k) }
    all.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Spark's key for per-session artifact class loaders. */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** The state-partition count most stream composites run at: their
    * stateful cost is per-partition task overhead, not data, and their
    * results do not depend on the partition count. */
  val FewStatePartitions: (String, String) = "spark.sql.shuffle.partitions" -> "4"

  /** Streaming composite-key dedup with bounded state. */
  def dedupStream(entries: DataFrame, eventTimeCol: String,
                  watermark: String, keys: Seq[String]): DataFrame =
    entries.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Event-time tumbling-window totals (exact cents accumulation). */
  def windowedTotals(events: DataFrame, eventTimeCol: String,
                     valueCol: String, windowLen: String,
                     watermark: String, dims: Seq[String]): DataFrame =
    events.withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen) +: dims.map(col): _*)
      .agg(count(lit(1)).as("n"),
        (sum(round(col(valueCol) * 100).cast("long")).cast("double") / 100.0).as("total"))

  /** The schema [[upsertBatch]] writes: `keys ++ updateCols ++
    * insertOnlyCols`, typed as in the batch. */
  def targetSchema(batch: StructType, keys: Seq[String], updateCols: Seq[String],
                   insertOnlyCols: Seq[String]): StructType =
    StructType((keys ++ updateCols ++ insertOnlyCols).map(batch(_)))

  /** `foreachBatch` MERGE into a parquet target: read-merge-swap. The
    * swap (write aside, then replace) keeps readers consistent; a table
    * format with transactional MERGE would replace this at production
    * scale, with identical column semantics. The current target is read
    * with the schema this sink writes (no inference job per batch); a
    * target with other columns or types fails with a clear error. */
  def upsertBatch(batch: DataFrame, targetDir: String, keys: Seq[String],
                  updateCols: Seq[String], insertOnlyCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val target = java.nio.file.Paths.get(targetDir)
    val merged =
      if (java.nio.file.Files.exists(target)) {
        val current = ReadBack.parquet(spark, targetDir,
          targetSchema(batch.schema, keys, updateCols, insertOnlyCols))
        Merge.upsert(current, batch, keys, updateCols, insertOnlyCols)
      } else batch.select((keys ++ updateCols ++ insertOnlyCols).map(col): _*)
    val tmp = targetDir + "__staged"
    ParquetWrite(merged.write.mode("overwrite"), tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(targetDir)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }
}
