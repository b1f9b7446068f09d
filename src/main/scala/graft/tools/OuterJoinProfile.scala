package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool (r19, VERDICT r18 #3): where do q_stream_outer_join's
  * micro-batches spend their time?
  *
  * Runs the REGISTERED query (no replica drift) `reps` times with a
  * StreamingQueryListener attached and prints every batch's
  * `durationMs` line items (triggerExecution = addBatch + getBatch +
  * queryPlanning + walCommit + commitOffsets + ...) plus the
  * stateOperators' state-store metrics (rows, memory, commit time), so
  * the per-batch fixed cost can be attributed to state machinery vs
  * planning vs the join itself before touching the query.
  *
  * Usage: sbt "runMain graft.tools.OuterJoinProfile [sfDir] [reps] [query]"
  */
object OuterJoinProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val qname = if (args.length > 2) args(2) else "q_stream_outer_join"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        val dur = d.entrySet().toArray.map(_.toString).sorted.mkString(", ")
        val st = p.stateOperators.map { so =>
          s"op=${so.operatorName} rowsTotal=${so.numRowsTotal} " +
            s"updated=${so.numRowsUpdated} removed=${so.numRowsRemoved} " +
            s"commitMs=${so.allRemovalsTimeMs + so.allUpdatesTimeMs + so.commitTimeMs}"
        }.mkString(" | ")
        println(s"[ojprof] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs={$dur} $st")
      }
    }
    spark.streams.addListener(listener)
    val fn = graft.SparkEntry.queries(qname)
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      println(f"[ojprof] rep=$r wall=${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n " +
        s"load=${java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).split(" ").head}")
    }
    spark.stop()
  }
}
