package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What one slice of work (a query call's build or action, or a whole pass)
  * cost, as seen from Spark's listener events. */
final class Counts {
  val sums: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()
  val batchMs = mutable.ArrayBuffer[Double]()
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val batchJobs = mutable.Map[(String, String), Int]()
  val state = mutable.Map[String, (Long, Long)]() // stream id -> (rows, bytes)

  def add(k: String, x: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + x

  /** The worst stage's max task time over its median, among stages that ran
    * at least two tasks; 1 when no stage did. */
  def skew: Double = {
    val r = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val n = s.size
      val med = if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
      s.last / math.max(med, 1.0)
    }
    if (r.isEmpty) 1.0 else r.max
  }

  def toJson: Map[String, Any] = sums.toMap ++ Map(
    "batch_ms" -> batchMs.toSeq,
    "exec.task_skew" -> skew,
    "stream.batch_jobs" -> batchJobs.values.sum,
    "stream.job_batches" -> batchJobs.size,
    "stream.state_rows" -> state.values.map(_._1).sum,
    "stream.state_mb" -> state.values.map(_._2).sum / 1e6)
}

/** Listeners the harness registers on the session when `trace` is on: job,
  * task, SQL-execution and stream-progress events. The untraced run
  * registers none. Counts accumulate into the current slice until [[cut]]
  * closes it. */
final class Layers(spark: SparkSession, dataRoot: String, trace: Boolean)
    extends SparkListener with AdaptiveSparkPlanHelper {

  private var cur = new Counts

  private def upd(f: Counts => Unit): Unit = synchronized(f(cur))

  /** Waits until Spark has delivered every pending event, then closes the
    * current slice and starts a new one. */
  def cut(): Counts = {
    SparkInternals.drain(spark.sparkContext)
    synchronized { val c = cur; cur = new Counts; c }
  }

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) upd { c =>
        def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        c.batchMs += ms("triggerExecution")
        c.add("stream.batches", 1)
        c.add("stream.input_rows", p.numInputRows.toDouble)
        c.add("stream.add_batch_ms", ms("addBatch"))
        c.add("stream.planning_ms", ms("queryPlanning"))
        c.add("stream.commit_ms", ms("commitOffsets"))
        c.add("stream.offsets_ms", ms("latestOffset") + ms("walCommit"))
        c.state(p.id.toString) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }
  if (trace) {
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = upd { c =>
    c.add("exec.jobs", 1)
    val props = Option(e.properties)
    for (p <- props; q <- Option(p.getProperty("sql.streaming.queryId"));
         b <- Option(p.getProperty("streaming.sql.batchId")))
      c.batchJobs((q, b)) = c.batchJobs.getOrElse((q, b), 0) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    upd(_.add("exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = upd { c =>
    c.add("exec.tasks", 1)
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.add("exec.task_run_s", m.executorRunTime / 1e3)
      c.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      c.add("exec.gc_s", m.jvmGCTime / 1e3)
      c.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      c.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      c.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      SparkInternals.ended(end).foreach { case (qe, ns) =>
        val phases = qe.tracker.phases
        val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
        upd { c =>
          c.add("catalyst.executions", 1)
          for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_ms",
                 "optimization" -> "catalyst.optimization_ms", "planning" -> "catalyst.planning_ms"))
            c.add(key, phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0))
          nodes.foreach(node(c, _, ns))
        }
      }
    case _ =>
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def node(c: Counts, p: SparkPlan, execNs: Long): Unit = {
    p match {
      case _: ShuffleExchangeExec => c.add("op.exchanges", 1)
      case _: BroadcastExchangeExec => c.add("op.broadcasts", 1)
      case s: FileSourceScanExec =>
        c.add("op.scans", 1)
        val rows = metric(s, "numOutputRows")
        val isTable = s.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
          s.relation.location.rootPaths.exists(_.toString.contains(dataRoot))
        if (isTable) {
          c.add("tables.scan_rows", rows)
          c.add("tables.scan_mb", metric(s, "filesSize") / 1e6)
        } else if (!s.relation.fileFormat.isInstanceOf[ParquetFileFormat])
          c.add("sources.scan_rows", rows)
      case b: BatchScanExec =>
        c.add("op.scans", 1)
        c.add("sources.scan_rows", metric(b, "numOutputRows"))
      case s: SortExec => c.add("op.sort_ms", metric(s, "sortTime"))
      case w: DataWritingCommandExec =>
        c.add("sink.writes", 1)
        c.add("sink.write_s", execNs / 1e9)
        c.add("sink.files", w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
        c.add("sink.out_mb", w.cmd.metrics.get("numOutputBytes").map(_.value / 1e6).getOrElse(0.0))
      case _ =>
    }
    c.add("op.agg_ms", if (p.nodeName.contains("Aggregate")) metric(p, "aggTime") else 0.0)
    val graftNode = if (p.getClass.getName.startsWith("graft.")) 1 else 0
    val graftExprs = p.expressions.map(_.collect {
      case x if x.getClass.getName.startsWith("graft.plans.") => x
    }.size).sum
    c.add("op.graft_nodes", graftNode + graftExprs)
  }
}
