package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (suites reuse it). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // as in Bench and the benchmark harness: the default (100 classes)
    // is smaller than one call of the larger stream composites needs
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .getOrCreate()

  /** A session with the engine's extensions, sharing the test context.
    * `create()` never replaces a default session that is already set,
    * and the caller's active session is put back, so no spec swaps the
    * JVM's default session to get the extensions. */
  lazy val withExtensions: SparkSession = {
    spark // the shared context and default session exist first
    val active = SparkSession.getActiveSession
    try SparkSession.builder().withExtensions(new GraftExtensions).create()
    finally active match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None    => SparkSession.clearActiveSession()
    }
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}

/** Spark jobs the calling thread starts while `body` runs, in start
  * order. The listener bus is asynchronous, so a sentinel job runs after
  * `body`; the bus delivers events in order, so once the sentinel is
  * seen every job of `body` has been seen too. Job groups are
  * thread-local, so other threads' jobs are not counted. */
object JobsStarted {
  import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import scala.jdk.CollectionConverters._

  /** `stage`: the first stage's name (a call site); `sql`: whether the
    * job ran inside a SQL execution (an action or eager checkpoint),
    * which driver-side jobs such as parquet schema inference do not. */
  case class Job(stage: String, sql: Boolean)

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = "jobs-started-" + System.nanoTime()
    val seen = new ConcurrentLinkedQueue[Job]()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) =>
            seen.add(Job(j.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse(""),
              props.exists(_.getProperty("spark.sql.execution.id") != null)))
          case Some(g) if g == s"$group:end" => sentinel.countDown()
          case _ =>
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group:end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener bus did not deliver the sentinel job in 60 s")
      (result, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

/** Ids of the RDDs the context holds persisted, which includes every
  * `localCheckpoint` pin. */
object Pins {
  def apply(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Pins beyond `base` once asynchronous unpersists (`Checkpoints.release`
    * does not block) have had up to 10 s to land. */
  def leftAfterRelease(spark: SparkSession, base: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((apply(spark) -- base).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    apply(spark) -- base
  }
}

/** OS processes the JVM started while `body` ran, recorded by a JFR
  * `jdk.ProcessStart` recording: each with its command line and the
  * class names of its stack, innermost first. The recording covers every
  * thread, so callers filter the stacks they mean. */
object ProcessStarts {
  import java.nio.file.Files
  import jdk.jfr.Recording
  import jdk.jfr.consumer.RecordingFile
  import scala.jdk.CollectionConverters._

  case class Process(command: String, stack: Seq[String]) {
    def hasFrame(classNamePart: String): Boolean = stack.exists(_.contains(classNamePart))
  }

  def apply[T](body: => T): (T, Seq[Process]) = {
    val rec = new Recording()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val result = try body finally rec.stop()
      rec.dump(file)
      val started = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
          Process(e.getString("command"), frames.map(_.getMethod.getType.getName))
        }
      (result, started)
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }
}

/** Generated classes Spark compiled while `body` ran: the count delta of
  * the JVM-wide compile-time histogram, which takes one sample per
  * Janino compile and none for a hit in the generated-class cache. In
  * local mode query planning and the tasks share the JVM, so compiles
  * on both sides count. Run nothing else concurrently. */
object CodegenCompiles {
  import org.apache.spark.metrics.source.CodegenMetrics

  def apply[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val result = body
    (result, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
