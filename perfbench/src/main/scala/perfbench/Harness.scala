package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.operators.{DedupStage, StagedOnce}

/** One benchmark run in one JVM: set-up, warm-up passes over two warm-up
  * copies, and then, for each measured copy, a first pass over it followed
  * by warm passes over it. Each query is one call into `SparkEntry.queries`
  * followed by a `noop` write, which consumes every row and column. The
  * first two warm-up passes write every result as parquet instead, for the
  * oracle check: the first pass builds each staged artifact of the warm-up
  * copy, the second only probes them. Writes one JSON record of raw
  * samples; `run.py` turns it into metrics.
  *
  * Usage: Harness --queries q1,q2 --warmup DIR,DIR --measured DIR,...
  *   --seconds S --trace 0|1 --cpus N --check DIR --out FILE
  */
object Harness {

  private type Query = (SparkSession, String) => DataFrame

  /** The warm-up passes: the index of the warm-up copy each one reads, and
    * the subdirectory of `--check` it writes its results to, or None for a
    * `noop` pass. The pass over the second copy builds every staged
    * artifact once more, so the first passes that follow do not pay for
    * compiling the build code. */
  private val WarmupPasses = Seq(0 -> Some("build"), 0 -> Some("probe"), 1 -> None)

  /** A pass is clean when the host stole (steal time in /proc/stat) under
    * this share of the machine's CPU time during it. Stolen passes ran up
    * to 60% slower here; the medians use clean passes when there are any. */
  private val StealLimit = 0.05

  private[perfbench] def session(cpus: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the default codegen cache (100 classes) evicts warm-up classes
      // across a multi-query pass, as in graft.Bench
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()

  private[perfbench] def usable(s: SparkSession): Unit =
    s.range(1).write.format("noop").mode("overwrite").save()

  private def loadavg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Seconds since this JVM started. */
  private[perfbench] def uptime(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private[perfbench] def localDir: String =
    Paths.get("target", "perfbench", "spark-local").toAbsolutePath.toString

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, in every thread. */
  private def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Seconds the host took this machine's CPUs away (steal), from /proc/stat. */
  private def stealSeconds(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+")(8).toDouble / 100

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(",").toSeq
    val warmups = opt("warmup").split(",").toSeq
    val measured = opt("measured").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt

    // Set-up, timed from JVM start: class loading and static initialisation
    // happen only here, so a session built again in this JVM would miss them.
    val mainS = uptime()
    val spark = session(cpus, localDir)
    usable(spark)
    val setupS = uptime()
    spark.sparkContext.setLogLevel("ERROR")

    val registry = SparkEntry.queries
    val queries: Seq[(String, Query)] = names.map(n =>
      n -> registry.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
    val dataRoot = Paths.get(measured.head).getParent.toString
    val layers = new Layers(spark, dataRoot, trace)

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var forcedGcS = 0.0
    /** Runs every query once over `d`. */
    def runPass(kind: String, d: String, check: Option[String] = None): Unit = {
      // a full collection outside the timers, so no pass pays for the
      // garbage of the one before it; jvm.gc_s leaves it out
      val g0 = gcSeconds()
      System.gc()
      forcedGcS += gcSeconds() - g0
      val load0 = loadavg()
      val steal0 = stealSeconds()
      val cpu0 = cpuSeconds()
      val t0 = System.nanoTime()
      val calls = queries.map { case (name, fn) =>
        call(spark, layers, trace, name, fn, d, check.map(c => s"${opt("check")}/$c/$name"))
      }
      val wall = secs(t0)
      val cpu = cpuSeconds() - cpu0
      val steal = stealSeconds() - steal0
      val rest = layers.cut().toJson
      val clean = steal <= StealLimit * wall * cpus
      passes += Map("kind" -> kind, "check" -> check.orNull, "wall_s" -> wall, "cpu_s" -> cpu,
        "steal_s" -> steal, "clean" -> clean, "calls" -> calls, "load1" -> Seq(load0, loadavg()), "counts" -> rest,
        "cached_mb" -> spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
    }

    // A fixed number of warm-up passes gives every run the same JIT and
    // codegen history: pass times keep falling by a few percent per pass
    // for many passes, so an adaptive stop made runs unlike each other.
    val tw = System.nanoTime()
    for ((i, check) <- WarmupPasses) runPass("warmup", warmups(i), check)
    val warmupS = secs(tw)

    val tableLoads = if (trace) Tables.names.map { t =>
      val t0 = System.nanoTime(); Tables(spark, measured.head, t); t -> secs(t0)
    }.toMap else Map.empty[String, Double]
    layers.cut()

    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds() - forcedGcS
    // Each measured copy gets its first pass and then warm passes over it
    // for its share of `seconds`, at least one; spreading the first passes
    // over the run keeps a burst of host load from hitting all of them.
    for (m <- measured) {
      runPass("first", m)
      val tm = System.nanoTime()
      var n = 0
      while (n == 0 || secs(tm) * (n + 1) / n <= seconds / measured.size) {
        runPass("warm", m)
        n += 1
      }
    }
    // the staged artifacts each measured copy built, with their build seconds
    val ledger = measured.map { m =>
      (StagedOnce.builds(spark).toSeq.collect { case (k, (_, d, s)) if d == m => k -> s } ++
        DedupStage.buildSeconds(spark).get(m).map(DedupStage.Owner -> _)).toMap
    }
    val gcS = gcSeconds() - forcedGcS - gc0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

    val record = Map(
      "setup_s" -> setupS,
      "main_s" -> mainS,
      "warmup_s" -> warmupS,
      "table_load_s" -> tableLoads,
      "staging" -> ledger,
      "jvm_gc_s" -> gcS,
      "heap_peak_mb" -> heapPeakMb,
      "passes" -> passes.toSeq,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) },
      "cpus" -> cpus,
      "peak_rss_mb" -> vmHwmMb())
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }

  private def oneLine(e: Throwable): String =
    String.valueOf(e).takeWhile(_ != '\n').take(300)

  /** One query call. `build_s` runs from the call into the query function
    * to its return, `action_s` over the noop write, or over a parquet write
    * to `out`. When tracing, the listener bus is drained between the two,
    * outside both timers, so the build's and the action's counts stay apart. */
  private def call(spark: SparkSession, layers: Layers, trace: Boolean,
                   name: String, fn: Query, dir: String, out: Option[String]): Map[String, Any] = {
    var build = 0.0
    var action = 0.0
    var buildCounts = Map.empty[String, Any]
    var err: Option[String] = None
    try {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      build = secs(t0)
      if (trace) {
        val analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        val c = layers.cut()
        c.add("catalyst.analysis_ms", analysisMs.toDouble)
        buildCounts = c.toJson
      }
      val t1 = System.nanoTime()
      out match {
        case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
        case None => df.write.format("noop").mode("overwrite").save()
      }
      action = secs(t1)
    } catch { case e: Throwable => err = Some(oneLine(e)) }
    val actionCounts = if (trace) layers.cut().toJson else Map.empty[String, Any]
    Map("q" -> name, "build_s" -> build, "action_s" -> action, "error" -> err.orNull,
      "build" -> buildCounts, "action" -> actionCounts)
  }
}

/** One more cold set-up: a JVM that only builds the session, prints the
  * seconds from JVM start until it is usable, and exits. */
object Setup {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(args(0).toInt, Harness.localDir)
    Harness.usable(spark)
    val s = Harness.uptime()
    spark.stop()
    println(s"setup_s $s")
  }
}
