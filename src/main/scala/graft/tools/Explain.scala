package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev tool: print formatted physical plans for registered queries.
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // Match the bench session's sizing (r19): plan shape depends on the
    // core count twice over — the Tables.load fan-out triggers off
    // defaultParallelism and exchange elision needs the scan's partition
    // count to equal shuffle.partitions — so evidence plans dumped at
    // local[4] can differ from what the driver's local[32] bench runs.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the plans Verify and the benchmark harness execute (plans/SmallSort)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
