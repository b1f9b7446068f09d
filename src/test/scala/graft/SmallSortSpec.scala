package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class SmallSortSpec extends GraftSuite {

  /** A session with the engine's extensions, sharing the test context.
    * `create()` never replaces a default session that is already set,
    * and the caller's active session is put back. */
  private lazy val withRule: SparkSession = {
    spark // the shared context and default session exist first
    val active = SparkSession.getActiveSession
    try SparkSession.builder().withExtensions(new GraftExtensions).create()
    finally active match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None    => SparkSession.clearActiveSession()
    }
  }

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def sorted(s: SparkSession): DataFrame =
    s.range(0, 20000, 1, 4).selectExpr("id % 97 AS k", "id").orderBy("k", "id")

  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("a small global sort reads one partition and runs one job fewer") {
    val (df, base) = (sorted(withRule), sorted(spark))
    assert(withRule ne spark)
    assert(SparkSession.getDefaultSession.contains(spark))
    val (rows, jobs) = JobsStarted(spark)(df.collect())
    val (rowsBase, jobsBase) = JobsStarted(spark)(base.collect())
    assert(finalPlan(df).contains("Exchange SinglePartition"), finalPlan(df))
    assert(!finalPlan(df).contains("rangepartitioning"), finalPlan(df))
    assert(finalPlan(base).contains("rangepartitioning"), finalPlan(base))
    assert(jobs.length == jobsBase.length - 1, s"with rule: $jobs, without: $jobsBase")
    assert(rows.length == 20000)
    assert(rows.toSeq == rowsBase.toSeq, "rows and their order must not change")
  }

  test("a sort larger than the advisory partition size keeps range partitioning") {
    withRule.conf.set(advisory, "1k")
    try {
      val df = sorted(withRule)
      val rows = df.collect()
      assert(finalPlan(df).contains("rangepartitioning"), finalPlan(df))
      assert(!finalPlan(df).contains("Exchange SinglePartition"), finalPlan(df))
      assert(rows.toSeq == sorted(spark).collect().toSeq)
    } finally withRule.conf.unset(advisory)
  }

  test("a sort on an explicit repartitionByRange is left alone") {
    val df = withRule.range(0, 1000, 1, 4).toDF()
      .repartitionByRange(3, org.apache.spark.sql.functions.col("id")).orderBy("id")
    val rows = df.collect()
    assert(finalPlan(df).contains("rangepartitioning(id"), finalPlan(df))
    assert(!finalPlan(df).contains("Exchange SinglePartition"), finalPlan(df))
    assert(rows.map(_.getLong(0)).toSeq == (0L until 1000L))
  }
}
