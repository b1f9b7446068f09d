package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkTestBase.withExtensions

class SmallSortSpec extends GraftSuite {

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def sorted(s: SparkSession): DataFrame =
    s.range(0, 20000, 1, 4).selectExpr("id % 97 AS k", "id").orderBy("k", "id")

  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("a small global sort reads one partition and runs one job fewer") {
    val (df, base) = (sorted(withExtensions), sorted(spark))
    assert(withExtensions ne spark)
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
    withExtensions.conf.set(advisory, "1k")
    try {
      val df = sorted(withExtensions)
      val rows = df.collect()
      assert(finalPlan(df).contains("rangepartitioning"), finalPlan(df))
      assert(!finalPlan(df).contains("Exchange SinglePartition"), finalPlan(df))
      assert(rows.toSeq == sorted(spark).collect().toSeq)
    } finally withExtensions.conf.unset(advisory)
  }

  test("a sort on an explicit repartitionByRange is left alone") {
    val df = withExtensions.range(0, 1000, 1, 4).toDF()
      .repartitionByRange(3, org.apache.spark.sql.functions.col("id")).orderBy("id")
    val rows = df.collect()
    assert(finalPlan(df).contains("rangepartitioning(id"), finalPlan(df))
    assert(!finalPlan(df).contains("Exchange SinglePartition"), finalPlan(df))
    assert(rows.map(_.getLong(0)).toSeq == (0L until 1000L))
  }
}
