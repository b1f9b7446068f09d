package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned-layout writer: the physical organization that makes
  * 100 TB tables queryable. Hive-style `partitionBy` directories mean a
  * predicate on the partition column prunes whole directories at
  * PLANNING time — scans touch only matching partitions, which is the
  * difference between reading one month and reading a decade.
  *
  * Pair with a derived low-cardinality partition column (year/month
  * buckets, never raw timestamps: millions of tiny directories is the
  * classic layout failure).
  */
object PartitionedParquet {

  /** Write with a derived partition column appended. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCol: String, partitionExpr: org.apache.spark.sql.Column): Unit =
    ParquetWrite(df.withColumn(partitionCol, partitionExpr)
      .write.mode("overwrite")
      .partitionBy(partitionCol), path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
