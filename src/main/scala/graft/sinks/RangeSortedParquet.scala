package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Range-partitioned, sorted parquet layout — the data-skipping write.
  *
  * `repartitionByRange` (sampled range exchange) gives files with
  * DISJOINT key ranges; `sortWithinPartitions` makes every row group
  * internally sorted, so parquet column statistics (min/max per row
  * group) turn point/range predicates into row-group skips on read.
  * Directory partitioning (`PartitionedParquet`) prunes by LOW-cardinality
  * columns; range-sorting is the complement for HIGH-cardinality keys
  * (ids, timestamps) where one-directory-per-value would explode the
  * namespace. At 100 TB this is the difference between "scan everything
  * for one key" and touching a handful of row groups.
  */
object RangeSortedParquet {

  /** Write `df` range-clustered on `key` into `nFiles` sorted files. */
  def write(df: DataFrame, path: String, key: Column, nFiles: Int): Unit =
    write(df, path, Seq(key), nFiles)

  /** Multi-key form: range boundaries and the within-file sort both use
    * the full key tuple, so rows tied on the leading key still land in
    * a single total order across files (the terasort layout — a global
    * sort with no single-task funnel: one sampled range exchange, then
    * per-partition sorts). */
  def write(df: DataFrame, path: String, keys: Seq[Column], nFiles: Int): Unit =
    ParquetWrite(df.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite"), path)

  /** Per-file min/max of `key` — the clustering audit: ranges must be
    * pairwise disjoint for skipping to work. */
  def fileRanges(spark: SparkSession, path: String, key: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("lo"), max(col(key)).as("hi"))
}
