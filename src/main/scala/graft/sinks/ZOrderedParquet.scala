package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustered parquet layout — multi-dimensional
  * data skipping for tables filtered on two independent columns.
  *
  * Range-sorting on one column (see `RangeSortedParquet`) gives perfect
  * skipping on that column and none on any other. Interleaving the bits
  * of two columns' rank-buckets and range-sorting on the interleaved
  * value gives both columns locality: a predicate on either column (or
  * both) prunes row groups via parquet column min/max stats, because
  * rows close in x or y are close on the curve. The standard layout
  * trick of Delta/Iceberg OPTIMIZE ZORDER, here as a plain write: no
  * table format required, the skipping comes from parquet stats alone.
  *
  * `interleave` is a pure bit-arithmetic fold — codegen'd, no UDF — and
  * has an exact SQL twin for oracle checks.
  */
object ZOrderedParquet {

  /** Morton-interleave the low `bits` bits of x and y: x's bit k lands
    * at position 2k, y's at 2k+1. Inputs must be non-negative; callers
    * bucket/rank raw values into [0, 2^bits) first. */
  def interleave(x: Column, y: Column, bits: Int = 10): Column =
    (0 until bits).map { k =>
      shiftleft(shiftright(x, k).bitwiseAND(lit(1L)), 2 * k) +
        shiftleft(shiftright(y, k).bitwiseAND(lit(1L)), 2 * k + 1)
    }.reduce(_ + _)

  /** The DuckDB-side twin of `interleave` over column expressions
    * `x`/`y` — generated, so both engines share one definition. */
  def interleaveSql(x: String, y: String, bits: Int = 10): String =
    (0 until bits).map { k =>
      s"((($x >> $k) & 1) << ${2 * k}) + ((($y >> $k) & 1) << ${2 * k + 1})"
    }.mkString(" + ")

  /** Write `df` z-ordered on (xCol, yCol) into `nFiles` files: compute
    * the curve position, range-partition and sort on it (so file and
    * row-group min/max stats on xCol/yCol are tight), drop the helper
    * column. One shuffle (the range exchange) — the same cost as any
    * clustered write. */
  def write(df: DataFrame, path: String, xCol: String, yCol: String,
            nFiles: Int, bits: Int = 10): Unit = {
    ParquetWrite(df.withColumn("__z", interleave(col(xCol), col(yCol), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite"), path)
  }
}
