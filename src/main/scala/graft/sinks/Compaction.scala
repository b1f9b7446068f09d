package graft.sinks

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance op every long-lived
  * ingest needs: streaming/incremental writers accrete many small files,
  * and each file costs a task, a footer read, and namespace pressure at
  * plan time (one million 1 MB files is a catastrophe a 1000-executor
  * cluster cannot scan efficiently; the same data in 8 GB files is
  * routine).
  *
  * Strategy: size the output by bytes, not file count — target file
  * count = ceil(totalBytes / targetBytes) — and rewrite with a
  * round-robin repartition (uniform by construction; compaction must fix
  * skew, not inherit it). The rewrite lands write-aside and swaps in
  * atomically-enough for a single writer (same pattern as
  * `StreamingIngest.upsertBatch`), so readers never see a half-compacted
  * directory. For range-clustered tables, recluster with
  * `RangeSortedParquet.write` instead — this operator is for
  * order-agnostic fact data.
  */
object Compaction {

  /** Parquet data file count + total bytes under `path`. */
  def stats(spark: SparkSession, path: String): (Int, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter { f =>
      f.isFile && f.getPath.getName.endsWith(".parquet")
    }
    (files.length, files.map(_.getLen).sum)
  }

  /** Rewrite `path` into ceil(totalBytes / targetBytes) files.
    * Returns (filesBefore, filesAfter).
    *
    * Swap order is rename-aside, not delete-then-rename: the original
    * moves to `path__old`, the rewrite renames into place, and only then
    * is the old copy deleted. A crash mid-swap therefore always leaves a
    * complete copy of the data on disk (either still at `path`, or intact
    * at `path__old` ready for manual recovery), and the no-directory
    * window shrinks to the instant between the two renames. Contract:
    * single writer, no concurrent readers during the swap — same as
    * `StreamingIngest.upsertBatch`. */
  def compact(spark: SparkSession, path: String, targetBytes: Long): (Int, Int) = {
    val (before, totalBytes) = stats(spark, path)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val base = path.stripSuffix("/")
    val tmp = base + "__compacting"
    ParquetWrite(spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite"), tmp)
    val p = new Path(path)
    val old = new Path(base + "__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true) // stale leftover from a previous crashed swap
    // rename returns false instead of throwing on several filesystems;
    // an unchecked false here would delete `old` and report a compaction
    // that never happened. Fail loudly and leave the data where it is.
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"compaction swap: rename $p -> $old failed")
    if (!fs.rename(new Path(tmp), p))
      throw new java.io.IOException(s"compaction swap: rename $tmp -> $p failed; original intact at $old")
    fs.delete(old, true)
    (before, stats(spark, path)._1)
  }
}
