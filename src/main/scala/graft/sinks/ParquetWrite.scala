package graft.sinks

import org.apache.spark.sql.DataFrameWriter

import graft.fs.NoForkLocalFileSystem

/** Every engine parquet write goes through here (`PlanGovernanceSpec`
  * checks the sources), so that a local write starts no OS process.
  *
  * Spark copies writer options into the write job's Hadoop conf, which
  * the overwrite delete, the output committer, each task's part-file
  * writer and `_SUCCESS` all resolve their file system from. Naming
  * [[NoForkLocalFileSystem]] there, uncached, gives each of them an
  * instance of it for `file:` paths; the JVM-cached default `file:`
  * file system and every other scheme are untouched. Before this, each
  * local write forked one `chmod` per committer directory, part file,
  * `.crc` sidecar and `_SUCCESS` (BENCHLOG "stream codegen recompiles
  * and write forks").
  */
object ParquetWrite {

  val Options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  def apply(w: DataFrameWriter[_], path: String): Unit =
    w.options(Options).parquet(path)
}
