package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.fs.NoForkLocalFileSystem

/** A streaming `CheckpointFileManager` that writes local checkpoint and
  * state files without starting an OS process. Spark instantiates it
  * through `spark.sql.streaming.checkpointFileManagerClass`; the engine
  * sets that key around each stream with [[StreamingIngest.withStreamConfs]].
  *
  * Why: without `libhadoop.so`, Hadoop's `RawLocalFileSystem.setPermission`
  * forks `chmod` on every file and directory it creates, and
  * `FileContext.rename` forks `readlink` while resolving links. Spark's
  * default `FileContextBasedCheckpointFileManager` writes each offset,
  * commit, metadata, state-delta and state-checksum file as a create plus
  * a rename, so each micro-batch forked processes for every state partition:
  * 2,808 of the 3,103 one benchmark stream run started (BENCHLOG
  * "checkpoint-file forks").
  *
  * For a path on Hadoop's `LocalFileSystem` this is Spark's own
  * `FileSystemBasedCheckpointFileManager` (temp file, then rename) over a
  * [[NoForkLocalFileSystem]], which sets POSIX permissions through
  * `java.nio` instead of `chmod`. Files carry the same bytes, the same
  * `.crc` sidecars (verified on read) and the same permissions after the
  * umask, and an existing target without `overwriteIfPossible` still
  * fails with `FileAlreadyExistsException`. Any other file system gets what
  * `CheckpointFileManager.create` returns with the key unset (Spark's
  * default), so non-local rename atomicity is Spark's.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val delegate: CheckpointFileManager = path.getFileSystem(hadoopConf) match {
    case _: LocalFileSystem =>
      val local = new NoForkLocalFileSystem
      local.setConf(hadoopConf) // as FileSystem.get does before initialize
      local.initialize(java.net.URI.create("file:///"), hadoopConf)
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem = local
      }
    case _ =>
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, sparkDefault)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** Spark's key for the checkpoint-file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"
}
