package graft.fs

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `LocalFileSystem` over a raw layer that sets
  * POSIX permissions through `java.nio` instead of starting a process.
  *
  * Why: without `libhadoop.so`, `RawLocalFileSystem.setPermission` forks
  * `chmod` for every file and directory it creates. The checksummed
  * layer above the raw one is Hadoop's own, so files carry the same
  * bytes, the same `.crc` sidecars (verified on read) and the same
  * permissions after the umask.
  *
  * The engine never installs this as the JVM-wide `file:` file system.
  * Streams get it through `streaming.LocalCheckpointFileManager`, and
  * parquet writes through `sinks.ParquetWrite`, which names it in the
  * write job's own Hadoop conf, uncached. `FileSystem.get` on the shared
  * conf still returns Hadoop's class. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.NioPermissionsRawFs)

object NoForkLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` calls
    * `Files.setPosixFilePermissions`. A mode with the sticky bit, which
    * `PosixFilePermission` cannot express, takes Hadoop's own path. */
  final class NioPermissionsRawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }
  }

  /** The nine permission bits of `mode` as a `PosixFilePermission` set.
    * The enum lists owner, group and others, read/write/execute each, in
    * the order of the bits from 0400 down to 0001. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}
