package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import graft.streaming.LocalCheckpointFileManager

/** The fork-free checkpoint-file manager against Spark's default one on
  * the same local directories: no process started, and the same file
  * bytes, `.crc` sidecars, permissions and atomic-write contract. Both
  * managers come from Spark's own `CheckpointFileManager.create`, with
  * the class key set or unset. The corruption check reads through the
  * new manager only: the default one reads through `FileContext`'s
  * `LocalFs`, which with this Hadoop returns a corrupted file's bytes
  * without verifying its `.crc`. */
class LocalCheckpointFileManagerSpec extends GraftSuite {

  private def conf(local: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    if (local) c.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    else c.unset(LocalCheckpointFileManager.ClassKey)
    c
  }

  private def manager(dir: Path, local: Boolean, umask: String = "022"): CheckpointFileManager =
    CheckpointFileManager.create(dir, conf(local, umask))

  private def freshDir(name: String): Path = {
    val d = Paths.get("target", "ckpt_fm_spec", name).toAbsolutePath
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    new Path(d.toUri)
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def localFile(p: Path) = Paths.get(p.toUri)

  test("Spark's factory returns this manager for the key, its default without it") {
    val dir = freshDir("factory")
    assert(manager(dir, local = true).isInstanceOf[LocalCheckpointFileManager])
    assert(manager(dir, local = false).isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("mkdirs, createAtomic and the rename on close start no process; the default manager does") {
    def run(local: Boolean) = {
      val dir = freshDir(s"forks_$local")
      val fm = manager(dir, local)
      ProcessStarts {
        fm.mkdirs(new Path(dir, "offsets"))
        write(fm, new Path(dir, "offsets/0"), "v1\n{}")
      }._2
    }
    val local = run(local = true)
    assert(local.isEmpty, s"processes started: ${local.map(_.command)}")
    val default = run(local = false)
    assert(default.nonEmpty, "the default manager started no process, so this test pins nothing")
  }

  test("a written file and its .crc sidecar equal the default manager's, and a corrupted byte fails the read") {
    val text = "v1\n{\"nextBatchWatermarkMs\":0}"
    def written(local: Boolean) = {
      val dir = freshDir(s"crc_$local")
      val fm = manager(dir, local)
      val target = new Path(dir, "commits/0")
      fm.mkdirs(target.getParent)
      write(fm, target, text)
      val crc = localFile(new Path(target.getParent, ".0.crc"))
      assert(Files.exists(crc), s"local=$local: no .crc sidecar")
      (fm, target, Files.readAllBytes(localFile(target)).toSeq, Files.readAllBytes(crc).toSeq)
    }
    val (fm, target, data, crc) = written(local = true)
    val (_, _, defaultData, defaultCrc) = written(local = false)
    assert(data == defaultData && crc == defaultCrc)
    assert(read(fm, target) == text)
    val bytes = data.toArray
    bytes(3) = (bytes(3) ^ 0x01).toByte
    Files.write(localFile(target), bytes)
    intercept[ChecksumException](read(fm, target))
  }

  test("an existing target: overwriteIfPossible=false throws FileAlreadyExistsException, true replaces it") {
    Seq(true, false).foreach { local =>
      val dir = freshDir(s"exists_$local")
      val fm = manager(dir, local)
      val target = new Path(dir, "0")
      fm.mkdirs(dir)
      write(fm, target, "first")
      intercept[FileAlreadyExistsException](write(fm, target, "second"))
      assert(read(fm, target) == "first", s"local=$local")
      write(fm, target, "third", overwrite = true)
      assert(read(manager(dir, local = true), target) == "third", s"local=$local")
    }
  }

  test("cancel() leaves neither the target nor a temp file") {
    val dir = freshDir("cancel")
    val fm = manager(dir, local = true)
    fm.mkdirs(dir)
    val out = fm.createAtomic(new Path(dir, "0"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(new Path(dir, "0")))
    val left = Files.list(localFile(dir)).toArray.toSeq
    assert(left.isEmpty, s"left behind: $left")
  }

  test("file and directory permissions equal the default manager's under the same umask") {
    import scala.jdk.CollectionConverters._
    def perms(p: java.nio.file.Path) =
      java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    Seq("022", "077", "027").foreach { umask =>
      def layout(local: Boolean): Seq[(String, String)] = {
        val dir = freshDir(s"perms_${umask}_$local")
        val fm = manager(dir, local, umask)
        fm.mkdirs(new Path(dir, "state/0"))
        write(fm, new Path(dir, "state/0/1.delta"), "delta")
        val root = localFile(dir)
        Files.walk(root).iterator.asScala.toSeq.filter(_ != root)
          .map(p => root.relativize(p).toString -> perms(p)).sorted
      }
      val local = layout(local = true)
      assert(local.map(_._1) == Seq("state", "state/0", "state/0/.1.delta.crc", "state/0/1.delta"))
      assert(local == layout(local = false), s"umask $umask")
    }
  }
}
