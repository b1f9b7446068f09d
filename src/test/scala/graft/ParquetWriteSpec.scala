package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fs.NoForkLocalFileSystem
import graft.functions.TextFns.normalizeText
import graft.operators.MinHashIndex
import graft.streaming.StreamingIngest

/** Engine parquet writes (`sinks.ParquetWrite`) against the JVM's
  * default local file system writing the same frame: no process
  * started, and the same part-file bytes, `.crc` sidecars, `_SUCCESS`
  * and permissions. The reference write names no file-system class but
  * disables the `file:` cache, so that it, like the engine's write,
  * reads the umask from the job's conf; the JVM-cached instance would
  * keep the umask it was created with. */
class ParquetWriteSpec extends GraftSuite {
  import spark.implicits._

  private val uncachedDefault = Map("fs.file.impl.disable.cache" -> "true")

  private def freshDir(name: String): String = {
    val d = Paths.get("target", "parquet_write_spec", name).toAbsolutePath
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    d.toString
  }

  /** Every file and directory under `dir` (and `dir` itself as "."),
    * with the write job's UUID taken out of the names: its permissions
    * and, for a file, its bytes. */
  private def layout(dir: String): Map[String, (String, Seq[Byte])] = {
    val root = Paths.get(dir)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    Files.walk(root).iterator.asScala.map { p =>
      val rel = if (p == root) "." else uuid.replaceAllIn(root.relativize(p).toString, "UUID")
      val perms = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      rel -> (perms, if (Files.isDirectory(p)) Nil else Files.readAllBytes(p).toSeq)
    }.toMap
  }

  private def withUmask[T](umask: String)(body: => T): T = {
    val key = "fs.permissions.umask-mode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, umask)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Writes `frame` with the JVM's default local file system, uncached;
    * returns the directory after checking the write started processes,
    * so the engine side's zero is not vacuous. */
  private def referenceWrite(frame: DataFrame, name: String, partitionBy: Seq[String] = Nil): String = {
    val dir = freshDir(name)
    val (_, processes) = ProcessStarts {
      frame.write.options(uncachedDefault).partitionBy(partitionBy: _*).parquet(dir)
    }
    assert(processes.nonEmpty, "the default write started no process, so this test pins nothing")
    dir
  }

  private def assertSameLayout(engine: String, reference: String): Unit = {
    val (got, want) = (layout(engine), layout(reference))
    assert(got.keySet == want.keySet)
    assert(got.keySet.exists(_.endsWith(".parquet.crc")) && got.keySet.exists(_.endsWith("_SUCCESS")))
    got.keys.toSeq.sorted.foreach { k =>
      assert(got(k)._1 == want(k)._1, s"permissions of $k")
      assert(got(k)._2 == want(k)._2, s"bytes of $k")
    }
  }

  /** The JVM's `file:` file system: Hadoop's `LocalFileSystem` or the
    * subclass the classpath registers for the scheme (Hive's
    * `ProxyLocalFileSystem` with Spark's jars), never the engine's. */
  private def jvmFileSystems(): Seq[Class[_]] =
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .map(c => FileSystem.get(URI.create("file:///"), c).getClass)

  private def assertJvmFileSystemUntouched[T](body: => T): T = {
    val before = jvmFileSystems()
    assert(before.forall(c => classOf[LocalFileSystem].isAssignableFrom(c) &&
      c != classOf[NoForkLocalFileSystem]), s"before: $before")
    val result = body
    assert(jvmFileSystems() == before)
    result
  }

  Seq("022", "077").foreach { umask =>
    test(s"upsertBatch writes start no process and equal a default write (umask $umask)") {
      withUmask(umask)(assertJvmFileSystemUntouched {
        val batch = spark.range(600).select(col("id").as("ticket"),
          (col("id") % 7).cast("string").as("status"), concat(lit("g"), col("id")).as("gpt"))
        val dir = freshDir(s"upsert_$umask") + "/target"
        val (_, processes) = ProcessStarts {
          StreamingIngest.upsertBatch(batch, dir, Seq("ticket"), Seq("status"), Seq("gpt"))
        }
        assert(processes.isEmpty, s"processes started: ${processes.map(_.command)}")
        assertSameLayout(dir, referenceWrite(batch, s"upsert_ref_$umask"))
        // the merge path (read back, merge, write aside, swap) starts none either
        val update = Seq((5L, "closed", "x"), (600L, "new", "y")).toDF("ticket", "status", "gpt")
        val (_, merging) = ProcessStarts {
          StreamingIngest.upsertBatch(update, dir, Seq("ticket"), Seq("status"), Seq("gpt"))
        }
        assert(merging.isEmpty, s"processes started: ${merging.map(_.command)}")
        val out = spark.read.parquet(dir)
        assert(out.count() == 601)
        assert(out.filter(col("ticket") === 5).as[(Long, String, String)].collect().toSeq ==
          Seq((5L, "closed", "g5")))
      })
    }

    test(s"a MinHashIndex layer write starts no process and equals a default write (umask $umask)") {
      withUmask(umask)(assertJvmFileSystemUntouched {
        val docs = spark.range(300).select(col("id").as("doc_id"),
          concat(lit("shared words for every doc "), (col("id") % 23).cast("string")).as("text"))
        val norm = normalizeText(col("text"))
        val dir = freshDir(s"lsh_$umask")
        val (_, processes) = ProcessStarts(MinHashIndex.build(docs, "doc_id", norm, dir))
        assert(processes.isEmpty, s"processes started: ${processes.map(_.command)}")
        val rows = MinHashIndex.bucketRows(docs, "doc_id", norm, nHashes = 16, bands = 4)
        assertSameLayout(s"$dir/buckets", referenceWrite(rows, s"lsh_ref_$umask", Seq("band")))
      })
    }
  }
}
