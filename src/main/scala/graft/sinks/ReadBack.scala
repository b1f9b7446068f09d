package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Read back a parquet directory whose writer's schema is known.
  *
  * `spark.read.parquet(dir)` infers the schema with a Spark job that
  * reads the part-file footers. When the caller wrote the directory
  * itself, that job learns nothing, so this reads with the given schema
  * instead. An explicit schema reads a column the files lack as NULL,
  * which would turn a foreign or stale directory into silently wrong
  * rows; so one part-file footer is read on the driver (no Spark job)
  * and the read fails loudly unless its columns and their types are
  * exactly the schema's.
  *
  * The footer helpers below are shared with the other readers that
  * skip the inference job (`Tables`, `MinHashIndex`).
  */
object ReadBack {

  def parquet(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val part = partFiles(spark, new Path(dir), recursive = false).nextOption()
      .getOrElse(throw new IllegalStateException(s"$dir holds no parquet part file"))
    val written = footerSchema(spark, part, footer(spark, part))
    // catalogString leaves nullability out: files read back as nullable.
    def cols(st: StructType) = st.fields.toSeq.map(f => s"${f.name} ${f.dataType.catalogString}")
    val (found, expected) = (cols(written), cols(schema))
    if (found.toSet != expected.toSet)
      throw new IllegalArgumentException(
        s"parquet at $dir has columns [${found.mkString(", ")}], " +
          s"expected [${expected.mkString(", ")}]")
    spark.read.schema(schema).parquet(dir)
  }

  /** The parquet data files at `path`, a file or a directory, in listing
    * order. Hidden and metadata files (`_`/`.` prefix) are skipped, as
    * Spark's file index skips them; `recursive` descends into partition
    * directories (`band=0/`). Listing only, on the driver. */
  def partFiles(spark: SparkSession, path: Path, recursive: Boolean): Iterator[Path] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(st: FileStatus): Iterator[Path] =
      if (!st.isDirectory) Iterator(st.getPath).filter(_.getName.endsWith(".parquet"))
      else fs.listStatus(st.getPath).iterator.filter(visible).flatMap { c =>
        if (c.isDirectory && !recursive) Iterator.empty else walk(c)
      }
    walk(fs.getFileStatus(path))
  }

  /** One file's footer, read on the driver. */
  def footer(spark: SparkSession, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter
    finally reader.close()
  }

  /** The Spark schema of one footer: exactly what schema inference
    * computes from it (Spark's own footer reader and a converter built
    * from the session conf, so `nanosAsLong` and the timestamp-NTZ
    * inference setting apply as they would to `spark.read.parquet`). */
  def footerSchema(spark: SparkSession, file: Path, meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
}
