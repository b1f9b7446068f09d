package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
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
  */
object ReadBack {

  def parquet(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val part = path.getFileSystem(conf).listStatus(path).iterator
      .map(_.getPath)
      .find { p =>
        val n = p.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .getOrElse(throw new IllegalStateException(s"$dir holds no parquet part file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    val written =
      try new ParquetToSparkSchemaConverter(SQLConf.get)
        .convert(reader.getFooter.getFileMetaData.getSchema)
      finally reader.close()
    // catalogString leaves nullability out: files read back as nullable.
    def cols(st: StructType) = st.fields.toSeq.map(f => s"${f.name} ${f.dataType.catalogString}")
    val (found, expected) = (cols(written), cols(schema))
    if (found.toSet != expected.toSet)
      throw new IllegalArgumentException(
        s"parquet at $dir has columns [${found.mkString(", ")}], " +
          s"expected [${expected.mkString(", ")}]")
    spark.read.schema(schema).parquet(dir)
  }
}
