package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.types.{StructField, TimestampType}

class TablesSpec extends GraftSuite {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  /** A copy of the landed tables at a dir no session has loaded yet
    * (`Tables` memoizes per session and dir). */
  private def freshCopy(sf: String): String = {
    val target = Paths.get("target").toAbsolutePath
    Files.createDirectories(target)
    val dir = Files.createTempDirectory(target, "tables_spec_")
    Tables.names.foreach(t => Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  test("footer-read schema equals schema inference plus the ts fix") {
    for (sf <- sfs; t <- Tables.names) {
      val loaded = Tables(spark, sf, t).schema
      val inferred = spark.read.parquet(s"$sf/$t.parquet").schema
      val expected = inferred.copy(fields = inferred.fields.map {
        case f @ StructField("ts", _, _, _) if t == "events" => f.copy(dataType = TimestampType)
        case f => f
      })
      assert(loaded == expected, s"$sf/$t")
    }
  }

  test("Tables.apply on a fresh dir starts no Spark job") {
    val dir = freshCopy(sfs.head)
    val (_, jobs) = JobsStarted(spark) { Tables.names.foreach(Tables(spark, dir, _)) }
    assert(jobs.isEmpty, s"jobs: $jobs")
  }

  test("fan-out decision per landed table: pinned, and as the planned split count gave it") {
    // local[4]: the floor is 2 and every landed file is one row group,
    // so exactly the fact tables fan out.
    assert(spark.sparkContext.defaultParallelism == 4)
    val facts = Set("orders", "lineitem", "events", "documents", "embeddings")
    for (sf <- sfs; t <- Tables.names) {
      val fansOut = Tables(spark, sf, t).queryExecution.logical.isInstanceOf[RepartitionByExpression]
      assert(fansOut == facts(t), s"$sf/$t")
      // the planning probe this decision replaces
      val splits = spark.read.parquet(s"$sf/$t.parquet").rdd.getNumPartitions
      assert(fansOut == (facts(t) && splits < 2), s"$sf/$t: $splits splits")
    }
    // At local[32] (floor 16) a one-row-group fact table fans out; row
    // groups stop being counted once the floor is reached.
    var footersRead = 0
    assert(!Tables.fansOut("lineitem", 32, Iterator.continually { footersRead += 1; 8 }))
    assert(footersRead == 2)
    assert(Tables.fansOut("lineitem", 32, Iterator(1)))
    assert(!Tables.fansOut("nation", 32, Iterator(1)))
    assert(!Tables.fansOut("lineitem", 2, Iterator(1)))
  }
}
