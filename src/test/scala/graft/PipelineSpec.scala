package graft

import org.apache.spark.sql.functions._

import graft.pipelines.CsvJob

/** Pipeline-level behavior + smoke over the sf0.001 fixtures. */
class PipelineSpec extends GraftSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("C6 gate: file missing a required column is rejected") {
    val df = Seq(("1", "EURUSD")).toDF("Ticket", "Symbol")
    assert(CsvJob.passesGate(df, Seq("Ticket", "Symbol")))
    assert(!CsvJob.passesGate(df, Seq("Ticket", "Symbol", "Close time")))
  }

  test("CsvJob.clean: renames, coerces, placeholders, dedups") {
    val raw = Seq(
      ("gs://b/p/acct_1.csv", "11", "EURUSD", "1.5", "2024-01-02 03:04:05", 1),
      ("gs://b/p/acct_1.csv", "11", "EURUSD", "9.9", "2024-01-02 03:04:05", 2), // dup key, later order
      ("gs://b/p/acct_1.csv", "12", "GBPUSD", "bad", "2024-01-02 03:04:05", 3))
      .toDF("__path", "Ticket", "Symbol", "Lots", "Close time", "__ord")
    val out = CsvJob.clean(raw, "__path", Seq(col("__ord")),
      renames = Map("Ticket" -> "ticket", "Symbol" -> "symbol",
        "Lots" -> "lots", "Close time" -> "timestamp"),
      numericCols = Seq("lots"), gptCols = Seq("gpt_summary"))
    val rows = out.orderBy("ticket")
      .select("account_id", "ticket", "lots", "timestamp", "gpt_summary")
      .as[(String, Long, Option[Double], String, Option[String])].collect()
    assert(rows.length == 2)
    assert(rows(0) == (("acct_1", 11L, Some(1.5), "2024-01-02T03:04:05", None))) // kept FIRST
    assert(rows(1)._3.isEmpty) // "bad" coerced to null
    assert(out.columns.contains("row_hash"))
  }

  test("C12 per-record isolation: malformed CSV line nulls, file survives") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_c12")
    java.nio.file.Files.writeString(dir.resolve("acct_9.csv"),
      "preamble title line\nTicket,Lots\n1,2.5\n\"unclosed,quote\n3,4.5\n")
    val schema = StructType(Seq(StructField("Ticket", StringType),
      StructField("Lots", StringType)))
    val out = graft.sources.SkipRowsCsv
      .read(spark, dir.toString + "/*.csv", schema)
      .orderBy("_src_offset")
      .select("Ticket").as[Option[String]].collect()
    assert(out.length == 3)            // malformed row kept as a row...
    assert(out(0).contains("1") && out(2).contains("4.5") == false)
    assert(out(2).contains("3"))       // ...and later rows still parse
  }

  test("entry smoke: flagship query yields rows on sf0.001 (t1 parity)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all registered queries run and return rows on sf0.001") {
    // Similarity mining legitimately finds nothing in the tiny sample.
    val mayBeEmpty = Set("q_doc_fingerprint_clusters", "q_minhash_neardup",
      "q_ngram_jaccard", "q_embedding_neardup")
    val counts = SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf).count()
    }
    val empty = counts.filter { case (n, c) => c == 0 && !mayBeEmpty(n) }
    assert(empty.isEmpty, s"empty results: ${empty.keys.mkString(", ")}")
  }
}
