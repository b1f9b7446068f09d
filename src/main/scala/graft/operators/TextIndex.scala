package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.ParquetWrite

/** Persisted inverted text index — the lexical member of the staged-index
  * trio ([[IvfIndex]] vectors, [[MinHashIndex]] dedup): BM25 serving
  * without re-tokenizing the corpus per query.
  *
  *  - `build` tokenizes once and stages three tables: per-(doc, term)
  *    frequencies PARTITIONED BY a 256-way md5-prefix bucket of the term
  *    (partitioning by raw term would mint a directory per vocabulary
  *    word — the classic small-files failure; the bucket keeps directory
  *    count fixed while still letting a query's terms name the only
  *    buckets worth reading), per-doc lengths, and the singleton corpus
  *    stats row.
  *  - `probe` reads ONLY the staged tables: the query's term buckets
  *    prune the postings scan at PLAN time, the ≤|q| term list and the
  *    1-row stats broadcast, and the BM25 arithmetic is identical to the
  *    in-query pipeline (integer micro-units; Robertson–Spärck Jones
  *    idf) — so the inline query's oracle is this probe's oracle too.
  *
  * At 100 TB: build is one tokenize + one (doc, term) aggregation;
  * probes touch |q|/256 of the postings by directory pruning, join
  * nothing bigger than the doc-length table, and never see corpus text.
  */
object TextIndex {

  /** 2-hex-char md5 bucket of a term — 256 fixed directories. */
  def termBucket(c: Column): Column = substring(md5(c), 1, 2)

  /** Tokenize once, stage postings/doclen/stats under `dir`. `toks` must
    * be the engine's canonical token array for `docs` (house:
    * `tokens(normalizeText(text))`). */
  def build(docs: DataFrame, idCol: String, toks: Column, dir: String): Unit = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"), toks.as("__toks"))
    // A zero-token doc is not in the index (explode semantics: it has no
    // postings and must not count toward n_docs/avgdl) — size()+filter
    // reproduces that without the corpus-wide explode→shuffle.
    val dl = base.select(col("doc_id"), size(col("__toks")).cast("long").as("dl"))
      .filter(col("dl") > 0)
    ParquetWrite(dl.write.mode("overwrite"), s"$dir/doclen")
    ParquetWrite(dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .write.mode("overwrite"), s"$dir/stats")
    ParquetWrite(base.select(col("doc_id"), explode(col("__toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(col("tok")))
      .write.mode("overwrite").partitionBy("bucket"), s"$dir/postings")
  }

  /** BM25 top-k for one bag of query terms, served from the staged
    * index. k1 = 1.2, b = 0.75 in integer micro-units — the exact
    * arithmetic of the inline q_bm25 pipeline. */
  def probe(spark: SparkSession, dir: String, terms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val qt = terms.toDF("tok")
    val buckets = terms.map { t =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      f"${d(0) & 0xff}%02x" // first hex byte = the 2-char directory key
    }
    val posting = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets.distinct: _*)) // partition-pruned
      .join(broadcast(qt), "tok")
    val dfq = posting.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val dl = spark.read.parquet(s"$dir/doclen")
    val stats = spark.read.parquet(s"$dir/stats")
    posting
      .join(broadcast(dfq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl_micro", expr("sum_dl * 1000000 div n_docs"))
      .withColumn("idf_micro",
        floor(log((col("n_docs").cast("double") - col("df").cast("double") + 0.5)
          / (col("df").cast("double") + 0.5) + 1.0) * 1e6).cast("long"))
      .withColumn("sc_micro",
        floor((col("idf_micro").cast("double") / 1e6)
          * (col("tf").cast("double") * 2.2)
          / (col("tf").cast("double")
            + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") * 1e6
              / col("avgdl_micro").cast("double")))
          * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("sc_micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }
}
