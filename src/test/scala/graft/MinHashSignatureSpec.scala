package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.MinHashDedup

/** The native per-document signature expression must be EXACTLY the
  * explode→md5-basis→min-aggregate spelling it replaced (r14): the
  * DuckDB oracle twins still spell the relational form, so every
  * signature component must match bit-for-bit. Pinned on the real
  * corpus (all documents at sf0.01, codegen path) and on adversarial
  * strings; plus the single-evaluation plan pin (the two-step
  * projection must NOT collapse into nHashes evaluations) and the
  * null-text row-drop parity. */
class MinHashSignatureSpec extends GraftSuite {

  /** The pre-r14 relational spelling, kept verbatim as the reference. */
  private def relationalSignatures(docs: DataFrame, idCol: String, textNorm: Column,
                                   k: Int = 9, maxChars: Int = 200,
                                   nHashes: Int = 16): DataFrame = {
    val params = MinHashDedup.hashParams(nHashes)
    val basis = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.Md5PrefixLong(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("__sh")), 8))
    val sh = MinHashDedup.shingleRows(docs, idCol, textNorm, k, maxChars)
      .select(col(idCol), (basis % MinHashDedup.P).as("__x"))
    val aggs = params.zipWithIndex.map { case ((a, b), j) =>
      min((col("__x") * a + b) % MinHashDedup.P).as(s"mh$j")
    }
    sh.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  private def diffCount(docs: DataFrame, textNorm: Column,
                        k: Int, maxChars: Int, nHashes: Int): Long = {
    val fast = MinHashDedup.signatures(docs, "doc_id", textNorm, k, maxChars, nHashes)
    val slow = relationalSignatures(docs, "doc_id", textNorm, k, maxChars, nHashes)
    val cols = (0 until nHashes).map(j => s"mh$j")
    fast.join(slow, Seq("doc_id"), "full_outer")
      .filter(not(cols.map(c => fast(c) <=> slow(c)).reduce(_ && _)))
      .count()
  }

  test("equals the relational spelling on adversarial strings") {
    import spark.implicits._
    val cases = Seq(
      "", "a", "ab", "abcdefgh", "abcdefghi", "abcdefghij",
      "aaaaaaaaaaaaaaa", "abcabcabcabcabc", "a b c d e f g h i j",
      "0123456789", " leading and trailing ",
      "émigré naïve café, 日本語テキスト!", "🚀🚀🚀🚀🚀🚀🚀🚀🚀🚀",
      "x" * 300, ("abc " * 80))
    val docs = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    for ((k, maxChars, nHashes) <- Seq((9, 200, 16), (2, 50, 4), (1, 10, 1))) {
      val d = diffCount(docs, col("text"), k, maxChars, nHashes)
      assert(d == 0L, s"k=$k maxChars=$maxChars nHashes=$nHashes: $d docs disagree")
    }
  }

  test("equals the relational spelling over the whole sf0.01 corpus, codegen path") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val norm = graft.functions.TextFns.normalizeText(col("text"))
    assert(diffCount(docs, norm, 9, 200, 16) == 0L)
  }

  test("the expression evaluates ONCE per row (projection does not collapse)") {
    // parquet-backed input: a local literal relation would constant-fold
    // the whole projection away and hide a collapse regression
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val sig = MinHashDedup.signatures(docs, "doc_id", col("text"))
    val plan = sig.queryExecution.optimizedPlan.toString
    val evals = "minhash_signature".r.findAllIn(plan).size
    assert(evals == 1, s"expected 1 minhash_signature in the optimized plan, got $evals:\n$plan")
  }

  test("null text drops the row (explode parity)") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghij"), (2L, null)).toDF("doc_id", "text")
    val ids = MinHashDedup.signatures(docs, "doc_id", col("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L))
  }

  test("SQL registration via GraftExtensions") {
    val s2 = SparkTestBase.withExtensions
    val got = s2.sql("SELECT minhash_signature('abcdefghij', 9, 4) AS sig")
      .collect()(0).getSeq[Long](0)
    val params = MinHashDedup.hashParams(4)
    val xs = Seq("abcdefghi", "bcdefghij").map { sh =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sh.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % MinHashDedup.P
    }
    val expected = params.map { case (a, b) =>
      xs.map(x => (x * a + b) % MinHashDedup.P).min
    }
    assert(got == expected)
  }
}
