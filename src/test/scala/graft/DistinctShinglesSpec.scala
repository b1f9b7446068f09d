package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.DistinctShingles

/** The native shingle-set build must be EXACTLY the composed
  * `array_distinct(transform(sequence(1, greatest(len-(k-1),1)),
  * i => substr(s, i, k)))` — elements AND first-occurrence order —
  * because the DuckDB oracle twins still spell the comprehension form
  * and JaccardSimilaritySpec's semantics are pinned on distinct arrays.
  * Pinned on the real corpus (every normalized document at sf0.01,
  * codegen path) and on adversarial strings: empty, shorter-than-k,
  * exactly-k, duplicate shingles, all-same-char, and multibyte UTF-8
  * (code-point positions, not bytes). */
class DistinctShinglesSpec extends GraftSuite {

  private def composed(c: org.apache.spark.sql.Column, k: Int) = {
    array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (k - 1), lit(1))),
      i => c.substr(i, lit(k))))
  }

  private def native(c: org.apache.spark.sql.Column, k: Int) = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DistinctShingles(ColumnBridge.expression(c), k))
  }

  test("eval equals the composed spelling on adversarial strings") {
    val cases = Seq(
      "", "a", "ab", "abcdefgh", "abcdefghi", "abcdefghij",
      "aaaaaaaaaaaaaaa", "abcabcabcabcabc", "a b c d e f g h i j",
      "0123456789", " leading and trailing ",
      "émigré naïve café, 日本語テキスト!", "🚀🚀🚀🚀🚀🚀🚀🚀🚀🚀",
      "x" * 300, ("abc " * 80))
    for (s <- cases; k <- Seq(1, 2, 9)) {
      val expected = {
        val len = s.codePointCount(0, s.length)
        val count = math.max(len - k + 1, 1)
        val cps = s.codePoints().toArray
        (1 to count).map { i =>
          new String(cps, i - 1, math.min(k, math.max(len - (i - 1), 0)))
        }.distinct
      }
      val got = DistinctShingles.eval(UTF8String.fromString(s), k)
      val gotSeq = (0 until got.numElements()).map(got.getUTF8String(_).toString)
      assert(gotSeq == expected,
        s"k=$k mismatch on ${s.take(30)}: got $gotSeq expected $expected")
    }
  }

  test("equals the composed spelling over the whole sf0.01 corpus, codegen path") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val norm = substring(graft.functions.TextFns.normalizeText(col("text")), 1, 200)
    val diff = docs.select(
        native(norm, 9).as("fast"), composed(norm, 9).as("slow"))
      .filter(not(col("fast") <=> col("slow")))
      .count()
    assert(diff == 0L, s"$diff documents disagree with the composed spelling")
  }

  test("null in, null out; empty yields the single empty shingle") {
    val r = spark.range(1)
      .select(native(lit(null).cast("string"), 9).as("a"),
        native(lit(""), 9).as("b"))
      .head
    assert(r.isNullAt(0))
    assert(r.getSeq[String](1) == Seq(""))
  }

  test("SQL registration via GraftExtensions") {
    val s2 = SparkTestBase.withExtensions
    val got = s2.sql("SELECT distinct_shingles('abcdefghij', 9) AS sh")
      .collect()(0).getSeq[String](0)
    assert(got == Seq("abcdefghi", "bcdefghij"))
  }
}
