package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.TokenCount

/** The native scanner must be EXACTLY regexp_count's answer — the
  * packing/export family's oracle twins still spell the regex, so any
  * divergence is a correctness bug, not a perf trade. Pinned on the
  * real corpus (every document at sf0.01) and on adversarial strings
  * the corpus may not contain: empty, all-whitespace, the full \s set,
  * 2/3/4-byte UTF-8 code points (including a surrogate-pair emoji =
  * ONE match), mixed runs, and boundary punctuation. */
class TokenCountSpec extends GraftSuite {
  import spark.implicits._

  private val Pattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  private def regexCount(s: String): Int = {
    val m = java.util.regex.Pattern.compile(Pattern).matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  test("scanner equals java.util.regex on adversarial strings") {
    val cases = Seq(
      "", " ", " \t\n\f\r ", "abc", "ABC123", "a1b2c3",
      "hello, world!", "--=--", "a  b", "123 456", ".", "..",
      "word", "émigré", "naïve café", "日本語のテキスト", "🚀", "a🚀b",
      "🚀🚀", " ", "tab\tsep", "trailing ", " leading",
      "mixed 日本 and ascii 42!", "", "ΑΒΓ δε ζ",
      "𝕊𝕡𝕒𝕣𝕜", "a­b", "1,234.56", "x" * 5000, ("ab 12 ! " * 500))
    cases.foreach { s =>
      assert(TokenCount.count(UTF8String.fromString(s)) == regexCount(s),
        s"mismatch on ${s.take(40).map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("scanner equals regexp_count over the whole sf0.01 corpus, codegen path") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val diff = docs.select(
        graft.functions.TextFns.bpeTokenCount(col("text")).as("fast"),
        regexp_count(col("text"), lit(Pattern)).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(diff == 0L, s"$diff documents disagree with regexp_count")
  }

  test("null in, null out") {
    val r = spark.range(1)
      .select(graft.functions.TextFns.bpeTokenCount(lit(null).cast("string")).as("n"),
        graft.functions.TextFns.bpeTokenCount(lit("ab 12 !")).as("m"))
      .head
    assert(r.isNullAt(0) && r.getInt(1) == 3)
  }

  test("SQL registration via GraftExtensions") {
    val s2 = SparkTestBase.withExtensions
    val r = s2.sql("SELECT bpe_token_count('ab 12 !') m, " +
      "bpe_token_count(CAST(NULL AS STRING)) n").head
    assert(r.getInt(0) == 3 && r.isNullAt(1))
  }
}
