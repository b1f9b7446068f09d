package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All pure Catalyst expressions (codegen'd, no UDFs) so they run inside
  * whole-stage codegen over billions of documents; every function is
  * deterministic and reproducible in ANSI SQL for oracle checking.
  */
object TextFns {

  /** Whitespace tokens; empty/blank text → empty array (not `[""]`). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token estimate: runs of letters, runs of digits, or single
    * non-alnum symbols — a cheap proxy for subword tokenizer counts.
    * Native single-pass scan ([[graft.plans.TokenCount]]); equal to
    * `regexp_count(c, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")` (the DuckDB
    * oracle twins still spell the regex; TokenCountSpec pins the
    * equivalence) without the per-row regex automaton. */
  def bpeTokenCount(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.TokenCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** Canonical fingerprint: lowercase, collapse non-alphanumerics, md5.
    * The normalized-text twin of C9's composite-key hash, applied to
    * document bodies for exact-after-normalization dedup. Native
    * single-pass scan ([[graft.plans.NormalizeText]]); equal to
    * `trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))` — the DuckDB
    * oracle twins still spell the regex, NormalizeTextSpec sweeps
    * every Unicode code point to pin the equivalence. */
  def normalizeText(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.NormalizeText(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** Small public stopword sets per language for the n-gram heuristic
    * language ID. Counts of whole-word matches, lowercased input. */
  val StopwordPatterns: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|und|das|ist|nicht|mit|ein|zu|den)\\b",
    "en" -> "\\b(the|and|of|to|in|is|that|for|it|was)\\b",
    "es" -> "\\b(el|los|las|de|que|y|en|un|una|por)\\b",
    "fr" -> "\\b(le|la|les|et|des|est|une|que|dans|pour)\\b")

  /** CJK codepoint detector (any match ⇒ strong zh signal). */
  val CjkPattern: String = "[一-鿿]"

  def stopwordScore(c: Column, pattern: String): Column =
    regexp_count(lower(c), lit(pattern))

  /** Heuristic language ID: argmax of per-language evidence with a
    * deterministic tie order (alphabetical, 'und' when no evidence).
    * CJK presence dominates (character-level evidence beats stopwords). */
  def langId(c: Column): Column = {
    val cjk = regexp_count(c, lit(CjkPattern))
    val scores = StopwordPatterns.map { case (l, p) => l -> stopwordScore(c, p) }
    val maxScore = greatest(scores.map(_._2): _*)
    // alphabetical preference on ties: first lang reaching the max wins
    val byStopwords = coalesce(
      scores.map { case (l, sc) =>
        when(maxScore > 0 && sc === maxScore, lit(l))
      } :+ lit("und"): _*)
    when(cjk > 0, lit("zh")).otherwise(byStopwords)
  }

  /** Quality signals + a composite score in [0, ~1]: rewards stopword
    * density and mid-length docs, punishes symbol soup. */
  def punctRatio(c: Column): Column =
    regexp_count(c, lit("[^\\w\\s]")).cast("double") / greatest(length(c), lit(1)).cast("double")

  def stopwordRatio(c: Column): Column =
    stopwordScore(c, StopwordPatterns.toMap.apply("en")).cast("double") /
      greatest(tokenCount(c), lit(1)).cast("double")

  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 500.0, lit(1.0))
    val sw = least(stopwordRatio(c) * 4.0, lit(1.0))
    lenScore * 0.3 + sw * 0.5 + (lit(1.0) - least(punctRatio(c) * 5.0, lit(1.0))) * 0.2
  }

  /** PII patterns kept RE2-safe (no lookaround/backreferences) so the
    * same pattern string runs under Java regex here and RE2 in the
    * DuckDB oracle. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^\\s]+"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Scrub emails, then URLs, then phone numbers (email first so the
    * URL pattern never swallows a mailto-looking tail; phone last so a
    * URL's digit runs are already gone). Pure codegen'd regexp_replace
    * chain — one projection pass over the corpus, no UDF. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>"),
      PhonePattern, "<PHONE>")
}
