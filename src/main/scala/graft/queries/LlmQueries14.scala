package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.{normalizeText, tokens}
import graft.operators.{StagedOnce, SuffixArray}

/** Fourteenth LLM-pipeline batch: exact substring-level dedup via a
  * DISTRIBUTED SUFFIX ARRAY (prefix doubling) — the Lee et al. ACL'22
  * exact-substring machinery, re-expressed as ⌈log2 L⌉ rounds of
  * equi-join + range-bucketed ranking instead of a single-node SA
  * build. Complements the hash-window family (q_substr_dedup fixed-L
  * fingerprints, q_minhash_neardup approximate Jaccard): the SA ranks
  * are collision-free exact equality at EVERY power-of-two span length
  * at once.
  */
object LlmQueries14 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  private def docTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(normalizeText(col("text"))).as("toks"))

  /** One doubling pass serves both full-corpus consumers: the
    * repeated-span profile and the span cut share these level frames
    * (same (session, dir) → same staged checkpoints), so the log-round
    * build runs once and each query pays only its own probe — the
    * DedupStage pattern, with the build cost attributed in the bench's
    * build_s report. The count() forces the whole round chain NOW so
    * the build is billed here, not to whichever query runs first. */
  private def stagedLevels(s: SparkSession, dir: String): Vector[(Int, DataFrame)] =
    StagedOnce(s, s"sa_levels:$dir", owner = "q_repeated_spans+q_span_cut", dir = dir) {
      val lv = SuffixArray.levelRanks(
        docTokens(s, dir).filter(size(col("toks")) > 0), 4)
      lv.last._2.count()
      lv
    }

  /** The suffix array itself, verified against the definition: global
    * lexicographic rank of every suffix of a 60-document slice, checked
    * against the oracle's direct ORDER BY on the materialized suffix
    * STRINGS. Joining tokens with a separator that sorts below the
    * [a-z0-9] alphabet makes string order coincide with tokenwise
    * order, so the two spellings must agree rank-for-rank. Doubling
    * depth is ⌈log2 maxlen⌉ (driver-known from one bounded agg), after
    * which equal ranks mean IDENTICAL full suffixes — the planted
    * duplicate docs — broken deterministically by (doc_id, pos), same
    * as the oracle's ORDER BY. Only the top 30 ranks are emitted, via a
    * rank filter, not a LIMIT sort. */
  def suffixArray(s: SparkSession, dir: String): DataFrame = {
    val docs = docTokens(s, dir)
      .filter(col("doc_id") < 60 && size(col("toks")) > 0)
    // Null-safe: an empty slice (non-bench corpus) yields a null max;
    // treat it as length 1 rather than NPE-ing on getInt.
    val maxLen = Option(docs.agg(max(size(col("toks")))).head().get(0))
      .fold(1)(_.asInstanceOf[Int])
    val levels = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, maxLen - 1)))
    // Only the FINAL order is needed here, so jump the first rounds:
    // base ranks come from one direct ranking of the 2^(levels-4)-gram
    // window strings, leaving four doubling rounds regardless of
    // document length. suffixOrder's last round IS the suffix array —
    // its pair row-number carries the (doc_id, pos) tiebreak already.
    val sa = SuffixArray.suffixOrder(docs, levels,
        baseLevel = math.max(0, levels - 4))
      .filter(col("sa_rank") <= 30)
    sa.join(docs, Seq("doc_id"))
      .select(col("sa_rank"), col("doc_id"), (col("pos") + 1).as("pos"),
        array_join(slice(col("toks"), col("pos") + 1, lit(5)), " ").as("head"))
      .orderBy("sa_rank")
  }

  val suffixArraySql: String = """
WITH base AS (
  SELECT doc_id, string_split(s, ' ') AS toks
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        FROM documents WHERE doc_id < 60)
  WHERE length(s) > 0),
suf AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i:], ' ') AS sfx,
         array_to_string(toks[i:i+4], ' ') AS head
  FROM base, unnest(range(1, len(toks) + 1)) u(i)),
r AS (SELECT row_number() OVER (ORDER BY sfx, doc_id, pos) AS sa_rank,
             doc_id, pos, head
      FROM suf)
SELECT sa_rank, doc_id, pos, head FROM r WHERE sa_rank <= 30 ORDER BY sa_rank
"""

  /** Exact repeated-span profile over the WHOLE corpus — the dedup
    * decision statistic of Lee et al.'s ExactSubstr: for each document,
    * the longest span (power-of-two lengths 1..16) that appears
    * verbatim in at least one OTHER document, and the keep verdict
    * (drop docs sharing a full 16-token span). One doubling pass
    * yields all five span lengths: a position's level-k rank is a
    * collision-free fingerprint of its 2^k-token window (positions
    * with fewer than 2^k tokens remaining are excluded per level, so
    * sentinel-padded ranks never alias a real window), and a span is
    * duplicated iff its rank is held by ≥ 2 distinct documents — a
    * groupBy on the rank, never a pairwise comparison. */
  def repeatedSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = docTokens(s, dir)
    val lv = stagedLevels(s, dir)
    // One melted pass over all five levels instead of five separate
    // groupBy/join chains: each position contributes a (span, rank)
    // row per level it has a FULL window for, one groupBy finds the
    // cross-doc duplicated (span, rank) keys, one join marks them.
    // Each level frame reads its own round's staged result once.
    val melted = lv.map { case (k, frame) =>
        val span = 1L << k
        frame.filter(col("pos") + span <= col("dlen"))
          .select(col("doc_id"), lit(span).as("len"), col("rank").as("r"))
      }.reduce(_ unionByName _)
    val dup = melted.groupBy("len", "r")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("len", "r")
    val longest = melted.join(dup, Seq("len", "r"))
      .groupBy("doc_id").agg(max(col("len")).as("longest_dup"))
    docs.select("doc_id").join(longest, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("longest_dup"), lit(0L)).as("longest_dup"))
      .withColumn("keep", col("longest_dup") < 16)
      .orderBy("doc_id")
  }

  val repeatedSpansSql: String = """
WITH base AS (
  SELECT doc_id, CASE WHEN length(s) > 0 THEN string_split(s, ' ') ELSE [] END AS toks
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        FROM documents)),
lv AS (
  SELECT ls.L, b.doc_id, array_to_string(b.toks[u.i:u.i + ls.L - 1], ' ') AS g
  FROM base b, (VALUES (1),(2),(4),(8),(16)) ls(L),
       unnest(range(1, len(b.toks) - ls.L + 2)) u(i)
  WHERE len(b.toks) >= ls.L),
dup AS (SELECT L, g FROM lv GROUP BY L, g HAVING count(DISTINCT doc_id) >= 2),
per AS (SELECT lv.doc_id, max(lv.L) AS longest FROM lv JOIN dup USING (L, g)
        GROUP BY lv.doc_id)
SELECT b.doc_id, CAST(coalesce(p.longest, 0) AS BIGINT) AS longest_dup,
       coalesce(p.longest, 0) < 16 AS keep
FROM base b LEFT JOIN per p ON b.doc_id = p.doc_id
ORDER BY b.doc_id
"""

  /** The dedup ACTION the profile feeds — Lee et al.'s ExactSubstr
    * removes the duplicated spans themselves, not whole documents: for
    * each document, count the tokens covered by ANY cross-doc-verbatim
    * 16-token span (union of overlapping [p, p+15] windows whose
    * level-4 rank is shared by ≥ 2 docs) and what survives the cut.
    * Coverage is an explode of each duplicated start into its 16
    * positions + DISTINCT — bounded by 16 × duplicated-start count,
    * never corpus × corpus. Shares [[stagedLevels]]' one doubling
    * build with q_repeated_spans. */
  def spanCut(s: SparkSession, dir: String): DataFrame = {
    val docs = docTokens(s, dir)
    val lv4 = stagedLevels(s, dir).toMap.apply(4)
    val starts = lv4.filter(col("pos") + 16 <= col("dlen"))
      .select(col("doc_id"), col("pos"), col("rank"))
    val dup = starts.groupBy("rank")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("rank")
    val cut = starts.join(dup, Seq("rank"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 15)).as("cp"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_cut"))
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(cut, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"))
      .withColumn("n_kept", col("n_tokens") - col("n_cut"))
      .orderBy("doc_id")
  }

  val spanCutSql: String = """
WITH base AS (
  SELECT doc_id, CASE WHEN length(s) > 0 THEN string_split(s, ' ') ELSE [] END AS toks
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        FROM documents)),
st AS (
  SELECT b.doc_id, u.i AS p, array_to_string(b.toks[u.i:u.i+15], ' ') AS g
  FROM base b, unnest(range(1, len(b.toks) - 14)) u(i)
  WHERE len(b.toks) >= 16),
dup AS (SELECT g FROM st GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
cov AS (SELECT DISTINCT s.doc_id, c.cp
        FROM st s JOIN dup USING (g), unnest(range(s.p, s.p + 16)) c(cp)),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cut FROM cov GROUP BY doc_id)
SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
       coalesce(p.n_cut, 0) AS n_cut,
       CAST(len(b.toks) AS BIGINT) - coalesce(p.n_cut, 0) AS n_kept
FROM base b LEFT JOIN per p ON b.doc_id = p.doc_id ORDER BY b.doc_id
"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_suffix_array" -> (suffixArray _),
    "q_repeated_spans" -> (repeatedSpans _),
    "q_span_cut" -> (spanCut _))

  val oracles: Map[String, String] = Map(
    "q_suffix_array" -> suffixArraySql,
    "q_repeated_spans" -> repeatedSpansSql,
    "q_span_cut" -> spanCutSql)
}
