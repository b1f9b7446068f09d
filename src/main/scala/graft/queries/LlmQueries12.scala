package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.{normalizeText, tokens}

/** Twelfth LLM-pipeline batch: Bloom-gated decontamination — the
  * filter-as-data shape the 100 TB pipeline actually runs when the
  * benchmark n-gram set outgrows an exact broadcast.
  */
object LlmQueries12 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** (doc_id, text) → hashed 3-gram stream (the q_decontaminate token
    * pipeline: normalize → whitespace tokens → positional lead-2
    * shingles). */
  private def gramsOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"),
        posexplode(tokens(normalizeText(col("text")))).as(Seq("pos", "tk")))
      .withColumn("t2", lead(col("tk"), 2).over(w))
      .withColumn("ng",
        md5(concat_ws(" ", col("tk"), lead(col("tk"), 1).over(w), col("t2"))))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), col("ng"))
  }

  private def grams(s: SparkSession, dir: String): DataFrame =
    gramsOf(t(s, dir, "documents"))

  /** Bloom-gated benchmark decontamination: build a Bloom filter over
    * the held-out benchmark's 3-gram hashes (distributed partial build,
    * one merged ~1 MB filter), probe every training gram through the
    * native `bloom_contains` expression, and send ONLY the "maybe"
    * survivors to exact verification (semi-join against the true bench
    * set). Bloom false ⇒ definitely absent, so the gate discards the
    * overwhelming clean majority without shuffling it; false positives
    * are killed by the exact join — the final answer is EXACT and
    * independent of fpp, which is why it can be oracled by plain SQL
    * with no bloom at all. This is q_decontaminate's scale path: an
    * exact broadcast of the bench set caps at driver memory, a Bloom
    * filter of the same set is ~10 bits/item at fpp=1%.
    *
    * Sizing is a capacity CONSTANT (2^20 items) rather than a count
    * action: overflow past capacity degrades fpp — more survivors into
    * exact verify, same answer — never correctness. Differentiated from
    * q_decontaminate's parameters (bench slice doc_id%89, threshold ≥2,
    * contaminated docs only) so the two queries' oracles stay distinct. */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // Bench-side artifacts staged once per (session, dir): the tiny
    // distinct bench hash set is checkpointed (one gram pass feeds BOTH
    // the bloom build and the exact-verify semi-join) and the ~1 MB
    // filter bytes live beside it, so repeat invocations pay only the
    // training-side probe — StagedOnce's build-amortization contract,
    // held in-JVM because both artifacts are tiny. The training grams
    // intentionally stay a stream (that side is the 100 TB one).
    val (filterBytes, bench) = graft.operators.StagedOnce(s, s"bloom_bench@$dir",
        owner = "q_bloom_decontaminate", dir = dir) {
      val b = grams(s, dir).filter(col("doc_id") % 89 === 0)
        .select("ng").distinct().localCheckpoint(true)
      val bloom = b.stat.bloomFilter("ng", 1L << 20, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      (bos.toByteArray, b)
    }
    val filterLit = lit(filterBytes)
    grams(s, dir).filter(col("doc_id") % 89 =!= 0)
      .filter(graft.functions.SketchFns.bloomContains(filterLit, col("ng")))
      .join(bench, Seq("ng"), "left_semi")
      .groupBy("doc_id").agg(countDistinct(col("ng")).as("n_overlap"))
      .filter(col("n_overlap") >= 2)
      .orderBy("doc_id")
  }

  val bloomDecontaminateSql: String = """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
  FROM documents),
tok AS (
  SELECT doc_id, u.i - 1 AS pos, u.tk FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(i := i, tk := ts[i]))) AS u
    FROM (SELECT doc_id, string_split(s, ' ') AS ts FROM norm WHERE length(s) > 0) x) y),
g AS (
  SELECT doc_id,
         md5(concat_ws(' ', tk,
                       lead(tk, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                       lead(tk, 2) OVER (PARTITION BY doc_id ORDER BY pos))) AS ng,
         lead(tk, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
  FROM tok),
grams AS (SELECT doc_id, ng FROM g WHERE t2 IS NOT NULL),
bench AS (SELECT DISTINCT ng FROM grams WHERE doc_id % 89 = 0),
train AS (SELECT doc_id, ng FROM grams WHERE doc_id % 89 <> 0)
SELECT doc_id, COUNT(DISTINCT ng) AS n_overlap
FROM train WHERE ng IN (SELECT ng FROM bench)
GROUP BY doc_id
HAVING COUNT(DISTINCT ng) >= 2
ORDER BY doc_id
"""

  /** Asymmetric containment dedup — the sub-document duplication MinHash
    * cannot see: Jaccard of a snippet against its source is tiny (union
    * dominated by the source), but containment |A∩B|/|A| is ~1. Classic
    * case: quoted excerpts, syndicated fragments, boilerplate-wrapped
    * copies. Pipeline: 3-gram shingle postings (distinct per doc) →
    * document-frequency cap (shingles in > 64 docs are boilerplate
    * connectors — dropping them is the same mega-bucket skew discipline
    * as MinHashDedup's maxBucket, and df-capped postings bound the
    * self-join at Σ df² ≤ 64·|postings|) → postings equi-join →
    * per-ordered-pair shared count over the CONTAINED side's shingle
    * count, exact integer micros. Never all-pairs. Sub-documents are
    * PLANTED (60%-prefix slices at doc_id+1000000, the setsimJoin
    * discipline) so the oracle pins asymmetric hits, not just exact
    * dups. */
  def containmentDedup(s: SparkSession, dir: String): DataFrame = {
    // Bounded corpus slice (house precedent: q_setsim_join doc_id<150,
    // q_ngram_jaccard doc_id<100): the operator's cost story is the
    // df-capped postings join, which the slice exercises fully; the
    // slice keeps the all-docs shingle build out of the suite budget.
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 2000)
    val withToks = docs.withColumn("tks", tokens(normalizeText(col("text"))))
    val planted = withToks.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("array_join(slice(tks, 1, greatest(CAST((size(tks)*3) DIV 5 AS INT), 5)), ' ')")
          .as("text"))
    val corpus = docs.unionByName(planted)
    // Stage the per-doc distinct shingle postings ONCE (r19, guide §2.4
    // + the house MinHashDedup/probeNewMulti discipline): Catalyst does
    // not share subplans across self-joins, so unstaged, the tokenize →
    // shingle → distinct pipeline re-ran for every consumer — the plan
    // carried 24 scans of `documents` (plans/r19/
    // q_containment_dedup_before.txt) and re-paid the regex/md5 pass
    // each time. `g` feeds the df-cap aggregate and the join; `kept`
    // feeds sz plus BOTH sides of the pair self-join. Plan-only change:
    // rows are identical, the oracle twin is untouched.
    val g = gramsOf(corpus).distinct().localCheckpoint(true)
    val dfCap = g.groupBy("ng").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select("ng")
    val kept = g.join(dfCap, "ng").localCheckpoint(true)
    val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = kept.as("a")
      .join(kept.as("b"),
        col("a.ng") === col("b.ng") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sz.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .withColumn("cont_micros", expr("(shared * 1000000) DIV sz_a"))
      .filter(col("cont_micros") >= 800000)
      .select("id_a", "id_b", "sz_a", "shared", "cont_micros")
      .orderBy("id_a", "id_b")
  }

  val containmentDedupSql: String = """
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
  FROM documents WHERE doc_id < 2000),
bt AS (SELECT doc_id, string_split(s, ' ') AS ts FROM base WHERE length(s) > 0),
planted AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(ts, 1, greatest((len(ts)*3)//5, 5)), ' ') AS s
  FROM bt WHERE doc_id % 11 = 0),
corpus AS (SELECT doc_id, s FROM base UNION ALL SELECT doc_id, s FROM planted),
ctok AS (SELECT doc_id, string_split(s, ' ') AS ts FROM corpus WHERE length(s) > 0),
tok AS (
  SELECT doc_id, u.i - 1 AS pos, u.tk FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(i := i, tk := ts[i]))) AS u
    FROM ctok) y),
g AS (
  SELECT doc_id,
         md5(concat_ws(' ', tk,
                       lead(tk, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                       lead(tk, 2) OVER (PARTITION BY doc_id ORDER BY pos))) AS ng,
         lead(tk, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
  FROM tok),
grams AS (SELECT DISTINCT doc_id, ng FROM g WHERE t2 IS NOT NULL),
kept AS (
  SELECT doc_id, ng FROM grams
  WHERE ng IN (SELECT ng FROM grams GROUP BY ng HAVING COUNT(*) <= 64)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM kept a JOIN kept b ON a.ng = b.ng AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT s.id_a, s.id_b, z.sz AS sz_a, s.shared,
       (s.shared * 1000000) // z.sz AS cont_micros
FROM shared s JOIN sz z ON z.doc_id = s.id_a
WHERE (s.shared * 1000000) // z.sz >= 800000
ORDER BY id_a, id_b
"""

  /** Hard-negative mining — the contrastive-training data op: for each
    * anchor, the top-5 most-similar vectors carrying a DIFFERENT label
    * (the negatives the loss learns most from; easy negatives teach
    * nothing). Shape: the q_knn_bruteforce exhaustive baseline (8-row
    * anchor broadcast × corpus — allowlisted bounded nested loop) with
    * the label-mismatch gate BELOW the ranking, then the r7 discipline:
    * bounded-heap TopKPerGroup prunes to 5·anchors survivors before the
    * rank window, so no per-anchor full sort exists even though anchors
    * are low-cardinality. At 100 TB the corpus side swaps to the staged
    * IVF probe (q_ann_ivf_persisted) unchanged above this line. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFns.{cosineFast, toDoubleVec}
    import graft.operators.Knn
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("e"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("e").as("qe"))
    val sims = e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"),
        Knn.truncSim(cosineFast(col("qe"), col("e"))).as("sim"))
    val picked = graft.plans.TopKPerGroup.topK(
      sims, Seq(col("qid")), Seq(col("sim").desc, col("vec_id")), k = 5)
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    picked.withColumn("rank", row_number().over(w))
      .orderBy("qid", "rank")
  }

  val hardNegativesSql: String = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, e AS qe FROM e WHERE vec_id < 8),
sims AS (
  SELECT qid, vec_id,
         CAST(floor(list_cosine_similarity(qe, e.e) * 1000000) AS DOUBLE) / 1000000.0 AS sim
  FROM e CROSS JOIN q WHERE e.label <> q.qlabel),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sims)
SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 5 ORDER BY qid, rank
"""

  /** Embedding-corpus QA — the vector-side data-quality gate a 100 TB
    * embedding pipeline runs before indexing: per label, how many
    * vectors are DEGENERATE (all-zero — a failed encoder call) and how
    * many are EXACT DUPLICATES (a stuck upstream batch re-emitting one
    * vector). Both signals are pure element comparisons — no float
    * summation anywhere, so no cross-engine accumulation-order risk.
    * Degenerates and duplicates are PLANTED deterministically (every
    * 50th vector zeroed, every 71st replaced by its predecessor — the
    * setsimJoin planting discipline) so the oracle pins non-trivial
    * counts. One self-join on the shifted id (equi — never all-pairs)
    * + one grouped aggregate with a distinct-vector count. */
  def embeddingQa(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFns.toDoubleVec
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("v"))
    val prev = e.select((col("vec_id") + 1).as("vec_id"), col("v").as("pv"))
    val staged = e.join(prev, Seq("vec_id"), "left")
      .withColumn("v1",
        when(col("vec_id") % 71 === 0 && col("pv").isNotNull, col("pv"))
          .otherwise(col("v")))
      .withColumn("v2",
        when(col("vec_id") % 50 === 0, transform(col("v1"), _ => lit(0.0)))
          .otherwise(col("v1")))
    staged.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(forall(col("v2"), x => x === 0.0), 1L).otherwise(0L))
          .as("n_zero_vec"),
        (count(lit(1)) - countDistinct(col("v2"))).as("n_dup"))
      .orderBy("label")
  }

  val embeddingQaSql: String = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
j AS (
  SELECT e.vec_id, e.label,
         CASE WHEN e.vec_id % 71 = 0 AND p.v IS NOT NULL THEN p.v ELSE e.v END AS v1
  FROM e LEFT JOIN e p ON p.vec_id = e.vec_id - 1),
st AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % 50 = 0 THEN list_transform(v1, x -> 0.0) ELSE v1 END AS v2
  FROM j)
SELECT label, COUNT(*) AS n,
       CAST(SUM(CASE WHEN len(list_filter(v2, x -> x <> 0.0)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vec,
       CAST(COUNT(*) - COUNT(DISTINCT v2) AS BIGINT) AS n_dup
FROM st GROUP BY label ORDER BY label
"""

  // ------------------------------------------------------- registry

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bloom_decontaminate" -> (bloomDecontaminate _),
    "q_containment_dedup" -> (containmentDedup _),
    "q_embedding_qa" -> (embeddingQa _),
    "q_hard_negatives" -> (hardNegatives _))

  def oracles: Map[String, String] = Map(
    "q_bloom_decontaminate" -> bloomDecontaminateSql,
    "q_containment_dedup" -> containmentDedupSql,
    "q_embedding_qa" -> embeddingQaSql,
    "q_hard_negatives" -> hardNegativesSql)
}
