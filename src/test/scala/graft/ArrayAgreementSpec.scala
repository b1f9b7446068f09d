package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns.normalizeText
import graft.operators.MinHashDedup

/** The packed-signature agreement expression must be EXACTLY the
  * 16-term CASE WHEN sum over unpacked slot columns it replaced (r15):
  * q_lsh_precision's DuckDB twin still spells the column-wise form, so
  * every candidate pair's n_match must agree. Pinned on the real sf0.01
  * candidate pairs (codegen path), on edge shapes (nulls, length
  * mismatch), and at the SQL registration, including the sub-arity
  * analysis error (ADVICE r14: builders used to throw
  * IndexOutOfBoundsException on too few args).
  */
class ArrayAgreementSpec extends GraftSuite {
  import spark.implicits._

  test("equals the column-wise CASE WHEN sum on sf0.01 candidate pairs") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val norm = normalizeText(col("text"))
    val sigA = MinHashDedup.signaturesArr(docs, "doc_id", norm).localCheckpoint(true)
    val sig = MinHashDedup.unpackSignature(sigA, "doc_id")
    val pairs = MinHashDedup.candidatePairs(sig, "doc_id").localCheckpoint(true)
    assert(pairs.count() > 0, "testdata plants near-dups; no candidates means a broken fixture")
    val packed = pairs
      .join(sigA.toDF("id_a", "sig_a"), "id_a")
      .join(sigA.toDF("id_b", "sig_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        MinHashDedup.signatureAgreement(col("sig_a"), col("sig_b")).as("n"))
    val colwise = pairs
      .join(sig.as("a"), col("id_a") === col("a.doc_id"))
      .join(sig.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"),
        (0 until 16).map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1).otherwise(0))
          .reduce(_ + _).as("n"))
    val diff = packed.join(colwise, Seq("id_a", "id_b"), "full_outer")
      .filter(not(packed("n") <=> colwise("n")))
      .count()
    assert(diff == 0L, s"$diff candidate pairs disagree with the column-wise spelling")
  }

  test("nulls and length mismatch") {
    val rows = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L), Some(2)),   // two agreeing slots
      (Seq(1L, 2L), Seq(1L, 2L, 3L), Some(2)),       // extra slots never agree
      (Seq[Long](), Seq(1L), Some(0)),
      (null, Seq(1L), None),                         // null array -> null
      (Seq(1L), null, None))
    val df = rows.toDF("a", "b", "want")
    val got = df.select(
        MinHashDedup.signatureAgreement(col("a"), col("b")).as("n"), col("want"))
      .collect()
    got.foreach { r =>
      val n = if (r.isNullAt(0)) None else Some(r.getInt(0))
      val want = if (r.isNullAt(1)) None else Some(r.getInt(1))
      assert(n == want, s"got $n want $want")
    }
    // null ELEMENTS never agree (needs a nullable-element array type,
    // which toDF on Seq[Long] does not produce)
    val nullElem = array(lit(1L), lit(null).cast("long"))
    val withNullElems = spark.range(1)
      .select(MinHashDedup.signatureAgreement(nullElem, nullElem).as("n"))
    assert(withNullElems.collect()(0).getInt(0) == 1)
  }

  test("SQL registration, type check, and sub-arity analysis errors") {
    val s2 = SparkTestBase.withExtensions
    val n = s2.sql(
      "SELECT array_agreement(array(CAST(5 AS BIGINT), CAST(7 AS BIGINT))," +
        " array(CAST(5 AS BIGINT), CAST(8 AS BIGINT))) AS n")
      .collect()(0).getInt(0)
    assert(n == 1)
    // wrong element type is an analysis-time type check, not a crash
    val eType = intercept[org.apache.spark.sql.AnalysisException] {
      s2.sql("SELECT array_agreement(array('x'), array('x'))").collect()
    }
    assert(eType.getMessage.contains("array<bigint>"))
    // sub-arity calls raise WRONG_NUM_ARGS, never IndexOutOfBounds
    // (ADVICE r14 named minhash_signature; the guard covers every
    // injected function)
    for (q <- Seq(
        "SELECT array_agreement(array(CAST(1 AS BIGINT)))",
        "SELECT minhash_signature('abc')",
        "SELECT minhash_signature('abc', 9)",
        "SELECT md5_prefix_long('abc')",
        "SELECT cosine_sim(array(1.0))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { s2.sql(q).collect() }
      assert(e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"),
        s"$q: got ${e.getCondition}: ${e.getMessage}")
    }
  }
}
