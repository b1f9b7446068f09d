package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.SketchFns
import graft.plans.{CmsEstimate, CosineSimilarity, JaccardSimilarity}

/** Session extension point: installs the engine's custom Catalyst
  * functions, planner strategy and plan rules at session build time —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions` — so SQL-only users get
  * them without touching the Scala API. (Runtime registration for an
  * already-built session: `VectorFns.register`.)
  *
  * Every builder validates its argument count up front (r15): an
  * unguarded `exprs(i)` surfaces a sub-arity call as an
  * IndexOutOfBoundsException — an internal error — instead of the
  * WRONG_NUM_ARGS analysis error the SQL user should see.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Fixed-arity guard (variadic signatures call
    * [[SketchFns.requireArity]] directly with a range predicate). */
  private def arity(fn: String, exprs: Seq[Expression], n: Int): Unit =
    SketchFns.requireArity(fn, exprs, _ == n, n.toString)

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        arity("cosine_sim", exprs, 2)
        CosineSimilarity(exprs(0), exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSimilarity].getName, "jaccard_sim"),
      (exprs: Seq[Expression]) => {
        arity("jaccard_sim", exprs, 2)
        JaccardSimilarity(exprs(0), exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("array_agreement"),
      new ExpressionInfo(classOf[graft.plans.ArrayAgreement].getName, "array_agreement"),
      (exprs: Seq[Expression]) => {
        arity("array_agreement", exprs, 2)
        graft.plans.ArrayAgreement(exprs(0), exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (exprs: Seq[Expression]) => {
        arity("cms_estimate", exprs, 2)
        CmsEstimate(exprs(0), exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[graft.plans.BloomContains].getName, "bloom_contains"),
      (exprs: Seq[Expression]) => {
        arity("bloom_contains", exprs, 2)
        graft.plans.BloomContains(exprs(0), exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[graft.plans.TokenCount].getName, "bpe_token_count"),
      (exprs: Seq[Expression]) => {
        arity("bpe_token_count", exprs, 1)
        graft.plans.TokenCount(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[graft.plans.NormalizeText].getName, "normalize_text"),
      (exprs: Seq[Expression]) => {
        arity("normalize_text", exprs, 1)
        graft.plans.NormalizeText(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("md5_prefix_long"),
      new ExpressionInfo(classOf[graft.plans.Md5PrefixLong].getName, "md5_prefix_long"),
      (exprs: Seq[Expression]) => {
        SketchFns.requireArity("md5_prefix_long", exprs,
          n => n == 2 || n == 3, "2 or 3")
        graft.plans.Md5PrefixLong(exprs(0),
          SketchFns.literalIntArg("md5_prefix_long", "hexChars", exprs(1)),
          if (exprs.length > 2)
            SketchFns.literalIntArg("md5_prefix_long", "startHex", exprs(2))
          else 1)
      }))
    e.injectFunction((
      new FunctionIdentifier("distinct_shingles"),
      new ExpressionInfo(classOf[graft.plans.DistinctShingles].getName, "distinct_shingles"),
      (exprs: Seq[Expression]) => {
        arity("distinct_shingles", exprs, 2)
        graft.plans.DistinctShingles(exprs(0),
          SketchFns.literalIntArg("distinct_shingles", "k", exprs(1)))
      }))
    e.injectFunction((
      new FunctionIdentifier("hex_prefix_long"),
      new ExpressionInfo(classOf[graft.plans.HexPrefixLong].getName, "hex_prefix_long"),
      (exprs: Seq[Expression]) => {
        arity("hex_prefix_long", exprs, 2)
        graft.plans.HexPrefixLong(exprs(0),
          SketchFns.literalIntArg("hex_prefix_long", "hexChars", exprs(1)))
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[graft.plans.MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[Expression]) => {
        arity("minhash_signature", exprs, 3)
        graft.plans.MinHashSignature(exprs(0),
          SketchFns.literalIntArg("minhash_signature", "k", exprs(1)),
          SketchFns.literalIntArg("minhash_signature", "nHashes", exprs(2)))
      }))
    e.injectFunction((
      new FunctionIdentifier("mg_summary"),
      new ExpressionInfo(classOf[graft.plans.MisraGriesAgg].getName, "mg_summary"),
      (exprs: Seq[Expression]) => {
        arity("mg_summary", exprs, 2)
        graft.plans.MisraGriesAgg(exprs(0),
          SketchFns.literalIntArg("mg_summary", "k", exprs(1)))
          .toAggregateExpression()
      }))
    e.injectPlannerStrategy(_ => new graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinLengthGuard)
    e.injectQueryStagePrepRule(graft.plans.SmallSort(_))
  }
}
