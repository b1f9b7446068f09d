package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct k-char shingle set of a string as `array<string>` — the
  * native form of
  * `array_distinct(transform(sequence(1, greatest(length(s)-(k-1), 1)),
  * i => substr(s, i, k)))`, the verification-side representation the
  * MinHash near-dup pipeline builds per CANDIDATE document. The
  * composed spelling runs interpreted (higher-order lambda dispatch
  * per element, then a second interpreted `array_distinct` pass) and
  * was the dominant cost of the whole near-dup plan at the 100× tier
  * (~16 s for the corpus, BENCHLOG "q_minhash_neardup verification
  * stack"); this is one static call inside whole-stage codegen.
  *
  * Exact semantics match (DistinctShinglesSpec pins them on the corpus
  * plus adversarial cases): shingle count = max(len−k+1, 1) so a
  * string shorter than k yields itself as its one shingle and the
  * empty string yields [""]; each shingle is SQL `substr(s, i, k)`
  * (truncated at the end); first-occurrence order, exactly
  * `array_distinct`'s. Lengths/positions are CODE POINTS, like SQL
  * substr — an all-ASCII input (every byte here: the inputs are
  * `normalize_text` output) takes a zero-copy byte-slice fast path;
  * any multibyte input falls back to per-position `substringSQL`.
  */
case class DistinctShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"distinct_shingles expects a string, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    DistinctShingles.eval(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.DistinctShingles$$.MODULE$$.eval($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DistinctShingles {

  def eval(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var ascii = true
    var i = 0
    while (ascii && i < n) { if (bytes(i) < 0) ascii = false; i += 1 }
    val set = new java.util.LinkedHashSet[UTF8String]()
    if (ascii) {
      // byte positions == code points: shingles are shared-buffer slices
      val count = math.max(n - k + 1, 1)
      var p = 0
      while (p < count) {
        set.add(UTF8String.fromBytes(bytes, p, math.min(k, n - p)))
        p += 1
      }
    } else {
      val len = s.numChars()
      val count = math.max(len - k + 1, 1)
      var p = 1
      while (p <= count) {
        set.add(s.substringSQL(p, k))
        p += 1
      }
    }
    new GenericArrayData(set.toArray.asInstanceOf[Array[Any]])
  }
}
