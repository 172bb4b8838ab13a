package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Rabin–Karp rolling hash over a pre-hashed token array: emits one 64-bit
  * fingerprint per k-token shingle,
  * `H(i) = Σ_{j<k} h(tok_{i+j}) · B^{k−1−j}  (mod 2^64)`,
  * computed rolling — O(n) per document instead of the O(n·k) of re-hashing
  * every shingle (`transform(sequence(...), i -> xxhash64(concat_ws(slice)))`
  * also allocates the shingle string per position). Fewer than k tokens →
  * empty array.
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b)): the rolling
  * recurrence `H(i+1) = (H(i) − h(tok_i)·B^{k−1})·B + h(tok_{i+k})` has no
  * built-in composition that avoids the quadratic term. Null elements hash
  * as 0 (tokens are never null in practice — split() output).
  */
case class RollingShingleHash(child: Expression, k: Int, base: Long = 1000003L)
  extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"rolling_shingle_hash expects array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      RollingShingleHash.hashes(v.asInstanceOf[ArrayData], k, base))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.RollingShingleHash$$.MODULE$$.hashes($arr, $k, ${base}L));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rolling_shingle_hash"
}

object RollingShingleHash {
  /** Static so generated code can call it; returns one hash per window. */
  def hashes(arr: ArrayData, k: Int, base: Long): Array[Long] = {
    val n = arr.numElements()
    if (n < k) return Array.emptyLongArray
    def elem(i: Int): Long = if (arr.isNullAt(i)) 0L else arr.getLong(i)
    // B^(k-1) mod 2^64 for the roll-out term
    var topPow = 1L
    var t = 0
    while (t < k - 1) { topPow *= base; t += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = h * base + elem(i); i += 1 }
    out(0) = h
    i = 1
    while (i <= n - k) {
      h = (h - elem(i - 1) * topPow) * base + elem(i + k - 1)
      out(i) = h
      i += 1
    }
    out
  }
}
