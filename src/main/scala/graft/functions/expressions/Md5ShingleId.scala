package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 60-bit md5 shingle identifiers in ONE pass over a token array:
  * `id[i] = first 15 hex chars of md5(tokens[i..i+k-1] joined by ' ')` as a
  * BIGINT — bit-identical to the built-in composition
  * `conv(substring(md5(array_join(slice(tokens, i, k), ' ')), 1, 15), 16, 10)`
  * (pinned in VectorExpressionsSpec) and to DuckDB's
  * `('0x' || substr(md5(array_to_string(tokens[i:i+k-1], ' ')), 1, 15))::BIGINT`
  * — the ENGINE-INDEPENDENT shingle id the oracle-backed MinHash family
  * rides on.
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b)): the built-in
  * chain allocates per window — a sliced array, a joined UTF8String, a hex
  * string, a decimal string from `conv`, and a cast — which measured ~10×
  * the whole query's budget at sf0.1. This node runs the digest over the
  * token bytes directly (one MessageDigest reused across windows, zero
  * intermediate strings) and stays a narrow map.
  */
case class Md5ShingleId(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_shingle_id expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Md5ShingleId.ids(v.asInstanceOf[ArrayData], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.Md5ShingleId$$.MODULE$$.ids($arr, $k));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_shingle_id"
}

object Md5ShingleId {
  /** Static so generated code can call it. n < k → empty array (no full
    * window). Null tokens digest as empty strings (split never emits null,
    * so this is defensive only).
    */
  def ids(arr: ArrayData, k: Int): Array[Long] = {
    val n = arr.numElements()
    if (n < k) return Array.emptyLongArray
    val toks = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      toks(t) =
        if (arr.isNullAt(t)) Array.emptyByteArray
        else arr.getUTF8String(t).getBytes
      t += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      md.reset()
      var j = i
      while (j < i + k) {
        md.update(toks(j))
        if (j < i + k - 1) md.update(' '.toByte)
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      // first 15 hex chars = the top 60 bits; >>> drops the 16th nibble
      out(i) = v >>> 4
      i += 1
    }
    out
  }
}
