package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Per-element xxhash64 over a string array in ONE codegen'd pass —
  * bit-identical to the built-in composition
  * `transform(arr, t => xxhash64(t))` (pinned in VectorExpressionsSpec),
  * which the dedup/text family used to pre-hash token and char arrays for
  * [[RollingShingleHash]] / [[MinHashSignature]].
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b)): `transform`
  * is a HigherOrderFunction — CodegenFallback, so the lambda runs
  * INTERPRETED per element, with a boxed `Long` and a lambda-variable
  * binding per element; on the per-CHAR call sites (dedup_span_remove,
  * duplicate_spans: one element per character of the document) that was
  * the dominant CPU of the whole query (r19 JobProbe: 18.5 task-seconds
  * in one stage at sf0.1). This node calls the same XXH64 kernel
  * ([[XxHash64Function]], seed 42 — Spark's `xxhash64` default) straight
  * off each element's UTF8 bytes.
  *
  * Null elements hash to the seed (42L) exactly as the composed form does
  * (a hash expression over a null input leaves the seed unchanged).
  */
case class XxHash64Elements(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"xxhash64_elements expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(XxHash64Elements.hashes(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      // through the module instance, not the companion's static
      // forwarder, which Scala omits if the case class ever gains a
      // member of the same name
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.XxHash64Elements$$.MODULE$$.hashes($arr));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "xxhash64_elements"
}

object XxHash64Elements {
  /** Spark's `xxhash64` default seed. */
  val Seed = 42L

  /** The kernel; generated code calls it through `MODULE$`. */
  def hashes(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) Seed
        else XxHash64Function.hash(
          arr.getUTF8String(i), StringType, Seed)
      i += 1
    }
    out
  }
}
