package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `|distinct(a) ∩ b|` — exactly `size(array_intersect(a, b))`, without
  * materializing the intersection array.
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b)): the built-in
  * `array_intersect` builds the full result array (hash set + buffer +
  * GenericArrayData) only for `size` to throw it away — and it sits in the
  * inner loop of the pairwise Jaccard dedup (hundreds of thousands of
  * candidate pairs × ~100-token arrays). Counting membership needs two hash
  * sets and no allocation of results. Value-identical to the built-in
  * composition for any element type, including null-element handling
  * (null counts once if present in both) — pinned by VectorExpressionsSpec,
  * which keeps the DuckDB oracles valid.
  */
case class ArrayIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if lt == rt && ArrayIntersectSize.supportsElementType(lt) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"array_intersect_size expects two arrays of the same " +
          s"HashSet-equality-safe element type (string/integral/boolean/" +
          s"date/timestamp), got (${l.simpleString}, ${r.simpleString})")
    }

  private lazy val elementType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayIntersectSize.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elemType", elementType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.expressions.ArrayIntersectSize$$.MODULE$$.count($a, $b, $et);"
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_intersect_size"
}

object ArrayIntersectSize {
  /** Element types whose java.util.HashSet equality matches Spark's
    * array_intersect semantics. Deliberately EXCLUDED: float/double
    * (array_intersect treats 0.0 == -0.0 and groups NaNs; boxed equals
    * does not), binary (Array[Byte] has identity equals), and nested
    * struct/array/map types (mixed InternalRow representations don't
    * compare by value in a HashSet).
    */
  def supportsElementType(t: DataType): Boolean = t match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => false // scale-equal values may differ in repr
    case _ => false
  }

  /** Static so generated code can call it directly. */
  def count(a: ArrayData, b: ArrayData, et: DataType): Int = {
    val nb = b.numElements()
    val setB = new java.util.HashSet[Any](Math.max(16, nb * 2))
    var bHasNull = false
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bHasNull = true
      else setB.add(b.get(i, et))
      i += 1
    }
    val na = a.numElements()
    val seen = new java.util.HashSet[Any](Math.max(16, na * 2))
    var aCountedNull = false
    var n = 0
    i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bHasNull && !aCountedNull) { n += 1; aCountedNull = true }
      } else {
        val v = a.get(i, et)
        if (setB.contains(v) && seen.add(v)) n += 1
      }
      i += 1
    }
    n
  }
}
