package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native unit-normalize of an array<double>: `x / sqrt(Σ xᵢ²)` per
  * element, the norm computed ONCE per row.
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b) — the r18
  * JobProbe finding): the composed form
  * `transform(a, x => x / sqrt(dot(a, a)))` re-evaluates the whole
  * `dot(a, a)` fold INSIDE the per-element lambda — `transform` is a
  * `HigherOrderFunction` (CodegenFallback), so a d-dim vector pays
  * d interpreted d-element folds = O(d²) boxed work per row, at every
  * embeddings scan of every similarity-family query (measured: a 2000-row
  * ×64-dim scan stage spent ~0.45 s in exactly this projection). This node
  * is the O(d) two-pass loop with one sqrt.
  *
  * Bit identity with the composition (pinned in VectorExpressionsSpec):
  * the norm is the SAME sequential left fold [[DotProduct]] runs, the
  * division is the same IEEE op — zero vectors yield the same NaN/±Inf
  * elements, empty arrays stay empty. Null semantics replicate the
  * composition exactly: null array → null row; any null ELEMENT nulls the
  * dot, so every element of the output becomes null (array of nulls of
  * the input's length — what `x / sqrt(null)` evaluates to per element).
  */
case class UnitNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unit_normalize expects array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    UnitNormalize.normalize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""${ev.value} = graft.functions.expressions.UnitNormalize$$.MODULE$$.normalize($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unit_normalize"
}

object UnitNormalize {

  /** Static so generated code can call it. */
  def normalize(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        // composition contract: a null element nulls dot(a, a), and
        // x / sqrt(null) is null for EVERY element
        return new GenericArrayData(new Array[Any](n))
      }
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { acc += arr.getDouble(i) * arr.getDouble(i); i += 1 }
    val norm = math.sqrt(acc)
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = arr.getDouble(i) / norm; i += 1 }
    new GenericArrayData(out)
  }
}
