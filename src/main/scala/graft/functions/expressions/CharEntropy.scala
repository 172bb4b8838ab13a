package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy (bits/char) of a string's code-point distribution — the
  * classic cheap "is this natural text or keyboard mash / repeated filler"
  * quality signal (low entropy ⇒ repetitive or degenerate content).
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b)): the built-in
  * composition explodes one row PER CHARACTER and pays two keyed shuffles
  * (char-count, then per-doc entropy fold) — at 100 TB that is a shuffle of
  * the entire corpus' characters for a statistic that is a narrow per-row
  * loop. This node keeps it map-side; codegen delegates to [[CharEntropy
  * .compute]] (a plain static call, so the surrounding stage stays in
  * whole-stage codegen).
  *
  * Determinism: per-string accumulation order is fixed (insertion-ordered
  * map), so results are bit-stable across runs/partitions; cross-engine
  * comparison rounds (the oracle sums in SQL-aggregate order, which can
  * differ in the last ulp).
  *
  * Null semantics: null string → null; empty string → 0.0.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_entropy expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    CharEntropy.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.expressions.CharEntropy$$.MODULE$$.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_entropy"
}

object CharEntropy {
  private val Log2 = Math.log(2.0)

  /** Static helper shared by interpreted eval and generated code. */
  def compute(s: UTF8String): Double = {
    val counts = new java.util.LinkedHashMap[Integer, Array[Int]]()
    val it = s.toString.codePoints().iterator()
    var n = 0
    while (it.hasNext) {
      val cp = Integer.valueOf(it.nextInt())
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1)) else slot(0) += 1
      n += 1
    }
    if (n == 0) return 0.0
    var h = 0.0
    val vs = counts.values().iterator()
    while (vs.hasNext) {
      val p = vs.next()(0).toDouble / n
      h -= p * (Math.log(p) / Log2)
    }
    h
  }
}
