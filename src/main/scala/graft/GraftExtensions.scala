package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import graft.functions.{RefFunctions, VectorFunctions}

/** SQL-callable registration of the engine's scalar surface (SURVEY.md §7.4
  * "optional polish"): each function is the SAME Column-combinator used by
  * the DataFrame API — built-ins composed under a name, so SQL callers get
  * codegen/vectorization identically. No UDFs anywhere.
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   spark.sql("SELECT sanitize_sql(text) FROM docs")
  *
  * Also installable on a live session via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => IntersectSizeRewrite)
    e.injectOptimizerRule(_ => LevenshteinPrefilter)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach { case (name, arity, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == arity,
            s"$name expects $arity argument(s), got ${exprs.length}")
          builder(exprs)
        }))
    }
  }
}

object GraftExtensions {

  private def c(e: Expression) = column(e)

  /** (name, arity, builder) for every registered function. */
  val functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("sanitize_sql", 1,
      es => expression(RefFunctions.sanitizeSql(c(es.head)))),
    ("excel_serial_to_sql", 1,
      es => expression(RefFunctions.excelSerialToSql(c(es.head)))),
    ("scrub_ref", 1,
      es => expression(RefFunctions.scrubRef(c(es.head)))),
    ("bracket_quote", 1,
      es => expression(RefFunctions.bracketQuote(c(es.head)))),
    ("cosine_sim", 2,
      es => expression(VectorFunctions.cosineSim(
        VectorFunctions.toDoubleArray(c(es.head)),
        VectorFunctions.toDoubleArray(c(es(1)))))),
    ("dot_product", 2,
      es => graft.functions.expressions.DotProduct(
        expression(VectorFunctions.toDoubleArray(c(es.head))),
        expression(VectorFunctions.toDoubleArray(c(es(1)))))),
    ("squared_distance", 2,
      es => graft.functions.expressions.SquaredDistance(
        expression(VectorFunctions.toDoubleArray(c(es.head))),
        expression(VectorFunctions.toDoubleArray(c(es(1)))))),
    ("simhash64", 1,
      es => graft.functions.expressions.SimHash64(es.head)),
    ("intersect_size", 2,
      es => graft.functions.expressions.ArrayIntersectSize(es.head, es(1))),
    ("minhash_signature", 2,
      es => graft.functions.expressions.MinHashSignature(
        es.head, litInt(es(1), "minhash_signature"))),
    ("rolling_shingle_hash", 2,
      es => graft.functions.expressions.RollingShingleHash(
        es.head, litInt(es(1), "rolling_shingle_hash"))),
    ("sign_lsh_buckets", 3,
      es => graft.functions.expressions.SignLshBuckets(
        expression(VectorFunctions.toDoubleArray(c(es.head))),
        litInt(es(1), "sign_lsh_buckets"), litInt(es(2), "sign_lsh_buckets"))),
    ("char_entropy", 1,
      es => graft.functions.expressions.CharEntropy(es.head)))

  /** Structural parameters (hash count, banding) must be literals — they
    * shape the expression tree itself, not per-row data.
    */
  private def litInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn expects a literal integer parameter")
    e.eval() match {
      case i: Int => i
      case l: Long =>
        require(l.isValidInt,
          s"$fn integer parameter out of range: $l") // silent .toInt would
        l.toInt                                      // wrap to wrong banding
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal integer parameter, got $other")
    }
  }

  /** Register on an existing session (tests, spark-shell). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, arity, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name,
        (exprs: Seq[Expression]) => {
          require(exprs.length == arity,
            s"$name expects $arity argument(s), got ${exprs.length}")
          builder(exprs)
        },
        "internal") // composition of built-ins, codegen'd like one
    }
}
