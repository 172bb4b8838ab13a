package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.ArrayType
import graft.functions.expressions.ArrayIntersectSize

/** Catalyst optimizer rule (SURVEY.md §7.4 ladder, the `Rule[LogicalPlan]`
  * rung): users who write the natural `size(array_intersect(a, b))` get the
  * allocation-free counting expression automatically — the built-in
  * materializes the intersection array only for `size` to discard it.
  *
  * Rewrite fires only for `legacySizeOfNull = false` (the default):
  * under the legacy flag `size(null)` is -1 while the counting expression
  * is null-propagating, so legacy plans are left untouched. It also fires
  * only for element types whose HashSet equality matches the built-in
  * (string/integral/boolean/date/timestamp — NOT float/double, binary, or
  * nested types, where java equality diverges from array_intersect's:
  * 0.0 vs -0.0, identity-equals byte arrays, mixed row representations).
  *
  * Installed via GraftExtensions (builder path) or
  * [[GraftOptimizations.install]] on a live session
  * (`spark.experimental.extraOptimizations`).
  */
object IntersectSizeRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ai @ ArrayIntersect(a, b), false)
          if (ai.dataType match {
            case ArrayType(et, _) => ArrayIntersectSize.supportsElementType(et)
            case _ => false
          }) => ArrayIntersectSize(a, b)
    }
}

/** Prefixes `levenshtein(a, b) <= k` predicates (in Filter and Join
  * conditions) with the free triangle-inequality guard
  * `abs(length(a) - length(b)) <= k`: edit distance is bounded below by
  * the length difference, so the guard rejects length-mismatched pairs
  * for the cost of two lengths instead of an O(|a|·|b|) DP table — the
  * classic cheap-filter-before-expensive-predicate rewrite a blocked
  * edit-distance dedup ([[graft.ops.DedupOps.dedupEditDistance]]) wants.
  *
  * Value-preserving including nulls: the guard is null exactly when the
  * distance is null (same operands), so `And(guard, cmp)` agrees with
  * `cmp` in every context. Idempotence: a comparison whose surrounding
  * condition already contains a semantically-equal guard is left alone
  * (the rule may run to fixed point). Only `threshold`-less Levenshtein
  * against an integer literal is rewritten — the 3-arg form already
  * early-exits internally.
  */
object LevenshteinPrefilter extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Abs, And, Expression,
    GreaterThan, GreaterThanOrEqual, Length, LessThan, LessThanOrEqual,
    Levenshtein, Literal, Subtract}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
  import org.apache.spark.sql.types.IntegerType

  private def guardFor(cmp: Expression): Option[Expression] = cmp match {
    case LessThanOrEqual(Levenshtein(l, r, None), k: Literal)
        if k.dataType == IntegerType =>
      Some(LessThanOrEqual(Abs(Subtract(Length(l), Length(r)), failOnError = false), k))
    case LessThan(Levenshtein(l, r, None), k: Literal)
        if k.dataType == IntegerType =>
      Some(LessThan(Abs(Subtract(Length(l), Length(r)), failOnError = false), k))
    case GreaterThanOrEqual(k: Literal, Levenshtein(l, r, None))
        if k.dataType == IntegerType =>
      Some(GreaterThanOrEqual(k, Abs(Subtract(Length(l), Length(r)), failOnError = false)))
    case GreaterThan(k: Literal, Levenshtein(l, r, None))
        if k.dataType == IntegerType =>
      Some(GreaterThan(k, Abs(Subtract(Length(l), Length(r)), failOnError = false)))
    case _ => None
  }

  // idempotence is POSITIONAL — an `And(guard, cmp)` pair is treated as a
  // unit and skipped in place, so a guarded copy in one disjunct cannot
  // suppress the rewrite of an unguarded copy elsewhere in the condition
  // (a semantic-equality set over the whole condition did exactly that —
  // ADVICE r4). The comparison is a leaf for our purposes (no nested
  // Levenshtein inside it), so returning the pair unchanged is safe.
  private def rewrite(cond: Expression): Expression = cond match {
    case a @ And(g, c) if guardFor(c).exists(_.semanticEquals(g)) => a
    case cmp if guardFor(cmp).isDefined => And(guardFor(cmp).get, cmp)
    case other => other.mapChildren(rewrite)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val newCond = rewrite(cond)
      if (newCond fastEquals cond) f else f.copy(condition = newCond)
    case j @ Join(_, _, _, Some(cond), _) =>
      val newCond = rewrite(cond)
      if (newCond fastEquals cond) j else j.copy(condition = Some(newCond))
  }
}

object GraftOptimizations {
  /** The AQE coalescing floor [[install]] sets (see there). */
  private val MinPartitionSize = "16k"

  val rules: Seq[Rule[LogicalPlan]] = Seq(IntersectSizeRewrite, LevenshteinPrefilter)
  def install(spark: SparkSession): Unit = {
    rules.foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
    }
    // the whole-operator rung (§7.4 case c): the planner strategy for the
    // native AsOfJoin logical node
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    // AQE partition-coalescing floor (r18 JobProbe finding): the
    // coalescer models post-shuffle cost by BYTES, but this engine's
    // intermediates are id-tuples (candidate pairs, band buckets, edge
    // lists) whose downstream cost is per-row compute — array dots, set
    // merges, window ranks over exploded candidates. Under the default
    // 1 MB minPartitionSize a sub-MB shuffle coalesces to ONE partition
    // and the heaviest stage of the knn/hnsw family runs on one core
    // (measured: knn_delete_repair 6.1 s → 2.8 s at a 16 KB floor on
    // local[32]). At cluster scale real shuffles dwarf the floor and the
    // setting never binds, so it is safe to default low; applied only
    // when the user has not set it in their SparkConf.
    val mpsKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    // RuntimeConfig.getOption surfaces the BUILT-IN default for SQL confs,
    // so "user set it" is detectable only from the startup SparkConf
    if (!spark.sparkContext.getConf.contains(mpsKey))
      spark.conf.set(mpsKey, MinPartitionSize)
  }
}
