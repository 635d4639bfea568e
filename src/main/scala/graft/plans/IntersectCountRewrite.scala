package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.expressions.{ShingleHashSet, SortedIntersectCount}

/** Rewrite `size(array_intersect(a, b))` to the allocation-free merge-count
  * kernel ([[graft.functions.expressions.SortedIntersectCount]]) when both
  * operands are PROVABLY sorted-ascending and duplicate-free long arrays —
  * i.e. literally `sort_array(array_distinct(...))` /
  * `sort_array(graft_shingle_set(...))` trees (ShingleHashSet emits
  * distinct values by construction). `array_intersect` hashes one side and
  * materializes the intersection array just so `size` can measure it; the
  * merge walk produces the identical count with zero allocation — the
  * difference is ~2.7× on the set-similarity verification hot path, and
  * with this rule a plain-SQL user writing the declarative form gets the
  * kernel automatically.
  *
  * The duplicate-freedom requirement is semantic, not cosmetic:
  * `array_intersect` dedups its output, so on inputs WITH duplicates its
  * size differs from a pairwise merge count ([1,1] ∩ [1,1] → size 1, merge
  * count 2). Hence the conservative structural proof. Disable with
  * `spark.sql.optimizer.excludedRules=graft.plans.IntersectCountRewrite`.
  */
object IntersectCountRewrite extends Rule[LogicalPlan] {

  private def longArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private def distinctByConstruction(e: Expression): Boolean = e match {
    case _: ShingleHashSet => true
    case _: ArrayDistinct  => true
    case a: Alias          => distinctByConstruction(a.child)
    case _ => false
  }

  /** Sorted ascending AND duplicate-free, provable from the tree alone. */
  private def sortedDistinct(e: Expression): Boolean = e match {
    case SortArray(inner, Literal(true, _)) => distinctByConstruction(inner)
    case a: Alias => sortedDistinct(a.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), _)
          if longArray(a) && longArray(b) && sortedDistinct(a) && sortedDistinct(b) =>
        SortedIntersectCount(a, b)
    }
}
