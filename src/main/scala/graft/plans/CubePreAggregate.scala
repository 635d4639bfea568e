package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Cubert's partitioned-additive CUBE trick as a Catalyst optimizer rule
  * (reference: operator/cube/CubeDimensions ancestor enumeration +
  * ValueAggregatorFactory — CubeOperator aggregates each input row into all
  * 2^n ancestor groups in one pass with bounded memory; SURVEY.md §2.4).
  *
  * Spark plans CUBE/ROLLUP/GROUPING SETS as Expand (one copy of every input
  * row per grouping set) followed by an aggregate — the Expand multiplies
  * |rows| by |grouping sets| before any reduction. This rule inserts a leaf
  * aggregation BELOW the Expand (group by all dimensions, partial-aggregate
  * the measures) and re-aggregates the partials above, so the 2^n multiplier
  * applies to |leaf groups| instead of |rows|. At 100 TB with bounded-
  * cardinality dimensions this is the difference between expanding 10^12
  * rows and expanding 10^5.
  *
  * Fires only when every aggregate is exactly reassociable — COUNT, MIN,
  * MAX, or SUM over integral/decimal types (floating-point SUM is excluded
  * so results stay bit-identical to the unrewritten plan). Disable with
  * `spark.sql.optimizer.excludedRules=graft.plans.CubePreAggregate`.
  */
object CubePreAggregate extends Rule[LogicalPlan] {

  private def isGroupingExpand(e: Expand): Boolean =
    e.output.exists(_.name == "spark_grouping_id")

  private def exactlyReassociable(fn: AggregateFunction): Boolean = fn match {
    case _: Count => true
    case _: Min   => true
    case _: Max   => true
    // decimal excluded: Sum widens decimal precision, so re-summing the
    // partial would change the output type
    case s: Sum => s.child.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupings, aggExprs, expand: Expand, _)
        if isGroupingExpand(expand) && !expand.child.isInstanceOf[Aggregate] =>
      rewrite(agg, expand).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, expand: Expand): Option[LogicalPlan] = {
    val aggFns = agg.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
    // every aggregate must be plain (no DISTINCT/FILTER) and reassociable.
    // aggFns may be EMPTY: column pruning (e.g. under a later count())
    // strips the measures, leaving a keys-only aggregate over the Expand —
    // still rewritable, as a leaf DISTINCT of the dimensions below the
    // Expand (expand-of-distinct == distinct-of-expanded for grouping rows)
    if (!aggFns.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
      exactlyReassociable(ae.aggregateFunction))) return None

    // classify Expand output positions: pass-through (same child attribute
    // in every projection row AND the output keeps that attribute's exprId)
    // vs grouping slots (dim variants, pinned groupings, grouping id —
    // grouping columns always get fresh exprIds in the Expand output, even
    // when pinned in every grouping set)
    val n = expand.output.length
    val passThrough: Seq[Int] = (0 until n).filter { i =>
      expand.projections.head(i) match {
        case a: Attribute => expand.output(i).exprId == a.exprId &&
          expand.projections.forall(_.apply(i) match {
            case b: Attribute => b.exprId == a.exprId
            case _ => false
          })
        case _ => false
      }
    }
    val passThroughAttrs = passThrough.map(i => expand.output(i))

    // aggregate arguments may reference only pass-through columns
    val aggInputRefs = AttributeSet(aggFns.flatMap(_.references))
    if (!aggInputRefs.subsetOf(AttributeSet(passThroughAttrs))) return None

    // leaf grouping keys: child attributes feeding the grouping slots
    // (full cube dims, pinned groupings — the leaf grouping set)
    val leafKeys: Seq[Attribute] = expand.projections.flatMap { row =>
      (0 until n).filterNot(passThrough.contains).map(row(_)).collect { case a: Attribute => a }
    }.distinct
    if (leafKeys.isEmpty) return None

    // everything the final aggregate references outside measure arguments
    // (grouping slots, grouping id) must survive the new Expand — only
    // pass-through positions are dropped/replaced by partials
    val keptAttrSet = AttributeSet((0 until n).filterNot(passThrough.contains)
      .map(expand.output(_)))
    val groupRefs = AttributeSet(agg.groupingExpressions.flatMap(_.references))
    if (!groupRefs.subsetOf(keptAttrSet)) return None

    // build one partial aggregate per distinct AggregateExpression
    val partials: Map[AggregateExpression, NamedExpression] =
      aggFns.distinct.zipWithIndex.map { case (ae, i) =>
        ae -> Alias(ae, s"_graft_partial_$i")()
      }.toMap
    val leafAgg = Aggregate(leafKeys, leafKeys ++ partials.values.toSeq, expand.child)
    val partialAttrs: Map[AggregateExpression, Attribute] =
      partials.map { case (ae, al) => ae -> al.toAttribute }

    // new Expand: pass the partial columns through, keep dim/gid slots
    val keptPositions = (0 until n).filterNot(passThrough.contains)
    val newOutput = partialAttrs.values.toSeq ++ keptPositions.map(expand.output(_))
    val newProjections = expand.projections.map { row =>
      partialAttrs.values.toSeq ++ keptPositions.map(row(_))
    }
    val newExpand = Expand(newProjections, newOutput, leafAgg)

    // final aggregate: COUNT partials roll up with SUM (the reference's
    // combiner COUNT->SUM switch, ShuffleRewriter.java:495-523); SUM/MIN/MAX
    // re-apply over their partials
    val rewritten = agg.aggregateExpressions.map { ne =>
      ne.transform {
        case ae: AggregateExpression =>
          val partial = partialAttrs(aggFns.find(_ == ae).get)
          val fn = ae.aggregateFunction match {
            case _: Count => Sum(partial)
            case _: Min   => Min(partial)
            case _: Max   => Max(partial)
            case _: Sum   => Sum(partial)
          }
          ae.copy(aggregateFunction = fn)
      }.asInstanceOf[NamedExpression]
    }
    Some(Aggregate(agg.groupingExpressions, rewritten, newExpand))
  }
}
