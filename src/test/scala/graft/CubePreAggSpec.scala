package graft

import org.apache.spark.sql.functions._

/** CubePreAggregate: the rewrite fires for reassociable aggregates, leaves
  * float sums untouched, and never changes results (checked against the
  * unrewritten plan on data that includes NULL dimension values).
  */
class CubePreAggSpec extends SparkSpec {
  import spark.implicits._

  /** `f` planned without the rule, through Spark's own switch. */
  private def withoutRule[A](f: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.CubePreAggregate")
    try f
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def data = Seq(("a", "x", 1L, 1.5), ("a", "y", 2L, 2.5), ("b", "x", 3L, 3.5),
    (null, "x", 4L, 4.5), ("a", null, 5L, 5.5)).toDF("d1", "d2", "m", "f")

  test("rule fires for count/min/max/integral-sum and preserves results incl NULL dims") {
    def cubed = data.cube(col("d1"), col("d2"))
      .agg(sum("m").as("sm"), count(lit(1)).as("n"), min("f").as("mn"), max("f").as("mx"))
    val optimized = cubed.queryExecution.optimizedPlan.treeString
    assert(optimized.contains("Expand"))
    // leaf aggregate inserted below the Expand
    assert("(?s)Expand.*Aggregate.*Relation".r.findFirstIn(optimized).isDefined,
      s"expected Aggregate below Expand in:\n$optimized")
    val baseline = withoutRule {
      val plan = cubed.queryExecution.optimizedPlan.treeString
      assert("(?s)Expand.*Aggregate.*Relation".r.findFirstIn(plan).isEmpty,
        s"excluded rule still fired:\n$plan")
      cubed.collect().map(_.toSeq).toSet
    }
    assert(cubed.collect().map(_.toSeq).toSet == baseline)
  }

  test("rule does not fire for float sums or distinct aggregates") {
    val floatSum = data.cube(col("d1")).agg(sum("f").as("sf"))
    assert(!"(?s)Expand.*Aggregate.*Relation".r
      .findFirstIn(floatSum.queryExecution.optimizedPlan.treeString).isDefined)
    val dist = data.cube(col("d1")).agg(count_distinct(col("m")).as("nd"))
    // distinct plans its own expand machinery; assert the exact results
    // (null d1 appears twice — as the NULL group and the grand total — so
    // collect the multiset of (key, nd) rows rather than a map)
    val got = dist.collect().map(r => Option(r.get(0)) -> r.getLong(1)).toSet
    assert(got == Set(Some("a") -> 3L, Some("b") -> 1L, None -> 1L, None -> 5L),
      s"unexpected cube count_distinct rows: $got")
    assert(dist.count() == 4) // a, b, null, total
  }

  test("keys-only aggregate over Expand (count() pruning) is pre-aggregated and exact") {
    // count() prunes the measures, leaving Aggregate(keys-only, Expand):
    // the rule must still insert the leaf distinct below the Expand
    val cubed = data.cube(col("d1"), col("d2")).agg(sum("m").as("sm"))
    val countPlan = cubed.select(count(lit(1)))
      .queryExecution.optimizedPlan.treeString
    val n = cubed.count()
    val base = withoutRule(cubed.count())
    assert(n == base, s"keys-only preagg changed the cube row count: $n != $base")
    // the leaf aggregate sits below the Expand in the pruned plan
    assert("(?s)Expand.*Aggregate.*Relation".r.findFirstIn(countPlan).isDefined,
      s"expected leaf Aggregate below Expand in pruned plan:\n$countPlan")
  }

  test("rollup and grouping-id queries match under the rule") {
    def ru = data.rollup(col("d1"), col("d2")).agg(count(lit(1)).as("n"), sum("m").as("sm"))
    val base = withoutRule(ru.collect().map(_.toSeq).toSet)
    assert(ru.collect().map(_.toSeq).toSet == base)
  }
}
