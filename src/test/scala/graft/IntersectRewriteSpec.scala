package graft

import org.apache.spark.sql.functions._

/** The size(array_intersect) → SortedIntersectCount optimizer rule:
  * fires exactly on provably sorted-distinct long arrays, never changes
  * answers, and stays off for shapes whose semantics would differ.
  */
class IntersectRewriteSpec extends SparkSpec {
  import spark.implicits._

  // repartition keeps the plan out of LocalRelation constant folding so
  // the optimized plan actually shows the expression tree
  private val df = Seq(
    (Seq(3L, 1L, 2L, 2L), Seq(2L, 3L, 9L)),
    (Seq(5L, 5L), Seq(5L, 5L)),
    (Seq.empty[Long], Seq(1L))).toDF("a", "b").repartition(1)

  test("rewrites the declarative sorted-distinct form to the merge-count kernel") {
    val q = df.select(
      size(array_intersect(sort_array(array_distinct(col("a"))),
        sort_array(array_distinct(col("b"))))).as("n"))
    val opt = q.queryExecution.optimizedPlan.toString.toLowerCase
    assert(opt.contains("sortedintersectcount"), s"rule did not fire:\n$opt")
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(2, 1, 0))
  }

  test("answers equal the unrewritten form (rule disabled)") {
    val expr = size(array_intersect(sort_array(array_distinct(col("a"))),
      sort_array(array_distinct(col("b"))))).as("n")
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.IntersectCountRewrite")
    val expected = try {
      val off = df.select(expr)
      assert(!off.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("sortedintersectcount"))
      off.collect().map(_.getInt(0)).toSeq
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(df.select(expr).collect().map(_.getInt(0)).toSeq == expected)
  }

  test("does NOT fire on arrays that may carry duplicates or wrong order") {
    // plain columns: [5,5] ∩ [5,5] must stay size 1 (array_intersect dedups)
    val plain = df.select(size(array_intersect(col("a"), col("b"))).as("n"))
    assert(!plain.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("sortedintersectcount"))
    assert(plain.collect().map(_.getInt(0)).toSeq == Seq(2, 1, 0))
    // sort_array without distinct: still unsafe, still untouched
    val sortedOnly = df.select(
      size(array_intersect(sort_array(col("a")), sort_array(col("b")))).as("n"))
    assert(!sortedOnly.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("sortedintersectcount"))
  }
}
