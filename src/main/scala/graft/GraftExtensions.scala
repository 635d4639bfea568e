package graft

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.PortableHash
import graft.functions.expressions._

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql` users (and the script front
  * end) can call them without the Scala API. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  *
  * This is the Spark-idiomatic replacement for the reference's
  * `FUNCTION name uri(args)` dynamic-UDF loading
  * (reference: grammar CubertPhysical.g4:24, functions/PigEvalFuncWrapper.java:38).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Cubert's partitioned-additive CUBE: pre-aggregate to leaf groups below
    // the grouping-sets Expand (graft.plans.CubePreAggregate)
    ext.injectOptimizerRule(_ => graft.plans.CubePreAggregate)
    // size(array_intersect(sorted-distinct, sorted-distinct)) → the
    // allocation-free merge-count kernel (graft.plans.IntersectCountRewrite)
    ext.injectOptimizerRule(_ => graft.plans.IntersectCountRewrite)
    // default-on planning-time guard against accidental large cartesians
    // (graft.plans.CartesianGuard). Spark's spark.sql.optimizer.excludedRules
    // drops any of these rules by class name.
    ext.injectOptimizerRule(_ => graft.plans.CartesianGuard)
    // plan screen-pipeline pushdown fences as identity projections
    // (graft.plans.PushdownBarrier — must survive the whole optimizer, so
    // it is a planner strategy, not a strip rule); pass-through-attribute
    // conjuncts may still cross the fence toward the scan
    ext.injectPlannerStrategy(_ => graft.plans.PushdownBarrierStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushThroughBarrier)
    register(ext, "graft_poly_hash", 1,
      "graft_poly_hash(str) - portable polynomial char hash mod 2^31-1") { a =>
      PolyHash(a.head, PortableHash.P) }
    register(ext, "graft_token_hashes", 1,
      "graft_token_hashes(str) - whitespace-token polynomial hashes") { a =>
      TokenPolyHashes(a.head, PortableHash.P) }
    register(ext, "graft_shingle_set", 2,
      "graft_shingle_set(token_hashes, n) - distinct n-gram shingle hashes") { a =>
      ShingleHashSet(a.head, intArg("graft_shingle_set", a, "n", 1, Int.MaxValue),
        PortableHash.B, PortableHash.P) }
    register(ext, "graft_shingles", 2,
      "graft_shingles(token_hashes, n) - positional n-gram shingle hashes (duplicates kept)") { a =>
      ShingleHashesAll(a.head, intArg("graft_shingles", a, "n", 1, Int.MaxValue),
        PortableHash.B, PortableHash.P) }
    register(ext, "graft_simhash32", 1, "graft_simhash32(token_hashes) - 32-bit SimHash") { a =>
      SimHash32(a.head) }
    register(ext, "graft_cosine", 2,
      "graft_cosine(a, b) - fused cosine similarity over float arrays") { a =>
      CosineSimF(a.head, a(1)) }
    // the kernel enumerates deletions of up to two code points
    register(ext, "graft_deletion_hashes", 2,
      "graft_deletion_hashes(str, k) - hashes of all <=k-code-point-deletion variants (FastSS blocking)") { a =>
      DeletionVariantHashes(a.head, intArg("graft_deletion_hashes", a, "k", 0, 2)) }
  }

  /** Registers SQL function `name`; `build` sees exactly `arity` arguments. */
  private def register(ext: SparkSessionExtensions, name: String, arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      (args: Seq[Expression]) => {
        if (args.length != arity) throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))
        build(args)
      }))

  /** `args(1)` of SQL function `name`, named `param`: an INT literal in [lo, hi]. */
  private def intArg(name: String, args: Seq[Expression], param: String, lo: Int, hi: Int): Int =
    args(1) match {
      case Literal(v: Int, IntegerType) if v >= lo && v <= hi => v
      case Literal(v: Int, IntegerType) =>
        throw new AnalysisException("DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", Map(
          "sqlExpr" -> s"\"$name(${args.map(_.sql).mkString(", ")})\"",
          "exprName" -> s"`$param`", "valueRange" -> s"[$lo, $hi]", "currentValue" -> v.toString))
      case other =>
        throw new AnalysisException("INVALID_PARAMETER_VALUE.INTEGER", Map(
          "parameter" -> s"`$param`", "functionName" -> s"`$name`", "invalidValue" -> other.sql))
    }
}
