package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

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

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

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
    ext.injectFunction((
      FunctionIdentifier("graft_poly_hash"),
      info("graft_poly_hash", "graft_poly_hash(str) - portable polynomial char hash mod 2^31-1"),
      (args: Seq[Expression]) => PolyHash(args.head, PortableHash.P)))
    ext.injectFunction((
      FunctionIdentifier("graft_token_hashes"),
      info("graft_token_hashes", "graft_token_hashes(str) - whitespace-token polynomial hashes"),
      (args: Seq[Expression]) => TokenPolyHashes(args.head, PortableHash.P)))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_set"),
      info("graft_shingle_set", "graft_shingle_set(token_hashes, n) - distinct n-gram shingle hashes"),
      (args: Seq[Expression]) => ShingleHashSet(args.head,
        args(1).asInstanceOf[Literal].value.asInstanceOf[Int], PortableHash.B, PortableHash.P)))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(token_hashes, n) - positional n-gram shingle hashes (duplicates kept)"),
      (args: Seq[Expression]) => ShingleHashesAll(args.head,
        args(1).asInstanceOf[Literal].value.asInstanceOf[Int], PortableHash.B, PortableHash.P)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash32"),
      info("graft_simhash32", "graft_simhash32(token_hashes) - 32-bit SimHash"),
      (args: Seq[Expression]) => SimHash32(args.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - fused cosine similarity over float arrays"),
      (args: Seq[Expression]) => CosineSimF(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_deletion_hashes"),
      info("graft_deletion_hashes",
        "graft_deletion_hashes(str, k) - hashes of all <=k-code-point-deletion variants (FastSS blocking)"),
      (args: Seq[Expression]) => DeletionVariantHashes(args.head,
        args(1).asInstanceOf[Literal].value.asInstanceOf[Int])))
  }
}
