package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Default-on guardrail against accidental cartesian products — the
  * classic 100 TB incident: a join whose condition was misspelled (or
  * references only one side) silently plans as a cross product and runs
  * for days. Any Inner/Cross join with NO usable equality condition whose
  * BOTH sides exceed [[MaxBytes]] (256 MB — generous: 4x the broadcast
  * ceiling, so every deliberate dim-side product in the engine clears it
  * with room) fails at PLANNING time with the offending plan fragment,
  * before a single task launches. Three deliberate-product shapes stay
  * legal:
  *
  *  - small-side cartesians (dim × dim, the pivot/duple shapes) — both
  *    sides under the cap;
  *  - BROADCAST-HINTED joins (`crossJoin(broadcast(dim))`, the
  *    chi-square/quantile-bounds/PQ-codebook shapes): an explicit hint is
  *    the author SAYING the product is intentional and one side tiny, and
  *    size-only stats routinely over-estimate a grouped aggregate (it
  *    inherits its child scan's size), so hinted joins are exempt no
  *    matter what the estimate claims;
  *  - inputs with UNKNOWN stats: RDD-backed/streaming leaves report
  *    `spark.sql.defaultSizeInBytes` (Long.MaxValue) — "no idea", not
  *    "huge" — and projections/samples above such a leaf SCALE the
  *    sentinel by a width/fraction ratio, so anything above ~281 TB
  *    (2^48) is treated as a propagated unknown too (covers scalings of
  *    the sentinel down to ~3e-5 — in particular the documented 1e-4
  *    sample case, which lands at ~2^49.7; a sub-2^48 REAL estimate
  *    stays guarded). The incident
  *    this guard targets — two big FILE SCANS crossed by a typo — always
  *    carries real stats well under the floor.
  *
  * The guard is ON by default (round 13 — planning-time only,
  * false-positive-safe post-pushdown, and the incident it kills is
  * common); for a deliberate huge unhinted product, exclude it with
  * `spark.sql.optimizer.excludedRules=graft.plans.CartesianGuard`.
  *
  * An optimizer rule, not an analyzer one, so it sees the join AFTER
  * predicate pushdown has had the chance to turn a WHERE clause into the
  * join condition (no false alarms on `a, b WHERE a.k = b.k` syntax).
  */
object CartesianGuard extends Rule[LogicalPlan] {

  /** Both sides of an unconditioned join must exceed this estimate to fail. */
  val MaxBytes: Long = 256L << 20

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case j @ Join(left, right, Inner | Cross, cond, hint)
          if !cond.exists(hasEquiJoinKey(_, left, right)) &&
            !broadcastHinted(hint.leftHint) && !broadcastHinted(hint.rightHint) =>
        // sizes at or above 2^48 (~281 TB) are propagated unknowns, not
        // measurements: RDD/streaming leaves report the defaultSizeInBytes
        // sentinel (Long.MaxValue ≈ 2^63) and projections/samples scale it
        // by width/fraction ratios — a 1e-4 scaling of the sentinel is
        // ~2^49.7, so the floor must sit BELOW that to actually cover the
        // documented 1e-4 case (2^50 did not; 2^48 covers scalings down to
        // ~3e-5 while staying far above any real single-table file-scan
        // estimate)
        val unknownFloor = BigInt(1L << 48)
        def known(s: BigInt) = s < unknownFloor && s != BigInt(conf.defaultSizeInBytes)
        val l = left.stats.sizeInBytes
        val r = right.stats.sizeInBytes
        if (l > MaxBytes && r > MaxBytes && known(l) && known(r))
          throw new IllegalStateException(
            s"CartesianGuard: unconditioned ${j.joinType} join of two large " +
              s"inputs (left ~$l bytes, right ~$r bytes, cap $MaxBytes). " +
              s"Add an equality condition, broadcast a side, or exclude " +
              s"graft.plans.CartesianGuard via spark.sql.optimizer.excludedRules." +
              s"\n${j.simpleString(3)}")
      case _ =>
    }
    plan
  }

  private def broadcastHinted(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(BROADCAST))

  /** Mirrors ExtractEquiJoinKeys' notion of a usable key: an equality that
    * is a TOP-LEVEL CONJUNCT (an `=` under an OR — `a.k = b.k OR a.j =
    * b.j` — still plans as a nested-loop product, exactly the accident
    * this guard exists to catch) with one side evaluable from each input.
    */
  private def hasEquiJoinKey(cond: Expression, left: LogicalPlan,
                             right: LogicalPlan): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val lOut = left.outputSet
    val rOut = right.outputSet
    def keyed(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(lOut) && b.references.subsetOf(rOut)) ||
         (a.references.subsetOf(rOut) && b.references.subsetOf(lOut)))
    conjuncts(cond).exists {
      case EqualTo(a, b)       => keyed(a, b)
      case EqualNullSafe(a, b) => keyed(a, b)
      case _ => false
    }
  }
}
