package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CUBE / GROUPING SETS / ROLLUP — the reference's flagship operator
  * (reference: operator/CubeOperator.java:60; ancestor enumeration
  * operator/cube/CubeDimensions.java:141-145,267-286; grouping-set syntax
  * CubertPhysical.g4:121,135-139).
  *
  * Semantics map to Spark's native cube/rollup/GROUPING SETS: the 2^n
  * ancestor enumeration is Expand + partial HashAggregate, the null-bit-
  * vector convention becomes `grouping()`/`grouping_id()`, and the bounded
  * 2M-entry hash table with 95%-occupancy flush (CubeOperator.java:65,81)
  * becomes HashAggregate's automatic spill. Non-additive measures (exact
  * COUNT DISTINCT, percentiles, duple [outer,inner] aggregates) that the
  * reference handled with INNER-sorted partitioned-additive aggregators
  * (operator/cube/DupleCubeAggregator.java:33) are expressed either directly
  * (count_distinct under cube — Catalyst plans the Expand) or via the
  * two-level rewrite in `dupleCube`.
  */
object CubeOps {

  // temp-view names for SQL-only constructs: a process-wide counter (identity
  // hashes are not unique across live DataFrames); views are dropped right
  // after the sql() call — Spark analyzes eagerly, so the resolved plan no
  // longer needs the view.
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private def withTempView[T](df: DataFrame, prefix: String)(body: String => T): T = {
    val v = s"__graft_${prefix}_${viewSeq.incrementAndGet()}"
    df.createOrReplaceTempView(v)
    try body(v)
    finally df.sparkSession.catalog.dropTempView(v)
  }

  /** CUBE x BY dims AGGREGATES … — full 2^n grouping sets. */
  def cube(df: DataFrame, dims: Seq[String], aggs: Seq[(String, Column, String)]): DataFrame = {
    val exprs = aggs.map { case (t, c, n) => Aggregations.aggExpr(t, c).as(n) }
    df.cube(dims.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** ROLLUPS clause — prefix grouping sets (reference: grammar :137). */
  def rollup(df: DataFrame, dims: Seq[String], aggs: Seq[(String, Column, String)]): DataFrame = {
    val exprs = aggs.map { case (t, c, n) => Aggregations.aggExpr(t, c).as(n) }
    df.rollup(dims.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Explicit GROUPING SETS — compiled to SQL because the DataFrame API has
    * no direct form (reference: grammar :136 `GROUPING SETS (…)`).
    * `sets` are subsets of `dims`; aggs as (aggType, inputExpr SQL, alias).
    */
  def groupingSets(df: DataFrame, dims: Seq[String], sets: Seq[Seq[String]],
                   aggsSql: Seq[String]): DataFrame = withTempView(df, "gs") { v =>
    val setsSql = sets.map(s => if (s.isEmpty) "()" else s.mkString("(", ", ", ")")).mkString(", ")
    // only dims that appear in ≥1 set are selectable (a dim in no set is
    // not a grouping column — MISSING_AGGREGATION otherwise)
    val used = dims.filter(d => sets.exists(_.contains(d)))
    df.sparkSession.sql(
      s"SELECT ${(used ++ aggsSql).mkString(", ")} " +
        s"FROM $v GROUP BY GROUPING SETS ($setsSql)")
  }

  /** GROUPING COMBOS n — all grouping sets of size ≤ n, enumerated
    * explicitly (reference: grammar :138; CubeDimensions ancestor subsets).
    */
  def groupingCombos(df: DataFrame, dims: Seq[String], maxSize: Int,
                     aggsSql: Seq[String]): DataFrame = {
    val sets = (0 to maxSize).flatMap(k => dims.combinations(k).toSeq)
    groupingSets(df, dims, sets, aggsSql)
  }

  /** Duple [outerAgg, innerAgg] measures — e.g. [SUM, COUNT] = per grouping
    * set, the outer aggregate of the inner aggregate computed per inner-
    * dimension group (reference: operator/cube/DefaultDupleCubeAggregator.java:38;
    * enforcement of INNER sort/partition preconditions CubeOperator.java:365-400).
    *
    * Spark rewrite (SURVEY.md §7.2.5): two-level aggregation —
    * groupBy(dims ++ inner).agg(innerAgg) then cube(dims).agg(outerAgg) —
    * which is also the scalable plan: the first aggregation shrinks the data
    * before the 2^n Expand, exactly the reduction the reference's
    * partitioned-additive trick achieved.
    */
  /** Correctness subtlety (SURVEY.md §7.4): the inner aggregate must be
    * computed per (grouping set ∪ inner), NOT per (all dims ∪ inner) — so
    * cube over dims with inner pinned in every grouping set
    * (GROUP BY inner, CUBE(dims)), then outer-aggregate per grouping set.
    * grouping_id() disambiguates "NULL because aggregated" from NULL data,
    * exactly the reference's null-bit-vector (CubeDimensions.java:89-91).
    * The first aggregation also shrinks the data before the outer pass,
    * which is the scale story of the reference's partitioned-additive trick.
    * `innerAggSql` is e.g. "sum(l_quantity)", `outerAggSql` e.g. "max".
    */
  /** r17 optimization note — a union-of-grouping-sets rewrite was built,
    * measured, and REJECTED here. At sf0.1 enumerating the 2^n grouping
    * sets as aggregate branches over a repartition-by-inner-key exchange
    * beat the Expand form 3x (2.09 s -> 0.67 s, q26: the inner key is
    * near-unique, so Expand's partial aggregate collapses nothing and the
    * exchange carries the 2^n-multiplied stream). But the branch
    * aggregates are SINGLE-PHASE downstream of the repartition: per-task
    * hash state is unbounded by map input (60M-row fixture, 32
    * partitions: ~2M groups x 4 branches per task), and the interleaved
    * A/B at that scale read best-of-3 24.6 s vs the Expand form's 18.5 s
    * with one arm failing outright under memory pressure — the sf0.1 win
    * inverts exactly where scale matters, so the Expand form (bounded
    * partials, graceful spill) stays. Evidence: OPTIMIZATION_r17.md
    * ("Changes tried, measured, and REJECTED" 1), dev/r17-opt.
    */
  def dupleCube(df: DataFrame, dims: Seq[String], inner: Seq[String],
                outerAggSql: String, innerAggSql: String, as: String): DataFrame =
    withTempView(df, "duple") { v =>
    df.sparkSession.sql(
      s"""SELECT ${dims.mkString(", ")}, $outerAggSql(__inner) AS $as FROM (
         |  SELECT ${dims.mkString(", ")}, grouping_id() AS __gid,
         |         $innerAggSql AS __inner
         |  FROM $v
         |  GROUP BY ${inner.mkString(", ")}, CUBE(${dims.mkString(", ")})
         |) GROUP BY ${dims.mkString(", ")}, __gid""".stripMargin)
  }

  /** Exact COUNT DISTINCT under CUBE — the reference's partitioned-additive
    * flagship (operator/cube/CountDistinctCubeAggregator.java:25). Expressed
    * directly; Catalyst rewrites distinct-under-Expand into a two-phase
    * aggregation equivalent to the reference's inner-pivot scheme.
    */
  def cubeCountDistinct(df: DataFrame, dims: Seq[String], distinctCol: String,
                        as: String, extraAggs: Seq[(String, Column, String)] = Nil): DataFrame = {
    val exprs = count_distinct(col(distinctCol)).as(as) +:
      extraAggs.map { case (t, c, n) => Aggregations.aggExpr(t, c).as(n) }
    df.cube(dims.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Approximate COUNT DISTINCT under CUBE (HyperLogLog++) — the 100 TB
    * fallback when exactness is negotiable: constant-size sketches replace
    * the distinct expansion entirely, and partials merge additively across
    * grouping sets. `rsd` = relative standard deviation (Spark default .05).
    */
  def cubeApproxCountDistinct(df: DataFrame, dims: Seq[String], distinctCol: String,
                              as: String, rsd: Double = 0.05): DataFrame =
    df.cube(dims.map(col): _*)
      .agg(approx_count_distinct(col(distinctCol), rsd).as(as))

  /** Approximate-percentile cube measure — the sketch-based scale path for
    * the reference's exact-percentile CUBE (CubeOperator MEDIAN/percentile
    * measures): t-digest-style `approx_percentile` is mergeable, so unlike
    * the exact sort-based form it composes with partial aggregation under
    * Expand and never needs per-group sorted buffers. `accuracy` trades
    * sketch size for error exactly like the reference's HTSIZE dial traded
    * memory for flushes.
    */
  def cubeApproxPercentile(df: DataFrame, dims: Seq[String], valueCol: String,
                           percentage: Double, as: String,
                           accuracy: Int = 10000): DataFrame =
    df.cube(dims.map(col): _*)
      .agg(percentile_approx(col(valueCol), lit(percentage), lit(accuracy)).as(as))

  /** Pre-aggregated cube for very wide dims at scale: collapse to the leaf
    * grouping set first, then cube the (much smaller) leaf aggregate. Valid
    * for additive measures only (SUM/COUNT/MIN/MAX — the reference's
    * ValueAggregationType set, operator/cube/ValueAggregationType.java:23).
    * This mirrors Cubert's memory-bounded one-pass trick: at 100 TB the
    * Expand multiplier applies to |leaf groups|, not |rows|.
    */
  def additiveCubePreAgg(df: DataFrame, dims: Seq[String],
                         sumCols: Seq[(Column, String)]): DataFrame = {
    val leaf = df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("__cnt"), sumCols.map { case (c, n) => sum(c).as(n) }: _*)
    leaf.cube(dims.map(col): _*)
      .agg(sum("__cnt").as("n_rows"), sumCols.map { case (_, n) => sum(n).as(n) }: _*)
  }
}
