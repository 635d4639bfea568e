package graft

import org.apache.spark.sql.functions._

/** The default-on CartesianGuard optimizer rule: fails unconditioned
  * large×large joins at planning time, leaves equi-joins, broadcastable
  * dims, and theta joins with equality untouched, and can be excluded
  * through `spark.sql.optimizer.excludedRules` for a deliberate huge
  * product. Every large input here is a planning-only estimate: nothing
  * above the cap is ever executed.
  */
class CartesianGuardSpec extends SparkSpec {
  import spark.implicits._

  private def withoutGuard[A](f: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.CartesianGuard")
    try f
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  // 2^30 rows plus a pad column: ~19.3 GB estimated, far above the 256 MB cap
  private def big = spark.range(1L << 30).select(col("id"), lit("x").as("pad"))
  // 10k rows: far under the cap
  private def small = spark.range(10000).select(col("id"), lit("x").as("pad"))

  private def assertGuardFails(plan: => Any): Unit = {
    val e = intercept[Exception](plan)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("CartesianGuard")), e.toString)
  }

  test("unconditioned large crossJoin fails at planning time") {
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >
      graft.plans.CartesianGuard.MaxBytes)
    assertGuardFails(
      big.crossJoin(big.select(col("id").as("id2"))).queryExecution.optimizedPlan)
  }

  test("equi-joins and small-side products pass; guard off is inert") {
    // equality condition → legal however large
    assert(big.join(big.select(col("id").as("id2")),
      col("id") === col("id2")).queryExecution.optimizedPlan != null)
    // a dim×dim product under the cap → legal
    val dim = Seq(1, 2).toDF("a")
    assert(dim.crossJoin(Seq(3).toDF("b")).count() == 2)
    // theta join WITH an embedded equality → legal (the skyline shape)
    assert(big.join(big.select(col("id").as("id2")),
      col("id") === col("id2") && col("id") > 5).queryExecution.optimizedPlan != null)
    // excluded: the same large product plans fine
    withoutGuard {
      assert(big.crossJoin(big.select(col("id").as("id2")))
        .queryExecution.optimizedPlan != null)
    }
  }

  test("default behavior: on with a generous cap; generous-cap products still pass") {
    // no conf set at all: the guard is ACTIVE with the 256 MB cap. A
    // 10k-row frame sits far under it, so this deliberate small product
    // plans fine out of the box
    assert(small.crossJoin(small.select(col("id").as("id2")))
      .queryExecution.optimizedPlan != null)
    // unknown-stats inputs are exempt even above the cap: an RDD-backed
    // frame (no originStats) reports the defaultSizeInBytes sentinel —
    // "no stats" must not read as "huge". Both sides sentinel here, so
    // without the exemption this product would throw.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType)))
    def unk = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 1000L).map(Row(_))), schema)
    assert(unk.crossJoin(unk.select(col("id").as("id2")))
      .queryExecution.optimizedPlan != null)
    // a projection above a sentinel leaf SCALES the sentinel (huge but
    // != the exact default) — the 2^48 unknown floor must still exempt it
    assert(unk.select((col("id") + 1).as("id3"))
      .crossJoin(unk.select(col("id").as("id2")))
      .queryExecution.optimizedPlan != null)
    // the documented boundary: a 1e-4 SAMPLE of the sentinel lands at
    // ~2^49.7 — above the 2^48 floor (exempt), but BELOW the old 2^50
    // floor, which falsely read it as a real estimate. Pair it with a
    // KNOWN above-cap side so only the sampled side's classification
    // decides the outcome: exempt → plans; falsely-known → would throw.
    assert(unk.sample(1e-4).crossJoin(big.select(col("id").as("id2")))
      .queryExecution.optimizedPlan != null)
    // an EXPLICIT broadcast hint exempts a product regardless of the
    // estimate — grouped aggregates inherit their child scan's size, so
    // the engine's own crossJoin(broadcast(dimAgg)) shapes must pass
    val bigAgg = big.groupBy("pad").agg(count(lit(1)).as("n"))
    assert(big.crossJoin(broadcast(bigAgg)).queryExecution.optimizedPlan != null)
    assert(broadcast(bigAgg).crossJoin(big.select(col("id").as("id2")))
      .queryExecution.optimizedPlan != null)
  }

  test("equality under an OR, or not spanning both sides, does not satisfy the guard") {
    // `a.k = b.k OR a.j = b.j` still plans as a nested-loop product —
    // the guard must catch it (ExtractEquiJoinKeys finds no key either)
    val r = big.select(col("id").as("id2"), col("pad").as("pad2"))
    assertGuardFails(
      big.join(r, col("id") === col("id2") || col("pad") === col("pad2"))
        .queryExecution.optimizedPlan)
    // an equality confined to ONE side is a filter, not a join key
    assertGuardFails(
      big.join(r, col("id") === col("pad") && col("id2") > 1).queryExecution.optimizedPlan)
    // a literal=literal tautology is not a key either
    assertGuardFails(big.join(r, lit(1) === lit(1)).queryExecution.optimizedPlan)
    // but a cross-side equality conjoined with an OR filter is a key
    assert(big.join(r,
      col("id") === col("id2") && (col("pad") === "x" || col("id") > 5))
      .queryExecution.optimizedPlan != null)
  }
}
