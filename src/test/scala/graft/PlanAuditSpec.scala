package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Enforced plan-shape audits: the properties that make each operator
  * family survive a 100 TB scale-up are asserted on the actual physical
  * plans, not just documented (SCALING.md) or eyeballed (graft.Explain).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ()) // finalize AQE for THIS df
    val formatted = df.queryExecution.explainString(FormattedMode)
    val initialIdx = formatted.indexOf("== Initial Plan ==")
    if (initialIdx > 0) formatted.substring(0, initialIdx) else formatted
  }

  private def details(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.explainString(FormattedMode)
  }

  test("filter pushdown reaches the parquet scan (q02)") {
    // other suites may have persisted overlapping plans (q48 multipass);
    // the audit is about the uncached scan
    spark.catalog.clearCache()
    val d = details(SparkEntry.queries("q02_filter")(spark, dir))
    assert(d.contains("PushedFilters: ["), s"no pushed filters in:\n$d")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(l_quantity".r.findFirstIn(d).isDefined,
      s"l_quantity predicate not pushed:\n$d")
  }

  test("column pruning: the 2-column aggregate reads only what it needs (q34)") {
    spark.catalog.clearCache()
    val d = details(SparkEntry.queries("q34_wordcount")(spark, dir))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(d).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 2, s"over-wide scan: $read")
  }

  test("HASH-JOIN broadcasts the build side — no shuffle join (q16)") {
    val p = executedPlan(SparkEntry.queries("q16_join_hash")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in hash-join query:\n$p")
  }

  test("MERGE JOIN pins sort-merge (q15 first join)") {
    val li = sf("lineitem"); val ord = sf("orders")
    val p = executedPlan(graft.operators.Joins.mergeJoin(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), ord, Seq("o_orderkey")))
    assert(p.contains("SortMergeJoin"), s"merge hint did not pin SMJ:\n$p")
  }

  test("cube pre-aggregation puts a leaf aggregate below the Expand (q55)") {
    val opt = SparkEntry.queries("q55_cube_wide")(spark, dir)
      .queryExecution.optimizedPlan.treeString
    assert("(?s)Expand.*Aggregate.*Relation".r.findFirstIn(opt).isDefined,
      s"no leaf aggregate below Expand:\n$opt")
  }

  test("TOP N pushes a window group limit below the shuffle (q28)") {
    val p = details(SparkEntry.queries("q28_topn")(spark, dir))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("partial aggregation runs map-side before the exchange (q10)") {
    val d = details(SparkEntry.queries("q10_groupby")(spark, dir))
    assert("partial_sum|partial_count".r.findFirstIn(d).isDefined,
      s"no partial aggregate:\n$d")
  }

  test("repetition features and hash sampling stay shuffle-free (q70, q72)") {
    spark.catalog.clearCache()
    val rep = executedPlan(SparkEntry.queries("q70_repetition")(spark, dir))
    assert(!rep.contains("Exchange ("), s"repetition features shuffled:\n$rep")
    val smp = executedPlan(SparkEntry.queries("q72_sample_stratified")(spark, dir))
    assert(!smp.contains("Exchange ("), s"hash sampling shuffled:\n$smp")
  }

  test("reservoir sample pushes a window group limit below the shuffle (q73)") {
    val d = details(SparkEntry.queries("q73_sample_reservoir")(spark, dir))
    assert(d.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$d")
  }

  test("per-key quota cap pre-prunes via window group limit and broadcasts quotas (q124)") {
    val d = details(SparkEntry.queries("q124_domain_cap")(spark, dir))
    // the maxQuota rank filter must reach a WindowGroupLimit (map-side
    // pre-prune of hot keys) and the quota table must not shuffle-join
    assert(d.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$d")
    assert(d.contains("BroadcastHashJoin"), s"quota join did not broadcast:\n$d")
  }

  test("seasonal anomalies broadcast the profile; no window over raw events (q181)") {
    val p = executedPlan(SparkEntry.queries("q181_seasonal_anomaly")(spark, dir))
    assert(!p.contains("Window"), s"seasonal detector opened a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"profile not broadcast:\n$p")
  }

  test("negative sampling equi-joins hash buckets — never a product (q182)") {
    val p = executedPlan(SparkEntry.queries("q182_negative_sample")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"negative sampling fell back to a product join:\n$p")
  }

  test("quantile match: bucketed rank + one-row broadcast ladder, no global sort task (q184)") {
    val p = executedPlan(SparkEntry.queries("q184_quantile_match")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"reference ladder not broadcast:\n$p")
    // the only Sorts allowed are within-partition (bucketed rank / sketch
    // window); a range-partitioning exchange would mean the two-phase
    // rank regressed to a global sort
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"global sort in quantile match plan:\n$p")
  }

  test("single-pass funnel plans exactly one exchange and one scan (q179)") {
    val p = executedPlan(SparkEntry.queries("q179_funnel_single")(spark, dir))
    val shuffles = "(?<!Broadcast)(?<!Reused)Exchange \\(".r.findAllIn(p).size
    assert(shuffles == 1, s"single-pass funnel should shuffle exactly once, got $shuffles:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"single-pass funnel should scan events once, got $scans:\n$p")
  }

  test("sequence packing plans exactly one exchange (q74)") {
    val p = executedPlan(SparkEntry.queries("q74_pack_sequences")(spark, dir))
    assert("Exchange \\(".r.findAllIn(p).size == 1,
      s"packing should shuffle exactly once (repartition by group):\n$p")
  }

  test("bucketed MERGE JOIN elides shuffle and sort (blockgen'd inputs)") {
    val left = sf("nation").select("n_nationkey", "n_name")
    val right = sf("nation").select("n_nationkey", "n_regionkey")
    graft.operators.Blockgen.blockgen(left, "audit_bg_l", Seq("n_nationkey"), Seq("n_nationkey"), 2)
    graft.operators.Blockgen.blockgen(right, "audit_bg_r", Seq("n_nationkey"), Seq("n_nationkey"), 2)
    val j = graft.operators.Joins.mergeJoin(
      spark.table("audit_bg_l"), spark.table("audit_bg_r"), Seq("n_nationkey"))
    val p = executedPlan(j)
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange ("), s"bucketed SMJ still shuffles:\n$p")
  }

  test("asof join plans one shuffle per side union — no per-pair join (q83)") {
    val p = executedPlan(SparkEntry.queries("q83_join_asof")(spark, dir))
    assert(!p.contains("Join"), s"asof join should be windowed union, got a join:\n$p")
    val shuffles = "(?<!Broadcast)(?<!Reused)Exchange \\(".r.findAllIn(p).size
    assert(shuffles == 1, s"asof join should shuffle exactly once, got $shuffles:\n$p")
  }

  test("edit join verifies AFTER the candidate dedup — levenshtein never in a join condition (q101)") {
    // the round-13 barrier: Catalyst will push a deterministic filter over
    // grouping columns through the dedup-aggregate and INTO the sort-merge
    // join, where the banded DP runs per raw variant collision (measured
    // 3x at the 500k-doc decade) instead of once per surviving pair. The
    // max()-aggregate outputs pin it above the HashAggregate — keep it there.
    val d = details(SparkEntry.queries("q101_edit_join")(spark, dir))
    val joinConds = d.linesIterator.filter(_.contains("Join condition"))
      .mkString("\n")
    assert(!joinConds.toLowerCase.contains("levenshtein"),
      s"levenshtein pushed into a join condition:\n$joinConds")
    // ...and it still runs somewhere (a Filter's Condition after the dedup)
    assert(d.contains("levenshtein"), s"verify disappeared from the plan:\n$d")
  }

  test("range join never falls back to a product join (q84)") {
    val p = executedPlan(SparkEntry.queries("q84_join_range")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join planned a product:\n$p")
  }

  test("bloom-pruned join filters the fact side below its shuffle (q85)") {
    val d = details(SparkEntry.queries("q85_join_bloom")(spark, dir))
    // the UDF bloom probe must appear in a Filter that sits on the scan side
    assert("(?s)Filter.*UDF".r.findFirstIn(d).isDefined,
      s"no bloom prefilter in plan:\n$d")
  }

  test("chunking and hash split stay shuffle-free (q86, q89)") {
    spark.catalog.clearCache()
    val c = executedPlan(SparkEntry.queries("q86_chunk")(spark, dir))
    assert(!c.contains("Exchange ("), s"chunking shuffled:\n$c")
    val h = executedPlan(SparkEntry.queries("q89_hash_split")(spark, dir))
    assert(!h.contains("Exchange ("), s"hash split shuffled:\n$h")
  }

  test("heavy hitters: one aggregation, literal total — no window, no join (q88)") {
    val p = executedPlan(SparkEntry.queries("q88_heavy_hitters")(spark, dir))
    assert(!p.contains("Window"), s"heavy hitters used a window:\n$p")
    assert(!p.contains("Join"), s"total should be a driver literal, not a join:\n$p")
    assert("(?m)^.*Exchange".r.findAllIn(p).size <= 1,
      s"expected a single count-aggregate exchange:\n$p")
  }

  test("novelty filter blooms the corpus scan and resolves with an anti join (q97)") {
    val d = details(SparkEntry.queries("q97_novelty")(spark, dir))
    assert("(?s)Filter.*UDF".r.findFirstIn(d).isDefined,
      s"no bloom prefilter on the corpus side:\n$d")
    assert(d.contains("LeftAnti"), s"no exact anti-join resolution:\n$d")
  }

  test("topTerms pushes the per-doc limit and partial-aggregates the tf count (q99)") {
    val d = details(SparkEntry.queries("q99_tfidf")(spark, dir))
    assert(d.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$d")
    assert("partial_count".r.findFirstIn(d).isDefined, s"no partial tf aggregate:\n$d")
  }

  test("bm25 broadcasts query+df sides, partial-aggregates, top-k without global sort (q115)") {
    val d = details(SparkEntry.queries("q115_bm25")(spark, dir))
    assert(d.contains("BroadcastHashJoin"), s"query/df join not broadcast:\n$d")
    assert("partial_(count|sum)".r.findFirstIn(d).isDefined,
      s"no map-side partial per-doc aggregate:\n$d")
    assert(d.contains("TakeOrderedAndProject"),
      s"top-k is not a distributed TakeOrderedAndProject:\n$d")
  }

  test("corpus report is one scan with map-side partial aggregation (q119)") {
    val d = details(SparkEntry.queries("q119_corpus_report")(spark, dir))
    assert("partial_(count|sum|min|max)".r.findFirstIn(d).isDefined ||
      "Functions.*partial".r.findFirstIn(d).isDefined,
      s"no map-side partials in:\n$d")
    // two-level aggregate (partial below the exchange, final above) over a
    // single corpus scan — count scans in the executed plan section only
    val finalPlan = d.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(finalPlan).length == 1,
      s"corpus scanned more than once:\n$d")
  }

  test("soft-dedup weights broadcast the cluster sizes into the corpus (q121)") {
    val d = details(SparkEntry.queries("q121_soft_dedup")(spark, dir))
    assert(d.contains("BroadcastHashJoin"),
      s"cluster-size join not broadcast:\n$d")
  }

  test("temperature mixture scans the corpus once — total over the strata aggregate (q98)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q98_mixture_temperature")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    // the cross-stratum total must be a window over the strata-sized
    // aggregate (ONE corpus scan), not a second aggregate + join that
    // re-scans the corpus
    assert(opt.collect { case r: org.apache.spark.sql.catalyst.plans.logical.LeafNode => r }
      .length == 1, s"corpus scanned more than once:\n$opt")
    val totWindows = opt.collect { case w: LWindow => w }
    assert(totWindows.nonEmpty && totWindows.forall(w =>
      w.collect { case a: Aggregate => a }.nonEmpty),
      s"total window not over the aggregate:\n$opt")
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"plan fell back to a cartesian product:\n$p")
  }

  test("edit-distance join equi-joins fixed-width variant hashes — never a product (q101)") {
    val d = details(SparkEntry.queries("q101_edit_join")(spark, dir))
    assert(!d.contains("CartesianProduct") && !d.contains("BroadcastNestedLoopJoin"),
      s"candidate generation fell back to a product join:\n$d")
    // the join keys must be the kernel's long hashes, not variant strings:
    // the deletion_variant_hashes generate feeds the join directly
    assert(d.contains("deletionvarianthashes") || d.contains("deletion_variant"),
      s"native variant-hash kernel missing from plan:\n$d")
    assert(d.contains("levenshtein"), s"no exact verify stage:\n$d")
  }

  test("minhash LSH joins band buckets — one shuffle, no product join (q41)") {
    val d = details(SparkEntry.queries("q41_dedup_minhash")(spark, dir))
    assert(!d.contains("CartesianProduct") && !d.contains("BroadcastNestedLoopJoin"),
      s"band candidate generation fell back to a product join:\n$d")
    // signatures are per-row kernel work: the minhashsig expression must
    // sit below the join, not after it
    assert(d.contains("minhashsig"), s"native MinHash kernel missing:\n$d")
  }

  test("script profile evaluates the scriptCounts kernel exactly once per row (q137)") {
    // the one-pass kernel feeds six derived columns plus the dominant-
    // script CASE; it stays single-evaluation only because the counts
    // array is its own projection and CollapseProject declines to inline
    // a multiply-referenced non-trivial expression. If a future optimizer
    // change inlines it, the kernel re-runs per reference — this pin
    // catches that regression (the round-14 win was 24.5 s -> 0.25 s at
    // sf10, so a silent re-inline would be a 10x-class loss).
    val p = executedPlan(SparkEntry.queries("q137_script_profile")(spark, dir))
    val n = "scriptcounts\\(".r.findAllIn(p).length
    assert(n == 1, s"scriptcounts evaluated $n times (want 1) in:\n$p")
  }

  test("gopher rules evaluate the fused gopherStats kernel exactly once per row (q141)") {
    // r16: all ten feature inputs come from ONE gopherStats call — no
    // token/line array materialization, no per-element regex lambda, and
    // never a second kernel evaluation from CollapseProject inlining a
    // multiply-referenced struct (the r13 hazard this pin existed for:
    // tokenize re-ran per reference; then array_intersect's predecessor
    // re-lowercased the token array once per stopword — 9.3 s of q141's
    // 9.9 s at sf10)
    val p = executedPlan(SparkEntry.queries("q141_gopher_quality")(spark, dir))
    val n = "gopherstats\\(".r.findAllIn(p.toLowerCase).length
    assert(n == 1, s"gopherStats evaluated $n times (want 1) in:\n$p")
    assert(!p.contains("tokenize("), s"token array re-materialized:\n$p")
    assert(!p.toLowerCase.contains("rlike"), s"per-element regex survived:\n$p")
  }

  test("PII scrub evaluates each scan kernel exactly once per row (q71)") {
    // __pii_email is a multiply-referenced struct (n_emails plus the
    // text_redacted chain) that stays single-evaluation only because
    // CollapseProject declines to inline a multiply-referenced
    // non-trivial expression — the same silent-reinline hazard the q137
    // and q141 pins exist for (a reinline re-runs the email scan per
    // reference: a 2-3x-class loss on the r16 5.1x win)
    val p = executedPlan(SparkEntry.queries("q71_pii_scrub")(spark, dir)).toLowerCase
    // phone/ip run twice BY DESIGN (counts scan the original text, the
    // redaction chain scans the email-redacted text — different inputs);
    // only the email scan is shared through the struct, so 1/2/2 is the
    // exact expected census and anything higher is a reinline
    for ((k, want) <- Seq("piiemailscan" -> 1, "piiphonescan" -> 2, "piiipv4scan" -> 2)) {
      val n = (k + "\\(").r.findAllIn(p).length
      assert(n == want, s"$k evaluated $n times (want $want) in:\n$p")
    }
  }

  test("quality screen filters ABOVE the feature projection — predicate never re-derives features (q61)") {
    // without the PushdownBarrier fence, Catalyst pushes the filter below
    // the feature Projects and the predicate recomputes every feature per
    // row (tokenize ran 8x per row interpreted at sf10; ~1.4x total)
    val p = executedPlan(SparkEntry.queries("q61_quality_filter")(spark, dir))
    val cond = "Condition : .*".r.findAllIn(p).mkString("\n")
    assert(cond.nonEmpty, s"no Filter in:\n$p")
    assert(!cond.contains("tokenize("),
      s"filter predicate re-derives tokenize — pushdown crossed the barrier:\n$cond")
    assert(!cond.contains("scriptcounts("),
      s"filter predicate re-derives scriptcounts — pushdown crossed the barrier:\n$cond")
  }

  test("barrier is selectively permeable: raw-column predicates still reach the scan") {
    // a doc_id range filter above a fenced quality screen must cross the
    // barrier (PushThroughBarrier) and land in the scan's PushedFilters,
    // while the feature predicates stay above the projection
    spark.catalog.clearCache()
    val docs = Tables.load(spark, dir, "documents")
    val screened = graft.plans.PushdownBarrier(
      graft.text.TextAnalysis.withQualityFeatures(docs))
      .filter(org.apache.spark.sql.functions.col("alpha_ratio") > 0.5 &&
        org.apache.spark.sql.functions.col("doc_id") < 100)
    val d = details(screened)
    assert("PushedFilters: \\[[^\\]]*LessThan\\(doc_id".r.findFirstIn(d).isDefined,
      s"doc_id predicate did not cross the barrier to the scan:\n$d")
    val cond = "Condition : .*".r.findAllIn(d).mkString("\n")
    assert(!cond.contains("scriptcounts("),
      s"feature predicate crossed the barrier and re-derives counts:\n$cond")
  }

  test("barrier permeability survives an interposed select (Filter -> Project -> Barrier)") {
    // an API user who selects columns between their raw-column filter and
    // the fence must not silently lose partition/row-group pruning: the
    // doc_id range predicate has to cross BOTH the projection and the
    // barrier into PushedFilters, while feature predicates stay above
    spark.catalog.clearCache()
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val screened = graft.plans.PushdownBarrier(
      graft.text.TextAnalysis.withQualityFeatures(docs))
      .select(col("doc_id"), col("text"), col("alpha_ratio"), col("n_tokens").as("toks"))
      .filter(col("alpha_ratio") > 0.5 && col("doc_id") < 100 && col("toks") > 1)
    val d = details(screened)
    assert("PushedFilters: \\[[^\\]]*LessThan\\(doc_id".r.findFirstIn(d).isDefined,
      s"doc_id predicate did not cross the interposed select + barrier:\n$d")
    val cond = "Condition : .*".r.findAllIn(d).mkString("\n")
    assert(!cond.contains("scriptcounts("),
      s"feature predicate crossed the barrier and re-derives counts:\n$cond")
    assert(!cond.contains("tokenize("),
      s"feature predicate crossed the barrier and re-derives tokenize:\n$cond")
  }

  test("barrier permeability is conservative below a Union (branch-computed column)") {
    // Union output attrs take the FIRST child's exprIds: a column forwarded
    // raw in branch 1 but computed via Alias in branch 2 must NOT classify
    // as pass-through — a crossed conjunct would re-derive the branch-2
    // expression inside the fence, the exact hazard the barrier stops.
    // The per-branch positional scan (r16) must keep refusing this case.
    spark.catalog.clearCache()
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val shifted = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val screened = graft.plans.PushdownBarrier(docs.union(shifted))
      .filter(col("doc_id") < 100)
    val opt = screened.queryExecution.optimizedPlan
    val belowBarrier = opt.collect { case b: graft.plans.PushdownBarrier => b.child }
    assert(belowBarrier.nonEmpty, "barrier optimized away")
    assert(!belowBarrier.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Filter => true
      case _ => false
    }), s"raw-column conjunct crossed a fence over a Union:\n$opt")
  }

  test("barrier permeability crosses a Union when ALL branches forward the column raw") {
    // The common unioned-corpus screen: two parquet scans unioned, features
    // computed above the fence. Every branch forwards doc_id untouched, so
    // the per-branch positional scan classifies it pass-through and the
    // raw-column predicate must land in BOTH branches' PushedFilters —
    // partition/row-group pruning preserved across the union (r16, VERDICT
    // r15 task 4). The feature predicate still must not cross.
    spark.catalog.clearCache()
    import org.apache.spark.sql.functions.{col, length}
    def branch() = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).as("n_chars"))
    val screened = graft.plans.PushdownBarrier(branch().union(branch()))
      .filter(col("doc_id") < 100 && col("n_chars") > 10)
    val d = screened.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = "PushedFilters: \\[[^\\]]*LessThan\\(doc_id,100\\)[^\\]]*\\]".r
      .findAllIn(d).length
    assert(pushed == 2,
      s"doc_id predicate should reach BOTH union branches' scans (got $pushed):\n$d")
    val cond = "Condition : .*".r.findAllIn(d).mkString("\n")
    assert(cond.contains("n_chars"),
      s"feature (branch-aliased) predicate should stay above the fence:\n$d")
  }

  test("q213_union_screen: doc_id predicate reaches both union branches' scans") {
    // the end-to-end pin for the per-branch Union crossing: the REAL q213
    // query (feature projection between fence and union, source-filtered
    // branches) must land the raw doc_id conjunct in BOTH branch scans'
    // data filters while n_tokens stays above the fence
    spark.catalog.clearCache()
    val q = graft.SparkEntry.queries("q213_union_screen")(spark, dir)
    val d = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = "PushedFilters: \\[[^\\]]*doc_id[^\\]]*\\]".r.findAllIn(d).length
    assert(pushed == 2,
      s"doc_id should reach BOTH union branches' PushedFilters (got $pushed):\n$d")
    val cond = "Condition : .*".r.findAllIn(d).mkString("\n")
    assert(cond.contains("n_tokens"),
      s"n_tokens predicate should stay above the fence:\n$d")
  }

  test("scale-aware shuffle partitioning: partitions grow past parallelism once bytes demand it") {
    // the engine's shuffle-partition knobs: AQE stages START at the
    // initialPartitionNum ceiling and coalesce to
    // clamp(total/parallelism, minPartitionSize, advisory); with the
    // ceiling raised and the advisory bounding per-partition bytes,
    // partition count grows ∝ bytes so sort/build size stays bounded —
    // the configuration a deployment engages when per-partition data
    // would outgrow memory-per-core (SCALING.md round 15: measured, and
    // deliberately NOT the default — fixed-count won the sf100 A/B on
    // one JVM). Pin that the machinery works when engaged: a ~24 MB
    // shuffle over a 1 MB advisory must coalesce to MORE partitions than
    // defaultParallelism — under the fixed cores-sized ceiling this plan
    // can never exceed the core count.
    import org.apache.spark.sql.functions.{col, max => fmax}
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val ceilingKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val old = spark.conf.get(advisoryKey)
    // unset by default: Spark then starts AQE at spark.sql.shuffle.partitions
    val oldCeiling = spark.conf.getOption(ceilingKey)
    try {
      spark.conf.set(advisoryKey, "1m")
      spark.conf.set(ceilingKey, "64")
      // pad must be incompressible — AQE's stats are post-LZ4 map-output
      // bytes, and a constant pad compresses below the 1 MB partition floor
      // key must NOT be the range id itself: Range reports an ordered
      // partitioning on id, so groupBy(id) plans with no exchange at all
      val df = spark.range(300000).select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(col("id")),
          org.apache.spark.sql.functions.lit(1000000)).as("k"),
        org.apache.spark.sql.functions.sha2(col("id").cast("string"), 256).as("pad"))
        .groupBy("k").agg(fmax("pad").as("p"))
      df.queryExecution.toRdd.foreach(_ => ())
      val reads = scala.collection.mutable.ArrayBuffer.empty[Int]
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
            reads += a.partitionSpecs.size
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      val par = spark.sparkContext.defaultParallelism
      assert(reads.nonEmpty, "no AQE shuffle read in the plan")
      assert(reads.max > par,
        s"shuffle stayed at $reads partitions (parallelism $par) — the byte-" +
          s"proportional growth regime never engaged")
    } finally {
      spark.conf.set(advisoryKey, old)
      oldCeiling.fold(spark.conf.unset(ceilingKey))(spark.conf.set(ceilingKey, _))
    }
  }

  test("top-token stats are a shuffle-free per-row map (q123)") {
    // a per-document statistic must never shuffle the corpus — the old
    // explode -> groupBy(doc, tok) -> groupBy(doc) -> join-back form
    // moved |corpus tokens| rows through two exchanges
    spark.catalog.clearCache()
    val p = executedPlan(SparkEntry.queries("q123_top_token")(spark, dir))
    assert(!p.contains("Exchange ("), s"top-token stats shuffled:\n$p")
    assert(p.contains("toptokenstats"), s"kernel missing from plan:\n$p")
  }

  test("LM scoring resolves counts with equi-joins and partial-aggregates per doc (q114)") {
    val d = details(SparkEntry.queries("q114_lm_score")(spark, dir))
    assert(!d.contains("CartesianProduct") && !d.contains("BroadcastNestedLoopJoin"),
      s"LM count lookup fell back to a product join:\n$d")
    assert(!d.contains("Window"), s"unexpected window in LM scoring:\n$d")
    // the per-doc aggregation must partial-aggregate map-side
    assert("HashAggregate[^\n]*partial".r.findFirstIn(d).isDefined
      || d.contains("partial_count"), s"no partial aggregation in LM scoring:\n$d")
  }

  test("stored minhash index joins without re-signing the corpus (q113 shape)") {
    // the incremental contract: a batch banded against a PERSISTED index
    // must plan (index parquet scan) ⋈ (batch banding) — the minhash
    // kernel may appear only on the batch side, and the join is an
    // equi-join on (band, bucket), never a product
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft-idxaudit").toString
    graft.dedup.Dedup.minHashIndex(docs.filter("doc_id % 10 != 0"))
      .write.mode("overwrite").parquet(s"$tmp/idx")
    val idx = spark.read.parquet(s"$tmp/idx")
    val d = details(graft.dedup.Dedup.minHashLshAgainstIndex(
      docs.filter("doc_id % 10 = 0"), idx))
    assert(!d.contains("CartesianProduct") && !d.contains("BroadcastNestedLoopJoin"),
      s"index lookup fell back to a product join:\n$d")
    assert(!d.contains("Window"), s"unexpected window in index join:\n$d")
    // the corpus contributes ONLY its stored (id, band, bucket) rows: its
    // text is never re-read, so no scan may read a text column, and the
    // index scan reads exactly the three index columns
    val reads = "ReadSchema: struct<([^>\n]*)".r.findAllMatchIn(d).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.exists(r => r.contains("band") && r.contains("bucket")),
      s"index parquet scan missing:\n$d")
    assert(reads.count(_.contains("text")) == 1,
      s"corpus text re-read — index not reused (scans: $reads):\n$d")
  }

  test("brute-force ANN broadcasts the query side; corpus never shuffles raw vectors (q44)") {
    val p = executedPlan(SparkEntry.queries("q44_ann_brute")(spark, dir))
    assert(p.contains("BroadcastExchange"), s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan fell back to a cartesian product:\n$p")
    // exactly one shuffle exchange: the final per-query top-k
    assert("(?m)\\+- Exchange \\(".r.findAllIn(p).size <= 1,
      s"corpus raw vectors shuffled:\n$p")
  }

  test("exact count-distinct plans the two-phase expansion with map-side partials (q12)") {
    val d = details(SparkEntry.queries("q12_count_distinct")(spark, dir))
    assert("partial_count".r.findFirstIn(d).isDefined, s"no partial aggregation:\n$d")
    // phase 1 groups by (keys, value) before the final count — two shuffle
    // exchanges in the FINAL adaptive plan
    val finalTree = d.substring(0, math.max(d.indexOf("== Initial Plan =="), 0) match {
      case 0 => d.length; case i => i
    })
    assert("(?m)\\+- Exchange \\(".r.findAllIn(finalTree).size == 2,
      s"expected the two-phase distinct shape:\n$d")
  }

  test("mixture take broadcasts the plan side and bounds each stratum with a window limit (q90)") {
    val d = details(SparkEntry.queries("q90_mixture_take")(spark, dir))
    assert(d.contains("BroadcastExchange") || d.contains("BroadcastHashJoin"),
      s"allocation plan not broadcast:\n$d")
    assert(!d.contains("CartesianProduct"), s"cartesian fallback:\n$d")
  }

  test("partitioned store prunes partitions at the scan (q107)") {
    val d = details(SparkEntry.queries("q107_partitioned")(spark, dir))
    assert("PartitionFilters: \\[[^\\]]*o_orderpriority".r.findFirstIn(d).isDefined,
      s"partition filter not pruned at scan:\n$d")
    // the partition predicate must NOT survive as a data filter
    assert(!"PushedFilters: \\[[^\\]]*o_orderpriority".r.findFirstIn(d).isDefined,
      s"partition column leaked into data filters:\n$d")
  }

  test("IVF assignment partial-aggregates the scored stream — no window argmin (q64/q94)") {
    import org.apache.spark.sql.functions.col
    val emb = sf("embeddings")
    val cent = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    // default assignment is the NARROW fold over the embedded centroid
    // literal: a pure scan→project pipeline — no exchange, no join, no
    // window; vectors never shuffle at all
    val p = executedPlan(graft.similarity.Similarity.ivfAssign(emb, cent))
    assert(!p.contains("Window"), s"window argmin back in the assignment:\n$p")
    assert(!p.contains("Exchange"), s"narrow assignment grew an exchange:\n$p")
    assert(!p.contains("Join"), s"narrow assignment grew a join:\n$p")
    // the exchange-based fallback (very large k / distributed centroids)
    // must stay a groupBy+min_by: the n×k scored stream collapses
    // map-side (a partial aggregate below the exchange), never a
    // row_number window sorting the whole scored stream per vec_id
    val ps = executedPlan(graft.similarity.Similarity.ivfAssignShuffled(emb, cent))
    assert(!ps.contains("Window"), s"window argmin back in the shuffled assignment:\n$ps")
    assert("(?s)Exchange.*Aggregate.*Join".r.findFirstIn(ps).isDefined,
      s"no partial aggregate below the exchange:\n$ps")
    // ivfTopK: only the final per-query rank is a window; both cell
    // assignments aggregate
    val q = executedPlan(graft.similarity.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 5), cent, k = 5))
    assert("(?m)^.*Window ".r.findAllIn(q).size <= 1,
      s"assignment windows leaked into ivfTopK:\n$q")
  }

  test("mixture take two-phase: bucket-parallel cumsum, no whole-stratum window (q90)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q90_mixture_take")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    // the row-level running sum (ordered by the content hash) must be
    // partitioned by (stratum, bucket) — coarseBuckets-way parallel — not
    // by the stratum alone (the whole-corpus-through-5-reducers shape)
    val rowWindows = plan.collect {
      case w: LWindow if w.orderSpec.exists(_.child.toString.contains("__h")) => w
    }
    assert(rowWindows.nonEmpty, s"expected the bucket-level cumsum window:\n$plan")
    rowWindows.foreach { w =>
      assert(w.partitionSpec.size >= 2 &&
        w.partitionSpec.exists(_.toString.contains("__b")),
        s"row-level cumsum not bucket-partitioned:\n$plan")
    }
    // the histogram cumsum (ordered by bucket id) runs over an Aggregate —
    // metadata-sized input, not the corpus
    val histWindows = plan.collect {
      case w: LWindow if w.orderSpec.exists(_.child.toString.contains("__b")) => w
    }
    assert(histWindows.nonEmpty, s"expected the bucket-histogram window:\n$plan")
    histWindows.foreach { w =>
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        s"histogram window not over the bucket aggregate:\n$plan")
    }
  }

  test("cross-doc shingle stats: plain aggregates, no per-shingle window (q78)") {
    val p = executedPlan(SparkEntry.queries("q78_passage_dup")(spark, dir))
    assert(!p.contains("Window"),
      s"hot-shingle window back in crossDocShingleStats:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
  }

  test("PCA projection and softmax scoring are pure narrow maps (q111, q112)") {
    // the corpus-scale model-application passes must plan zero exchanges:
    // a d²-multiply map fused into the scan, nothing else
    for (q <- Seq("q111_pca_whiten", "q112_softmax_class")) {
      val p = executedPlan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Exchange"), s"$q shuffles — not a narrow map:\n$p")
      assert(!p.contains("Window"), s"$q plans a window:\n$p")
    }
  }

  test("duplicate spans broadcast the hot-shingle set; one window sort per doc (q93)") {
    val p = executedPlan(SparkEntry.queries("q93_duplicate_spans")(spark, dir))
    // AQE must resolve the pos-vs-hot join as broadcast (hot set << positions)
    assert(p.contains("BroadcastHashJoin"), s"hot-shingle join not broadcast:\n$p")
    // lag + running-sum share ONE window sort: exactly one Sort node expected
    assert("(?m)^.*Sort \\[".r.findAllIn(p).size <= 1,
      s"island windows did not share a sort:\n$p")
  }

  test("deterministic shuffle ranks bucket-parallel — no single-task global sort (q127)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q127_det_shuffle")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    // the row-level rank window (ordered by the content hash) must be
    // partitioned by the bucket id — an empty partitionSpec is the whole
    // corpus through ONE task
    val rankWindows = plan.collect {
      case w: LWindow if w.orderSpec.exists(_.child.toString.contains("__h")) => w
    }
    assert(rankWindows.nonEmpty, s"expected the in-bucket rank window:\n$plan")
    rankWindows.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.exists(_.toString.contains("__b")),
        s"rank window not bucket-partitioned:\n$plan")
    }
    // the offset prefix-sum (ordered by bucket id) runs over an Aggregate —
    // buckets-row metadata, not the corpus — so its global window is fine
    val offWindows = plan.collect {
      case w: LWindow if w.orderSpec.exists(_.child.toString.contains("__b")) => w
    }
    assert(offWindows.nonEmpty, s"expected the bucket-offset window:\n$plan")
    offWindows.foreach { w =>
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        s"offset window not over the bucket aggregate:\n$plan")
    }
    // the bucket-offset table joins back as a broadcast (metadata-sized)
    val p = executedPlan(df)
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets not broadcast:\n$p")
  }

  test("concurrency: cumsum bucket-partitioned, offsets broadcast over an aggregate (q161)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q161_concurrency")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    // the per-boundary running sum (ordered by t) must partition by the
    // range bucket — an empty partitionSpec funnels every boundary
    // through ONE task
    val cumWindows = plan.collect {
      case w: LWindow if w.orderSpec.exists(_.child.toString.contains("t#")) => w
    }
    assert(cumWindows.nonEmpty, s"expected the in-bucket cumsum window:\n$plan")
    cumWindows.foreach { w =>
      assert(w.partitionSpec.exists(_.toString.contains("__b")),
        s"cumsum window not bucket-partitioned:\n$plan")
    }
    // the bucket-offset prefix (ordered by __b) is a window over the
    // bucket AGGREGATE — metadata, not boundaries
    val offWindows = plan.collect {
      case w: LWindow if w.orderSpec.exists(_.child.toString.contains("__b")) => w
    }
    assert(offWindows.nonEmpty, s"expected the bucket-offset window:\n$plan")
    offWindows.foreach { w =>
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        s"offset window not over the bucket aggregate:\n$plan")
    }
    val p = executedPlan(df)
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets not broadcast:\n$p")
  }

  test("skyline: refine is broadcast over distinct vectors; copies return by semi-join (q162)") {
    val df = SparkEntry.queries("q162_skyline")(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    val p = df.queryExecution.executedPlan.toString
    // the dominance refine must be a broadcast nested-loop anti-join over
    // the distinct candidate vectors, and the row recovery a broadcast
    // LeftSemi equi-join — the corpus is never shuffled for either
    assert(p.contains("BroadcastNestedLoopJoin"), s"refine not broadcast:\n$p")
    assert(p.contains("LeftSemi") &&
      (p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin")),
      s"row recovery not a broadcast semi-join:\n$p")
  }

  test("decayed counts / EWM / trend are single partial aggregates, no windows (q171/q174/q176)") {
    Seq("q171_decayed_counts", "q174_linear_trend", "q176_decayed_stats").foreach { q =>
      val p = details(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Window"), s"$q plans a window:\n$p")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$q has no aggregate:\n$p")
      // map-side partials: a hot key combines before the exchange
      assert(p.toLowerCase.contains("partial"), s"$q missing partial agg:\n$p")
    }
  }

  test("attribution: keyed join with in-condition window, count election partial-aggregates (q170)") {
    val p = details(SparkEntry.queries("q170_attribution")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"attribution fell to a product join:\n$p")
    assert(p.toLowerCase.contains("partial"), s"no partial aggregate:\n$p")
  }

  test("paragraph dedup partial-aggregates the winner election — no per-paragraph window (q128)") {
    val p = executedPlan(SparkEntry.queries("q128_paragraph_dedup")(spark, dir))
    // the first-occurrence election is a min() aggregate over the paragraph
    // hash: a boilerplate paragraph in 10^8 docs partial-aggregates
    // map-side instead of sorting through one reducer
    assert(!"(?m)^.*Window".r.findFirstIn(p).exists(_ => true) ||
      !p.contains("partition by __ph"),
      s"per-paragraph-hash window in the election:\n$p")
    assert("HashAggregate.*partial".r.findFirstIn(p.toLowerCase.replaceAll("\n", " "))
      .isDefined || p.contains("HashAggregate"),
      s"no hash aggregate in the winner election:\n$p")
  }

  test("SemDeDup: broadcast centroid assignment, one cell-key shuffle, no window (q129)") {
    val df = SparkEntry.queries("q129_semdedup")(spark, dir)
    val p = executedPlan(df)
    // centroid table broadcasts into the assignment pass
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n$p")
    // the argmin is min_by partial aggregation, never a window over n×k rows
    assert(!p.contains("Window"), s"window argmin resurfaced in semDedup:\n$p")
    // in-cell pairing shuffles on centroid_id (SMJ or shuffled hash join),
    // never a cross product over the corpus
    assert(!p.contains("CartesianProduct"), s"corpus-wide product join:\n$p")
  }

  test("quantile sketch pre-prunes map-side via WindowGroupLimit (q134)") {
    val p = executedPlan(SparkEntry.queries("q134_quantile_sketch")(spark, dir))
    // the bottom-k rank filter must reach a WindowGroupLimit so every map
    // task ships ~k rows per group, never the group
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("incremental SemDeDup prunes the index to touched cells via broadcast (q135)") {
    // audit the screen stage directly: the full operator checkpoints it,
    // which truncates the visible lineage
    import org.apache.spark.sql.functions.col
    val emb = sf("embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val idx = graft.dedup.Dedup.semDedupIndex(emb.filter(col("vec_id") >= 100), cents)
    val screen = graft.dedup.Dedup.semDedupScreen(
      emb.filter(col("vec_id") < 100), idx, cents, threshold = 0.45)
    // raw executed-plan string: the formatted mode cuts AQE output at the
    // first query-stage boundary, hiding the join stages
    screen.queryExecution.toRdd.foreach(_ => ())
    val p = screen.queryExecution.executedPlan.toString
    // the batch's distinct cell-id set broadcasts into the index scan;
    // nothing ever goes corpus-wide
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"touched-cell prune not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-wide product join:\n$p")
    // an oversized batch (estimate in GiB, one row past the row cap, 2-d
    // vectors) fails both tiers of Joins.boundedBroadcast: the batch joins
    // as its snapshot, and neither the probe's build side nor the
    // matched-id side of the anti-join may broadcast it. The decision runs
    // its row-capped count; the screen itself is only planned.
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.functions.{array, lit}
    import spark.implicits._
    val cents2 = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("centroid_id", "cvec")
    val idx2 = graft.dedup.Dedup.semDedupIndex(
      Seq((-1L, Array(1f, 0.5f))).toDF("vec_id", "embedding"), cents2)
    val bigBatch = spark.range(1L << 28)
      .filter(col("id") <= graft.operators.Joins.BroadcastMaxRows)
      .select(col("id").as("vec_id"),
        array(lit(1f), (col("id") % 7).cast("float")).as("embedding"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val plan = graft.dedup.Dedup.semDedupScreen(bigBatch, idx2, cents2, threshold = 0.9)
        .queryExecution.sparkPlan
      val builds = plan.collect {
        case j: BroadcastHashJoinExec => if (j.buildSide == BuildLeft) j.left else j.right
        case j: BroadcastNestedLoopJoinExec => if (j.buildSide == BuildLeft) j.left else j.right
      }
      assert(plan.exists(_.isInstanceOf[RDDScanExec]), s"no batch snapshot:\n$plan")
      assert(!builds.exists(_.exists(_.isInstanceOf[RDDScanExec])),
        s"an oversized batch-derived side broadcasts:\n$plan")
    } finally spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!before(id)) rdd.unpersist(blocking = false) }
  }

  test("prefix similarity join: positional+length filters sit in the pair join; no product (q142)") {
    val df = SparkEntry.queries("q142_dedup_prefix")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    // the PPJoin positional bound (and the t-factor length filter) must be
    // part of the pair-generation JOIN CONDITION so candidates prune
    // before the distinct and the verification join ever see them
    assert(opt.contains("__pos"), s"positional filter missing from plan:\n$opt")
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"product join in prefix path:\n$p")
    // round-14 barrier (same trick as q101's levenshtein pin): the EXACT
    // jaccard division must sit ABOVE the max()-aggregate barrier, never
    // pushed into the candidate-attach join, where join-condition codegen
    // does not CSE and would evaluate the sorted-set merge-count twice
    // per candidate (~1.3x on the verify stage). The WEAK single-
    // occurrence product-form prune is deliberately pushable (it keeps
    // the barrier's exchange at ~output size) — so each join condition
    // may reference the merge-count AT MOST ONCE.
    val d = details(df)
    val joinConds = d.linesIterator.filter(_.contains("Join condition"))
      .mkString("\n").toLowerCase
    assert(!joinConds.contains("sortedintersectcount") ||
        joinConds.linesIterator.forall(l =>
          "sortedintersectcount".r.findAllIn(l).size <= 1),
      s"verify merge-count evaluated more than once in a join condition:\n$joinConds")
    assert(d.toLowerCase.contains("sortedintersectcount"),
      s"verify disappeared from the plan:\n$d")
    // ...and the exact jaccard division never lands in a join condition
    // (the pair-generation join's own positional bound legitimately
    // divides, but over scalar length columns — never the merge-count)
    assert(joinConds.linesIterator.forall(l =>
        !(l.contains("sortedintersectcount") && l.contains(" / "))),
      s"exact jaccard division pushed into a join condition:\n$joinConds")
  }

  test("bloom: one partial aggregation builds the cells; the probe join broadcasts the sketch (q143)") {
    val df = SparkEntry.queries("q143_bloom_membership")(spark, dir)
    val p = executedPlan(df)
    assert(p.contains("BroadcastHashJoin"), s"sketch probe not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in bloom probe:\n$p")
  }

  test("winnow overlap: the hot-fingerprint cap is a broadcast anti-join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a passage shared by every doc makes its fingerprints HOT (held by
    // > cap docs), so the exclusion join survives AQE's empty-relation
    // elision and must appear as a broadcast anti-join
    val passage = "common header tokens one two three four five six seven"
    val rare = "rare shared passage alpha beta gamma delta epsilon zeta eta"
    // docs 0 and 1 also share a sub-cap passage, so the result is
    // non-empty and AQE cannot collapse the whole plan to EmptyRelation
    val docs = (0L until 20L)
      .map(i => (i, s"$passage u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g" +
        (if (i < 2) s" $rare" else "")))
      .toDF("doc_id", "text")
    val df = graft.dedup.Dedup.winnowOverlapJoin(docs, n = 4, w = 4,
      minShared = 1, maxDocsPerFp = Some(5))
    val p = executedPlan(df)
    assert(p.contains("LeftAnti"), s"hot-fp exclusion not an anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"hot-fp set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in winnow overlap:\n$p")
  }

  test("SemDeDup: the exact in-cell self-join is size-capped and the overflow path is banded") {
    // the quadratic join must be guarded by the cell-size cap, and an
    // oversized cell must route through the (centroid, band, sig-slice)
    // key so no single cell key goes |cell|² in one task
    val df = SparkEntry.queries("q129_semdedup")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("__cell_n"), s"cell-size routing missing from plan:\n$opt")
    assert(opt.contains("__band") && opt.contains("__key"),
      s"banded overflow path missing from plan:\n$opt")
  }

  test("winsorize: sketch pass window-group-limits; bounds broadcast back (q148)") {
    val d = details(SparkEntry.queries("q148_winsorize")(spark, dir))
    // the bottom-k sample must pre-prune map-side, and the tiny per-group
    // bounds table must broadcast into the full scan — the data itself is
    // never shuffled
    assert(d.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$d")
    assert(d.contains("BroadcastHashJoin"), s"bounds not broadcast in:\n$d")
  }

  test("gapFill: bucket election partial-aggregates map-side (q147)") {
    val d = details(SparkEntry.queries("q147_gap_fill")(spark, dir))
    // latest-per-bucket is a max_by aggregation with a map-side partial —
    // a hot bucket combines before the exchange, never a per-event window
    assert("partial_max_by|partial_maxby".r.findFirstIn(d.toLowerCase).isDefined
      || d.toLowerCase.contains("partial"), s"no partial aggregate in:\n$d")
  }

  test("kmvSetOps: pairing joins metadata-size sketches, never content (q146)") {
    val df = SparkEntry.queries("q146_kmv_setops")(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    val p = df.queryExecution.executedPlan.toString
    // the theta pair join (source_a < source_b) must broadcast one sketch
    // side — S rows of <= k longs — not shuffle token streams
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"pair join is not broadcast in:\n$p")
  }

  test("rubix read plans ONE TASK PER BLOCK — the reference's InputSplit unit (q193)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-audit-rubix").toString + "/d"
    val df = (1 to 200).map(i => (i % 7, i.toLong)).toDF("grp", "v")
    graft.sources.Rubix.write(df, out, partitionKeys = Seq("grp"))
    val blocks = graft.sources.Rubix.describe(spark, out).map(_.blocks.size).sum
    assert(blocks == 7, s"expected one block per key, got $blocks")
    val rdd = graft.sources.Rubix.read(spark, out).rdd
    assert(rdd.getNumPartitions == blocks,
      s"read fan-out ${rdd.getNumPartitions} != block count $blocks")
  }

  test("KMV incremental MV: the merge re-aggregates bottom-k with a map-side partial (q195)") {
    val df = SparkEntry.queries("q195_kmv_mv")(spark, dir)
    val d = details(df)
    // the per-(date,key) sketch explode → bottom-k re-take must partial-
    // aggregate before its exchange (ObjectHashAggregate for the UDAF);
    // a merge that shipped raw exploded hashes would shuffle k× more
    assert(d.contains("ObjectHashAggregate") || d.contains("SortAggregate"),
      s"no object aggregate in:\n$d")
    assert(d.toLowerCase.contains("partial"), s"no partial agg in:\n$d")
  }

  /** (jobs, SQL executions) that `body` starts, counted by a listener on a
    * drained bus so the counts hold that call alone.
    */
  private def counted(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.get, execs.get)
  }

  /** [[counted]] over building query `q` and consuming it into a no-op sink. */
  private def buildAndConsume(q: String): (Int, Int) =
    counted(SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save())

  test("selection loops: one job per round, no SQL execution in the loop (q208/q209)") {
    // budgets are today's counts with zero tolerance: k = 8 rounds, one
    // job each (the round's state materializes inside its pick job), and
    // one SQL execution before the loop, where the quantized points drop
    // to their RDD. The table resolves first: reading a parquet schema
    // runs jobs of its own.
    Tables.load(spark, dir, "embeddings")
    val kc = counted(SparkEntry.queries("q208_kcenter_greedy")(spark, dir))
    assert(kc == ((8, 1)), s"q208 (jobs, SQL executions) = $kc, budget (8, 1)")
    // q209 first looks its query vector up with one more query and job
    val mmr = counted(SparkEntry.queries("q209_mmr_select")(spark, dir))
    assert(mmr == ((9, 2)), s"q209 (jobs, SQL executions) = $mmr, budget (9, 2)")
  }

  test("graph loops: one job per round, no SQL execution in the loop, one RDD left (q199/q201)") {
    // budgets are today's counts, build plus consume, zero tolerance: one
    // job that builds the graph blocks, one job per round (9 for q159: 8
    // peels and the degree round; 5 for q199, 4 for q201) and the
    // consume's one job, whose write is the one SQL execution; q199 and
    // q201 add their edge query's two AQE stages. q159's count was the
    // same in 8 of 8 repeats. Afterwards only the returned frame's state
    // RDD is still persisted. The tables resolve first (reading a parquet
    // schema runs jobs of its own).
    spark.catalog.clearCache()
    Seq("orders", "lineitem", "documents").foreach(Tables.load(spark, dir, _))
    val sc = spark.sparkContext
    Seq("q159_kcore" -> ((11, 1)), "q199_pagerank" -> ((9, 1)),
      "q201_label_prop" -> ((8, 1))).foreach {
      case (q, budget) =>
        val before = sc.getPersistentRDDs.keySet
        val got = buildAndConsume(q)
        assert(got == budget, s"$q (jobs, SQL executions) = $got, budget $budget")
        val left = sc.getPersistentRDDs.filterNot { case (id, _) => before(id) }
        assert(left.size <= 1, s"$q left ${left.values.mkString(", ")} persisted")
    }
  }

  test("duplicate clusters: one job per round, no SQL execution in the loop, nothing left (q60/q65/q121/q125/q211)") {
    // budgets are today's counts, build plus consume, zero tolerance, each
    // the same in 8 of 8 repeats: the pair query's jobs, the graph block
    // build, one job per components round, and the two SQL executions that
    // materialize the labeling and write the consume (the star rounds ran
    // 40 to 45 jobs and 9 to 13 SQL executions). Once the labeling is
    // unpersisted, nothing the query made is still persisted.
    spark.catalog.clearCache()
    Tables.load(spark, dir, "documents")
    val sc = spark.sparkContext
    Seq("q60_dedup_clusters" -> ((10, 2)), "q65_dedup_survivors" -> ((11, 2)),
      "q121_soft_dedup" -> ((13, 2)), "q125_dedup_keep_best" -> ((14, 2)),
      "q211_string_clusters" -> ((15, 2))).foreach { case (q, budget) =>
      val before = sc.getPersistentRDDs.keySet
      val got = buildAndConsume(q)
      assert(got == budget, s"$q (jobs, SQL executions) = $got, budget $budget")
      spark.catalog.clearCache()
      val left = sc.getPersistentRDDs.filterNot { case (id, _) => before(id) }
      assert(left.isEmpty, s"$q left ${left.values.mkString(", ")} persisted")
    }
  }

  test("broadcast decisions start no job where the size estimate decides (q30/q31/q135)") {
    // budgets are the counts before the dictionary and screen decisions
    // moved into Joins.boundedBroadcast, zero tolerance: the dictionaries
    // and the sf0.001 batch decide from the plan estimate. The tables
    // resolve first (reading a parquet schema runs jobs of its own), and no
    // other suite's cached relation may stand in for a scan.
    spark.catalog.clearCache()
    Seq("orders", "lineitem", "customer", "embeddings").foreach(Tables.load(spark, dir, _))
    def build(q: String) = SparkEntry.queries(q)(spark, dir)
    val budgets = Seq("q30_dict_encode" -> ((4, 1)), "q31_dict_roundtrip" -> ((5, 1)))
    budgets.foreach { case (q, budget) =>
      val got = buildAndConsume(q)
      assert(got == budget, s"$q (jobs, SQL executions) = $got, budget $budget")
    }
    // q135 decides while its plan is built: (5, 4) there. Building and
    // consuming it runs 12 or 13 jobs from one run to the next in 5 SQL
    // executions (AQE; the count varied the same way before the move).
    val screen = counted(build("q135_semdedup_batch_index"))
    assert(screen == ((5, 4)), s"q135 build (jobs, SQL executions) = $screen, budget (5, 4)")
    val (jobs, execs) = buildAndConsume("q135_semdedup_batch_index")
    assert(jobs <= 13 && execs == 5, s"q135 (jobs, SQL executions) = ($jobs, $execs), " +
      "budget (<= 13, 5)")
  }

  test("kernel-heavy dedup queries keep their job budgets (q40/q41/q142)") {
    // budgets are the counts before the native kernel expressions moved
    // onto one shared body, build plus consume, zero tolerance: each was
    // the same in 8 of 8 repeats
    spark.catalog.clearCache()
    Tables.load(spark, dir, "documents")
    Seq("q40_dedup_ngram" -> ((6, 2)), "q41_dedup_minhash" -> ((3, 1)),
      "q142_dedup_prefix" -> ((9, 3))).foreach { case (q, budget) =>
      val got = buildAndConsume(q)
      assert(got == budget, s"$q (jobs, SQL executions) = $got, budget $budget")
    }
  }

  test("graph pair: triangle wedges and k-core peels are equi-joins, never products (q155/q159)") {
    // the round-12 scale-honest fixtures must keep scale-shaped plans:
    // orientation + wedge close as equi-joins over O(E), and the k-core
    // peel's one plan a projection over the graph kernel's state, with no
    // join or window at all — a product anywhere is a 100 TB killer the
    // correctness gate cannot see
    val dTri = details(SparkEntry.queries("q155_triangles")(spark, dir))
    assert(!dTri.contains("CartesianProduct"), s"product in triangle plan:\n$dTri")
    assert(dTri.contains("LeftSemi"), s"wedge close is not a semi join:\n$dTri")
    val dKc = details(SparkEntry.queries("q159_kcore")(spark, dir))
    assert(!dKc.contains("CartesianProduct"), s"product in k-core plan:\n$dKc")
    assert(!dKc.contains("Window"), s"window in k-core plan:\n$dKc")
  }

  test("streaming dedup screens hold ZERO streaming state; the batch body is a stream-static join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-audit-screen").toString
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("centroid_id", "cvec")
    val corpus = Seq((500L, Array(2f, 0.1f))).toDF("vec_id", "embedding")
    val index = graft.dedup.Dedup.semDedupIndex(corpus, cents)
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Streaming.embeddingScreenStream(
      in.toDF().toDF("vec_id", "embedding"), index, cents,
      s"$tmp/out", s"$tmp/ck", threshold = 0.97)
    try {
      in.addData((5L, Array(4f, 0.2f)), (6L, Array(-3f, 0.1f)))
      q.processAllAvailable()
      // every micro-batch screens against STATIC state (the stored index)
      // — no StateStore operator anywhere, so executors carry nothing
      // between batches and the screen restarts from the checkpoint alone
      val prog = q.lastProgress
      assert(prog != null && prog.stateOperators.isEmpty,
        s"streaming state operators present: ${prog.stateOperators.mkString(",")}")
    } finally q.stop()
    // the batch body's plan (identical code path) joins batch-vs-index
    // with equi-joins and resolves survivors with a semi/anti join —
    // never a product, never a window over the corpus
    val b0 = Seq((5L, Array(4f, 0.2f)), (6L, Array(-3f, 0.1f)))
      .toDF("vec_id", "embedding")
    val keep = graft.dedup.Dedup.semDedupAgainstIndex(
      b0, index, cents, threshold = 0.97).select("vec_id")
    val d = details(b0.join(keep, Seq("vec_id"), "left_semi"))
    assert(d.contains("LeftSemi"), s"no semi join resolving survivors:\n$d")
    assert(!d.contains("CartesianProduct"), s"product join in screen body:\n$d")
    assert(!d.contains("Window"), s"window in screen body:\n$d")
  }

  test("LET bindings leave no preprocessor residue: the executed plan holds the evaluated literal") {
    // range-derived (NOT a local Seq): ConvertToLocalRelation would fold
    // the filter away and leave nothing to audit
    val df = spark.range(10).selectExpr("id AS x", "id AS y")
    val rels = graft.script.ScriptEngine.run(spark,
      """LET THRESH = 2 + 2 + 1;
        |g = FILTER t BY y >= $THRESH;""".stripMargin,
      env0 = Map("t" -> df))
    val d = details(rels("g"))
    // the binding evaluated at preprocess time: the plan compares against
    // the folded constant (delimited match — a bare "5" appears in any
    // plan via expression ids) and carries no $-token or LET machinery
    assert(">= 5\\b".r.findFirstIn(d).isDefined,
      s"evaluated LET constant missing from plan:\n$d")
    assert(!d.contains("$THRESH") && !d.contains("THRESH"),
      s"LET residue in executed plan:\n$d")
  }

  // Counter budget: a repeated run compiles no generated class. The
  // sequence needs about 180 distinct classes, more than Spark's default
  // 100-entry compiled-class cache. Each query generates the same code on
  // every run (0 compiles over 7 repeats in one JVM); headline queries whose
  // AQE re-planning depends on which stage finishes first (q155, q166, q167,
  // q184, ...) generate new code now and then, and are left out.
  test("a repeated headline sequence compiles no generated class the second time") {
    val sequence = Seq("q15_join_merge", "q162_skyline", "q161_concurrency",
      "q175_concurrency_by", "q147_gap_fill")
    def runSequence(): Unit = sequence.foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
    }
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    runSequence()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runSequence()
    val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(added == 0, s"the second run of ${sequence.mkString(", ")} recompiled $added " +
      s"generated classes; the compiled-class cache (${GraftSession.CodegenCacheEntries} " +
      "entries) no longer holds the working set, or a plan generates new code per run")
  }
}
