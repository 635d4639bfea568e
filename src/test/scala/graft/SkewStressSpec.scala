package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Adversarial skew fixtures: a boilerplate paragraph / shingle / embedding
  * repeated 10^5 times. These pin the 100×-scale claims the docstrings
  * make — each operator must finish promptly BECAUSE its hot key collapses
  * in a map-side partial aggregate (a per-key window or an unbounded
  * same-key self-join would go quadratic here and time the suite out), and
  * the answers must stay exact under the skew.
  */
class SkewStressSpec extends SparkSpec {
  import spark.implicits._

  private val Hot = 100000

  test(s"paragraphDedup: a paragraph duplicated $Hot times elects one winner map-side") {
    // every doc = the hot boilerplate + a unique paragraph
    val docs = spark.range(Hot)
      .select(col("id").as("doc_id"),
        concat(lit("shared boilerplate header\n"), lit("unique para "),
          col("id").cast("string")).as("text"))
    val out = Dedup.paragraphDedup(docs)
    // plan: the election must stay an aggregate, never a window over __ph
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(__ph"),
      s"per-paragraph-hash window under skew:\n$plan")
    val rows = out.collect()
    assert(rows.length == Hot)
    // exactly one document keeps the boilerplate (the smallest (id, idx))
    val keepers = rows.filter(_.getAs[String]("text_dedup")
      .contains("shared boilerplate header"))
    assert(keepers.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L))
    // everyone keeps their unique paragraph
    assert(rows.forall(r => r.getAs[String]("text_dedup")
      .contains(s"unique para ${r.getAs[Long]("doc_id")}")))
  }

  test(s"crossDocShingleStats: a shingle shared by $Hot docs stays a plain aggregate") {
    // every doc: 8 hot tokens (one corpus-wide shingle) + enough unique
    // tokens for doc-private shingles
    val docs = spark.range(Hot)
      .select(col("id").as("doc_id"),
        concat(lit("a b c d e f g h "),
          lit("u"), col("id").cast("string"), lit("x "),
          lit("u"), col("id").cast("string"), lit("y")).as("text"))
    val out = Dedup.crossDocShingleStats(docs, n = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("windowspecdefinition"),
      s"window funnels the hot shingle through one task:\n$plan")
    val rows = out.collect()
    assert(rows.length == Hot)
    // 10 tokens → 3 distinct 8-shingles; the first (pure hot prefix) is
    // shared corpus-wide, the two touching the unique tokens are private
    val r0 = rows.find(_.getAs[Long]("doc_id") == 7L).get
    assert(r0.getAs[Long]("n_shingles") == 3L, r0.toString)
    assert(r0.getAs[Long]("n_dup_shingles") == 1L, r0.toString)
  }

  test(s"ngramJaccard: a shingle shared by $Hot docs is capped by DEFAULT, true pairs survive") {
    // every doc opens with the same boilerplate 3-gram; uncapped, that one
    // shingle alone generates ~Hot²/2 candidate pairs and the suite times
    // out — the default cap must drop it from pair generation (loudly)
    // while pairs backed by non-hot shingles still surface
    val crowd = spark.range(Hot)
      .select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma uniq"), col("id").cast("string"),
          lit("p uniq"), col("id").cast("string"), lit("q")).as("text"))
    val clones = Seq(
      (Hot.toLong, "alpha beta gamma clone pair text"),
      (Hot.toLong + 1, "alpha beta gamma clone pair text")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(crowd.unionByName(clones), n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the clones share 4 shingles, but "alpha beta gamma" is capped out of
    // the intersection while union sizes keep full sets: 3/(4+4-3) = 0.6 —
    // the documented lower bound, and the ONLY pair reported
    assert(out.toSeq == Seq((Hot.toLong, Hot.toLong + 1, 0.6)), out.mkString(","))
  }

  test(s"capPerKey: a $Hot-row hot domain ships only its quota through the cap") {
    // one domain holds 10^5 rows, the long tail holds a few; the
    // WindowGroupLimit pre-prune must keep the cap cheap and exact
    val docs = spark.range(Hot)
      .select(col("id").as("doc_id"), lit("hotdomain").as("source"))
      .unionByName(spark.range(5)
        .select((col("id") + 1000000).as("doc_id"), lit("rare").as("source")))
    val quotas = Seq(("hotdomain", 3L), ("rare", 10L)).toDF("source", "quota")
    val out = graft.operators.Sampling.capPerKey(
      docs, "source", Seq(col("doc_id")), quotas, defaultQuota = 3L)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("hotdomain") == 3L && bySource("rare") == 5L, bySource.toString)
    // deterministic: the quota keeps the SMALLEST doc_ids under this order
    val hotIds = out.filter(col("source") === "hotdomain")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hotIds == Set(0L, 1L, 2L), hotIds.toString)
  }

  test(s"interleaveStrata: one stratum with $Hot rows still yields contiguous positions") {
    val docs = spark.range(Hot)
      .select(col("id").as("doc_id"), lit("en").as("lang"))
      .unionByName(spark.range(3)
        .select((col("id") + 1000000).as("doc_id"), lit("fr").as("lang")))
    val out = graft.operators.Sampling.interleaveStrata(docs, col("lang"), col("doc_id"))
    val n = Hot + 3L
    val stats = out.agg(min("pos"), max("pos"), count(lit(1))).collect().head
    assert(stats.getLong(0) == 1L && stats.getLong(1) == n && stats.getLong(2) == n,
      stats.toString)
    // the 3 fr docs round-robin into the head of the order, not the tail
    val frMax = out.filter(col("lang") === "fr").agg(max("pos")).head.getLong(0)
    assert(frMax <= 6L, s"minority stratum clumped at pos $frMax")
  }

  test(s"semDedup: $Hot identical embeddings collapse before any pairwise stage") {
    // the Abbas-adversary: one boilerplate embedding duplicated 10^5
    // times — the naive in-cell self-join would form ~10^10 pairs
    val hot = spark.range(Hot).select((col("id") + 100).as("vec_id"),
      array(lit(1f), lit(0.05f)).as("embedding"))
    val rest = Seq(
      (1L, Array(0.1f, 2f)),   // far, different cell — survives
      (2L, Array(3f, 0.15f))   // same direction as the hot group, smaller
                               // id → becomes the group's conqueror
    ).toDF("vec_id", "embedding")
    val corpus = hot.unionByName(rest)
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("centroid_id", "cvec")
    val out = Dedup.semDedup(corpus, cents, threshold = 0.99)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // survivors: 1 (alone in its cell), 2 (smallest id in the hot
    // direction); the hot rep (id 100) is dropped by 2, all other copies
    // by the identical-collapse
    assert(out == Set(1L, 2L), s"got ${out.take(10)}... (${out.size} rows)")
  }

  test(s"gapFill: $Hot events in one (key, bucket) elect one value map-side") {
    // one user hammers a single hour; the bucket election must be a
    // partial max_by aggregation, never a per-event window
    val ev = spark.range(Hot)
      .select(lit(1L).as("k"), (lit(1000000L) + col("id")).as("ts"),
        col("id").cast("double").as("v"), col("id").as("tb"))
      .unionByName(Seq((1L, 5L, 7.5, -1L)).toDF("k", "ts", "v", "tb"))
    val out = graft.operators.WindowOps.gapFill(ev, Seq("k"), "ts", "v",
      step = 3600L * 1000000L, tieBreak = "tb")
    val rows = out.collect()
    // hot bucket 0 keeps the LAST event's value (max (ts, tb))
    val hot = rows.find(_.getAs[Long]("bucket") == 0L).get
    assert(hot.getAs[Double]("v") == (Hot - 1).toDouble)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial_max_by") ||
      plan.toLowerCase.contains("partial_maxby") ||
      plan.toLowerCase.contains("max_by"), s"no max_by aggregate:\n$plan")
  }

  test(s"funnel: a $Hot-event hot user stays k keyed aggregations, no window") {
    val ev = spark.range(Hot)
      .select(lit(1L).as("u"), col("id").as("ts"),
        when(col("id") % 3 === 0, "view").when(col("id") % 3 === 1, "click")
          .otherwise("purchase").as("et"))
    val out = graft.operators.Behavior.funnel(ev, "u", "ts", Seq(
      col("et") === "view", col("et") === "click", col("et") === "purchase"))
    val r = out.collect()
    assert(r.length == 1 && r.head.getAs[Long]("depth") == 3L)
    // earliest in-order times: view@0, click@1, purchase@2
    assert(r.head.getAs[Long]("t0") == 0L && r.head.getAs[Long]("t1") == 1L &&
      r.head.getAs[Long]("t2") == 2L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in funnel plan:\n$plan")
  }

  test(s"funnelSinglePass: a $Hot-event hot user folds in one pass, same frontier") {
    val ev = spark.range(Hot)
      .select(lit(1L).as("u"), col("id").as("ts"),
        when(col("id") % 3 === 0, "view").when(col("id") % 3 === 1, "click")
          .otherwise("purchase").as("et"))
    val out = graft.operators.Behavior.funnelSinglePass(ev, "u", "ts", Seq(
      col("et") === "view", col("et") === "click", col("et") === "purchase"))
    val r = out.collect()
    assert(r.length == 1 && r.head.getAs[Long]("depth") == 3L)
    assert(r.head.getAs[Long]("t0") == 0L && r.head.getAs[Long]("t1") == 1L &&
      r.head.getAs[Long]("t2") == 2L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in single-pass funnel plan:\n$plan")
  }

  test(s"asofJoinBucketed: a $Hot-event hot key spreads over time buckets, same answer") {
    import graft.operators.Joins
    // one entity, 10^5 left events + 10^4 right updates: the plain form
    // funnels all of it through ONE window task; the bucketed form must
    // partition by (key, bucket) and still produce the identical frontier
    val l = spark.range(Hot).select(lit("hot").as("k"), col("id").as("ts"))
      .unionByName(Seq(("cold", 5L), ("cold", 500L)).toDF("k", "ts"))
    val r = spark.range(Hot / 10)
      .select(lit("hot").as("k"), (col("id") * 10).as("rts"), (col("id") * 10).as("v"))
      .unionByName(Seq(("cold", 100L, -1L)).toDF("k", "rts", "v"))
    val bucketed = Joins.asofJoinBucketed(l, r, Seq("k"), "ts", "rts",
      bucketWidth = 1000L, how = "left_outer")
    // the window must partition by the bucket, never by the key alone
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("__bkt"), s"bucketed window missing from plan")
    // output = left columns then right payload (rts, v); v is index 3
    val got = bucketed.collect().map(x =>
      (x.getString(0), x.getLong(1), Option(x.get(3)).map(_.asInstanceOf[Long]))).toSet
    // closed form: left ts t matches the greatest multiple of 10 <= t
    val expectHot = (0L until Hot.toLong).map(t => ("hot", t, Some(t / 10 * 10))).toSet
    val expect = expectHot ++ Set(("cold", 5L, None), ("cold", 500L, Some(-1L)))
    assert(got == expect)
    // and it agrees with the union-window oracle on a thinned slice
    val lThin = l.filter(col("ts") % 997 === 0)
    val a = Joins.asofJoin(lThin, r, Seq("k"), "ts", "rts", "left_outer")
      .collect().map(_.toSeq).toSet
    val b = Joins.asofJoinBucketed(lThin, r, Seq("k"), "ts", "rts", 1000L, "left_outer")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("asofJoinBucketed: carry crosses empty buckets and exact boundaries") {
    import graft.operators.Joins
    // right rows only in bucket 0; left rows far later (empty buckets
    // between), plus one left row exactly on a bucket boundary shared
    // with a right row (the boundary tie must prefer the real row)
    val l = Seq(("a", 10L), ("a", 5000L), ("a", 9000L), ("a", 3000L),
      ("b", 100L)).toDF("k", "ts")
    val r = Seq(("a", 7L, "early"), ("a", 3000L, "boundary")).toDF("k", "rts", "v")
    val out = Joins.asofJoinBucketed(l, r, Seq("k"), "ts", "rts", 1000L, "left_outer")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getString(3))).toSet
    assert(out == Set(("a", 10L, "early"), ("a", 3000L, "boundary"),
      ("a", 5000L, "boundary"), ("a", 9000L, "boundary"), ("b", 100L, null)))
    // negative timestamps floor into the right bucket
    val ln = Seq(("n", -1L), ("n", -1500L)).toDF("k", "ts")
    val rn = Seq(("n", -2000L, "neg")).toDF("k", "rts", "v")
    val outN = Joins.asofJoinBucketed(ln, rn, Seq("k"), "ts", "rts", 1000L)
      .collect().map(x => (x.getLong(1), x.getString(3))).toSet
    assert(outN == Set((-1L, "neg"), (-1500L, "neg")))
  }

  test(s"quantileMatch: a value tied $Hot times shares one rank and one matched value") {
    val df = spark.range(Hot).select(col("id"), lit(5.0).as("v"), lit("g").as("g"))
      .unionAll(spark.range(2).select((col("id") + Hot).as("id"),
        (col("id") * 10 + 1).cast("double").as("v"), lit("g").as("g")))
    val out = graft.operators.Sketches.quantileMatch(df, "v", "id", Seq("g"),
      nQ = 10, k = 64)
    val hotRows = out.filter(col("v") === 5.0)
      .select("prank", "matched").distinct().collect()
    // all 10^5 tied rows share ONE (rank, matched) pair — the tie never
    // fans out into per-row work downstream
    assert(hotRows.length == 1, hotRows.mkString(","))
  }

  test(s"skyline: a point tied $Hot times refines one representative, all copies survive") {
    // the tie-adversary: 10^5 exact copies of one frontier point — a
    // row-level refine would form ~10^10 candidate pairs; the
    // distinct-vector refine sees ONE representative and the copies
    // return through the equi semi-join
    val hot = spark.range(Hot).select(lit(9).as("x"), lit(9).as("y"))
    val rest = Seq((1, 5), (10, 1), (2, 2)).toDF("x", "y")
    val out = graft.operators.Relational.skyline(hot.unionByName(rest),
      maxCols = Seq("x", "y"))
    val rows = out.collect().map(r => (r.getInt(0), r.getInt(1)))
    // frontier vectors: (9,9) and (10,1); (1,5) and (2,2) die to (9,9)
    assert(rows.count(_ == ((9, 9))) == Hot, s"tied copies lost: ${rows.length}")
    assert(rows.toSet == Set((9, 9), (10, 1)), rows.toSet.toString)
  }

  test(s"chiSquare: a $Hot-row hot category collapses to one contingency cell") {
    val hot = spark.range(Hot).select(lit("x").as("a"), lit("u").as("b"))
    val rest = Seq(("y", "v"), ("y", "u")).toDF("a", "b")
    val out = graft.operators.Behavior.chiSquare(hot.unionByName(rest), "a", "b").head()
    assert(out.getAs[Long]("n") == Hot + 2L)
    assert(out.getAs[Long]("dof") == 1L)
    assert(out.getAs[Double]("chi2") > 0.0 && !out.getAs[Double]("cramers_v").isNaN)
  }

  /** `body`'s answer and the shuffle records its last shuffle-writing
    * stage wrote: for a one-round graph loop, that round's messages.
    */
  private def lastShuffleRecords[T](body: => T): (T, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    @volatile var last = 0L
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val n = e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        if (n > 0) last = n
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerDrain(sc)
      (out, last)
    } finally sc.removeSparkListener(listener)
  }

  /** at most one message record per (map block, target block) */
  private def blocks: Long = spark.conf.get("spark.sql.shuffle.partitions").toLong

  test(s"pageRankPortable: a $Hot-in-degree hub node partial-aggregates map-side, exactly") {
    // a power-law graph at 100 TB guarantees a hub; here every one of the
    // 10^5 source nodes points at node 0. Each block must sum the hub's
    // contributions before the round's shuffle — one record per target
    // block, never the raw 10^5 messages.
    val edges = spark.range(1, Hot + 1)
      .select(col("id").as("src"), lit(0L).as("dst"))
    // integer replay: n = 100001 nodes, r0 = 1e9 div n = 9999, teleport
    // base = (15e7) div n = 1499; after one iteration the hub holds
    // base + (85 · 10^5·9999) div 100 and every source holds base
    val (out, records) = lastShuffleRecords(graft.operators.Matrix
      .pageRankPortable(edges, iters = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val expectedHub = 1499L + (85L * (Hot.toLong * 9999L)) / 100L
    assert(out(0L) == expectedHub, s"hub rank ${out(0L)} != $expectedHub")
    assert(out(1L) == 1499L && out(Hot.toLong) == 1499L, out(1L).toString)
    assert(out.size == Hot + 1)
    assert(records <= blocks * blocks, s"the round shuffled $records message records")
  }

  test(s"labelPropagation: a $Hot-in-degree hub resolves its label in partial aggregates") {
    val edges = spark.range(1, Hot + 1)
      .select(col("id").as("src"), lit(0L).as("dst"))
    // one sync round: the hub adopts the minimum source label (all
    // neighbor labels tie at count 1 → min-label wins); sources have no
    // in-edges and keep their own labels
    val (out, records) = lastShuffleRecords(graft.operators.Matrix
      .labelPropagation(edges, iters = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(out(0L) == 1L, s"hub label ${out(0L)} != 1")
    assert((1 to 5).forall(i => out(i.toLong) == i.toLong), out.take(5).toString)
    // the hub's 10^5 (hub, label) votes are distinct, so each block
    // still ships them in one record per target block
    assert(records <= blocks * blocks, s"the round shuffled $records message records")
  }

  test(s"graph loops: a $Hot-out-degree hub sends from one block, exactly") {
    // a star both ways: node 0's 10^5 out-edges live in one graph block
    // and fan out to every other block each round
    val leaves = spark.range(1, Hot + 1)
    val edges = leaves.select(lit(0L).as("src"), col("id").as("dst"))
      .unionByName(leaves.select(col("id").as("src"), lit(0L).as("dst")))
    // n = 100001, r0 = 9999, base = 1499. Round 1: the hub's share
    // 9999 div 10^5 is 0, each leaf sends its 9999 to the hub. Round 2:
    // the hub sends h1 div 10^5 to each leaf, each leaf sends base.
    val h1 = 1499L + (85L * (Hot * 9999L)) / 100L
    val (pr, records) = lastShuffleRecords(graft.operators.Matrix
      .pageRankPortable(edges, iters = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(pr.size == Hot + 1)
    val hub = 1499L + (85L * (Hot * 1499L)) / 100L
    val leaf = 1499L + (85L * (h1 / Hot)) / 100L
    assert(pr(0L) == hub, s"hub rank ${pr(0L)} != $hub")
    assert((1L to Hot).forall(pr(_) == leaf), s"a leaf rank differs from $leaf")
    assert(records <= blocks * blocks, s"the round shuffled $records message records")
    // LPA: round 1 the hub takes the smallest leaf label and every leaf
    // the hub's; round 2 they swap
    val lpa = graft.operators.Matrix.labelPropagation(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa(0L) == 0L && (1L to Hot).forall(lpa(_) == 1L), lpa.take(5).toString)
  }

  test(s"concurrency: $Hot intervals sharing one boundary collapse before the cumsum") {
    // every interval opens at t=0 — the boundary table has 2 rows, not
    // 10^5, because deltas collapse by timestamp in a partial aggregate
    val iv = spark.range(Hot).select(lit(0L).as("s"), lit(10L).as("e"))
    val out = graft.operators.Behavior.concurrency(iv, "s", "e")
    val rows = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows == Map(0L -> Hot.toLong, 10L -> 0L), rows.toString)
  }
}
