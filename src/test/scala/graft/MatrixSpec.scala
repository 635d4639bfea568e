package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Matrix

class MatrixSpec extends SparkSpec {
  import spark.implicits._

  //      [1 2]       [5 6]          [1*5+2*7  1*6+2*8]   [19 22]
  // A =  [3 4]   B = [7 8]   A×B =  [3*5+4*7  3*6+4*8] = [43 50]
  private val a = Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 0L, 3.0), (1L, 1L, 4.0))
  private val b = Seq((0L, 0L, 5.0), (0L, 1L, 6.0), (1L, 0L, 7.0), (1L, 1L, 8.0))

  test("spMM multiplies dense 2x2 correctly") {
    val c = Matrix.spMM(a.toDF("i", "k", "v"), b.toDF("k", "j", "w"))
      .orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(c == Seq((0L, 0L, 19.0), (0L, 1L, 22.0), (1L, 0L, 43.0), (1L, 1L, 50.0)))
  }

  test("spMM skips structural zeros (sparse semantics)") {
    // A has no entry for k=1 on row 0 → C(0,j) only sees k=0 contributions
    val sa = Seq((0L, 0L, 2.0)).toDF("i", "k", "v")
    val sb = Seq((0L, 0L, 3.0), (1L, 0L, 9.0)).toDF("k", "j", "w")
    val c = Matrix.spMM(sa, sb).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(c.toSeq == Seq((0L, 0L, 6.0))) // the k=1 entry of B never pairs
  }

  test("pageRank: exact on a 2-cycle, mass-conserving and ordered on a triangle") {
    // a ⇄ b: perfectly symmetric → rank stays exactly 1/2 every iteration
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r2 = Matrix.pageRank(cyc, iters = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(r2("a") == 0.5 && r2("b") == 0.5)
    // a→b, a→c, b→c, c→a: c collects from two sources → highest rank
    val tri = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val r3 = Matrix.pageRank(tri, iters = 40).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(r3.values.sum - 1.0) < 1e-9, s"mass not conserved: $r3")
    assert(r3("c") > r3("a") && r3("a") > r3("b"), s"unexpected order: $r3")
  }

  test("pageRankPortable: exact integer fixpoint on the 2-cycle, agrees with float ranking") {
    // a ⇄ b in nano-mass: r0 = 5e8 each; every iteration keeps
    // 75e6 + (85 * 5e8) div 100 = 5e8 exactly — an integer fixpoint
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r2 = Matrix.pageRankPortable(cyc, iters = 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(r2 == Map("a" -> 500000000L, "b" -> 500000000L), r2.toString)
    // on a non-trivial graph the integer variant must rank like the float one
    val tri = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val fOrder = Matrix.pageRank(tri, iters = 20).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(-_._2).map(_._1).toSeq
    val qOrder = Matrix.pageRankPortable(tri, iters = 20).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(-_._2).map(_._1).toSeq
    assert(fOrder == qOrder, s"float $fOrder vs integer $qOrder")
    // floors only ever LOSE mass: total stays within 1e-6 of 1
    val total = Matrix.pageRankPortable(tri, iters = 20).collect().map(_.getLong(1)).sum
    assert(total <= 1000000000L && total > 999000000L, total.toString)
  }

  test("pageRankPortable: sink nodes ride the state with NULL degree (r17 deg-in-state)") {
    // a → b, b dangling: deg(b) is NULL in the state tuple — the r17
    // rewrite must treat it exactly like the old ranks⋈deg INNER join
    // (b contributes nothing, keeps collecting base + damped-in mass).
    // Hand-unrolled: n=2, base=75e6, r0=5e8 each.
    //   iter1: a = base = 75e6;               b = base + (85·(5e8 div 1)) div 100 = 5e8
    //   iter2: a = base = 75e6;               b = base + (85·(75e6 div 1)) div 100 = 138,750,000
    val g = Seq(("a", "b")).toDF("src", "dst")
    val r = Matrix.pageRankPortable(g, iters = 2).collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(r == Map("a" -> 75000000L, "b" -> 138750000L), r.toString)
  }

  test("lpaRound: decimal-linearized argmax == min(struct) reference, extreme labels included") {
    // the r17 ord = (−cnt)·2^64 + (label + 2^63) encoding must elect the
    // struct form's winner for EVERY signed-long label, ties to min label
    val rnd = new scala.util.Random(17)
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue)
    val labelPool = extremes ++ Seq.fill(40)(rnd.nextLong())
    // edges: dst 0..9, each with 3-8 in-neighbors whose labels draw from
    // the pool (duplicate labels → count ties broken by min label)
    val rows = (0L to 9L).flatMap { dst =>
      Seq.fill(3 + rnd.nextInt(6))((labelPool(rnd.nextInt(labelPool.size)), dst))
    }
    // node ids double as labels (labels = identity map on src ∪ dst — the
    // loop invariant: labelPropagation always carries EVERY node, so a
    // round's vote targets are a subset of the labeled nodes)
    val e = rows.toDF("src", "dst")
    val labels = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
      .select(col("node"), col("node").as("label"))
    val got = Matrix.lpaRound(e, labels, identity).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference = the pre-r18 round: struct-min winner election LEFT-joined
    // back onto labels with the keep-own-label coalesce (lpaRound now
    // folds that join into the election as a zero-count self-vote)
    val winner = e.join(labels.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("node")
      .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("__w"))
      .select(col("node"), col("__w.label").as("__new"))
    val want = labels.join(winner, Seq("node"), "left")
      .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"decimal argmax diverges: $got vs $want")
    // the label column stays non-null across the extremes (a decimal
    // overflow would surface as NULL under non-ANSI semantics — the
    // count-ceiling guard exists precisely so that can never be silent)
    assert(Matrix.lpaRound(e, labels, identity)
      .filter(col("label").isNull).isEmpty, "NULL winner — silent overflow")
  }

  test("transpose swaps coordinates and spMV broadcasts the vector") {
    val at = Matrix.transpose(a.toDF("i", "k", "v"))
      .orderBy("i", "k").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(at.toSeq == Seq((0L, 0L, 1.0), (0L, 1L, 3.0), (1L, 0L, 2.0), (1L, 1L, 4.0)))
    // y = A x with x = (1, 10) → (21, 43)
    val x = Seq((0L, 1.0), (1L, 10.0)).toDF("k", "w")
    val y = Matrix.spMV(a.toDF("i", "k", "v"), x)
    val p = y.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"vector side should broadcast:\n$p")
    assert(y.orderBy("i").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((0L, 21.0), (1L, 43.0)))
  }

  test("triangleCount: exact on known graphs, robust to duplicates and ties") {
    import graft.operators.Matrix
    def n(edges: Seq[(Long, Long)]) =
      Matrix.triangleCount(edges.toDF("u", "v")).collect().head.getLong(0)
    // K4 has C(4,3) = 4 triangles; duplicate/reversed/self edges ignored
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i != j) yield (i, j)
    assert(n(k4 ++ Seq((0L, 0L), (1L, 0L))) == 4L)
    // two triangles sharing an edge (all degrees tie-heavy)
    assert(n(Seq((0L, 1L), (1L, 2L), (0L, 2L), (1L, 3L), (2L, 3L))) == 2L)
    // a path has none
    assert(n(Seq((0L, 1L), (1L, 2L), (2L, 3L))) == 0L)
  }

  test("kCore peels to the exact k-core (K5 with a pendant path)") {
    import graft.operators.Matrix
    // K5 on 0..4 plus path 4-5-6: 3-core = exactly K5 (degrees 4)
    val k5 = for (i <- 0L to 4L; j <- 0L to 4L if i < j) yield (i, j)
    val edges = (k5 ++ Seq((4L, 5L), (5L, 6L))).toDF("u", "v")
    val out = Matrix.kCore(edges, k = 3, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (0L to 4L).map(_ -> 4L).toMap, out.toString)
    // k larger than any core: empty result, no infinite loop
    assert(Matrix.kCore(edges, k = 5, maxIter = 10).count() == 0)
  }

  test("graph rounds plan with or without the state broadcast; answers unchanged") {
    def undirected(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val g = undirected((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    // plan pin on the iteration shape itself (the loop's checkpoints erase
    // per-iteration plans): the identity side leaves the contribution join
    // with NO BroadcastExchange, the broadcast side gives it one (which side
    // a node count picks is Joins.boundedBroadcast's, pinned in JoinsSpec).
    // AQE's size-based auto-broadcast is disabled so the pin tests the
    // side, not the optimizer's small-table shortcut.
    val deg = g.groupBy("src").agg(count(lit(1)).as("deg"))
    val state = g.select(col("src").as("node")).distinct()
      .select(col("node"), lit(100L).as("r"))
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), col("r"), col("deg"))
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffleSide: DataFrame => DataFrame = identity
      val pShuffle = Matrix.prRound(g, state, shuffleSide, base = 100L, dampingPct = 85)
      pShuffle.queryExecution.toRdd.foreach(_ => ())
      val planS = pShuffle.queryExecution.executedPlan.toString
      assert(!planS.contains("BroadcastExchange"),
        s"the identity side still broadcasts:\n$planS")
      val bcastSide: DataFrame => DataFrame = broadcast(_)
      val pBcast = Matrix.prRound(g, state, bcastSide, base = 100L, dampingPct = 85)
      pBcast.queryExecution.toRdd.foreach(_ => ())
      val planB = pBcast.queryExecution.executedPlan.toString
      assert(planB.contains("BroadcastExchange"),
        s"the broadcast side should broadcast the rank side:\n$planB")
      // either side gives one round the same rows
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      val pr = rows(pShuffle)
      assert(pr.size == 6 && pr == rows(pBcast), s"$pr vs ${rows(pBcast)}")
      val labels = state.select(col("node"), col("node").as("label"))
      assert(rows(Matrix.lpaRound(g, labels, shuffleSide)) ==
        rows(Matrix.lpaRound(g, labels, bcastSide)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("reliableCheckpoint: iterative ops survive on a checkpoint dir, answers unchanged") {
    def undirected(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val g = undirected((1L, 2L), (1L, 3L), (2L, 3L), (3L, 10L), (10L, 11L))
    // without a checkpoint dir the flag must fail loudly, not silently
    // fall back to executor-local blocks (skip if another suite set one)
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      intercept[IllegalArgumentException] {
        Matrix.pageRankPortable(g, iters = 1, reliableCheckpoint = true)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val local = Matrix.pageRankPortable(g, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Matrix.pageRankPortable(g, iters = 3, reliableCheckpoint = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == reliable, s"local $local vs reliable $reliable")
    val lpa = Matrix.labelPropagation(g, iters = 3, reliableCheckpoint = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa == Matrix.labelPropagation(g, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val kc = Matrix.kCore(g, k = 2, maxIter = 5, reliableCheckpoint = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kc == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), kc.toString)
    val cc = graft.dedup.Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b"),
      reliableCheckpoint = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L), cc.toString)
    // the reliable variant actually wrote checkpoint data
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty, "no checkpoint data written")
  }

  test("labelPropagation: two cliques bridged by one edge resolve to two communities") {
    // cliques {1,2,3} and {10,11,12} plus a single bridge 3-10; sync LPA
    // with min-label ties collapses each clique to its smallest id
    def undirected(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val g = undirected((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val out = Matrix.labelPropagation(g, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L, out.toString)
    assert(Set(out(10L), out(11L), out(12L)).size == 1, out.toString)
    // an isolated-source node (in-edges only from it) keeps its own label
    val lone = undirected((1L, 2L)).unionByName(
      Seq((99L, 1L)).toDF("src", "dst"))
    val out2 = Matrix.labelPropagation(lone, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2(99L) == 99L, out2.toString)
  }
}
