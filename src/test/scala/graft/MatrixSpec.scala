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

  test("pageRankPortable: exact integer fixpoint on the 2-cycle, agrees with float ranking") {
    // 1 ⇄ 2 in nano-mass: r0 = 5e8 each; every iteration keeps
    // 75e6 + (85 * 5e8) div 100 = 5e8 exactly — an integer fixpoint
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r2 = Matrix.pageRankPortable(cyc, iters = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r2 == Map(1L -> 500000000L, 2L -> 500000000L), r2.toString)
    // on a non-trivial graph the integer variant must rank like a float
    // power iteration: r'(v) = 0.15/n + 0.85·Σ_{u→v} r(u)/deg(u)
    val triEdges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    val tri = triEdges.toDF("src", "dst")
    val deg = triEdges.groupBy(_._1).map { case (u, out) => u -> out.size }
    var fr = Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3)
    for (_ <- 1 to 20) fr = fr.map { case (v, _) =>
      v -> (0.15 / 3 + 0.85 * triEdges.collect { case (u, `v`) => fr(u) / deg(u) }.sum)
    }
    val fOrder = fr.toSeq.sortBy(-_._2).map(_._1)
    val qOrder = Matrix.pageRankPortable(tri, iters = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._2).map(_._1).toSeq
    assert(fOrder == qOrder, s"float $fOrder vs integer $qOrder")
    // floors only ever LOSE mass: total stays within 1e-6 of 1
    val total = Matrix.pageRankPortable(tri, iters = 20).collect().map(_.getLong(1)).sum
    assert(total <= 1000000000L && total > 999000000L, total.toString)
  }

  test("pageRankPortable: sink nodes ride the state with NULL degree (r17 deg-in-state)") {
    // 1 → 2, 2 dangling: 2 has no out-edges, so it contributes nothing
    // and keeps collecting base + damped-in mass.
    // Hand-unrolled: n=2, base=75e6, r0=5e8 each.
    //   iter1: 1 = base = 75e6;               2 = base + (85·(5e8 div 1)) div 100 = 5e8
    //   iter2: 1 = base = 75e6;               2 = base + (85·(75e6 div 1)) div 100 = 138,750,000
    val g = Seq((1L, 2L)).toDF("src", "dst")
    val r = Matrix.pageRankPortable(g, iters = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 75000000L, 2L -> 138750000L), r.toString)
  }

  /** Plain-Scala replays of [[Matrix.pageRankPortable]] and
    * [[Matrix.labelPropagation]] over an edge list: distinct edges, nodes
    * = src ∪ dst, one synchronous integer round per iteration.
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int, pct: Int = 85): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).map { case (v, out) => v -> out.size.toLong }
    val base = (1000000000L * (100 - pct) / 100) / n
    var r = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to iters) {
      val s = e.groupBy(_._2).map { case (v, in) => v -> in.map(x => r(x._1) / deg(x._1)).sum }
      r = nodes.map(v => v -> (base + pct * s.getOrElse(v, 0L) / 100)).toMap
    }
    r
  }

  private def refLabels(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var l = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      val won = e.groupBy(_._2).map { case (v, in) =>
        v -> in.groupBy(x => l(x._1)).toSeq.map { case (lab, vs) => (-vs.size, lab) }.min._2
      }
      l = nodes.map(v => v -> won.getOrElse(v, l(v))).toMap
    }
    l
  }

  /** A plain-Scala replay of [[Matrix.kCore]]: the simple undirected edge
    * set, `maxIter` peels of every edge with an end of degree < k, and the
    * degrees of the edges left.
    */
  private def refKCore(edges: Seq[(Long, Long)], k: Int, maxIter: Int): Map[Long, Long] = {
    def degrees(e: Set[(Long, Long)]): Map[Long, Long] =
      e.toSeq.flatMap { case (u, v) => Seq(u, v) }.groupBy(identity).map { case (v, s) => v -> s.size.toLong }
    var e = edges.collect { case (u, v) if u != v => (u min v, u max v) }.toSet
    for (_ <- 1 to maxIter) {
      val d = degrees(e)
      e = e.filter { case (u, v) => d(u) >= k && d(v) >= k }
    }
    degrees(e)
  }

  /** Union-find with the least id as each component's label. */
  private def refComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(v => v -> find(v)).toMap
  }

  private def rows(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body` with `spark.sql.shuffle.partitions` — the graph's block count — at `p` */
  private def withBlocks[T](p: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("graph kernel equals a plain-Scala replay at p = 1, 3 and 4") {
    // sinks (7, 8, Long.MaxValue), duplicate edges, self-loops (5, 9),
    // extreme ids, and in-label ties that the smaller label must win
    val rnd = new scala.util.Random(9)
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue)
    val fixed = Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L), (5L, 6L),
      (6L, 7L), (6L, 8L), (9L, 9L), (9L, 9L), (Long.MinValue, 6L), (-1L, 6L),
      (Long.MinValue, Long.MaxValue), (Long.MaxValue - 1, Long.MinValue + 1),
      (Long.MinValue + 1, Long.MaxValue - 1), (0L, Long.MinValue))
    val random = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)) ++
      Seq.fill(20)((extremes(rnd.nextInt(6)), rnd.nextInt(30).toLong))
    // two nodes in one block: at p = 3 and 4 the other blocks hold none
    val mate = Iterator.from(17).map(_.toLong).find(y => Seq(3, 4).forall(p =>
      Matrix.blockOf(y, p) == Matrix.blockOf(16L, p))).get
    val pair = Seq((16L, mate), (mate, 16L))
    for (edges <- Seq(fixed, random, pair); p <- Seq(1, 3, 4)) withBlocks(p) {
      val df = edges.toDF("src", "dst")
      for (iters <- Seq(1, 3)) {
        assert(rows(Matrix.pageRankPortable(df, iters)) == refPageRank(edges, iters),
          s"pageRankPortable at p = $p, $iters iterations")
      }
      for (iters <- Seq(1, 4)) {
        assert(rows(Matrix.labelPropagation(df, iters)) == refLabels(edges, iters),
          s"labelPropagation at p = $p, $iters iterations")
      }
    }
  }

  test("transpose swaps coordinates") {
    val at = Matrix.transpose(a.toDF("i", "k", "v"))
      .orderBy("i", "k").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(at.toSeq == Seq((0L, 0L, 1.0), (0L, 1L, 3.0), (1L, 0L, 2.0), (1L, 1L, 4.0)))
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

  test("kCore equals a plain-Scala peel replay at p = 1, 3 and 4") {
    // random multigraphs with duplicates, self-loops and extreme ids; K5
    // with a path 4-5-6-7-8-9 whose peel depth exceeds maxIter, so the
    // answer holds path nodes of degree < k
    val rnd = new scala.util.Random(10)
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue)
    val random = Seq.fill(4)(Seq.fill(90)((rnd.nextInt(25).toLong - 5, rnd.nextInt(25).toLong - 5)))
    val extreme = Seq.fill(60)((extremes(rnd.nextInt(6)), rnd.nextInt(8).toLong)) ++
      (for (a <- extremes; b <- extremes) yield (a, b))
    val k5 = for (i <- 0L to 4L; j <- 0L to 4L if i < j) yield (i, j)
    val path = k5 ++ (4L to 8L).map(i => (i + 1, i))
    val short = refKCore(path, k = 2, maxIter = 2)
    assert(short.get(7L).contains(1L) && !short.contains(8L), short.toString)
    for (p <- Seq(1, 3, 4)) withBlocks(p) {
      val cases = random.flatMap(e => Seq((e, 3, 2), (e, 5, 6))) ++
        Seq((extreme, 2, 1), (extreme, 3, 4), (path, 2, 2), (path, 3, 1), (path, 3, 3))
      for ((edges, k, maxIter) <- cases) {
        assert(rows(Matrix.kCore(edges.toDF("u", "v"), k, maxIter)) == refKCore(edges, k, maxIter),
          s"kCore k = $k, maxIter = $maxIter at p = $p")
      }
      // k above every core
      assert(Matrix.kCore(random.head.toDF("u", "v"), k = 40, maxIter = 3).collect().isEmpty)
    }
  }

  test("connected components equal a plain-Scala union-find at p = 1, 3 and 4") {
    // random multigraphs with duplicates, self-loops and extreme ids
    val rnd = new scala.util.Random(11)
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue)
    val random = Seq.fill(4)(Seq.fill(40)((rnd.nextInt(50).toLong - 10, rnd.nextInt(50).toLong - 10)))
    val extreme = Seq.fill(30)((extremes(rnd.nextInt(6)), rnd.nextInt(12).toLong)) ++
      Seq((5L, 5L), (5L, 5L), (Long.MaxValue, Long.MaxValue - 1), (40L, 41L), (41L, 40L))
    for (p <- Seq(1, 3, 4); edges <- random :+ extreme) withBlocks(p) {
      val labels = graft.dedup.Dedup.dupClusters(edges.toDF("id_a", "id_b"))
      try assert(rows(labels) == refComponents(edges), s"components at p = $p of $edges")
      finally labels.unpersist()
    }
  }

  test("connected components of a 2,000-node path settle in at most 2·⌈log2 n⌉ rounds") {
    // ids in a seeded random order, so no round finds the path sorted
    val ids = new scala.util.Random(12).shuffle((0L until 2000L).toVector)
    val path = ids.zip(ids.tail)
    val (labels, rounds) = graft.dedup.Dedup.dupClustersWithRounds(path.toDF("id_a", "id_b"))
    try {
      assert(rows(labels) == ids.map(_ -> 0L).toMap)
      assert(rounds <= 22, s"$rounds rounds")
    } finally labels.unpersist()
  }

  test("graph kernel carries messages to targets in other blocks") {
    // every edge crosses blocks at p = 4, so every message must take the
    // round's shuffle: a round whose messages stayed in the sender's
    // block would reach none of its targets
    val a = (0L until 40L).filter(Matrix.blockOf(_, 4) == 0)
    val b = (0L until 40L).filter(Matrix.blockOf(_, 4) == 1)
    val edges = a.zip(b).flatMap { case (x, y) => Seq((x, y), (y, x), (x, b.head)) }
    assert(edges.forall { case (s, d) => Matrix.blockOf(s, 4) != Matrix.blockOf(d, 4) })
    withBlocks(4) {
      val df = edges.toDF("src", "dst")
      assert(rows(Matrix.pageRankPortable(df, 2)) == refPageRank(edges, 2))
      assert(rows(Matrix.labelPropagation(df, 3)) == refLabels(edges, 3))
    }
  }

  test("graph loops reject NULL and non-integral endpoints and keep nothing") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val nullSrc = Seq[(Option[Long], Long)]((Some(1L), 2L), (None, 1L)).toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException](Matrix.pageRankPortable(nullSrc, 1))
    assert(e1.getMessage.contains("NULL src"), e1.getMessage)
    val nullDst = Seq[(Long, Option[Long])]((1L, Some(2L)), (2L, None)).toDF("src", "dst")
    val e2 = intercept[IllegalArgumentException](Matrix.labelPropagation(nullDst, 1))
    assert(e2.getMessage.contains("NULL dst"), e2.getMessage)
    val nulls = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (None, None)).toDF("u", "v")
    for (df <- Seq(nullSrc, nullDst, nulls)) {
      val e = intercept[IllegalArgumentException](Matrix.kCore(df, k = 1))
      assert(e.getMessage.matches(".*kCore: an edge has a NULL (src|dst)"), e.getMessage)
    }
    assert(sc.getPersistentRDDs.keySet.forall(before), "a rejected input left RDDs persisted")
    // ints are ids; strings and doubles are not
    assert(rows(Matrix.labelPropagation(Seq((1, 2)).toDF("src", "dst"), 1)) ==
      Map(1L -> 1L, 2L -> 1L))
    val e3 = intercept[IllegalArgumentException](
      Matrix.pageRankPortable(Seq(("a", "b")).toDF("src", "dst"), 1))
    assert(e3.getMessage.contains("src must be an integral type"), e3.getMessage)
    intercept[IllegalArgumentException](
      Matrix.labelPropagation(Seq((1L, 2.0)).toDF("src", "dst"), 1))
    val e4 = intercept[IllegalArgumentException](Matrix.kCore(Seq(("a", "b")).toDF("u", "v"), k = 1))
    assert(e4.getMessage.contains("must be an integral type"), e4.getMessage)
    // a consumed result holds its one state RDD, nothing more
    val held = sc.getPersistentRDDs.keySet
    Matrix.pageRankPortable(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), 3).collect()
    assert(sc.getPersistentRDDs.keySet.count(!held(_)) <= 1, sc.getPersistentRDDs.toString)
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
