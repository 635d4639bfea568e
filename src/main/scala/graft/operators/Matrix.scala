package graft.operators

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RddBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Sparse-matrix operations as relational dataflow — the reference's "graph
  * computation" story (README §Graph: sparse matrix multiplication written
  * as blocked join+aggregate scripts; COLLATE VECTOR BLOCK feeds per-vector
  * blocks — operator/CollateVectorBlockOperator.java:45). In Spark the whole
  * pattern is one shuffle join on the contraction dimension plus one
  * aggregation — Catalyst plans the partial aggregation and AQE handles the
  * hub-row skew that made the reference pre-block its matrices.
  *
  * Matrices are COO triples (i, k, v). At 100 TB scale: the join shuffles
  * both operands on `k` (or runs shuffle-free over blockgen'd/bucketed
  * operands with a shared bucket spec on `k`), and the (i,j) aggregation is
  * partial+final. Power-law graphs (hub columns) → AQE skew split or
  * `Joins.saltedJoin` on the same keys. The iterative graph loops (integer
  * PageRank, label propagation, k-core, connected components) keep
  * Cubert's own shape instead: the graph is blocked once and each round's
  * state blocks meet it where it lives ([[graphRounds]]).
  */
object Matrix {

  /** C = A × B over COO triples: A(i,k,v), B(k,j,w) → C(i,j) = Σ_k v·w.
    * Column names are positional contracts: a = (i, k, v), b = (k, j, w).
    */
  def spMM(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.toDF("i", "k", "v")
    val r = b.toDF("k", "j", "w")
    l.join(r, Seq("k"))
      .groupBy("i", "j")
      .agg(sum(col("v") * col("w")).as("val"))
  }

  /** A^T as COO: swap coordinates (pure projection, no shuffle). */
  def transpose(a: DataFrame): DataFrame = {
    val t = a.toDF("i", "k", "v")
    t.select(col("k").as("i"), col("i").as("k"), col("v"))
  }

  /** PageRank in EXACT integer arithmetic, bit-portable (the KMV/LM-score
    * posture): ranks live in 10^9 "nano-mass" units, per-edge contributions
    * are integer divisions (r div deg, deg = a node's distinct out-edges),
    * damping is the rational dampingPct/100 applied as (pct·s) div 100, and
    * the teleport base is computed once, before the rounds, with the same
    * long divisions an external engine would use. Every iteration is therefore a
    * pure function of integers — an oracle can replay N unrolled iterations
    * hash-for-hash, which float PageRank (summation-order-sensitive
    * doubles) never allows. The floors bleed < 1e-9·deg mass per node per
    * iteration — ranking-irrelevant. Nodes with no out-edges contribute
    * nothing.
    *
    * Runs on [[graphRounds]]: one shuffle builds the graph blocks, then
    * each iteration is one shuffle and one job, up to `iters` or the first
    * iteration that changes no rank. Endpoints are integral ids; the
    * result is (node, r) as bigint.
    */
  def pageRankPortable(edges: DataFrame, iters: Int,
                       dampingPct: Int = 85,
                       reliableCheckpoint: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(dampingPct >= 0 && dampingPct <= 100, s"bad dampingPct: $dampingPct")
    graphRounds(edges, iters, reliableCheckpoint, "pageRankPortable") { n =>
      val scale = 1000000000L
      require(n > 0, "empty graph")
      require(n <= scale,
        s"pageRankPortable: $n nodes exceeds the 10^9 nano-mass scale — " +
          "initial ranks would truncate to zero; shard the graph")
      PageRank(scale / n, (scale * (100 - dampingPct) / 100) / n, dampingPct)
    }.frame
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own community; each round it adopts the most frequent
    * label among its NEIGHBORS, ties to the smallest label — fully
    * deterministic integer arithmetic, so a fixed round count replays
    * hash-for-hash in an oracle (the [[pageRankPortable]] posture; the
    * classic async/random LPA is neither). Nodes with no in-edges keep
    * their label. Pass the edge set in both directions for undirected
    * semantics. Synchronous LPA can oscillate on bipartite structure —
    * pick `iters` as the community resolution dial, not a convergence
    * guarantee (standard for sync LPA).
    *
    * Runs on [[graphRounds]] like [[pageRankPortable]]; the result is
    * (node, label) as bigint.
    */
  def labelPropagation(edges: DataFrame, iters: Int,
                       reliableCheckpoint: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    graphRounds(edges, iters, reliableCheckpoint, "labelPropagation")(_ => Lpa).frame
  }

  /** Connected components ([[Cc]]) of an edge relation of integral ids,
    * read in both directions, for at most `maxIter` rounds. `label` maps
    * the (doc_id, cluster) bigint rows to the caller's labeling, which is
    * returned persisted and materialized, with the rounds taken; the
    * kernel's state is released first. A labeling still changing after
    * `maxIter` rounds throws.
    */
  private[graft] def connectedComponents(edges: DataFrame, maxIter: Int, reliable: Boolean)
                                        (label: DataFrame => DataFrame): (DataFrame, Int) = {
    val run = graphRounds(edges, maxIter, reliable, "dupClusters", undirected = true)(_ => Cc)
    try {
      require(run.fixpoint, s"dupClusters did not converge within $maxIter rounds")
      val labels = label(run.frame.toDF("doc_id", "cluster")).persist()
      labels.count()
      (labels, run.rounds)
    } finally RddBridge.release(run.state)
  }

  /** What one [[graphRounds]] iteration computes: every node sends
    * messages along its distinct out-edges, keyed by (target, key) and
    * merged (summed, or the least kept), and each block's next state
    * follows from its previous state and its merged messages.
    */
  private sealed trait GraphRound extends Serializable {
    def outCol: String
    /** whether a message carries a key beside its target */
    def keyed: Boolean
    /** whether messages to one (target, key) keep the least rather than the sum */
    def min: Boolean = false
    /** whether a second exchange follows the first: [[relay]] reads the
      * first exchange's messages, and [[update]] those that relay sends
      */
    def relays: Boolean = false
    def init(node: Long): Long
    /** adds the messages of `node` in state `x` over its out-edges
      * `dsts(from until to)`, never empty, to `m`
      */
    def send(node: Long, x: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit
    /** the second exchange's messages of a block, by target block among `p` */
    def relay(s: NodeState, m: PairSums, p: Int): Iterator[(Int, Msgs)] = Iterator.empty
    def update(s: NodeState, m: PairSums): Array[Long]
  }

  /** r div deg to each out-neighbor; r' = base + (pct·s) div 100 */
  private final case class PageRank(r0: Long, base: Long, pct: Int) extends GraphRound {
    val outCol = "r"
    val keyed = false
    def init(node: Long): Long = r0
    def send(node: Long, r: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit = {
      val c = r / (to - from)
      // a zero contribution adds nothing to any sum
      if (c != 0) for (j <- from until to) m.add(dsts(j), 0L, c)
    }
    def update(s: NodeState, m: PairSums): Array[Long] = {
      val sum = new Array[Long](s.nodes.length)
      m.foreach { (dst, _, c) => val i = s.index(dst); sum(i) = Math.addExact(sum(i), c) }
      sum.map(x => Math.addExact(base, Math.multiplyExact(pct.toLong, x) / 100))
    }
  }

  /** one vote (dst, label) per out-edge; the most votes win, ties to the
    * smaller label, and a node with no in-votes keeps its label
    */
  private case object Lpa extends GraphRound {
    val outCol = "label"
    val keyed = true
    def init(node: Long): Long = node
    def send(node: Long, label: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit =
      for (j <- from until to) m.add(dsts(j), label, 1L)
    def update(s: NodeState, m: PairSums): Array[Long] = {
      val label = s.v.clone()
      val best = new Array[Long](label.length)
      m.foreach { (dst, l, cnt) =>
        val i = s.index(dst)
        if (cnt > best(i) || (cnt == best(i) && l < label(i))) { best(i) = cnt; label(i) = l }
      }
      label
    }
  }

  /** One k-core peel: a node in state x >= 0 is alive and sends 1 to each
    * neighbor. Of its summed count d, an alive node keeps d when d >= k and
    * stores -(d + 2) when peeled now; a node peeled earlier stays at -1.
    */
  private final case class KCore(k: Int) extends GraphRound {
    val outCol = "x"
    val keyed = false
    def init(node: Long): Long = 0L
    def send(node: Long, x: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit =
      if (x >= 0) for (j <- from until to) m.add(dsts(j), 0L, 1L)
    def update(s: NodeState, m: PairSums): Array[Long] = {
      val d = new Array[Long](s.nodes.length)
      m.foreach { (dst, _, c) => d(s.index(dst)) += c }
      Array.tabulate(d.length)(i => if (s.v(i) < 0) -1L else if (d(i) >= k) d(i) else -(d(i) + 2))
    }
  }

  /** One hook-and-shortcut round of connected components (Shiloach–Vishkin
    * style). A node's state is its parent f(u), at first u itself.
    *  - Exchange 1: u sends f(u) to each neighbor, keyed by the neighbor
    *    itself, and a request keyed by u to its parent f(u) ≠ u. Then
    *    p(u) = min(f(u), the neighbors' labels).
    *  - Exchange 2: u sends its hook p(u) to its old parent f(u) and p(u)
    *    to itself, and each parent w answers its requesters with p(w).
    *    Then f'(u) = min(p(u), the hooks, p(f(u))).
    * A label only falls and is always an id of the node's component, so
    * the first unchanged state labels each component with its least id.
    * Hooks and answers shortcut chains: a randomly numbered path of 2,000
    * nodes settles in 17 rounds, not the ~2,000 of min-label propagation.
    */
  private case object Cc extends GraphRound {
    val outCol = "cluster"
    val keyed = true
    override val min = true
    override val relays = true
    def init(node: Long): Long = node
    def send(node: Long, f: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit = {
      for (j <- from until to) m.add(dsts(j), dsts(j), f)
      if (f != node) m.add(f, node, 0L)
    }
    override def relay(s: NodeState, m: PairSums, p: Int): Iterator[(Int, Msgs)] = {
      val low = s.v.clone()
      m.foreach { (dst, key, f) => if (key == dst) { val i = s.index(dst); low(i) = Math.min(low(i), f) } }
      val out = new PairSums(min = true)
      for (i <- s.nodes.indices) { out.add(s.nodes(i), 0L, low(i)); out.add(s.v(i), 0L, low(i)) }
      m.foreach { (w, u, _) => if (u != w) out.add(u, 0L, low(s.index(w))) }
      out.byBlock(p, keyed = false)
    }
    def update(s: NodeState, m: PairSums): Array[Long] = {
      val f = s.v.clone()
      m.foreach { (u, _, x) => val i = s.index(u); f(i) = Math.min(f(i), x) }
      f
    }
  }

  /** The graph block of node `id` among `p` blocks. */
  private[graft] def blockOf(id: Long, p: Int): Int =
    java.lang.Math.floorMod(java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L), p)

  /** One block of the graph: the sorted ids of its nodes and their
    * distinct out-edges in CSR form (node i's targets are
    * `dsts(offsets(i) until offsets(i + 1))`, sorted).
    */
  private final case class GraphBlock(nodes: Array[Long], offsets: Array[Int], dsts: Array[Long])

  /** One block's state, aligned with its node array, and how many of its
    * nodes the round that made it changed.
    */
  private final case class NodeState(nodes: Array[Long], v: Array[Long], changed: Int) {
    def index(node: Long): Int = {
      val i = java.util.Arrays.binarySearch(nodes, node)
      require(i >= 0, s"node $node reached a graph block that does not hold it")
      i
    }
  }

  /** A build record: one input partition's edges for a block (src, dst)
    * and the dst ids that hash to it.
    */
  private final case class EdgeChunk(src: Array[Long], dst: Array[Long], ids: Array[Long])

  /** A round record: one map task's summed messages for a block; `key`
    * is null when the round's messages carry none.
    */
  private final case class Msgs(dst: Array[Long], key: Array[Long], v: Array[Long])

  /** The (a, b, sum) visitor of [[PairSums.foreach]], on primitives. */
  private trait EntryFn { def apply(a: Long, b: Long, v: Long): Unit }

  /** Open-addressing (a, b) → sum map on primitive arrays, or (a, b) →
    * least value with `min`: a round's map-side combiner and its
    * reduce-side merge. Sums are exact.
    */
  private final class PairSums(min: Boolean) {
    private var mask = 63
    private var ka = new Array[Long](64)
    private var kb = new Array[Long](64)
    private var vs = new Array[Long](64)
    private var used = new Array[Boolean](64)
    private var size = 0

    def add(a: Long, b: Long, x: Long): Unit = {
      val h = (a * 0x9E3779B97F4A7C15L + b) * 0xC2B2AE3D27D4EB4FL
      var i = (h ^ (h >>> 32)).toInt & mask
      while (used(i) && (ka(i) != a || kb(i) != b)) i = (i + 1) & mask
      if (used(i)) vs(i) = if (min) Math.min(vs(i), x) else Math.addExact(vs(i), x)
      else {
        used(i) = true; ka(i) = a; kb(i) = b; vs(i) = x; size += 1
        if (size * 2 > mask) grow()
      }
    }

    private def grow(): Unit = {
      val (oa, ob, ov, ou) = (ka, kb, vs, used)
      mask = mask * 2 + 1
      ka = new Array[Long](mask + 1); kb = new Array[Long](mask + 1)
      vs = new Array[Long](mask + 1); used = new Array[Boolean](mask + 1)
      size = 0
      for (i <- ou.indices if ou(i)) add(oa(i), ob(i), ov(i))
    }

    def foreach(f: EntryFn): Unit =
      for (i <- 0 to mask if used(i)) f(ka(i), kb(i), vs(i))

    def addAll(m: Msgs): Unit =
      for (j <- m.dst.indices) add(m.dst(j), if (m.key == null) 0L else m.key(j), m.v(j))

    /** the entries as one record per target block of `a` */
    def byBlock(p: Int, keyed: Boolean): Iterator[(Int, Msgs)] = {
      val n = new Array[Int](p)
      foreach((a, _, _) => n(blockOf(a, p)) += 1)
      val out = n.map(k => Msgs(new Array[Long](k), if (keyed) new Array[Long](k) else null,
        new Array[Long](k)))
      java.util.Arrays.fill(n, 0)
      foreach { (a, b, v) =>
        val k = blockOf(a, p)
        val j = n(k)
        out(k).dst(j) = a; if (keyed) out(k).key(j) = b; out(k).v(j) = v
        n(k) = j + 1
      }
      Iterator.range(0, p).filter(out(_).dst.nonEmpty).map(k => (k, out(k)))
    }
  }

  /** The build's map side: this partition's edges by the block of their
    * src, and their dst ids by the block of the dst; `undirected` adds
    * each edge reversed instead. A NULL end throws naming its column.
    */
  private def edgeChunks(rows: Iterator[InternalRow], p: Int, name: String,
                         ends: Array[String], undirected: Boolean): Iterator[(Int, EdgeChunk)] = {
    val src = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
    val dst = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
    val ids = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
    def edge(s: Long, d: Long): Unit = { val k = blockOf(s, p); src(k) += s; dst(k) += d }
    rows.foreach { r =>
      require(!r.isNullAt(0), s"$name: an edge has a NULL ${ends(0)}")
      require(!r.isNullAt(1), s"$name: an edge has a NULL ${ends(1)}")
      val (s, d) = (r.getLong(0), r.getLong(1))
      edge(s, d)
      if (undirected) edge(d, s) else ids(blockOf(d, p)) += d
    }
    Iterator.range(0, p).map(k => (k, EdgeChunk(src(k).result(), dst(k).result(), ids(k).result())))
      .filter { case (_, c) => c.src.nonEmpty || c.ids.nonEmpty }
  }

  /** The build's reduce side: one block from its edge chunks. */
  private def assemble(chunks: Array[EdgeChunk]): GraphBlock = {
    val m = chunks.iterator.map(c => c.src.length.toLong + c.ids.length).sum
    require(m < Int.MaxValue,
      s"a graph block receives $m ids; raise spark.sql.shuffle.partitions")
    val nodes = sortedDistinct(Array.concat(chunks.toIndexedSeq.flatMap(c => Seq(c.src, c.ids)): _*))
    // count, place and then sort and dedup each node's out-edges in place
    val srcIdx = chunks.flatMap(_.src.map(java.util.Arrays.binarySearch(nodes, _)))
    val offsets = new Array[Int](nodes.length + 1)
    srcIdx.foreach(i => offsets(i + 1) += 1)
    for (i <- nodes.indices) offsets(i + 1) += offsets(i)
    val cursor = offsets.clone()
    val dsts = new Array[Long](srcIdx.length)
    var e = 0
    for (c <- chunks; d <- c.dst) {
      val i = srcIdx(e)
      dsts(cursor(i)) = d; cursor(i) += 1; e += 1
    }
    var w = 0
    for (i <- nodes.indices) {
      val (from, to) = (offsets(i), offsets(i + 1))
      java.util.Arrays.sort(dsts, from, to)
      offsets(i) = w
      for (j <- from until to) {
        if (w == offsets(i) || dsts(w - 1) != dsts(j)) { dsts(w) = dsts(j); w += 1 }
      }
    }
    offsets(nodes.length) = w
    GraphBlock(nodes, offsets, java.util.Arrays.copyOf(dsts, w))
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    for (x <- a) if (n == 0 || a(n - 1) != x) { a(n) = x; n += 1 }
    java.util.Arrays.copyOf(a, n)
  }

  /** `job`, with a task's failed require or overflow thrown as itself
    * rather than as the job abort
    */
  private[graft] def unwrap[T](job: => T): T = try job catch {
    case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] ||
        e.getCause.isInstanceOf[ArithmeticException] => throw e.getCause
  }

  /** A [[graphRounds]] run: its result as (node, outCol) rows, the state
    * RDD they read (left persisted), the rounds run, and whether the last
    * one changed no node.
    */
  private final case class GraphRun(frame: DataFrame, state: RDD[_], rounds: Int, fixpoint: Boolean)

  /** The graph-block kernel of [[pageRankPortable]], [[labelPropagation]],
    * [[kCore]] and [[connectedComponents]], in the shape of Cubert's
    * blocked matrix–vector products: the matrix is blocked once, and every
    * round's vector blocks meet the matrix blocks where those live.
    *
    * Build, one shuffle: the endpoints, cast to bigint, leave SQL for their
    * RDD. Each edge goes to block `blockOf(src, p)` and each dst id to
    * `blockOf(dst, p)`, with p = `spark.sql.shuffle.partitions`;
    * `undirected` reads every edge in both directions. A [[GraphBlock]]
    * holds the sorted ids of every node that hashes to it, sinks included,
    * and their distinct out-edges. `n` is the sum of the block sizes, read
    * in the job that materializes the blocks; `round(n)` is the iteration
    * to run.
    *
    * A round, one job: each graph block zips with its state block and
    * combines its messages map-side in a [[PairSums]], then emits one
    * [[Msgs]] of primitive arrays per target block. The HashPartitioner
    * on the block number (the identity on 0 until p) shuffles them; the zip
    * must not keep the graph's partitioner, or Spark would take the
    * messages as partitioned already and skip the shuffle. The reduce side
    * merges them into the co-located state; a round that relays shuffles
    * once more first. No round runs a SQL query or a broadcast. The job
    * sums the nodes the round changed, and the loop stops after `iters`
    * rounds or at the first round that changed none: every round is a
    * pure function of the state, so later rounds would change nothing.
    *
    * Each state is checkpointed (`localCheckpoint`, or with `reliable` a
    * persisted `checkpoint` to the checkpoint dir, which survives executor
    * loss) and materialized, then the previous one is released. Everything else is released before
    * returning, or on a failure, so the run's state is the one RDD left
    * persisted. Releases go through [[RddBridge]], so no round logs
    * unpersist's checkpoint WARN.
    *
    * The arithmetic is `Math.*Exact`, so an overflow throws as ANSI Spark
    * SQL does. A NULL endpoint throws an IllegalArgumentException naming
    * its column; a non-integral endpoint type fails at the call.
    */
  private def graphRounds(edges: DataFrame, iters: Int, reliable: Boolean, name: String,
                          undirected: Boolean = false)(round: Long => GraphRound): GraphRun = {
    val ends = edges.columns
    val e = edges.toDF("src", "dst")
    e.schema.zip(ends).foreach { case (f, end) => require(
      Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
      s"$name: $end must be an integral type, not ${f.dataType.sql}") }
    val spark = e.sparkSession
    require(!reliable || spark.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoint requires SparkContext.setCheckpointDir to be set")
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val part = new HashPartitioner(p)
    val kept = mutable.ArrayBuffer.empty[RDD[_]]
    def keep[T](rdd: RDD[T]): RDD[T] = {
      if (reliable) { rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd.checkpoint() }
      else rdd.localCheckpoint()
      kept += rdd
      rdd
    }
    var result: RDD[NodeState] = null
    try {
      val rows = e.select(col("src").cast("long"), col("dst").cast("long")).queryExecution.toRdd
      val graph = keep(rows.mapPartitions(edgeChunks(_, p, name, ends, undirected)).partitionBy(part)
        .mapPartitions(it => Iterator(assemble(it.map(_._2).toArray)), preservesPartitioning = true))
      val r = round(unwrap(graph.map(_.nodes.length.toLong).fold(0L)(_ + _)))
      var state = graph.map(g => NodeState(g.nodes, g.nodes.map(r.init), 0))
      var rounds = 0
      var changed = -1L
      while (rounds < iters && changed != 0) {
        val prev = state
        var msgs = graph.zipPartitions(prev) { (g, s) => send(g.next(), s.next(), r, p) }
          .partitionBy(part)
        if (r.relays) msgs = msgs.zipPartitions(prev) { (m, s) => r.relay(s.next(), merged(m, r), p) }
          .partitionBy(part)
        state = keep(msgs.zipPartitions(prev) { (m, s) =>
          val cur = s.next()
          val v = r.update(cur, merged(m, r))
          Iterator(NodeState(cur.nodes, v, v.indices.count(i => v(i) != cur.v(i))))
        })
        changed = unwrap(state.map(_.changed.toLong).fold(0L)(_ + _))
        rounds += 1
        if (rounds > 1) { RddBridge.release(prev); kept -= prev }
      }
      result = state
      val out = state.mapPartitions(_.flatMap { s =>
        Iterator.tabulate(s.nodes.length)(i => InternalRow(s.nodes(i), s.v(i)))
      })
      GraphRun(RddBridge.frame(spark, out, StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField(r.outCol, LongType, nullable = false)))), state, rounds, changed == 0)
    } finally kept.toList.filterNot(_ eq result).foreach(RddBridge.release)
  }

  /** A round's map side: one graph block's messages, combined. */
  private def send(g: GraphBlock, s: NodeState, r: GraphRound, p: Int): Iterator[(Int, Msgs)] = {
    val m = new PairSums(r.min)
    for (i <- g.nodes.indices if g.offsets(i + 1) > g.offsets(i))
      r.send(g.nodes(i), s.v(i), g.dsts, g.offsets(i), g.offsets(i + 1), m)
    m.byBlock(p, r.keyed)
  }

  /** A reduce side's messages, merged. */
  private def merged(msgs: Iterator[(Int, Msgs)], r: GraphRound): PairSums = {
    val m = new PairSums(r.min)
    msgs.foreach { case (_, x) => m.addAll(x) }
    m
  }

  /** k-core decomposition by iterative peeling: each round drops the
    * nodes of (current) degree < k, for `maxIter` rounds. The survivors
    * are the k-core once the peel has converged (pass maxIter ≥ the peel
    * depth; peeling a converged edge set changes nothing). Emits (node,
    * degree) of the subgraph left after `maxIter` peels, for the nodes
    * with a surviving edge; short of convergence that includes nodes of
    * degree < k that the next peel would drop.
    *
    * Runs on [[graphRounds]] ([[KCore]]) over the edges in both directions,
    * self-loops dropped: `maxIter` peel rounds and one degree round, one
    * job each, ending early at the first round that changes nothing.
    * Endpoints are integral ids; the result is (node, degree) as bigint.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 10,
            reliableCheckpoint: Boolean = false): DataFrame = {
    require(k >= 1 && maxIter >= 1 && maxIter < Int.MaxValue, s"bad k=$k maxIter=$maxIter")
    // an edge with a NULL end is kept, so it reaches the kernel's check
    val e = edges.toDF("src", "dst").filter(coalesce(col("src") =!= col("dst"), lit(true)))
    val x = col("x")
    graphRounds(e, maxIter + 1, reliableCheckpoint, "kCore", undirected = true)(_ => KCore(k)).frame
      .filter(x >= 0 || x <= -3)
      .select(col("node"), when(x >= 0, x).otherwise(-(x + 2)).as("degree"))
  }

  /** The simple undirected edge set (u < v) [[triangleCount]] runs on. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.toDF("u", "v").filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** Exact triangle count via degree-ordered edge orientation (the
    * standard MapReduce-era algorithm): orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one — the oriented
    * out-degree is O(sqrt(|E|)) even on power-law graphs, so the wedge
    * join (e1.dst = e2.src) generates at most Σ outdeg² candidates
    * instead of Σ deg² — then close each wedge against the oriented edge
    * set with one more equi-join. Three shuffles total, no window, no
    * product. Input: an undirected edge relation (u, v) in any order /
    * with duplicates; output: one row (n_triangles).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e0 = undirected(edges)
    val deg = e0.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by (degree, node): strict total order, so each triangle is
    // counted exactly once as a closed wedge
    val ranked = e0
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val oriented = ranked.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst")))
        .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val wedges = oriented.as("a").join(oriented.as("b"), col("a.dst") === col("b.src"))
      .select(col("a.src").as("x"), col("a.dst").as("y"), col("b.dst").as("z"))
    wedges.join(oriented.as("c"),
        col("x") === col("c.src") && col("z") === col("c.dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
