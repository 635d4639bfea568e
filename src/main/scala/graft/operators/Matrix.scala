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
  * `Joins.saltedJoin` on the same keys. The iterative integer graph
  * loops keep Cubert's own shape instead: the graph is blocked once and
  * each round's state blocks meet it where it lives ([[graphRounds]]).
  */
object Matrix {

  /** Checkpoint for the iterative family: `localCheckpoint` (default) is
    * fast but stores blocks on executors ONLY — an executor loss mid-run
    * kills the job because the truncated lineage cannot recompute. With
    * `reliable = true` the plan checkpoints to the job's configured
    * checkpoint dir (HDFS/object store) and survives executor loss at the
    * cost of a write per round — the right posture for long iterative
    * runs at 100 TB, where losing one executor over N rounds approaches
    * certainty. Requires `spark.sparkContext.setCheckpointDir(...)`.
    *
    * Local checkpoints may be taken LAZILY (`eager = false`, the r17
    * optimization posture of the iterative loops): the plan is truncated
    * (LogicalRDD) and the blocks persist exactly as before, but the
    * round's result stage is computed inside the FIRST consuming stage of
    * the next round instead of a dedicated per-round materialization job
    * — RDDs are identity-deduped in the scheduler and the localCheckpoint
    * persist makes any second consumer read the cached blocks, so no work
    * is duplicated. This removes one job barrier plus one full
    * write-then-reread pass over the O(V) state per round. Callers that
    * need a value (e.g. a termination count) materialize by calling an
    * action on the returned frame; callers that unpersist helper
    * relations before the result is consumed must stay eager. Reliable
    * checkpoints stay EAGER regardless: `RDD.checkpoint` recomputes the
    * lineage a second time at materialization unless the RDD was computed
    * by the checkpointing job itself, so a lazy reliable checkpoint would
    * double every round's work.
    */
  private[graft] def ckpt(df: DataFrame, eager: Boolean, reliable: Boolean): DataFrame =
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliableCheckpoint requires SparkContext.setCheckpointDir to be set")
      df.checkpoint(true)
    } else df.localCheckpoint(eager)

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

  /** Sparse matrix–vector product: A(i,k,v) × x(k,w) → y(i) = Σ_k v·w.
    * The vector side broadcasts while it fits ([[Joins.boundedBroadcast]];
    * `xRows` is its row count when the caller has one — PageRank-style
    * iterations are repeated spMV calls over a counted node set).
    */
  def spMV(a: DataFrame, x: DataFrame, xRows: Option[Long] = None): DataFrame = {
    val l = a.toDF("i", "k", "v")
    l.join(Joins.boundedBroadcast(x.toDF("k", "w"), xRows), Seq("k"))
      .groupBy("i")
      .agg(sum(col("v") * col("w")).as("val"))
  }

  /** PageRank over an edge list (src, dst) — the standard iterative
    * workload the reference's README frames as blocked join+agg scripts.
    * Each iteration is one spMV against the column-normalized adjacency
    * matrix plus the damping term; ranks localCheckpoint per iteration so
    * lineage (and therefore plan size) stays O(1) across iterations
    * instead of O(iters). Nodes with no out-links leak mass (simple
    * damping redistribution keeps totals bounded); dangling-mass
    * redistribution drops in as one extra scalar aggregate per iteration
    * if exact conservation matters.
    *
    * Scale: each iteration shuffles edges once (join on src) — identical
    * to the canonical Pregel/GraphX formulation; ranks stay a (node,
    * value) relation that broadcasts while node count ≪ edges.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               reliableCheckpoint: Boolean = false): DataFrame = {
    val e = edges.toDF("src", "dst")
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // A(dst, src) = 1/deg(src): column-normalized transition matrix
    val m = e.join(outDeg, "src")
      .select(col("dst").as("i"), col("src").as("k"), (lit(1.0) / col("deg")).as("v"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().persist()
    val n = nodes.count()
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 0 until iters) {
      val contrib = spMV(m, ranks, Some(n))
        .select(col("i").as("node"), col("val").as("c"))
      ranks = ckpt(nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("c"), lit(0.0))).as("rank")),
        eager = true, reliable = reliableCheckpoint)
    }
    m.unpersist(); nodes.unpersist()
    ranks
  }

  /** [[pageRank]] in EXACT integer arithmetic — the bit-portable sibling
    * (same posture as the KMV/LM-score families): ranks live in 10^9
    * "nano-mass" units, per-edge contributions are integer divisions
    * (r div deg, deg = a node's distinct out-edges), damping is the
    * rational dampingPct/100 applied as (pct·s) div 100, and the teleport
    * base is computed once driver-side with the same long divisions an
    * external engine would use. Every iteration is therefore a pure
    * function of integers — an oracle can replay N unrolled iterations
    * hash-for-hash, which float PageRank (summation-order-sensitive
    * doubles) never allows. The floors bleed < 1e-9·deg mass per node per
    * iteration — ranking-irrelevant. Nodes with no out-edges contribute
    * nothing.
    *
    * Runs on [[graphRounds]]: one shuffle builds the graph blocks, then
    * each iteration is one shuffle and one job. Endpoints are integral
    * ids; the result is (node, r) as bigint.
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
          "initial ranks would truncate to zero; shard the graph or use pageRank")
      PageRank(scale / n, (scale * (100 - dampingPct) / 100) / n, dampingPct)
    }
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
    graphRounds(edges, iters, reliableCheckpoint, "labelPropagation")(_ => Lpa)
  }

  /** What one [[graphRounds]] iteration computes: every node sends
    * messages along its distinct out-edges, keyed by (target, key) and
    * summed, and each block's next state follows from its previous state
    * and its merged messages.
    */
  private sealed trait GraphRound extends Serializable {
    def outCol: String
    /** whether a message carries a key beside its target */
    def keyed: Boolean
    def init(node: Long): Long
    /** adds the messages of a node in state `x` over its out-edges
      * `dsts(from until to)`, never empty, to `m`
      */
    def send(x: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit
    def update(s: NodeState, m: PairSums): Array[Long]
  }

  /** r div deg to each out-neighbor; r' = base + (pct·s) div 100 */
  private final case class PageRank(r0: Long, base: Long, pct: Int) extends GraphRound {
    val outCol = "r"
    val keyed = false
    def init(node: Long): Long = r0
    def send(r: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit = {
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
    def send(label: Long, dsts: Array[Long], from: Int, to: Int, m: PairSums): Unit =
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

  /** The graph block of node `id` among `p` blocks. */
  private[graft] def blockOf(id: Long, p: Int): Int =
    java.lang.Math.floorMod(java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L), p)

  /** One block of the graph: the sorted ids of its nodes and their
    * distinct out-edges in CSR form (node i's targets are
    * `dsts(offsets(i) until offsets(i + 1))`, sorted).
    */
  private final case class GraphBlock(nodes: Array[Long], offsets: Array[Int], dsts: Array[Long])

  /** One block's state, aligned with its node array. */
  private final case class NodeState(nodes: Array[Long], v: Array[Long]) {
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

  /** Open-addressing (a, b) → sum map on primitive arrays: a round's
    * map-side combiner and its reduce-side merge. Sums are exact.
    */
  private final class PairSums {
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
      if (used(i)) vs(i) = Math.addExact(vs(i), x)
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
    * src, and their dst ids by the block of the dst.
    */
  private def edgeChunks(rows: Iterator[InternalRow], p: Int, name: String)
      : Iterator[(Int, EdgeChunk)] = {
    val src = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
    val dst = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
    val ids = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
    rows.foreach { r =>
      require(!r.isNullAt(0), s"$name: an edge has a NULL src")
      require(!r.isNullAt(1), s"$name: an edge has a NULL dst")
      val (s, d) = (r.getLong(0), r.getLong(1))
      val k = blockOf(s, p)
      src(k) += s; dst(k) += d; ids(blockOf(d, p)) += d
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
  private def unwrap[T](job: => T): T = try job catch {
    case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] ||
        e.getCause.isInstanceOf[ArithmeticException] => throw e.getCause
  }

  /** The graph-block kernel of [[pageRankPortable]] and
    * [[labelPropagation]], in the shape of Cubert's blocked matrix–vector
    * products: the matrix is blocked once, and every round's vector blocks
    * meet the matrix blocks where those live.
    *
    * Build, one shuffle: the endpoints, cast to bigint, leave SQL for their
    * RDD. Each edge goes to block `blockOf(src, p)` and each dst id to
    * `blockOf(dst, p)`, with p = `spark.sql.shuffle.partitions`. A
    * [[GraphBlock]] holds the sorted ids of every node that hashes to it,
    * sinks included, and their distinct out-edges. `n` is the sum of the
    * block sizes, read in the job that materializes the blocks; `round(n)`
    * is the iteration to run.
    *
    * A round, one shuffle and one job: each graph block zips with its state
    * block and combines its messages map-side in a [[PairSums]], then emits
    * one [[Msgs]] of primitive arrays per target block. The HashPartitioner
    * on the block number (the identity on 0 until p) shuffles them; the zip
    * must not keep the graph's partitioner, or Spark would take the
    * messages as partitioned already and skip the shuffle. The reduce side
    * merges them into the co-located state. No round runs a SQL query or a
    * broadcast.
    *
    * Each state is checkpointed (`localCheckpoint`, or a persisted reliable
    * `checkpoint` with `reliable`; see [[ckpt]]) and materialized, then the
    * previous one is released. Everything else is released before
    * returning, or on a failure, so the returned frame's state is the one
    * RDD left persisted. Releases go through [[RddBridge]], so no round
    * logs unpersist's checkpoint WARN.
    *
    * The arithmetic is `Math.*Exact`, so an overflow throws as ANSI Spark
    * SQL does. A NULL endpoint throws an IllegalArgumentException naming src
    * or dst; a non-integral endpoint type fails at the call.
    */
  private def graphRounds(edges: DataFrame, iters: Int, reliable: Boolean, name: String)
                         (round: Long => GraphRound): DataFrame = {
    val e = edges.toDF("src", "dst")
    e.schema.foreach(f => require(
      Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
      s"$name: ${f.name} must be an integral type, not ${f.dataType.sql}"))
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
      val graph = keep(rows.mapPartitions(edgeChunks(_, p, name)).partitionBy(part)
        .mapPartitions(it => Iterator(assemble(it.map(_._2).toArray)), preservesPartitioning = true))
      val r = round(unwrap(graph.map(_.nodes.length.toLong).fold(0L)(_ + _)))
      var state = graph.map(g => NodeState(g.nodes, g.nodes.map(r.init)))
      for (i <- 1 to iters) {
        val prev = state
        state = keep(graph.zipPartitions(prev) { (g, s) => send(g.next(), s.next(), r, p) }
          .partitionBy(part)
          .zipPartitions(prev) { (msgs, s) =>
            val m = new PairSums
            msgs.foreach { case (_, x) => m.addAll(x) }
            val cur = s.next()
            Iterator(NodeState(cur.nodes, r.update(cur, m)))
          })
        unwrap(state.count())
        if (i > 1) { RddBridge.release(prev); kept -= prev }
      }
      result = state
      val out = state.mapPartitions(_.flatMap { s =>
        Iterator.tabulate(s.nodes.length)(i => InternalRow(s.nodes(i), s.v(i)))
      })
      RddBridge.frame(spark, out, StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField(r.outCol, LongType, nullable = false))))
    } finally kept.toList.filterNot(_ eq result).foreach(RddBridge.release)
  }

  /** A round's map side: one graph block's messages, combined. */
  private def send(g: GraphBlock, s: NodeState, r: GraphRound, p: Int): Iterator[(Int, Msgs)] = {
    val m = new PairSums
    for (i <- g.nodes.indices if g.offsets(i + 1) > g.offsets(i))
      r.send(s.v(i), g.dsts, g.offsets(i), g.offsets(i + 1), m)
    m.byBlock(p, r.keyed)
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes with
    * (current) degree < k until none remain or `maxIter` rounds ran —
    * survivors are the k-core (if converged; pass maxIter ≥ the peel depth,
    * which is ≤ the graph's degeneracy ordering length and in practice a
    * handful of rounds). Emits (node, degree) of the surviving subgraph.
    *
    * Each round is one degree aggregation + one semi-join, edges
    * localCheckpoint-ed per round so the loop's lineage stays O(1) (same
    * discipline as connected components). Shuffle volume shrinks
    * monotonically — every round's edge set is a subset of the last.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 10,
            reliableCheckpoint: Boolean = false): DataFrame = {
    require(k >= 1 && maxIter >= 1, s"bad k=$k maxIter=$maxIter")
    var e = ckpt(undirected(edges), false, reliableCheckpoint)
    // carry the previous round's cardinality forward: `e` was already
    // counted as `next` last round, so re-counting it is a redundant job
    var eCount = e.count()
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val next = ckpt(peel(e, k), false, reliableCheckpoint)
      val nextCount = next.count()
      done = nextCount == eCount
      e = next
      eCount = nextCount
      i += 1
    }
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }

  /** The simple undirected edge set (u < v) [[kCore]] and [[triangleCount]] run on. */
  private[graft] def undirected(edges: DataFrame): DataFrame =
    edges.toDF("u", "v").filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** One [[kCore]] round: keep the edges whose ends both have degree ≥ k. */
  private[graft] def peel(e: DataFrame, k: Int): DataFrame = {
    val keep = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d")).filter(col("d") >= k).select("n")
    e.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
      .select("u", "v")
  }

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
