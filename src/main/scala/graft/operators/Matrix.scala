package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * `Joins.saltedJoin` on the same keys.
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
    * (r div deg), damping is the rational dampingPct/100 applied as
    * (pct·s) div 100, and the teleport base is computed once driver-side
    * with the same long divisions an external engine would use. Every
    * iteration is therefore a pure function of integers — an oracle can
    * replay N unrolled iterations hash-for-hash, which float PageRank
    * (summation-order-sensitive doubles) never allows. The floors bleed
    * < 1e-9·deg mass per node per iteration — ranking-irrelevant.
    *
    * Scale shape per iteration: one join of edges against the (node,
    * rank) relation + one partial-aggregated sum — identical to
    * [[pageRank]]; localCheckpoint keeps lineage O(1) across iterations.
    */
  def pageRankPortable(edges: DataFrame, iters: Int,
                       dampingPct: Int = 85,
                       reliableCheckpoint: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(dampingPct >= 0 && dampingPct <= 100, s"bad dampingPct: $dampingPct")
    val g = graph(edges, reliableCheckpoint)
    val (state0, base) = prStart(g, dampingPct, reliableCheckpoint)
    var state = state0
    for (_ <- 0 until iters) {
      state = ckpt(prRound(g.e, state, g.side, base, dampingPct),
        eager = false, reliable = reliableCheckpoint)
    }
    state.select("node", "r")
  }

  /** What [[pageRankPortable]] and [[labelPropagation]] start from — and
    * what PlanDump's round fragments plan over: the distinct (src, dst)
    * edges and the node set, both checkpointed lazily, the node count
    * `n`, and the side the per-round O(V) state joins the edges under.
    */
  private[graft] final case class Graph(e: DataFrame, nodes: DataFrame, n: Long,
                                        side: DataFrame => DataFrame)

  private[graft] def graph(edges: DataFrame, reliable: Boolean): Graph = {
    // the deduped O(E) edges checkpoint once, BEFORE fan-out (the degree
    // aggregate, both sides of the node union), carrying only (src, dst):
    // round 11 measured a deg-on-every-edge form going super-linear at
    // 100M edges. Lazy (see ckpt): `nodes.count()` materializes e→nodes
    // in one job, and each round inside its first consuming stage
    val e = ckpt(edges.toDF("src", "dst").distinct(), false, reliable)
    val nodes = ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct(), false, reliable)
    val n = nodes.count()
    // nodes ≪ edges, so the state rides to the edges while it fits an
    // executor; the counted n decides that with no further job
    Graph(e, nodes, n, Joins.boundedBroadcast(_, Some(n)))
  }

  /** [[pageRankPortable]]'s initial state (node, r, deg) and the teleport
    * base every round adds.
    */
  private[graft] def prStart(g: Graph, dampingPct: Int, reliable: Boolean)
      : (DataFrame, Long) = {
    val scale = 1000000000L
    require(g.n > 0, "empty graph")
    require(g.n <= scale,
      s"pageRankPortable: ${g.n} nodes exceeds the 10^9 nano-mass scale — " +
        "initial ranks would truncate to zero; shard the graph or use pageRank")
    val deg = g.e.groupBy("src").agg(count(lit(1)).as("deg"))
    // deg rides the checkpointed state, joined ONCE: a per-round ranks⋈deg
    // join over stat-less LogicalRDDs planned as a SortMergeJoin with two
    // O(V) exchanges and sorts every round (plans/r17/q199_round_before.txt
    // ops 7-13). Nodes without out-edges carry NULL.
    val state = ckpt(g.nodes
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), lit(scale / g.n).as("r"), col("deg")),
      false, reliable)
    (state, (scale * (100 - dampingPct) / 100) / g.n)
  }

  /** Per-source contribution mass `r div deg` — a pure PROJECTION over the
    * iteration state (node, r, deg): identical integer values to the old
    * ranks⋈deg inner join (deg is NULL exactly where that join dropped the
    * row — nodes with no out-edges), with the per-round join and its two
    * O(V) exchanges removed (see [[pageRankPortable]]'s state comment).
    */
  private[graft] def perSrcContribution(state: DataFrame): DataFrame =
    state.filter(col("deg").isNotNull)
      .select(col("node").as("src"), expr("r div deg").as("c"))

  /** One FULL [[pageRankPortable]] round: bare (src, dst) edges ⋈ the O(V)
    * per-source mass, then ONE partial+final aggregation by destination
    * that also folds the old state⋈contribution LEFT join in (r18): the
    * state rides the contribution exchange as zero-contribution rows —
    * `sum(c)` over {contributions ∪ 0} equals the old
    * `coalesce(s, 0)` (exact long arithmetic, order-free), and `max(deg)`
    * recovers each node's degree from its single state row (contribution
    * rows carry NULL deg; max ignores NULLs, so a sink node's NULL deg
    * stays NULL). Deletes the per-round O(V) contribution broadcast
    * (collect + replicate) — or, in the shuffle regime, a full O(V)
    * shuffle join — per iteration. Factored out so the plan audit can pin
    * the iteration's physical shape (join strategy, partial aggregation)
    * directly — the loop's checkpoints erase it.
    */
  private[graft] def prRound(e: DataFrame, state: DataFrame,
                             side: DataFrame => DataFrame,
                             base: Long, dampingPct: Int): DataFrame =
    e.join(side(perSrcContribution(state)), "src")
      .select(col("dst").as("node"), col("c"), lit(null).cast("long").as("deg"))
      .unionByName(state.select(col("node"), lit(0L).as("c"), col("deg")))
      .groupBy("node")
      .agg(sum("c").as("__s"), max("deg").as("deg"))
      .select(col("node"),
        (lit(base) + expr(s"($dampingPct * __s) div 100")).as("r"),
        col("deg"))

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
    * Scale shape per round: one edges⋈labels join, one (node, label)
    * partial-aggregated count, one per-node hash-aggregated argmax whose
    * exchange also carries the keep-own-label fallback as zero-count
    * self-votes (no per-round winner join — see [[lpaRound]]),
    * localCheckpoint for O(1) lineage.
    */
  def labelPropagation(edges: DataFrame, iters: Int,
                       reliableCheckpoint: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val g = graph(edges, reliableCheckpoint)
    var labels = g.nodes.select(col("node"), col("node").as("label"))
    for (_ <- 0 until iters) {
      labels = ckpt(lpaRound(g.e, labels, g.side),
        eager = false, reliable = reliableCheckpoint)
    }
    labels
  }

  /** One [[labelPropagation]] round: argmax(count) with min-label ties as
    * a MIN of the order-preserving decimal scalar — two partial-aggregating
    * stages, no window, and (r18) NO per-round winner⋈labels join: the
    * keep-own-label fallback rides the election aggregation as a zero-count
    * SELF-VOTE unioned under the final min. Factored out for the plan
    * audit (the loop's checkpoints erase iteration plans).
    */
  /** 2^64 / 2^63 as exact decimal literals for [[lpaRound]]'s argmax
    * linearization, and the count ceiling the decimal(38,0) headroom
    * allows: |ord| ≤ (cnt+1)·2^64 must stay below 10^38, so cnt ≤
    * ~5.42·10^18 — guarded LOUDLY per (node,label) group because Spark's
    * non-ANSI decimal overflow is a silent NULL, which would elect a
    * wrong winner instead of failing.
    */
  private val OrdL = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64))
  private val OrdHalf = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63))
  private val MaxEncodableCount = 5000000000000000000L // 5e18 < (10^38/2^64 − 1)

  private[graft] def lpaRound(e: DataFrame, labels: DataFrame,
                              side: DataFrame => DataFrame): DataFrame = {
    // argmax(count) with min-label ties as min over the order-preserving
    // scalar ord = (−cnt)·2^64 + (label + 2^63): lexicographic (−cnt,
    // label) order equals numeric ord order because label + 2^63 ∈
    // [0, 2^64) for every signed-long label. The r17 before-plan's
    // min(struct(−cnt, label)) form planned as a SortAggregate (struct
    // buffers are not hash-aggregable) — two keyed sorts of the collapsed
    // (node, label, cnt) relation per round; the decimal(38,0) scalar is
    // hash-aggregable (partial_min pins still green) and measured 0.53 s
    // vs 0.69 s per round at sf0.1 (OPTIMIZATION_r17.md). All decimal
    // arithmetic here is exact integer arithmetic within the guarded
    // range, so the elected winner — and every q201 oracle hash — is
    // bit-identical to the struct form.
    val guardedCnt = when(col("cnt") > MaxEncodableCount,
      raise_error(concat(lit("lpaRound: per-(node,label) count "), col("cnt"),
        lit(s" exceeds the decimal(38,0)-encodable ceiling $MaxEncodableCount"))))
      .otherwise(col("cnt"))
    val ord = (guardedCnt.cast("decimal(38,0)") * lit(-1) * lit(OrdL)) +
      (col("label").cast("decimal(38,0)") + lit(OrdHalf))
    val votes = e.join(side(labels.withColumnRenamed("node", "src")), "src")
      .groupBy(col("dst").as("node"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("node"), ord.cast("decimal(38,0)").as("__ord"))
    // keep-own-label fallback as a zero-count SELF-VOTE (r18): ord with
    // cnt = 0 is label + 2^63 ∈ [0, 2^64) — nonnegative, while every real
    // vote (cnt ≥ 1) has ord ≤ −2^64 + (2^64 − 1) < 0, so the self-vote
    // wins the min exactly when the node has no in-neighbors and decodes
    // to the node's current label bit-for-bit (pmod(label + 2^63, 2^64) −
    // 2^63 = label for every signed long). This replaces the old per-round
    // winner⋈labels LEFT join + coalesce: one O(V) broadcast (collect +
    // replicate) — or, in the shuffle regime, one O(V) shuffle join — per
    // round deleted; the O(V) self-vote rows ride the election exchange's
    // partial min instead.
    val selfVotes = labels.select(col("node"),
      (col("label").cast("decimal(38,0)") + lit(OrdHalf))
        .cast("decimal(38,0)").as("__ord"))
    votes.unionByName(selfVotes)
      .groupBy("node")
      .agg(min(col("__ord")).as("__m"))
      .select(col("node"),
        (pmod(col("__m"), lit(OrdL)) - lit(OrdHalf)).cast("long").as("label"))
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
