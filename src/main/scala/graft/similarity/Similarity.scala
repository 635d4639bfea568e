package graft.similarity

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RddBridge
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.operators.Matrix

/** Similarity search over an embedding column (`Array[Float]`): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane LSH bucketed
  * variant as the 100 TB scale path (candidates from bucket-equi-joins, then
  * exact re-rank within buckets — shuffle-bounded, never all-pairs).
  *
  * All vector math is `zip_with`/`aggregate` over array columns — codegen'd
  * expressions, no UDFs, accumulation in double for determinism.
  */
object Similarity {

  /** Dot product in double precision (sequential left-to-right fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity. For float-array inputs this is a fused native
    * kernel (one loop computes dot and both norms — see
    * graft.functions.expressions.CosineSimF) with the same sequential
    * accumulation as the declarative folds; `cosineGeneric` keeps the
    * composition form for other element types.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.NativeExpressions.cosineF(a, b)

  def cosineGeneric(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def isFloatArray(df: DataFrame, name: String): Boolean =
    df.schema.fields.exists(f => f.name == name && (f.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    }))

  /** The cosine of `vecCol` against the centroids' `cvec`. Float-array sides
    * take the fused native kernel (bit-identical to the separate folds —
    * same sequential double accumulation); double-typed centroids (e.g.
    * fresh from kmeansFit) keep the generic composition.
    */
  private def centroidCosine(df: DataFrame, vecCol: String,
                             centroids: DataFrame): (Column, Column) => Column =
    if (isFloatArray(df, vecCol) && isFloatArray(centroids, "cvec")) cosine else cosineGeneric

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * Plan: broadcast the (small) query set against the corpus — a narrow
    * map per corpus row — then per-query top-k via window. The scan is
    * embarrassingly parallel; only the tiny (nQueries × k) result shuffles.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk").as("rank"))
  }

  /** Margin-criterion bitext mining (the LASER margin, Artetxe & Schwenk
    * 2019): score every cross-corpus candidate pair by
    * cos(x,y) / ((meanK(x) + meanK(y)) / 2), where meanK(v) is the mean
    * cosine of v's k nearest neighbors in the OTHER corpus — dividing out
    * hubness, the failure mode of raw-cosine mining — and keep each
    * source's best-margin target above `threshold`. Candidates are the
    * union of both directions' top-k lists (the practical "max" strategy).
    *
    * Deterministic end to end: the neighbor means fold SORTED cosine
    * lists sequentially (bit-portable, same trick as the L2 fold), so the
    * oracle replays the exact margins. Scale shape: two [[bruteForceTopK]]
    * passes (each a broadcast-narrow scan + per-query top-k) and then
    * joins over (queries × k)-sized candidate tables only — swap in
    * [[ivfTopK]] candidates upstream for corpus-scale mining, the margin
    * arithmetic is agnostic to where the top-k lists came from.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, k: Int, threshold: Double = 1.0,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val fwd = bruteForceTopK(tgt, src, k, idCol, vecCol)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cosine"))
    val bwd = bruteForceTopK(src, tgt, k, idCol, vecCol)
      .select(col("neighbor_id").as("src_id"), col("query_id").as("tgt_id"),
        col("cosine"))
    def meanK(df: DataFrame, key: String, out: String) =
      df.groupBy(col(key)).agg(
        (aggregate(array_sort(collect_list(col("cosine"))), lit(0.0d),
          (a, x) => a + x) / count(lit(1)).cast("double")).as(out))
    val mSrc = meanK(fwd, "src_id", "mean_src")
    val mTgt = meanK(bwd, "tgt_id", "mean_tgt")
    val cand = fwd.unionByName(bwd).distinct()
      .join(mSrc, "src_id").join(mTgt, "tgt_id")
      .withColumn("margin",
        col("cosine") / ((col("mean_src") + col("mean_tgt")) / lit(2.0d)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("margin").desc, col("tgt_id"))
    cand.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1 && col("margin") > threshold)
      .select("src_id", "tgt_id", "margin")
  }

  /** Random-hyperplane LSH signature: `nPlanes` sign bits packed into a
    * long. Hyperplane components are deterministic pseudo-random ±1 values
    * derived from a portable integer hash of (plane, dim)
    * (graft.functions.PortableHash.planeSignPositive) — no stored model,
    * reproducible across runs/executors/engines (the DuckDB oracle
    * recomputes the same signatures).
    */
  def lshSignature(vec: Column, nPlanes: Int = 16): Column = {
    require(nPlanes <= 63, "signature packs into one long")
    graft.functions.expressions.NativeExpressions.lshSignatureF(vec, nPlanes)
  }

  /** Declarative form of lshSignature (same values; kept as the readable
    * specification of the kernel's arithmetic).
    */
  def lshSignatureGeneric(vec: Column, nPlanes: Int = 16): Column = {
    require(nPlanes <= 63, "signature packs into one long")
    val sigBits = (0 until nPlanes).map { p =>
      // dot(vec, plane_p) where plane_p[d] = ±1 from hash(p, d)
      val s = aggregate(zip_with(vec, sequence(lit(0), size(vec) - 1),
        (v, d) => when(graft.functions.PortableHash.planeSignPositive(p, d), v.cast("double"))
          .otherwise(-v.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
      when(s > 0, call_function("shiftleft", lit(1L), lit(p))).otherwise(lit(0L))
    }
    sigBits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** ANN via LSH: bucket corpus and queries by hyperplane signature bands,
    * exact re-rank within candidate buckets. `bands` bands of
    * `nPlanes/bands` bits each; a pair colliding on any band is a candidate.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 16,
              bands: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nPlanes % bands == 0)
    val width = nPlanes / bands
    val mask = lit((1L << width) - 1)
    def banded(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        lshSignature(col(vecCol), nPlanes).as("sig"))
        .select(col(id), col(v), explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            call_function("shiftright", col("sig"), lit(b * width)).bitwiseAND(mask).as("key"))
        }: _*)).as("bb"))
        .select(col(id), col(v), col("bb.band"), col("bb.key"))
    val c = banded(corpus, "neighbor_id", "cv")
    val q = banded(queries, "query_id", "qv")
    val cand = q.join(c, Seq("band", "key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "cv")
      .distinct()
    val scored = cand.withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk").as("rank"))
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `centroids` — max cosine, ties to the lowest centroid_id. The
    * centroid table is bounded model state (k×d — the same thing
    * [[kmeansFit]] already collects between iterations), so it embeds in
    * the plan as ONE array literal and the assignment is a pure NARROW
    * fold per row: zero exchange, vectors never shuffle. (The fold is a
    * higher-order `aggregate` — evaluated per row outside whole-stage
    * codegen, but each of its k steps calls the compiled native cosine
    * kernel, and k is bounded model state.) For k beyond
    * ~10^4 cells prefer [[ivfAssignShuffled]], which broadcasts the
    * centroid table instead of embedding it.
    *
    * Exactly [[ivfAssignShuffled]]'s semantics: same cosine arithmetic,
    * same (−cos, centroid_id) lexicographic argmin (centroids are
    * pre-sorted by id, and the fold keeps the earlier element on ties, so
    * even the all-NaN zero-vector edge resolves to the lowest id).
    */
  def ivfAssign(df: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // sorted by centroid_id so on-tie keep-first == lowest id
    val rows = centroids.select(col("centroid_id").cast("long"), col("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).sortBy(_._1)
    require(rows.nonEmpty, "ivfAssign: the centroid table is empty")
    val cos = centroidCosine(df, vecCol, centroids)
    val centsLit: Column =
      if (isFloatArray(centroids, "cvec"))
        typedLit(rows.toSeq.map { case (id, v) => (id, v.map(_.asInstanceOf[Float])) })
      else
        typedLit(rows.toSeq.map { case (id, v) => (id, v.map {
          case d: java.lang.Double => d.doubleValue
          case f: java.lang.Float => f.toDouble
        }) })
    val first = struct((-cos(col(vecCol), element_at(centsLit, 1).getField("_2"))).as("d"),
      element_at(centsLit, 1).getField("_1").as("cid"))
    val best = aggregate(slice(centsLit, 2, math.max(rows.length - 1, 0)), first,
      (acc, c) => {
        val cand = struct((-cos(col(vecCol), c.getField("_2"))).as("d"),
          c.getField("_1").as("cid"))
        when(cand < acc, cand).otherwise(acc)
      })
    val cidType = centroids.schema.fields.find(_.name == "centroid_id").get.dataType
    df.select(col(idCol), col(vecCol))
      .withColumn("centroid_id", best.getField("cid").cast(cidType))
  }

  /** Diversity-preserving representative selection (coreset seeding): ONE
    * vector per coarse cell — the member MOST similar to its centroid,
    * ties to the lowest id. The curation move for diverse subset
    * assembly: cells partition the space, so the representative set
    * spreads across it instead of clustering where the data is dense.
    * Assignment rides the narrow [[ivfAssign]] fold (zero corpus
    * exchange); the election is a partial-aggregated min-of-struct per
    * cell, so only (cells)-sized state crosses the one shuffle and raw
    * vectors never move.
    */
  def diverseSelect(df: DataFrame, centroids: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(df, centroids, idCol, vecCol)
    val c = broadcast(centroids.select(col("centroid_id"),
      col("cvec").cast("array<double>").as("__cv")))
    assigned.join(c, "centroid_id")
      .withColumn("__negc",
        -cosineGeneric(col(vecCol).cast("array<double>"), col("__cv")))
      .groupBy("centroid_id")
      .agg(min(struct(col("__negc"), col(idCol).cast("long").as("rid"))).as("__m"))
      .select(col("centroid_id"), col("__m.rid").as("rep_id"))
  }

  /** The exchange-based form of [[ivfAssign]]: broadcast-join the centroid
    * TABLE and partial-aggregate the n×k scored stream with `min_by`.
    * Same results; use when the centroid set is too large to embed as a
    * plan literal (very large k) or when centroids only exist as a
    * distributed table.
    */
  def ivfAssignShuffled(df: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = broadcast(centroids.select(col("centroid_id"), col("cvec")))
    val cos = centroidCosine(df, vecCol, centroids)
    // Nearest centroid via groupBy + min_by (not a window): the n×k scored
    // stream partial-aggregates map-side, so only ~one row per vector
    // crosses the exchange — at k=1024 cells that is 1024× less shuffle
    // than sorting the scored stream per vec_id. Ties break to the lowest
    // centroid_id via the lexicographic struct, matching row_number order.
    df.join(c)
      .withColumn("__d", -cos(col(vecCol), col("cvec")))
      .groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol),
        min_by(col("centroid_id"), struct(col("__d"), col("centroid_id"))).as("centroid_id"))
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  /** Spherical k-means (Lloyd's) over the embedding column — trains the
    * coarse quantizer for the IVF path. Deterministic throughout: the k
    * seed vectors are the k smallest ids, assignment ties break to the
    * lowest centroid_id, and cluster means are averaged per dimension.
    *
    * Scale: per iteration, centroids (k×d doubles) BROADCAST for a narrow
    * assignment pass, then one aggregation computes per-(cluster, dim)
    * means — shuffle volume ∝ corpus×d but with map-side partials it
    * collapses to (k×d per partition). Centroids collect to the driver
    * between iterations (k×d values), keeping lineage O(1) per iteration —
    * the corpus is scanned `iters + 1` times and nothing else grows.
    * Empty clusters keep their previous centroid.
    */
  /** The k seed vectors (k smallest ids). `orderBy(id).limit(k)` is NOT a
    * global sort: Catalyst's SpecialLimits strategy plans it as
    * TakeOrderedAndProject — a bounded per-partition top-k heap merged on
    * the driver, O(n log k) per partition with no Exchange — which is
    * exactly the bottom-k-by-key pre-prune we'd otherwise hand-build
    * (pinned by BpeKmeansSpec so a regression to a real Sort is loud).
    */
  def kmeansSeeds(df: DataFrame, k: Int, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol)).orderBy(idCol).limit(k)

  def kmeansFit(df: DataFrame, k: Int, iters: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("embedding"))
    var centroids = kmeansSeeds(base, k, "vec_id", "embedding")
      .select(monotonically_increasing_id().as("centroid_id"),
        col("embedding").as("cvec"))
      .as[(Long, Seq[Double])].collect().toSeq
    for (_ <- 1 to iters) {
      val cdf = centroids.toDF("centroid_id", "cvec")
      val means = ivfAssign(base, cdf)
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("centroid_id", "pos").agg(avg("v").as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"), transform(col("pm"), x => x("m")).as("cvec"))
        .as[(Long, Seq[Double])].collect().toMap
      centroids = centroids.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    centroids.toDF("centroid_id", "cvec")
  }

  /** [[kmeansFit]] in EXACT integer arithmetic — the bit-portable sibling
    * (the pageRankPortable/KMV posture): vectors quantize to
    * floor(x·scale) longs, assignment is the squared-L2 integer argmin
    * (ties to the lowest centroid id), and each round's centroid update is
    * the per-dimension TRUNCATING-division mean (s / n toward zero — the
    * SQL integer-division convention, so engines agree) — every iteration
    * a pure
    * function of integers, so an external oracle replays N unrolled
    * rounds hash-for-hash, which float k-means (summation-order-sensitive
    * averages) never allows. Seeds are the first k vectors in `idCol`
    * order (deterministic); an emptied cluster keeps its centroid.
    * Quantization floors lose < 1/scale per coordinate — clustering-
    * irrelevant at the default 10^6 grid.
    *
    * Scale shape per round: one broadcast-literal narrow argmin over the
    * corpus (centroids ride the plan as a k×d literal, zero exchange —
    * the [[ivfAssign]] discipline) + one partial-aggregated per-(cell,
    * dim) integer sum; the driver holds k×d longs only.
    */
  def kmeansFitPortable(df: DataFrame, k: Int, iters: Int, scale: Long = 1000000L,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 0 && scale >= 1, s"bad k=$k iters=$iters scale=$scale")
    val spark = df.sparkSession
    import spark.implicits._
    val q = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(scale.toDouble)).cast("long")).as("xq"))
    var centroids: Seq[(Long, Seq[Long])] = q.orderBy("vec_id").limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1)) }.toSeq
    require(centroids.size == k, s"need >= $k vectors, got ${centroids.size}")
    for (_ <- 1 to iters) {
      // argmin as the min of (dist, cid) structs over a plan-embedded
      // centroid literal — narrow, no exchange, exact integer distances
      val scored = array(centroids.map { case (cid, cq) =>
        struct(
          aggregate(
            zip_with(col("xq"), typedLit(cq), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, d) => acc + d).as("dist"),
          lit(cid).as("cid"))
      }: _*)
      val sums = q
        .withColumn("cid", array_min(scored).getField("cid"))
        .select(col("cid"), posexplode(col("xq")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
        .toMap
      centroids = centroids.map { case (cid, old) =>
        if (sums.contains((cid, 0))) {
          (cid, old.indices.map { p =>
            val (s, n) = sums((cid, p)); s / n // truncating, like SQL //
          })
        } else (cid, old) // emptied cluster keeps its centroid
      }
    }
    centroids.toDF("centroid_id", "cvec")
  }

  /** K-center greedy selection (farthest-first traversal) in EXACT integer
    * arithmetic — the coreset/data-pruning workhorse (Sener & Savarese
    * 2018's active-learning core-set; the "diverse subset" pass of
    * embedding-based corpus curation): seed with the lowest-id vector,
    * then `k − 1` times pick the point FARTHEST from everything selected
    * so far (max over the corpus of min squared-L2 to the selected set;
    * ties to the lowest id). The selected prefix of any length is itself
    * a 2-approximate k-center cover, so one run at k yields every smaller
    * budget for free; `mindist_sq` is the covering radius² at each pick —
    * the standard selection-size diagnostic (radius vs rank curve).
    * Vectors quantize to floor(x·scale) longs, so every round is a pure
    * function of integers and an external engine replays the whole
    * traversal hash-for-hash (same posture as [[kmeansFitPortable]]).
    *
    * Runs on [[greedySelect]]: each point carries its `mindist_sq` and
    * folds in only the newest pick (`min(old, dist²-to-newest)`, the
    * incremental form of farthest-first), so a round costs one Spark job
    * and O(n·d) work at any k, from a shortlist to a 10⁴–10⁶ coreset. The
    * k sequential rounds are the algorithm's inherent data dependency;
    * corpus size only widens each scan.
    */
  def kCenterGreedyPortable(df: DataFrame, k: Int, scale: Long = 1000000L,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && scale >= 1, s"bad k=$k scale=$scale")
    greedySelect(df, k, scale, idCol, vecCol, KCenter)
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998) in
    * EXACT integer arithmetic — the diversity-aware re-rank between
    * retrieval and a context window: greedily pick `k` corpus vectors
    * maximizing `λ·rel − (1 − λ)·redundancy`, with relevance the integer
    * dot product against the query vector, redundancy the max dot product
    * against what's already selected, and λ carried as the rational
    * `lambdaPct/100` — so the score is the all-integer
    * `lambdaPct·rel − (100 − lambdaPct)·maxsim` (both engines agree
    * bit-for-bit; ties to the lowest id). The first pick is pure argmax
    * relevance. Dot product (not cosine) keeps the arithmetic closed over
    * the integers; pre-normalize embeddings upstream when cosine
    * semantics matter.
    *
    * Runs on [[greedySelect]] like [[kCenterGreedyPortable]]: each point
    * carries its `maxsim` and folds in only the newest pick, one Spark job
    * per round at any k.
    */
  def mmrSelectPortable(df: DataFrame, query: Seq[Double], k: Int, lambdaPct: Int = 70,
                        scale: Long = 1000000L, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && scale >= 1 && lambdaPct >= 0 && lambdaPct <= 100,
      s"bad k=$k scale=$scale lambdaPct=$lambdaPct")
    val qvec = query.map(x => math.floor(x * scale).toLong).toArray
    greedySelect(df, k, scale, idCol, vecCol, Mmr(qvec, lambdaPct))
  }

  /** What [[greedySelect]] maximizes. Each point carries one accumulator
    * over the selected set, starting at `acc0`; `fold` merges in one pick.
    */
  private sealed trait Objective extends Serializable {
    def name: String
    def scoreCol: String
    def acc0: Long
    /** the point's constant term, computed once (MMR's relevance) */
    def rel(id: Long, xq: Array[Long]): Long = 0L
    def fold(acc: Long, xq: Array[Long], pick: Array[Long]): Long
    /** `first`: nothing is selected yet, so `acc` is still `acc0` */
    def score(rel: Long, acc: Long, first: Boolean): Long
  }

  /** acc = min squared distance to the selected set */
  private case object KCenter extends Objective {
    val name = "kCenterGreedyPortable"
    val scoreCol = "mindist_sq"
    val acc0 = Long.MaxValue
    def fold(acc: Long, xq: Array[Long], pick: Array[Long]): Long = {
      var s = 0L
      for (i <- xq.indices) {
        val d = Math.subtractExact(xq(i), pick(i))
        s = Math.addExact(s, Math.multiplyExact(d, d))
      }
      math.min(acc, s)
    }
    // every seed candidate scores 0, so the seed is the lowest id, at radius 0
    def score(rel: Long, acc: Long, first: Boolean): Long = if (first) 0L else acc
  }

  /** acc = max dot product with the selected set */
  private final case class Mmr(query: Array[Long], lambdaPct: Int) extends Objective {
    val name = "mmrSelectPortable"
    val scoreCol = "mmr_score"
    val acc0 = Long.MinValue
    override def rel(id: Long, xq: Array[Long]): Long = {
      require(xq.length == query.length, s"$name: vec_id $id has ${xq.length} " +
        s"coordinates, the query has ${query.length}")
      dotExact(xq, query)
    }
    def fold(acc: Long, xq: Array[Long], pick: Array[Long]): Long =
      math.max(acc, dotExact(xq, pick))
    def score(rel: Long, acc: Long, first: Boolean): Long = {
      val r = Math.multiplyExact(lambdaPct.toLong, rel)
      if (first) r else Math.subtractExact(r, Math.multiplyExact(100L - lambdaPct, acc))
    }
  }

  private def dotExact(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    for (i <- a.indices) s = Math.addExact(s, Math.multiplyExact(a(i), b(i)))
    s
  }

  /** One point of [[greedySelect]]'s state. */
  private final case class Cand(id: Long, xq: Array[Long], rel: Long, acc: Long, sel: Boolean)

  /** (score, vec_id, xq) — the higher score wins, ties to the lower id */
  private def better(a: (Long, Long, Array[Long]),
                     b: (Long, Long, Array[Long])): (Long, Long, Array[Long]) =
    if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a

  /** The greedy-selection kernel of [[kCenterGreedyPortable]] and
    * [[mmrSelectPortable]]: `k` rounds, each picking the unselected point
    * of highest `obj.score` (ties to the lowest id), returned as
    * (sel_rank, vec_id, `obj.scoreCol`).
    *
    * The points quantize once with the floor(x·scale) expression and then
    * leave SQL for that expression's RDD, one [[Cand]] per point. A round
    * folds in only the newest pick and runs one `mapPartitions` + `collect`
    * of each partition's best; the driver keeps the max. That is one Spark
    * job and no SQL query per round, and a round's work and closures are
    * O(d) however many picks precede it. Each round's state is persisted
    * and lineage-truncated by `localCheckpoint` and shares the previous
    * state's coordinate arrays; the previous state is released once the
    * new one has materialized, and the last one before returning, through
    * [[RddBridge]] so no round logs unpersist's checkpoint WARN.
    *
    * The arithmetic is `Math.*Exact`, so an overflow throws as ANSI Spark
    * SQL does. A NULL or wrong-length vector throws an
    * IllegalArgumentException naming its vec_id.
    */
  private def greedySelect(df: DataFrame, k: Int, scale: Long, idCol: String,
                           vecCol: String, obj: Objective): DataFrame = {
    val points = df.select(col(idCol).cast("long"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(scale.toDouble)).cast("long"))).rdd
    var state: RDD[Cand] = points.map { r =>
      require(!r.isNullAt(0), s"${obj.name}: NULL $idCol")
      val id = r.getLong(0)
      require(!r.isNullAt(1), s"${obj.name}: vec_id $id has a NULL vector")
      val xs = r.getSeq[java.lang.Long](1)
      require(!xs.contains(null), s"${obj.name}: vec_id $id has a NULL coordinate")
      val xq = xs.iterator.map(_.longValue).toArray
      Cand(id, xq, obj.rel(id, xq), obj.acc0, sel = false)
    }.localCheckpoint()
    var prev: RDD[Cand] = null
    var picks = Vector.empty[(Long, Long, Long)]
    try {
      while (picks.length < k) {
        val first = picks.isEmpty
        val bests = Matrix.unwrap(state.mapPartitions { it =>
          it.filter(!_.sel).map(c => (obj.score(c.rel, c.acc, first), c.id, c.xq))
            .reduceOption(better).iterator
        }.collect())
        if (prev != null) { RddBridge.release(prev); prev = null }
        require(bests.nonEmpty, s"${obj.name}: k=$k exceeds input size ${picks.length}")
        val (score, pickId, pick) = bests.reduce(better)
        picks :+= ((picks.length + 1L, pickId, score))
        if (picks.length < k) {
          prev = state
          state = prev.map { c =>
            require(c.xq.length == pick.length, s"${obj.name}: vec_id ${c.id} has " +
              s"${c.xq.length} coordinates, vec_id $pickId has ${pick.length}")
            c.copy(acc = obj.fold(c.acc, c.xq, pick), sel = c.sel || c.id == pickId)
          }.localCheckpoint()
        }
      }
      val spark = df.sparkSession
      import spark.implicits._
      picks.toDF("sel_rank", "vec_id", obj.scoreCol)
    } finally {
      RddBridge.release(state)
      if (prev != null) RddBridge.release(prev)
    }
  }

  /** IVF ANN search end-to-end: assign the corpus to its nearest centroid
    * cell (max cosine, ties to the lowest centroid_id), have each query
    * probe its `nprobe` nearest cells, then brute-force ONLY within the
    * probed cells. The coarse quantization bounds the candidate join by
    * cell population — corpus² becomes Σ|cell|·|queries probing it| —
    * and nprobe is the recall/cost dial (more centroids → smaller cells →
    * cheaper, lower recall; higher nprobe re-adds neighbor cells —
    * nprobe = #cells degenerates to exact brute force), matching the dial
    * on the PQ path ([[graft.similarity.Pq.ivfPqTopK]]).
    *
    * Scale shape: centroids broadcast into both sides. The CORPUS cell
    * assignment stays the map-side-partial `min_by` argmin (never a
    * window over the n×k scored stream); the query probe list uses a
    * per-query top-nprobe window, fine because queries are the small
    * side by contract. A neighbor lives in exactly one cell, so probing
    * distinct cells never duplicates a candidate pair.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    // Both cell assignments ride the NARROW ivfAssign fold (zero exchange
    // on the corpus — the side that matters at 100 TB); only the
    // nprobe > 1 query probe needs a scored top-n, and queries are the
    // small side by contract.
    val cc = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("centroid_id").as("cell"))
    val qq =
      if (nprobe == 1)
        ivfAssign(queries, centroids, idCol, vecCol)
          .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
            col("centroid_id").as("cell"))
      else {
        val c = broadcast(centroids.select(col("centroid_id"), col("cvec")))
        val probeW = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("__negcos"), col("centroid_id"))
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")).join(c)
          .withColumn("__negcos", -cosine(col("qv"), col("cvec")))
          .withColumn("__rk", row_number().over(probeW)).filter(col("__rk") <= nprobe)
          .select(col("query_id"), col("qv"), col("centroid_id").as("cell"))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    qq.join(cc, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk").as("rank"))
  }
}
