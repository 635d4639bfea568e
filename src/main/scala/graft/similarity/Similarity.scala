package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val vecIsFloat = df.schema.fields.find(_.name == vecCol).exists(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })
    val cventry = centroids.schema.fields.find(_.name == "cvec")
    val centFloat = cventry.exists(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })
    // sorted by centroid_id so on-tie keep-first == lowest id
    val rows = centroids.select(col("centroid_id").cast("long"), col("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).sortBy(_._1)
    require(rows.nonEmpty, "ivfAssign: the centroid table is empty")
    val cos: (Column, Column) => Column =
      if (vecIsFloat && centFloat) cosine else cosineGeneric
    val centsLit: Column =
      if (centFloat)
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
    // Float-array sides take the fused native kernel (bit-identical to the
    // separate folds — same sequential double accumulation); double-typed
    // centroids (e.g. fresh from kmeansFit) keep the generic composition.
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def isFloatArr(sch: org.apache.spark.sql.types.StructType, name: String) =
      sch.fields.find(_.name == name).exists(_.dataType match {
        case ArrayType(FloatType, _) => true; case _ => false
      })
    val cos: (Column, Column) => Column =
      if (isFloatArr(df.schema, vecCol) && isFloatArr(centroids.schema, "cvec")) cosine
      else cosineGeneric
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
    * Scale shape — TWO regimes, answer-identical (property-pinned):
    *
    *   - '''small k (≤ [[LiteralPlanMaxK]])''': each round is ONE narrow
    *     scan with the whole selected set riding the plan as an r×d
    *     literal (the [[ivfAssign]] discipline, zero exchange) and
    *     `orderBy(...).limit(1)` planning as TakeOrderedAndProject
    *     (per-partition top-1, driver merge — never a global sort). No
    *     state to materialize, but round r pays O(r·d) expression work
    *     per row — O(k²·d·n) total — and the literal plan itself grows
    *     O(k·d), so Catalyst analysis/codegen cost blows up around k in
    *     the low thousands.
    *   - '''large k''': [[kCenterGreedyScalable]] — carry `mindist_sq` as
    *     a MATERIALIZED column and fold in only the NEWEST pick each
    *     round (`least(old, dist-to-newest)`), the standard incremental
    *     form of farthest-first. Constant-size plans, O(k·d·n) total
    *     compute, one localCheckpoint per round to keep lineage O(1).
    *     This is the coreset-scale path (k = 10⁴–10⁶, the Sener &
    *     Savarese regime).
    *
    * This entry point picks automatically: literal plans up to
    * `maxLiteralK` (default [[LiteralPlanMaxK]]), the mindist-carrying
    * traversal beyond. The k sequential driver rounds are the algorithm's
    * inherent data dependency either way; corpus size only widens each
    * scan.
    */
  def kCenterGreedyPortable(df: DataFrame, k: Int, scale: Long = 1000000L,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            maxLiteralK: Int = LiteralPlanMaxK): DataFrame = {
    require(k >= 1 && scale >= 1, s"bad k=$k scale=$scale")
    if (k > maxLiteralK)
      return kCenterGreedyScalable(df, k, scale, idCol, vecCol)
    val spark = df.sparkSession
    import spark.implicits._
    // persist the quantized projection for the duration of the k driver
    // rounds (r17 optimization): every round scans the whole corpus, and
    // without this each of the k jobs re-reads and re-quantizes the
    // parquet input — k source scans collapse to one read + (k−1) cached
    // scans. MEMORY_AND_DISK so an over-RAM corpus degrades to local disk
    // instead of failing; released before returning.
    val q = df.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(scale.toDouble)).cast("long")).as("xq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = q.orderBy("vec_id").limit(1).collect()
      require(seed.nonEmpty, "kCenterGreedyPortable: empty input")
      var selected = Vector[(Long, Seq[Long], Long)](
        (seed(0).getLong(0), seed(0).getSeq[Long](1), 0L))
      for (_ <- 2 to k) {
        val next = kCenterRound(q, selected.map(t => (t._1, t._2))).limit(1).collect()
        require(next.nonEmpty, s"kCenterGreedyPortable: k=$k exceeds input size")
        selected :+= ((next(0).getLong(0), next(0).getSeq[Long](1), next(0).getLong(2)))
      }
      selected.zipWithIndex
        .map { case ((id, _, d), i) => (i + 1L, id, d) }
        .toDF("sel_rank", "vec_id", "mindist_sq")
    } finally q.unpersist()
  }

  /** Selected-set size above which [[kCenterGreedyPortable]] abandons the
    * literal-unrolled round for the mindist-carrying traversal: past a few
    * hundred literals the O(r·d) plan stops being "free metadata" —
    * whole-stage codegen hits its 64 KB method limits and driver
    * analysis time grows quadratically over the run.
    */
  val LiteralPlanMaxK: Int = 500

  /** Large-k farthest-first traversal — answer-identical to
    * [[kCenterGreedyPortable]] (property-pinned at k=32), built for
    * coreset-scale budgets (k = 10⁴–10⁶) where the literal-unrolled round
    * is quadratic in k and its plan outgrows Catalyst.
    *
    * Instead of re-deriving min-dist-to-selected from scratch each round,
    * the state `(vec_id, xq, mindist_sq, sel)` is materialized once and
    * each round folds in only the NEWEST pick:
    * `mindist_sq ← least(mindist_sq, dist²-to-newest)` — the textbook
    * incremental identity (min over a set = min of (min over prefix,
    * newest member)). Every round is one narrow scan over the state with
    * a single d-length literal, top-1 via TakeOrderedAndProject, then a
    * localCheckpoint (or reliable checkpoint, opt-in for executor-loss
    * survival on long runs — same posture as the [[graft.operators.Matrix]]
    * iterative family) that keeps the lineage depth O(1) no matter how
    * many rounds run. Total compute O(k·d·n); plan size O(d), constant.
    */
  def kCenterGreedyScalable(df: DataFrame, k: Int, scale: Long = 1000000L,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            reliableCheckpoint: Boolean = false): DataFrame = {
    require(k >= 1 && scale >= 1, s"bad k=$k scale=$scale")
    val spark = df.sparkSession
    import spark.implicits._
    val q = df.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(scale.toDouble)).cast("long")).as("xq"))
    val seed = q.orderBy("vec_id").limit(1).collect()
    require(seed.nonEmpty, "kCenterGreedyScalable: empty input")
    val (seedId, seedXq) = (seed(0).getLong(0), seed(0).getSeq[Long](1))
    def distTo(c: Seq[Long]) =
      aggregate(zip_with(col("xq"), typedLit(c), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, d) => acc + d)
    // lazy local checkpoints: the round's top-1 collect is the action that
    // materializes-and-caches the folded state, so each round is one job
    // instead of two (fold job + pick job); the fold's second reference
    // reads the cached blocks
    var state = Matrix.ckpt(q.select(col("vec_id"), col("xq"),
      distTo(seedXq).as("md"), (col("vec_id") === lit(seedId)).as("sel")),
      false, reliableCheckpoint)
    var selected = Vector[(Long, Long)]((seedId, 0L))
    for (i <- 2 to k) {
      val next = kCenterPick(state).limit(1).collect()
      require(next.nonEmpty, s"kCenterGreedyScalable: k=$k exceeds input size")
      val (pickId, pickXq, pickMd) =
        (next(0).getLong(0), next(0).getSeq[Long](1), next(0).getLong(2))
      selected :+= ((pickId, pickMd))
      if (i < k)
        // checkpoint blocks from prior rounds are reclaimed by the
        // ContextCleaner once unreferenced; only the newest state is live
        state = Matrix.ckpt(kCenterFold(state, pickId, pickXq), false, reliableCheckpoint)
    }
    selected.zipWithIndex
      .map { case ((id, d), i) => (i + 1L, id, d) }
      .toDF("sel_rank", "vec_id", "mindist_sq")
  }

  /** The farthest-unselected pick of one [[kCenterGreedyScalable]] round,
    * pre-`limit(1)` — factored so PlanAuditSpec can pin that the caller's
    * top-1 plans as TakeOrderedAndProject over one narrow state scan (no
    * Sort, no Window, no Exchange), independent of how many rounds ran.
    */
  private[graft] def kCenterPick(state: DataFrame): DataFrame =
    state.filter(!col("sel"))
      .orderBy(col("md").desc, col("vec_id"))

  /** One mindist fold of [[kCenterGreedyScalable]]: against the NEWEST
    * pick only — the incremental identity that keeps the plan O(d) while
    * the literal-unrolled [[kCenterRound]] grows O(r·d). Factored for the
    * same plan-pin reason as [[kCenterPick]].
    */
  private[graft] def kCenterFold(state: DataFrame, pickId: Long,
                                 pickXq: Seq[Long]): DataFrame =
    state.select(col("vec_id"), col("xq"),
      least(col("md"),
        aggregate(zip_with(col("xq"), typedLit(pickXq), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, d) => acc + d)).as("md"),
      (col("sel") || col("vec_id") === lit(pickId)).as("sel"))

  /** One farthest-first round of [[kCenterGreedyPortable]], pre-`limit(1)`
    * — factored out so PlanAuditSpec can pin the round's shape: the
    * selected set rides as a literal, the scan is narrow (no Exchange
    * anywhere in the round), and the `.orderBy.limit(1)` the caller adds
    * plans as TakeOrderedAndProject, never a global Sort.
    */
  private[graft] def kCenterRound(q: DataFrame,
                                  selected: Seq[(Long, Seq[Long])]): DataFrame = {
    val mindist = array_min(array(selected.map { case (_, cq) =>
      aggregate(zip_with(col("xq"), typedLit(cq), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, d) => acc + d)
    }: _*))
    q.filter(!col("vec_id").isin(selected.map(_._1): _*))
      .select(col("vec_id"), col("xq"), mindist.as("md"))
      .orderBy(col("md").desc, col("vec_id"))
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
    * Per-round scale shape: one narrow literal-scored scan +
    * TakeOrderedAndProject top-1 — the SMALL-k literal regime of
    * [[kCenterGreedyPortable]], which is the right one here because MMR is
    * by construction a shortlist re-ranker (k ≤ ~100 items headed for a
    * context window); the guard enforces the plan-size ceiling, and
    * `maxLiteralK` raises it explicitly when a caller accepts the
    * plan-compile cost (parity with [[kCenterGreedyPortable]]'s override).
    */
  def mmrSelectPortable(df: DataFrame, query: Seq[Double], k: Int, lambdaPct: Int = 70,
                        scale: Long = 1000000L, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxLiteralK: Int = LiteralPlanMaxK): DataFrame = {
    require(k >= 1 && scale >= 1 && lambdaPct >= 0 && lambdaPct <= 100,
      s"bad k=$k scale=$scale lambdaPct=$lambdaPct")
    require(k <= maxLiteralK,
      s"mmrSelectPortable is a shortlist re-ranker (literal-unrolled rounds, " +
        s"k <= $maxLiteralK); raise maxLiteralK to accept the plan-compile " +
        s"cost, or use kCenterGreedyScalable for bulk diverse selection")
    val spark = df.sparkSession
    import spark.implicits._
    val qvec: Seq[Long] = query.map(x => math.floor(x * scale).toLong)
    // persist the quantized shortlist across the k rounds — same rationale
    // and lifecycle as kCenterGreedyPortable's corpus persist
    val q = df.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(scale.toDouble)).cast("long")).as("xq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def idot(v: Seq[Long]) =
      aggregate(zip_with(col("xq"), typedLit(v), (a, b) => a * b),
        lit(0L), (acc, d) => acc + d)
    val rel = idot(qvec)
    try {
      var selected = Vector.empty[(Long, Seq[Long], Long)] // (id, xq, score)
      for (_ <- 1 to k) {
        val score =
          if (selected.isEmpty) lit(lambdaPct.toLong) * rel
          else lit(lambdaPct.toLong) * rel -
            lit((100 - lambdaPct).toLong) *
              array_max(array(selected.map { case (_, sq, _) => idot(sq) }: _*))
        val next = q.filter(!col("vec_id").isin(selected.map(_._1): _*))
          .select(col("vec_id"), col("xq"), score.as("sc"))
          .orderBy(col("sc").desc, col("vec_id")).limit(1).collect()
        require(next.nonEmpty, s"mmrSelectPortable: k=$k exceeds input size")
        selected :+= ((next(0).getLong(0), next(0).getSeq[Long](1), next(0).getLong(2)))
      }
      selected.zipWithIndex
        .map { case ((id, _, s), i) => (i + 1L, id, s) }
        .toDF("sel_rank", "vec_id", "mmr_score")
    } finally q.unpersist()
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
