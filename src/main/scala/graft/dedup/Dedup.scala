package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dictionary, Matrix}

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), n-gram Jaccard (exact pairwise over
  * a shingle join), MinHash+LSH (banded candidate generation — the 100 TB
  * scale path), SimHash (hamming-banded), and embedding-cosine near-dup.
  *
  * Scale notes: exact dedup and MinHash/SimHash are single-shuffle
  * (groupBy on hash / band buckets); the pairwise Jaccard verifier only ever
  * runs on LSH candidates, never all pairs. Nothing touches the driver.
  */
object Dedup {

  import graft.functions.PortableHash

  /** Default `maxDocsPerShingle` for the plain all-pairs shingle joins
    * ([[ngramJaccard]], [[crossCorpusJaccard]]): a corpus-hot shingle
    * (site boilerplate, license header) makes those joins quadratic in its
    * document frequency, so the cap is ON by default — 1000 docs bounds
    * any one shingle's pair generation at ~5·10^5 — and the drop is
    * logged loudly at execution (no silent caps). Pass
    * `maxDocsPerShingle = None` to opt out, or use [[ngramJaccardPrefix]]
    * / [[minHashLsh]], which stay exact/scalable without a cap.
    */
  val DefaultMaxDocsPerShingle = 1000

  /** Observable drop metrics for the hot-shingle cap: callers that need to
    * DETECT lower-bound jaccard output programmatically (not just in the
    * executor log) pass one of these to [[ngramJaccard]] /
    * [[crossCorpusJaccard]] and read it AFTER an action on the result.
    * `droppedShingles` counts distinct capped shingles; `droppedMemberships`
    * sums their document frequencies (the pair-generation mass excluded).
    * Both are Spark accumulators: zero means no pair lost any overlap, a
    * nonzero value means some reported jaccards are lower bounds. Stage
    * retries can over-count (standard accumulator caveat) — treat nonzero
    * as a boolean taint plus an order of magnitude, not an exact census.
    */
  final class CapMetrics(spark: org.apache.spark.sql.SparkSession) {
    val droppedShingles: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("graft.dedup.droppedShingles")
    val droppedMemberships: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("graft.dedup.droppedMemberships")
    def capped: Boolean = droppedShingles.value > 0L
  }

  /** Observable overflow metrics for [[semDedup]]'s `maxCellSize` routing
    * — the sibling of [[CapMetrics]] for the embedding path. A cell above
    * the cap pairs through hyperplane-LSH banding instead of exactly, so
    * its missed cross-band pairs are the recall trade; callers that need
    * to DETECT that programmatically pass one of these and read it after
    * the call. `oversizedCells` counts cells routed to the banded path,
    * `bandedVectors` sums their distinct-vector populations. The counts
    * fire via one eager metadata-sized job over the k-row cell-size
    * aggregate at PLAN time (which also materializes the rep stream the
    * operator reuses), so they are exact — not subject to the stage-retry
    * over-count caveat — and readable as soon as the operator returns.
    */
  final class CellCapMetrics(spark: org.apache.spark.sql.SparkSession) {
    val oversizedCells: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("graft.dedup.oversizedCells")
    val bandedVectors: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("graft.dedup.bandedVectors")
    def capped: Boolean = oversizedCells.value > 0L
  }

  // ---- exact ------------------------------------------------------------

  /** Exact dedup: group rows by content hash, keep the smallest id per
    * group. Single shuffle on a 128-bit hash; at 100 TB, hash first so the
    * shuffle carries (hash, id), not full documents.
    */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))

  /** Rows surviving exact dedup (first id per distinct content wins). */
  def exactSurvivors(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keep = exact(df, textCol, idCol).select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ---- shingles -----------------------------------------------------------

  /** Word n-gram shingles as a (idCol, shingle) relation — distinct set
    * semantics, computed via posexplode over the token array (no UDF).
    */
  def wordShingles(df: DataFrame, n: Int, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val toks = graft.text.TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("__toks")) - n),
          i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))).as("shingle"))
      .distinct()
  }

  /** Character n-gram shingles (for text without clean token boundaries). */
  def charShingles(df: DataFrame, n: Int, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), col(textCol))
      .filter(length(col(textCol)) >= n)
      .select(col(idCol),
        explode(transform(sequence(lit(1), length(col(textCol)) - (n - 1)),
          i => substring(col(textCol), lit(i), lit(n)))).as("shingle"))
      .distinct()

  /** Drop shingles held by more than `cap` documents from an exploded
    * (id, n_sh, shingle) stream: the hot set (boilerplate) is tiny after
    * aggregation, so the exclusion is a broadcast anti-join — the standard
    * guardrail that turns an all-pairs shingle join's worst case from
    * |hottest shingle|² into cap².
    */
  /** Census over a METADATA-SIZED relation (rows fit on the driver by
    * contract — the hot-shingle set and the k-row cell-size aggregate).
    *
    * `pin = true` (accumulators at stake): collect NOW and run `observe`
    * DRIVER-side — exactly once, full stop. An executor-side observe is
    * only at-least-once even behind an eager checkpoint: a task retry of
    * the single funnel partition re-fires it and double-adds the
    * accumulators (transformation-stage accumulator updates carry no
    * exactly-once guarantee). The collected rows return as a local
    * relation, so downstream branch duplication (self-joins, size
    * routing) re-reads driver memory, never the subtree.
    *
    * `pin = false` (log-only observers): stay lazy — a one-partition
    * pass-through task (repartition(1), NOT coalesce(1): coalesce would
    * pull the whole upstream final aggregation into a single task, while
    * repartition exchanges only the already-tiny rows). The observe fires
    * once per execution; log duplication under branch re-execution is
    * harmless and the construction stays job-free.
    */
  private def observedOnce(df: DataFrame, pin: Boolean)(
      observe: Array[org.apache.spark.sql.Row] => Unit): DataFrame = {
    if (pin) {
      val rows = df.collect()
      observe(rows)
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    } else {
      implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
        org.apache.spark.sql.Encoders.row(df.schema)
      df.repartition(1).mapPartitions { it =>
        val rows = it.toArray
        observe(rows)
        rows.iterator
      }
    }
  }

  private def capHotShingles(sh: DataFrame, cap: Option[Int],
                             metrics: Option[CapMetrics] = None): DataFrame =
    cap.fold(sh) { c =>
      require(c >= 2, s"maxDocsPerShingle must be >= 2: $c")
      val hot0 = sh.groupBy("shingle").agg(count(lit(1)).as("__docs"))
        .filter(col("__docs") > c)
      // the hot set is metadata-sized and broadcast anyway; the census
      // makes capped pair generation LOUD, never silent. Pinned (driver-
      // side collect, exactly-once adds) only when metrics were asked
      // for — the pin costs an eager plan-time action; without
      // accumulators at stake, log-duplication is harmless
      val accShingles = metrics.map(_.droppedShingles)
      val accMembers = metrics.map(_.droppedMemberships)
      val hot = observedOnce(hot0, pin = metrics.isDefined) { rows =>
        if (rows.nonEmpty) {
          val hottest = rows.iterator.map(_.getLong(1)).max
          org.slf4j.LoggerFactory.getLogger("graft.dedup.Dedup").warn(
            s"hot-shingle cap $c: excluding ${rows.length} shingle(s) from " +
              s"pair generation (hottest shared by $hottest docs); reported " +
              "jaccard is a lower bound for pairs that shared them")
          accShingles.foreach(_.add(rows.length.toLong))
          accMembers.foreach(_.add(rows.iterator.map(_.getLong(1)).sum))
        }
      }.select("shingle")
      sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    }

  // ---- exact n-gram Jaccard ----------------------------------------------

  /** Pairwise n-gram Jaccard ≥ `threshold` via a shingle-hash self-join:
    * |A∩B| from the equi-join on the shingle hash, |A∪B| = |A|+|B|−|A∩B|.
    * Shingles are compared by portable 31-bit hash, not string — the
    * shuffle carries (id, long) instead of (id, text), per-document shingle
    * sets dedup with array_distinct (no shuffle), and set sizes come from
    * the array length (no counting aggregation). Quadratic in docs sharing
    * a shingle: at scale, run it only on LSH candidates (`minHashLsh`) or
    * rely on `maxDocsPerShingle` (ON by default at
    * [[DefaultMaxDocsPerShingle]]; `None` opts out) — shingles held by more documents (site
    * boilerplate, license headers) are dropped from pair GENERATION by a
    * broadcast anti-join before the self-join, bounding the blowup at
    * cap²·|hot shingles|; union sizes keep the full sets, so the reported
    * jaccard becomes a (tight, standard) lower bound for affected pairs.
    */
  def ngramJaccard(df: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   textCol: String = "text", idCol: String = "doc_id",
                   maxDocsPerShingle: Option[Int] = Some(DefaultMaxDocsPerShingle),
                   capMetrics: Option[CapMetrics] = None): DataFrame = {
    // lazy localCheckpoint (r17): the tokenize→shingle-set kernel is the
    // scan-side cost and the plan consumes it twice (the hot-shingle
    // census and the self-join's capped stream) — materializing the
    // per-doc sets once makes the second consumer a cached read instead
    // of a second full text pass. Per-invocation RDD: no cross-run reuse.
    val base = df
      .select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= n)
      .select(col(idCol), graft.functions.expressions.NativeExpressions.shingleHashSet(
        col("__th"), n, PortableHash.B, PortableHash.P).as("__shs"))
      .localCheckpoint(false)
    val sh = capHotShingles(base.select(col(idCol), size(col("__shs")).as("n_sh"),
      explode(col("__shs")).as("shingle")), maxDocsPerShingle, capMetrics)
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col(s"a.shingle") === col(s"b.shingle") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Prefix-filtered exact set-similarity join (the SSJoin/PPJoin family:
    * Chaudhuri-Ganti-Kaushik ICDE'06, Xiao et al. WWW'08): IDENTICAL output
    * to [[ngramJaccard]], but candidate pairs are generated only from each
    * document's PREFIX — its |S| − ceil(t·|S|) + 1 smallest shingle hashes
    * under the global hash order. Lossless by the prefix-filter lemma: two
    * sets with Jaccard ≥ t overlap in ≥ ceil(t·|S|) elements, and two sets
    * whose prefixes (under any shared total order) are disjoint overlap in
    * at most |S| − prefix elements — so every qualifying pair collides on
    * some prefix hash. At t = 0.8 the pair-generation shuffle carries ~20%
    * of the shingles, and — unlike `maxDocsPerShingle` — the reported
    * pairs are exactly the full all-pairs answer. Verification joins the
    * candidate id pairs back to the full sorted shingle arrays and
    * intersects: full sets travel once per CANDIDATE, never per shingle.
    * The hot-shingle cap still composes for boilerplate-heavy corpora
    * (applied to the prefix stream) — but its caveat is DEEPER here than
    * [[ngramJaccard]]'s: a capped shingle can rank early in the shared
    * order, so the PPJoin+ aggregate bound under-counts and a pair can
    * be MISSED outright, not just reported with a lowered jaccard. The
    * prefix paths' production posture is the default no-cap (the df
    * order already sinks boilerplate to the suffixes), where every
    * bound is exact.
    */
  /** Shared verification epilogue of the candidate-pair Jaccard joins:
    * merge-count the two sorted shingle-hash sets ONCE per candidate, then
    * pin the division + threshold filter ABOVE an aggregation barrier.
    * Without the barrier Catalyst pushes the jaccard predicate down into
    * the candidate-attach equi-join, where join codegen evaluates
    * `sortedIntersectCount` once in the pushed predicate and AGAIN in the
    * output projection — ~1.3× on the verify stage (SCALING.md round 13;
    * same pushdown q101's FastSS verify hit). The candidate streams are
    * all deduped before attachment, so the max() aggregates are a
    * semantic no-op; the barrier's exchange carries five scalar columns
    * (the arrays are projected away below it) and partial aggregation
    * keeps it metadata-sized. The division form is UNCHANGED —
    * `common / (n_a + n_b − common)` over the same int inputs — so
    * results are bit-identical to the pre-barrier plan.
    *
    * A WEAK single-occurrence prune is left pushable into the join so the
    * barrier never shuffles the non-qualifying candidate mass (measured:
    * barrier-without-prune LOST 1.3× at sw10 — late filtering out-costs
    * the double-eval it removes): `jaccard ≥ t ⟺ common·(1+t) ≥
    * t·(n_a+n_b)` in real arithmetic, and the −1.0 slack absorbs double
    * rounding in both this product form and the oracle's division form
    * (inputs are ints < 2³¹, so each product's absolute rounding error is
    * ≪ 1) — the prune can only ADMIT a boundary candidate the exact
    * filter then rejects, never drop one.
    */
  /** Value pivot of the staged verification's lo/hi set split: shingle
    * hashes are uniform in [0, P), so `hash < P/2` names ~half of every
    * doc's set. Any fixed pivot is correct; P/2 maximizes the prune's
    * information per shipped byte.
    */
  private val VerifySplitPivot: Int = (PortableHash.P / 2).toInt

  /** Staged verification of candidate pairs (`cand`: id_a, id_b) against
    * per-doc sorted INT shingle sets (`aN`/`bN`: idCol, __shs, n_sh) —
    * the fix for the verification record-join's disk wall (SCALING.md
    * round 16: attaching both ~850 B sorted sets once per candidate is
    * ~77 GB of transient shuffle at sw50, more than a single box's free
    * disk, even though it is ordinary linear shuffle on a cluster).
    *
    * Stage 1 attaches only each doc's LO HALF (values < [[VerifySplitPivot]])
    * and prunes with an EXACT bound: the intersection splits by the value
    * pivot, so `common = common_lo + common_hi` with
    * `common_hi <= min(n_a − n_la, n_b − n_lb)`; a pair can reach
    * `jaccard >= t  ⟺  common·(1+t) >= t·(n_a+n_b)` only if the bound
    * does. The −1.0 slack absorbs double rounding exactly as in
    * [[verifiedJaccard]]'s weak prune (all inputs are ints < 2^31, so
    * each product's absolute error is ≪ 1) — the prune can only ADMIT a
    * boundary pair the exact filter then rejects, never drop one. At the
    * production thresholds (t = 0.8) the bound kills candidates with
    * jaccard ≲ 0.7 — in measured corpora that is ~99.99% of candidates —
    * so stage 2 (the unchanged full-array [[verifiedJaccard]] epilogue,
    * whose exact division decides every answer) runs on a survivor
    * stream ~10^4× smaller. Bytes per candidate drop ~8× total: half the
    * elements shipped, int-packed (4 B vs 8 B), and the full arrays only
    * ever travel once per SURVIVOR.
    */
  private[graft] def stagedVerifiedJaccard(cand: DataFrame, aN: DataFrame, bN: DataFrame,
                                    idCol: String, threshold: Double): DataFrame = {
    val pivot = lit(VerifySplitPivot)
    val aLo = aN.select(col(idCol).as("id_a"),
        filter(col("__shs"), _ < pivot).as("__la"), col("n_sh").as("n_a"))
      .withColumn("n_la", size(col("__la")))
    val bLo = bN.select(col(idCol).as("id_b"),
        filter(col("__shs"), _ < pivot).as("__lb"), col("n_sh").as("n_b"))
      .withColumn("n_lb", size(col("__lb")))
    val survivors = cand
      .join(aLo, Seq("id_a")).join(bLo, Seq("id_b"))
      .filter((graft.functions.expressions.NativeExpressions
          .sortedIntersectCount(col("__la"), col("__lb")) +
          least(col("n_a") - col("n_la"), col("n_b") - col("n_lb"))).cast("double") *
          lit(1.0 + threshold) >=
        (col("n_a") + col("n_b")).cast("double") * lit(threshold) - lit(1.0))
      .select("id_a", "id_b")
    val aSets = aN.select(col(idCol).as("id_a"), col("__shs").as("__sa"), col("n_sh").as("n_a"))
    val bSets = bN.select(col(idCol).as("id_b"), col("__shs").as("__sb"), col("n_sh").as("n_b"))
    verifiedJaccard(survivors.join(aSets, Seq("id_a")).join(bSets, Seq("id_b")),
      "id_a", "id_b", col("n_a"), col("n_b"), threshold)
  }

  private def verifiedJaccard(attached: DataFrame, keyA: String, keyB: String,
                              nA: Column, nB: Column,
                              threshold: Double): DataFrame =
    attached
      .filter(graft.functions.expressions.NativeExpressions
          .sortedIntersectCount(col("__sa"), col("__sb")).cast("double") *
          lit(1.0 + threshold) >=
        (nA + nB).cast("double") * lit(threshold) - lit(1.0))
      .select(col(keyA), col(keyB),
        graft.functions.expressions.NativeExpressions
          .sortedIntersectCount(col("__sa"), col("__sb")).as("__common"),
        nA.as("__na"), nB.as("__nb"))
      .groupBy(keyA, keyB)
      .agg(max("__common").as("__common"),
        max("__na").as("__na"), max("__nb").as("__nb"))
      .withColumn("jaccard", col("__common").cast("double") /
        (col("__na") + col("__nb") - col("__common")))
      .filter(col("jaccard") >= threshold)
      .select(col(keyA), col(keyB), col("jaccard"))

  def ngramJaccardPrefix(df: DataFrame, n: Int = 3, threshold: Double = 0.8,
                         textCol: String = "text", idCol: String = "doc_id",
                         maxDocsPerShingle: Option[Int] = None,
                         order: String = "df"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(order == "df" || order == "hash", s"order must be df|hash: $order")
    // the sorted shingle sets feed FIVE consumers (the prefix stream,
    // both stage-1 lo-half sides, and both stage-2 full-set sides) and
    // the prefix stream feeds BOTH sides of the candidate self-join:
    // lazy localCheckpoints make each sub-DAG run once instead of per
    // consumer (same trick as semDedup's rep stream — plan construction
    // stays execution-free; ~2× on the bench shape)
    // int-packed: every shingle hash is mod P = 2^31−1, so the cast is
    // lossless and order-preserving — it halves the checkpoint, the
    // prefix stream, and (above all) the verification joins' bytes
    val withN = df
      .select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= n)
      .select(col(idCol),
        sort_array(graft.functions.expressions.NativeExpressions.shingleHashSet(
          col("__th"), n, PortableHash.B, PortableHash.P)).cast("array<int>").as("__shs"))
      .select(col(idCol), col("__shs"), size(col("__shs")).as("n_sh"))
      .localCheckpoint(false)
    val prefLen = (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1).cast("int")
    // prefix stream: the prefLen smallest shingles of each doc under the
    // shared global order. "hash" = the hash value itself (zero extra
    // shuffles, but corpus-hot shingles land in prefixes at random);
    // "df" = ascending document frequency with hash tiebreak (the PPJoin
    // order: hot boilerplate shingles sort to the SUFFIX of every doc, so
    // only rare shingles ever generate pairs — one vocab aggregation, one
    // shingle-keyed join, one per-doc window, all fixed-width)
    val pref0 =
      if (order == "hash")
        withN.select(col(idCol), col("n_sh"),
            posexplode(slice(col("__shs"), lit(1), prefLen)).as(Seq("__p0", "shingle")))
          .withColumn("__pos", col("__p0") + 1).drop("__p0")
      else {
        import org.apache.spark.sql.expressions.Window
        val sh = withN.select(col(idCol), col("n_sh"), explode(col("__shs")).as("shingle"))
        val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
        val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("shingle"))
        sh.join(dfreq, Seq("shingle"))
          .withColumn("__pos", row_number().over(w))
          .filter(col("__pos") <= (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1))
          .select(col(idCol), col("n_sh"), col("shingle"), col("__pos"))
      }
    val pref = capHotShingles(pref0, maxDocsPerShingle).localCheckpoint(false)
    // positional + length filters (PPJoin): a colliding prefix position
    // caps the achievable overlap at 1 + min(n_a − pos_a, n_b − pos_b),
    // and Jaccard ≥ t needs overlap ≥ ceil(t·(n_a+n_b)/(1+t)) and sizes
    // within a factor t of each other — both prune co-occurrences inside
    // the prefix join, and the pair-dedup groupBy then applies the
    // aggregate PPJoin+ bound, all BEFORE the verification join sees a pair
    //
    // The r18 indexing-prefix asymmetry cut zero candidate pairs at sw50 and
    // was rejected (OPTIMIZATION_r18.md, "Changes tried, measured, and REJECTED").
    val cand = ppjoinCandidates(pref, pref,
      col(s"a.$idCol") < col(s"b.$idCol"), idCol, threshold)
    // sets are sorted: one allocation-free merge-count per candidate,
    // staged so full arrays only travel once per bound-surviving pair
    stagedVerifiedJaccard(cand, withN, withN, idCol, threshold)
  }

  /** Candidate pairs of a prefix self/cross join under the FULL PPJoin+
    * bound. The per-row positional filter inside the join keeps each
    * co-occurrence only while `1 + min(n_a − pos_a, n_b − pos_b)` can
    * reach the required overlap α = t·(n_a+n_b)/(1+t) (the classic
    * positional filter — sound for the FIRST shared prefix element, and
    * monotone in position, so a pair survives iff its first shared
    * element's bound passes). The aggregation then tightens it: with o
    * surviving co-occurrences and LAST matched positions (pa, pb) —
    * max() per side lands on the same shingle because per-doc positions
    * are ranks in one global order —
    * `common ≤ o + min(n_a − pa, n_b − pb)`: every common element not
    * among the o counted ones ranks after (pa, pb) in BOTH docs (a
    * shared-in-both-prefixes element before the last kept one is itself
    * kept — the per-row filter passes a position-prefix; an element
    * outside either prefix ranks after both prefix ends). Since
    * pa − pa_first ≥ o − 1, this bound is ALWAYS ≤ the single-row bound:
    * strictly more pruning, applied BEFORE any array travels. The same
    * −1.0 double-rounding slack as the verification prunes (admit-only).
    * Replaces `.distinct()` — the groupBy dedups and the map-side
    * partial aggregation keeps the shuffle at distinct-pair width.
    *
    * Cap interaction: under an opt-in `maxDocsPerShingle` cap a capped
    * shingle can rank EARLY, so o under-counts and this bound can prune
    * a pair the uncapped stream would keep — the cap's documented
    * lower-bound caveat gets correspondingly deeper. With the default
    * (no cap, the prefix paths' production posture) the bound is exact.
    */
  private def ppjoinCandidates(prefA: DataFrame, prefB: DataFrame,
                               pairCond: Column, idCol: String,
                               threshold: Double): DataFrame = {
    // the aliases are applied HERE; pairCond is built against the
    // documented names "a"/"b" (the one extra-condition caller uses
    // col("a.<id>") < col("b.<id>") for the self-join ordering)
    prefA.as("a").join(prefB.as("b"),
        col("a.shingle") === col("b.shingle") && pairCond &&
          // single IEEE products are safe unslacked: a real product of two
          // doubles that is ≤ an integer never ROUNDS above it (the
          // integer is representable, so round-to-nearest cannot
          // overshoot past it) — these length filters can only admit
          col("a.n_sh") * lit(threshold) <= col("b.n_sh") &&
          col("b.n_sh") * lit(threshold) <= col("a.n_sh") &&
          // the overlap bound α = t·(n_a+n_b)/(1+t) is NOT safe in
          // divided form: multiply-then-divide compounds two roundings
          // and crosses integers upward ((63)·0.8/1.8 reads
          // 28.000000000000004 > the true 28, silently dropping an
          // exact-boundary pair — e.g. a 28-shingle doc contained in a
          // 35-shingle doc at t = 0.8 IS jaccard 0.8 and must survive).
          // Compare multiplied through by (1+t) with the file's standard
          // −1.0 admit-only slack instead, exactly like the aggregate
          // and verification prunes below
          (lit(1) + least(col("a.n_sh") - col("a.__pos"), col("b.n_sh") - col("b.__pos")))
            .cast("double") * lit(1.0 + threshold) >=
            (col("a.n_sh") + col("b.n_sh")).cast("double") * lit(threshold) - lit(1.0))
      // per-doc constants n_sh ride as group keys (the sibling joins'
      // form — ngramJaccard, winnowOverlapJoin), not as max() buffers
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.n_sh").as("__na"), col("b.n_sh").as("__nb"))
      .agg(count(lit(1)).as("__o"),
        max(col("a.__pos")).as("__pa"), max(col("b.__pos")).as("__pb"))
      .filter((col("__o") +
          least(col("__na") - col("__pa"), col("__nb") - col("__pb"))).cast("double") *
          lit(1.0 + threshold) >=
        (col("__na") + col("__nb")).cast("double") * lit(threshold) - lit(1.0))
      .select("id_a", "id_b")
  }

  /** Cross-corpus set-similarity join: n-gram Jaccard ≥ `threshold` between
    * documents of TWO corpora (fresh crawl vs existing corpus — the "is this
    * new document a near-dup of anything we already have" screen). Same
    * shingle-hash equi-join shape as [[ngramJaccard]] but across frames, so
    * left ids never pair with left ids. At 100 TB run the right side through
    * LSH first or rely on `maxDocsPerShingle` (ON by default at
    * [[DefaultMaxDocsPerShingle]], applied per side; `None` opts out); the
    * join shuffles fixed-width (id, long) pairs only.
    */
  def crossCorpusJaccard(left: DataFrame, right: DataFrame, n: Int = 3,
                         threshold: Double = 0.8, textCol: String = "text",
                         idCol: String = "doc_id",
                         maxDocsPerShingle: Option[Int] = Some(DefaultMaxDocsPerShingle),
                         capMetrics: Option[CapMetrics] = None): DataFrame = {
    def sh(df: DataFrame): DataFrame = capHotShingles(df
      .select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= n)
      .select(col(idCol), graft.functions.expressions.NativeExpressions.shingleHashSet(
        col("__th"), n, PortableHash.B, PortableHash.P).as("__shs"))
      .select(col(idCol), size(col("__shs")).as("n_sh"),
        explode(col("__shs")).as("shingle")), maxDocsPerShingle, capMetrics)
    val a = sh(left).as("a"); val b = sh(right).as("b")
    a.join(b, col("a.shingle") === col("b.shingle"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Prefix-filtered CROSS-corpus set-similarity join: IDENTICAL output to
    * [[crossCorpusJaccard]] (id_a from `left`, id_b from `right`), but —
    * as in [[ngramJaccardPrefix]] — candidate pairs are generated only
    * from each document's prefix under a total order SHARED by both
    * corpora (the prefix lemma needs one order; "df" ranks by document
    * frequency over the UNION vocabulary so corpus-hot boilerplate sorts
    * to every suffix, "hash" uses the hash order for zero extra
    * shuffles). Length and positional (PPJoin) filters prune before
    * verification; verification merges the full sorted hash sets once
    * per surviving candidate. The 100 TB shape for the "is this new
    * document a near-dup of anything we already have" screen at high
    * thresholds — pair generation touches ~(1−t) of the shingles instead
    * of all of them. With the default `maxDocsPerShingle = None` there is
    * no lower-bound caveat; under an opt-in cap the caveat is the DEEP
    * one documented on [[ngramJaccardPrefix]] — a capped shingle that
    * ranks early in the shared order makes the PPJoin+ aggregate bound
    * under-count, so a qualifying pair can be MISSED outright.
    */
  def crossCorpusJaccardPrefix(left: DataFrame, right: DataFrame, n: Int = 3,
                               threshold: Double = 0.8, textCol: String = "text",
                               idCol: String = "doc_id",
                               maxDocsPerShingle: Option[Int] = None,
                               order: String = "df"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(order == "df" || order == "hash", s"order must be df|hash: $order")
    def withN(df: DataFrame): DataFrame = df
      .select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= n)
      .select(col(idCol),
        sort_array(graft.functions.expressions.NativeExpressions.shingleHashSet(
          col("__th"), n, PortableHash.B, PortableHash.P)).cast("array<int>").as("__shs"))
      .select(col(idCol), col("__shs"), size(col("__shs")).as("n_sh"))
      .localCheckpoint(false)
    val la = withN(left)
    val rb = withN(right)
    val prefLen = (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1).cast("int")
    def prefixOf(side: DataFrame, dfreq: Option[DataFrame]): DataFrame =
      dfreq match {
        case None => // hash order: the sorted array's own head
          side.select(col(idCol), col("n_sh"),
              posexplode(slice(col("__shs"), lit(1), prefLen)).as(Seq("__p0", "shingle")))
            .withColumn("__pos", col("__p0") + 1).drop("__p0")
        case Some(freq) =>
          import org.apache.spark.sql.expressions.Window
          val sh = side.select(col(idCol), col("n_sh"), explode(col("__shs")).as("shingle"))
          val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("shingle"))
          sh.join(freq, Seq("shingle"))
            .withColumn("__pos", row_number().over(w))
            .filter(col("__pos") <= (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1))
            .select(col(idCol), col("n_sh"), col("shingle"), col("__pos"))
      }
    // the SHARED order: document frequency over BOTH corpora's shingles
    val dfreq =
      if (order == "hash") None
      else Some(la.select(col(idCol), explode(col("__shs")).as("shingle"))
        .unionByName(rb.select(col(idCol), explode(col("__shs")).as("shingle")))
        .groupBy("shingle").agg(count(lit(1)).as("__df"))
        .localCheckpoint(false))
    val prefA = capHotShingles(prefixOf(la, dfreq), maxDocsPerShingle)
    val prefB = capHotShingles(prefixOf(rb, dfreq), maxDocsPerShingle)
    val cand = ppjoinCandidates(prefA, prefB, lit(true), idCol, threshold)
    stagedVerifiedJaccard(cand, la, rb, idCol, threshold)
  }

  // ---- winnowing fingerprints ---------------------------------------------

  /** Winnowed fingerprint set of a text column (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    * the MOSS scheme): the distinct minima of every window of `w`
    * consecutive word-n-gram shingle hashes. Any shared token run of
    * length >= n + w - 1 between two documents is GUARANTEED to surface as
    * a shared fingerprint, while only ~2/(w+1) of the shingles are kept —
    * a principled shrink dial between exact shingle overlap (w = 1) and
    * sparse sampling, with a locality guarantee MinHash does not give
    * (MinHash bounds the Jaccard ESTIMATE; winnowing bounds DETECTION of
    * every sufficiently long shared passage). Narrow, zero-shuffle: one
    * O(m) native kernel pass per row (monotonic-deque sliding min).
    */
  def winnowSignature(text: Column, n: Int = 4, w: Int = 4): Column =
    graft.functions.expressions.NativeExpressions.winnowHashes(
      PortableHash.tokenHashes(text), n, w, PortableHash.B, PortableHash.P)

  /** Exploded (id, fingerprint) relation of the winnowed fingerprints —
    * the store-this shape for a fingerprint index (plagiarism screens,
    * passage-reuse lookups). Shuffle-free until a consumer aggregates.
    */
  def winnowFingerprints(df: DataFrame, n: Int = 4, w: Int = 4,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), winnowSignature(col(textCol), n, w).as("__fps"))
      .filter(size(col("__fps")) > 0)
      .select(col(idCol), explode(col("__fps")).as("fp"))

  /** Pairwise shared-fingerprint counts: documents sharing at least
    * `minShared` winnowed fingerprints, with the overlap coefficient
    * shared / min(|A|, |B|). The cheap passage-reuse join: candidate pairs
    * come from a fixed-width (id, long) equi-join on the ~2/(w+1)-density
    * fingerprint sample instead of the full shingle set, so the shuffle is
    * w-fold lighter than [[ngramJaccard]]'s at the same n. Corpus-hot
    * fingerprints (license boilerplate) are droppable from pair generation
    * via `maxDocsPerFp` (broadcast anti-join), bounding the self-join
    * blowup exactly as the shingle paths do.
    */
  def winnowOverlapJoin(df: DataFrame, n: Int = 4, w: Int = 4, minShared: Int = 2,
                        textCol: String = "text", idCol: String = "doc_id",
                        maxDocsPerFp: Option[Int] = None,
                        capMetrics: Option[CapMetrics] = None): DataFrame = {
    val base = df.select(col(idCol), winnowSignature(col(textCol), n, w).as("__fps"))
      .filter(size(col("__fps")) > 0)
    val fp = capHotShingles(base.select(col(idCol), size(col("__fps")).as("n_fp"),
      explode(col("__fps")).as("shingle")), maxDocsPerFp, capMetrics)
    val a = fp.as("a"); val b = fp.as("b")
    a.join(b, col("a.shingle") === col("b.shingle") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.n_fp").as("n_a"), col("b.n_fp").as("n_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .withColumn("overlap", col("shared").cast("double") / least(col("n_a"), col("n_b")))
      .select("id_a", "id_b", "shared", "overlap")
  }

  /** Overlap-coefficient (containment) candidates: pairs whose shingle-set
    * overlap |A∩B| / min(|A|, |B|) meets `threshold`. The asymmetric
    * complement of [[ngramJaccard]]: a short document pasted verbatim inside
    * a long one (quoted articles, boilerplate-wrapped copies) overlaps its
    * host almost completely yet its Jaccard is near zero because the union
    * is dominated by the host — containment catches exactly what symmetric
    * Jaccard structurally cannot. Same shingle-hash equi-join shape and the
    * same scale rules: fixed-width (id, long) shuffle, all-pairs only on
    * LSH candidates or with hot-shingle caps.
    */
  def overlapCandidates(df: DataFrame, n: Int = 3, threshold: Double = 0.8,
                        textCol: String = "text", idCol: String = "doc_id",
                        maxDocsPerShingle: Option[Int] = None,
                        capMetrics: Option[CapMetrics] = None): DataFrame = {
    val sh = capHotShingles(df
      .select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= n)
      .select(col(idCol), graft.functions.expressions.NativeExpressions.shingleHashSet(
        col("__th"), n, PortableHash.B, PortableHash.P).as("__shs"))
      .select(col(idCol), size(col("__shs")).as("n_sh"),
        explode(col("__shs")).as("shingle")), maxDocsPerShingle, capMetrics)
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.shingle") === col("b.shingle") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment",
        col("common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Incremental-ingest novelty filter: the batch documents whose exact
    * token fingerprint ([[graft.text.TextAnalysis.fingerprint]] — md5 of the
    * whitespace-normalized token sequence) does not already occur in the
    * existing corpus. This is the per-crawl "what is actually new" screen
    * that runs before any near-dup work, and the batch flavor of the
    * reference's incremental recomputation idea (SURVEY §4.1): process the
    * delta, not the corpus.
    *
    * Scale shape: the corpus side is the 100 TB one, so the BATCH (the small
    * side) builds a bloom filter over its fingerprints; the bloom broadcasts
    * and prunes the corpus scan down to potential collisions — corpus rows
    * whose fingerprint cannot occur in the batch are dropped at the scan and
    * never shuffled. The surviving sliver resolves exactly via left-anti
    * join, so bloom false positives cannot leak into the output and false
    * negatives are impossible: the result is exactly "batch EXCEPT corpus on
    * fingerprint".
    */
  def noveltyFilter(batch: DataFrame, corpus: DataFrame,
                    expectedBatchDocs: Long = 10000000L, fpp: Double = 0.03,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fp = graft.text.TextAnalysis.fingerprint(col(textCol))
    val b = batch.withColumn("__fp", fp)
    val bf = b.stat.bloomFilter(col("__fp"), expectedBatchDocs, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bf)
    val might = udf((s: String) => s != null && bc.value.mightContainString(s))
    val seen = corpus.select(fp.as("__fp")).filter(might(col("__fp")))
    b.join(seen, Seq("__fp"), "left_anti").drop("__fp")
  }

  // ---- MinHash + LSH -------------------------------------------------------

  /** MinHash signatures over a (id, shingle) relation: k affine permutations
    * h_i(x) = (a_i·x + b_i) mod p of a portable polynomial shingle hash,
    * min per permutation. One groupBy(id); prefer `minHashLsh` below, which
    * computes signatures per-row with no shuffle at all.
    */
  def minHashSignatures(shingles: DataFrame, k: Int, idCol: String = "doc_id"): DataFrame = {
    val p = lit(PortableHash.P)
    val base = PortableHash.charPolyHash(col("shingle"))
    val mins = PortableHash.minHashCoefs(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * base + lit(b), p)).as(s"mh_$i")
    }
    shingles.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** The banded MinHash index rows for a corpus: (id, band, bucket), one
    * row per (document, band), all per-row expression work. This IS the
    * persistable near-dup index — write it once (bucketed/z-ordered by
    * (band, bucket)) and join each incoming batch against it with
    * [[minHashLshAgainstIndex]] instead of re-signing the corpus per
    * batch. Same portable arithmetic as [[minHashLsh]], so an index built
    * today matches batches banded tomorrow (or by another engine).
    */
  def minHashIndex(df: DataFrame, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val coefs = PortableHash.minHashCoefs(k)
    df.select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= shingleN)
      .select(col(idCol), graft.functions.expressions.NativeExpressions.minHashSig(
        col("__th"), shingleN, coefs.map(_._1), coefs.map(_._2),
        PortableHash.B, PortableHash.P).as("__sig"))
      .select(col(idCol),
        explode(array((0 until bands).map { bd =>
          struct(lit(bd).as("band"),
            PortableHash.foldBucket((0 until rows).map(j =>
              element_at(col("__sig"), bd * rows + j + 1))).as("bucket"))
        }: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** MinHash LSH candidate pairs: per document, hash tokens once, combine n
    * consecutive token hashes into shingle hashes, take the min under k
    * affine permutations, and band the k-wide signature into `bands` bucket
    * keys — ALL per-row expression work (min over a multiset equals min over
    * the distinct set, so no distinct/groupBy is needed). The only shuffle
    * is the band-bucket self-join — the classic shuffle-bounded near-dup
    * plan for 100 TB. Output: distinct (id_a, id_b) candidate pairs (verify
    * with `ngramJaccard` on the candidate subset). Hashes are portable
    * integer arithmetic (graft.functions.PortableHash) — the DuckDB oracle
    * reproduces them exactly.
    */
  def minHashLsh(df: DataFrame, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val banded = minHashIndex(df, shingleN, k, bands, textCol, idCol)
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** Incremental near-dup candidates: band the (small) batch and join it
    * against a PRE-BUILT corpus index ([[minHashIndex]] output, typically
    * read back from storage) — the corpus is never re-tokenized or
    * re-signed. Shuffle ∝ batch bands + colliding index rows (with the
    * index stored bucketed by (band, bucket), the join is partition-local
    * on the corpus side). Output: distinct (batch_id, corpus_id); verify
    * with an exact measure over the candidate texts, as with
    * [[minHashLsh]].
    *
    * Scope: batch-vs-CORPUS only — near-dups WITHIN the arriving batch
    * are invisible to the index; run [[minHashLsh]] (or [[minHashDedup]])
    * on the batch alone for the intra-batch pairs before appending.
    *
    * Streaming: with a streaming batch side this stays a STATELESS
    * stream-static join — the pair dedup is per-row-exact only in batch
    * mode, because a global distinct on a stream would accumulate
    * unbounded state; a streaming caller gets at most `bands` copies of a
    * pair per micro-batch (dedupe in foreachBatch if exact pairs matter —
    * downstream verification is idempotent either way).
    */
  def minHashLshAgainstIndex(batch: DataFrame, index: DataFrame,
                             shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                             textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame = {
    val b = minHashIndex(batch, shingleN, k, bands, textCol, idCol).as("b")
    val i = index.as("i")
    val pairs = b
      .join(i, col("b.band") === col("i.band") && col("b.bucket") === col("i.bucket") &&
        col(s"b.$idCol") =!= col(s"i.$idCol"))
      .select(col(s"b.$idCol").as("batch_id"), col(s"i.$idCol").as("corpus_id"))
    if (batch.isStreaming) pairs else pairs.distinct()
  }

  /** Production near-dup pipeline at scale: LSH generates candidate pairs
    * (shuffle-bounded), exact Jaccard verifies ONLY those candidates via
    * array_intersect on the per-document shingle-hash sets — never the
    * all-pairs join. Output: verified pairs with jaccard ≥ threshold.
    */
  /** Distinct shingle-hash set per document — the exact-verification side
    * of every MinHash pipeline (one definition so the all-pairs and
    * incremental paths can never disagree on jaccard).
    */
  private def shingleSets(df: DataFrame, shingleN: Int,
                          textCol: String, idCol: String): DataFrame = df
    .select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
    .filter(size(col("__th")) >= shingleN)
    .select(col(idCol), sort_array(graft.functions.expressions.NativeExpressions.shingleHashSet(
      col("__th"), shingleN, PortableHash.B, PortableHash.P)).as("__shs"))

  def minHashDedup(df: DataFrame, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                   threshold: Double = 0.8, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val cands = minHashLsh(df, shingleN, k, bands, textCol, idCol)
    val sets = shingleSets(df, shingleN, textCol, idCol)
    verifiedJaccard(cands
        .join(sets.select(col(idCol).as("id_a"), col("__shs").as("__sa")), "id_a")
        .join(sets.select(col(idCol).as("id_b"), col("__shs").as("__sb")), "id_b"),
      "id_a", "id_b", size(col("__sa")), size(col("__sb")), threshold)
  }

  /** The full incremental near-dup pipeline: candidates from
    * [[minHashLshAgainstIndex]] (batch banded vs the stored corpus index),
    * then exact-Jaccard verification of ONLY the touched corpus documents —
    * the candidate ids semi-join the corpus before its text is shingled,
    * so corpus work is ∝ candidates, not corpus size. Output: verified
    * (batch_id, corpus_id, jaccard ≥ threshold) — the batch rows to drop
    * (or cluster) before appending the batch to the corpus. Same scope
    * note as [[minHashLshAgainstIndex]]: intra-batch near-dups need a
    * [[minHashDedup]] pass over the batch alone. Batch-mode only (the
    * candidate set is checkpointed to feed both the corpus pruning and
    * the verify spine without recomputation).
    *
    * Storage lifecycle: the candidate checkpoint's executor blocks are
    * candidate-set-sized (id pairs) and are reclaimed by the
    * ContextCleaner once this call's result is consumed and dropped —
    * there is no handle to release eagerly. Long-lived sessions invoking
    * this per batch should consume each result before the next batch so
    * superseded checkpoints become unreachable.
    */
  def minHashDedupAgainstIndex(batch: DataFrame, index: DataFrame, corpus: DataFrame,
                               shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                               threshold: Double = 0.8, textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    // referenced twice below (corpus pruning + verify spine): checkpoint so
    // the banding/join/distinct sub-DAG runs once, not per branch (lazy —
    // plan construction stays execution-free)
    val cands = minHashLshAgainstIndex(batch, index, shingleN, k, bands, textCol, idCol)
      .localCheckpoint(false)
    val touched = corpus.join(
      cands.select(col("corpus_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    verifiedJaccard(cands
        .join(shingleSets(batch, shingleN, textCol, idCol)
          .select(col(idCol).as("batch_id"), col("__shs").as("__sa")), "batch_id")
        .join(shingleSets(touched, shingleN, textCol, idCol)
          .select(col(idCol).as("corpus_id"), col("__shs").as("__sb")), "corpus_id"),
      "batch_id", "corpus_id", size(col("__sa")), size(col("__sb")), threshold)
  }

  // ---- duplicate clustering --------------------------------------------------

  /** Connected components over a near-dup pair relation: every document in a
    * transitively-connected duplicate group gets the group's minimum id as
    * its cluster label — the step that turns pairwise matches into "keep one
    * doc per cluster" for a training-data pipeline. Runs on the graph-block
    * kernel ([[Matrix.connectedComponents]]): O(log n) rounds of one job
    * each even on a chain-shaped dup graph (A≈B≈C≈…), where min-label
    * propagation needs diameter rounds. The DuckDB recursive-CTE oracle
    * replays the same labeling.
    *
    * Integral ids widen to bigint. String ids stay strings and elect the
    * LEXICOGRAPHIC min ("10" < "9"; pad digit strings, or pass longs, for
    * numeric order): [[Dictionary.create]] numbers them in value order for
    * the kernel, and they are decoded on the way out. Any other pair of
    * types throws, since a lossy cast would null the ids and silently
    * no-op the clustering; so does a NULL id, naming its column.
    *
    * The labeling (doc_id, cluster) comes back persisted, holding no other
    * storage; the caller unpersists it when done.
    */
  def dupClusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                  maxIter: Int = 50,
                  reliableCheckpoint: Boolean = false): DataFrame =
    dupClustersWithRounds(pairs, aCol, bCol, maxIter, reliableCheckpoint)._1

  /** [[dupClusters]] plus the number of rounds taken — exposed so
    * convergence speed is testable (a 32-node path settles in a handful of
    * rounds, not 31).
    */
  def dupClustersWithRounds(pairs: DataFrame, aCol: String = "id_a",
                            bCol: String = "id_b",
                            maxIter: Int = 50,
                            reliableCheckpoint: Boolean = false): (DataFrame, Int) = {
    import org.apache.spark.sql.types._
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    val ends = pairs.select(col(aCol), col(bCol))
    (pairs.schema(aCol).dataType, pairs.schema(bCol).dataType) match {
      case (a, b) if integral.contains(a) && integral.contains(b) =>
        Matrix.connectedComponents(ends, maxIter, reliableCheckpoint)(identity)
      case (StringType, StringType) =>
        val dict = Dictionary.create(ends.select(col(aCol).as("id")).union(ends.select(col(bCol))), "id")
        // encode writes code 0 for a NULL id: back to NULL, so the kernel rejects it
        val coded = Dictionary.encodeMulti(ends, Seq(aCol, bCol), dict)
          .select(Seq(aCol, bCol).map(c => when(col(c) =!= 0, col(c)).as(c)): _*)
        Matrix.connectedComponents(coded, maxIter, reliableCheckpoint)(
          Dictionary.decodeMulti(_, Seq("doc_id", "cluster"), dict))
      case (at, bt) => throw new IllegalArgumentException(
        s"dupClusters id columns must both be integral or both string: " +
          s"$aCol is ${at.simpleString}, $bCol is ${bt.simpleString} — a lossy " +
          "cast would null the ids and silently no-op the clustering")
    }
  }

  /** Canonical-survivor selection: from the full corpus and a cluster
    * labeling, keep the minimum-id document of each duplicate cluster plus
    * every unclustered document (left-anti on non-canonical members).
    */
  def clusterSurvivors(df: DataFrame, clusters: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val losers = clusters.filter(col(idCol) =!= col("cluster")).select(col(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-preferring survivor selection: from the corpus, a cluster
    * labeling, and a per-row quality score, keep the best-scoring document
    * of each duplicate cluster (ties → smallest id) plus every unclustered
    * document. Where [[clusterSurvivors]] keeps the minimum id, this keeps
    * the copy worth keeping — the longer / cleaner / higher-scored one.
    * One partial-aggregating shuffle on the cluster id over (id, cluster,
    * score) triples; document bodies never shuffle.
    */
  def survivorsBy(df: DataFrame, clusters: DataFrame, score: Column,
                  idCol: String = "doc_id",
                  clusterCol: String = "cluster"): DataFrame = {
    val scored = df.select(col(idCol), score.as("__score"))
      .join(clusters.select(col(idCol), col(clusterCol)), Seq(idCol), "left")
    val winners = scored.filter(col(clusterCol).isNotNull)
      .groupBy(col(clusterCol))
      .agg(min_by(col(idCol), struct((-col("__score")).as("ns"), col(idCol))).as(idCol))
      .select(idCol)
    val keep = winners.union(scored.filter(col(clusterCol).isNull).select(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ---- SimHash --------------------------------------------------------------

  /** 32-bit SimHash per document: sign-sum of token-hash bits, token
    * frequency weighted. Computed entirely per-row (a fold over the token-
    * hash array per bit — nested higher-order functions, still codegen'd):
    * NO shuffle, unlike the classic explode→groupBy formulation. Token
    * hashes are portable (charPolyHash mod 2^32) so the DuckDB oracle
    * reproduces the exact bits.
    */
  def simHash(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val th = PortableHash.tokenHashes(col(textCol), mod = 4294967296L)
    df.select(col(idCol), th.as("__th"))
      .filter(size(col("__th")) > 0)
      .select(col(idCol),
        graft.functions.expressions.NativeExpressions.simHash32(col("__th")).as("simhash"))
  }

  /** SimHash near-dup candidates with Hamming distance ≤ 3 via the 4-band
    * pigeonhole trick: split 32 bits into 4 8-bit bands; any pair within
    * distance 3 must agree exactly on ≥1 band → equi-join per band.
    */
  def simHashCandidates(df: DataFrame, maxHamming: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nBands = maxHamming + 1
    val width = 32 / nBands
    val sh = simHash(df, textCol, idCol)
    val banded = sh.select(col(idCol), col("simhash"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          call_function("shiftright", col("simhash"), lit(b * width))
            .bitwiseAND(lit((1L << width) - 1)).as("key"))
      }: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.key"))
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- embedding near-dup ----------------------------------------------------

  /** Embedding-cosine near-duplicates: pairs with cosine ≥ threshold.
    * Delegates to Similarity.cosine; the pair generation uses the LSH
    * bucketing from Similarity at scale (brute force here is the exact
    * baseline over modest candidate sets).
    */
  def embeddingNearDup(df: DataFrame, threshold: Double = 0.95,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", graft.similarity.Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** LSH-bucketed embedding near-dup — the 100 TB shape of
    * `embeddingNearDup`: candidate pairs come from hyperplane-band bucket
    * equi-joins (corpus² becomes Σ bucket²), exact cosine verifies only
    * candidates. High-cosine pairs collide in ≥1 band with high
    * probability; misses are the recall trade documented in SCALING.md.
    */
  def embeddingNearDupLsh(df: DataFrame, threshold: Double = 0.95,
                          nPlanes: Int = 16, bands: Int = 4,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nPlanes % bands == 0)
    val width = nPlanes / bands
    val mask = lit((1L << width) - 1)
    val banded = df.select(col(idCol), col(vecCol),
      graft.similarity.Similarity.lshSignature(col(vecCol), nPlanes).as("sig"))
      .select(col(idCol), col(vecCol), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          call_function("shiftright", col("sig"), lit(b * width)).bitwiseAND(mask).as("key"))
      }: _*)).as("bb"))
      .select(col(idCol), col(vecCol), col("bb.band"), col("bb.key"))
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        col(s"l.$vecCol").as("va"), col(s"r.$vecCol").as("vb"))
      .distinct()
      .withColumn("cosine", graft.similarity.Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup with the pairwise work
    * BOUNDED BY CLUSTER CELLS — each vector is assigned to its nearest
    * centroid (broadcast table, map-side `min_by` argmin), and cosine
    * pairs are only formed WITHIN a cell; a vector is dropped when a
    * smaller-id cell-mate sits at cosine ≥ threshold. Returns the
    * surviving (id, centroid_id) rows. Centroids come from the caller
    * (typically [[graft.similarity.Similarity.kmeansFit]]) — with k cells
    * the corpus-wide pair count falls from n² to Σ cell², the paper's
    * trade: duplicates split across cell boundaries are the (empirically
    * small) recall loss. Keep-best-copy selection instead of lowest-id can
    * be layered with [[survivorsBy]] over the dropped-pairs graph.
    *
    * In-cell pairing is bounded two ways so no single cell can go
    * quadratic at 100 TB:
    *
    *  1. '''Identical-vector collapse.''' The adversarial hot cell is a
    *     boilerplate embedding repeated 10^8 times — every copy lands in
    *     the same cell. Bitwise-identical vectors are collapsed FIRST via
    *     `groupBy(vec).agg(min(id))`: the hot group partial-aggregates
    *     map-side (reduce side sees ~one row per DISTINCT vector), every
    *     non-minimal copy is dropped outright (cosine(v,v) ≥ any
    *     threshold ≤ 1), and only group representatives enter the
    *     pairwise stage. This is EXACT — for any pair (x < y) dropping y,
    *     the representative of x's group is ≤ x and at the same cosine to
    *     y, so the rep pair drops y too.
    *  2. '''Cell-size cap.''' Distinct-vector cells at most `maxCellSize`
    *     pair exactly (the default path — identical to the paper's
    *     semantics); cells above the cap fall back to hyperplane-LSH
    *     banding WITHIN the cell (join key = (centroid_id, band,
    *     sig-slice), the [[embeddingNearDupLsh]] kernel), so the in-cell
    *     join fans out across band buckets instead of |cell|² in one
    *     task. Missed cross-band pairs in oversized cells are the recall
    *     trade, same as the LSH near-dup path. Cell sizes come from a
    *     k-row aggregate broadcast back onto the stream.
    *
    * Scale shape: one broadcast join + partial-agg shuffle for assignment
    * (~one row per vector crosses the exchange), one skew-proof
    * partial-agg shuffle for the identical collapse, one shuffle of the
    * distinct survivors on cell/band key for the pairing. Raw vectors
    * never funnel through a hot key; nothing touches the driver.
    */
  def semDedup(df: DataFrame, centroids: DataFrame, threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxCellSize: Int = 10000, nPlanes: Int = 16, bands: Int = 4,
               cellMetrics: Option[CellCapMetrics] = None): DataFrame =
    semDedupAssigned(
      graft.similarity.Similarity.ivfAssign(df, centroids, idCol, vecCol),
      threshold, idCol, vecCol, maxCellSize, nPlanes, bands, cellMetrics)

  /** The bounded in-cell pairing core of [[semDedup]], over an already
    * cell-assigned stream (idCol, vecCol, centroid_id) — shared by the
    * one-shot path and the incremental [[semDedupAgainstIndex]] path.
    */
  private def semDedupAssigned(assigned: DataFrame, threshold: Double,
               idCol: String, vecCol: String,
               maxCellSize: Int, nPlanes: Int, bands: Int,
               cellMetrics: Option[CellCapMetrics] = None): DataFrame = {
    require(nPlanes % bands == 0, "nPlanes must divide into bands")

    // -- stage 1: collapse bitwise-identical vectors (exact; skew-proof) ----
    // Identical vectors share a centroid (assignment is deterministic), so
    // one partial-aggregating groupBy yields the representatives directly,
    // centroid attached — and since every non-minimal copy is dropped by
    // its own representative (cosine(v,v) = 1 ≥ threshold; NaN for the
    // zero vector, which Spark orders above all numerics), survivors can
    // only ever be representatives: the rest of the operator never needs
    // the pre-collapse stream again. Guarded on threshold ≤ 1 where the
    // self-pair argument holds.
    val reps0 =
      if (threshold <= 1.0)
        assigned.groupBy(col(vecCol), col("centroid_id"))
          .agg(min(col(idCol)).as(idCol))
      else assigned
    // The rep stream is referenced six times downstream (cell sizing, two
    // sides of each pairing branch, the final anti-join): a lazy local
    // checkpoint pins it to ONE materialization — without it each branch
    // re-runs the assignment fold and the vector-keyed collapse exchange
    // (~8 redundant corpus scans in the executed plan). Lazy, so plan
    // construction stays execution-free; storage is the distinct-vector
    // stream, which production SemDeDup persists anyway (it IS the cell
    // index).
    val reps = reps0.localCheckpoint(false)

    // -- stage 2: size-routed in-cell pairing over distinct vectors --------
    val cellSizes0 = reps.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__cell_n"))
    // cap observability: the cell-size aggregate is k rows (metadata-
    // sized), so when a caller asked for overflow metrics the oversize
    // census collects it NOW and observes driver-side (observedOnce
    // pin=true) — the counts are exact because the adds happen on the
    // driver, not in a retryable task; the routing branches below reuse
    // the collected rows as a local relation
    val cellSizes = cellMetrics.fold(cellSizes0) { m =>
      val accCells = m.oversizedCells
      val accVecs = m.bandedVectors
      val cap = maxCellSize
      observedOnce(cellSizes0, pin = true) { rows =>
        val over = rows.filter(_.getLong(1) > cap)
        if (over.nonEmpty) {
          org.slf4j.LoggerFactory.getLogger("graft.dedup.Dedup").warn(
            s"semDedup cell cap $cap: ${over.length} cell(s) holding " +
              s"${over.iterator.map(_.getLong(1)).sum} distinct vectors " +
              "route through banded LSH pairing; cross-band pairs in those " +
              "cells can be missed (recall trade)")
          accCells.add(over.length.toLong)
          accVecs.add(over.iterator.map(_.getLong(1)).sum)
        }
      }
    }
    val sized = reps.join(broadcast(cellSizes), Seq("centroid_id"))
    val small = sized.filter(col("__cell_n") <= maxCellSize)
    val large = sized.filter(col("__cell_n") > maxCellSize)

    def pairsDropped(aDf: DataFrame, bDf: DataFrame, keys: Seq[String]): DataFrame =
      aDf.join(bDf, keys)
        .filter(col("id_a") < col("id_b"))
        .filter(graft.similarity.Similarity.cosine(col("va"), col("vb")) >= threshold)
        .select(col("id_b").as(idCol))

    // exact path: bounded |cell| ≤ maxCellSize by construction
    val smallDropped = pairsDropped(
      small.select(col("centroid_id"), col(idCol).as("id_a"), col(vecCol).as("va")),
      small.select(col("centroid_id"), col(idCol).as("id_b"), col(vecCol).as("vb")),
      Seq("centroid_id"))

    // banded path: oversized cells subdivide on (band, sig-slice)
    val width = nPlanes / bands
    val mask = lit((1L << width) - 1)
    val banded = large
      .withColumn("__sig", graft.similarity.Similarity.lshSignature(col(vecCol), nPlanes))
      .select(col("centroid_id"), col(idCol), col(vecCol),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            call_function("shiftright", col("__sig"), lit(b * width)).bitwiseAND(mask).as("key"))
        }: _*)).as("bb"))
      .select(col("centroid_id"), col(idCol), col(vecCol),
        col("bb.band").as("__band"), col("bb.key").as("__key"))
    val largeDropped = pairsDropped(
      banded.select(col("centroid_id"), col("__band"), col("__key"),
        col(idCol).as("id_a"), col(vecCol).as("va")),
      banded.select(col("centroid_id"), col("__band"), col("__key"),
        col(idCol).as("id_b"), col(vecCol).as("vb")),
      Seq("centroid_id", "__band", "__key")).distinct()

    val dropped = smallDropped.unionByName(largeDropped).distinct()
    reps.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid_id"))
  }

  /** Persistable SemDeDup cell index: the corpus' (idCol, vecCol,
    * centroid_id) assignment under a FIXED centroid table. STORE it once;
    * later batches dedup against it with [[semDedupAgainstIndex]] without
    * the corpus ever re-entering a pairwise stage — the semantic-dedup
    * analog of [[minHashIndex]].
    */
  def semDedupIndex(df: DataFrame, centroids: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graft.similarity.Similarity.ivfAssign(df, centroids, idCol, vecCol)

  /** Incremental SemDeDup: dedup a new batch against a stored corpus
    * [[semDedupIndex]] (same centroid table), then among itself. A batch
    * vector is dropped if ANY indexed cell-mate sits at cosine ≥
    * threshold (the corpus copy always wins — it is already part of the
    * training set); the survivors then run the standard bounded in-batch
    * [[semDedup]] pairing. Returns surviving batch (idCol, centroid_id).
    *
    * Scale shape — the corpus never re-pairs with itself: the index is
    * probed against the batch's cells ([[semDedupScreen]]) and joined
    * batch×cell-mates only. Corpus-side work is one scan per batch; in-batch work
    * is bounded exactly as in [[semDedup]] (identical-collapse +
    * cell-size-capped pairing).
    */
  def semDedupAgainstIndex(batch: DataFrame, index: DataFrame, centroids: DataFrame,
                           threshold: Double,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           maxCellSize: Int = 10000, nPlanes: Int = 16,
                           bands: Int = 4,
                           cellMetrics: Option[CellCapMetrics] = None): DataFrame = {
    // checkpoint AFTER the screen: the in-batch stage references its input
    // several times (rep election, cell sizing, both pairing branches, the
    // final anti-join) — one materialization bounds the screen join to a
    // single execution instead of one per reference. Lazy, so building the
    // plan does not run the screen job eagerly.
    val fresh = semDedupScreen(batch, index, centroids, threshold, idCol, vecCol)
      .localCheckpoint(false)
    semDedupAssigned(fresh, threshold, idCol, vecCol, maxCellSize, nPlanes, bands,
      cellMetrics)
  }

  /** The corpus screen of [[semDedupAgainstIndex]], exposed on its own:
    * assign the batch, drop every vector with an indexed cell-mate at
    * cosine ≥ threshold, keep the rest (with their cells) — semantic
    * novelty against a stored corpus, no in-batch dedup. Also the
    * auditable form: [[semDedupAgainstIndex]] checkpoints this result, so
    * its own plan hides the screen stage.
    *
    * Scale shape (r18): the corpus side is ONE map-only probe — the
    * assigned batch broadcasts as a hash relation keyed on centroid_id
    * (the batch ≪ corpus premise of every stored-index screen; the old
    * `broadcast(touched)` baked in the same bound), so an index row in
    * an untouched cell misses the build and drops inside the join, the
    * same row-level prune the former touched-cell semi-join performed
    * with an extra aggregation + broadcast. The former
    * `idxTouched.distinct()` — a full shuffle of the touched corpus
    * VECTORS per batch, the only O(corpus) exchange in the screen — is
    * gone: duplicate corpus copies now cost one extra map-side cosine
    * each instead of a corpus-wide exchange every batch (dup-heavy
    * corpora should collapse copies once, at index-build time, not per
    * screen). Outcome-identical: a batch vector drops iff ≥ 1 indexed
    * cell-mate matches, and the id-level distinct below already
    * collapses multiplicity. The anti-join's build side is the matched
    * batch ids, a subset of the batch, so it takes the batch's broadcast
    * decision ([[graft.operators.Joins.broadcastDecision]], made once on
    * the assigned batch): an oversized batch shuffles both joins instead.
    */
  def semDedupScreen(batch: DataFrame, index: DataFrame, centroids: DataFrame,
                     threshold: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (bAssigned, side) = graft.operators.Joins.broadcastDecision(
      graft.similarity.Similarity.ivfAssign(batch, centroids, idCol, vecCol))
    val corpusDup = index
      .select(col("centroid_id"), col(vecCol).as("cv"))
      .join(side(bAssigned.select(col("centroid_id"), col(idCol).as("__bid"),
        col(vecCol).as("bv"))), Seq("centroid_id"))
      .filter(graft.similarity.Similarity.cosine(col("bv"), col("cv")) >= threshold)
      .select(col("__bid").as(idCol)).distinct()
    bAssigned.join(side(corpusDup), Seq(idCol), "left_anti")
  }

  /** Stream-safe form of [[semDedupScreen]]: the cell assignment is the
    * NARROW ivfAssign fold (no aggregation — legal on an unbounded
    * stream), and the corpus screen is ONE stream-static left-anti join
    * on (same cell ∧ cosine ≥ threshold), so a continuously arriving
    * batch stream dedups against a stored corpus index with zero
    * streaming state. Identical results to the batch screen; the batch
    * form keeps the touched-cell prune and distinct-corpus-vector
    * optimizations that need aggregations.
    */
  def semDedupScreenStream(batch: DataFrame, index: DataFrame, centroids: DataFrame,
                           threshold: Double,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = graft.similarity.Similarity.ivfAssign(batch, centroids, idCol, vecCol)
    val idx = index.select(col("centroid_id").as("__ic"), col(vecCol).as("__cv"))
    assigned.join(idx,
      col("centroid_id") === col("__ic") &&
        graft.similarity.Similarity.cosine(col(vecCol), col("__cv")) >= threshold,
      "left_anti")
  }

  /** Passage-level duplication stats: for each document, the fraction of
    * its word n-gram shingles that also occur in at least one OTHER
    * document — the signal behind substring-level training-data dedup
    * (flag or strip passages repeated across the corpus, not just whole
    * near-dup documents). Shingles are portable hashes (never strings).
    *
    * Scale shape — the unique-shingle inversion: a shingle held by ≥ 2
    * docs is "dup", so per doc `n_dup = n_shingles − n_corpus_unique`,
    * and a corpus-unique shingle has exactly ONE owning doc. That turns
    * the per-shingle doc count into a plain hash aggregate (map-side
    * partials collapse a boilerplate shingle held by 10^8 docs inside
    * each map task — no `count over (partition by h)` window funnelling
    * a hot h through one partition) whose unique survivors re-aggregate
    * by doc id. Two token-linear shuffles, both skew-proof; the shingle
    * subtree is traversed twice (second pass only needs `size(shs)`),
    * the accepted trade for removing the hot-key stall at 100×.
    */
  def crossDocShingleStats(df: DataFrame, n: Int = 8, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val th = PortableHash.tokenHashes(col(textCol))
    val sets = df.select(col(idCol),
      array_distinct(when(size(th) >= n, PortableHash.shingleHashes(th, n))
        .otherwise(array().cast("array<bigint>"))).as("shs"))
    val ex = sets.select(col(idCol), explode(col("shs")).as("h"))
    // shingles are distinct per doc, so the per-h row count = ndocs(h);
    // first(idCol) is single-valued exactly where it survives the filter
    val uniqPerDoc = ex.groupBy(col("h"))
      .agg(count(lit(1)).as("__c"), first(col(idCol)).as(idCol))
      .filter(col("__c") === 1)
      .groupBy(idCol).agg(count(lit(1)).as("__n_uniq"))
    sets.select(col(idCol), size(col("shs")).cast("long").as("n_shingles"))
      .join(uniqPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        (col("n_shingles") - coalesce(col("__n_uniq"), lit(0L))).as("n_dup_shingles"))
      .withColumn("cross_dup_frac",
        when(col("n_shingles") > 0,
          col("n_dup_shingles").cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Duplicated-passage spans: the maximal token ranges of each document
    * covered by n-gram shingles occurring ≥ `minCount` times corpus-wide —
    * the exact-substring-dedup signal (which passages to cut, not just
    * which documents to drop). Positions are 1-based inclusive token
    * indexes; overlapping/adjacent duplicated windows merge into one span
    * (gaps-and-islands per document).
    *
    * Scale: three token-linear shuffles — shingle-frequency aggregation
    * (map-side partials), the join back on the 8-byte hash, and the
    * per-document position window. Nothing is quadratic; hot shingles cost
    * only their own row count. The `minCount` filter drops the unique-
    * shingle tail (the overwhelming majority) before the join.
    */
  def duplicateSpans(df: DataFrame, n: Int = 8, minCount: Long = 2L,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = df
      .select(col(idCol), PortableHash.tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= n)
      .select(col(idCol),
        posexplode(PortableHash.shingleHashes(col("__th"), n)).as(Seq("__i0", "__h")))
      .select(col(idCol), (col("__i0") + 1).as("__i"), col("__h"))
    val hot = pos.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__h")
    val dup = pos.join(hot, Seq("__h")).select(col(idCol), col("__i"))
    val w = Window.partitionBy(idCol).orderBy("__i")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup
      .withColumn("__prev", lag("__i", 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("__i") - col("__prev") > n, 1).otherwise(0))
      .withColumn("__island", sum("__new").over(wRun))
      .groupBy(col(idCol), col("__island"))
      .agg(min("__i").cast("long").as("span_start"),
        (max("__i") + lit(n - 1)).cast("long").as("span_end"))
      .withColumn("n_span_tokens", col("span_end") - col("span_start") + 1)
      .select(idCol, "span_start", "span_end", "n_span_tokens")
  }

  /** Soft dedup: weight documents by the inverse size of their duplicate
    * cluster instead of dropping non-survivors — 1/|cluster| neutralizes
    * duplicate over-representation under weighted sampling while keeping
    * every variant available (each duplicated document group contributes
    * about one document of mass). Unclustered documents weigh 1. The
    * weight is a single exactly-rounded IEEE division, so it is
    * oracle-portable.
    *
    * Scale shape: the cluster table holds only docs with a near-dup —
    * small next to the corpus — so sizes aggregate it cheaply and the
    * left join back to the corpus broadcasts under AQE; the corpus scan
    * never shuffles.
    */
  def softDedupWeights(df: DataFrame, clusters: DataFrame,
                       idCol: String = "doc_id",
                       clusterCol: String = "cluster"): DataFrame = {
    val sizes = clusters.groupBy(col(clusterCol)).agg(count(lit(1)).as("__csz"))
    df.select(col(idCol))
      .join(clusters.join(sizes, clusterCol).select(col(idCol), col("__csz")),
        Seq(idCol), "left")
      .withColumn("cluster_size", coalesce(col("__csz"), lit(1L)))
      .select(col(idCol), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
  }

  /** Apply [[duplicateSpans]]: cut the flagged token ranges out of each
    * document and re-emit the cleaned text — the "fix" half of exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): detect WHICH ranges repeat corpus-wide,
    * then remove exactly those tokens. Documents without spans pass
    * through with whitespace canonicalized (single-space token join), so
    * the output text form is uniform.
    *
    * Scale shape: spans collapse to a per-doc list of (start, end) pairs
    * (bounded by doc length / n), one equi-join into the corpus on the
    * fixed-width id, then a narrow per-row token filter — token-linear
    * with per-token work ∝ spans-per-doc.
    */
  def cutSpans(df: DataFrame, spans: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.join(sp, Seq(idCol), "left")
      .withColumn("__toks", graft.text.TextAnalysis.tokens(col(textCol)))
      .withColumn("__kept", filter(col("__toks"), (_, i) =>
        !coalesce(exists(col("__spans"), s =>
          (i + lit(1)) >= s.getField("span_start") &&
            (i + lit(1)) <= s.getField("span_end")), lit(false))))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_tokens_removed"))
  }

  // ---- paragraph-level exact dedup ------------------------------------

  /** CCNet-style paragraph dedup (Wenzek et al. 2020): split each document
    * on newlines, keep only the corpus-wide FIRST occurrence of every
    * distinct non-blank paragraph (earliest (id, position) wins — so a
    * boilerplate footer shared by 10^7 pages survives exactly once), and
    * reassemble each document from its surviving paragraphs in original
    * order. Returns (id, n_paras_kept, text_dedup); documents whose every
    * paragraph is owned elsewhere disappear — the shape that removes
    * headers/footers/cookie banners without dropping whole near-dup pages.
    *
    * Scale shape: paragraphs are grouped by their 128-bit content hash, so
    * the winner election is one partial-aggregating shuffle of (hash, id,
    * pos) triples — a hot boilerplate paragraph partial-aggregates
    * map-side instead of flooding one reducer; the winner table (one row
    * per DISTINCT paragraph) joins back on the hash; reassembly is one
    * shuffle on the doc id. Token-linear end-to-end, nothing quadratic.
    */
  def paragraphDedup(df: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("idx", "para")))
      .filter(trim(col("para")) =!= "")
      // 16-byte binary key, not the 32-char hex string: halves the width
      // of the winner-election shuffle and the join key at corpus scale
      // (same "never strings" hygiene as the shingle paths)
      .withColumn("__ph", unhex(md5(col("para"))))
    val winners = paras.groupBy(col("__ph"))
      .agg(min(struct(col(idCol).as("wid"), col("idx").as("widx"))).as("__w"))
    paras.join(winners, Seq("__ph"))
      .filter(col(idCol) === col("__w.wid") && col("idx") === col("__w.widx"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("para")))),
          x => x.getField("para")), "\n").as("text_dedup"))
  }

  // ---- decontamination ------------------------------------------------

  /** Benchmark decontamination: per training document, how many of its
    * distinct token n-gram shingles also occur in an evaluation corpus,
    * plus a `contaminated` flag (>= minOverlap shared shingles). This is
    * the standard pre-training screen that strips eval/benchmark overlap
    * out of the corpus before training.
    *
    * Scale shape: eval corpora are tiny next to the training corpus
    * (10^4 docs vs 10^9), so the eval side collapses to a distinct set of
    * 8-byte hashes that BROADCASTS; the corpus side is one narrow
    * tokenize+shingle map feeding a broadcast hash join — the 100 TB scan
    * never shuffles. If an eval set ever outgrows the broadcast threshold,
    * Spark degrades to a shuffled join keyed on the 8-byte hash, still
    * token-linear. Shingles are portable polynomial hashes
    * ([[graft.functions.PortableHash]]), never strings, so the join keys
    * are fixed-width.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 8,
                    minOverlap: Int = 1, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    def shingleSet(df: DataFrame, cols: Column*): DataFrame = {
      val th = PortableHash.tokenHashes(col(textCol))
      df.select(cols :+
        array_distinct(when(size(th) >= n, PortableHash.shingleHashes(th, n))
          .otherwise(array().cast("array<bigint>"))).as("shs"): _*)
    }
    val evalHashes = shingleSet(evalSet)
      .select(explode(col("shs")).as("h")).distinct()
    val hits = shingleSet(train, col(idCol))
      .select(col(idCol), explode(col("shs")).as("h"))
      .join(broadcast(evalHashes), Seq("h"))
      .groupBy(idCol).agg(count(lit(1)).as("n_eval_overlap"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_eval_overlap"), lit(0L)).as("n_eval_overlap"))
      .withColumn("contaminated", col("n_eval_overlap") >= minOverlap)
  }
}
