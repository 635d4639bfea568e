package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, broadcast, col, explode, floor}

/** Join operators from SURVEY.md §2.3. Cubert exposes each physical strategy
  * as a distinct user-chosen operator (MERGE JOIN over blockgen'd data,
  * HASH-JOIN over an in-memory build side, reduce-side JOIN via shuffle
  * macro, MeshJoin via LOAD BLOCK). On Spark these collapse to one logical
  * join; the strategy surface is preserved as explicit hints so a user can
  * still pin the physical plan the way Cubert scripts did, while Catalyst +
  * AQE remain free to handle skew and runtime re-planning.
  */
object Joins {

  /** Map Cubert join-type keywords to Spark join type strings
    * (grammar CubertPhysical.g4:112-114: default inner, LEFT/RIGHT/FULL OUTER).
    */
  def joinType(t: String): String = t.trim.toLowerCase match {
    case "" | "inner"        => "inner"
    case "left" | "left outer"   => "left_outer"
    case "right" | "right outer" => "right_outer"
    case "full" | "full outer"   => "full_outer"
    case "semi" | "left semi"    => "left_semi"
    case "anti" | "left anti"    => "left_anti"
    case other => other
  }

  /** The union-window and bucketed join plans ride on internal __-prefixed
    * columns; an input that already carries one would be silently
    * overwritten (and in the union forms, CROSS-WIRED into the other
    * side's payload) — refuse loudly instead.
    */
  private def requireNoReserved(df: DataFrame, names: Seq[String], op: String): Unit = {
    val bad = df.columns.filter(names.contains)
    require(bad.isEmpty,
      s"$op reserves internal column(s) ${bad.mkString(", ")} — rename them first")
  }

  /** MERGE JOIN — sort-merge join of co-partitioned, co-sorted inputs
    * (reference: operator/MergeJoinOperator.java:36, merge loop :148-210).
    * Spark's SortMergeJoin IS this operator; when both sides are bucketed
    * tables on the keys (see Blockgen) the shuffle and sort are elided,
    * exactly like Cubert's blockgen precondition. The MERGE hint pins SMJ.
    */
  def mergeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                how: String = "inner"): DataFrame =
    left.hint("merge").join(right, keys, joinType(how))

  /** HASH-JOIN — broadcast-hash join, build side = right
    * (reference: operator/HashJoinOperator.java:39, columnar build store
    * :346-355 → Spark's broadcast hash relation).
    */
  def hashJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               how: String = "inner"): DataFrame =
    left.join(broadcast(right), keys, joinType(how))

  /** [[boundedBroadcast]]'s byte cap, and its row cap: ~48 B per
    * (colvalue, code) dictionary entry puts 10^7 rows at ~0.5 GB.
    */
  val BroadcastMaxBytes: Long = 1L << 30
  val BroadcastMaxRows: Long = 10000000L

  /** `df` with a broadcast hint while it provably fits, unhinted otherwise:
    * the one size decision behind every broadcast the engine, not the
    * script author, chooses. The reference assumed in-memory build sides
    * (DictionaryEncodeOperator.java:48); at 100 TB a forced hint on a
    * high-cardinality side is an OOM.
    */
  def boundedBroadcast(df: DataFrame): DataFrame = {
    val (d, side) = broadcastDecision(df)
    side(d)
  }

  /** The decision as the relation to join (`df` or its snapshot) and the
    * side to join it under, which a subset of it may share. Tier one, at
    * plan time: the plan's byte estimate against [[BroadcastMaxBytes]].
    * Tier two: one row-capped count over a lazy local-checkpoint snapshot
    * the join then reads. Without CBO an in-query relation inherits its
    * distinct's CHILD size, so a 5-value dictionary built from a 100 GB
    * table estimates 100 GB; the count rescues its broadcast.
    */
  private[graft] def broadcastDecision(df: DataFrame): (DataFrame, DataFrame => DataFrame) = {
    def side(fits: Boolean): DataFrame => DataFrame = if (fits) broadcast(_) else identity
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BroadcastMaxBytes) (df, side(true))
    else {
      val snap = df.localCheckpoint(false)
      (snap, side(snap.limit((BroadcastMaxRows + 1).toInt).count() <= BroadcastMaxRows))
    }
  }

  /** Reduce-side JOIN (shuffle macro) — shuffle both sides on keys and join
    * within each partition (reference: analyzer/physical/ShuffleRewriter.java:549+,
    * operator/RSJoinOperator.java:33 with its `___tag` column). Spark's
    * default shuffled join is exactly this; AQE may still promote to
    * broadcast at runtime, which is strictly better.
    */
  def rsJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
             how: String = "inner"): DataFrame =
    left.join(right, keys, joinType(how))

  /** Join with an arbitrary condition (theta/range) — absent from the
    * reference grammar, free in Spark (SURVEY.md §2.3 last row).
    */
  def thetaJoin(left: DataFrame, right: DataFrame, cond: Column,
                how: String = "inner"): DataFrame =
    left.join(right, cond, joinType(how))

  /** LEFT SEMI — EXISTS semantics (no reference counterpart; free). */
  def semiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_semi")

  /** LEFT ANTI — NOT EXISTS semantics (no reference counterpart; free). */
  def antiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")

  /** Salted join for skewed keys: scatter left rows across `salts` salt
    * values (deterministic hash of the whole row) and replicate the right
    * side once per salt, so a hot key spreads over `salts` tasks. The
    * explicit form of what AQE skew-join does at runtime — for when AQE is
    * off, or the skew needs a fixed plan (the reference split oversized
    * blocks in MeshJoin the same way). Right side is replicated: only
    * left-preserving join types are valid.
    */
  def saltedJoin(leftDf: DataFrame, rightDf: DataFrame, keys: Seq[String], salts: Int,
                 how: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, hash, lit, pmod, sequence}
    val jt = joinType(how)
    require(Set("inner", "left_outer", "left_semi", "left_anti").contains(jt),
      s"saltedJoin replicates the right side; $jt would duplicate unmatched right rows")
    // salts = 0 would be SILENTLY wrong, not slow: pmod(h, 0) is NULL,
    // which equi-joins nothing — inner returns empty, anti returns all
    require(salts >= 1, s"salts must be >= 1: $salts")
    requireNoReserved(leftDf, Seq("__salt"), "saltedJoin")
    requireNoReserved(rightDf, Seq("__salt"), "saltedJoin")
    val l = leftDf.withColumn("__salt",
      pmod(hash(leftDf.columns.map(col(_)): _*), lit(salts)))
    val r = rightDf.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, keys :+ "__salt", jt).drop("__salt")
  }

  /** As-of join: for each left row, the single most recent right row with
    * `right.tsCol <= left.tsCol` on the same key — the point-in-time lookup
    * (latest dimension state, last event before a click) that an equi-join
    * cannot express and a theta-join would make quadratic.
    *
    * Plan: tag and union both sides, shuffle ONCE on the key, and take a
    * running `last(payload, ignoreNulls)` over the per-key time-ordered
    * window — cost is one shuffle + one sort per side, identical to a
    * sort-merge join, with none of the per-pair blowup of the range-predicate
    * formulation. Ties (equal ts): right rows sort before left rows so an
    * exactly-simultaneous right row IS visible; among equal-ts right rows the
    * payload-struct maximum wins (deterministic).
    *
    * Output: every left column, then every non-key right column. `how` =
    * "inner" (drop unmatched left rows) or "left_outer" (keep, nulls).
    * Right column names must not collide with left ones.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               how: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.{col, last, lit, struct}
    import org.apache.spark.sql.expressions.Window
    val jt = joinType(how)
    require(Set("inner", "left_outer").contains(jt),
      s"asofJoin preserves left rows only; got $how")
    val payload = right.columns.filterNot(keys.contains).toSeq
    val clash = payload.intersect(left.columns.toSeq)
    require(clash.isEmpty, s"right payload columns collide with left: $clash")
    requireNoReserved(left, Seq("__ts", "__side", "__p", "__m"), "asofJoin")
    requireNoReserved(right, Seq("__ts", "__side", "__p", "__m"), "asofJoin")
    val l = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
    val r = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"), lit(0).as("__side"),
        struct(payload.map(col): _*).as("__p")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val out = matched.select(left.columns.map(col) ++
      payload.map(p => col(s"__m.$p").as(p)): _*)
    if (jt == "inner") out.filter(col(s"__m").isNotNull) else out
  }

  /** [[asofJoin]], hardened for a DEGENERATE hot key (one entity holding
    * 10^7+ events): the union-window form is one shuffle per side, but its
    * window partitions by key alone, so a hot key serializes in a single
    * task. This variant partitions the window by (key, time bucket) —
    * the hot key spreads across its time range — and carries each
    * bucket's last-before match forward with a per-(key, bucket) summary
    * (the same two-phase trick as gapFill): one partial-aggregating pass
    * condenses the right side to its per-bucket latest row, a window over
    * those METADATA-SIZED bucket rows (one per key × bucket, bounded by
    * timespan/bucketWidth) computes the carry-in for every left bucket,
    * and the carry enters the in-bucket window as a pseudo right row at
    * the bucket's start. Same contract and answer as [[asofJoin]]
    * (SkewStressSpec pins equality); requires NUMERIC timestamps (epoch
    * micros — cast first) so buckets are arithmetic.
    */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTs: String, rightTs: String, bucketWidth: Long,
                       how: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, last, lit, max, struct}
    import org.apache.spark.sql.expressions.Window
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val jt = joinType(how)
    require(Set("inner", "left_outer").contains(jt),
      s"asofJoinBucketed preserves left rows only; got $how")
    val payload = right.columns.filterNot(keys.contains).toSeq
    val clash = payload.intersect(left.columns.toSeq)
    require(clash.isEmpty, s"right payload columns collide with left: $clash")
    requireNoReserved(left,
      Seq("__ts", "__side", "__p", "__m", "__bkt", "__c", "__last"), "asofJoinBucketed")
    requireNoReserved(right,
      Seq("__ts", "__side", "__p", "__m", "__bkt", "__c", "__last"), "asofJoinBucketed")
    // floor-division bucket (exact in the Long domain; `div` truncates
    // toward zero, so shift negative remainders down one bucket)
    def bkt = expr(s"__ts div ${bucketWidth}L - " +
      s"(CASE WHEN __ts % ${bucketWidth}L < 0 THEN 1 ELSE 0 END)")
    val l = left.withColumn("__ts", col(leftTs).cast("long"))
      .withColumn("__bkt", bkt).withColumn("__side", lit(1))
    val r = right.select(
      keys.map(col) ++ Seq(col(rightTs).cast("long").as("__ts"),
        lit(0).as("__side"), struct(payload.map(col): _*).as("__p")): _*)
      .withColumn("__bkt", bkt)
    // phase 1: per-(key, bucket) latest right row, then the carry-in for
    // every bucket that holds left rows = the last such latest from any
    // STRICTLY EARLIER bucket (nulls-first ordering keeps the current
    // bucket's own rows out of its carry frame)
    val latest = r.groupBy((keys :+ "__bkt").map(col): _*)
      .agg(max(struct(col("__ts"), col("__p"))).as("__last"))
    val axis = l.select((keys :+ "__bkt").map(col): _*).distinct()
      .join(latest.select((keys :+ "__bkt").map(col): _*),
        keys :+ "__bkt", "left_anti")
      .withColumn("__last", lit(null).cast(latest.schema("__last").dataType))
      .unionByName(latest)
    val cw = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__bkt"), col("__last").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = axis
      .withColumn("__c", last(col("__last"), ignoreNulls = true).over(cw))
      .filter(col("__c").isNotNull)
      .select(keys.map(col) ++ Seq(col("__bkt"),
        (col("__bkt") * lit(bucketWidth)).as("__ts"), lit(-1).as("__side"),
        col("__c.__p").as("__p")): _*)
    // phase 2: within-bucket as-of window; the carry is a pseudo right row
    // at the bucket start (its true ts is < bucketStart, so side -1 keeps
    // it below any real right row that lands exactly on the boundary)
    val w = Window.partitionBy((keys :+ "__bkt").map(col): _*)
      .orderBy(col("__ts"), col("__side"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r, allowMissingColumns = true)
      .unionByName(carry, allowMissingColumns = true)
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val out = matched.select(left.columns.map(col) ++
      payload.map(p => col(s"__m.$p").as(p)): _*)
    if (jt == "inner") out.filter(col("__m").isNotNull) else out
  }

  /** SCD2 temporal dimension join: each fact row joins the dimension
    * VERSION that was valid at the fact's event time — `validFrom <= ts`
    * (the as-of pick) AND `ts < validTo` (rejecting facts that fall in a
    * gap after a version was closed; an open version has null validTo).
    * The warehouse point-in-time lookup over slowly-changing dimensions.
    *
    * Rides [[asofJoin]]'s one-shuffle union-window plan — no per-version
    * pair blowup — then one narrow validity filter: a fact whose as-of
    * version had already expired nulls its dimension columns
    * (left_outer) or drops (inner), exactly as if no version matched.
    */
  def scdJoin(facts: DataFrame, dim: DataFrame, keys: Seq[String],
              factTs: String, validFrom: String, validTo: String,
              how: String = "inner",
              bucketWidth: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val jt = joinType(how)
    require(Set("inner", "left_outer").contains(jt),
      s"scdJoin preserves fact rows only; got $how")
    requireNoReserved(facts, Seq("__live"), "scdJoin")
    requireNoReserved(dim, Seq("__live"), "scdJoin")
    // bucketWidth opts into the hot-key two-phase plan (numeric ts only)
    val asOf = bucketWidth match {
      case Some(w) =>
        asofJoinBucketed(facts, dim, keys, factTs, validFrom, w, how = "left_outer")
      case None =>
        asofJoin(facts, dim, keys, factTs, validFrom, how = "left_outer")
    }
    // evaluate liveness ONCE, before any dimension column is masked —
    // masking validTo first would make later columns read it as "open".
    // One projection masks every dimension column (a withColumn per column
    // would re-analyze the plan once per column — quadratic on wide dims)
    val joined = asOf.withColumn("__live", col(validFrom).isNotNull &&
      (col(validTo).isNull || col(factTs) < col(validTo)))
    val dimCols = dim.columns.filterNot(keys.contains).toSet
    val masked = joined.select(joined.columns.toSeq.map { c =>
      if (dimCols.contains(c))
        when(col("__live"), col(c))
          .otherwise(lit(null).cast(joined.schema(c).dataType)).as(c)
      else col(c)
    }: _*)
    (if (jt == "inner") masked.filter(col("__live")) else masked)
      .drop("__live")
  }

  /** Range (interval/band) join: `left.ts BETWEEN right.ts + lower AND
    * right.ts + upper` on an equi-key, with ts as NUMERIC event time (epoch
    * micros — convert timestamps first). A naive theta-join degenerates to a
    * per-key cross product; this plans it as an EQUI-join on (key, time
    * bucket): bucket width = the band span, the right side replicates into
    * the (at most ceil(span/width)+1 = 2) buckets its band can touch, and an
    * exact residual filter trims bucket-boundary false candidates. Shuffle
    * volume is |L| + 2|R| fixed-width rows — independent of key hotness —
    * and the join is a plain shuffled hash join AQE can still re-plan.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTs: String, rightTs: String,
                lower: Long, upper: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, expr, lit, sequence}
    require(upper >= lower, s"empty band [$lower, $upper]")
    val payload = right.columns.filterNot(keys.contains).toSeq
    val clash = payload.intersect(left.columns.toSeq)
    require(clash.isEmpty, s"right payload columns collide with left: $clash")
    requireNoReserved(left, Seq("__bin", "__rjts"), "rangeJoin")
    requireNoReserved(right, Seq("__bin", "__rjts"), "rangeJoin")
    val width = math.max(upper - lower, 1L)
    // integral floor-division bucketing (the asofJoinBucketed idiom):
    // float floor(col/width) rounds timestamps past 2^52 — epoch nanos —
    // and can bin a row beside its match, silently DROPPING the pair (the
    // residual filter only trims false candidates, it cannot recover one
    // the equi-join never produced)
    def bin(off: Long): Column = expr(
      s"(__rjts + ${off}L) div ${width}L - " +
        s"(CASE WHEN (__rjts + ${off}L) % ${width}L < 0 THEN 1 ELSE 0 END)")
    // explicit aliases: left/right often derive from the same source (two
    // filters of one table), and positional l(k) === r(k) on shared lineage
    // is ambiguous
    val l = left.withColumn("__rjts", col(leftTs).cast("long"))
      .withColumn("__bin", bin(0L)).alias("l")
    val r = right.withColumn("__rjts", col(rightTs).cast("long"))
      .withColumn("__bin", explode(sequence(bin(lower), bin(upper)))).alias("r")
    // an empty key list is the pure band join — the bin equi-condition is
    // the conjunction base, so reduce never sees an empty list
    val cond = (keys.map(k => col(s"l.$k") === col(s"r.$k")) :+
      (col("l.__bin") === col("r.__bin"))).reduce(_ && _) &&
      col(s"l.$leftTs") >= col(s"r.$rightTs") + lit(lower) &&
      col(s"l.$leftTs") <= col(s"r.$rightTs") + lit(upper)
    l.join(r, cond).select(
      left.columns.map(c => col(s"l.$c")).toSeq ++ payload.map(c => col(s"r.$c")): _*)
  }

  /** Bloom-pruned shuffle join: build a bloom filter over the (small) right
    * side's join key, semi-filter the (huge) left side BEFORE its shuffle,
    * then run the real join — false positives are removed by the join
    * itself, so the result is exact. This is Cubert's BLOCK_INDEX_JOIN idea
    * (prune non-matching blocks before moving data,
    * operator/BlockIndexJoinOperator.java) and Spark's own runtime row-level
    * filtering, made explicit: at 100 TB the win is shuffling only the ~hit
    * fraction of the fact table instead of all of it.
    *
    * Left rows are dropped pre-join, so only left-pruning-safe types are
    * allowed (inner / left_semi / right_outer).
    */
  def bloomPrunedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                      how: String = "inner", expectedItems: Long = 1000000L,
                      fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf, xxhash64}
    val jt = joinType(how)
    require(Set("inner", "left_semi", "right_outer").contains(jt),
      s"bloomPrunedJoin drops left rows pre-join; $jt would change results")
    // hash through a COMMON type: xxhash64 hashes an IntegerType and a
    // LongType of the same value differently, so type-mismatched (but
    // joinable) keys would never hit the bloom and matching left rows
    // would silently drop. Numeric mismatches widen to double (collisions
    // only ADD false positives, which the join removes); other mismatches
    // canonicalize as strings
    def hashCols(df: DataFrame): Column = xxhash64(keys.map { k =>
      val lt = left.schema(k).dataType
      val rt = right.schema(k).dataType
      if (lt == rt) df(k)
      else if (lt.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
               rt.isInstanceOf[org.apache.spark.sql.types.NumericType])
        df(k).cast("double")
      else df(k).cast("string")
    }: _*)
    val bf = right.stat.bloomFilter(hashCols(right), expectedItems, fpp)
    val bc = left.sparkSession.sparkContext.broadcast(bf)
    val might = udf((h: Long) => bc.value.mightContainLong(h))
    left.filter(might(hashCols(left))).join(right, keys, jt)
  }

  /** MeshJoin pattern — LOAD BLOCK ... MATCHING + MERGE JOIN (reference:
    * operator/LoadBlockOperator.java:37, block/Index.java:111): join a
    * streamed relation against a stored, pre-partitioned one without
    * re-shuffling the stored side. Spark equivalent: read both sides as
    * bucketed tables with the same bucket spec (see Blockgen.blockgen) and
    * sort-merge join — no shuffle on either side. For skewed keys, AQE
    * skew-join replaces Cubert's block-splitting.
    */
  def meshJoin(spark: org.apache.spark.sql.SparkSession,
               leftTable: String, rightTable: String, keys: Seq[String],
               how: String = "inner"): DataFrame =
    mergeJoin(spark.table(leftTable), spark.table(rightTable), keys, how)

  /** Exact edit-distance self-join: all pairs of rows whose `key` strings
    * are within Levenshtein distance `k` (record linkage over names/titles/
    * short keys — fuzzy-join is absent from the reference grammar, like its
    * theta/as-of cousins above). Never computes the quadratic cross
    * product: candidates come from FastSS deletion-neighborhood blocking —
    * if ed(a,b) <= k then deleting <= k chars from each reaches a common
    * string (pigeonhole), so equi-joining the deletion variants is a
    * COMPLETE blocking scheme (no false negatives); an exact `levenshtein`
    * check then removes the false positives, making the result identical to
    * the cross-join filter.
    *
    * Scale shape: each row explodes into O(L^k) variants hashed to fixed
    * 8-byte keys, so the shuffle carries (id, key, long) rows — no full
    * strings beyond the short key — and candidate generation is one
    * equi-join, the same shape as the shingle joins in [[graft.dedup.Dedup]].
    * Meant for SHORT keys (k <= 2, L <= ~32: names, titles, SKUs); for
    * whole documents use the shingle/MinHash family instead. Hot variants
    * (shared prefixes of very frequent keys) are the skew axis — cap or
    * pre-dedup keys when key multiplicity is high.
    *
    * Output multiplicity: one row per (id pair, matching KEY pair) — two
    * ids sharing several nearby keys repeat, one row per key-pair of
    * evidence (the multiset the brute-force `a.id < b.id` cross filter
    * produces; JoinsSpec pins it). Dedup downstream if pair-uniqueness is
    * wanted.
    */
  def editDistanceJoin(df: DataFrame, k: Int, key: Column,
                       idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, greatest, least, levenshtein, lit, max}
    require(k >= 1 && k <= 2, s"editDistanceJoin supports k in 1..2, got $k")
    // row-level dedup up front: the pre-round-13 implementation ran its
    // distinct() over exploded candidates, so a literally duplicated
    // (id, key) row never multiplied output pairs — preserve that
    val keyed = df.select(col(idCol), key.as("__key")).distinct()
    // FastSS over DISTINCT keys, not rows: duplicate keys (the common case
    // in record linkage — g rows sharing one key) would otherwise collide
    // on every one of the ~1+n+C(n,2) variant hashes, inflating the
    // candidate join by g²·variants rows that distinct() then pays to
    // collapse. Deduping first makes the variant stage ∝ unique keys and
    // re-expands id groups only for the (few) surviving key pairs.
    val uniq = keyed.select("__key").distinct()
    // variant hashes come from the native kernel (one codegen'd call, no
    // variant strings ever materialize — see NativeKernels.deletionVariantHashes)
    val exploded = uniq.withColumn("__vh", explode(
      graft.functions.expressions.NativeExpressions.deletionVariantHashes(col("__key"), k)))
    val a = exploded.as("a"); val b = exploded.as("b")
    // candidate DISTINCT-KEY pairs, verified by the banded O(k·n) DP
    // (levenshtein with threshold early-exits to -1 past the bound).
    // The dedup is a groupBy whose OUTPUT keys are max() aggregates (equal
    // to the grouping strings) rather than distinct(): a filter over
    // grouping columns would be pushed through the aggregate and INTO the
    // sort-merge join as a per-candidate condition — measured 3x slower at
    // scale, the DP running on every duplicate variant collision instead
    // of once per surviving pair. Referencing aggregate outputs makes the
    // verify un-pushable, pinning it after the dedup.
    val keyPairs = a.join(b,
        col("a.__vh") === col("b.__vh") && col("a.__key") < col("b.__key"))
      .groupBy(col("a.__key").as("__g1"), col("b.__key").as("__g2"))
      .agg(max(col("a.__key")).as("__ka"), max(col("b.__key")).as("__kb"))
      .select(col("__ka"), col("__kb"))
      .withColumn("dist", levenshtein(col("__ka"), col("__kb"), k).cast("long"))
      .filter(col("dist") >= 0)
    // same-key pairs: every id pair within one key group, distance 0
    val x = keyed.as("x"); val y = keyed.as("y")
    val sameKey = x.join(y,
        col("x.__key") === col("y.__key") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        lit(0L).as("dist"))
    // cross-key pairs: expand each surviving key pair to its id groups.
    // An id carrying BOTH keys of a pair (two rows, two nearby keys) would
    // pair with itself here — the old a.id < b.id join never emitted
    // self-pairs, so filter them
    val crossKey = keyPairs
      .join(keyed.select(col(idCol).as("__ia"), col("__key").as("__ka")), "__ka")
      .join(keyed.select(col(idCol).as("__ib"), col("__key").as("__kb")), "__kb")
      .filter(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("dist"))
    sameKey.unionByName(crossKey)
  }

  /** Sorted-neighborhood blocking (the OTHER classic entity-resolution
    * candidate generator, complementing [[editDistanceJoin]]'s FastSS):
    * order all records by (blockKey, sortKey, id) and emit every pair
    * within `window` positions of each other in that global order —
    * records with similar keys sort together, so a small window catches
    * most true matches at linear candidate cost (≈ n·window pairs).
    *
    * No global-sort task: the global position comes from the two-phase
    * rank (per-blockKey counts aggregate map-side, their prefix sum
    * offsets each block's bucket-parallel row_number), and the pairing is
    * an equi-join on the window grid — each row probes its own grid cell
    * and the one before it, so a pair at distance < window collides on
    * exactly one cell. Everything is keyed; no product, no single-task
    * stage.
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, blockKey: Column,
                         sortKey: Column, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val prepared = df.select(col(idCol).as("__id"), blockKey.as("__b"),
      sortKey.as("__s"))
    val ranked = Sampling.twoPhaseRank(prepared, Nil,
        Seq(col("__s"), col("__id")), "pos")
      .select(col("__id"), col("pos"))
      .withColumn("__g", floor((col("pos") - 1) / window).cast("long"))
    // B registers under its own grid cell and the previous one, so an A in
    // cell g meets every B within `window` positions ahead via ONE key
    val bSide = ranked.select(col("__id").as("id_b"), col("pos").as("pos_b"),
      explode(array(col("__g"), col("__g") - 1)).as("__g"))
    ranked.select(col("__id").as("id_a"), col("pos").as("pos_a"), col("__g"))
      .join(bSide, "__g")
      .filter(col("pos_b") > col("pos_a") &&
        col("pos_b") - col("pos_a") < window)
      .select(col("id_a"), col("id_b"),
        (col("pos_b") - col("pos_a")).as("rank_dist"))
  }
}
