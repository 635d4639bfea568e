package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.SchemaCodec
import graft.operators.Aggregations

/** Structured Streaming surface. The reference is batch-only MapReduce
  * (SURVEY.md §2.8) — this module is the additive, Spark-native extension:
  * the same aggregate vocabulary (Aggregations.aggExpr) over unbounded
  * inputs, with watermarks bounding state exactly where Cubert's bounded
  * hash tables bounded memory.
  *
  * Scale notes: every op here is partitioned by its grouping keys (state
  * store shards by key), watermarks evict state, and the file sink commits
  * per micro-batch — the 100 TB/day shape is the same plan with more
  * shuffle partitions.
  */
object Streaming {

  /** readStream over a directory with a declared Cubert schema string
    * (streaming sources cannot infer schemas).
    */
  def readStream(spark: SparkSession, path: String, format: String,
                 schema: String, options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(SchemaCodec.parse(schema)).options(options)
      .format(format).load(path)

  /** GROUP BY over a stream: tumbling/sliding event-time window + keys,
    * with a watermark for state eviction. `aggs` reuses the batch aggregate
    * vocabulary (SURVEY §2.4).
    */
  def windowedGroupBy(df: DataFrame, tsCol: String, windowDur: String,
                      keys: Seq[String], aggs: Seq[(String, Column, String)],
                      watermark: String, slideDur: Option[String] = None): DataFrame = {
    require(aggs.nonEmpty, "windowedGroupBy: aggs must be non-empty")
    val exprs = aggs.map { case (t, c, n) => Aggregations.aggExpr(t, c).as(n) }
    val win = slideDur match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None    => window(col(tsCol), windowDur)
    }
    df.withWatermark(tsCol, watermark)
      .groupBy(win +: keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  /** Session-window aggregation (gap-based), the streaming analog of
    * pivot-run grouping over time.
    */
  def sessionGroupBy(df: DataFrame, tsCol: String, gap: String,
                     keys: Seq[String], aggs: Seq[(String, Column, String)],
                     watermark: String): DataFrame = {
    require(aggs.nonEmpty, "sessionGroupBy: aggs must be non-empty")
    val exprs = aggs.map { case (t, c, n) => Aggregations.aggExpr(t, c).as(n) }
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  /** Streaming DISTINCT — dropDuplicates scoped by watermark so state does
    * not grow without bound (the streaming form of the DISTINCT shuffle
    * macro, SURVEY §2.6).
    */
  def distinctStream(df: DataFrame, idCols: Seq[String], tsCol: String,
                     watermark: String): DataFrame = {
    require(idCols.nonEmpty, "distinctStream: idCols must be non-empty")
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
  }

  /** Custom per-key running state via mapGroupsWithState: running count +
    * sum per key — the streaming analog of a user-defined aggregation
    * operator (SURVEY §2.4 UDAF row). With `idleTimeout = None` (default)
    * state is NEVER evicted — running totals over all time cannot be
    * dropped without changing their meaning, so this posture is for
    * bounded key spaces only. For unbounded key spaces pass a
    * processing-time TTL (e.g. `Some("1 hour")`): a key idle that long
    * emits its final aggregate once more and its state is evicted — a
    * later event for the key restarts from zero (the standard TTL trade).
    */
  case class KeyedEvent(key: String, value: Double)
  case class RunningAgg(key: String, n: Long, sum: Double)

  def runningAggPerKey(events: org.apache.spark.sql.Dataset[KeyedEvent],
                       idleTimeout: Option[String] = None)
      : org.apache.spark.sql.Dataset[RunningAgg] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.key)
      .mapGroupsWithState[RunningAgg, RunningAgg](timeoutConf) {
        (key: String, batch: Iterator[KeyedEvent], state: GroupState[RunningAgg]) =>
          val prev = state.getOption.getOrElse(RunningAgg(key, 0L, 0.0))
          if (state.hasTimedOut) { // idle TTL: final emission, then evict
            state.remove()
            prev
          } else {
            var n = prev.n; var s = prev.sum
            batch.foreach { e => n += 1; s += e.value }
            val next = RunningAgg(key, n, s)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** Closed-session emission via flatMapGroupsWithState: per key, events
    * merge into gap-separated session FRAGMENTS (the same interval-merge
    * Spark's own session_window runs in its state store); a fragment is
    * emitted exactly once, when the event-time watermark proves it can no
    * longer grow (`end + gap < watermark` — every future admitted event
    * has ts ≥ watermark, so it cannot merge). Holding a LIST of fragments
    * rather than one open session makes admitted-late events exact: an
    * event within the gap BEFORE a fragment extends its start backward,
    * an event between two fragments bridges them, and an event older than
    * every fragment opens its own — matching WindowOps.sessionize on
    * every event the watermark admits. State per key is bounded by the
    * watermark delay (fragments older than it close and leave). The
    * event-time timeout fires at the OLDEST live fragment's expiry, so an
    * idle key still emits; by construction the timeout timestamp is never
    * below the current watermark (a below-watermark timeout throws in
    * GroupStateImpl — the fragment would already have closed).
    */
  case class SessionEvent(key: String, ts: java.sql.Timestamp) {
    def tsMs: Long = ts.getTime
  }
  case class OpenSession(key: String, startMs: Long, lastMs: Long, n: Long)
  case class SessionFragments(frags: Seq[OpenSession])
  case class ClosedSession(key: String, startMs: Long, endMs: Long, n: Long)

  /** The `ts` field must carry the input's watermark (withWatermark on the
    * source column before .as[SessionEvent]) — event-time timeout requires it.
    */
  def closedSessions(events: org.apache.spark.sql.Dataset[SessionEvent], gapMs: Long)
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[SessionFragments, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, batch: Iterator[SessionEvent], state: GroupState[SessionFragments]) =>
          // one pass over (state fragments ++ batch points) sorted by start
          // merges everything mergeable: state fragments are themselves
          // sorted and non-mergeable, so the merged list is canonical
          val all = (state.getOption.map(_.frags).getOrElse(Seq.empty) ++
            batch.map(e => OpenSession(key, e.tsMs, e.tsMs, 1L)))
            .sortBy(f => (f.startMs, f.lastMs))
          val merged = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
          all.foreach { f =>
            if (merged.nonEmpty && f.startMs - merged.last.lastMs <= gapMs) {
              val m = merged.last
              merged(merged.length - 1) =
                m.copy(lastMs = math.max(m.lastMs, f.lastMs), n = m.n + f.n)
            } else merged += f
          }
          // strict <: a future event at exactly ts = watermark = end + gap
          // would still merge, so that fragment must stay live
          val wm = state.getCurrentWatermarkMs()
          val (done, live) = merged.partition(_.lastMs + gapMs < wm)
          if (live.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(SessionFragments(live.toVector))
            state.setTimeoutTimestamp(live.map(_.lastMs).min + gapMs)
          }
          done.iterator.map(o => ClosedSession(key, o.startMs, o.lastMs, o.n))
      }
  }

  /** Stream-stream equi-join with event-time bounds — the streaming analog
    * of the reduce-side JOIN macro (SURVEY §2.3). Both sides carry a
    * watermark and the join condition adds a time-range bound
    * (|l.ts - r.ts| <= maxLag), which is the only shape under which BOTH
    * state stores evict: without the range, unmatched rows would be
    * retained forever awaiting a match. Inner and left-outer (outer rows
    * emit with nulls once the watermark passes the bound).
    *
    * Scale: state per side ≈ rate × (watermark + maxLag) rows, sharded by
    * join key across the state store — independent of total stream history.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       key: (String, String), tsCols: (String, String),
                       watermarks: (String, String), maxLag: String,
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCols._1, watermarks._1).alias("l")
    val r = right.withWatermark(tsCols._2, watermarks._2).alias("r")
    val lag = expr(s"interval $maxLag")
    val cond = col("l." + key._1) === col("r." + key._2) &&
      col("r." + tsCols._2) >= col("l." + tsCols._1) - lag &&
      col("r." + tsCols._2) <= col("l." + tsCols._1) + lag
    l.join(r, cond, joinType)
  }

  /** Streaming analog of `Behavior.funnel`: per key, track the earliest
    * in-order completion time of each funnel step as events arrive —
    * `times(i)` is the time step i first happened AFTER step i−1, `depth`
    * = steps completed so far. Each micro-batch is processed in event-time
    * order; late events that would have advanced the funnel earlier than
    * the recorded times are a documented approximation (the batch operator
    * is the exact form — run it on the archive when exactness matters).
    * State per key = up to nSteps longs; emits the updated frontier row
    * per key per micro-batch (update-mode shape).
    */
  case class FunnelEvent(key: String, tsMs: Long, step: Int)
  case class FunnelProgress(key: String, times: Seq[Long], depth: Int)

  def funnelStream(events: org.apache.spark.sql.Dataset[FunnelEvent], nSteps: Int)
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .mapGroupsWithState[FunnelProgress, FunnelProgress](GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[FunnelEvent], state: GroupState[FunnelProgress]) =>
          var times = state.getOption.map(_.times.toVector).getOrElse(Vector.empty[Long])
          batch.toSeq.sortBy(e => (e.tsMs, e.step)).foreach { e =>
            val need = times.length
            if (need < nSteps && e.step == need &&
                (need == 0 || e.tsMs > times(need - 1)))
              times = times :+ e.tsMs
          }
          val next = FunnelProgress(key, times, times.length)
          state.update(next)
          next
      }
  }

  /** Continuous MinHash near-dup screen: each arriving micro-batch runs
    * the full batch pipeline against the STATIC corpus index — banded
    * candidates ([[graft.dedup.Dedup.minHashLshAgainstIndex]]) then exact
    * Jaccard verification of only the touched corpus docs
    * ([[graft.dedup.Dedup.minHashDedupAgainstIndex]]) — and appends the
    * SURVIVING batch rows (no verified near-dup in the corpus) to
    * `outPath`. The shingle-modality sibling of
    * [[graft.dedup.Dedup.semDedupScreenStream]], via foreachBatch because
    * exact verification aggregates (checkpointed candidate spine, shingle
    * intersection), which an unbounded stream cannot.
    *
    * Exactly-once under replay: the marker discipline of `streamRefresh`
    * skips already-recorded batches, and the append itself is idempotent —
    * survivors land stamped as a dynamic partition OVERWRITE of
    * `graft_lineage=<tag>/graft_batch_id=<id>` — so even a crash BETWEEN
    * the body and the marker write (where the batch replays) rewrites
    * exactly its own rows rather than appending a second copy.
    *
    * Scope: batch-vs-corpus AND intra-batch — two near-identical documents
    * arriving in the SAME micro-batch cannot both survive: the batch first
    * dedups against itself ([[graft.dedup.Dedup.minHashDedup]] →
    * [[graft.dedup.Dedup.dupClusters]] min-id survivor per transitive
    * cluster, the batch pipeline's exact rule), then the survivors screen
    * against the corpus. Surviving docs do NOT join the index mid-stream
    * (rebuild it on corpus append). `idCol` may be integral or string
    * (min-id survivor election is deterministic under either order); any
    * other id type fails loudly in the clustering step instead of
    * silently skipping the intra-batch pass.
    */
  def minHashScreenStream(stream: DataFrame, index: DataFrame, corpus: DataFrame,
                          outPath: String, checkpoint: String,
                          shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                          threshold: Double = 0.8, textCol: String = "text",
                          idCol: String = "doc_id")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        {
          // dupClusters returns its labels PERSISTED (documented caller
          // contract) — a long-running stream must unpersist per batch or
          // the CacheManager grows one entry per near-dup micro-batch.
          // The unpersist happens AFTER exactlyOnceAppend's write consumed
          // the lazy survivor plan (an in-lambda finally would race it,
          // and materializing the survivors to dodge the race would stack
          // one eager checkpoint per micro-batch instead)
          var clusters: Option[org.apache.spark.sql.DataFrame] = None
          try {
            graft.operators.Incremental.exactlyOnceAppend(batch, batchId,
                outPath, checkpoint) { _ =>
              val b0 = batch.toDF()
              // intra-batch pass first (checkpointed so pair generation
              // runs once for the emptiness probe and the clustering)
              val intraPairs = graft.dedup.Dedup.minHashDedup(
                b0, shingleN, k, bands, threshold, textCol, idCol)
                .localCheckpoint(false)
              clusters =
                if (intraPairs.isEmpty) None
                else Some(graft.dedup.Dedup.dupClusters(intraPairs))
              val intra = clusters.fold(b0)(c =>
                graft.dedup.Dedup.clusterSurvivors(b0,
                  c.withColumnRenamed("doc_id", idCol), idCol))
              val dups = graft.dedup.Dedup.minHashDedupAgainstIndex(
                intra, index, corpus, shingleN, k, bands, threshold, textCol, idCol)
                .select(col("batch_id").as(idCol)).distinct()
              intra.join(dups, Seq(idCol), "left_anti")
            }
          } finally clusters.foreach(_.unpersist())
        }
      }
      .start()

  /** Continuous embedding (SemDeDup) near-dup screen — the vector-modality
    * sibling of [[minHashScreenStream]] with the SAME scope: each arriving
    * micro-batch screens against the stored corpus index AND dedups
    * against itself ([[graft.dedup.Dedup.semDedupAgainstIndex]] is exactly
    * that composition: corpus screen, then the bounded in-batch pairing —
    * min-id survivor per similarity group), and the surviving batch rows
    * append to `outPath` with the same exactly-once discipline (batch
    * marker + batch-id-partitioned idempotent append). Use this over the stateless
    * [[graft.dedup.Dedup.semDedupScreenStream]] transform when intra-batch
    * duplicates matter or when an exactly-once parquet append is the sink;
    * use the stateless form when zero-state continuous flow is the point.
    * Surviving vectors do NOT join the index mid-stream (rebuild it on
    * corpus append). `idCol` may be integral or string — survivor
    * election is a plain `min(idCol)`, deterministic under either order.
    */
  def embeddingScreenStream(stream: DataFrame, index: DataFrame, centroids: DataFrame,
                            outPath: String, checkpoint: String,
                            threshold: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            maxCellSize: Int = 10000, nPlanes: Int = 16,
                            bands: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        graft.operators.Incremental.exactlyOnceAppend(batch, batchId,
            outPath, checkpoint) { _ =>
          val b0 = batch.toDF()
          val keep = graft.dedup.Dedup.semDedupAgainstIndex(
            b0, index, centroids, threshold, idCol, vecCol,
            maxCellSize, nPlanes, bands).select(idCol)
          b0.join(keep, Seq(idCol), "left_semi")
        }
      }
      .start()
}
