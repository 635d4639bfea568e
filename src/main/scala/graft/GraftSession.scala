package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with engine defaults sized for a local[cores] rig but
  * designed for cluster deployment: AQE on (runtime re-plan, skew-join
  * handling), shuffle partitions matched to parallelism rather than the 200
  * default, UTC session time zone for oracle parity.
  *
  * Replaces the reference's per-job Hadoop configuration plumbing
  * (reference: plan/physical/JobExecutor.java:44, app/CmrExecutor.java:41-116)
  * — on Spark the whole script is one DAG under one session.
  */
object GraftSession {
  /** Entries in Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`,
    * Spark default 100). One pass of the 79 headline queries at sf0.001
    * compiles 1,277 distinct generated classes, one quickstart.cmr pass
    * 1,140-1,320, and the perfbench `olap` and `iter` passes 129 and 132.
    * Units run in a fixed cycle, so an LRU cache smaller than the cycle
    * misses on most lookups: at 100 entries each warm `olap` pass recompiled
    * about 115 classes with Janino, and at 1,000 each warm quickstart.cmr
    * pass still recompiled 700-900. 3,000 holds the largest set with 2x
    * headroom (BASELINE.md, "Compiled-class cache").
    */
  val CodegenCacheEntries = 3000

  /** Task threads for a session whose caller does not choose:
    * `SPARK_GRAFT_CPUS`, else the host's available processors.
    */
  def defaultCores: String =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)

  /** The one session factory: tests, scripts, Bench, Verify and the dev
    * tools all build their sessions here, so a query's tested, verified and
    * benched plans come from the same confs.
    *
    * `spark.sql.codegen.cache.maxEntries` is a static conf that Spark reads
    * ONCE per JVM, when it first generates code: it takes effect only if the
    * JVM's first session is built by this builder, before `getOrCreate`.
    * Setting it on a running session, or building the first session
    * elsewhere, leaves the cache at Spark's 100 entries for the life of the
    * JVM.
    */
  def builder(appName: String = "graft", cores: String = defaultCores): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Shuffle-partition policy knobs. AQE stages START at the
      // initialPartitionNum ceiling and coalesce down to
      // clamp(bytes/parallelism, 1 MB, advisory) from measured map-output
      // stats, so raising the ceiling makes partition count grow ∝ bytes
      // once a shuffle outgrows cores × advisory — bounding per-partition
      // sort/build size. The DEFAULT keeps the ceiling at cores because
      // the growth regime was measured and LOST on this execution model
      // (SCALING.md round 15, q15_join_merge at sf100 = a 15 GB shuffle,
      // interleaved A/B): per-partition sorts of 470 MB at ~1 GB-per-core
      // heap stay in memory and fixed-count wins every pairwise run, while
      // 59-partition/256 MB configs cost ~5-20% and 234-partition/64 MB
      // configs +25-125% — on one JVM, reduce-side fetch/task overhead
      // above ~cores exceeds what bounded sorts save until memory is the
      // binding constraint. Deployments whose per-partition bytes WOULD
      // outgrow memory-per-core (≳ sf300 here, or any real multi-node
      // cluster, where the same knobs are per-executor) raise
      // SPARK_GRAFT_INITIAL_PARTITIONS (the ceiling — sizing it from
      // input bytes over the advisory, the way a production job sizes
      // shuffle partitions from scan stats, is the right call for a known
      // job) and set SPARK_GRAFT_ADVISORY to the per-partition byte
      // budget; the engine's plans need no other change.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", cores))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m"))
      .config("spark.sql.session.timeZone", "UTC")
      // earlier testdata generations carried INT64 TIMESTAMP(NANOS); the
      // current events table is TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ),
      // against which this config is inert — kept so either generation loads
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", sys.props.getOrElse("graft.warehouse", "/tmp/graft-warehouse"))
    // Scan-split-size override for scale measurement on multi-row-group
    // fixtures (dev/gen_rowgroups.py). The default 128 MB is byte-based
    // packing; the compressed-text tables are CPU-bound at tiny byte sizes
    // (documents at sf10 = 6 MB for 5M rows), so splitting them across
    // cores needs a much smaller target. Row groups are the split
    // GRANULARITY (a one-row-group file is one task whatever this is set
    // to); this knob is the split SIZE. Unset → Spark default.
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .filter(_.trim.nonEmpty)
      .fold(b)(v => b.config("spark.sql.files.maxPartitionBytes", v.trim))
  }
}

/** Loaders for the driver-generated test tables (see /root/repo/TESTDATA.md).
  * Stand-in for the reference's LOAD ... USING TEXT/AVRO/RUBIX
  * (reference: io/StorageFactory.java:26-32) — Parquet subsumes Rubix
  * (columnar, dictionary-encoded, self-describing schema).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Resolved-relation cache: a real deployment resolves tables once via the
  // catalog; re-running spark.read.parquet per query re-lists files and
  // re-reads footers on the driver (~50-100 ms/table), which is resolution
  // overhead, not query cost. The cached DataFrame is an immutable logical
  // plan — execution still scans the data every time. Keyed weakly by the
  // session object so stopped/collected sessions release their entries and
  // a recycled identity can never serve a stale DataFrame.
  private val resolved =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[(String, String), DataFrame]]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    resolved.synchronized {
      val perSession = {
        val m = resolved.get(spark)
        if (m != null) m
        else {
          val m2 = scala.collection.mutable.Map.empty[(String, String), DataFrame]
          resolved.put(spark, m2); m2
        }
      }
      perSession.getOrElseUpdate((sfDir, name), doLoad(spark, sfDir, name))
    }

  private def doLoad(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // Backward-compat: if events.ts arrives as INT64 TIMESTAMP(NANOS)
    // (earlier testdata generations, read as long under nanosAsLong),
    // restore TimestampType at micro precision. The current generation
    // writes TIMESTAMP(MICROS) (TIMESTAMP_NTZ here) and passes through.
    df.schema.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        // integer division — `ts / 1000` would go through double and lose
        // precision above 2^53 nanoseconds (~1972)
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case None => df
    }
  }
}
