package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory: the confs the engine needs on top of Spark's defaults
  * (its extensions, shuffle partitions matched to the task threads rather
  * than the 200 default, a UTC session time zone for oracle parity, the
  * compiled-class cache). Every other setting is Spark's own and keeps
  * Spark's name and default.
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
  def defaultCores: String = coresFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A `SPARK_GRAFT_CPUS` setting as a positive integer, trimmed and
    * normalized ("08" -> "8"); unset or blank falls back to the host's
    * available processors. Anything else fails here, naming the variable,
    * instead of inside Spark's session-state construction.
    */
  private[graft] def coresFrom(setting: Option[String]): String =
    setting.map(_.trim).filter(_.nonEmpty) match {
      case None => Runtime.getRuntime.availableProcessors.toString
      case Some(v) => v.toIntOption.filter(_ > 0).map(_.toString).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

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
  def builder(appName: String = "graft", cores: String = defaultCores): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // one shuffle partition per task thread; AQE coalesces from there
      // (its initialPartitionNum defaults to this). Raising the ceiling so
      // partitions grow with bytes lost on one JVM: per-partition sorts
      // stayed in memory and extra reduce tasks cost more than bounded
      // sorts saved (SCALING.md round 15, q15_join_merge at sf100)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", sys.props.getOrElse("graft.warehouse", jvmWarehouse))

  /** The default warehouse (where BLOCKGEN writes its bucketed tables): a
    * directory of this JVM's own under `java.io.tmpdir`, deleted when the
    * JVM exits. A directory shared by every JVM on the host let two
    * concurrent scripts overwrite each other's tables of the same name; the
    * in-memory catalog forgets its tables at exit anyway. `-Dgraft.warehouse`
    * names a directory instead.
    */
  private lazy val jvmWarehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse-").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.getPath
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
  //
  // Each table still resolves through Spark's inference job, not the
  // driver-side footer read of a script LOAD (Sources.load): once per
  // session that job saves nothing, and on perfbench `olap` it is the
  // session's first Spark job. Moving these reads to the footer cut
  // `setup_s` from 0.61 to 0.21 s only by moving that first job's JVM
  // warm-up into the cold pass, whose `cold_pass_s` rose 11% and 23% in two
  // pairs.
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
      perSession.getOrElseUpdate((sfDir, name), spark.read.parquet(s"$sfDir/$name.parquet"))
    }
}
