package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** BLOCKGEN — materialize a relation as partitioned + sorted blocks for
  * shuffle-free reuse (reference: block/CreateBlockOperator.java:42,
  * BlockgenType BY_ROW/BY_SIZE/BY_PARTITION_KEY/BY_INDEX
  * block/BlockgenType.java:32-35; macro rewrite
  * analyzer/physical/ShuffleRewriter.java:246-422).
  *
  * Spark mapping (SURVEY.md §1.1): a blockgen'd Rubix dataset ≅ a bucketed +
  * sorted Parquet table. Two tables with the same bucket spec join with no
  * shuffle and no sort — exactly the reference's Index/BY_INDEX co-location
  * contract (block/Index.java:38). The cost-function variants collapse:
  * BY_PARTITION_KEY / BY_SIZE ≈ choice of bucket count; BY_INDEX = reuse the
  * other table's bucket spec.
  *
  * The write is the reference's SHUFFLE + reduce-side CREATE_BLOCK: one hash
  * exchange on the partition keys into one partition per bucket, then one
  * sort and one file per bucket — not one file per input task and bucket.
  */
object Blockgen {

  /** BLOCKGEN x PARTITIONED ON p SORTED ON s → bucketed+sorted table.
    * `buckets` plays the role of the blockgen cost function: pick it so one
    * bucket ≈ one healthy task at target scale (e.g. 100 TB / 128 MB ≈ 800k
    * row-groups → thousands of buckets; at test scale, a handful).
    *
    * The input is hash-partitioned on `partitionKeys` into `buckets`
    * partitions first. That partition id is the bucket id the writer
    * computes (`pmod(murmur3(keys), buckets)`), so each bucket is one
    * reduce task that sorts its rows once and writes one file. Without the
    * exchange every input task would sort and write a file for each bucket
    * it holds rows of (tasks × buckets files, and a one-task input sorts
    * the whole relation on one core).
    */
  def blockgen(df: DataFrame, table: String, partitionKeys: Seq[String],
               sortKeys: Seq[String], buckets: Int): Unit = {
    // validate BEFORE the destructive drop below — a bad call must not
    // cost the previous incarnation of the table
    require(partitionKeys.nonEmpty, "blockgen needs at least one partition key")
    val spark = df.sparkSession
    // drop any previous incarnation, including a stale location left by a
    // prior session (in-memory catalog forgets tables; the files survive).
    // Resolve the path the CATALOG uses (name formatting, db directories)
    // rather than concatenating the raw name under the warehouse dir —
    // 'Events' stores as .../events, 'db.tbl' as .../db.db/tbl
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sql(s"DROP TABLE IF EXISTS ${ident.quotedString}")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val writer = df.repartition(buckets, partitionKeys.map(col): _*).write
      .mode("overwrite")
      .bucketBy(buckets, partitionKeys.head, partitionKeys.tail: _*)
    val sorted =
      if (sortKeys.nonEmpty) writer.sortBy(sortKeys.head, sortKeys.tail: _*) else writer
    sorted.format("parquet").saveAsTable(table)
  }

  /** BLOCKGEN x BY ROW n — the reference's row-count cost function
    * (block/BlockgenType.java:32 BY_ROW; CreateBlockOperator.java:56-72
    * closes a block when it reaches n rows): bucket count = ceil(rows /
    * rowsPerBlock). Costs one counting pass over the input, exactly like
    * the reference's block-extent accounting.
    */
  def blockgenByRow(df: DataFrame, table: String, rowsPerBlock: Long,
                    partitionKeys: Seq[String], sortKeys: Seq[String]): Unit = {
    require(rowsPerBlock > 0, s"rowsPerBlock must be positive: $rowsPerBlock")
    val rows = df.count()
    val buckets = clampBuckets(df, (rows + rowsPerBlock - 1) / rowsPerBlock)
    blockgen(df, table, partitionKeys, sortKeys, buckets)
  }

  /** Bound a derived bucket count to [1, spark.sql.sources.bucketing
    * .maxBuckets]: estimates can blow up (join-size products, stat-less
    * plans default to Long.MaxValue) and an oversized count hard-fails the
    * bucketed write instead of degrading.
    */
  private def clampBuckets(df: DataFrame, n: BigInt): Int = {
    val maxBuckets = df.sparkSession.conf
      .get("spark.sql.sources.bucketing.maxBuckets", "100000").toInt
    n.max(BigInt(1)).min(BigInt(maxBuckets)).toInt
  }
  private def clampBuckets(df: DataFrame, n: Long): Int = clampBuckets(df, BigInt(n))

  /** BLOCKGEN x BY SIZE n — the byte-size cost function (BY_SIZE): bucket
    * count from Catalyst's size estimate for the plan (filters and column
    * pruning already applied), so one bucket ≈ bytesPerBlock. The estimate
    * is pre-encoding; Parquet compression makes actual buckets smaller —
    * the safe direction (more, smaller blocks).
    */
  def blockgenBySize(df: DataFrame, table: String, bytesPerBlock: Long,
                     partitionKeys: Seq[String], sortKeys: Seq[String]): Unit = {
    require(bytesPerBlock > 0, s"bytesPerBlock must be positive: $bytesPerBlock")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val buckets = clampBuckets(df, (bytes + bytesPerBlock - 1) / bytesPerBlock)
    blockgen(df, table, partitionKeys, sortKeys, buckets)
  }

  /** BLOCKGEN BY INDEX — co-partition to match an existing blockgen'd
    * relation (reference: ShuffleRewriter.java:322-422,
    * plan/physical/ByIndexPartitioner.java:44). In Spark this is just
    * "write with the same bucket spec"; the catalog holds the bucket
    * metadata that the reference shipped as an Index via distributed cache.
    */
  def blockgenByIndex(spark: SparkSession, df: DataFrame, table: String,
                      matchingTable: String, sortKeys: Seq[String] = Nil): Unit = {
    val cat = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(matchingTable))
    val spec = cat.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$matchingTable is not bucketed (not blockgen'd)"))
    blockgen(df, table, spec.bucketColumnNames,
      if (sortKeys.nonEmpty) sortKeys else spec.sortColumnNames, spec.numBuckets)
  }

  /** LOAD BLOCK FROM table — read back a blockgen'd relation; Catalyst knows
    * its bucketing, so joins/aggregations on the bucket keys skip the
    * shuffle (reference: operator/LoadBlockOperator.java:37).
    */
  def loadBlock(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** In-flight equivalent (no table write): repartition + sort within
    * partitions — the reference's SHUFFLE + CREATE_BLOCK pair
    * (ShuffleRewriter.java:246-320) when the blocks are consumed in the same
    * script rather than persisted.
    */
  def blockgenInFlight(df: DataFrame, partitionKeys: Seq[String], sortKeys: Seq[String],
                       numPartitions: Option[Int] = None): DataFrame = {
    val rep = numPartitions match {
      case Some(n) => df.repartition(n, partitionKeys.map(col): _*)
      case None    => df.repartition(partitionKeys.map(col): _*)
    }
    if (sortKeys.isEmpty) rep else rep.sortWithinPartitions(sortKeys.map(col): _*)
  }
}
