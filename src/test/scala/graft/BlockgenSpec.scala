package graft

import org.apache.spark.sql.functions._

import graft.operators.{Blockgen, Joins}

/** BLOCKGEN ≅ bucketed+sorted tables: the load-bearing scale property is
  * that two co-bucketed tables join with NO shuffle on either side —
  * the reference's MeshJoin contract (block/Index.java:38,
  * operator/LoadBlockOperator.java:37).
  */
class BlockgenSpec extends SparkSpec {

  test("co-bucketed tables sort-merge join without a shuffle") {
    val li = sf("lineitem")
    val ord = sf("orders").withColumnRenamed("o_orderkey", "l_orderkey")
    Blockgen.blockgen(li, "t_li", Seq("l_orderkey"), Seq("l_orderkey"), 4)
    Blockgen.blockgen(ord, "t_ord", Seq("l_orderkey"), Seq("l_orderkey"), 4)
    val joined = Joins.meshJoin(spark, "t_li", "t_ord", Seq("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == li.count())
  }

  test("blockgen writes one sorted file per bucket through one hash exchange and one sort") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // three input tasks, each holding rows of every bucket: a writer fed
    // by them directly leaves up to 3 x 4 files
    val li = sf("lineitem").repartition(3)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain(sc)
    spark.listenerManager.register(listener)
    try {
      Blockgen.blockgen(li, "t_per_bucket", Seq("l_orderkey"), Seq("l_orderkey", "l_linenumber"), 4)
      org.apache.spark.graft.ListenerDrain(sc)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val write = plans.asScala.map(qe => SparkSpec.planNodes(qe.executedPlan))
      .filter(_.exists(_.nodeName.contains("WriteFiles"))).toSeq
    assert(write.size == 1, s"${write.size} write plans")
    val exchanges = write.head.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, write.head.mkString("\n"))
    assert(exchanges.head.outputPartitioning.numPartitions == 4)
    assert(exchanges.head.outputPartitioning.toString.startsWith("hashpartitioning(l_orderkey"),
      exchanges.head.outputPartitioning.toString)
    assert(write.head.count(_.isInstanceOf[SortExec]) == 1, write.head.mkString("\n"))

    val loc = new java.io.File(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("t_per_bucket")).location)
    val files = loc.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(files.map(f => BucketingUtils.getBucketId(f.getName)).toSeq == (0 until 4).map(Some(_)),
      files.map(_.getName).mkString(", "))
    var rows = 0L
    files.zipWithIndex.foreach { case (f, bucket) =>
      val got = spark.read.parquet(f.getPath)
        .select(col("l_orderkey"), col("l_linenumber"), expr("pmod(hash(l_orderkey), 4)"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      assert(got.nonEmpty && got.forall(_._3 == bucket), s"${f.getName} holds another bucket's rows")
      val keys = got.map(r => (r._1, r._2)).toSeq
      assert(keys == keys.sorted, s"${f.getName} is not sorted on the sort keys")
      rows += got.length
    }
    assert(rows == li.count())
    spark.sql("DROP TABLE IF EXISTS t_per_bucket")
  }

  test("blockgen BY INDEX reuses the matching table's bucket spec (ByIndexPartitioner.java:44)") {
    val li = sf("lineitem")
    Blockgen.blockgen(li, "t_bi_base", Seq("l_orderkey"), Seq("l_orderkey"), 4)
    Blockgen.blockgenByIndex(spark,
      sf("orders").withColumnRenamed("o_orderkey", "l_orderkey"), "t_bi_match", "t_bi_base")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("t_bi_match"))
    assert(meta.bucketSpec.get.numBuckets == 4)
    assert(meta.bucketSpec.get.bucketColumnNames == Seq("l_orderkey"))
  }

  test("in-flight blockgen partitions and sorts (ShuffleRewriter.java:246-320)") {
    val out = Blockgen.blockgenInFlight(sf("lineitem"), Seq("l_orderkey"), Seq("l_orderkey"), Some(4))
    assert(out.rdd.getNumPartitions == 4)
  }

  test("BY ROW and BY SIZE cost functions derive the bucket count (BlockgenType.java:32)") {
    val li = sf("lineitem") // ~6000 rows at sf0.001
    val rows = li.count()
    Blockgen.blockgenByRow(li, "t_byrow", 1000L, Seq("l_orderkey"), Seq("l_orderkey"))
    val m1 = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("t_byrow"))
    assert(m1.bucketSpec.get.numBuckets == ((rows + 999) / 1000).toInt)
    assert(Blockgen.loadBlock(spark, "t_byrow").count() == rows)
    Blockgen.blockgenBySize(li, "t_bysize",
      li.queryExecution.optimizedPlan.stats.sizeInBytes.toLong / 4 + 1,
      Seq("l_orderkey"), Seq("l_orderkey"))
    val m2 = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("t_bysize"))
    assert(m2.bucketSpec.get.numBuckets == 4)
  }

  test("blockgen cleans the CATALOG-cased stale location; validates before dropping (r17 review)") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    // stale location under the lowercased name a fresh session's catalog
    // would use — the old raw-name path missed it on a case-sensitive FS
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripSuffix("/")
    val stale = new java.io.File(s"$wh/evcase")
    stale.mkdirs()
    new java.io.File(stale, "junk").createNewFile()
    Blockgen.blockgen(df, "EvCase", Seq("k"), Seq("v"), 2)
    assert(spark.table("EvCase").count() == 2)
    // a bad call must fail BEFORE the destructive drop — table survives
    intercept[IllegalArgumentException](
      Blockgen.blockgen(df, "EvCase", Seq.empty, Seq("v"), 2))
    assert(spark.table("EvCase").count() == 2)
    spark.sql("DROP TABLE IF EXISTS EvCase")
  }

  test("blockgen is idempotent across overwrites (stale-location handling)") {
    val r = sf("region")
    Blockgen.blockgen(r, "t_idem", Seq("r_regionkey"), Nil, 2)
    Blockgen.blockgen(r, "t_idem", Seq("r_regionkey"), Nil, 2)
    assert(Blockgen.loadBlock(spark, "t_idem").count() == r.count())
  }
}
