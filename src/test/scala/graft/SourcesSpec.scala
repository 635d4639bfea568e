package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder

import graft.sources.Sources

/** A parquet LOAD of one file resolves its schema from the file's footer on
  * the driver; everything else resolves through Spark's inference. Either
  * way the relation must be the one `spark.read.parquet` gives.
  */
class SourcesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs that `body` starts, counted on a drained listener bus. */
  private def jobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerDrain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The optimized plan with expression ids masked. */
  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#_")

  private def assertSameRelation(got: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(got.schema.json == expected.schema.json, what)
    assert(plan(got) == plan(expected), what)
  }

  /** A Spark-written part file whose schema carries non-nullable fields and
    * field metadata in the footer's Spark row metadata.
    */
  private lazy val sparkPartFile: String = {
    val out = Files.createTempDirectory("graft-src-part").resolve("t").toString
    val meta = new MetadataBuilder().putString("comment", "row key").build()
    spark.range(10).select(col("id").as("k", meta), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(out)
    new java.io.File(out).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
  }

  test("a one-file parquet LOAD reads its footer: the schema and plan of spark.read, no job") {
    val files = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq :+ sparkPartFile
    assert(files.size == 11)
    files.foreach { f =>
      val expected = spark.read.parquet(f)
      Seq("parquet", "rubix").foreach { fmt =>
        val (got, started) = jobs(Sources.load(spark, f, fmt))
        assert(started == 0, s"LOAD '$f' USING $fmt started $started jobs")
        assertSameRelation(got, expected, s"LOAD '$f' USING $fmt")
      }
    }
    assert(spark.read.parquet(sparkPartFile).schema("k").metadata.getString("comment") == "row key")
  }

  test("directories, globs and declared schemas resolve as spark.read resolves them") {
    val parent = new java.io.File(sparkPartFile).getParent
    assertSameRelation(Sources.load(spark, parent, "parquet"), spark.read.parquet(parent),
      "directory")
    assertSameRelation(Sources.load(spark, s"$parent/part-*", "parquet"),
      spark.read.parquet(s"$parent/part-*"), "glob")
    val declared = Sources.load(spark, sparkPartFile, "parquet", Some("LONG k"))
    assertSameRelation(declared,
      spark.read.schema("k BIGINT").parquet(sparkPartFile), "declared schema")
    assert(declared.columns.toSeq == Seq("k"))
    // a hidden file name is Spark's to resolve (its listing skips such names)
    val hidden = Files.createTempDirectory("graft-src-hidden").resolve("_t.parquet")
    Files.copy(Paths.get(sparkPartFile), hidden)
    val expected = scala.util.Try(spark.read.parquet(hidden.toString))
    val got = scala.util.Try(Sources.load(spark, hidden.toString, "parquet"))
    assert(got.isSuccess == expected.isSuccess, s"hidden file: $got vs $expected")
    if (got.isSuccess) assertSameRelation(got.get, expected.get, "hidden file")
    else assert(got.failed.get.getClass == expected.failed.get.getClass)
  }

  test("a corrupt, truncated or empty single file fails as spark.read fails it") {
    val tmp = Files.createTempDirectory("graft-src-bad")
    val real = Files.readAllBytes(Paths.get(s"$dir/region.parquet"))
    val cases = Seq(
      "corrupt" -> "not a parquet file at all".getBytes("UTF-8"),
      "truncated" -> real.take(real.length / 2),
      "tail-only" -> real.takeRight(real.length / 2),
      "empty" -> Array.emptyByteArray)
    cases.foreach { case (name, bytes) =>
      val f = tmp.resolve(s"$name.parquet")
      Files.write(f, bytes)
      val expected = intercept[Exception](spark.read.parquet(f.toString).collect())
      val got = intercept[Exception](Sources.load(spark, f.toString, "parquet").collect())
      assert(got.getClass == expected.getClass, s"$name: ${got.getClass} vs ${expected.getClass}")
    }
  }
}
