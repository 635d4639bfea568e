package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Udafs

class UdafExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("typed PresenceBitmap aggregator works in groupBy and cube") {
    spark.udf.register("presence_bm", udaf(new Udafs.PresenceBitmap))
    val df = Seq(("u1", 0L), ("u1", 2L), ("u1", 99L), ("u2", 63L), ("u2", -1L))
      .toDF("user", "day")
    val grouped = df.groupBy("user").agg(expr("presence_bm(day)").as("bm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped("u1") == ((1L << 0) | (1L << 2))) // 99 ignored
    assert(grouped("u2") == (1L << 63))              // -1 ignored
    // same aggregator under CUBE — partial/final split handled by Spark
    val cubed = df.cube($"user").agg(expr("presence_bm(day)").as("bm"))
    val total = cubed.filter($"user".isNull).collect().head.getLong(1)
    assert(total == (((1L << 0) | (1L << 2)) | (1L << 63)))
  }

  test("typed MeanAgg matches avg") {
    spark.udf.register("mean_agg", udaf(new Udafs.MeanAgg))
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v")
    val got = df.groupBy("k").agg(expr("mean_agg(v)").as("m"), avg("v").as("a"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    got.foreach { case (m, a) => assert(m == a) }
  }

  test("GraftExtensions injects SQL functions into a new session") {
    spark // the JVM's first SparkContext comes from GraftSession.builder
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val row = s2.sql(
        """SELECT graft_poly_hash('ab') AS h,
          |  size(graft_token_hashes('a b  c')) AS n,
          |  size(graft_shingle_set(graft_token_hashes('a b c d'), 2)) AS ns,
          |  graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |               array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos
          |""".stripMargin).collect().head
      assert(row.getLong(0) == 3105L) // (0*31+97)*31+98 mod P
      assert(row.getInt(1) == 3)
      assert(row.getInt(2) == 3)
      assert(row.getDouble(3) == 1.0)
      val sh = s2.sql("SELECT graft_simhash32(graft_token_hashes('x y z'))").collect().head
      assert(sh.getLong(0) >= 0L)
      // positional shingles keep duplicates; deletion hashes cover the
      // 1-deletion neighborhood (1 + |s| variants for distinct chars)
      val pos = s2.sql(
        "SELECT size(graft_shingles(graft_token_hashes('a b a b'), 2))").collect().head
      assert(pos.getInt(0) == 3)
      val del = s2.sql("SELECT size(graft_deletion_hashes('abc', 1))").collect().head
      assert(del.getInt(0) == 4)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("GraftExtensions SQL functions reject bad arguments by function name") {
    Seq(
      "graft_shingle_set(th, 2L)" -> "expects an integer literal, but got 2L",
      "graft_shingle_set(th, id)" -> "expects an integer literal, but got v.id",
      "graft_shingle_set(th)" -> "requires 2 parameters but the actual number is 1",
      "graft_shingle_set(th, 0)" -> "must be between [1, 2147483647] (current value = 0)",
      "graft_deletion_hashes('abcd', 3)" -> "must be between [0, 2] (current value = 3)"
    ).foreach { case (call, msg) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $call FROM VALUES (7L, array(1L, 2L, 3L)) AS v(id, th)").collect())
      assert(e.getMessage.contains(call.takeWhile(_ != '(')) && e.getMessage.contains(msg),
        s"$call: ${e.getMessage}")
    }
  }
}
