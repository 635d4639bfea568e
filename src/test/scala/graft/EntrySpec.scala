package graft

/** Replicates the driver's t1 smoke + ensures every declared query is
  * runnable at sf0.001 (oracle hash-matching is the driver's t2 at sf0.01;
  * dev/check.py replicates it locally).
  */
class EntrySpec extends SparkSpec {

  test("entry() answers the flagship query with rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SPARK_GRAFT_CPUS takes a positive integer only, trimmed and normalized") {
    val host = Runtime.getRuntime.availableProcessors.toString
    assert(GraftSession.coresFrom(None) == host)
    assert(GraftSession.coresFrom(Some("  ")) == host)
    assert(GraftSession.coresFrom(Some(" 08 ")) == "8")
    for (bad <- Seq("*", "0", "-2", "4x")) {
      val e = intercept[IllegalArgumentException](GraftSession.coresFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("all declared queries execute at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
