package graft

/** Dev smoke: replicate the driver's t1 check — run SparkEntry.entry on
  * sf0.001 and assert rows > 0. Usage: dev/run.sh graft.Smoke
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
