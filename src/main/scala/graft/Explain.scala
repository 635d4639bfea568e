package graft

/** Dev tool: dump formatted physical plans for the headline queries plus a
  * shuffle/broadcast/codegen summary line per query, to audit that plans
  * stay scale-shaped (pushdown reaches the scan, small dims broadcast,
  * aggregates split partial/final). Usage:
  *   dev/run.sh graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Bench.headline
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // execute THIS df's own queryExecution (count() would plan a separate
      // pruned query) so AQE finalizes and codegen ids exist in the plan
      df.queryExecution.toRdd.foreach(_ => ())
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // count nodes in the FINAL plan tree only — the formatted output also
      // contains AQE's "Initial Plan" tree and per-node detail sections,
      // which would double- and triple-count operators
      val initialIdx = formatted.indexOf("== Initial Plan ==")
      val finalTree = if (initialIdx > 0) formatted.substring(0, initialIdx) else formatted
      val exchanges = "(?<!Broadcast)(?<!Reused)Exchange \\(".r.findAllIn(finalTree).size
      val broadcasts = "(?<!Reused)BroadcastExchange \\(".r.findAllIn(finalTree).size
      val scans = "Scan parquet".r.findAllIn(finalTree).size
      val codegen = "codegen id : (\\d+)".r.findAllMatchIn(formatted).map(_.group(1)).toSet.size
      // AQE's decisions are the scale story: report the FINAL partition
      // count of every coalesced shuffle read (formatted explain only says
      // "coalesced") so partition-policy changes are observable
      val aqeReads = scala.collection.mutable.ArrayBuffer.empty[Int]
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
            aqeReads += a.partitionSpecs.size
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan)
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      val reads = if (aqeReads.isEmpty) "" else s" aqePartitions=${aqeReads.mkString(",")}"
      println(s"==== $name  shuffles=$exchanges broadcasts=$broadcasts scans=$scans codegenSpans=$codegen$reads")
      if (sys.env.contains("GRAFT_EXPLAIN_FULL")) {
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
