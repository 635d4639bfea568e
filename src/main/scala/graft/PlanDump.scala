package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Matrix

/** Dev tool: write `explain("formatted")` for named queries to files —
  * the optimization rounds' before/after plan evidence
  * (plans/rNN/<query>_{before,after}.txt). Usage:
  *   SPARK_GRAFT_SF_DIR=... dev/run.sh graft.PlanDump <outDir> <suffix> q1,q2,...
  * Bench, Verify, the tests and this tool all take their confs from
  * `GraftSession.builder` alone, so the dumped plan is the benched and
  * oracle-checked plan (AQE initial plan; the runtime plan may coalesce
  * further).
  *
  * The iterative queries' final plans are only the last checkpoint's
  * LogicalRDD scan (the loop erases per-round plans), so for those the
  * meaningful evidence is the ROUND fragment, built here with the same
  * helpers the loop uses over the same data as the headline query.
  * Fragment pseudo-name: q159_round (one kCore peel round). q199 and q201
  * run no SQL plan per round (Matrix.graphRounds), so they have none.
  */
object PlanDump {

  private def fragments(spark: SparkSession, sfDir: String)
      : Map[String, () => DataFrame] = {
    def t(n: String): DataFrame = Tables.load(spark, sfDir, n)
    // a first round, over the loop's own setup and round helpers
    Map(
      "q159_round" -> (() => {
        val edges = t("documents")
          .select(expr("doc_id div 8").as("a"),
            expr("doc_id div 8 + 1 + doc_id % 8").as("b"))
        Matrix.peel(Matrix.ckpt(Matrix.undirected(edges), false, false), k = 10)
      }))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, csv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val frags = fragments(spark, sfDir)
    csv.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = frags.get(name).map(_.apply())
        .getOrElse(SparkEntry.queries(name)(spark, sfDir))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
