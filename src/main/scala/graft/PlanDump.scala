package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * meaningful evidence is the ROUND fragment, rebuilt here with the same
  * helpers the loop uses over the same graph as the headline query.
  * Fragment pseudo-names: q199_round (one pageRankPortable contribution +
  * state-update round), q201_round (one labelPropagation round),
  * q159_round (one kCore peel round).
  */
object PlanDump {

  private def fragments(spark: SparkSession, sfDir: String)
      : Map[String, () => DataFrame] = {
    def t(n: String): DataFrame = Tables.load(spark, sfDir, n)
    // the q199/q201 graph (custSuppGraph without the in-dataflow guard —
    // plan shape is identical, the guard is a projection-level `when`)
    def graph(): DataFrame =
      t("orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t("lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000000L)).as("dst"))
    // one round each, built over checkpointed inputs exactly as the loops
    // build them (LogicalRDD inputs — same stats/partitioning the real
    // round plans against)
    Map(
      "q199_round" -> (() => {
        val e = graph().toDF("src", "dst").distinct().localCheckpoint()
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst"))).distinct().localCheckpoint()
        val n = nodes.count()
        val side = graft.operators.Matrix.stateSide(n)
        val state = nodes
          .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
          .select(col("node"), lit(62500L).as("r"), col("deg"))
          .localCheckpoint()
        graft.operators.Matrix.prRound(e, state, side,
          base = 9375L, dampingPct = 85)
      }),
      "q201_round" -> (() => {
        val e = graph().toDF("src", "dst").distinct().localCheckpoint()
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst"))).distinct().localCheckpoint()
        val n = nodes.count()
        val side = graft.operators.Matrix.stateSide(n)
        val labels = nodes.select(col("node"), col("node").as("label"))
          .localCheckpoint()
        graft.operators.Matrix.lpaRound(e, labels, side)
      }),
      "q159_round" -> (() => {
        val edges = t("documents")
          .select(expr("doc_id div 8").as("a"),
            expr("doc_id div 8 + 1 + doc_id % 8").as("b"))
        val e = edges.toDF("u", "v").filter(col("u") =!= col("v"))
          .select(least(col("u"), col("v")).as("u"),
            greatest(col("u"), col("v")).as("v"))
          .distinct().localCheckpoint()
        val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= 10).select("n")
        e.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
          .select("u", "v")
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
