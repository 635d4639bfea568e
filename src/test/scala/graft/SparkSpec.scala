package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate dedupes across
  * suites within the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): DataFrame = Tables.load(spark, "/root/testdata/sf0.001", name)
}

object SparkSpec {
  /** Every node of a final (post-AQE) physical plan, subqueries included;
    * a reused exchange counts once, where it was computed.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case n => n +: (n.children ++ n.subqueries).flatMap(planNodes)
  }

  lazy val session: SparkSession = {
    val s = GraftSession.builder(appName = "graft-test", cores = "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
