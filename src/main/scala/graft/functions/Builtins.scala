package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cubert's built-in scalar function surface as `Column` combinators
  * (reference: functions/builtin/FunctionType.java:20-68, factory
  * FunctionFactory.java:31). Everything delegates to codegen'd Spark
  * built-ins — no UDFs — so these stay inside whole-stage codegen.
  *
  * Arithmetic/comparison/boolean operators are native `Column` ops and need
  * no wrappers; this object covers the named functions.
  */
object Builtins {

  /** NVL(a, b) — reference: functions/builtin/Nvl.java:30. */
  def nvl(a: Column, b: Column): Column = coalesce(a, b)

  /** CASE as (cond, value) pairs with optional default —
    * reference: functions/builtin/Case.java:30, grammar CubertPhysical.g4:160.
    */
  def caseWhen(pairs: Seq[(Column, Column)], default: Option[Column] = None): Column = {
    val base = when(pairs.head._1, pairs.head._2)
    val chained = pairs.tail.foldLeft(base) { case (acc, (c, v)) => acc.when(c, v) }
    default.map(chained.otherwise).getOrElse(chained)
  }

  /** SEQNO — sequential number within the partition ("block"), 1-based
    * (reference: functions/builtin/SeqNo.java:34 counts per task).
    */
  def seqNo(): Column =
    expr("row_number() over (partition by spark_partition_id() order by monotonically_increasing_id())")
}
