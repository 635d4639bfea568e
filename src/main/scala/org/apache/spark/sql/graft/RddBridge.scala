package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Persisted-RDD release without `RDD.unpersist`'s WARN for a locally
  * checkpointed RDD ("cannot be recomputed after unpersisting"), which a
  * loop that checkpoints every round would print once per round.
  * `SparkContext.unpersistRDD`, the call the ContextCleaner makes, is
  * private[spark], so this one-file package escape exposes it (same
  * technique as [[ColumnBridge]]). `frame` wraps an RDD of Catalyst rows
  * without the per-row conversion of `createDataFrame`, whose internal
  * form is private[sql].
  */
object RddBridge {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
