package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Persisted-RDD release without `RDD.unpersist`'s WARN for a locally
  * checkpointed RDD ("cannot be recomputed after unpersisting"), which a
  * loop that checkpoints every round would print once per round.
  * `SparkContext.unpersistRDD`, the call the ContextCleaner makes, is
  * private[spark], so this one-file package escape exposes it (same
  * technique as [[ColumnBridge]]).
  */
object RddBridge {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
