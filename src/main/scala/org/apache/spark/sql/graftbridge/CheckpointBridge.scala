package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Block-level access to a `localCheckpoint`ed DataFrame: read its
  * rows, and release its storage. `Dataset.unpersist()` only uncaches
  * CacheManager entries (`.cache()`/`.persist()`); the RDD a local
  * checkpoint pins lives in the plan's `LogicalRDD` leaf and otherwise
  * stays in the block store until the ContextCleaner happens to
  * garbage-collect it — nondeterministic on a long-lived driver.
  * Iterative trainers (the BPE merge loop) release each superseded
  * round's table deterministically through this hook.
  *
  * Releasing is only safe once every downstream plan that reads the
  * checkpoint has materialized: a local checkpoint cannot be
  * recomputed after its blocks are dropped.
  */
object CheckpointBridge {
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .foreach(_.unpersist(blocking = false))

  /** The rows of a `localCheckpoint`ed DataFrame as its `LogicalRDD`
    * holds them, in `df.schema` column order: an RDD over the
    * checkpoint blocks themselves, with no query planned or executed
    * and no second copy kept.
    */
  def checkpointedRows(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case p => throw new IllegalArgumentException(
        s"not a checkpointed frame: ${p.nodeName}")
    }
}
