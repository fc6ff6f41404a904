package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** RDD blocks as the block manager master records them, for the
  * second-run storage specs. `SparkContext.getPersistentRDDs` holds its
  * RDDs weakly, so what it lists depends on GC; the master's block table
  * changes only when a block is stored or removed.
  */
object BlockCensus {

  def rddBlocks(): Set[RDDBlockId] =
    SparkEnv.get.blockManager.master.getStorageStatus.toSet
      .flatMap((s: org.apache.spark.storage.StorageStatus) =>
        s.rddBlocks.keys.collect { case b: RDDBlockId => b })

  /** Blocks stored since `before` that belong to none of `keep`'s
    * checkpoints: what a call left behind beyond the frames it returned.
    */
  def leftSince(before: Set[RDDBlockId], keep: Dataset[_]*): Set[RDDBlockId] = {
    val own = keep.flatMap(_.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }).toSet
    (rddBlocks() -- before).filterNot(b => own(b.rddId))
  }
}
