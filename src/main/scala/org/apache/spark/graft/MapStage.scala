package org.apache.spark.graft

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD

/** Bridge to `SparkContext.submitMapStage` (`private[spark]`): runs the map
  * stage behind a shuffle as its own job, the way adaptive execution
  * materializes a query stage, so the driver can decide what to build next
  * from what that stage produced. Whatever later reads the shuffle reuses
  * the written output; the stage never runs again.
  */
object MapStage {

  /** Runs the map stages of `shuffled`'s shuffle dependencies and waits for
    * them. A 0-partition map side (which `submitMapStage` refuses) has
    * nothing to write and is skipped.
    */
  def run(shuffled: RDD[_]): Unit = shuffled.dependencies.foreach {
    case d: ShuffleDependency[_, _, _] if d.rdd.partitions.nonEmpty =>
      shuffled.sparkContext.submitMapStage(d).get()
    case _ =>
  }
}
