package graft.scale

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** The one lineage cut under every iterative loop ([[GraphLoop]]'s rounds,
  * explore's visited keys, connected components' star rounds, the Lloyd
  * loop and BPE training). It holds the latest checkpoint and releases the
  * one it supersedes at once, so a loop's storage stays O(1) in its rounds.
  *
  *  - [[cut]] marks an RDD and returns the tally of the ONE job that
  *    materializes it. The mark is a reliable checkpoint under `dir` when
  *    one is given (persisted first, so the write re-reads blocks instead
  *    of recomputing), else `localCheckpoint`.
  *  - [[frame]] takes an eager `localCheckpoint` of a DataFrame and holds
  *    the checkpointed RDD under its plan: `Dataset.unpersist` frees
  *    nothing on a checkpointed frame, unpersisting that RDD does. The
  *    frame keeps the executed plan it cut ([[Held.cutPlans]]), so a plan
  *    audit sees the work below the checkpoint.
  *  - [[release]] frees what is held.
  *
  * Driver-side only; tallies and closures never capture the instance.
  */
final class Held(sc: SparkContext, dir: Option[String] = None) {
  dir.foreach(sc.setCheckpointDir)
  private var held: RDD[_] = null

  /** Marks `rdd` for checkpointing without running a job. */
  def mark[T](rdd: RDD[T]): RDD[T] = {
    if (dir.isEmpty) rdd.localCheckpoint()
    else { rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd.checkpoint() }
    rdd
  }

  /** Marks `rdd`, folds it with `seq` in the job that materializes it, and
    * releases the checkpoint it supersedes. The per-partition folds combine
    * in partition order, not task-completion order, so a rerun sums alike.
    */
  def cut[T, S: ClassTag](rdd: RDD[T])(zero: S)(seq: (S, T) => S, comb: (S, S) => S): S =
    cut(rdd, rdd.mapPartitions(it => Iterator.single(it.foldLeft(zero)(seq))))
      .foldLeft(zero)(comb)

  /** Marks `rdd`, collects `job` — one Spark job, which must reach `rdd`
    * through narrow dependencies so that it materializes the mark — and
    * releases the checkpoint `rdd` supersedes.
    */
  def cut[U: ClassTag](rdd: RDD[_], job: RDD[U]): Array[U] = {
    mark(rdd)
    try job.collect() finally hold(rdd)
  }

  /** `df` eagerly localCheckpointed; its checkpoint supersedes the held one. */
  def frame(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    val cut = out.queryExecution.logical.collectFirst { case r: LogicalRDD => r }.get
    cut.setTagValue(Held.CutPlan, Held.rendered(df.queryExecution))
    hold(cut.rdd)
    out
  }

  /** Frees the held checkpoint. Whatever reads it must not run afterwards. */
  def release(): Unit = hold(null)

  private def hold(rdd: RDD[_]): Unit = {
    if (held != null) held.unpersist(blocking = false)
    held = rdd
  }
}

object Held {

  /** The executed plan a [[Held.frame]] cut, kept rendered: the live plan
    * would pin the shuffles below the checkpoint for the frame's lifetime.
    */
  private val CutPlan = TreeNodeTag[String]("graft.held.cutPlan")

  /** The physical plan `qe` runs, rendered: adaptive execution's final
    * plan once an action ran it, else its initial plan.
    */
  def rendered(qe: QueryExecution): String = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case p => p.toString
  }

  /** The executed plans cut below `df`: one per [[Held.frame]] checkpoint
    * its plan reads directly, in plan order.
    */
  def cutPlans(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.getTagValue(CutPlan) }.flatten
}
