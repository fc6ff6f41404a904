package graft.exec

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Engine metrics as Spark accumulators (reference metrics/SpookyMetrics.scala:
  * 9-33). These are the test oracle for side-effect dedup: `pagesFetched`
  * counts REMOTE fetches only, so "fetch + count == 1" proves once-per-trace
  * execution (reference FetchPlanSpec.scala:33-51, DataViewSpec.scala:218-274).
  */
final class Metrics(@transient sc: SparkContext) extends Serializable {

  /** Remote (non-cache) pages fetched. */
  val pagesFetched: LongAccumulator = sc.longAccumulator("graft.pagesFetched")

  /** Observations served from the doc caches. */
  val fetchFromCache: LongAccumulator = sc.longAccumulator("graft.fetchFromCache")

  /** Cache entries written. */
  val cacheWrites: LongAccumulator = sc.longAccumulator("graft.cacheWrites")

  /** Distinct trace executions (cache hits + remote). */
  val traceExecutions: LongAccumulator = sc.longAccumulator("graft.traceExecutions")

  /** Failed actions (after retries). */
  val errors: LongAccumulator = sc.longAccumulator("graft.errors")

  /** Sequential traversal steps the driver ran: one per BFS level
    * ([[ExploreExec.explore]]) and one per best-first round
    * ([[ExploreExec.exploreBestFirst]]). The driver-latency denominator for
    * crawl throughput and the
    * round count the job-census pins multiply against.
    */
  val exploreRounds: LongAccumulator = sc.longAccumulator("graft.exploreRounds")

  /** Adds `n` to `acc` under the accumulator's lock. The agent counts from
    * several pool threads of one task ([[graft.agent.Agent.executeAll]]),
    * and a task's `LongAccumulator` copy is an unsynchronized sum that
    * would lose concurrent updates. The task thread reads the sums only
    * after every execution it started has finished.
    */
  def add(acc: LongAccumulator, n: Long = 1L): Unit = acc.synchronized(acc.add(n))

  def reset(): Unit =
    Seq(pagesFetched, fetchFromCache, cacheWrites, traceExecutions, errors,
      exploreRounds).foreach(_.reset())
}
