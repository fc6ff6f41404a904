package graft.exec

import org.apache.spark.SparkContext

/** Exact job-count reads for the specs' census asserts.
  *
  * `statusTracker` is fed by the ASYNC listener bus, so reading it right
  * after `clearJobGroup` races the drain — a fixed sleep is either wasted
  * time on an idle machine or too short under load (the 200+-job best-first
  * legs can lag the bus past a second). Poll until the count is STABLE for
  * `settleMillis` instead: correct on fast machines, robust on loaded ones,
  * and a loud timeout beats a silently-wrong strict-equality assert.
  */
object JobCensus {
  def settledJobCount(sc: SparkContext, group: String,
                      settleMillis: Long = 500, timeoutMillis: Long = 15000): Int = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    var last = sc.statusTracker.getJobIdsForGroup(group).length
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - stableSince < settleMillis) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"job census for '$group' never settled within ${timeoutMillis} ms (at $last)")
      Thread.sleep(50)
      val now = sc.statusTracker.getJobIdsForGroup(group).length
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
    last
  }
}
