package graft.agent

/** Per-host minimum-interval limiter for remote fetches (politeness — the
  * crawl-etiquette half of what `Delay`/`RandomDelay` do per-trace: those
  * space ONE trace's actions, this spaces ALL concurrent fetches against a
  * single host across the executor's task threads).
  *
  * Semantics: successive remote fetch STARTS against the same host are at
  * least `conf.hostMinIntervalMillis` apart within one JVM. Slots are
  * reserved by CAS on a per-host clock, so N threads hitting one host
  * serialize into an evenly spaced queue while distinct hosts proceed in
  * parallel. That holds for any number of threads per task too:
  * [[Agent.executeAll]] runs up to [[Agent.InFlight]] of one task's
  * fetches on the agent pool, and each reserves its own slot. The limiter
  * spaces starts; it does not cap requests in flight. Cache hits never
  * wait (they perform no remote fetch — the probe short-circuits before
  * the limiter).
  *
  * Scope is deliberately per-executor, matching the reference's in-JVM
  * agent pooling: cluster-wide politeness for a host-skewed crawl is a
  * LAYOUT problem, not a limiter problem — partition the frontier by
  * `hash(host)` (optionally salted over k partitions for a dominant host,
  * accepting k× that host's rate) so all of one host's traces land on one
  * executor and this limiter's guarantee becomes global. The explore
  * frontier's co-partitioned visited-set layout already keys by trace
  * hash; a host-keyed `keyBy` on the fetch turns it into exactly that
  * domain-salted layout.
  *
  * The host table is size-bounded (LRU): eviction of a cold host merely
  * forgets its last-fetch time — worst case one early fetch after re-add.
  */
object HostPoliteness {

  private val nextFree: com.google.common.cache.Cache[String, java.util.concurrent.atomic.AtomicLong] =
    com.google.common.cache.CacheBuilder.newBuilder().maximumSize(4096).build()

  private[graft] def hostOf(uri: String): Option[String] =
    scala.util.Try(Option(new java.net.URI(uri).getHost)).toOption.flatten
      .filter(_.nonEmpty)

  /** Block until this thread's reserved start slot for `host` arrives. */
  def acquire(uri: String, intervalMillis: Long): Unit = {
    if (intervalMillis <= 0L) return
    hostOf(uri).foreach { host =>
      val clock = nextFree.get(host, () => new java.util.concurrent.atomic.AtomicLong(0L))
      var slot = 0L
      var reserved = false
      while (!reserved) {
        val prev = clock.get()
        slot = math.max(System.currentTimeMillis(), prev + intervalMillis)
        reserved = clock.compareAndSet(prev, slot)
      }
      val wait = slot - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
    }
  }

  /** Test seam: forget all host clocks. */
  def clear(): Unit = nextFree.invalidateAll()
}
