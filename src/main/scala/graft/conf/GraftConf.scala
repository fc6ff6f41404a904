package graft.conf

/** Batch down-sampling applied at every fan-out point — selectMany, fork,
  * explore children (reference dsl/DownSampling.scala:9-56). Deterministic:
  * randomized variants are seeded so replays sample identically.
  */
sealed trait DownSampling extends Serializable {
  def apply[T](xs: Seq[T]): Seq[T]
}

object DownSampling {

  case object Identity extends DownSampling {
    override def apply[T](xs: Seq[T]): Seq[T] = xs
  }

  /** Deterministic head (reference DownSampling.scala:27-33). */
  final case class FirstN(n: Int) extends DownSampling {
    override def apply[T](xs: Seq[T]): Seq[T] = xs.take(n)
  }

  /** Seeded CANONICAL draw of ceil(ratio·n) elements (reference
    * DownsamplingByRatio's contract: a deterministic seeded sample of that
    * exact size). The draw is a pure function of (seed, n, index) — element
    * i is ranked by `md5("seed:n:i")` and the ceil(ratio·n) smallest keys
    * are kept, in original order — so unlike a seeded Fisher–Yates shuffle
    * (arrival-order-opaque) an external engine can replay the kept POSITION
    * set exactly: `row_number() OVER (ORDER BY md5(seed||':'||n||':'||i), i)
    * <= k` in DuckDB, the same lowercase-hex md5 on both sides (the
    * oracle-design doctrine: canonical state beats order-dependent state).
    */
  final case class ByRatio(ratio: Double, seed: Long = 42L) extends DownSampling {
    override def apply[T](xs: Seq[T]): Seq[T] =
      bottomByHash(xs, seed, math.ceil(xs.size * ratio).toInt)
  }

  /** Seeded canonical draw of min(n, size) elements (reference
    * DownsamplingToSize) — the same md5 rank as [[ByRatio]], bottom-n.
    */
  final case class ToSize(n: Int, seed: Long = 42L) extends DownSampling {
    override def apply[T](xs: Seq[T]): Seq[T] = bottomByHash(xs, seed, n)
  }

  /** Keep the k elements whose md5("seed:n:i") hex keys sort smallest
    * (tie-broken by index — unreachable short of an md5 collision), emitted
    * in ORIGINAL index order. Matches DuckDB's md5() byte-for-byte:
    * lowercase hex over the UTF-8 string.
    */
  private def bottomByHash[T](xs: Seq[T], seed: Long, k: Int): Seq[T] =
    if (k >= xs.size) xs
    else if (k <= 0) Seq.empty
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = xs.size
      val keys = xs.indices.map { i =>
        (graft.actions.Trace.hex(md.digest(s"$seed:$n:$i".getBytes("UTF-8"))), i)
      }
      val keep = keys.sorted.take(k).map(_._2).toSet
      xs.indices.collect { case i if keep(i) => xs(i) }
    }
}

/** Engine configuration (reference conf/SpookyConf.scala). Serializable —
  * shipped into executor closures as part of [[graft.exec.Env]].
  *
  * @param cacheEnabled       probe the doc caches before remote fetch
  * @param cacheWrite         write fetched observations to the caches
  * @param dfsCacheDir        second cache tier on (distributed) FS; None = memory only
  * @param docTtlMillis       max age for a cache hit (reference cachedDocsLifeSpan)
  * @param waybackMillis      upper timestamp bound for cache reads — time travel
  *                           (reference actions/Wayback.scala:7-33)
  * @param auditDir           when set, every fetched doc is also saved here
  *                           (reference dirs.auditing auto-save)
  * @param errorDumpDir       when set, failed actions dump their doc here
  * @param remoteRetries      trace-level retry count (reference Trace.fetch retry)
  * @param downSampling       fan-out limiter at selectMany/fork/explore
  * @param maxExploreDepth    hard depth cap (preview mode sets 2)
  * @param blobDir            when set, doc bodies larger than
  *                           `blobOffloadBytes` are written here and rows
  *                           carry only the pointer (reference
  *                           InMemoryBlob/DFSSavedBlob two-level Content) —
  *                           big payloads never travel through shuffles.
  *                           Defaults to `<dfsCacheDir>/blobs` when a DFS
  *                           cache tier is configured (see [[effectiveBlobDir]])
  * @param blobOffloadBytes   inline-body size threshold for offload;
  *                           Long.MaxValue = "unset" → defaults to 1 MiB
  *                           whenever a blob dir is available
  * @param checkpointDir      when set, every lineage cut explore takes
  *                           (one per BFS epoch, which ends after
  *                           [[graft.exec.ExploreExec.LevelsPerEpoch]] levels
  *                           or at the first level that emits no children;
  *                           one per best-first round) is a RELIABLE
  *                           checkpoint here (survives executor loss — the
  *                           fault-tolerant mode for multi-hour crawls;
  *                           reference TemporaryRefs cycle); unset =
  *                           localCheckpoint. The visited-key fold riding
  *                           each cut is always a localCheckpoint
  */
final case class GraftConf(
    cacheEnabled: Boolean = true,
    cacheWrite: Boolean = true,
    dfsCacheDir: Option[String] = None,
    docTtlMillis: Long = Long.MaxValue,
    waybackMillis: Option[Long] = None,
    auditDir: Option[String] = None,
    errorDumpDir: Option[String] = None,
    remoteRetries: Int = 2,
    downSampling: DownSampling = DownSampling.Identity,
    maxExploreDepth: Int = Int.MaxValue,
    validation: graft.doc.DocValidation = graft.doc.DocValidation.StatusCode2XX,
    blobDir: Option[String] = None,
    blobOffloadBytes: Long = Long.MaxValue,
    checkpointDir: Option[String] = None,
    /** Minimum ms between remote fetch STARTS against one host, per
      * executor JVM ([[graft.agent.HostPoliteness]]); 0 = off. Cache hits
      * never wait.
      */
    hostMinIntervalMillis: Long = 0L,
    /** Honor robots.txt on live http(s) fetches ([[graft.agent.RobotsCache]]):
      * one robots fetch per site per executor, disallowed uris become
      * [[graft.doc.DocError]]s without a request, a declared Crawl-delay
      * widens (never narrows) `hostMinIntervalMillis` for that host.
      */
    respectRobots: Boolean = false,
    /** Agent token robots groups match against (REP group selection). */
    robotsUserAgent: String = "graftbot",
    robotsTimeoutMillis: Long = 10000L
) extends Serializable {

  /** Blob store in effect: explicit `blobDir`, else a `blobs/` subdir of the
    * DFS cache tier — so configuring a cache dir alone already gives
    * two-level doc storage (100-TB default: doc bodies never ride shuffles).
    */
  def effectiveBlobDir: Option[String] =
    blobDir.orElse(dfsCacheDir.map(d => d.stripSuffix("/") + "/blobs"))

  /** Offload threshold in effect: explicit value, else 1 MiB whenever a blob
    * dir is available, else disabled.
    */
  def effectiveBlobOffloadBytes: Long =
    if (blobOffloadBytes != Long.MaxValue) blobOffloadBytes
    else if (effectiveBlobDir.isDefined) GraftConf.DefaultBlobOffloadBytes
    else Long.MaxValue
}

object GraftConf {

  /** Default inline-body bound once a blob dir exists: 1 MiB. */
  val DefaultBlobOffloadBytes: Long = 1L << 20

  /** Cheap dry-run of whole pipelines (reference SpookyConf.scala:101-110
    * previewMode: FirstN(1) + depth <= 2).
    */
  def preview: GraftConf =
    GraftConf(downSampling = DownSampling.FirstN(1), maxExploreDepth = 2)
}
