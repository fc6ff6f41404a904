package graft.cache

import graft.conf.GraftConf
import graft.doc.{Doc, Observation}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Two-tier doc cache keyed by canonical backtrace hash (reference
  * caching/AbstractDocCache.scala:60-97, InMemoryDocCache.scala:10-36,
  * DFSDocCache.scala:13-46): a JVM-local memory tier probed first, then a
  * (distributed) filesystem tier shared across executors. Entries are
  * timestamped; reads honor TTL (min age bound) and wayback (max timestamp —
  * time travel).
  */
trait DocCache {

  /** Latest entry for `key` whose timestamp is within
    * `[now - ttl, wayback or now]` (reference AbstractDocCache.scala:69-97).
    */
  def get(key: String, conf: GraftConf, nowMillis: Long): Option[Seq[Observation]]

  def put(key: String, obs: Seq[Observation], timestampMillis: Long): Unit

  protected def inWindow(ts: Long, conf: GraftConf, now: Long): Boolean = {
    // With a wayback pin, TTL is measured backwards from the PINNED time, not
    // real now (reference AbstractDocCache.getTimeRange) — otherwise any pin
    // older than the TTL can never hit and time travel silently re-fetches
    // present-day content.
    val effectiveNow = conf.waybackMillis.getOrElse(now)
    val notExpired = conf.docTtlMillis == Long.MaxValue || ts >= effectiveNow - conf.docTtlMillis
    val notAfterWayback = conf.waybackMillis.forall(ts <= _)
    notExpired && notAfterWayback
  }
}

/** JVM-wide memory tier (reference InMemoryDocCache.scala:10-36). Keeps every
  * timestamped version per key so wayback reads can select older entries.
  *
  * SIZE-BOUNDED (guava, LRU): long-lived executors on a big crawl would
  * otherwise grow this without limit — eviction only costs a DFS-tier or
  * remote re-read. The reference has the same two-tier fallback semantics.
  *
  * DETACHED: `put` stores, and `get` hands out, shallow copies of each
  * [[Doc]] — the body bytes are shared, every lazy view (decoded text,
  * parsed tree, loaded blob body) starts unset. The bound counts entries,
  * not bytes, so storing the instances rows later parse would pin every
  * parsed tree and loaded body for as long as the entry lives.
  */
object InMemoryDocCache extends DocCache {

  /** Max distinct trace keys held per JVM (each may hold several versions). */
  val MaxEntries: Long = 8192L

  /** Newest timestamped versions kept per key: a hot key re-fetched in a
    * TTL=0 loop must not grow its list without bound. Older versions remain
    * readable from the DFS tier (which keeps every version file).
    */
  val MaxVersionsPerKey: Int = 4

  private val store: com.google.common.cache.Cache[String, List[(Long, Seq[Observation])]] =
    com.google.common.cache.CacheBuilder.newBuilder()
      .maximumSize(MaxEntries)
      .build[String, List[(Long, Seq[Observation])]]()

  override def get(key: String, conf: GraftConf, now: Long): Option[Seq[Observation]] =
    Option(store.getIfPresent(key)).flatMap { versions =>
      versions.filter(v => inWindow(v._1, conf, now)).sortBy(-_._1).headOption.map(v => detached(v._2))
    }

  override def put(key: String, obs: Seq[Observation], ts: Long): Unit = {
    val entry = (ts, detached(obs))
    store.asMap().compute(key, (_, old) =>
      (entry :: Option(old).getOrElse(Nil)).sortBy(-_._1).take(MaxVersionsPerKey))
  }

  /** `copy()` shares the body and starts every lazy field unset. */
  private def detached(obs: Seq[Observation]): Seq[Observation] = obs.map {
    case d: Doc => d.copy()
    case other  => other
  }

  def clear(): Unit = store.invalidateAll()
  def size: Int = store.asMap().size()
}

/** Filesystem tier (reference DFSDocCache.scala:13-46): one file per version
  * at `<dir>/<key>/<timestamp>.obs`, java-serialized observations. Works on
  * any Hadoop FS (local, HDFS, S3A); on a real cluster this is the shared
  * tier that makes re-runs fetch zero pages. Loose files are periodically
  * packed into indexed segment files by [[CacheCompactor]] (billions of
  * tiny DFS objects otherwise); reads merge both forms transparently.
  */
final class DfsDocCache(dir: String) extends DocCache with Serializable {

  @transient private lazy val fs: FileSystem =
    new Path(dir).getFileSystem(graft.agent.DocIO.hadoopConf)

  // executor-local dirs (schemeless / file:) read via java.nio — Hadoop's
  // checksummed LocalFileSystem costs ~ms per stat/open, which dominates
  // warm crawls probing thousands of keys; real DFS schemes use Hadoop
  private val localBase: Option[String] = {
    val colon = dir.indexOf(':')
    if (colon < 0) Some(dir)
    else if (dir.startsWith("file:")) Some(dir.stripPrefix("file:"))
    else None
  }

  private def keyDir(key: String) = new Path(dir, key)

  override def get(key: String, conf: GraftConf, now: Long): Option[Seq[Observation]] = {
    // best in-window version across BOTH tiers: loose per-key files (recent
    // writes) and compacted segments ([[CacheCompactor]] pointer writeback).
    // Ties go to the loose file (a re-put after compaction wins).
    val loose: Option[(Long, () => Array[Byte])] = localBase match {
      case Some(base) => getLocal(base, key, conf, now)
      case None       => getHadoop(key, conf, now)
    }
    val packed: Option[(Long, () => Array[Byte])] = SegmentStore.lookup(dir, key)
      .filter(e => inWindow(e.ts, conf, now))
      .sortBy(-_.ts).headOption
      .map(e => (e.ts, () => SegmentStore.read(dir, e)))
    val best = (loose, packed) match {
      case (Some(l), Some(p)) => Some(if (p._1 > l._1) p else l)
      case (l, p)             => l.orElse(p)
    }
    best.flatMap { case (_, thunk) =>
      try Some(deserialize(thunk()))
      catch {
        case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
          // a concurrent CacheCompactor.compact deleted the loose file
          // between the listing and the read — the same observation now
          // lives in a segment, so degrade to a fresh packed-tier lookup
          // (not an error; the reader just raced the compactor). The lookup
          // memoizes per JVM: a reader in a different JVM than the compactor
          // can hold a pre-compaction index that misses the just-packed
          // entry, so drop it first — "fresh" must mean re-read from disk.
          SegmentStore.invalidate(dir)
          SegmentStore.lookup(dir, key)
            .filter(e => inWindow(e.ts, conf, now))
            .sortBy(-_.ts).headOption
            .map(e => deserialize(SegmentStore.read(dir, e)))
      }
    }
  }

  private def getLocal(base: String, key: String, conf: GraftConf,
                       now: Long): Option[(Long, () => Array[Byte])] = {
    val kd = java.nio.file.Paths.get(base, key)
    if (!java.nio.file.Files.isDirectory(kd)) None
    else {
      val stream = java.nio.file.Files.list(kd)
      val versions =
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala
            .flatMap { p =>
              val name = p.getFileName.toString
              if (name.endsWith(".obs"))
                scala.util.Try(name.stripSuffix(".obs").toLong).toOption.map(_ -> p)
              else None
            }
            .filter { case (ts, _) => inWindow(ts, conf, now) }
            .toSeq
        } finally stream.close()
      versions.sortBy(-_._1).headOption.map { case (ts, p) =>
        (ts, () => java.nio.file.Files.readAllBytes(p))
      }
    }
  }

  private def getHadoop(key: String, conf: GraftConf,
                        now: Long): Option[(Long, () => Array[Byte])] = {
    val kd = keyDir(key)
    if (!fs.exists(kd)) None
    else {
      val versions = fs.listStatus(kd).toSeq
        .map(_.getPath)
        .flatMap(p => scala.util.Try(p.getName.stripSuffix(".obs").toLong).toOption.map(_ -> p))
        .filter { case (ts, _) => inWindow(ts, conf, now) }
        .sortBy(-_._1)
      versions.headOption.map { case (ts, p) =>
        (ts, () => {
          val in = fs.open(p)
          try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
          finally in.close()
        })
      }
    }
  }

  override def put(key: String, obs: Seq[Observation], ts: Long): Unit =
    // DocIO fast-paths executor-local dirs via java.nio (Hadoop's checksummed
    // LocalFileSystem costs ~30ms per small file — dominates cold crawls);
    // real DFS schemes take the Hadoop path
    graft.agent.DocIO.writeBytes(keyDir(key).toString, s"$ts.obs", serialize(obs))

  private def serialize(obs: Seq[Observation]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(obs.toList)
    oos.close()
    bos.toByteArray
  }

  private def deserialize(bytes: Array[Byte]): Seq[Observation] = {
    val ois = new ObjectInputStream(new ByteArrayInputStream(bytes))
    try ois.readObject().asInstanceOf[List[Observation]]
    finally ois.close()
  }
}

/** Probe memory first, then DFS (promoting DFS hits to memory); write both
  * (reference Trace.scala:225-251 lookup chain).
  */
object DocCaches {

  def probe(key: String, conf: GraftConf, now: Long): Option[Seq[Observation]] = {
    if (!conf.cacheEnabled) return None
    InMemoryDocCache.get(key, conf, now).orElse {
      conf.dfsCacheDir.flatMap { d =>
        val hit = new DfsDocCache(d).get(key, conf, now)
        hit.foreach(obs => InMemoryDocCache.put(key, obs,
          obs.headOption.map(_.timestampMillis).getOrElse(now)))
        hit
      }
    }
  }

  def write(key: String, obs: Seq[Observation], conf: GraftConf, now: Long): Unit = {
    if (!conf.cacheWrite) return
    // skip caching failed fetches (reference: write-skip on errors)
    if (obs.exists(!_.isSuccess)) return
    InMemoryDocCache.put(key, obs, now)
    conf.dfsCacheDir.foreach(d => new DfsDocCache(d).put(key, obs, now))
  }
}
