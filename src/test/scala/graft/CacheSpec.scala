package graft

import graft.actions._
import graft.api.GraftContext
import graft.cache.{DfsDocCache, InMemoryDocCache}
import graft.conf.GraftConf
import graft.doc.{Doc, DocUID}

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Doc-cache tiers, TTL and wayback (reference InMemoryDocCache/DFSDocCache/
  * AbstractDocCache.scala:60-97) + the BASELINE.md target: a cache-warm second
  * run performs ZERO remote fetches.
  */
class CacheSpec extends AnyFunSuite with BeforeAndAfterEach {

  import SparkFixture._

  override def beforeEach(): Unit = InMemoryDocCache.clear()

  test("second run of the same pipeline fetches 0 pages (memory tier)") {
    val uri = writeFixture("cache1/p.html", "<p>cached</p>")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    def run() = ctx.create(Seq(1, 2, 3)).fetchOne(_ => Trace.of(Wget(s"file:$uri"))).count()
    run()
    assert(ctx.metrics.pagesFetched.value == 1)
    run()
    assert(ctx.metrics.pagesFetched.value == 1) // no new remote fetch
    assert(ctx.metrics.fetchFromCache.value >= 1)
  }

  test("DFS tier survives a memory-cache wipe (cold-JVM / cross-executor analog)") {
    val uri = writeFixture("cache2/p.html", "<p>dfs</p>")
    val cacheDir = scratchDir("dfscache")
    val conf = GraftConf(dfsCacheDir = Some(cacheDir))
    val ctx = new GraftContext(spark, conf)
    import spark.implicits._
    def run() = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri"))).count()
    run()
    assert(ctx.metrics.pagesFetched.value == 1)
    InMemoryDocCache.clear() // simulate a fresh JVM
    run()
    assert(ctx.metrics.pagesFetched.value == 1) // served from the DFS tier
  }

  test("TTL: expired entries are refetched") {
    val key = "ttl-key"
    val doc = Doc(DocUID(key), "u", "x".getBytes("UTF-8"), timestampMillis = 1000L)
    InMemoryDocCache.put(key, Seq(doc), 1000L)
    val freshConf = GraftConf(docTtlMillis = Long.MaxValue)
    val shortTtl = GraftConf(docTtlMillis = 10L)
    val now = 100000L
    assert(InMemoryDocCache.get(key, freshConf, now).isDefined)
    assert(InMemoryDocCache.get(key, shortTtl, now).isEmpty)
  }

  test("wayback: reads pick the latest version at-or-before the pin") {
    val key = "wb-key"
    def doc(ts: Long, body: String) =
      Doc(DocUID(key), "u", body.getBytes("UTF-8"), timestampMillis = ts)
    InMemoryDocCache.put(key, Seq(doc(1000L, "v1")), 1000L)
    InMemoryDocCache.put(key, Seq(doc(2000L, "v2")), 2000L)
    InMemoryDocCache.put(key, Seq(doc(3000L, "v3")), 3000L)
    val now = 5000L
    def readAt(wb: Option[Long]) =
      InMemoryDocCache.get(key, GraftConf(waybackMillis = wb), now)
        .flatMap(_.head.docOpt).map(_.contentStr)
    assert(readAt(None).contains("v3"))
    assert(readAt(Some(2500L)).contains("v2"))
    assert(readAt(Some(1000L)).contains("v1"))
    assert(readAt(Some(500L)).isEmpty)
  }

  test("DfsDocCache round-trips observations with versions") {
    val dir = scratchDir("dfsrt")
    val cache = new DfsDocCache(dir)
    val key = "k1"
    val doc = Doc(DocUID(key), "file:/u", "<p>rt</p>".getBytes("UTF-8"),
      Some("text/html"), metadata = Map("m" -> "1"), timestampMillis = 42L)
    cache.put(key, Seq(doc), 42L)
    cache.put(key, Seq(doc.copy(timestampMillis = 99L)), 99L)
    val got = cache.get(key, GraftConf(), 1000L)
    assert(got.isDefined)
    assert(got.get.head.timestampMillis == 99L)
    assert(got.get.head.docOpt.get.contentStr == "<p>rt</p>")
    val pinned = cache.get(key, GraftConf(waybackMillis = Some(50L)), 1000L)
    assert(pinned.get.head.timestampMillis == 42L)
  }

  test("blob offload: big bodies leave the row, extraction stays transparent") {
    val body = "<html><head><title>BIG</title></head><body>" +
      ("x" * 2000) + "</body></html>"
    val uri = writeFixture("cache3/big.html", body)
    val blobs = scratchDir("blobs")
    val ctx = new GraftContext(spark,
      GraftConf(blobDir = Some(blobs), blobOffloadBytes = 100))
    import spark.implicits._
    val rows = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri"))).collect()
    val doc = rows.head.trajectory.doc.get
    assert(doc.content.isEmpty && doc.contentPtr.isDefined) // pointer, not payload
    assert(doc.root.findOnly("title").text == "BIG")        // lazy load transparent
    assert(new java.io.File(blobs).listFiles().nonEmpty)
    // small docs stay inline
    val small = writeFixture("cache3/small.html", "<p>s</p>")
    val rows2 = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$small"))).collect()
    assert(rows2.head.trajectory.doc.get.contentPtr.isEmpty)
  }

  test("wayback pin older than the TTL still hits: TTL window is relative to the pin") {
    val key = "wb-ttl-key"
    def doc(ts: Long) = Doc(DocUID(key), "u", s"t$ts".getBytes("UTF-8"), timestampMillis = ts)
    InMemoryDocCache.put(key, Seq(doc(600L)), 600L)
    InMemoryDocCache.put(key, Seq(doc(1000L)), 1000L)
    val now = 1000000L // far past: both entries long out of TTL measured from real now
    val conf = GraftConf(docTtlMillis = 500L, waybackMillis = Some(1200L))
    // window is [1200-500, 1200]: ts=1000 hits, ts=600 is expired relative to the pin
    val got = InMemoryDocCache.get(key, conf, now)
    assert(got.isDefined && got.get.head.timestampMillis == 1000L)
    val narrow = GraftConf(docTtlMillis = 100L, waybackMillis = Some(1200L))
    assert(InMemoryDocCache.get(key, narrow, now).isEmpty) // [1100,1200]: nothing
  }

  test("memory tier keeps at most MaxVersionsPerKey newest versions per key") {
    val key = "hot-key"
    def doc(ts: Long) = Doc(DocUID(key), "u", "x".getBytes("UTF-8"), timestampMillis = ts)
    (1L to 20L).foreach(ts => InMemoryDocCache.put(key, Seq(doc(ts)), ts))
    // newest survives; versions older than the newest N are gone
    val newest = InMemoryDocCache.get(key, GraftConf(), 1000L)
    assert(newest.get.head.timestampMillis == 20L)
    val tooOld = InMemoryDocCache.get(key, GraftConf(waybackMillis = Some(5L)), 1000L)
    assert(tooOld.isEmpty, "evicted versions must not be readable")
    val kept = InMemoryDocCache.get(key,
      GraftConf(waybackMillis = Some(20L - InMemoryDocCache.MaxVersionsPerKey + 1)), 1000L)
    assert(kept.isDefined, "the newest N versions must all be readable")
  }

  test("memory tier stores and hands out detached docs: no reader's parsed state is pinned") {
    val key = "detach-key"
    val put = Doc(DocUID(key), "u", "<p>x</p>".getBytes("UTF-8"), Some("text/html"),
      timestampMillis = 7L)
    InMemoryDocCache.put(key, Seq(put), 7L)
    val first = InMemoryDocCache.get(key, GraftConf(), 1000L).get.head
    val second = InMemoryDocCache.get(key, GraftConf(), 1000L).get.head
    // equal docs over the same bytes, but never the instance a reader parses
    assert(first == put && second == put)
    assert(first ne put, "get returned the very instance that was put")
    assert(first ne second, "two gets returned one shared instance")
    assert(first.asInstanceOf[Doc].content eq put.content, "the body bytes are shared, not copied")
  }

  test("blob offload defaults on with a DFS cache dir; warm hits carry pointers") {
    val conf = GraftConf(dfsCacheDir = Some("/tmp/c"))
    assert(conf.effectiveBlobDir.contains("/tmp/c/blobs"))
    assert(conf.effectiveBlobOffloadBytes == GraftConf.DefaultBlobOffloadBytes)
    assert(GraftConf().effectiveBlobDir.isEmpty)
    assert(GraftConf().effectiveBlobOffloadBytes == Long.MaxValue)

    // end-to-end: big doc + DFS cache tier only (no explicit blobDir);
    // cold row AND the cached entry carry pointers, so warm hits do too
    val body = "<html><body>" + ("y" * 2000) + "</body></html>"
    val uri = writeFixture("cache4/bigwarm.html", body)
    val cacheDir = scratchDir("dfscache4")
    val ctx = new GraftContext(spark,
      GraftConf(dfsCacheDir = Some(cacheDir), blobOffloadBytes = 100))
    import spark.implicits._
    def fetchDoc() = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri")))
      .collect().head.trajectory.doc.get
    val cold = fetchDoc()
    assert(cold.content.isEmpty && cold.contentPtr.isDefined)
    val warm = fetchDoc()
    assert(ctx.metrics.pagesFetched.value == 1) // second run was a cache hit
    assert(warm.content.isEmpty && warm.contentPtr.isDefined,
      "warm rows must carry pointers, not re-inlined bodies")
    assert(warm.root.text.contains("yyy")) // lazy blob load still transparent
  }

  test("stale inline cache entry is rewritten with pointers after one warm offload") {
    val body = "<html><body>" + ("z" * 5000) + "</body></html>"
    val uri = writeFixture("cache5/legacy.html", body)
    val cacheDir = scratchDir("dfscache5")
    import spark.implicits._
    // run 1: threshold above the body size => the cached entry is INLINE
    val ctx1 = new GraftContext(spark,
      GraftConf(dfsCacheDir = Some(cacheDir), blobOffloadBytes = 1 << 20))
    ctx1.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri"))).count()
    // run 2: lower threshold => warm hit offloads the stale entry AND must
    // write the pointer-carrying entry back (ADVICE r4)
    InMemoryDocCache.clear()
    val conf2 = GraftConf(dfsCacheDir = Some(cacheDir), blobOffloadBytes = 100)
    val ctx2 = new GraftContext(spark, conf2)
    val warm = ctx2.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri")))
      .collect().head.trajectory.doc.get
    assert(warm.contentPtr.isDefined)
    assert(ctx2.metrics.pagesFetched.value == 0)
    // proof of the writeback: a RAW cache probe (no offload path) now sees
    // the pointer entry, so later hits never re-run the blob write
    InMemoryDocCache.clear()
    val key = Trace.of(Wget(s"file:$uri")).dryRun.head.cacheKey
    val probed = graft.cache.DocCaches
      .probe(key, conf2, System.currentTimeMillis()).get.head
      .asInstanceOf[graft.doc.Doc]
    assert(probed.contentPtr.isDefined,
      "cache entry still inline: every warm hit re-runs the blob write")
    assert(probed.root.text.contains("zzz")) // blob still transparently readable
  }

  test("per-action wayback pins the cache read (overrides conf)") {
    val uri = "file:/wb/page.html"
    val key = Trace.of(Wget(uri)).dryRun.head.cacheKey
    def doc(ts: Long, body: String) =
      Doc(DocUID(key), uri, body.getBytes("UTF-8"), Some("text/html"), timestampMillis = ts)
    InMemoryDocCache.put(key, Seq(doc(1000L, "<p>v1</p>")), 1000L)
    InMemoryDocCache.put(key, Seq(doc(5000L, "<p>v2</p>")), 5000L)
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    def read(wb: Option[Long]) = ctx.create(Seq(0))
      .fetchOne(_ => Trace.of(Wget(uri, wayback = wb)))
      .select(_.trajectory.texts("p").mkString).collect().head
    assert(read(None) == "v2")          // latest
    assert(read(Some(2000L)) == "v1")   // pinned to the older version
    assert(ctx.metrics.pagesFetched.value == 0) // both served from cache
  }

  test("non-HTTP Wpost uploads the entity and is never cached") {
    val target = java.nio.file.Paths.get(scratchDir("upload"), "out.txt")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val t = target.toString
    def run() = ctx.create(Seq(0))
      .fetchOne(_ => Trace.of(Wpost(s"file:$t", entity = "payload"))).count()
    run()
    assert(java.nio.file.Files.readString(target) == "payload")
    java.nio.file.Files.delete(target)
    run() // a cache hit would silently skip the upload — it must re-run
    assert(java.nio.file.Files.readString(target) == "payload")
  }

  test("failed observations are never cached") {
    val ctx = new GraftContext(spark, GraftConf(remoteRetries = 0))
    import spark.implicits._
    def run() = ctx.create(Seq(0))
      .fetchOne(_ => Trace.of(Wget("file:/missing/never.html"))).count()
    run()
    assert(InMemoryDocCache.size == 0)
  }

  // ---- segment compaction (CacheCompactor) ---------------------------------

  private def looseObsFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".obs")).toSeq
  }

  test("compaction: pack/unpack round-trip, version selection, wayback across tiers") {
    val cacheDir = scratchDir("packcache")
    val cache = new DfsDocCache(cacheDir)
    val any = GraftConf()
    def doc(key: String, body: String, ts: Long) =
      Doc(DocUID(key), s"uri-$key", body.getBytes("UTF-8"), timestampMillis = ts)
    // two versions of k1, one of k2
    cache.put("k1", Seq(doc("k1", "v1-old", 1000L)), 1000L)
    cache.put("k1", Seq(doc("k1", "v1-new", 2000L)), 2000L)
    cache.put("k2", Seq(doc("k2", "v2", 1500L)), 1500L)
    assert(looseObsFiles(cacheDir).size == 3)

    val stats = graft.cache.CacheCompactor.compact(cacheDir)
    assert(stats.filesPacked == 3 && stats.segmentsWritten == 1)
    assert(looseObsFiles(cacheDir).isEmpty, "loose files must be retired")

    // round-trip identity through the packed tier
    val k1 = cache.get("k1", any, 5000L).get.head.asInstanceOf[Doc]
    assert(new String(k1.bytes, "UTF-8") == "v1-new")
    val k2 = cache.get("k2", any, 5000L).get.head.asInstanceOf[Doc]
    assert(new String(k2.bytes, "UTF-8") == "v2")
    // wayback pin selects the OLDER packed version
    val pinned = cache.get("k1", GraftConf(waybackMillis = Some(1500L)), 5000L)
    assert(new String(pinned.get.head.asInstanceOf[Doc].bytes, "UTF-8") == "v1-old")
    // TTL still enforced on packed entries
    assert(cache.get("k2", GraftConf(docTtlMillis = 10L), 100000L).isEmpty)

    // new loose write AFTER compaction beats older packed versions...
    cache.put("k1", Seq(doc("k1", "v1-post", 3000L)), 3000L)
    val post = cache.get("k1", any, 5000L).get.head.asInstanceOf[Doc]
    assert(new String(post.bytes, "UTF-8") == "v1-post")
    // ...and a second compaction packs it into a second segment
    val stats2 = graft.cache.CacheCompactor.compact(cacheDir)
    assert(stats2.filesPacked == 1 && stats2.segmentsWritten == 1)
    assert(looseObsFiles(cacheDir).isEmpty)
    val again = cache.get("k1", any, 5000L).get.head.asInstanceOf[Doc]
    assert(new String(again.bytes, "UTF-8") == "v1-post")
    // idempotent: nothing loose, nothing packed
    assert(graft.cache.CacheCompactor.compact(cacheDir).filesPacked == 0)
  }

  test("reader racing the compactor: vanished loose file degrades to the packed segment") {
    val cacheDir = scratchDir("racecache")
    val cache = new DfsDocCache(cacheDir)
    val any = GraftConf()
    val doc = Doc(DocUID("k"), "uri-k", "packed".getBytes("UTF-8"), timestampMillis = 1000L)
    cache.put("k", Seq(doc), 1000L)
    graft.cache.CacheCompactor.compact(cacheDir)
    // simulate the compaction race: a loose .obs that the directory listing
    // still returns but whose bytes are gone by read time (a broken symlink
    // behaves exactly like a file deleted between list and open)
    val kd = java.nio.file.Paths.get(cacheDir, "k")
    java.nio.file.Files.createDirectories(kd)
    java.nio.file.Files.createSymbolicLink(
      kd.resolve("2000.obs"), kd.resolve("gone-by-read-time.obs"))
    // the newer loose version wins the tier merge, its read fails, and the
    // get must fall back to the packed copy instead of escaping the error
    val got = cache.get("k", any, 5000L)
    assert(got.isDefined, "compaction race must degrade to a re-read, not an error")
    assert(new String(got.get.head.asInstanceOf[Doc].bytes, "UTF-8") == "packed")
  }

  test("warm re-crawl from a fully compacted cache fetches 0 pages") {
    val uri = writeFixture("cache5/p.html", "<p>packed</p>")
    val cacheDir = scratchDir("packcache2")
    val conf = GraftConf(dfsCacheDir = Some(cacheDir))
    val ctx = new GraftContext(spark, conf)
    import spark.implicits._
    def run() = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri"))).count()
    run()
    assert(ctx.metrics.pagesFetched.value == 1)
    graft.cache.CacheCompactor.compact(cacheDir)
    assert(looseObsFiles(cacheDir).isEmpty)
    InMemoryDocCache.clear() // fresh-JVM analog: only the packed tier remains
    run()
    assert(ctx.metrics.pagesFetched.value == 1, "warm run must fetch nothing")
    val hit = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri")))
      .collect().head.trajectory.doc.get
    assert(hit.root.text.contains("packed"))
  }
}
