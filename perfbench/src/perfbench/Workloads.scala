package perfbench

import graft.actions.{Snapshot, Submit, TextInput, Trace, Visit, Wget}
import graft.agent.{BrowserDriver, DriverFactory, RemoteWebDriverFactory, W3CStubServer}
import graft.api.GraftContext
import graft.cache.{DfsDocCache, InMemoryDocCache, SegmentStore}
import graft.conf.GraftConf
import graft.doc.Doc
import graft.exec.{ExploredRow, FetchedRow}

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

/** Parse and select time measured inside the benchmark's own lambdas. The
  * first `.root` access of a doc is its parse; selector calls after it are
  * the select. Off unless the repetition is traced.
  */
object DocProbe {
  val parseNanos = new LongAdder
  val selectNanos = new LongAdder
  val parsedBytes = new LongAdder
  val parses = new LongAdder

  def reset(): Unit = Seq(parseNanos, selectNanos, parsedBytes, parses).foreach(_.reset())

  def parse(docs: Seq[Doc]): Unit =
    if (!Spans.on) docs.foreach(_.root)
    else {
      val t0 = System.nanoTime(); val u0 = Spans.nowUs()
      docs.foreach(_.root)
      parseNanos.add(System.nanoTime() - t0)
      parses.add(docs.size)
      docs.foreach(d => parsedBytes.add(d.bytes.length))
      Spans.inTask("parse", "root", u0, Spans.nowUs())
    }

  def select[T](f: => T): T =
    if (!Spans.on) f
    else {
      val t0 = System.nanoTime(); val u0 = Spans.nowUs()
      try f
      finally {
        selectNanos.add(System.nanoTime() - t0)
        Spans.inTask("select", "findAll", u0, Spans.nowUs())
      }
    }

  def layers: Map[String, Double] = {
    val s = parseNanos.sum / 1e9
    val mb = parsedBytes.sum / 1048576.0
    Map("doc.parse_s" -> s, "doc.select_s" -> selectNanos.sum / 1e9, "doc.parsed_mb" -> mb,
      "doc.parses" -> parses.sum.toDouble, "doc.parse_mb_per_s" -> (if (s > 0) mb / s else 0.0))
  }
}

// ------------------------------------------------------------------ crawls

/** Lambdas shipped into explore; kept in an object so they capture nothing. */
object CrawlFns {
  val emitted = new LongAdder

  def expand(r: FetchedRow[String]): Seq[(Trace, String)] = {
    val docs = r.trajectory.docs
    DocProbe.parse(docs)
    val hrefs = DocProbe.select(docs.flatMap(_.root.findAll("a")).flatMap(_.href))
    emitted.add(hrefs.size)
    hrefs.map(h => (Trace.of(Wget(h)), h))
  }

  def extract(r: ExploredRow[String]): (String, Int, String) = {
    val docs = r.row.trajectory.docs
    DocProbe.parse(docs)
    val title = DocProbe.select(docs.flatMap(_.root.findAll("title")).headOption.map(_.text.trim))
    (r.row.data, r.depth, title.getOrElse(""))
  }
}

/** BFS crawl of a [[Site]] served over loopback HTTP, into a fresh DFS cache
  * dir each repetition.
  */
final class CrawlInstance(spark: SparkSession, seed: Long, dir: Path) extends Instance {
  import Crawl._

  private val site = new Site(N, seed, MedianBytes, TailPages, TailBytes)
  private val server = new SiteServer(site.serve, DelayMs).start()
  private val seedUrl = s"${server.base}/p0.html"
  private val urlIdx: Map[String, Int] =
    (0 until N).iterator.map(i => s"${server.base}/p$i.html" -> i).toMap

  private var ctx: GraftContext = _
  private var cacheDir: Path = _
  private var out: Array[(String, Int, String)] = Array.empty
  private val amplification = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def crawl(c: GraftContext): Array[(String, Int, String)] = {
    implicit val s: Encoder[String] = Encoders.STRING
    val view = Spans.driver("call", "build: create + explore") {
      c.create(Seq(seedUrl)).explore(u => Trace.of(Wget(u)))(CrawlFns.expand)
    }
    Spans.driver("call", "action: select + collect") {
      view.select(CrawlFns.extract)(
        Encoders.tuple(Encoders.STRING, Encoders.scalaInt, Encoders.STRING)).collect().toArray
    }
  }

  private def newContext(d: Path): GraftContext = {
    InMemoryDocCache.clear()
    SegmentStore.invalidate(d.toString)
    new GraftContext(spark, GraftConf(dfsCacheDir = Some(d.toString)))
  }

  override def items: Long = N

  override def inputs: Map[String, Any] = Map(
    "pages" -> N, "links" -> site.linkCount, "mean_in_links" -> site.linkCount.toDouble / N,
    "max_depth" -> site.depth.max, "site_bytes" -> site.totalBytes,
    "median_page_bytes" -> MedianBytes, "page_size" -> "log-normal, sigma 0.6",
    "graph" -> "binary-tree spine, one next-level and one back link per page",
    "pages_over_1MiB" -> TailPages, "delay_ms" -> DelayMs)

  override def prepare(rep: Int, traced: Boolean): Unit = {
    if (cacheDir != null) Main.deleteTree(cacheDir)
    cacheDir = dir.resolve(s"cache-$rep")
    ctx = newContext(cacheDir)
    server.resetCounters()
    DocProbe.reset()
    CrawlFns.emitted.reset()
  }

  override def run(rep: Int): Unit = out = crawl(ctx)

  override def check(rep: Int): Seq[String] = {
    val m = ctx.metrics
    val bad = Seq.newBuilder[String]
    if (out.length != N) bad += s"visited ${out.length} pages, expected $N"
    val seen = new java.util.BitSet(N)
    out.foreach { case (url, depth, title) =>
      urlIdx.get(url) match {
        case None => bad += s"unknown url $url"
        case Some(i) =>
          if (seen.get(i)) bad += s"page $i visited twice"
          seen.set(i)
          if (depth != site.depth(i)) bad += s"page $i depth $depth, BFS says ${site.depth(i)}"
          if (title != s"p$i") bad += s"page $i title '$title'"
      }
    }
    if (m.pagesFetched.value != N) bad += s"pagesFetched ${m.pagesFetched.value}, expected $N"
    if (server.requests.get != N) bad += s"server saw ${server.requests.get} requests, expected $N"
    if (m.errors.value != 0 || server.errors.get != 0)
      bad += s"errors: engine ${m.errors.value}, server ${server.errors.get}"
    val r = bad.result()
    if (r.isEmpty) amplification += Main.treeBytes(cacheDir)._2.toDouble / site.totalBytes
    r
  }

  override def census: Map[String, Long] = Map(
    "rounds" -> ctx.metrics.exploreRounds.value, "pages_fetched" -> ctx.metrics.pagesFetched.value,
    "http_requests" -> server.requests.get, "cache_hits" -> ctx.metrics.fetchFromCache.value,
    "cache_writes" -> ctx.metrics.cacheWrites.value)

  override def layers(rep: Int, traced: Boolean, wallS: Double, bucket: Bucket): Map[String, Double] = {
    val m = ctx.metrics
    val exec = m.traceExecutions.value.toDouble
    val requested = CrawlFns.emitted.sum + 1.0
    val (files, bytes) = Main.treeBytes(cacheDir)
    val probes = probeCache()
    Map(
      "exec.trace_executions" -> exec, "exec.rows_requested" -> requested,
      "exec.dedup_ratio" -> (if (exec > 0) requested / exec else 0.0),
      "exec.rounds" -> m.exploreRounds.value.toDouble,
      "agent.pages_fetched" -> m.pagesFetched.value.toDouble,
      "agent.http_requests" -> server.requests.get.toDouble,
      "agent.requests_per_page" -> server.requests.get.toDouble / N,
      "agent.bytes_served_mb" -> server.bytesServed.get / 1048576.0,
      "agent.inflight_mean" -> server.residenceNanos.get / 1e9 / wallS,
      "agent.inflight_max" -> server.inflightMax.get.toDouble,
      "agent.errors" -> (server.errors.get + m.errors.value).toDouble,
      "cache.hits" -> m.fetchFromCache.value.toDouble,
      "cache.writes" -> m.cacheWrites.value.toDouble,
      "cache.hit_ratio" -> (if (exec > 0) m.fetchFromCache.value / exec else 0.0),
      "cache.files" -> files.toDouble, "cache.bytes_mb" -> bytes / 1048576.0,
      "cache.store_amplification" -> bytes.toDouble / site.totalBytes,
      "cache.probe_us_p50" -> Stats.quantile(probes, 0.5),
      "cache.probe_us_p99" -> Stats.quantile(probes, 0.99)
    ) ++ DocProbe.layers
  }

  /** `DfsDocCache.get` replayed over a seeded sample of page keys, in µs. */
  private def probeCache(): Seq[Double] = {
    val cache = new DfsDocCache(cacheDir.toString)
    val conf = GraftConf(dfsCacheDir = Some(cacheDir.toString))
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val now = System.currentTimeMillis()
    (1 to ProbeKeys).map { _ =>
      val key = Trace.of(Wget(s"${server.base}/p${rnd.nextInt(N)}.html")).cacheKey
      val t0 = System.nanoTime()
      val hit = cache.get(key, conf, now)
      val us = (System.nanoTime() - t0) / 1e3
      require(hit.isDefined, s"cache probe missed $key")
      us
    }
  }

  override def itemName: String = "pages"

  override def report: Map[String, (Any, String)] =
    Map("store_amplification" -> (Stats.median(amplification.toSeq), "disk bytes/page bytes"))

  override def close(): Unit = {
    server.stop()
    InMemoryDocCache.clear()
  }
}

object Crawl {
  val N = 511 // nine full tree levels
  val DelayMs = 5
  val MedianBytes = 8192
  val TailPages = 1
  val TailBytes: Int = (1 << 20) + 4096
  val ProbeKeys = 256

  object Cold extends Workload {
    val name = "crawl_cold"
    /** Three fit in the warm-up time on an idle 4-core VM; the fourth and
      * later ones still gain 5–10%.
      */
    override val minWarmups = 4
    def setup(spark: SparkSession, seed: Long, dir: Path): Instance =
      new CrawlInstance(spark, seed, dir)
  }
}

// ---------------------------------------------------------------- browser

/** Wire-client timings seen through a wrapping [[DriverFactory]]: each
  * browser command, and each rollout from `create()` to `close()`.
  */
object Wire {
  val cmdNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  val rolloutNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  def reset(): Unit = { cmdNanos.clear(); rolloutNanos.clear() }
  def cmds: Seq[Double] = cmdNanos.asScala.map(_ / 1e6).toSeq
  def rollouts: Seq[Double] = rolloutNanos.asScala.map(_ / 1e6).toSeq
}

final case class TimedFactory(inner: DriverFactory) extends DriverFactory {
  override def create(): BrowserDriver = {
    val t0 = System.nanoTime()
    new TimedDriver(inner.create(), t0)
  }
}

final class TimedDriver(d: BrowserDriver, created: Long) extends BrowserDriver {
  private def cmd[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val u0 = if (Spans.on) Spans.nowUs() else 0L
    try f
    finally {
      Wire.cmdNanos.add(System.nanoTime() - t0)
      if (Spans.on) Spans.inTask("wire", name, u0, Spans.nowUs())
    }
  }
  override def visit(uri: String): Unit = cmd("visit")(d.visit(uri))
  override def click(selector: String): Unit = cmd("click")(d.click(selector))
  override def clickNext(selector: String, exclude: Seq[String]): Unit =
    cmd("clickNext")(d.clickNext(selector, exclude))
  override def textInput(selector: String, text: String): Unit =
    cmd("textInput")(d.textInput(selector, text))
  override def submit(selector: String): Unit = cmd("submit")(d.submit(selector))
  override def dropDownSelect(selector: String, value: String): Unit =
    cmd("dropDownSelect")(d.dropDownSelect(selector, value))
  override def toFrame(selector: String): Unit = cmd("toFrame")(d.toFrame(selector))
  override def exeScript(script: String): Unit = cmd("exeScript")(d.exeScript(script))
  override def dragSlider(selector: String, percentage: Double): Unit =
    cmd("dragSlider")(d.dragSlider(selector, percentage))
  override def waitFor(selector: String, timeoutMillis: Long): Unit =
    cmd("waitFor")(d.waitFor(selector, timeoutMillis))
  override def currentUri: String = cmd("currentUri")(d.currentUri)
  override def pageSource: String = cmd("pageSource")(d.pageSource)
  override def screenshot: Array[Byte] = cmd("screenshot")(d.screenshot)
  override def close(): Unit =
    try cmd("close")(d.close())
    finally Wire.rolloutNanos.add(System.nanoTime() - created)
}

object BrowserFns {
  val Host = "http://forms.test"

  /** The value the echo page shows for form `i` submitted with `v`. */
  def echo(i: Int, v: String): String = s"${v.reverse}-${(i * 7919L + v.hashCode) & 0xffffL}"

  /** The page at request target `/form<i>` or `/echo<i>?q=<v>`. */
  def page(target: String): Option[String] = {
    val path = target.stripPrefix("/")
    if (path.startsWith("form")) {
      scala.util.Try(path.stripPrefix("form").toInt).toOption.map { i =>
        s"""<html><head><title>form $i</title></head><body>
           |<form action="$Host/echo$i"><input name="q" type="text"/></form>
           |</body></html>""".stripMargin
      }
    } else if (path.startsWith("echo")) {
      val q = path.indexOf("?q=")
      if (q < 0) None
      else scala.util.Try(path.substring(4, q).toInt).toOption.map { i =>
        val v = path.substring(q + 3)
        s"""<html><head><title>echo $i</title></head><body><p>${echo(i, v)}</p></body></html>"""
      }
    } else None
  }

  /** A page load by the remote end: an HTTP GET of `Host`'s page from the
    * site server at `base`; None on a 404.
    */
  def load(base: String, uri: String): Option[String] = {
    val conn = new java.net.URL(base + uri.stripPrefix(Host)).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    if (conn.getResponseCode == 200) {
      val in = conn.getInputStream
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } else {
      Option(conn.getErrorStream).foreach(_.close())
      None
    }
  }

  def trace(row: String): Trace = {
    val Array(i, v) = row.split(":", 2)
    Trace.of(Visit(s"$Host/form$i"), Snapshot(), TextInput("input", v), Submit("form"), Snapshot())
  }

  def extract(r: FetchedRow[String]): (String, String) = {
    val docs = r.trajectory.docs
    DocProbe.parse(docs)
    val shown = DocProbe.select(docs.lastOption.flatMap(_.root.findAll("p").headOption)
      .map(_.text.trim))
    (r.data, shown.getOrElse(""))
  }
}

/** `fetchOne` of Visit → Snapshot → TextInput → Submit → Snapshot traces over
  * the W3C wire client against the in-JVM stub remote end; each distinct
  * trace is requested `K` times, so Wide dedup must run it once. The remote
  * end loads each page (the form on Visit, the echo on Submit) over HTTP
  * from a [[SiteServer]] that answers as the crawl's does.
  */
final class BrowserInstance(spark: SparkSession, seed: Long) extends Instance {
  import BrowserRollout._

  private val site = new SiteServer(
    t => BrowserFns.page(t).map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
    Crawl.DelayMs).start()
  private val stub = new W3CStubServer(u => BrowserFns.load(site.base, u)).start()
  private val factory = TimedFactory(RemoteWebDriverFactory(stub.endpoint))
  private val rows: Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val distinct = (0 until Distinct).map { i =>
      s"$i:${Words.bank(rnd.nextInt(Words.bank.length))}${rnd.nextInt(1000)}"
    }
    rnd.shuffle(distinct.flatMap(r => Seq.fill(K)(r)))
  }
  private var ctx: GraftContext = _
  private var out: Array[(String, String)] = Array.empty
  private var wireBefore = 0L
  private var tracedRep = false
  private var runS = 0.0
  private val rolloutMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val loadShare = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val slots = spark.sparkContext.defaultParallelism

  override def items: Long = Distinct

  override def inputs: Map[String, Any] = Map("distinct_traces" -> Distinct, "dup_factor_k" -> K,
    "rows" -> rows.size, "trace" -> "Visit, Snapshot, TextInput, Submit, Snapshot",
    "page_loads_per_rollout" -> 2, "page_load_delay_ms" -> Crawl.DelayMs)

  override def prepare(rep: Int, traced: Boolean): Unit = {
    InMemoryDocCache.clear()
    Wire.reset()
    DocProbe.reset()
    wireBefore = stub.requestCount.get
    site.resetCounters()
    tracedRep = traced
    ctx = new GraftContext(spark, GraftConf(), Some(factory))
  }

  override def run(rep: Int): Unit = {
    implicit val s: Encoder[String] = Encoders.STRING
    val t0 = System.nanoTime()
    val view = Spans.driver("call", "build: create + fetchOne + select") {
      ctx.create(rows).fetchOne(BrowserFns.trace).select(BrowserFns.extract)(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
    }
    out = Spans.driver("call", "action: collect")(view.collect().toArray)
    runS = (System.nanoTime() - t0) / 1e9
  }

  override def check(rep: Int): Seq[String] = {
    val m = ctx.metrics
    val bad = Seq.newBuilder[String]
    if (out.length != rows.size) bad += s"${out.length} rows, expected ${rows.size}"
    out.foreach { case (row, shown) =>
      val Array(i, v) = row.split(":", 2)
      val want = BrowserFns.echo(i.toInt, v)
      if (shown != want) bad += s"row $row shows '$shown', expected '$want'"
    }
    if (m.pagesFetched.value != 2L * Distinct)
      bad += s"pagesFetched ${m.pagesFetched.value}, expected ${2 * Distinct}"
    if (m.traceExecutions.value != Distinct)
      bad += s"traceExecutions ${m.traceExecutions.value}, expected $Distinct"
    if (stub.openSessions != 0) bad += s"${stub.openSessions} W3C sessions left open"
    if (m.errors.value != 0) bad += s"${m.errors.value} engine errors"
    if (site.requests.get != 2L * Distinct || site.errors.get != 0)
      bad += s"site served ${site.requests.get} page loads with ${site.errors.get} errors, " +
        s"expected ${2 * Distinct}"
    if (Wire.rolloutNanos.size != Distinct)
      bad += s"${Wire.rolloutNanos.size} rollouts, expected $Distinct"
    val r = bad.result()
    // latency samples come from timed (rep > 0), untraced repetitions only
    if (r.isEmpty && rep > 0 && !tracedRep) {
      rolloutMs ++= Wire.rollouts
      loadShare += site.residenceNanos.get / 1e9 / (runS * slots)
    }
    r
  }

  override def census: Map[String, Long] = Map(
    "trace_executions" -> ctx.metrics.traceExecutions.value,
    "pages_fetched" -> ctx.metrics.pagesFetched.value,
    "wire_requests" -> (stub.requestCount.get - wireBefore),
    "page_loads" -> site.requests.get)

  override def layers(rep: Int, traced: Boolean, wallS: Double, bucket: Bucket): Map[String, Double] = {
    val m = ctx.metrics
    val exec = m.traceExecutions.value.toDouble
    val cmds = Wire.cmds
    val rolls = Wire.rollouts
    Map(
      "exec.trace_executions" -> exec, "exec.rows_requested" -> rows.size.toDouble,
      "exec.dedup_ratio" -> (if (exec > 0) rows.size / exec else 0.0),
      "agent.pages_fetched" -> m.pagesFetched.value.toDouble,
      "agent.errors" -> (m.errors.value + site.errors.get).toDouble,
      "agent.http_requests" -> site.requests.get.toDouble,
      "agent.requests_per_page" -> site.requests.get.toDouble / math.max(1L, m.pagesFetched.value),
      "agent.bytes_served_mb" -> site.bytesServed.get / 1048576.0,
      "agent.inflight_mean" -> site.residenceNanos.get / 1e9 / wallS,
      "agent.inflight_max" -> site.inflightMax.get.toDouble,
      "agent.wire_requests_per_rollout" -> (stub.requestCount.get - wireBefore).toDouble / Distinct,
      "agent.wire_cmd_ms_p50" -> Stats.quantile(cmds, 0.5),
      "agent.wire_cmd_ms_p99" -> Stats.quantile(cmds, 0.99),
      "agent.sessions_open_after" -> stub.openSessions.toDouble,
      "agent.rollouts" -> rolls.size.toDouble,
      "agent.rollout_p50_ms" -> Stats.quantile(rolls, 0.5),
      "agent.rollout_p99_ms" -> Stats.quantile(rolls, 0.99),
      "cache.hits" -> m.fetchFromCache.value.toDouble,
      "cache.writes" -> m.cacheWrites.value.toDouble,
      "cache.hit_ratio" -> (if (exec > 0) m.fetchFromCache.value / exec else 0.0)
    ) ++ DocProbe.layers
  }

  override def itemName: String = "rollouts"

  /** Rollout latency: median and the highest percentile with at least ten
    * samples beyond it. `page_load_share`: the median share of a
    * repetition's task-slot time spent waiting on page loads.
    */
  override def report: Map[String, (Any, String)] = {
    val n = rolloutMs.size
    val tail = if (n >= 1000) 99 else math.max(50, (100 * (1 - 10.0 / math.max(n, 1))).toInt)
    Map("rollout_p50_ms" -> (Stats.quantile(rolloutMs.toSeq, 0.5), "ms"),
      s"rollout_p${tail}_ms" -> (Stats.quantile(rolloutMs.toSeq, tail / 100.0), "ms"),
      "rollout_samples" -> (n, "count"),
      "page_load_share" -> (Stats.median(loadShare.toSeq), "load time/(wall x slots)"))
  }

  override def close(): Unit = {
    stub.stop()
    site.stop()
    InMemoryDocCache.clear()
  }
}

object BrowserRollout extends Workload {
  val name = "browser_rollout"
  /** Four fit in the warm-up time on an idle 4-core VM; later ones still
    * gain, and more so on a slowed host.
    */
  override val minWarmups = 6
  val Distinct = 384
  val K = 4
  def setup(spark: SparkSession, seed: Long, dir: Path): Instance = new BrowserInstance(spark, seed)
}
