package graft

import graft.actions._
import graft.api.GraftContext
import graft.cache.InMemoryDocCache
import graft.conf.GraftConf

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach}
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

/** Real-HTTP paths (Wget http, Wpost, OAuth header) against a localhost JDK
  * HttpServer — the same role as the reference's Jetty TestSiteServer
  * (integration ITBaseSpec).
  */
class HttpSpec extends AnyFunSuite with BeforeAndAfterAll with BeforeAndAfterEach {

  import SparkFixture._

  private var server: HttpServer = _
  private var port: Int = 0
  private def base = s"http://127.0.0.1:$port"

  override def beforeEach(): Unit = InMemoryDocCache.clear()

  override def beforeAll(): Unit = {
    // wildcard bind: the whole 127/8 block is loopback, so 127.0.0.2,
    // 127.0.0.3, ... reach this same server as DISTINCT logical hosts —
    // what the host-layout + politeness tests key on
    // TCP_NODELAY on accepted sockets (see EngineQ.stubServer)
    graft.agent.HttpTuning()
    server = HttpServer.create(new InetSocketAddress(0), 0)
    port = server.getAddress.getPort
    def respond(ex: HttpExchange, code: Int, body: String, mime: String = "text/html"): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", mime)
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/page", (ex: HttpExchange) =>
      respond(ex, 200, "<html><head><title>HTTP OK</title></head><body><p>served</p></body></html>"))
    server.createContext("/echo", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      respond(ex, 200, s"""{"method":"${ex.getRequestMethod}","body":"$body"}""",
        "application/json")
    })
    server.createContext("/missing", (ex: HttpExchange) => respond(ex, 404, "gone"))
    server.createContext("/latin", (ex: HttpExchange) => {
      // ISO-8859-1 page whose charset only the header declares
      val bytes = "<html><body><p>café crème</p></body></html>"
        .getBytes(StandardCharsets.ISO_8859_1)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=ISO-8859-1")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.createContext("/hang", (ex: HttpExchange) => {
      try Thread.sleep(20000) catch { case _: InterruptedException => () }
      try respond(ex, 200, "late") catch { case _: Throwable => () }
    })
    server.createContext("/oauth", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      """oauth_nonce="([^"]+)"""".r.findFirstMatchIn(auth)
        .foreach(m => HttpSpec.nonces.add(m.group(1)))
      if (auth.startsWith("OAuth ") && auth.contains("oauth_signature="))
        respond(ex, 200, "<p>authorized</p>")
      else respond(ex, 401, "unauthorized")
    })
    server.createContext("/timed", (ex: HttpExchange) => {
      HttpSpec.arrivals.add(System.currentTimeMillis())
      respond(ex, 200, "<p>t</p>")
    })
    server.createContext("/hosted", (ex: HttpExchange) => {
      val host = Option(ex.getRequestHeaders.getFirst("Host")).getOrElse("?")
        .takeWhile(_ != ':')
      HttpSpec.hostArrivals.add(host -> System.currentTimeMillis())
      respond(ex, 200, "<p>h</p>")
    })
    server.createContext("/post-once", (ex: HttpExchange) => {
      if (ex.getRequestMethod == "POST") HttpSpec.postHits.incrementAndGet()
      respond(ex, 200, "<p>posted</p>")
    })
    server.createContext("/robots.txt", (ex: HttpExchange) => {
      HttpSpec.robotsHits.incrementAndGet()
      respond(ex, 200,
        "User-agent: *\nDisallow: /blocked\n\n" +
          "User-agent: delaybot\nDisallow: /blocked\nCrawl-delay: 0.25\n",
        "text/plain")
    })
    server.createContext("/blocked", (ex: HttpExchange) => {
      HttpSpec.blockedHits.incrementAndGet()
      respond(ex, 200, "<p>must never be served to a compliant crawler</p>")
    })
    server.createContext("/site", (ex: HttpExchange) => {
      val p = ex.getRequestURI.getPath
      if (p.endsWith("/a.html"))
        respond(ex, 200, "<html><head><title>A</title></head><body>" +
          "<a href=\"/site/b.html\">b</a> <a href=\"/blocked/c.html\">c</a></body></html>")
      else if (p.endsWith("/links.html"))
        respond(ex, 200, "<html><head><title>L</title></head><body>" +
          "<a href=\"/page?b=2&amp;a=1\">one</a> <a href=\"/page?a=1&amp;b=2#f\">two</a></body></html>")
      else respond(ex, 200, "<html><head><title>B</title></head><body>leaf</body></html>")
    })
    server.start()
    delayed = new DelayedServer(delayMs = 50L)
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    if (delayed != null) delayed.stop()
  }

  /** Timer-delayed loopback server for the fetch pipeline cases. */
  private var delayed: DelayedServer = _

  test("Wget over HTTP: content, mime from header, dedup still applies") {
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val pageUri = s"$base/page"
    val view = ctx.create(Seq(1, 2, 3)).fetchOne(_ => Trace.of(Wget(pageUri)))
    val titles = view.select(_.trajectory.texts("title").mkString).collect()
    assert(titles == Seq("HTTP OK", "HTTP OK", "HTTP OK"))
    assert(view.dataset.head().trajectory.doc.get.mime == "text/html")
    assert(ctx.metrics.pagesFetched.value == 1)
  }

  test("HTTP charset header drives decoding end-to-end (non-UTF-8 page)") {
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val uri = s"$base/latin"
    val doc = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(uri)))
      .collect().head.trajectory.doc.get
    assert(doc.charset.equalsIgnoreCase("ISO-8859-1"))
    assert(doc.root.findOnly("p").text == "café crème")
  }

  test("HTTP 4xx fails StatusCode2XX validation into the error path") {
    val ctx = new GraftContext(spark, GraftConf(remoteRetries = 0))
    import spark.implicits._
    val missingUri = s"$base/missing"
    val rows = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(missingUri))).collect()
    assert(rows.head.trajectory.failed.nonEmpty)
  }

  test("Wpost sends the entity; response is parsed as JSON") {
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val echoUri = s"$base/echo"
    val got = ctx.create(Seq("payload42"))
      .fetchOne(p => Trace.of(Wpost(echoUri, entity = p)))
      .select(r => (r.trajectory.doc.get.root.children("method").head.text,
        r.trajectory.doc.get.root.children("body").head.text))
      .collect().head
    assert(got == ("POST", "payload42"))
  }

  test("ByHost layout: each host's fetches co-locate into <= salt slots; dedup and spacing hold") {
    graft.agent.HostPoliteness.clear()
    HttpSpec.hostArrivals.clear()
    // cache ON (the default): subsequent actions on the fetched dataset
    // replay from the doc cache instead of refetching — the arrival log
    // must only see the FIRST execution's 4 requests per host
    val ctx = new GraftContext(spark, GraftConf(hostMinIntervalMillis = 100))
    import spark.implicits._
    // 3 logical hosts (loopback aliases of the wildcard-bound server) x 4
    // distinct pages each; every url appears twice across 16 input slices
    val urls = for (h <- 2 to 4; p <- 0 until 4) yield s"http://127.0.0.$h:$port/hosted?p=$p"
    val view = ctx.create((urls.indices ++ urls.indices).toSeq, numSlices = 16)
      .fetchOne(i => Trace.of(Wget(urls(i))),
        layout = graft.exec.FetchLayout.ByHost(1))
    assert(view.count() == 24)
    // dedup is untouched by placement: 24 rows, 12 distinct traces
    assert(ctx.metrics.pagesFetched.value == 12)
    // co-location (what makes per-JVM politeness cluster-global): the
    // output partition IS the execution partition, and each host must
    // occupy exactly one of them under salt = 1
    val hostParts = view.dataset.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.map(r => (graft.agent.HostPoliteness.hostOf(r.trace.primaryUri.get).get, pid))
    }.distinct().collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(hostParts.keySet == Set("127.0.0.2", "127.0.0.3", "127.0.0.4"))
    assert(hostParts.values.forall(_.size == 1),
      s"a host spread past its salt budget: $hostParts")
    // the limiter composes with the layout: per-host arrival SPAN (the
    // span-not-gaps form of the dedicated politeness test — individual
    // gaps can compress when an early arrival lags under load, the span
    // of 4 spaced starts cannot fall below 3 x interval)
    import scala.jdk.CollectionConverters._
    val byHost = HttpSpec.hostArrivals.asScala.toSeq.groupBy(_._1)
    byHost.values.foreach { arr =>
      val ts = arr.map(_._2).sorted
      assert(ts.size == 4)
      assert(ts.last - ts.head >= 3 * 100 - 20,
        s"4 same-host fetches arrived within ${ts.last - ts.head} ms")
    }
    // salt = 2 trades rate for throughput: each host spans at most 2 slots
    val view2 = ctx.create(urls.indices.toSeq, numSlices = 16)
      .fetchOne(i => Trace.of(Wget(urls(i))),
        layout = graft.exec.FetchLayout.ByHost(2))
    assert(view2.count() == 12)
    val parts2 = view2.dataset.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.map(r => (graft.agent.HostPoliteness.hostOf(r.trace.primaryUri.get).get, pid))
    }.distinct().collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(parts2.values.forall(_.size <= 2))
  }

  test("explore under ByHost(1): each level's same-host fetches co-locate into one task slot; spacing holds") {
    graft.agent.HostPoliteness.clear()
    HttpSpec.hostArrivals.clear()
    val ctx = new GraftContext(spark, GraftConf(hostMinIntervalMillis = 100))
    import spark.implicits._
    // 3 logical hosts; each seed (depth 0) links to 4 same-host pages
    // (depth 1) — the host-skewed shape where trace-key placement would
    // scatter one host's frontier over every task slot
    val hosts = (2 to 4).map(h => s"127.0.0.$h")
    val prt = port // local copy: the explore closures must not capture `this`
    val url = (h: String, p: String) => s"http://$h:$prt/hosted?p=$p"
    val view = ctx.create(hosts)
      .explore(h => Trace.of(Wget(url(h, "seed"))))(
        next = r =>
          if (r.data.contains("#")) Nil
          else (0 until 4).map(p => (Trace.of(Wget(url(r.data, p.toString))), s"${r.data}#$p")),
        maxDepth = 2,
        layout = graft.exec.FetchLayout.ByHost(1))
    assert(view.count() == 15) // 3 seeds + 12 children
    assert(ctx.metrics.pagesFetched.value == 15)
    // co-location per level: the output union concatenates per-level fetch
    // partitions verbatim, so each (host, depth) pair must occupy exactly
    // one partition under salt = 1 — the property trace-key placement lacks
    val hostParts = view.dataset.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.collect { case r if r.depth == 1 =>
        (graft.agent.HostPoliteness.hostOf(r.row.trace.primaryUri.get).get, pid)
      }
    }.distinct().collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(hostParts.keySet == hosts.toSet)
    assert(hostParts.values.forall(_.size == 1),
      s"a host's level-1 frontier spread past salt=1: $hostParts")
    // politeness composes with placement: per host, 5 spaced arrivals
    // (seed + 4 children) — arrival SPAN, never pairwise gaps
    val byHost = HttpSpec.hostArrivals.asScala.toSeq.groupBy(_._1)
    byHost.values.foreach { arr =>
      val ts = arr.map(_._2).sorted
      assert(ts.size == 5)
      assert(ts.last - ts.head >= 4 * 100 - 20,
        s"5 same-host fetches arrived within ${ts.last - ts.head} ms")
    }
  }

  test("exploreBestFirst under ByHost(1): each round's same-host batch co-locates into one task slot") {
    graft.agent.HostPoliteness.clear()
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val hosts = (2 to 4).map(h => s"127.0.0.$h")
    val prt = port // local copy: the explore closures must not capture `this`
    val url = (h: String, p: String) => s"http://$h:$prt/hosted?p=bf$p"
    // batchSize >= frontier: round 1 = the 3 seeds, round 2 = all 12
    // children, so each (host, depth) set is fetched in ONE round and the
    // per-round co-location is observable as one partition per host
    val view = ctx.create(hosts)
      .exploreBestFirst(h => Trace.of(Wget(url(h, "seed"))))(
        next = r =>
          if (r.data.contains("#")) Nil
          else (0 until 4).map(p => (Trace.of(Wget(url(r.data, p.toString))), s"${r.data}#$p")),
        priority = (_, d) => d.length.toDouble,
        fetchBudget = 15, batchSize = 15,
        maxDepth = 2,
        layout = graft.exec.FetchLayout.ByHost(1))
    assert(view.count() == 15)
    val hostParts = view.dataset.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.collect { case r if r.depth == 1 =>
        (graft.agent.HostPoliteness.hostOf(r.row.trace.primaryUri.get).get, pid)
      }
    }.distinct().collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(hostParts.keySet == hosts.toSet)
    assert(hostParts.values.forall(_.size == 1),
      s"a host's batch spread past salt=1: $hostParts")
  }

  test("Narrow eviction pressure never re-executes a Wpost: non-idempotent memo entries are pinned") {
    // one partition streams > cap (4096) DISTINCT idempotent traces between
    // two occurrences of the SAME POST; the bounded LRU would have evicted
    // the POST's entry by the time it recurs — the pinned map must not
    val ctx = new GraftContext(spark, GraftConf(cacheEnabled = false))
    import spark.implicits._
    HttpSpec.postHits.set(0)
    val postUri = s"$base/post-once"
    val doc = graft.doc.Doc(graft.doc.DocUID("m"), "mock://m",
      "<p>filler</p>".getBytes(java.nio.charset.StandardCharsets.UTF_8), Some("text/html"))
    val n = 4500
    val view = ctx.create(0 until n, numSlices = 1)
      .fetchOne(i =>
        if (i == 0 || i == n - 1) Trace.of(Wpost(postUri, entity = "e"))
        else Trace.of(Mock(Seq(doc.copy(uid = graft.doc.DocUID(s"m$i"), uri = s"mock://m$i")))),
        locality = graft.exec.Locality.Narrow)
    assert(view.count() == n)
    assert(HttpSpec.postHits.get() == 1,
      s"POST executed ${HttpSpec.postHits.get()} times — eviction repeated a side effect")
  }

  // ---- fetch pipeline (Agent.executeAll) ------------------------------------

  test("pipeline: a 1-partition Wide fetch keeps InFlight requests in flight; one GET per key, in key order") {
    val d = delayed
    d.reset()
    val ctx = new GraftContext(spark, GraftConf(cacheEnabled = false))
    import spark.implicits._
    // one logical host under ByHost(1): all 16 distinct pages (each asked
    // twice) land in one fetch task
    val urls = (0 until 16).map(i => s"http://127.0.0.5:${d.port}/page?i=$i")
    val view = ctx.create((urls.indices ++ urls.indices).toSeq, numSlices = 4)
      .fetchOne(i => Trace.of(Wget(urls(i))), layout = graft.exec.FetchLayout.ByHost(1))
    val parts = view.dataset.rdd.mapPartitions { it =>
      val rows = it.map(r => (r.traceKey, r.data, r.trajectory.texts("p").mkString)).toVector
      if (rows.isEmpty) Iterator.empty else Iterator.single(rows)
    }.collect()
    assert(parts.length == 1, s"ByHost(1) spread one host over ${parts.length} partitions")
    val rows = parts.head
    assert(rows.size == 32)
    // the shuffle's key order survives the read-ahead, and every row holds
    // its own page
    assert(rows.map(_._1) == rows.map(_._1).sorted)
    rows.foreach { case (_, i, text) => assert(text == s"/page?i=$i") }
    assert(d.gets.get == 16)
    assert(ctx.metrics.pagesFetched.value == 16)
    assert(ctx.metrics.traceExecutions.value == 16)
    assert(d.inflightMax.get == graft.agent.Agent.InFlight,
      s"max requests in flight ${d.inflightMax.get}, want ${graft.agent.Agent.InFlight}")
  }

  test("pipeline: a partial consumer sends exactly 1 of 8 POSTs and at most InFlight of 8 GETs") {
    val d = delayed
    val ctx = new GraftContext(spark, GraftConf(cacheEnabled = false))
    import spark.implicits._
    val b = s"http://127.0.0.5:${d.port}"
    d.reset()
    val posts = ctx.create(0 until 8, numSlices = 1)
      .fetchOne(i => Trace.of(Wpost(s"$b/post?i=$i", entity = s"e$i")),
        layout = graft.exec.FetchLayout.ByHost(1))
    assert(posts.dataset.rdd.mapPartitions(_.take(1)).collect().length == 1)
    assert(d.posts.get == 1, s"a take(1) sent ${d.posts.get} POSTs")
    d.reset()
    val gets = ctx.create(0 until 8, numSlices = 1)
      .fetchOne(i => Trace.of(Wget(s"$b/page?g=$i")), layout = graft.exec.FetchLayout.ByHost(1))
    assert(gets.dataset.rdd.mapPartitions(_.take(1)).collect().length == 1)
    assert(d.gets.get >= 1 && d.gets.get <= graft.agent.Agent.InFlight,
      s"a take(1) sent ${d.gets.get} GETs")
  }

  test("pipeline: five 1-partition crawls of 255 delayed pages count every fetch exactly once") {
    val d = delayed
    (1 to 5).foreach { run =>
      InMemoryDocCache.clear()
      d.reset()
      val ctx = new GraftContext(spark, GraftConf())
      import spark.implicits._
      // a binary tree of 255 pages on one logical host: under ByHost(1)
      // every level's fetches run in one task, up to InFlight at a time,
      // all counting into that task's accumulator copies
      val n = ctx.create(Seq(s"http://127.0.0.6:${d.port}/tree/0"))
        .explore(u => Trace.of(Wget(u)))(ExploreSpec.linkExpand,
          layout = graft.exec.FetchLayout.ByHost(1))
        .count()
      assert(n == DelayedServer.TreePages, s"run $run")
      assert(d.gets.get == DelayedServer.TreePages, s"run $run")
      assert(ctx.metrics.pagesFetched.value == DelayedServer.TreePages, s"run $run")
      assert(ctx.metrics.traceExecutions.value == DelayedServer.TreePages, s"run $run")
      assert(ctx.metrics.cacheWrites.value == DelayedServer.TreePages, s"run $run")
    }
  }

  test("OAuthV2 signs the request with an OAuth Authorization header") {
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val action = OAuthV2(Wget(s"$base/oauth"), "ck", "cs", "tok", "ts")
    val out = ctx.create(Seq(0)).fetchOne(_ => Trace.of(action))
      .select(_.trajectory.texts("p").mkString).collect()
    assert(out == Seq("authorized"))
  }

  test("action timeout hard-closes a hung HTTP connection (no pool-thread leak)") {
    import scala.jdk.CollectionConverters._
    def busyFetcherThreads: Int = Thread.getAllStackTraces.asScala.count { case (t, st) =>
      t.getName.startsWith("graft-agent-") &&
        st.exists(_.getClassName.contains("Fetcher"))
    }
    val ctx = new GraftContext(spark, GraftConf(remoteRetries = 0, cacheEnabled = false))
    import spark.implicits._
    val t0 = System.nanoTime()
    // server sleeps 20s; the action timeout is 500ms — well under the socket
    // read timeout an un-aborted connection would wait for
    val hangTrace = Trace.of(Wget(s"$base/hang", timeoutMillis = 500L))
    val rows = ctx.create(Seq(0)).fetchOne(_ => hangTrace).collect()
    assert((System.nanoTime() - t0) / 1e9 < 10, "timeout did not bound the fetch")
    assert(rows.head.trajectory.failed.nonEmpty) // surfaced as an error row
    // the worker must leave Fetcher promptly (disconnect unblocked the read)
    val deadline = System.currentTimeMillis() + 3000
    while (busyFetcherThreads > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(busyFetcherThreads == 0,
      "a pool thread is still pinned inside Fetcher after the timeout")
  }

  test("OAuth nonce is unique per execution (RFC 5849 §3.3), signature still verifies") {
    HttpSpec.nonces.clear()
    import spark.implicits._
    val action = OAuthV2(Wget(s"$base/oauth"), "ck", "cs", "tok", "ts")
    // cache OFF so the SAME trace executes remotely on each run
    (1 to 2).foreach { _ =>
      val ctx = new GraftContext(spark, GraftConf(cacheEnabled = false))
      val out = ctx.create(Seq(0)).fetchOne(_ => Trace.of(action))
        .select(_.trajectory.texts("p").mkString).collect()
      assert(out == Seq("authorized")) // server checked the signed header
    }
    val seen = HttpSpec.nonces.toArray(Array.empty[String]).toSeq
    assert(seen.size == 2, s"expected 2 signed requests, saw $seen")
    assert(seen.distinct.size == 2, s"nonce repeated across replays: $seen")
  }

  // ---- per-host politeness (HostPoliteness) --------------------------------

  test("politeness: concurrent acquires on one host serialize to >= interval spacing; hosts independent") {
    graft.agent.HostPoliteness.clear()
    val interval = 150L
    val n = 6
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to n).map { _ =>
      new Thread(() => {
        graft.agent.HostPoliteness.acquire("http://one-host.test/p", interval)
        done.add(System.currentTimeMillis())
      })
    }
    val t0 = System.currentTimeMillis()
    threads.foreach(_.start()); threads.foreach(_.join(20000))
    assert(done.size == n)
    // reserved slots are exactly interval apart; thread wake-up jitter can
    // only stretch the span, never compress it below (n-1) x interval
    val span = done.asScala.max - done.asScala.min
    assert(span >= (n - 1) * interval - 20,
      s"6 same-host fetch starts spanned only $span ms")

    // distinct hosts do NOT serialize: 4 hosts concurrently, one slot each
    graft.agent.HostPoliteness.clear()
    val multi = (1 to 4).map { i =>
      new Thread(() => {
        graft.agent.HostPoliteness.acquire(s"http://host-$i.test/p", 5000L)
        done.add(0L)
      })
    }
    val m0 = System.currentTimeMillis()
    multi.foreach(_.start()); multi.foreach(_.join(20000))
    assert(System.currentTimeMillis() - m0 < 2500,
      "first fetch per host must not wait on other hosts")
    assert(System.currentTimeMillis() - t0 < 60000)
  }

  test("politeness: end-to-end spacing through concurrent Spark fetch tasks; cache hits never wait") {
    graft.agent.HostPoliteness.clear()
    HttpSpec.arrivals.clear()
    val interval = 120L
    val ctx = new GraftContext(spark,
      GraftConf(hostMinIntervalMillis = interval))
    import spark.implicits._
    val b = base // plain String: the lambda must not capture the spec
    ctx.create(1 to 4).fetchOne(i => Trace.of(Wget(s"$b/timed?i=$i"))).count()
    val ts = HttpSpec.arrivals.asScala.toSeq.sorted
    assert(ts.size == 4)
    // server-side arrival of request k+1 happens after request k's start
    // slot + interval (arrivals can lag their slots, stretching gaps is
    // fine; the SPAN can never compress below 3 x interval)
    assert(ts.last - ts.head >= 3 * interval - 20,
      s"4 same-host fetches arrived within ${ts.last - ts.head} ms")
    // warm re-run: all four hit the cache — no remote fetch, no waiting
    val t0 = System.currentTimeMillis()
    val before = ctx.metrics.pagesFetched.value
    ctx.create(1 to 4).fetchOne(i => Trace.of(Wget(s"$b/timed?i=$i"))).count()
    assert(ctx.metrics.pagesFetched.value == before, "second run must be all cache hits")
    assert(System.currentTimeMillis() - t0 < 3000, "cache hits must not be rate-limited")
  }
  // ---- robots.txt gate (RobotsCache) ---------------------------------------

  test("robots on: disallowed uri => DocError with NO request and NO pagesFetched; one robots fetch per site") {
    graft.agent.RobotsCache.clear()
    HttpSpec.robotsHits.set(0); HttpSpec.blockedHits.set(0)
    val ctx = new GraftContext(spark, GraftConf(respectRobots = true, remoteRetries = 0))
    import spark.implicits._
    val b = base
    val rows = ctx.create(Seq(1, 2, 3))
      .fetchOne(i => Trace.of(Wget(s"$b/blocked/secret?i=$i")))
      .select(_.trajectory.failed.map(_.uri).mkString).collect()
    assert(rows.size == 3 && rows.forall(_.contains("/blocked/secret")))
    assert(HttpSpec.blockedHits.get() == 0, "gated path must never receive a request")
    assert(ctx.metrics.pagesFetched.value == 0, "blocked uris are not fetches")
    // allowed path on the same site still fetches; robots.txt was read ONCE
    val ok = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"$b/page")))
      .collect().head.trajectory.doc
    assert(ok.exists(_.root.findOnly("title").text == "HTTP OK"))
    assert(HttpSpec.robotsHits.get() == 1,
      s"expected exactly one robots fetch, got ${HttpSpec.robotsHits.get()}")
    assert(ctx.metrics.pagesFetched.value == 1, "robots fetch must not count as a page")
  }

  test("robots off (default): gated path serves normally and robots.txt is never requested") {
    graft.agent.RobotsCache.clear()
    HttpSpec.robotsHits.set(0); HttpSpec.blockedHits.set(0)
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val b = base
    val doc = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"$b/blocked/x")))
      .collect().head.trajectory.doc
    assert(doc.isDefined && HttpSpec.blockedHits.get() == 1)
    assert(HttpSpec.robotsHits.get() == 0)
  }

  test("robots availability semantics: 404 site allows all, unreachable site denies all") {
    graft.agent.RobotsCache.clear()
    // a second server with NO robots.txt context → default 404
    val bare = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    try {
      bare.createContext("/p", (ex: HttpExchange) => {
        val bytes = "<p>open</p>".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      })
      bare.start()
      val conf = GraftConf(respectRobots = true, robotsTimeoutMillis = 3000)
      val uid = graft.doc.DocUID("k")
      val openUri = s"http://127.0.0.1:${bare.getAddress.getPort}/p"
      assert(graft.agent.RobotsCache.check(openUri, conf, uid, 0L)._1.isEmpty)
      // unreachable (nothing listens on the site) → RFC 9309 assume-disallow
      val dead = graft.agent.RobotsCache.check("http://127.0.0.1:1/x", conf, uid, 0L)._1
      assert(dead.exists(!_.isSuccess))
    } finally bare.stop(0)
  }

  test("explore honors robots: disallowed links error out, are never fetched, and stop expansion") {
    graft.agent.RobotsCache.clear()
    HttpSpec.robotsHits.set(0); HttpSpec.blockedHits.set(0)
    val ctx = new GraftContext(spark, GraftConf(respectRobots = true, remoteRetries = 0))
    import spark.implicits._
    val b = base
    val rows = ctx.create(Seq(s"$b/site/a.html"))
      .explore(u => Trace.of(Wget(u)))(ExploreSpec.linkExpand)
      .collect()
    val titles = rows.flatMap(_.row.trajectory.texts("title")).toSet
    assert(titles == Set("A", "B"), s"crawl reached $titles")
    assert(ctx.metrics.pagesFetched.value == 2, "only the allowed pages count as fetches")
    assert(HttpSpec.blockedHits.get() == 0, "the disallowed child must never be requested")
    assert(HttpSpec.robotsHits.get() == 1)
  }

  test("best-first explore: robots-blocked pages burn NO budget; the real frontier still gets it") {
    graft.agent.RobotsCache.clear()
    HttpSpec.blockedHits.set(0)
    val ctx = new GraftContext(spark, GraftConf(respectRobots = true, remoteRetries = 0))
    import spark.implicits._
    val b = base
    // priority LOVES the blocked page: /blocked/c scores 100, /site/b 1 —
    // best-first tries c first; the robots gate refuses without a request,
    // and with budget 2 the crawl must still reach BOTH real pages (a, b).
    // A budget that counted blocked rows would starve b.
    val rows = ctx.create(Seq(s"$b/site/a.html"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        ExploreSpec.linkExpand,
        priority = (t, _) => if (t.primaryUri.exists(_.contains("/blocked/"))) 100.0 else 1.0,
        fetchBudget = 2, batchSize = 1)
      .collect()
    val titles = rows.flatMap(_.row.trajectory.texts("title")).toSet
    assert(titles == Set("A", "B"), s"crawl reached $titles")
    assert(rows.exists(_.row.trajectory.failed.exists(_.uri.contains("/blocked/"))),
      "the blocked page surfaces as an error row")
    assert(ctx.metrics.pagesFetched.value == 2, "exactly the budget in real fetches")
    assert(HttpSpec.blockedHits.get() == 0, "the disallowed page must never be requested")
  }

  test("robots gates browser Visit too: disallowed navigation fails the trace without loading") {
    graft.agent.RobotsCache.clear()
    HttpSpec.blockedHits.set(0)
    val b = base
    val site = Map(
      s"$b/blocked/page" -> "<html><head><title>NO</title></head><body/></html>",
      s"$b/ok" -> "<html><head><title>YES</title></head><body/></html>")
    val ctx = new GraftContext(spark, GraftConf(respectRobots = true, remoteRetries = 0))
      .withDrivers(graft.agent.MockBrowserFactory(site))
    import spark.implicits._
    val rows = ctx.create(Seq(s"$b/blocked/page", s"$b/ok"))
      .fetchOne(u => Trace.of(Visit(u), Snapshot()))
      .select(r => (r.data, r.trajectory.failed.nonEmpty,
        r.trajectory.doc.map(_.root.findOnly("title").text).getOrElse("")))
      .collect().sortBy(_._1)
    assert(rows(0)._2 && rows(0)._3 == "", "disallowed Visit must fail without navigating")
    assert(!rows(1)._2 && rows(1)._3 == "YES")
  }

  test("canonical frontier keys: two spellings of one url explore to a single fetch") {
    import graft.exec.FetchedRow
    val b = base
    def expand(canonical: Boolean)(r: FetchedRow[String]): Seq[(Trace, String)] =
      r.trajectory.findAll("a").flatMap(_.href).map { h =>
        val u = if (canonical) graft.sql.UrlFunctions.normalize(h) else h
        (Trace.of(Wget(u)), u)
      }
    // raw hrefs: query order + fragment make two distinct trace keys → 3 fetches
    val raw = new GraftContext(spark, GraftConf())
    import spark.implicits._
    raw.create(Seq(s"$b/site/links.html"))
      .explore(u => Trace.of(Wget(u)))(expand(canonical = false)).count()
    assert(raw.metrics.pagesFetched.value == 3)
    // canonicalized frontier: both spellings collapse to ONE visited key
    InMemoryDocCache.clear()
    val canon = new GraftContext(spark, GraftConf())
    canon.create(Seq(s"$b/site/links.html"))
      .explore(u => Trace.of(Wget(u)))(expand(canonical = true)).count()
    assert(canon.metrics.pagesFetched.value == 2,
      "url_normalize in the expand fn must dedup the two spellings")
  }

  test("robots Crawl-delay widens politeness spacing for the declaring agent") {
    graft.agent.RobotsCache.clear()
    graft.agent.HostPoliteness.clear()
    HttpSpec.arrivals.clear()
    val ctx = new GraftContext(spark, GraftConf(respectRobots = true,
      robotsUserAgent = "delaybot", hostMinIntervalMillis = 0L))
    import spark.implicits._
    val b = base
    ctx.create(1 to 3).fetchOne(i => Trace.of(Wget(s"$b/timed?d=$i"))).count()
    val ts = HttpSpec.arrivals.asScala.toSeq.sorted
    assert(ts.size == 3)
    // Crawl-delay: 0.25 → three starts span >= 2 x 250ms (modulo clock skew)
    assert(ts.last - ts.head >= 2 * 250 - 20,
      s"3 fetches under Crawl-delay 0.25 arrived within ${ts.last - ts.head} ms")
  }
}

object HttpSpec {
  val hostArrivals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  val postHits = new java.util.concurrent.atomic.AtomicInteger(0)
  val nonces = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val robotsHits = new java.util.concurrent.atomic.AtomicInteger(0)
  val blockedHits = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Loopback server (wildcard bind, so every 127.0.0.x is a distinct
  * logical host) whose timer completes each response `delayMs` after the
  * request arrived: no server thread is held, so concurrent fetches
  * overlap at the server exactly as the client sends them. Counts GETs,
  * POSTs and the maximum number of requests in flight.
  *
  *  - `/tree/i` is page i of a binary tree of [[DelayedServer.TreePages]]
  *    pages, linking to pages 2i+1 and 2i+2 by absolute url;
  *  - any other target answers `<p>target</p>`.
  */
final class DelayedServer(delayMs: Long) {
  import java.util.concurrent.{Executors, TimeUnit}
  import java.util.concurrent.atomic.AtomicInteger

  val gets = new AtomicInteger(0)
  val posts = new AtomicInteger(0)
  val inflightMax = new AtomicInteger(0)
  private val inflight = new AtomicInteger(0)

  def reset(): Unit = { gets.set(0); posts.set(0); inflightMax.set(inflight.get()) }

  private val timer = Executors.newSingleThreadScheduledExecutor()
  private val server = HttpServer.create(new InetSocketAddress(0), 64)
  server.createContext("/", (ex: HttpExchange) => {
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    if (ex.getRequestMethod == "POST") posts.incrementAndGet() else gets.incrementAndGet()
    ex.getRequestBody.readAllBytes()
    val target = ex.getRequestURI.toString
    val body = ex.getRequestURI.getPath match {
      case DelayedServer.Tree(i) =>
        val host = ex.getRequestHeaders.getFirst("Host")
        val links = Seq(2 * i.toInt + 1, 2 * i.toInt + 2).filter(_ < DelayedServer.TreePages)
          .map(j => s"""<a href="http://$host/tree/$j">$j</a>""").mkString
        s"<html><head><title>t$i</title></head><body>$links</body></html>"
      case _ => s"<p>$target</p>"
    }
    timer.schedule(new Runnable {
      override def run(): Unit =
        try {
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "text/html")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        } catch { case _: java.io.IOException => () }
        finally { ex.close(); inflight.decrementAndGet() }
    }, delayMs, TimeUnit.MILLISECONDS)
    ()
  })
  server.start()

  def port: Int = server.getAddress.getPort

  def stop(): Unit = { server.stop(0); timer.shutdownNow() }
}

object DelayedServer {
  val TreePages = 255
  private val Tree = "/tree/(\\d+)".r
}
