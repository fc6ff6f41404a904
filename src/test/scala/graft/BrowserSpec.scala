package graft

import graft.actions._
import graft.agent.{MockBrowser, MockBrowserFactory, W3CStubServer}
import graft.api.GraftContext
import graft.cache.InMemoryDocCache
import graft.conf.GraftConf

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Browser-trace pipelines over the pluggable driver seam (reference
  * module/web actions + integration FetchVisitIT) using the deterministic
  * in-memory browser.
  */
class BrowserSpec extends AnyFunSuite with BeforeAndAfterEach {

  import SparkFixture._

  override def beforeEach(): Unit = InMemoryDocCache.clear()

  private val site = Map(
    "mock://home" ->
      """<html><head><title>Home</title></head><body>
        |<a id="next" href="mock://page2">next</a>
        |<form action="mock://search"><input name="q"></form>
        |</body></html>""".stripMargin,
    "mock://page2" ->
      """<html><head><title>Page2</title></head><body><p>deep</p></body></html>""".stripMargin,
    "mock://search?q=spark" ->
      """<html><head><title>Results</title></head><body><p>found spark</p></body></html>""".stripMargin
  )

  test("MockBrowser visit/click/snapshot") {
    val b = new MockBrowser(site.get)
    b.visit("mock://home")
    assert(b.currentUri == "mock://home")
    b.click("#next")
    assert(b.currentUri == "mock://page2")
    assert(b.pageSource.contains("deep"))
  }

  test("Visit + Click + Snapshot trace through the engine, deduped") {
    val ctx = new GraftContext(spark, GraftConf()).withDrivers(MockBrowserFactory(site))
    import spark.implicits._
    val view = ctx.create(Seq(1, 2, 3))
      .fetchOne(_ => Trace.of(Visit("mock://home"), Click("#next"), Snapshot()))
    val titles = view.select(_.trajectory.texts("title").mkString).collect()
    assert(titles == Seq("Page2", "Page2", "Page2"))
    assert(ctx.metrics.pagesFetched.value == 1) // 3 rows, 1 browser rollout
  }

  test("TextInput + Submit navigates the form") {
    val ctx = new GraftContext(spark, GraftConf()).withDrivers(MockBrowserFactory(site))
    import spark.implicits._
    val out = ctx.create(Seq("spark"))
      .fetchOne(q => Trace.of(Visit("mock://home"), TextInput("q", q), Submit("form"), Snapshot()))
      .select(_.trajectory.texts("p").mkString)
      .collect()
    assert(out == Seq("found spark"))
  }

  test("snapshots of different interaction paths have different cache keys") {
    val t1 = Trace.of(Visit("mock://home"), Snapshot())
    val t2 = Trace.of(Visit("mock://home"), Click("#next"), Snapshot())
    assert(t1.cacheKey != t2.cacheKey)
  }

  test("Loop + ClickNext paginates until exhausted (reference pagination pattern)") {
    val pagedSite = Map(
      "mock://p1" -> """<html><head><title>P1</title></head><body><p>one</p>
        |<a class="next" href="mock://p2">next</a></body></html>""".stripMargin,
      "mock://p2" -> """<html><head><title>P2</title></head><body><p>two</p>
        |<a class="next" href="mock://p3">next</a></body></html>""".stripMargin,
      "mock://p3" -> """<html><head><title>P3</title></head><body><p>three</p></body></html>"""
    )
    val ctx = new GraftContext(spark, GraftConf()).withDrivers(MockBrowserFactory(pagedSite))
    import spark.implicits._
    // snapshot p1, then loop (click next, snapshot) until no next link
    val trace = Trace.of(
      Visit("mock://p1"), Snapshot(),
      Loop(Trace.of(Click("a.next"), Snapshot()), limit = 10))
    val texts = ctx.create(Seq(0)).fetchOne(_ => trace)
      .selectMany(_.trajectory.texts("p"))
      .collect()
    assert(texts == Seq("one", "two", "three"))
  }

  test("explore over browser traces (the reference ExploreIT shape)") {
    // home -> {computers, phones} -> {laptops}; dedup: both categories link home
    val shop = Map(
      "mock://shop" -> """<html><head><title>Shop</title></head><body>
        |<a class="cat" href="mock://shop/computers">Computers</a>
        |<a class="cat" href="mock://shop/phones">Phones</a></body></html>""".stripMargin,
      "mock://shop/computers" -> """<html><head><title>Computers</title></head><body>
        |<a class="cat" href="mock://shop/computers/laptops">Laptops</a>
        |<a class="cat" href="mock://shop">Home</a></body></html>""".stripMargin,
      "mock://shop/phones" -> """<html><head><title>Phones</title></head><body>
        |<a class="cat" href="mock://shop">Home</a></body></html>""".stripMargin,
      "mock://shop/computers/laptops" ->
        """<html><head><title>Laptops</title></head><body><p>leaf</p></body></html>"""
    )
    val ctx = new GraftContext(spark, GraftConf()).withDrivers(MockBrowserFactory(shop))
    import spark.implicits._
    val explored = ctx.create(Seq("mock://shop"))
      .explore(u => Trace.of(Visit(u), Snapshot()))(BrowserSpec.catExpand)
    val byTitle = explored.collect()
      .map(r => r.row.trajectory.texts("title").mkString -> r.depth).toMap
    assert(byTitle == Map("Shop" -> 0, "Computers" -> 1, "Phones" -> 1, "Laptops" -> 2))
    assert(ctx.metrics.pagesFetched.value == 4) // home links deduped, 1 rollout/page
  }

  test("chained fetch from a FetchedView (detail-page hop)") {
    val ctx = new GraftContext(spark, GraftConf()).withDrivers(MockBrowserFactory(site))
    import spark.implicits._
    import graft.exec.FetchedRow
    implicit val outEnc = org.apache.spark.sql.Encoders.kryo[FetchedRow[Int]]
    val hop = ctx.create(Seq(1, 2))
      .fetchOne(_ => Trace.of(Visit("mock://home"), Snapshot()))
      .fetch(r => {
        val next = r.trajectory.findAll("#next").flatMap(_.href)
        TraceSet(next.map(u => Trace.of(Visit(u), Snapshot())))
      })
    val titles = hop.select(_.trajectory.texts("title").mkString).collect()
    assert(titles == Seq("Page2", "Page2"))
    assert(ctx.metrics.pagesFetched.value == 2) // one rollout per distinct hop
  }

  test("Loop keeps a failing iteration's partial output (reference ControlBlock semantics)") {
    // snapshot-THEN-click pagination: the last page's snapshot happens in the
    // same iteration as the click that fails — it must survive
    val site = Map(
      "mock://q1" -> """<html><head><title>Q1</title></head><body>
        |<a class="next" href="mock://q2">next</a></body></html>""".stripMargin,
      "mock://q2" -> """<html><head><title>Q2</title></head><body>last</body></html>""")
    val ctx = new GraftContext(spark, GraftConf()).withDrivers(MockBrowserFactory(site))
    import spark.implicits._
    val trace = Trace.of(Visit("mock://q1"),
      Loop(Trace.of(Snapshot(), Click("a.next")), limit = 10))
    val titles = ctx.create(Seq(0)).fetchOne(_ => trace)
      .selectMany(_.trajectory.texts("title")).collect()
    assert(titles == Seq("Q1", "Q2")) // Q2's snapshot came from the aborted iteration
  }

  // --- W3C wire binding: the REAL remote binding against a protocol stub ---

  private def withStub[A](pages: Map[String, String])(f: (W3CStubServer, String) => A): A = {
    val stub = new W3CStubServer(pages).start()
    try f(stub, stub.endpoint) finally stub.stop()
  }

  test("W3C wire client: session lifecycle, navigation, elements, screenshot, errors") {
    withStub(site) { (stub, endpoint) =>
      val b = graft.agent.RemoteWebDriverFactory(endpoint).create()
      try {
        b.visit("mock://home")
        assert(b.currentUri == "mock://home")
        assert(b.pageSource.contains("next"))
        b.click("#next")
        assert(b.currentUri == "mock://page2")
        assert(new String(b.screenshot, "UTF-8") == "PNG-STUB:mock://page2")
        b.waitFor("p", 500) // present => returns
        val gone = intercept[IllegalStateException](b.waitFor("#nope", 150))
        assert(gone.getMessage.contains("never appeared"))
        // protocol error envelope surfaces with the W3C error code
        val missing = intercept[graft.agent.WebDriverHttpBrowser.WebDriverException](
          b.click("#does-not-exist"))
        assert(missing.getMessage.contains("no such element"))
      } finally b.close()
      assert(stub.openSessions == 0, "DELETE /session not honored")
      assert(stub.requestCount.get() > 0)
    }
  }

  test("W3C wire client: keep-alive — one rollout incl. an error envelope runs over one connection") {
    withStub(site) { (stub, endpoint) =>
      val b = graft.agent.RemoteWebDriverFactory(endpoint).create()
      try {
        b.visit("mock://home")
        // a W3C 4xx envelope is drained like a 2xx: the connection stays clean
        val missing = intercept[graft.agent.WebDriverHttpBrowser.WebDriverException](
          b.textInput("#does-not-exist", "x"))
        assert(missing.getMessage.contains("404 no such element"))
        b.textInput("input[name=q]", "spark")
        b.submit("form")
        assert(b.pageSource.contains("found spark"))
        assert(new String(b.screenshot, "UTF-8") == "PNG-STUB:mock://search?q=spark")
      } finally b.close()
      assert(stub.openSessions == 0)
      assert(stub.requestCount.get() > 10)
      assert(stub.clientConnections == 1,
        s"${stub.requestCount.get()} wire requests opened ${stub.clientConnections} connections")
    }
  }

  test("W3C wire client: engine trace (Visit+Click+Snapshot), deduped, sessions closed") {
    withStub(site) { (stub, endpoint) =>
      val ctx = new GraftContext(spark, GraftConf())
        .withDrivers(graft.agent.RemoteWebDriverFactory(endpoint))
      import spark.implicits._
      val titles = ctx.create(Seq(1, 2, 3))
        .fetchOne(_ => Trace.of(Visit("mock://home"), Click("#next"), Snapshot()))
        .select(_.trajectory.texts("title").mkString).collect()
      assert(titles == Seq("Page2", "Page2", "Page2"))
      assert(ctx.metrics.pagesFetched.value == 1) // 3 rows, 1 wire rollout
      assert(stub.openSessions == 0, "engine leaked a WebDriver session")
    }
  }

  test("W3C wire client: TextInput + Submit navigates the form (named inputs)") {
    withStub(site) { (_, endpoint) =>
      val ctx = new GraftContext(spark, GraftConf())
        .withDrivers(graft.agent.RemoteWebDriverFactory(endpoint))
      import spark.implicits._
      val out = ctx.create(Seq("spark"))
        .fetchOne(q => Trace.of(Visit("mock://home"),
          TextInput("input[name=q]", q), Submit("form"), Snapshot()))
        .select(_.trajectory.texts("p").mkString)
        .collect()
      assert(out == Seq("found spark"))
    }
  }

  test("W3C wire client: Loop + ClickNext paginates over the wire") {
    val pagedSite = Map(
      "mock://p1" -> """<html><head><title>P1</title></head><body><p>one</p>
        |<a class="next" href="mock://p2">next</a></body></html>""".stripMargin,
      "mock://p2" -> """<html><head><title>P2</title></head><body><p>two</p>
        |<a class="next" href="mock://p3">next</a></body></html>""".stripMargin,
      "mock://p3" -> """<html><head><title>P3</title></head><body><p>three</p></body></html>"""
    )
    withStub(pagedSite) { (_, endpoint) =>
      val ctx = new GraftContext(spark, GraftConf())
        .withDrivers(graft.agent.RemoteWebDriverFactory(endpoint))
      import spark.implicits._
      val texts = ctx.create(Seq(0)).fetchOne(_ => Trace.of(
          Visit("mock://p1"), Snapshot(),
          Loop(Trace.of(Click("a.next"), Snapshot()), limit = 10)))
        .selectMany(_.trajectory.texts("p"))
        .collect()
      assert(texts == Seq("one", "two", "three"))
    }
  }

  test("browser action without a driver factory fails cleanly") {
    val ctx = new GraftContext(spark, GraftConf(remoteRetries = 0))
    import spark.implicits._
    val rows = ctx.create(Seq(0))
      .fetchOne(_ => Trace.of(Visit("mock://home"), Snapshot()))
      .collect()
    assert(rows.head.trajectory.failed.nonEmpty)
  }
}

object BrowserSpec {
  import graft.exec.FetchedRow

  /** Category-link expansion into Visit+Snapshot traces (serializable —
    * lives outside the spec class).
    */
  def catExpand(r: FetchedRow[String]): Seq[(Trace, String)] =
    r.trajectory.findAll("a.cat").flatMap(_.href)
      .map(u => (Trace.of(Visit(u), Snapshot()), u))
}
