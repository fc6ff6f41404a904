package graft.queries

import graft.Tables
import graft.actions.{Trace, Wget}
import graft.api.GraftContext
import graft.conf.GraftConf
import graft.doc.JsonNode
import graft.exec.FetchedRow
import graft.llm.{Ann, Multimodal}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Oracle-gated queries that exercise the ENGINE — fetch dedup, JSON/HTML
  * node extraction, explore, IVF ANN, multimodal decode — against the
  * standard testdata tables, so the driver's DuckDB gate covers the engine
  * paths, not just relational ops.
  *
  * Pattern: a deterministic corpus is materialized to local files FROM the
  * `documents` table (executor-side writes, no driver collect), the engine
  * fetches/parses/traverses it, and the oracle recomputes the expected
  * result in pure SQL over the same source table.
  */
object EngineQ {

  /** In-JVM oracle stub server, with
    * TCP_NODELAY on accepted sockets: the JDK HttpServer writes headers and
    * body as separate small packets, and with Nagle on, the body write can
    * stall behind the client's delayed ACK (~40 ms per response on kernels
    * that don't fast-ACK loopback) — at thousands of stub requests per
    * query that turns a 3 s query into a 25 s one. The property is read
    * ONCE when ServerConfig class-loads, so it must be set before the
    * first HttpServer in the JVM — every stub in this file creates through
    * here.
    */
  private def stubServer(): com.sun.net.httpserver.HttpServer = {
    graft.agent.HttpTuning()
    com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  }

  /** Per-(sf,query) fixture dir under ./target — inside the repo, safe to
    * overwrite on every run.
    */
  private def fixtureDir(sfDir: String, q: String): String = {
    val safe = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val p = Paths.get("target", "engine-fixtures", safe, q).toAbsolutePath
    Files.createDirectories(p)
    p.toString
  }

  /** Deletes the files in a fixture dir, for a query that lists what it
    * wrote there: names that embed a path, port or timestamp would
    * otherwise leave a prior run's files beside this run's.
    */
  private def wipe(dir: String): Unit = {
    val s = Files.list(Paths.get(dir))
    try s.forEach(p => Files.deleteIfExists(p)) finally s.close()
  }

  // -------------------------------------------------------------------------
  // q31 — fetch + trace-dedup + JSON node extraction
  // -------------------------------------------------------------------------

  /** Every 20th document is written as a JSON file; each uri is requested
    * THREE times (dedup load), fetched through FetchExec (one execution per
    * distinct trace), parsed with the JSON node tree, then aggregated
    * per language. The oracle recomputes from the source table.
    */
  def q31FetchDedup(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q31")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 0)

    // executor-side writes go through Hadoop FS (DocIO) — on a cluster, point
    // fixtureDir at a shared FS and the same code works; java.nio here would
    // strand each executor's files on its local disk
    FixtureClock.timed {
    docs.select("doc_id", "lang", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val json =
          s"""{"doc_id":$id,"lang":${JsonNode.quote(r.getString(1))},"text":${JsonNode.quote(r.getString(2))}}"""
        graft.agent.DocIO.writeText(fix, s"doc_$id.json", json)
      }
    }
    }

    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    val extracted = ctx.create(ids)
      .flatMap(id => Seq(id, id, id)) // duplicate rows: FetchExec dedups them
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.json")))
      .select { r =>
        val root = r.trajectory.doc.get.root
        val docId = root.children("doc_id").head.text.toLong
        val lang = root.children("lang").head.text
        val nToks = root.children("text").head.text.split(" ").length.toLong
        (docId, lang, nToks)
      }
    extracted.asDataFrame.toDF("doc_id", "lang", "n_toks")
      .distinct() // collapse the 3x duplicates after extraction
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
      .orderBy(col("lang"))
  }

  // -------------------------------------------------------------------------
  // q32 — HTML parse + CSS-selector extraction (column-function DSL)
  // -------------------------------------------------------------------------

  /** Renders every 10th document into an HTML page COLUMN, then recovers id,
    * title, link and token count purely via the extraction functions
    * (graft.functions css_text/css_attr) — the parser and selector engine on
    * the hot path; nothing is read back from the inputs except through HTML.
    */
  def q32Extract(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions._
    val pages = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(format_string(
        "<html><head><title>doc %d</title></head><body><p class=\"body\">%s</p>" +
          "<a href=\"/d/%d\">next</a></body></html>",
        col("doc_id"), col("text"), col("doc_id") + 1).as("html"))
    pages
      .withColumn("title", css_text(col("html"), lit("title")))
      .withColumn("doc_id", split(col("title"), " ").getItem(1).cast("long"))
      .withColumn("href", css_attr(col("html"), lit("a"), lit("href")))
      .withColumn("n_toks", size(split(css_text(col("html"), lit("p.body")), " ")).cast("long"))
      .select("doc_id", "title", "href", "n_toks")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q33 — explore: bounded BFS over a generated link graph
  // -------------------------------------------------------------------------

  private val TREE_N = 63 // complete binary tree of depth 5: ids 0..62

  /** Documents 0..62 become HTML pages where page i links to 2i+1 and 2i+2;
    * explore crawls from page 0. Tree depth of node i is floor(log2(i+1)) —
    * exactly computable by the oracle without recursion.
    */
  def q33Explore(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q33")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < TREE_N)

    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val kids = Seq(2 * id + 1, 2 * id + 2).filter(_ < TREE_N)
        val links = kids.map(k => s"""<a href="page_$k.html">child $k</a>""").mkString("\n")
        val html =
          s"""<html><head><title>doc $id</title></head>
             |<body><p>${r.getString(1)}</p>
             |$links
             |</body></html>""".stripMargin
        graft.agent.DocIO.writeText(fix, s"page_$id.html", html)
      }
    }
    }

    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:$fix/page_0.html"))
      .explore(u => Trace.of(Wget(u)))(EngineQ.linkExpand)
      .select { r =>
        val title = r.row.trajectory.texts("title").mkString
        (title.split(" ")(1).toLong, r.depth)
      }
    explored.asDataFrame.toDF("doc_id", "depth").orderBy(col("doc_id"))
  }

  private def linkExpand(r: FetchedRow[String]): Seq[(Trace, String)] =
    r.trajectory.findAll("a").flatMap(_.href).map(h => (Trace.of(Wget(h)), h))

  // -------------------------------------------------------------------------
  // q114 — exploreBestFirst: budgeted priority crawl over the q33 tree
  // -------------------------------------------------------------------------

  private val BF_BUDGET = 25

  /** Page i's crawl priority: (i·37) mod 63 — a PERMUTATION of 0..62
    * (37 ⊥ 63), so the best-first order is total (no ties) and decidedly
    * non-BFS: the greedy frontier reaches depth-5 leaves while depth-1
    * nodes are still open, which is exactly what the gate must pin (a BFS
    * traversal under the same budget visits a different set).
    */
  private def bestFirstScore(u: String): Double =
    "page_([0-9]+)\\.html".r.findFirstMatchIn(u)
      .map(m => (m.group(1).toLong * 37 % TREE_N).toDouble).getOrElse(-1.0)

  /** The q33 binary-tree site crawled BEST-FIRST under a fetch budget of
    * [[BF_BUDGET]] of the 63 pages (batchSize 1 — the classic sequential
    * priority crawl; reference dsl/PathPlanning.scala:9-90's non-BFS
    * ordering semantics). The gate pins the VISITED SET — a strong
    * function of the priority order under a tight budget — plus each
    * page's discovery depth and its language recovered from the fetched
    * title. The oracle REPLAYS the traversal: a recursive CTE carries the
    * open frontier as a list value, pops the max-priority node, and pushes
    * its unvisited children — the same greedy loop the engine distributes.
    */
  def q114ExploreBestFirst(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q114")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < TREE_N)

    FixtureClock.timed {
    docs.select("doc_id", "lang").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val kids = Seq(2 * id + 1, 2 * id + 2).filter(_ < TREE_N)
        val links = kids.map(k => s"""<a href="page_$k.html">child $k</a>""").mkString("\n")
        val html =
          s"""<html><head><title>doc $id ${r.getString(1)}</title></head>
             |<body>$links</body></html>""".stripMargin
        graft.agent.DocIO.writeText(fix, s"page_$id.html", html)
      }
    }
    }

    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:$fix/page_0.html"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        linkExpand,
        priority = (_, u) => bestFirstScore(u),
        fetchBudget = BF_BUDGET, batchSize = 1)
      .select { r =>
        val parts = r.row.trajectory.texts("title").mkString.split(" ")
        (parts(1).toLong, parts(2), r.depth)
      }
    explored.asDataFrame.toDF("doc_id", "lang", "depth").orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q134 — boilerpipe article extraction (WSDM'10 NumWordsRules), gated
  // -------------------------------------------------------------------------

  /** Every 10th document (offset 1) renders as a REALISTIC page — link-dense
    * nav and footer boilerplate around a short intro and the article body —
    * and [[graft.functions.boilerpipe]] (native codegen; reference
    * doc/Unstructured's article-extraction role) must recover the main
    * content. The fixture is built so the published NumWordsRules tree
    * (Kohlschütter et al., WSDM 2010, Fig. 4) has a CLOSED FORM the oracle
    * replays exactly: nav (7 words, link density 1) and footer (6 words,
    * ld 1) are never content (ld > 1/3); the body paragraph always is
    * (prev = the 6-word ld-0 intro ⇒ prevWords > 4); the intro is content
    * iff the body exceeds 17 words (prev = nav with ld 1 > 5/9 ⇒ content
    * iff nextWords > 17) — so the expected article is a pure SQL CASE on
    * the token count, and the corpus's 10..99-word range exercises BOTH
    * branches. This closes the one §2.11 row (boilerPipe) that had no
    * oracle entry.
    */
  def q134Boilerpipe(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions._
    val pages = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 1)
      .select(col("doc_id"), format_string(
        "<html><head><title>doc %d</title></head><body>" +
          "<nav><a href=\"/\">home</a> <a href=\"/a\">about</a> <a href=\"/c\">contact</a> " +
          "<a href=\"/r\">archive</a> <a href=\"/l\">login</a> <a href=\"/g\">register</a> " +
          "<a href=\"/s\">subscribe</a></nav>" +
          "<p>intro section for corpus document %d</p>" +
          "<p>%s</p>" +
          "<footer><a href=\"/t\">terms</a> <a href=\"/p\">privacy</a> <a href=\"/f\">rss</a> " +
          "<a href=\"/m\">sitemap</a> <a href=\"/k\">cookies</a> <a href=\"/h\">help</a></footer>" +
          "</body></html>",
        col("doc_id"), col("doc_id"), col("text")).as("html"))
    pages
      .select(col("doc_id"), boilerpipe(col("html")).as("article"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q135 — DocValidation: StatusCode2XX vs HasTitle over a live HTTP mix
  // -------------------------------------------------------------------------

  /** Post-fetch document validation (reference actions/Export.scala:32-130
    * DocValidation) oracle-gated over a live HTTP status/content mix: every
    * 10th document (offset 2) is served by class `doc_id % 3` — a full page
    * with a title (0), a 200 page WITHOUT a title (1), a 404 (2) — and the
    * same id set is fetched under TWO validation policies. `StatusCode2XX`
    * (the default) must keep classes 0 and 1 and route class 2 to the
    * DocError path; `HasTitle` must keep only class 0. The oracle replays
    * the surviving id sets from the class formula alone. (Bypass/HasHead
    * stay spec-pinned — they are the same accept() seam.)
    */
  def q135DocValidation(spark: SparkSession, dir: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 2)
    val server = stubServer()
    server.createContext("/doc", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.stripPrefix("/doc/").toLong
      val (code, body) = (id % 3) match {
        case 0 => (200, s"<html><head><title>doc $id</title></head><body><p>ok</p></body></html>")
        case 1 => (200, "<html><body><p>untitled</p></body></html>")
        case _ => (404, "gone")
      }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(8, Runtime.getRuntime.availableProcessors()))
    server.setExecutor(pool)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/doc"
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long]
      def run(v: graft.doc.DocValidation, tag: String) = {
        // remoteRetries = 0: a deterministic 404/untitled page never heals,
        // and the default 2 retries would triple every planned failure's
        // round-trips — the gate pins CLASSIFICATION, not retry policy
        // (which CacheSpec/HttpSpec cover)
        val ctx = new GraftContext(spark,
          GraftConf(validation = v, cacheEnabled = false, cacheWrite = false,
            remoteRetries = 0))
        ctx.create(ids)
          .fetchOne(id => Trace.of(Wget(s"$base/$id")))
          .succeeded // validation failures took the DocError path
          .select(r => (tag, r.data))
          .dataset
      }
      run(graft.doc.DocValidation.StatusCode2XX, "status2xx")
        .union(run(graft.doc.DocValidation.HasTitle, "has_title"))
        .toDF("validation", "doc_id")
        .orderBy(col("validation"), col("doc_id"))
        .localCheckpoint(true) // force both fetches while the stub is up
    } finally { server.stop(0); pool.shutdown() }
  }

  // -------------------------------------------------------------------------
  // q136 — conf-driven fan-out downsampling (DownSampling.FirstN), gated
  // -------------------------------------------------------------------------

  /** The conf-driven fan-out downsampling (reference conf `DownSampling` —
    * the preview/cost-cap knob every selectMany/flatMap honors) oracle-gated
    * on its deterministic member: with `FirstN(3)`, exploding every 10th
    * document (offset 6) into (position, token) rows keeps exactly the
    * FIRST THREE tokens per document — the oracle replays
    * `list_slice(tokens, 1, 3)` with positional zip. (ByRatio/ToSize stay
    * spec-pinned: they are seeded-hash samples with no SQL-closed form.)
    */
  def q136DownsampleFirstN(spark: SparkSession, dir: String): DataFrame = {
    val ctx = new GraftContext(spark,
      GraftConf(downSampling = graft.conf.DownSampling.FirstN(3)))
    import spark.implicits._
    val rows = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 6)
      .select("doc_id", "text").as[(Long, String)]
    ctx.create(rows)
      .flatMap { case (id, text) =>
        text.split(" ").toSeq.zipWithIndex.map { case (t, i) => (id, i, t) }
      }
      .asDataFrame.toDF("doc_id", "pos", "token")
      .orderBy(col("doc_id"), col("pos"))
  }

  // -------------------------------------------------------------------------
  // q145 — seeded ByRatio/ToSize downsampling, canonically gated
  // -------------------------------------------------------------------------

  /** The SEEDED downsampling members (reference DownsamplingByRatio /
    * DownsamplingToSize — previously spec-only "no SQL-closed form"),
    * gated after the round-20 canonicalization: the draw is now a pure
    * function of (seed, fan-out size, index) via md5 rank, so the oracle
    * replays the kept positions exactly with the same md5. Every 10th
    * document (offset 4) explodes into (pos, token) rows under
    * `ByRatio(0.5)` (keeps ceil(n/2) = (n+1)//2 — ratio 1/2 is exact in
    * binary, so engine `ceil(n·0.5)` and oracle `(n+1)//2` agree
    * unconditionally; 0.4 would NOT: DuckDB parses it as DECIMAL while
    * Scala multiplies doubles) and `ToSize(2)`, seed 7 for both.
    */
  def q145DownsampleSeeded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 4)
      .select("doc_id", "text").as[(Long, String)]
    def run(ds: graft.conf.DownSampling, tag: String) = {
      val ctx = new GraftContext(spark, GraftConf(downSampling = ds))
      ctx.create(rows)
        .flatMap { case (id, text) =>
          text.split(" ").toSeq.zipWithIndex.map { case (t, i) => (tag, id, i, t) }
        }
        .dataset
    }
    run(graft.conf.DownSampling.ByRatio(0.5, seed = 7L), "by_ratio")
      .union(run(graft.conf.DownSampling.ToSize(2, seed = 7L), "to_size"))
      .toDF("mode", "doc_id", "pos", "token")
      .orderBy(col("mode"), col("doc_id"), col("pos"))
  }

  // -------------------------------------------------------------------------
  // q142 — Wayback: per-action cache time travel, gated
  // -------------------------------------------------------------------------

  /** `Wget.wayback` (reference actions/Wayback.scala:7-33 — per-action time
    * travel over the versioned doc cache) oracle-gated end-to-end: every
    * 20th document (offset 17) is fetched at VERSION 1, the source mutates,
    * a cache-bypassing refetch records VERSION 2, and then (a) a wayback
    * read pinned between the two timestamps must return v1 and (b) an
    * unpinned read must return v2 — BOTH served entirely from the cache's
    * version list (asserted: zero remote fetches in either read). Wayback
    * is deliberately NOT part of the trace key (it selects WHICH cached
    * version to read, not what the action is), which is exactly why the
    * pinned read can hit the same key's older version. The memory tier is
    * cleared on entry so every invocation replays the same two-version
    * history (the cache is JVM-global).
    */
  def q142Wayback(spark: SparkSession, dir: String): DataFrame = {
    graft.cache.InMemoryDocCache.clear()
    val fix = fixtureDir(dir, "q142")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 17)
    def writeVersion(tag: String): Unit = {
      FixtureClock.timed {
      docs.select("doc_id", "lang").foreachPartition { (rows: Iterator[Row]) =>
        rows.foreach { r =>
          val id = r.getLong(0)
          graft.agent.DocIO.writeText(fix, s"page_$id.html",
            s"<html><body><p>$tag $id ${r.getString(1)}</p></body></html>")
        }
      }
      }
    }
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    def fetchAll(ctx: GraftContext, wayback: Option[Long]) =
      ctx.create(ids)
        .fetchOne(id => Trace.of(Wget(s"file:$fix/page_$id.html", wayback = wayback)))
        .select(r => (r.data, r.trajectory.texts("p").mkString))
        .asDataFrame

    writeVersion("v1")
    fetchAll(new GraftContext(spark, GraftConf()), None).count() // v1 cached
    val tMid = System.currentTimeMillis()
    Thread.sleep(20) // strict v2 timestamp separation from the pin
    writeVersion("v2")
    // bypass the read tier (a hit would serve v1) but WRITE the new version
    fetchAll(new GraftContext(spark, GraftConf(cacheEnabled = false)), None).count()

    val ctxPinned = new GraftContext(spark, GraftConf())
    val pinned = fetchAll(ctxPinned, Some(tMid))
      .toDF("doc_id", "snapshot").withColumn("version", lit("wayback"))
    val ctxLatest = new GraftContext(spark, GraftConf())
    val latest = fetchAll(ctxLatest, None)
      .toDF("doc_id", "snapshot").withColumn("version", lit("latest"))
    val out = latest.union(pinned)
      .select(col("version"), col("doc_id"), col("snapshot"))
      .orderBy(col("version"), col("doc_id"))
      .localCheckpoint(true)
    require(ctxPinned.metrics.pagesFetched.value == 0,
      "q142: the wayback read must be served from the cache's version list")
    require(ctxLatest.metrics.pagesFetched.value == 0,
      "q142: the latest read must be a plain cache hit")
    out
  }

  // -------------------------------------------------------------------------
  // q140 — directory Wget: the JSON listing doc, gated
  // -------------------------------------------------------------------------

  /** A Wget of a DIRECTORY yields a JSON listing document (reference
    * OmniResolver's directory shape — the crawl-seed discovery path:
    * explore a dump tree without a manifest), oracle-gated: every 20th
    * document (offset 15) materializes a file whose NAME carries its id,
    * ONE fetch of the directory returns the listing doc, and the `entries`
    * node attrs recover every (name → id) — the oracle replays the file
    * set from the id formula. Pins listing JSON shape, entry attributes
    * and name round-tripping in the gated suite (previously spec-only).
    */
  def q140DirListing(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q140")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 15)
    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        graft.agent.DocIO.writeText(fix, s"f_$id.txt", s"doc $id")
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    ctx.create(Seq(0))
      .fetchOne(_ => Trace.of(Wget(s"file:$fix")))
      .selectMany { r =>
        r.trajectory.findAll("entries").flatMap(_.attr("name"))
          .filter(_.startsWith("f_"))
          .map(n => (n.stripPrefix("f_").stripSuffix(".txt").toLong, n))
      }
      .asDataFrame.toDF("doc_id", "name")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q141 — Trajectory.save → readFiles round-trip (the sink AND bulk source)
  // -------------------------------------------------------------------------

  /** The save sink and the bulk-ingest source gated TOGETHER as a
    * round-trip: every 20th document (offset 11) renders as a page, a
    * distributed fetch SAVES every doc body to a second directory
    * (reference AgentContext.scala:134-148 — executor-side writes, no
    * driver collect), and `readFiles` (the binaryFile bulk path:
    * distributed listing, partition-batched payloads) re-ingests the saved
    * corpus through the same Node seam. The recovered (id, message) set
    * must replay from the source formulas — which it can only do if the
    * save wrote intact bytes under resolvable names AND the bulk reader
    * re-parsed them identically to the original fetch.
    */
  def q141SaveRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val fixA = fixtureDir(dir, "q141-src")
    val fixB = fixtureDir(dir, "q141-saved")
    wipe(fixB) // saved names embed the fixture's absolute path
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 11)
    FixtureClock.timed {
    docs.select("doc_id", "lang").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val html =
          s"""<html><head><title>doc $id</title></head>
             |<body><p>saved $id ${r.getString(1)}</p></body></html>""".stripMargin
        graft.agent.DocIO.writeText(fixA, s"page_$id.html", html)
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fixA/page_$id.html")))
      .save(fixB) // distributed DFS sink — body bytes, no driver round-trip
    ctx.readFiles(fixB, glob = Some("*.html"))
      .selectMany { r =>
        r.trajectory.texts("p").map { msg =>
          (msg.split(" ")(1).toLong, msg)
        }
      }
      .asDataFrame.toDF("doc_id", "msg")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q146 — auditing auto-save + error-dump trails, gated via readFiles
  // -------------------------------------------------------------------------

  /** The two side-effect trails (reference Trace.scala:177-186 auditing
    * auto-save; Action.scala:109-129 error dump) oracle-gated together by
    * the q141 pattern — run a fetch mix with both dirs configured, then
    * `readFiles`-scan each dir and recover the id sets from the written
    * BODIES. Every 20th document (offset 7) is served by class
    * `doc_id % 3` (3 ⊥ 20, so the class varies): classes 0/1 are clean
    * pages that must land in the AUDIT dir exactly once each, class 2 is
    * a 404 whose body the validation-failure path must dump to the ERROR
    * dir — and neither set may leak into the other. Both dirs are wiped
    * on entry: audit names embed the stub's (random) port and dump names
    * a timestamp, so stale files from a prior invocation would otherwise
    * leak extra rows.
    */
  def q146AuditTrails(spark: SparkSession, dir: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val auditDir = fixtureDir(dir, "q146-audit")
    val errDir = fixtureDir(dir, "q146-errors")
    wipe(auditDir); wipe(errDir)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 7)
    val server = stubServer()
    server.createContext("/doc", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.stripPrefix("/doc/").toLong
      val (code, body) =
        if (id % 3 == 2) (404, s"<p>gone $id</p>")
        else (200,
          s"<html><head><title>doc $id</title></head><body><p>audited $id</p></body></html>")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(8, Runtime.getRuntime.availableProcessors()))
    server.setExecutor(pool)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/doc"
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false, remoteRetries = 0,
          auditDir = Some(auditDir), errorDumpDir = Some(errDir)))
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long]
      // force every trace (and its executor-side trail writes) while the
      // stub is up; the scan below reads only the dirs
      ctx.create(ids)
        .fetchOne(id => Trace.of(Wget(s"$base/$id")))
        .select(r => r.data).asDataFrame.count()
    } finally { server.stop(0); pool.shutdown() }
    val scanCtx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val audit = scanCtx.readFiles(auditDir, glob = Some("*.html"))
      .selectMany(r => r.trajectory.texts("p").filter(_.startsWith("audited "))
        .map(m => ("audit", m.split(" ")(1).toLong)))
    val errs = scanCtx.readFiles(errDir, glob = Some("*.html"))
      .selectMany(r => r.trajectory.texts("p").filter(_.startsWith("gone "))
        .map(m => ("error", m.split(" ")(1).toLong)))
    audit.dataset.union(errs.dataset)
      .toDF("tier", "doc_id")
      .orderBy(col("tier"), col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q138 — OAuth1-signed fetch, signature VERIFIED on the wire
  // -------------------------------------------------------------------------

  /** `OAuthV2` (reference actions/OAuthV2.scala — OAuth 1.0a HMAC-SHA1
    * request signing) oracle-gated end-to-end: every 20th document (offset
    * 9) fetches a per-doc uri WITH QUERY PARAMETERS through the signing
    * interpreter, and the stub INDEPENDENTLY RE-VERIFIES the signature
    * from the raw wire request alone — it reconstructs the RFC 5849 base
    * string from the request line, Host header and Authorization params
    * (minus the signature), recomputes the HMAC from the shared secrets,
    * and grants only on an exact match. That pins the full client chain —
    * parameter collection across header AND query string, percent-encoding
    * rules, sorted normalization, key construction, header serialization —
    * not just the signing math (which the RFC-vector spec already pins).
    * Query-param values are URL-safe by construction, so the stub's raw
    * split needs no decode pass. The oracle replays the granted set (all
    * ids — an unsigned or mis-signed request would 401 and vanish from it).
    */
  def q138OAuthFetch(spark: SparkSession, dir: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import javax.crypto.Mac
    import javax.crypto.spec.SecretKeySpec
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 9)
    val (ck, cs, tk, ts) = ("graft-ck", "graft-cs", "graft-tk", "graft-ts")
    def pe(x: String): String = java.net.URLEncoder.encode(x, "UTF-8")
      .replace("+", "%20").replace("*", "%2A").replace("%7E", "~")
    val server = stubServer()
    server.createContext("/api", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      val hdr = """([\w%]+)="([^"]*)"""".r.findAllMatchIn(auth)
        .map(m => java.net.URLDecoder.decode(m.group(1), "UTF-8") ->
          java.net.URLDecoder.decode(m.group(2), "UTF-8")).toMap
      val sig = hdr.getOrElse("oauth_signature", "")
      val oauthParams = (hdr - "oauth_signature").toSeq
      val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val qParams = rawQuery.split('&').toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1))
      }
      val host = Option(ex.getRequestHeaders.getFirst("Host")).getOrElse("?")
      val baseUrl = s"http://$host${ex.getRequestURI.getPath}"
      val normalized = (oauthParams.map { case (k, v) => pe(k) -> pe(v) } ++ qParams)
        .sortBy(identity).map { case (k, v) => s"$k=$v" }.mkString("&")
      val baseStr = Seq("GET", pe(baseUrl), pe(normalized)).mkString("&")
      val mac = Mac.getInstance("HmacSHA1")
      mac.init(new SecretKeySpec(s"${pe(cs)}&${pe(ts)}".getBytes("UTF-8"), "HmacSHA1"))
      val expect = java.util.Base64.getEncoder.encodeToString(
        mac.doFinal(baseStr.getBytes("UTF-8")))
      val id = qParams.collectFirst { case ("doc", v) => v }.getOrElse("?")
      val granted = auth.startsWith("OAuth ") &&
        hdr.get("oauth_consumer_key").contains(ck) &&
        hdr.get("oauth_signature_method").contains("HMAC-SHA1") && sig == expect
      val body = if (granted) s"<p>granted doc $id</p>" else "<p>denied</p>"
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html")
      ex.sendResponseHeaders(if (granted) 200 else 401, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(8, Runtime.getRuntime.availableProcessors()))
    server.setExecutor(pool)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/api"
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false))
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long]
      ctx.create(ids)
        .fetchOne(id => Trace.of(graft.actions.OAuthV2(
          Wget(s"$base?doc=$id&tag=corpus"), ck, cs, tk, ts)))
        .succeeded // a 401 (bad signature) takes the error path and vanishes
        .select(r => (r.data, r.trajectory.texts("p").mkString))
        .asDataFrame.toDF("doc_id", "grant")
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // force the signed fetches while the stub is up
    } finally { server.stop(0); pool.shutdown() }
  }

  // -------------------------------------------------------------------------
  // q137 — sibling-window extraction + breadcrumb (the record-y doc ops)
  // -------------------------------------------------------------------------

  /** `findAllWithSiblings` (reference HtmlNode.scala:82-109 — the
    * header-plus-its-rows extraction shape every listing/table scrape
    * needs) and `breadcrumb` oracle-gated: every 10th document (offset 8)
    * renders as a `<ul>` of `2 + doc_id % 3` GROUPS — a header `<li
    * class="h">` followed by two value items — and each header match
    * expands to a sibling window of range 0..4 that must CLIP at the next
    * header (the neighboring-match stop rule), yielding exactly [header,
    * va, vb] for every group including the last (where the list end, not a
    * stop, bounds it). The window texts and the match's breadcrumb
    * (html>body>ul>li) are id-formula-replayable.
    */
  def q137SiblingWindows(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q137")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 8)

    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val groups = (0 until (2 + id % 3).toInt).map { j =>
          s"""<li class="h">h $id $j</li><li>va $id $j</li><li>vb $id $j</li>"""
        }.mkString("\n")
        val html =
          s"""<html><head><title>doc $id</title></head>
             |<body><ul>
             |$groups
             |</ul></body></html>""".stripMargin
        graft.agent.DocIO.writeText(fix, s"page_$id.html", html)
      }
    }
    }

    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/page_$id.html")))
      .selectMany { r =>
        val root = r.trajectory.doc.get.root
        root.findAllWithSiblings("li.h", 0 to 4).zipWithIndex.map {
          case (win, j) =>
            (r.data, j, win.map(_.text).mkString(" | "),
              win.head.breadcrumb.mkString(">"))
        }
      }
      .asDataFrame.toDF("doc_id", "grp", "window", "crumb")
      .orderBy(col("doc_id"), col("grp"))
  }

  // -------------------------------------------------------------------------
  // q126 — fork: doc-node lateral join (Inner vs Outer)
  // -------------------------------------------------------------------------

  /** Every 14th document becomes an HTML page carrying `doc_id % 3` keyword
    * spans (14 ⊥ 3, so counts cycle 0/2/1 — zero-match pages included);
    * [[graft.api.FetchedView.forkIndexed]] explodes the spans into child
    * rows carrying the parent payload AND the child's ordinal — the
    * reference legacy `fork` (execution/Delta.scala:92-126, exercised by
    * the reference's integration fork suite + ExploreIT.scala:34-38). Inner drops the
    * zero-match pages, Outer keeps them as a null child (explode vs
    * explode_outer semantics — the two runs' row counts DIFFER by the
    * k=0 page count, which is what the gate pins). Both fork types run
    * over ONE persisted fetch; the oracle replays the fan-out from the id
    * formulas alone (`unnest(range(doc_id % 3))`).
    */
  def q126Fork(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q126")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 14 === 0)

    FixtureClock.timed {
    docs.select("doc_id", "lang").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val items = (0 until (id % 3).toInt)
          .map(j => s"""<span class="kw">kw $id $j ${r.getString(1)}</span>""")
          .mkString("\n")
        val html =
          s"""<html><head><title>doc $id</title></head><body>
             |$items
             |</body></html>""".stripMargin
        graft.agent.DocIO.writeText(fix, s"page_$id.html", html)
      }
    }
    }

    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    val fetched = ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/page_$id.html")))
      .persist() // one fetch feeds BOTH fork types
    def run(ft: graft.api.ForkType, tag: String) =
      fetched.forkIndexed("span.kw", ft)((n, i) => (i, n.text))
        .map { case (id, child) => (tag, id, child.map(_._1), child.map(_._2)) }
        .dataset
    val out = run(graft.api.ForkType.Inner, "inner")
      .union(run(graft.api.ForkType.Outer, "outer"))
      .toDF("fork_type", "doc_id", "ordinal", "item")
      .orderBy(col("fork_type"), col("doc_id"), col("ordinal").asc_nulls_first)
      .localCheckpoint(true) // materialize before the shared fetch unpersists
    fetched.unpersist()
    out
  }

  // -------------------------------------------------------------------------
  // q127 — Wpost: HTTP POST + (uri, entity) trace dedup
  // -------------------------------------------------------------------------

  /** Every 20th document (offset 5)'s text is POSTed TWICE to ONE echo
    * endpoint (reference actions/Wpost.scala:16-103) and the echoed JSON
    * body is recovered through the node tree. The trace key of a Wpost is
    * (uri, entity, contentType) — so the duplicated row per document does
    * NOT refetch (same key → one execution, both rows share the result),
    * while every DISTINCT text does (all share the single uri) — the
    * nonIdempotent × Wide global-dedup contract (FetchExec.scala Wide
    * path), asserted on `pagesFetched` INSIDE the query: exactly one POST
    * per distinct entity, per invocation (doc cache disabled so the pin is
    * exact every run). The in-JVM HTTP stub is the oracle seam (local[*]
    * shares the JVM); on a cluster the
    * target is a real service and the engine path is byte-identical.
    */
  def q127Wpost(spark: SparkSession, dir: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 5)
    val server = stubServer()
    server.createContext("/echo", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val resp = s"""{"method":${JsonNode.quote(ex.getRequestMethod)},"body":${JsonNode.quote(body)}}"""
        .getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    // the pool MUST be shut down explicitly: server.stop() does not own a
    // user-supplied executor, and its non-daemon threads would otherwise
    // keep the whole JVM alive after the session ends (a hung Verify run)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(8, Runtime.getRuntime.availableProcessors()))
    server.setExecutor(pool)
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}/echo"
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false))
      import spark.implicits._
      val rows = docs.select("doc_id", "text").as[(Long, String)]
      val out = ctx.create(rows)
        .flatMap(r => Seq(r, r)) // duplicate rows: FetchExec dedups (uri, entity)
        .fetchOne { case (_, text) => Trace.of(graft.actions.Wpost(uri, entity = text)) }
        .select { r =>
          val root = r.trajectory.doc.get.root
          (r.data._1, root.children("method").head.text,
            root.children("body").head.text)
        }
        .asDataFrame.toDF("doc_id", "method", "echoed")
        .distinct() // collapse the 2x duplicates after extraction
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // force the fetch while the stub is up
      val expected = docs.select("text").distinct().count()
      val got = ctx.metrics.pagesFetched.value
      require(got == expected,
        s"q127: POST dedup violated — $got POSTs for $expected distinct (uri, entity) keys")
      out
    } finally { server.stop(0); pool.shutdown() }
  }

  // -------------------------------------------------------------------------
  // q128 — exploreBestFirst, BATCHED: the q114 crawl at batchSize 4
  // -------------------------------------------------------------------------

  private val BF_BATCH = 4

  /** q114's batched twin: the same 63-page tree, same priority permutation,
    * same budget of [[BF_BUDGET]] — but each round pops min([[BF_BATCH]],
    * remaining, |frontier|) pages at once (ExploreExec.scala's batched
    * selection — the driver-latency amortization every real best-first
    * crawl needs: priority is a global decision, so rounds are inherently
    * sequential and `budget/batchSize` bounds the round count; the census
    * spec pins the ~4× round shrink). The VISITED SET DIFFERS from q114's
    * (a batch commits to 4 pages before seeing what the first reveals —
    * textbook greedy-vs-batched divergence), so the gate pins the batched
    * semantics specifically: the oracle's recursive CTE pops k=min(4,
    * remaining, |frontier|) per step and carries the popped LIST per row.
    */
  def q128ExploreBestFirstBatched(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q128")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < TREE_N)

    FixtureClock.timed {
    docs.select("doc_id", "lang").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val kids = Seq(2 * id + 1, 2 * id + 2).filter(_ < TREE_N)
        val links = kids.map(k => s"""<a href="page_$k.html">child $k</a>""").mkString("\n")
        val html =
          s"""<html><head><title>doc $id ${r.getString(1)}</title></head>
             |<body>$links</body></html>""".stripMargin
        graft.agent.DocIO.writeText(fix, s"page_$id.html", html)
      }
    }
    }

    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:$fix/page_0.html"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        linkExpand,
        priority = (_, u) => bestFirstScore(u),
        fetchBudget = BF_BUDGET, batchSize = BF_BATCH)
      .select { r =>
        val parts = r.row.trajectory.texts("title").mkString.split(" ")
        (parts(1).toLong, parts(2), r.depth)
      }
    explored.asDataFrame.toDF("doc_id", "lang", "depth").orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q143 — Loop: cursor pagination until failure or limit, UIDs re-indexed
  // -------------------------------------------------------------------------

  private val LOOP_LIMIT = 3

  /** `Loop` (reference ControlBlock.scala:133-163 — repeat the body trace
    * until failure or `limit`, observations CONCATENATED and UIDs
    * RE-INDEXED over the concatenation) oracle-gated against a live
    * cursor-paginated endpoint: every 20th document (offset 13) owns a
    * server-side cursor that serves page k on the k-th request and a 404
    * once the formula depth `doc_id % 7` is exhausted (7 ⊥ 20, so the
    * depth VARIES across the subset — 4|20 and 5|20 would freeze it).
    * `Loop(Wget(next), limit = 3)` must keep exactly `min(depth, 3)` pages
    * per id — the 404 becomes a DocError through the q135 validation seam,
    * which terminates the loop with the errored iteration's output dropped
    * (the reference's throwing-fetch terminator, translated) — and the
    * exported `(block_index, block_total)` pins the re-indexing: page k
    * carries index k over a total of min(depth, 3). Fetch count asserted
    * in-query: Σ min(d,3) + [d < 3] (the terminating probe costs one
    * request; ids that hit the limit never probe). The in-JVM stateful
    * stub is the oracle seam (see [[stubServer]]); on a cluster
    * the cursor lives server-side and the engine path is byte-identical.
    */
  def q143Loop(spark: SparkSession, dir: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 13)
    val cursors = new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicInteger]()
    val server = stubServer()
    server.createContext("/next", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.stripPrefix("/next/").toLong
      val k = cursors.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger(0))
        .getAndIncrement()
      val depth = (id % 7).toInt
      val (code, body) =
        if (k < depth) (200, s"<html><body><p>page $id $k</p></body></html>")
        else (404, s"exhausted $id")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(8, Runtime.getRuntime.availableProcessors()))
    server.setExecutor(pool)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/next"
      // cache off: every iteration re-requests the SAME uri and must reach
      // the server's cursor; retries off: the 404 terminator is deterministic
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false, remoteRetries = 0))
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long]
      // persist: orderBy's range-partitioner SAMPLES its input, which would
      // re-run an unpersisted fetch — against a stateful cursor stub the
      // second pass sees different pages (and double-counts requests)
      val fetched = ctx.create(ids)
        .fetchOne(id => Trace.of(graft.actions.Loop(
          Trace.of(Wget(s"$base/$id")), limit = LOOP_LIMIT)))
        .persist()
      val out = fetched
        .selectMany { r =>
          r.trajectory.docs.map { d =>
            (r.data, d.uid.blockIndex, d.uid.blockTotal,
              d.root.findAll("p").head.text)
          }
        }
        .asDataFrame.toDF("doc_id", "page_no", "total", "msg")
        .orderBy(col("doc_id"), col("page_no"))
        .localCheckpoint(true) // force the fetch while the stub is up
      fetched.unpersist()
      val expected = docs
        .select(sum(least(col("doc_id") % 7, lit(LOOP_LIMIT)) +
          when(col("doc_id") % 7 < LOOP_LIMIT, 1L).otherwise(0L)))
        .first().getLong(0)
      val got = ctx.metrics.pagesFetched.value
      require(got == expected,
        s"q143: Loop fetch count — $got requests, expected $expected " +
          s"(sum of min(depth, limit) + one terminating probe below the limit)")
      out
    } finally { server.stop(0); pool.shutdown() }
  }

  // -------------------------------------------------------------------------
  // q144 — LocalRetry: bounded in-trace retry, success set + request count
  // -------------------------------------------------------------------------

  /** `LocalRetry` (reference ControlBlock.scala:74-120 — re-run the body on
    * failure up to `retries` times, re-raise on exhaustion) oracle-gated
    * against a per-key flaky endpoint: every 20th document (offset 19)
    * fails its first `doc_id % 7` requests (404) and succeeds from then on
    * (a server-side request counter). Under `LocalRetry(retries = 2)` with
    * trace retries OFF, ids with fail_count ≤ 2 must succeed on attempt
    * fail_count + 1 and the rest must exhaust into the whole-trace
    * DocError route (the reference's re-raise) — `.succeeded` keeps
    * exactly the ids with `doc_id % 7 ≤ 2`. The request count is asserted
    * in-query: Σ min(fail_count, 2) + 1 per id (failures cost exactly the
    * retry budget, survivors exactly their heal point).
    */
  def q144LocalRetry(spark: SparkSession, dir: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 19)
    val counters = new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicInteger]()
    val server = stubServer()
    server.createContext("/flaky", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.stripPrefix("/flaky/").toLong
      val c = counters.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger(0))
        .getAndIncrement()
      val (code, body) =
        if (c < (id % 7).toInt) (404, s"err $id try $c")
        else (200, s"<html><head><title>ok $id</title></head><body><p>ok $id</p></body></html>")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(8, Runtime.getRuntime.availableProcessors()))
    server.setExecutor(pool)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/flaky"
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false, remoteRetries = 0))
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long]
      // persist: orderBy's sampling pass must not re-run the fetch — the
      // flaky stub's counters advance, so a re-run would "heal" ids that
      // must stay failed (and double-count requests)
      val fetched = ctx.create(ids)
        .fetchOne(id => Trace.of(graft.actions.LocalRetry(
          Trace.of(Wget(s"$base/$id")), retries = 2)))
        .persist()
      val out = fetched
        .succeeded // exhausted retries took the whole-trace DocError route
        .select(r => (r.data, r.trajectory.texts("p").mkString))
        .asDataFrame.toDF("doc_id", "msg")
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // force the fetch while the stub is up
      fetched.unpersist()
      val expected = docs
        .select(sum(least(col("doc_id") % 7, lit(2L)) + lit(1L)))
        .first().getLong(0)
      val got = ctx.metrics.pagesFetched.value
      require(got == expected,
        s"q144: LocalRetry request count — $got requests, expected $expected " +
          s"(min(fail_count, retries) + 1 per id)")
      out
    } finally { server.stop(0); pool.shutdown() }
  }

  // -------------------------------------------------------------------------
  // q131 — image near-dup end-to-end: decode → aHash → Hamming pigeonhole
  // -------------------------------------------------------------------------

  /** The full image-dedup pipeline composed end-to-end over a PNG corpus
    * with PLANTED duplicates: every 200th document renders as a q46-style
    * PNG, each gets an identical twin at id+2304 (2304 = lcm(256, 16, 9):
    * same pixels, same dims — found at hamming 0), and every other base
    * gets a FAR twin at id+1152 (same dims, every pixel shifted +128 mod
    * 256 — hamming ≈ 56, excluded by the ≤ 5 gate). Pipeline: binaryFile
    * ingest → JDK decode → 64-bit aHash ([[Multimodal.decodeMediaDF]]) →
    * [[Multimodal.imageNearDupPairs]] (q45's Manku-style pigeonhole block
    * join + salted hot-bucket guard — never all-pairs). The oracle
    * recomputes every aHash bit from the synth formulas in pure integer
    * arithmetic (sample s(k), bit ⇔ 64·s(k) > Σs — the strict-mean test
    * without the float) and self-joins for the exact hamming, so planted
    * AND incidental pairs (same-dims pages whose pixel patterns coincide)
    * reproduce bit-for-bit.
    */
  def q131ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q131")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 200 === 3)

    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        def write(fid: Long): Unit =
          graft.agent.DocIO.writeBytes(fix, s"media_$fid.png",
            Multimodal.Synth.png((1 + fid % 16).toInt, (1 + fid % 9).toInt, fid))
        write(id)
        write(id + 2304) // identical twin: lcm(256,16,9) preserves pixels+dims
        if (id % 400 == 203) write(id + 1152) // far twin: +128 mod 256 pixels
      }
    }
    }

    val decoded = Multimodal.decodeMediaDF(spark, ingestFixtureMedia(spark, fix).toDF())
      .filter(col("kind") === "image")
    Multimodal.imageNearDupPairs(decoded, maxHamming = 5)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // -------------------------------------------------------------------------
  // q34 — IVF ANN (the scale path; q29 brute force is its recall oracle)
  // -------------------------------------------------------------------------

  /** Raw float32 embedding + native vec_dot norm (see [[SimQ]] — same
    * arithmetic as the oracle's cast-to-double, half the shuffle bytes).
    */
  private def withNormE(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(graft.functions.vec_dot(col("embedding"), col("embedding"))))
      .withColumnRenamed("embedding", "v")

  /** 8 deterministic centroids (vectors 10..17), 3 probes, top-10. Unlike
    * q29 there is NO corpus × queries crossJoin: the corpus is tagged with a
    * cell id map-side and only probed cells flow into ranking.
    */
  def q34AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = withNormE(spark, dir)
    val centroids = e.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select((col("vec_id") - 10).as("cell_id"), col("v").as("cv"), col("norm").as("cnorm"))
    val corpus = Ann.assignCells(e.select(col("vec_id"), col("v"), col("norm")), centroids)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    Ann.search(corpus, queries, centroids, nProbes = 3, k = 10)
      .orderBy(col("q_id"), col("rank"))
  }

  // -------------------------------------------------------------------------
  // q42 — LSH ANN (random hyperplanes; the bucketed alternative to q34)
  // -------------------------------------------------------------------------

  /** 8 deterministic hyperplanes (vectors 20..27 — drawn from the corpus so
    * the DuckDB oracle can recompute the EXACT signatures from the table
    * alone), 8-bit signatures in 2 bands of 4, top-10 by exact cosine over
    * band-sharing candidates. Collecting the 8 plane rows driver-side is an
    * index-definition fetch (broadcast-dimension class), not a data
    * collect; signature tagging itself is map-side ([[Ann.lshTag]]).
    */
  def q42AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = withNormE(spark, dir)
    val planes = e.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select(col("vec_id"), col("v")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray)
    val corpus = Ann.lshTag(
      e.select(col("vec_id"), col("v"), col("norm")), "v", "sig", planes)
    val queries = Ann.lshTag(
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn")),
      "qv", "qsig", planes)
    Ann.lshSearch(corpus, queries, nBits = 8, bandBits = 4, k = 10)
      .orderBy(col("q_id"), col("rank"))
  }

  // -------------------------------------------------------------------------
  // q36 — embedding-cosine near-duplicate detection, IVF-pruned
  // -------------------------------------------------------------------------

  /** Near-dup candidate generation over embeddings WITHOUT the O(n²)
    * all-pairs join: vectors are cell-tagged (map-side, shared with q34) and
    * only same-cell pairs are scored — the standard embedding-dedup shape at
    * scale. The pair join goes through [[Ann.nearDupPairs]], which applies
    * the hot-cell guard (cells above 4x the mean split into sub-cells, so
    * one mega-cluster can never turn the join quadratic); at production
    * scale the cell count itself should be ~sqrt(n) ([[Ann.autoCellCount]] /
    * [[Ann.buildIndex]]) — the 8 fixed centroids here exist so the DuckDB
    * oracle can replicate the assignment exactly. Output: top-50 pairs
    * by cosine (this corpus plants no near-identical vectors, so a fixed
    * 0.9x threshold would be vacuous; ranked output validates real values).
    */
  def q36EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = withNormE(spark, dir)
    val centroids = e.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select((col("vec_id") - 10).as("cell_id"), col("v").as("cv"), col("norm").as("cnorm"))
    val corpus = Ann.assignCells(e.select(col("vec_id"), col("v"), col("norm")), centroids)
      .persist() // the size aggregate + both sides of the pair join read the cell-tagged corpus
    // hot-cell cap at 4x the mean cell size: near-uniform corpora (this one)
    // are untouched — the oracle joins on cell_id alone — while a skewed cell
    // gets split instead of exploding the join
    // materialize (top-50 only, executor-held blocks cleaned by the
    // ContextCleaner once unreferenced) so the input persist can be
    // released here instead of leaking across queries
    val out = new graft.scale.Held(spark.sparkContext).frame(
      Ann.nearDupPairsBySkew(corpus, skewFactor = 4.0)
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(50))
    corpus.unpersist(false)
    out
  }

  // -------------------------------------------------------------------------
  // q37 — PDF ingestion: generated PDFs fetched + text-extracted end-to-end
  // -------------------------------------------------------------------------

  /** PDF literal-string escaping (ISO-8859-1 byte strings; controls and
    * high bytes as octal — matches the extractor's unescaping exactly).
    */
  private def pdfEscape(s: String): String = s.flatMap {
    case '\\'               => "\\\\"
    case '('                => "\\("
    case ')'                => "\\)"
    case c if c < ' ' || c > '~' => f"\\${(c.toInt & 0xFF)}%03o"
    case c                  => c.toString
  }

  /** Minimal single-page PDF with `text` as an uncompressed content stream. */
  private def minimalPdf(text: String): Array[Byte] = {
    val body = s"BT /F1 11 Tf 72 720 Td (${pdfEscape(text)}) Tj ET"
    ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${body.length} >> stream\n" +
      body +
      "\nendstream endobj\n%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
  }

  /** Every 25th document becomes a PDF on disk; the engine Wgets each one
    * and recovers the text purely through the Node seam (mime sniff →
    * PdfNode → BT/ET text operators) — the whole PDF ingestion path under
    * the DuckDB gate. The oracle reads the source table directly: extraction
    * must be LOSSLESS for printable-ASCII text.
    */
  def q37PdfExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q37")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 0)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"doc_${r.getLong(0)}.pdf",
          minimalPdf(r.getString(1)))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.pdf")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "pdf_text")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q38 — OOXML ingestion: generated .docx fetched + text-extracted
  // -------------------------------------------------------------------------

  private def xmlEscape(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case c   => c.toString
  }

  /** Minimal valid-enough docx: a zip whose word/document.xml holds `text`
    * as one paragraph run.
    */
  private def minimalDocx(text: String): Array[Byte] = {
    val xml =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
        "<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">" +
        "<w:body><w:p><w:r><w:t xml:space=\"preserve\">" + xmlEscape(text) +
        "</w:t></w:r></w:p></w:body></w:document>"
    val bout = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bout)
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    z.write(xml.getBytes(StandardCharsets.UTF_8))
    z.closeEntry()
    z.close()
    bout.toByteArray
  }

  /** Minimal EPUB: the OCF `mimetype` entry (STORED first, per spec) plus
    * one XHTML chapter holding `text` — enough for [[graft.doc.EpubNode]]'s
    * chapter walk (and for real readers to identify the container).
    */
  private def minimalEpub(text: String): Array[Byte] = {
    val bout = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bout)
    val mt = "application/epub+zip".getBytes(StandardCharsets.US_ASCII)
    val e = new java.util.zip.ZipEntry("mimetype")
    e.setMethod(java.util.zip.ZipEntry.STORED)
    e.setSize(mt.length); e.setCompressedSize(mt.length)
    val crc = new java.util.zip.CRC32(); crc.update(mt); e.setCrc(crc.getValue)
    z.putNextEntry(e); z.write(mt); z.closeEntry()
    z.putNextEntry(new java.util.zip.ZipEntry("OEBPS/chapter1.xhtml"))
    z.write(("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<html xmlns=\"http://www.w3.org/1999/xhtml\"><body><p>" +
      xmlEscape(text) + "</p></body></html>").getBytes(StandardCharsets.UTF_8))
    z.closeEntry(); z.close()
    bout.toByteArray
  }

  /** q78 — EPUB ingestion: every 25th document (offset 21) becomes an
    * `.epub` (OCF zip, [[minimalEpub]]); the engine recovers the chapter
    * text purely through the Node seam (extension mime sniff → EpubNode
    * zip walk → XHTML body text). Lossless through XML escaping.
    */
  def q78EpubExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q78")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 21)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"book_${r.getLong(0)}.epub",
          minimalEpub(r.getString(1)))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/book_$id.epub")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "epub_text")
      .orderBy(col("doc_id"))
  }

  /** Every 25th document (offset 7 — disjoint from q37's PDFs) becomes a
    * .docx on disk; the engine Wgets each one and recovers the text purely
    * through the Node seam (extension mime sniff → OfficeNode zip walk →
    * w:t runs, entity-decoded) — the whole OOXML ingestion path under the
    * DuckDB gate. The oracle reads the source table: extraction must be
    * LOSSLESS round-tripped through XML escaping.
    */
  def q38DocxExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q38")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 7)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"doc_${r.getLong(0)}.docx",
          minimalDocx(r.getString(1)))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.docx")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "docx_text")
      .orderBy(col("doc_id"))
  }

  /** q65 — legacy Word ingestion (the q38 posture, CFB edition): every 25th
    * document (offset 9 — disjoint from q37's PDFs and q38's docx) becomes
    * a real `.doc` on disk — a CFB container whose WordDocument stream
    * holds the text as a UTF-16 piece with its piece table in `1Table`
    * ([[graft.doc.CfbNode.writeDoc]]) — and the engine recovers the text
    * purely through the Node seam (extension/magic mime sniff → CFB
    * FAT/directory walk → FIB → piece table). The oracle reads the source
    * table: extraction must be LOSSLESS, any Unicode.
    */
  def q65DocExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q65")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 9)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"doc_${r.getLong(0)}.doc",
          graft.doc.CfbNode.writeDoc(r.getString(1)))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.doc")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "doc_text")
      .orderBy(col("doc_id"))
  }

  /** q77 — RTF ingestion: every 25th document (offset 19 — disjoint from
    * the other fixture families) becomes an `.rtf` on disk
    * ([[graft.doc.RtfNode.write]] — control-char escapes + `\uN` unicode)
    * and the engine recovers the text purely through the Node seam
    * (mime/magic sniff → the RTF control-word interpreter). The oracle
    * reads the source table: extraction must be LOSSLESS.
    */
  def q77RtfExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q77")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 19)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"doc_${r.getLong(0)}.rtf",
          graft.doc.RtfNode.write(r.getString(1)).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.rtf")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "rtf_text")
      .orderBy(col("doc_id"))
  }

  /** q91 — email (.eml) ingestion: every 25th document (offset 23 —
    * disjoint from the other fixture families) becomes an RFC 5322 / MIME
    * multipart message on disk ([[graft.doc.EmlNode.write]]: RFC 2047
    * B-word subject, quoted-printable body part, base64 attachment part)
    * and the engine recovers subject + both part texts purely through the
    * Node seam (extension mime → header parse → boundary walk → per-part
    * transfer decode). The oracle recomposes the same three blocks from
    * the source table: extraction must be LOSSLESS through all three MIME
    * encodings at once.
    */
  def q91EmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q91")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 23)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"mail_${r.getLong(0)}.eml",
          graft.doc.EmlNode.write(
            s"✉ Corpus doc ${r.getLong(0)}", r.getString(1), r.getString(1)))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/mail_$id.eml")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "eml_text")
      .orderBy(col("doc_id"))
  }

  /** q92 — mbox mail-dump ingestion: the BULK container for q91's `.eml`
    * leg (every 25th doc, offset 3 — disjoint from the other fixture
    * families) — messages written through [[graft.doc.EmlNode.write]] are
    * packed ~8 per mbox segment ([[graft.sources.Mbox.write]]: RFC 4155
    * postmarks + mboxrd quoting), then ingested DISTRIBUTED through
    * [[graft.sources.Mbox.read]] (binaryFile listing + per-task streaming
    * split — the WARC constant-memory shape) and recovered through the
    * Node seam. The doc id rides the 2047-encoded subject; the oracle
    * recomposes subject+body+attachment from the source table — lossless
    * through the container AND all three MIME encodings.
    */
  /** q98 — TIFF/EXIF metadata ingestion: every 25th document (offset 1 —
    * disjoint from the other fixture families) becomes a real baseline
    * `.tif` ([[graft.doc.TiffNode.write]]: pixel strip + ASCII tags + an
    * EXIF sub-IFD), fetched through the Node seam and recovered from the
    * IFD walk — ImageDescription carries the corpus text, Artist/
    * UserComment carry id-derived strings, and width/height are pinned
    * id arithmetic, so the WHOLE tag walk (both value-location modes,
    * the EXIF pointer, the numeric tags) is load-bearing for the hash.
    */
  def q98TiffExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q98")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 1)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        graft.agent.DocIO.writeBytes(fix, s"img_$id.tif",
          graft.doc.TiffNode.write((1 + id % 64).toInt, (1 + id % 37).toInt,
            r.getString(1), s"doc $id", s"uc $id"))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/img_$id.tif")))
      .select { r =>
        val t = r.trajectory.doc.get.root.findAll("tiff").head
        (r.data, t.attr("width").get.toLong, t.attr("height").get.toLong,
          t.attr("ImageDescription").get, t.attr("Artist").get,
          t.attr("UserComment").get)
      }
      .asDataFrame.toDF("doc_id", "width", "height", "tiff_text", "artist", "user_comment")
      .orderBy(col("doc_id"))
  }

  /** q99 — PostScript text extraction: every 25th document (offset 2)
    * becomes a DSC-conformant `.ps` ([[graft.doc.PsNode.write]]: one
    * `moveto … show` per line, octal-escaped UTF-8 string bytes) and the
    * show-operator scan recovers the text exactly — the PDF leg's (q37)
    * sibling for the pre-PDF print format Tika also normalizes.
    */
  def q99PsExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q99")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 2)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"doc_${r.getLong(0)}.ps",
          graft.doc.PsNode.write(r.getString(1)))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.ps")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "ps_text")
      .orderBy(col("doc_id"))
  }

  /** q100 — JPEG/EXIF ingestion: every 25th document (offset 4) becomes a
    * REAL decodable grayscale JPEG (JDK ImageIO encoder) with an EXIF APP1
    * spliced after SOI ([[graft.doc.JpegNode.write]]); the marker walk
    * recovers frame dimensions from SOF and delegates the APP1's TIFF
    * payload to the SAME IFD walk q98 gates — one parser, two containers,
    * both oracle-pinned.
    */
  def q100JpegExif(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q100")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 4)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        graft.agent.DocIO.writeBytes(fix, s"photo_$id.jpg",
          graft.doc.JpegNode.write((8 + id % 16).toInt, (8 + id % 9).toInt,
            r.getString(1), s"doc $id", s"uc $id"))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/photo_$id.jpg")))
      .select { r =>
        val root = r.trajectory.doc.get.root
        val j = root.findAll("jpeg").head
        val t = root.findAll("tiff").head
        (r.data, j.attr("width").get.toLong, j.attr("height").get.toLong,
          t.attr("ImageDescription").get, t.attr("Artist").get,
          t.attr("UserComment").get)
      }
      .asDataFrame.toDF("doc_id", "width", "height", "tiff_text", "artist", "user_comment")
      .orderBy(col("doc_id"))
  }

  /** q101 — PNG textual-chunk ingestion: every 25th document (offset 6)
    * gets the corpus text spliced into its synthetic PNG as tEXt/iTXt
    * chunks ([[graft.doc.PngNode.withText]] — iTXt/UTF-8 whenever the
    * value isn't latin-1-safe, the real-writer rule); the chunk walk
    * recovers IHDR dimensions and the keyword→text map.
    */
  def q101PngText(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q101")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 6)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        graft.agent.DocIO.writeBytes(fix, s"shot_$id.png",
          graft.doc.PngNode.withText(
            Multimodal.Synth.png((1 + id % 16).toInt, (1 + id % 9).toInt, id),
            Seq("Title" -> s"doc $id", "Description" -> r.getString(1))))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/shot_$id.png")))
      .select { r =>
        val p = r.trajectory.doc.get.root.findAll("png").head
        (r.data, p.attr("width").get.toLong, p.attr("height").get.toLong,
          p.attr("Title").get, p.attr("Description").get)
      }
      .asDataFrame.toDF("doc_id", "width", "height", "title", "png_text")
      .orderBy(col("doc_id"))
  }

  /** q103 — subtitle ingestion (SubRip + WebVTT): every 25th document
    * (offset 8) becomes a cue file — words in groups of 7 as 2-second
    * cues, SRT for even ids, VTT (with cue settings the parser must skip)
    * for odd — and the cue walk recovers format, cue count, total duration
    * and the reassembled text. The oracle recomputes the 7-word chunking
    * from the source table (the q82 chunk shape), so cue SEGMENTATION is
    * load-bearing for the hash, not just concatenated text.
    */
  def q103Subtitles(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q103")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 8)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        val cues = r.getString(1).split(" ").grouped(7).map(_.mkString(" ")).toSeq
        if (id % 2 == 0)
          graft.agent.DocIO.writeBytes(fix, s"sub_$id.srt",
            graft.doc.SubtitleNode.writeSrt(cues))
        else
          graft.agent.DocIO.writeBytes(fix, s"sub_$id.vtt",
            graft.doc.SubtitleNode.writeVtt(cues))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(
        s"file:$fix/sub_$id.${if (id % 2 == 0) "srt" else "vtt"}")))
      .select { r =>
        val s = r.trajectory.doc.get.root.findAll("subtitles").head
        val text = s.findAll("cues").map(_.attr("text").getOrElse("")).mkString("\n")
        (r.data, s.attr("format").get, s.attr("n_cues").get.toLong,
          s.attr("total_ms").get.toLong, text)
      }
      .asDataFrame.toDF("doc_id", "fmt", "n_cues", "total_ms", "sub_text")
      .orderBy(col("doc_id"))
  }

  def q92MboxIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Mbox
    val fix = fixtureDir(dir, "q92")
    import spark.implicits._
    FixtureClock.timed {
    Tables.documents(spark, dir).filter(col("doc_id") % 25 === 3)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey(_._1 / 200)
      .mapGroups { (seg, it) =>
        val msgs = it.toArray.sortBy(_._1).map { case (id, text) =>
          graft.doc.EmlNode.write(s"✉ Corpus doc $id", text, text)
        }
        graft.agent.DocIO.writeBytes(fix, f"archive_$seg%05d.mbox",
          Mbox.write(msgs.toIndexedSeq))
        seg
      }.collect() // force the fixture writes before the read-back scan
    }
    Mbox.read(spark, s"$fix/*.mbox")
      .map { m =>
        val text = graft.doc.Node.parse(m.raw, "message/rfc822").text
        (text.takeWhile(_ != '\n').split(' ').last.toLong, text)
      }
      .toDF("doc_id", "eml_text")
      .orderBy(col("doc_id"))
  }

  /** q67 — legacy Excel ingestion: every 25th document (offset 11) becomes
    * a `.xls` whose BIFF8 SST holds the text ([[graft.doc.CfbNode
    * .writeXls]]); the Node seam recovers sheet name + SST string as
    * blocks (CFB walk → Workbook record chain). Lossless, any Unicode.
    */
  def q67XlsExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q67")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 11)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"sheet_${r.getLong(0)}.xls",
          graft.doc.CfbNode.writeXls("Data", Seq(r.getString(1))))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/sheet_$id.xls")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "xls_text")
      .orderBy(col("doc_id"))
  }

  /** q68 — legacy PowerPoint ingestion: every 25th document (offset 13)
    * becomes a `.ppt` whose PowerPoint Document stream holds the text as a
    * [MS-PPT] text atom inside Document → SlideListWithText containers
    * ([[graft.doc.CfbNode.writePpt]]); the Node seam recovers it through
    * the CFB walk → record-tree walk → TextCharsAtom/TextBytesAtom decode.
    * Lossless, any Unicode; corrupt decks degrade to salvage (NodeSpec).
    */
  def q68PptExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q68")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 13)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"deck_${r.getLong(0)}.ppt",
          graft.doc.CfbNode.writePpt(Seq(r.getString(1))))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/deck_$id.ppt")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "ppt_text")
      .orderBy(col("doc_id"))
  }

  /** q70 — Outlook .msg ingestion: every 25th document (offset 17) becomes
    * a `.msg` whose PT_UNICODE property streams hold a synthetic subject
    * (`msg<id>`) and the text as the body ([[graft.doc.CfbNode.writeMsg]]);
    * the Node seam recovers subject + body in reading order through the
    * CFB walk → [MS-OXMSG] property-stream decode. Lossless, any Unicode —
    * the fourth legacy-Office leg (q65 .doc / q67 .xls / q68 .ppt).
    */
  def q70MsgExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q70")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 25 === 17)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeBytes(fix, s"mail_${r.getLong(0)}.msg",
          graft.doc.CfbNode.writeMsg(s"msg${r.getLong(0)}", r.getString(1)))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/mail_$id.msg")))
      .select(r => (r.data, r.trajectory.doc.get.root.text))
      .asDataFrame.toDF("doc_id", "msg_text")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q35 — multimodal: opaque binary column -> batched feature extraction
  // -------------------------------------------------------------------------

  /** Text bytes stand in for media payloads: the binary column, per-partition
    * decode batching, and feature schema are the real pipeline; the codec is
    * the deterministic byte-stat stub (see [[Multimodal.Codec]]).
    */
  def q35Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("media"),
        lit("application/octet-stream").as("mime"))
    Multimodal.extractFeaturesDF(spark, media)
      .select(col("id").as("doc_id"), col("n_bytes"), col("head_byte"),
        col("checksum"), col("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** The ONE binaryFile -> MediaRow ingest stanza shared by q41/q46/q52:
    * distributed listing of the fixture dir, id recovered from the file
    * name, payload bytes as the opaque media column.
    */
  private def ingestFixtureMedia(spark: SparkSession, fix: String):
      org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(fix)
      .select(regexp_extract(col("path"), "media_(\\d+)\\.", 1).cast("long").as("id"),
        col("content").as("media"), lit("application/octet-stream").as("mime"))
      .as[Multimodal.MediaRow]
  }

  // -------------------------------------------------------------------------
  // q41 — media ingestion: real PNG/WAV files through the binaryFile source
  // -------------------------------------------------------------------------

  /** Every 10th document (offset 3) becomes a REAL grayscale PNG (correct
    * CRCs, zlib IDAT) whose dimensions derive from doc_id; every 10th
    * (offset 6) a canonical PCM WAV whose rate/sample count derive from
    * doc_id. The query ingests the whole directory through Spark's
    * `binaryFile` datasource — the bulk path for media corpora: distributed
    * file listing, payload bytes batched per partition (never shuffled;
    * metadata is extracted first), and path/length predicates prunable at
    * the source (`pathGlobFilter`, pushed filters). Container metadata is
    * then recovered by the REAL header parsers ([[Multimodal.Probe]] —
    * magic-byte dispatch, not filename trust), and the oracle predicts
    * every field from the id formulas alone: the parse must round-trip the
    * synthesized containers exactly.
    */
  def q41MediaIngest(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q41")
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 3 || col("doc_id") % 10 === 6)
    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        if (id % 10 == 3)
          graft.agent.DocIO.writeBytes(fix, s"media_$id.png",
            Multimodal.Synth.png((1 + id % 16).toInt, (1 + id % 9).toInt, id))
        else
          graft.agent.DocIO.writeBytes(fix, s"media_$id.wav",
            Multimodal.Synth.wav((8000 + 100 * (id % 5)).toInt, (500 + id % 100).toInt, id))
      }
    }
    }
    Multimodal.probeMeta(ingestFixtureMedia(spark, fix)).toDF()
      .select(col("id").as("doc_id"), col("format"), col("width"), col("height"),
        col("bit_depth"), col("n_channels"), col("sample_rate"), col("n_samples"))
      .orderBy(col("doc_id"))
  }

  /** q52 — VIDEO container ingestion: every 10th document (offset 4)
    * becomes a real minimal MP4 header (ISO BMFF boxes with id-derived
    * dimensions/timescale/duration), every 10th (offset 7) a real RIFF AVI
    * header (id-derived dims/fps/frames). Same bulk shape as q41 —
    * binaryFile ingest, magic-byte dispatch, header parse — and the oracle
    * predicts every field from the id formulas alone, so the box/chunk
    * walks must round-trip the synthesized containers exactly. (Pixel
    * decode for video stays a documented stub — the JDK has no video
    * codec — so the GATED surface is exactly the real part: the parsers.)
    */
  def q52VideoIngest(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q52")
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 4 || col("doc_id") % 10 === 7)
    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        if (id % 10 == 4)
          graft.agent.DocIO.writeBytes(fix, s"media_$id.mp4",
            Multimodal.Synth.mp4((320 + (id % 8) * 16).toInt, (180 + (id % 5) * 16).toInt,
              (1000 * (1 + id % 4)).toInt, 1000 + id % 500))
        else
          graft.agent.DocIO.writeBytes(fix, s"media_$id.avi",
            Multimodal.Synth.avi((320 + (id % 6) * 8).toInt, (240 + (id % 4) * 8).toInt,
              (24 + (id % 3) * 6).toInt, 600 + id % 400))
      }
    }
    }
    Multimodal.probeMeta(ingestFixtureMedia(spark, fix)).toDF()
      .select(col("id").as("doc_id"), col("format"), col("width"), col("height"),
        col("sample_rate"), col("n_samples"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q46 — REAL media decode: pixel/sample stats through JDK ImageIO/AudioSystem
  // -------------------------------------------------------------------------

  /** The q41 fixture corpus (real PNGs and WAVs, id-derived parameters)
    * DECODED, not just header-probed: ImageIO reads the pixels back (true
    * dims, mean luminance, 64-bit aHash), AudioSystem reads the PCM samples
    * (count, rate, RMS, duration). Every output field is predicted by the
    * oracle FROM THE SYNTH FORMULAS ALONE — deterministic pixels
    * `(id + 31y + x) mod 256` and samples `(id + 97i) mod 32768` — so the
    * gate proves the decode is bit-exact end-to-end: synthesize → zlib/PCM
    * containers → binaryFile ingest → JDK decode → integer feature math.
    * The perceptual hash feeds [[graft.llm.Multimodal.imageNearDupPairs]]
    * (q45's hamming machinery on images; spec-pinned on this same corpus).
    */
  def q46MediaDecode(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q46")
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 3 || col("doc_id") % 10 === 6)
    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        if (id % 10 == 3)
          graft.agent.DocIO.writeBytes(fix, s"media_$id.png",
            Multimodal.Synth.png((1 + id % 16).toInt, (1 + id % 9).toInt, id))
        else
          graft.agent.DocIO.writeBytes(fix, s"media_$id.wav",
            Multimodal.Synth.wav((8000 + 100 * (id % 5)).toInt, (500 + id % 100).toInt, id))
      }
    }
    }
    Multimodal.decodeMediaDF(spark, ingestFixtureMedia(spark, fix).toDF())
      .select(col("id").as("doc_id"), col("kind"), col("width"), col("height"),
        round(col("mean_lum"), 4).as("mean_lum"), col("phash_hi"), col("phash_lo"),
        col("n_samples"), col("sample_rate"),
        round(col("rms"), 4).as("rms"), round(col("duration_s"), 4).as("duration_s"))
      .orderBy(col("doc_id"))
  }

  private val THUMB_W = 4
  private val THUMB_H = 3

  /** q124 — image RESIZE (the pre-feature step of a multimodal pipeline):
    * the q46 PNG fixture corpus decoded and nearest-neighbor downsampled
    * to a fixed [[THUMB_W]]×[[THUMB_H]] luminance thumbnail
    * ([[Multimodal.thumbnailDF]] — [[Multimodal.Decode.aHash64]]'s integer
    * index arithmetic at arbitrary target dims, no interpolation floats).
    * Every thumbnail PIXEL is pinned cross-engine (comma-joined, the q111
    * grid convention): the oracle predicts sample (yo, xo) =
    * `(id + 31·((yo·h) div 3) + (xo·w) div 4) mod 256` from the synth
    * formulas alone, so the gate proves container decode → pixel read →
    * resize index math end-to-end, bit-for-bit.
    *
    * Scale shape: binaryFile ingest (distributed listing, payloads read
    * once per partition and never shuffled), decode+resize map-side; the
    * output is 12 ints + dims per image — the shuffle carries thumbnails,
    * not images, which is the entire point of resizing before the
    * pipeline fans out.
    */
  def q124Thumbnail(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q124")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 3)
    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        graft.agent.DocIO.writeBytes(fix, s"media_$id.png",
          Multimodal.Synth.png((1 + id % 16).toInt, (1 + id % 9).toInt, id))
      }
    }
    }
    Multimodal.thumbnailDF(ingestFixtureMedia(spark, fix).toDF(), THUMB_W, THUMB_H)
      .select(col("id").as("doc_id"), col("width"), col("height"),
        size(col("thumb")).cast("long").as("n_px"),
        expr("aggregate(thumb, 0L, (a, x) -> a + x)").as("thumb_sum"),
        expr("array_join(transform(thumb, x -> CAST(x AS STRING)), ',')").as("thumb"))
      .orderBy(col("doc_id"))
  }

  private val RESAMPLE_K = 64

  /** q125 — audio RESAMPLE (q124's twin on the time axis): the q46 WAV
    * fixture corpus decoded (JDK AudioSystem) and nearest-neighbor
    * downsampled to a fixed [[RESAMPLE_K]]-sample envelope
    * ([[Multimodal.audioResampleDF]] — out(i) = frame[(i·frames) div k],
    * exact integer index math, no interpolation). Every output SAMPLE is
    * pinned cross-engine: the oracle predicts
    * `(id + 97·((i·n) div 64)) mod 32768` from the synth formulas alone,
    * so the gate proves PCM decode → sample read → resample index math
    * end-to-end, bit-for-bit. With q124 this closes the multimodal
    * decode / feature-extract / resize set over real containers.
    *
    * Scale shape: identical to q124 — binaryFile ingest, decode+resample
    * map-side, the shuffle carries 64-int envelopes, not waveforms.
    */
  def q125AudioResample(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q125")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 6)
    FixtureClock.timed {
    docs.select("doc_id").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val id = r.getLong(0)
        graft.agent.DocIO.writeBytes(fix, s"media_$id.wav",
          Multimodal.Synth.wav((8000 + 100 * (id % 5)).toInt, (500 + id % 100).toInt, id))
      }
    }
    }
    Multimodal.audioResampleDF(ingestFixtureMedia(spark, fix).toDF(), RESAMPLE_K)
      .select(col("id").as("doc_id"), col("sample_rate"), col("n_frames"),
        size(col("samples")).cast("long").as("n_out"),
        expr("aggregate(samples, 0L, (a, x) -> a + x)").as("sample_sum"),
        expr("array_join(transform(samples, x -> CAST(x AS STRING)), ',')").as("samples"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q56 — WARC segment ingest: archived-crawl ETL through the Doc seam
  // -------------------------------------------------------------------------

  private val WarcDate = "2026-01-01T00:00:00Z"

  private def warcHtml(id: Long, text: String): Array[Byte] =
    ("<!DOCTYPE html><html><head><title>doc " + id +
      "</title></head><body><article>" + xmlEscape(text) +
      "</article></body></html>").getBytes(StandardCharsets.UTF_8)

  /** Every 10th document (offset 2) becomes an HTTP response record inside
    * a multi-record `.warc.gz` segment (per-record gzip members — the
    * Common Crawl layout; a warcinfo head + an interleaved request record
    * per response prove record-type filtering). The query ingests the
    * segment directory through [[graft.sources.Warc.read]] — binaryFile,
    * one task per segment, streaming record iterator, payload bytes never
    * shuffled — lifts each response into the Doc/Node seam and recovers
    * title + article text. The oracle predicts every field from the source
    * table alone: url/status from the id, byte length from the HTML
    * template via octet_length, body text round-tripped LOSSLESSLY through
    * entity escaping.
    */
  def q56WarcIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val fix = fixtureDir(dir, "q56")
    import spark.implicits._
    FixtureClock.timed {
    Tables.documents(spark, dir).filter(col("doc_id") % 10 === 2)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey(_._1 / 200)
      .mapGroups { (seg, it) =>
        val bout = new java.io.ByteArrayOutputStream()
        bout.write(Warc.gzMember(Warc.writeRecord("warcinfo",
          Seq("WARC-Date" -> WarcDate, "Content-Type" -> "application/warc-fields"),
          "software: graft\r\n".getBytes(StandardCharsets.ISO_8859_1))))
        it.toArray.sortBy(_._1).foreach { case (id, text) =>
          val url = s"http://corpus.test/doc/$id"
          bout.write(Warc.gzMember(Warc.writeRecord("request",
            Seq("WARC-Target-URI" -> url, "WARC-Date" -> WarcDate,
              "Content-Type" -> "application/http; msgtype=request"),
            s"GET /doc/$id HTTP/1.1\r\nHost: corpus.test\r\n\r\n"
              .getBytes(StandardCharsets.ISO_8859_1))))
          bout.write(Warc.gzMember(Warc.writeRecord("response",
            Seq("WARC-Target-URI" -> url, "WARC-Date" -> WarcDate,
              "Content-Type" -> "application/http; msgtype=response"),
            Warc.httpResponse(200, "text/html; charset=utf-8", warcHtml(id, text)))))
        }
        graft.agent.DocIO.writeBytes(fix, f"segment_$seg%05d.warc.gz", bout.toByteArray)
        seg
      }.count() // force the writes before the scan below lists the dir
    }
    Warc.read(spark, fix)
      .map { r =>
        val root = Warc.toDoc(r).root
        (r.url.substring(r.url.lastIndexOf('/') + 1).toLong, r.url,
          r.http_status, r.body.length.toLong,
          root.findOnly("title").text, root.findOnly("article").text)
      }
      .toDF("doc_id", "url", "http_status", "n_bytes", "title", "body_text")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q57/q58 — crawl compliance: URL canonicalization + robots.txt gating
  // -------------------------------------------------------------------------

  /** Every document id becomes a deliberately messy absolute URL — upper
    * cased scheme/host, explicit default port, `/.`+`/..` dot segments,
    * percent-encoded unreserved (%7E %41), unsorted query with utm_/fbclid
    * tracking params, empty param, fragment — built by IDENTICAL concat
    * formulas on both engines; the Spark side then runs the real
    * [[graft.functions.url_normalize]] (native codegen, one map pass, no
    * shuffle) while the oracle states the canonical form in closed form.
    * Every normalization rule is load-bearing for the hash match.
    */
  def q57UrlNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.url_normalize
    val d = col("doc_id")
    def s(c: org.apache.spark.sql.Column) = c.cast("string")
    val messy = concat(
      when(d % 2 === 0, "HTTP://").otherwise(lit("HTTPS://")),
      lit("WWW.Site"), s(d % 5), lit(".COM"),
      when(d % 2 === 0, ":80").otherwise(lit(":443")),
      lit("/%7Euser/a/./b"), s(d % 7), lit("/../c%41"),
      lit("?utm_source=feed&z=2&fbclid=x&a="), s(d % 3), lit("&#sec"))
    Tables.documents(spark, dir)
      .select(d, messy.as("url_raw"), url_normalize(messy).as("url"))
      .orderBy(d)
  }

  /** A constant robots.txt exercising the RFC 9309 decision points — group
    * selection (specific `graftbot` group vs `*`, groups never merge),
    * longest-match precedence, allow-wins-ties via the `$` anchor, `*`
    * wildcard — evaluated per document over id-derived urls through the
    * native [[graft.functions.robots_allowed]] (per-thread parse memo: one
    * parse per task, millions of rows). The oracle states both verdicts in
    * closed form from the id.
    */
  def q58RobotsGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.robots_allowed
    val robotsTxt =
      "User-agent: *\nDisallow: /private\nAllow: /private/ok$\nDisallow: /tmp*\n" +
        "User-agent: graftbot\nDisallow: /deep\nCrawl-delay: 2\n"
    val d = col("doc_id")
    val path = when(d % 4 === 0, "/deep/x").when(d % 4 === 1, "/private")
      .when(d % 4 === 2, "/ok").otherwise(lit("/private/ok"))
    val url = concat(lit("https://site.test"), path)
    Tables.documents(spark, dir)
      .select(d, path.as("path"),
        robots_allowed(lit(robotsTxt), lit("graftbot/1.0"), url).as("allowed_graft"),
        robots_allowed(lit(robotsTxt), lit("otherbot/2.0"), url).as("allowed_other"))
      .orderBy(d)
  }

  // -------------------------------------------------------------------------
  // q59 — tar.gz bundle ingestion: generic-archive members through the seam
  // -------------------------------------------------------------------------

  /** Minimal ustar writer for the q59 fixture (member data + valid size/
    * magic/checksum fields — what [[graft.doc.ArchiveNode.fromTar]] reads).
    */
  private def tarOf(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      val h = new Array[Byte](512)
      val nb = name.getBytes(StandardCharsets.ISO_8859_1)
      System.arraycopy(nb, 0, h, 0, nb.length)
      val sz = ("%011o".format(data.length) + " ").getBytes(StandardCharsets.ISO_8859_1)
      System.arraycopy(sz, 0, h, 124, sz.length)
      h(156) = '0'
      val magic = "ustar 00".getBytes(StandardCharsets.ISO_8859_1)
      System.arraycopy(magic, 0, h, 257, magic.length)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      val cs = ("%06o".format(h.map(_ & 0xff).sum) + "  ").getBytes(StandardCharsets.ISO_8859_1)
      System.arraycopy(cs, 0, h, 148, cs.length)
      out.write(h); out.write(data)
      out.write(new Array[Byte]((512 - data.length % 512) % 512))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** Every 10th document (offset 8) becomes a `.txt` member of a
    * multi-member `.tar.gz` bundle (the data-dump shape: q56's segment
    * grouping, tar instead of WARC). Ingest is binaryFile → Doc seam,
    * where the transparent gzip unwrap strips `.gz`, the tar mime sniffs
    * from the remaining extension, and [[graft.doc.ArchiveNode]] lists
    * members with per-member text extracted through the full seam again.
    * The oracle predicts member names and LOSSLESS text from the source
    * table — the whole container stack is load-bearing for the hash.
    */
  def q59TarExtract(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q59")
    import spark.implicits._
    FixtureClock.timed {
    Tables.documents(spark, dir).filter(col("doc_id") % 10 === 8)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey(_._1 / 200)
      .mapGroups { (seg, it) =>
        val members = it.toArray.sortBy(_._1).map { case (id, text) =>
          s"doc_$id.txt" -> text.getBytes(StandardCharsets.UTF_8)
        }
        val gzBytes = {
          val bout = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bout)
          g.write(tarOf(members.toSeq)); g.close()
          bout.toByteArray
        }
        graft.agent.DocIO.writeBytes(fix, f"bundle_$seg%05d.tar.gz", gzBytes)
        seg
      }.count()
    }
    spark.read.format("binaryFile").load(fix)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        graft.doc.Doc(graft.doc.DocUID(p), p, bytes).root.findAll("entries").map { e =>
          val name = e.attr("name").getOrElse("")
          val id = name.stripPrefix("doc_").stripSuffix(".txt").toLong
          (id, name, e.attr("text").getOrElse(""))
        }
      }
      .toDF("doc_id", "member", "text")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q71 — dump-archive codec matrix: bzip2/xz/zstd/lz4 tars + 7z containers
  // -------------------------------------------------------------------------

  /** Fixture compressor for [[q71ArchiveCodecs]] (commons-compress output
    * streams — same public backends the read path uses).
    */
  private def compressWith(codec: String, bytes: Array[Byte]): Array[Byte] = {
    import org.apache.commons.compress.compressors
    val bout = new java.io.ByteArrayOutputStream()
    // small presets: the segments are KB-sized, and xz preset 6 / bzip2
    // block 9 pay an 8 MB dictionary / 900 KB block INIT per stream —
    // hundreds of tiny fixture archives made that the dominant query cost
    val out: java.io.OutputStream = codec match {
      case "bz2" => new compressors.bzip2.BZip2CompressorOutputStream(bout, 1)
      case "xz"  => new compressors.xz.XZCompressorOutputStream(bout, 0)
      case "zst" => new compressors.zstandard.ZstdCompressorOutputStream(bout)
      case "lz4" => new compressors.lz4.FramedLZ4CompressorOutputStream(bout)
    }
    out.write(bytes); out.close()
    bout.toByteArray
  }

  private def sevenZOf(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    import org.apache.commons.compress.archivers.sevenz._
    val ch = new org.apache.commons.compress.utils.SeekableInMemoryByteChannel()
    val out = new SevenZOutputFile(ch)
    // LZMA2 preset 1 with a 64 KiB dictionary instead of the default
    // (measured 367 -> 21 ms per fixture archive: the default preset's
    // dictionary/init dwarfs the KB-sized payload). Same content method on
    // the wire — the read path still runs real LZMA2 decode — and the query
    // result depends only on the LOSSLESS decompressed text, never on the
    // compressed byte form.
    val lzma2 = new org.tukaani.xz.LZMA2Options(1)
    lzma2.setDictSize(1 << 16)
    out.setContentMethods(java.util.Arrays.asList(
      new SevenZMethodConfiguration(SevenZMethod.LZMA2, lzma2)))
    entries.foreach { case (name, data) =>
      val e = new SevenZArchiveEntry()
      e.setName(name); e.setSize(data.length.toLong)
      out.putArchiveEntry(e); out.write(data); out.closeArchiveEntry()
    }
    out.close()
    java.util.Arrays.copyOf(ch.array(), ch.size().toInt)
  }

  /** The q59 shape across the whole dump-codec matrix: every 10th document
    * (offset 4) lands in a 20-id segment whose container cycles through
    * `.tar.bz2` / `.tar.xz` / `.tar.zst` / `.tar.lz4` / `.7z` by
    * `seg % 5`. Ingest is binaryFile → Doc seam: the transparent codec
    * unwrap ([[graft.doc.Codecs]]) strips the suffix and the tar walker
    * runs, or the 7z mime dispatches [[graft.doc.ArchiveNode.from7z]] —
    * every codec leg is load-bearing for the oracle hash, which predicts
    * member names, the codec (from the id arithmetic) and LOSSLESS text
    * from the source table.
    */
  def q71ArchiveCodecs(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q71")
    import spark.implicits._
    FixtureClock.timed {
    Tables.documents(spark, dir).filter(col("doc_id") % 10 === 4)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey(_._1 / 20)
      .mapGroups { (seg, it) =>
        val members = it.toArray.sortBy(_._1).toSeq.map { case (id, text) =>
          s"doc_$id.txt" -> text.getBytes(StandardCharsets.UTF_8)
        }
        val (name, bytes) = (seg % 5) match {
          case 0 => f"bundle_$seg%05d.tar.bz2" -> compressWith("bz2", tarOf(members))
          case 1 => f"bundle_$seg%05d.tar.xz" -> compressWith("xz", tarOf(members))
          case 2 => f"bundle_$seg%05d.tar.zst" -> compressWith("zst", tarOf(members))
          case 3 => f"bundle_$seg%05d.tar.lz4" -> compressWith("lz4", tarOf(members))
          case _ => f"bundle_$seg%05d.7z" -> sevenZOf(members)
        }
        graft.agent.DocIO.writeBytes(fix, name, bytes)
        seg
      }.count()
    }
    spark.read.format("binaryFile").load(fix)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val codec = p.substring(p.lastIndexOf('.') + 1)
        graft.doc.Doc(graft.doc.DocUID(p), p, bytes).root.findAll("entries").map { e =>
          val name = e.attr("name").getOrElse("")
          val id = name.stripPrefix("doc_").stripSuffix(".txt").toLong
          (id, name, codec, e.attr("text").getOrElse(""))
        }
      }
      .toDF("doc_id", "member", "codec", "text")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q150 — browser pipeline over the REAL W3C wire (Visit/TextInput/Submit/
  //        Snapshot), oracle-gated against a formula-determined remote end
  // -------------------------------------------------------------------------

  /** The browser action family (reference module/web Selenium actions —
    * Foundation.scala:25-37 Visit, web interactions, Snapshot.scala:13-32)
    * oracle-gated end-to-end over the REAL WebDriver wire binding
    * ([[graft.agent.WebDriverHttpBrowser]]) against an in-JVM W3C remote end
    * whose site is a pure function of the URL: page `mock://d<id>` carries
    * title `doc <id>` and a search form; submitting `lang` navigates to
    * `mock://r<id>?q=<lang>` which echoes `<id>:<lang>`. Every row runs
    * Visit → TextInput → Submit → Snapshot → Screenshot through session
    * create / element-find / execute-sync / source / screenshot / session
    * delete — the full protocol a chromedriver would speak — and the oracle
    * replays the echo, the final URI and the screenshot bytes (the stub
    * renders `PNG-STUB:<uri>`) from (doc_id, lang) alone. Wire discipline is pinned
    * in-query: zero leaked sessions, one rollout per row (pagesFetched).
    * On a real cluster the endpoint would be a per-executor chromedriver
    * pool; the protocol client, trace semantics and dedup are identical.
    */
  def q150BrowserForm(spark: SparkSession, dir: String): DataFrame = {
    import graft.actions.{Visit, TextInput, Submit, Snapshot, Screenshot}
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 7)
    def page(u: String): Option[String] = {
      if (u.startsWith("mock://d")) {
        val id = u.stripPrefix("mock://d")
        Some(s"""<html><head><title>doc $id</title></head><body>
                |<form action="mock://r$id"><input name="q"/></form>
                |</body></html>""".stripMargin)
      } else if (u.startsWith("mock://r")) {
        val rest = u.stripPrefix("mock://r")
        val qi = rest.indexOf("?q=")
        if (qi < 0) None
        else {
          val (id, v) = (rest.substring(0, qi), rest.substring(qi + 3))
          Some(s"<html><body><p id=\"echo\">$id:$v</p></body></html>")
        }
      } else None
    }
    val stub = new graft.agent.W3CStubServer(page _).start()
    try {
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false))
        .withDrivers(graft.agent.RemoteWebDriverFactory(stub.endpoint))
      import spark.implicits._
      val rows = docs.select("doc_id", "lang").as[(Long, String)]
      // persist: orderBy's range-partitioner SAMPLES its input, which would
      // replay every wire session a second time (q143 has the same shape)
      val fetched = ctx.create(rows)
        .fetchOne { case (id, lang) =>
          Trace.of(Visit(s"mock://d$id"), TextInput("input[name=q]", lang),
            Submit("form"), Snapshot(), Screenshot())
        }
        .persist()
      val out = fetched
        .select { r =>
          val Seq(snap, shot) = r.trajectory.docs
          (r.data._1, snap.root.findAll("#echo").head.text, snap.uri,
            new String(shot.bytes, StandardCharsets.UTF_8))
        }
        .asDataFrame.toDF("doc_id", "echo", "uri", "shot")
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // force the wire work while the stub is up
      fetched.unpersist()
      val n = docs.count()
      // two Exports per rollout (Snapshot + Screenshot), each ticks once
      require(ctx.metrics.pagesFetched.value == 2 * n,
        s"q150: ${ctx.metrics.pagesFetched.value} exports for $n rows")
      require(stub.openSessions == 0,
        s"q150: ${stub.openSessions} WebDriver sessions leaked")
      out
    } finally stub.stop()
  }

  // -------------------------------------------------------------------------
  // q153 — the remaining browser WIDGETS over the wire: DropDownSelect,
  //        DragSlider, ToFrame, WaitFor (+ a second Visit resetting the frame)
  // -------------------------------------------------------------------------

  /** The interaction widgets q150 does not touch (reference module/web
    * Selenium actions — dropdown select, slider drag, frame switch, presence
    * wait) gated over the same W3C wire: page `mock://w<id>` carries a
    * category dropdown, a range slider and an iframe whose `src` is
    * `mock://f<id>`. The trace switches INTO the frame and snapshots it,
    * re-Visits the parent, selects `lang` in the dropdown, drags the slider
    * to `((doc_id / 10) % 5)/4` (the tens digit mod 5 — VARIES across the
    * ≡3 (mod 10) id set, hitting all five quarter values), submits,
    * WaitFor-polls the echo, and snapshots the
    * result — dropdown and slider travel as execute-sync `Event('change')`
    * dispatches (exactly what Selenium sends), the frame switch as
    * `POST /frame` with the element reference. The oracle replays the frame
    * text, the echo and the final URI from (doc_id, lang) alone; the slider
    * percentage crosses the wire as a JSON double, so the oracle replays
    * `Double.toString` of the 5 exact quarter values by CASE.
    */
  def q153BrowserWidgets(spark: SparkSession, dir: String): DataFrame = {
    import graft.actions.{Visit, DropDownSelect, DragSlider, Submit, Snapshot,
      ToFrame, WaitFor}
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 3)
    def page(u: String): Option[String] = {
      if (u.startsWith("mock://w")) {
        val id = u.stripPrefix("mock://w")
        Some(s"""<html><head><title>w $id</title></head><body>
                |<form action="mock://s$id">
                |<select name="cat"><option value="en">en</option></select>
                |<input name="pos" type="range" min="0" max="100"/>
                |</form>
                |<iframe src="mock://f$id"></iframe>
                |</body></html>""".stripMargin)
      } else if (u.startsWith("mock://f")) {
        val id = u.stripPrefix("mock://f")
        Some(s"<html><body><p class=\"fr\">frame $id</p></body></html>")
      } else if (u.startsWith("mock://s")) {
        val rest = u.stripPrefix("mock://s")
        val qi = rest.indexOf('?')
        if (qi < 0) None
        else {
          val id = rest.substring(0, qi)
          val qs = rest.substring(qi + 1) // cat=<lang>&pos=<pct>, keys sorted
          Some(s"<html><body><p id=\"echo\">$id ${qs.replace("&", " ")}</p></body></html>")
        }
      } else None
    }
    val stub = new graft.agent.W3CStubServer(page _).start()
    try {
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false))
        .withDrivers(graft.agent.RemoteWebDriverFactory(stub.endpoint))
      import spark.implicits._
      val rows = docs.select("doc_id", "lang").as[(Long, String)]
      val fetched = ctx.create(rows)
        .fetchOne { case (id, lang) =>
          Trace.of(
            Visit(s"mock://w$id"), ToFrame("iframe"), Snapshot(as = Some("frame")),
            Visit(s"mock://w$id"),
            DropDownSelect("select[name=cat]", lang),
            DragSlider("input[name=pos]", (id / 10 % 5) * 0.25),
            Submit("form"), WaitFor("#echo", 1000), Snapshot(as = Some("result")))
        }
        .persist()
      val out = fetched
        .select { r =>
          val frame = r.trajectory.byName("frame").head.docOpt.get
          val result = r.trajectory.byName("result").head.docOpt.get
          (r.data._1, frame.root.findAll("p.fr").head.text,
            result.root.findAll("#echo").head.text, result.uri)
        }
        .asDataFrame.toDF("doc_id", "frame", "echo", "uri")
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // force the wire work while the stub is up
      fetched.unpersist()
      require(stub.openSessions == 0,
        s"q153: ${stub.openSessions} WebDriver sessions leaked")
      out
    } finally stub.stop()
  }

  // -------------------------------------------------------------------------
  // q154 — trace-set algebra: `||` union of alternatives, `*>` cartesian
  // -------------------------------------------------------------------------

  /** The trace-set composition operators (reference Foundation.scala:11-21 —
    * `*>` cartesian continuation, `||` union of alternatives) gated on their
    * FAN-OUT semantics: each row's trace set is
    * `(Wget(a) || Wget(b)) *> (Wget(x) || Wget(y))` — four two-hop traces —
    * and `fetch` must fan the row out into exactly those four rollouts, each
    * trajectory carrying both hops in order. The oracle replays the 4-path
    * cross product per id; the rollout count (8 fetches per id, caches off —
    * each trace is distinct, so the shared second hop is NOT deduped across
    * traces) is asserted in-query.
    */
  def q154TraceAlgebra(spark: SparkSession, dir: String): DataFrame = {
    import com.sun.net.httpserver.HttpExchange
    import graft.actions.TraceSet
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 9)
    val server = stubServer()
    server.createContext("/t", (ex: HttpExchange) => {
      // /t/<id>/<leg> -> "<id>:<leg>"
      val parts = ex.getRequestURI.getPath.stripPrefix("/t/").split('/')
      val body = s"${parts(0)}:${parts(1)}"
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/plain")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(8, Runtime.getRuntime.availableProcessors()))
    server.setExecutor(pool)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/t"
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false, remoteRetries = 0))
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long]
      def leg(id: Long, l: String) = TraceSet.one(Wget(s"$base/$id/$l"))
      val fetched = ctx.create(ids)
        .fetch(id => (leg(id, "a") || leg(id, "b")) *> (leg(id, "x") || leg(id, "y")))
        .persist()
      val out = fetched
        .select { r =>
          val legs = r.trajectory.docs.map(d =>
            new String(d.bytes, StandardCharsets.UTF_8).split(':')(1))
          (r.data, legs.mkString("+"))
        }
        .asDataFrame.toDF("doc_id", "path")
        .orderBy(col("doc_id"), col("path"))
        .localCheckpoint(true) // force the fetch while the stub is up
      fetched.unpersist()
      val n = docs.count()
      require(ctx.metrics.pagesFetched.value == 8 * n,
        s"q154: ${ctx.metrics.pagesFetched.value} fetches for $n ids (want ${8 * n})")
      out
    } finally { server.stop(0); pool.shutdown() }
  }

  // -------------------------------------------------------------------------
  // q156 — wire pagination: Loop(ClickNext) with a decoy-excluding link walk
  // -------------------------------------------------------------------------

  /** `ClickNext` (reference web click-next pagination — follow the first
    * matching link whose href is NOT in the exclude list) gated over the W3C
    * wire: each id owns a `doc_id % 7 + 1`-page chain (7 ⊥ 20 — depth
    * VARIES 1..7, including the depth-1 immediate-exhaustion chain whose
    * first page carries only the decoy) where EVERY page's
    * first `a.next` is a decoy (`mock://decoy`, in the exclude list) and the
    * real forward link comes second; the last page carries only the decoy,
    * so the `Loop` terminates on ClickNext exhaustion exactly at the chain
    * depth. The oracle replays page count, text and the UID re-indexing
    * (blockIndex/blockTotal over the Visit-snapshot + loop snapshots) from
    * the depth formula. Upgrades Click/ClickNext + Loop-over-the-wire from
    * spec to pass.
    */
  def q156ClickPagination(spark: SparkSession, dir: String): DataFrame = {
    import graft.actions.{Visit, ClickNext, Snapshot, Loop}
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 11)
    def page(u: String): Option[String] = {
      if (!u.startsWith("mock://c")) None
      else {
        val Array(id, kStr) = u.stripPrefix("mock://c").split('/')
        val (k, depth) = (kStr.toInt, (id.toLong % 7 + 1).toInt)
        val fwd = if (k + 1 < depth)
          s"""<a class="next" href="mock://c$id/${k + 1}">next</a>""" else ""
        Some(s"""<html><body><p class="pg">page $id $k</p>
                |<a class="next" href="mock://decoy">skip</a>$fwd
                |</body></html>""".stripMargin)
      }
    }
    val stub = new graft.agent.W3CStubServer(page _).start()
    try {
      val ctx = new GraftContext(spark,
        GraftConf(cacheEnabled = false, cacheWrite = false))
        .withDrivers(graft.agent.RemoteWebDriverFactory(stub.endpoint))
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long]
      val fetched = ctx.create(ids)
        .fetchOne(id => Trace.of(
          Visit(s"mock://c$id/0"),
          // Snapshot FIRST: the exhausting ClickNext's iteration keeps the
          // last page's snapshot (the documented Loop(Snapshot, ClickNext)
          // shape), and all pages share ONE UID block 0..depth-1
          Loop(Trace.of(Snapshot(), ClickNext("a.next", Seq("mock://decoy"))),
            limit = 10)))
        .persist()
      val out = fetched
        .selectMany { r =>
          r.trajectory.docs.map { d =>
            (r.data, d.uid.blockIndex, d.uid.blockTotal,
              d.root.findAll("p.pg").head.text)
          }
        }
        .asDataFrame.toDF("doc_id", "page_no", "total", "msg")
        .orderBy(col("doc_id"), col("page_no"))
        .localCheckpoint(true) // force the wire work while the stub is up
      fetched.unpersist()
      require(stub.openSessions == 0,
        s"q156: ${stub.openSessions} WebDriver sessions leaked")
      out
    } finally stub.stop()
  }

  // -------------------------------------------------------------------------
  // q158 — foreach/execute side-effect sink + repartition/coalesce invariance
  // -------------------------------------------------------------------------

  /** The generic `foreach` side-effect door (reference DataView `foreach`:
    * run an impure lambda exactly once per row, checkpoint, downstream reads
    * never re-fire it) gated the q146 way: every 20th document (offset 3)
    * writes its own marker file from inside `foreach`, the result is read
    * BACK through a `binaryFile` scan of the side-effect dir, and the
    * exactly-once contract is pinned by an executor-side accumulator (one
    * tick per row even though the returned view is consumed TWICE).
    * `repartition` invariance rides along: the second consumption goes
    * through `repartition(7)` (partition count pinned in-query) and must see
    * the identical row set.
    */
  def q158ForeachSink(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q158")
    // overwrite-safe: clear prior markers so a re-run can't double-count
    val fs = new org.apache.hadoop.fs.Path(fix)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(fix), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(fix))
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 3)
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val fired = spark.sparkContext.longAccumulator("q158.fired")
    val rows = docs.select("doc_id", "lang").as[(Long, String)]
    val view = ctx.create(rows)
      .foreach { case (id, lang) =>
        fired.add(1)
        graft.agent.DocIO.writeText(fix, s"doc_$id.marker", s"$id:$lang")
      }
    // consume the view twice — once directly, once through repartition(7);
    // foreach's checkpoint means the lambda must NOT re-fire
    val direct = view.map(_._1).dataset.collect().toSet
    val reparted = view.repartition(7)
    require(reparted.dataset.rdd.getNumPartitions == 7,
      s"q158: repartition(7) landed on ${reparted.dataset.rdd.getNumPartitions}")
    val viaRepart = reparted.map(_._1).dataset.collect().toSet
    require(direct == viaRepart,
      s"q158: repartition changed the row set (${direct.size} vs ${viaRepart.size})")
    val n = docs.count()
    require(fired.value == n,
      s"q158: foreach fired ${fired.value} times for $n rows (exactly-once broken)")
    // the gate reads the side effects back from disk, not from the view.
    // pathGlobFilter, not a glob path (r21, ADVICE): load("$fix/*.marker")
    // throws AnalysisException when the id-class filter selects zero rows
    // at some scale factor, instead of the empty frame the oracle produces
    spark.read.format("binaryFile").option("pathGlobFilter", "*.marker").load(fix)
      .select(col("content")).as[Array[Byte]]
      .map { bytes =>
        val s = new String(bytes, StandardCharsets.UTF_8)
        val Array(id, lang) = s.split(':')
        (id.toLong, lang)
      }
      .toDF("doc_id", "lang")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q157 — plain-text fallback node (text/plain sniffing, whole-content leaf)
  // -------------------------------------------------------------------------

  /** The plain-text fallback (reference doc/PlainNode.scala — unknown
    * text content degrades to one leaf whose `text` IS the whole body,
    * selectors match nothing) gated end-to-end: every 20th document (offset
    * 17) is written verbatim as a `.txt` fixture, Wget-fetched with no
    * declared type (mime sniffed `text/plain` from the extension), and the
    * query recovers the document's token count and character length FROM THE
    * NODE TEXT alone — plus a selector probe that must match nothing. The
    * oracle recomputes both from the source column.
    */
  def q157PlainFallback(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q157")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 === 17)
    FixtureClock.timed {
    docs.select("doc_id", "text").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        graft.agent.DocIO.writeText(fix, s"doc_${r.getLong(0)}.txt", r.getString(1))
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.txt")))
      .select { r =>
        val root = r.trajectory.doc.get.root
        require(root.findAll("p").isEmpty && root.findAll("title").isEmpty,
          s"q157: selectors must match nothing on a plain-text leaf")
        // limit -1: keep trailing empty tokens, matching DuckDB string_split
        // and Spark SQL split (Java's default limit 0 silently drops them)
        (r.data, root.text.split(" ", -1).length.toLong, root.text.length.toLong)
      }
      .asDataFrame.toDF("doc_id", "n_toks", "n_chars")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q155 — CSV cells through the node seam (header-named columns, row nodes)
  // -------------------------------------------------------------------------

  /** The CSV node surface (reference doc/CSVElement.scala intent —
    * header-named column access, rows as child nodes) gated end-to-end:
    * every 10th document (offset 5) is written as a `.csv` fixture whose row
    * count is `doc_id % 7 + 1` (7 ⊥ 10, so the row count actually varies
    * 1..7 across the ≡5 (mod 10) id set), the engine Wget-fetches it (mime sniffed
    * `text/csv` from the extension — no declared type anywhere), and the
    * query recovers the square column by HEADER NAME plus the row count from
    * `childNodes`. The oracle replays Σk² = (m-1)m(2m-1)/6 and the lang cell
    * from the table.
    */
  def q155CsvCells(spark: SparkSession, dir: String): DataFrame = {
    val fix = fixtureDir(dir, "q155")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 5)
    FixtureClock.timed {
    docs.select("doc_id", "lang").foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach { r =>
        val (id, lang) = (r.getLong(0), r.getString(1))
        val m = (id % 7 + 1).toInt // 7 coprime to the %10 filter — m varies
        val body = (Seq("k,sq,lang") ++
          (0 until m).map(k => s"$k,${k.toLong * k},$lang")).mkString("\n")
        graft.agent.DocIO.writeText(fix, s"doc_$id.csv", body)
      }
    }
    }
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long]
    ctx.create(ids)
      .fetchOne(id => Trace.of(Wget(s"file:$fix/doc_$id.csv")))
      .select { r =>
        val root = r.trajectory.doc.get.root
        val sumSq = root.findAll("sq").map(_.text.toLong).sum
        val lang = root.findAll("lang").head.text
        (r.data, sumSq, root.childNodes.size.toLong, lang)
      }
      .asDataFrame.toDF("doc_id", "sum_sq", "n_rows", "lang")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q152 — the remaining lift paths: create(rdd), createBlank, Mock rows
  // -------------------------------------------------------------------------

  /** The three remaining source lifts (reference SpookyContext.scala:228-239
    * `fromRDD`, :257-261 `createBlank`, row/BuildRow.scala:8-63 + Mock.scala
    * canned rows) gated on data: the `rdd` branch lifts `documents` through
    * the RDD door and aggregates per lang; the `mock` branch carries each
    * row's (id, lang) through a `Mock` trajectory — parsed back OUT of the
    * canned document's title, with pagesFetched pinned to ZERO (no network);
    * the `blank` branch seeds a one-row chain. One oracle replays all three.
    * `create(batch, numSlices)` is pinned alongside: the explicit-slices
    * lift must land on exactly numSlices partitions.
    */
  def q152LiftPaths(spark: SparkSession, dir: String): DataFrame = {
    import graft.actions.Mock
    import graft.doc.{Doc, DocUID}
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val rows = Tables.documents(spark, dir)
      .select("doc_id", "lang").as[(Long, String)]

    val viaRdd = ctx.create(rows.rdd)
      .map { case (_, lang) => lang }
      .asDataFrame.toDF("lang")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .select(lit("rdd").as("tier"), col("lang"), col("n_docs"))

    val viaMock = ctx.create(rows)
      .fetchOne { case (id, lang) =>
        Trace.of(Mock(Seq(Doc(DocUID(s"m$id"), s"mock://$id",
          s"<html><head><title>$id:$lang</title></head></html>"
            .getBytes(StandardCharsets.UTF_8), Some("text/html")))))
      }
      .select(_.trajectory.texts("title").head.split(':')(1))
      .asDataFrame.toDF("lang")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .select(lit("mock").as("tier"), col("lang"), col("n_docs"))

    val viaBlank = ctx.createBlank
      .map(_ => "seed")
      .asDataFrame.toDF("lang")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .select(lit("blank").as("tier"), col("lang"), col("n_docs"))

    // create(batch, numSlices): the explicit-slices lift must land on
    // exactly that many partitions (reference SpookyContext.scala:213-225)
    val sliced = ctx.create(Seq.tabulate(10)(i => i.toLong), numSlices = 3)
    require(sliced.dataset.rdd.getNumPartitions == 3,
      s"q152: create(batch, numSlices=3) landed on " +
        s"${sliced.dataset.rdd.getNumPartitions} partitions")

    val out = viaBlank.unionAll(viaMock).unionAll(viaRdd)
      .orderBy(col("tier"), col("lang"))
      .localCheckpoint(true)
    require(ctx.metrics.pagesFetched.value == 0,
      s"q152: Mock rows must not fetch (saw ${ctx.metrics.pagesFetched.value})")
    out
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q31_fetch_dedup" -> q31FetchDedup _,
    "q32_extract"     -> q32Extract _,
    "q33_explore"     -> q33Explore _,
    "q114_explore_bestfirst" -> q114ExploreBestFirst _,
    "q126_fork"       -> q126Fork _,
    "q127_wpost"      -> q127Wpost _,
    "q128_explore_bestfirst_batched" -> q128ExploreBestFirstBatched _,
    "q131_image_neardup" -> q131ImageNearDup _,
    "q134_boilerpipe" -> q134Boilerpipe _,
    "q135_doc_validation" -> q135DocValidation _,
    "q136_downsample_firstn" -> q136DownsampleFirstN _,
    "q137_sibling_windows" -> q137SiblingWindows _,
    "q138_oauth_fetch" -> q138OAuthFetch _,
    "q140_dir_listing" -> q140DirListing _,
    "q141_save_roundtrip" -> q141SaveRoundTrip _,
    "q142_wayback" -> q142Wayback _,
    "q143_loop" -> q143Loop _,
    "q144_local_retry" -> q144LocalRetry _,
    "q145_downsample_seeded" -> q145DownsampleSeeded _,
    "q146_audit_trails" -> q146AuditTrails _,
    "q150_browser_form" -> q150BrowserForm _,
    "q152_lift_paths" -> q152LiftPaths _,
    "q153_browser_widgets" -> q153BrowserWidgets _,
    "q154_trace_algebra" -> q154TraceAlgebra _,
    "q155_csv_cells" -> q155CsvCells _,
    "q156_click_pagination" -> q156ClickPagination _,
    "q157_plain_fallback" -> q157PlainFallback _,
    "q158_foreach_sink" -> q158ForeachSink _,
    "q34_ann_ivf"     -> q34AnnIvf _,
    "q35_multimodal"  -> q35Multimodal _,
    "q36_embed_neardup" -> q36EmbedNearDup _,
    "q37_pdf_extract" -> q37PdfExtract _,
    "q38_docx_extract" -> q38DocxExtract _,
    "q65_doc_extract" -> q65DocExtract _,
    "q67_xls_extract" -> q67XlsExtract _,
    "q68_ppt_extract" -> q68PptExtract _,
    "q70_msg_extract" -> q70MsgExtract _,
    "q77_rtf_extract" -> q77RtfExtract _,
    "q78_epub_extract" -> q78EpubExtract _,
    "q91_eml_extract" -> q91EmlExtract _,
    "q92_mbox_ingest" -> q92MboxIngest _,
    "q98_tiff_extract" -> q98TiffExtract _,
    "q99_ps_extract"  -> q99PsExtract _,
    "q100_jpeg_exif"  -> q100JpegExif _,
    "q101_png_text"   -> q101PngText _,
    "q103_subtitles"  -> q103Subtitles _,
    "q41_media_ingest" -> q41MediaIngest _,
    "q52_video_ingest" -> q52VideoIngest _,
    "q42_ann_lsh"      -> q42AnnLsh _,
    "q46_media_decode" -> q46MediaDecode _,
    "q124_thumbnail"   -> q124Thumbnail _,
    "q125_audio_resample" -> q125AudioResample _,
    "q56_warc_ingest"  -> q56WarcIngest _,
    "q57_url_normalize" -> q57UrlNormalize _,
    "q58_robots_gate"  -> q58RobotsGate _,
    "q59_tar_extract"  -> q59TarExtract _,
    "q71_archive_codecs" -> q71ArchiveCodecs _,
  )

  private val DOT_SQL = "list_sum(list_transform(list_zip(%s, %s), p -> p[1] * p[2]))"
  private def dotSql(a: String, b: String) = DOT_SQL.format(a, b)

  val oracles: Map[String, String] = Map(
    "q31_fetch_dedup" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_toks
        |FROM documents WHERE doc_id % 20 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q32_extract" ->
      """SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) AS title,
        |  '/d/' || CAST(doc_id + 1 AS VARCHAR) AS href,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
    "q33_explore" ->
      s"""SELECT doc_id, CAST(floor(log2(doc_id + 1)) AS INT) AS depth
        |FROM documents WHERE doc_id < $TREE_N ORDER BY doc_id""".stripMargin,
    // replays the greedy best-first loop itself: the recursive CTE carries
    // the open frontier as a list value, pops the max-priority node
    // ((id*37) mod TREE_N — tie-free), pushes its unvisited children, and
    // stops at the fetch budget; lang re-joined from the source table
    "q114_explore_bestfirst" ->
      s"""WITH RECURSIVE sim AS (
        |  SELECT 0 AS step,
        |         [{'id': 0::BIGINT, 'depth': 0}] AS frontier,
        |         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INT) AS depth
        |  UNION ALL
        |  SELECT step + 1,
        |    list_concat(
        |      list_filter(frontier, x -> x.id <> best.id),
        |      list_filter([{'id': best.id*2+1, 'depth': best.depth+1},
        |                   {'id': best.id*2+2, 'depth': best.depth+1}],
        |                  c -> c.id < $TREE_N)),
        |    best.id, best.depth
        |  FROM (
        |    SELECT step, frontier,
        |      (list_sort(list_transform(frontier,
        |         x -> {'p': (x.id*37)%$TREE_N, 'x': x}))[-1]).x AS best
        |    FROM sim
        |    WHERE step < $BF_BUDGET AND len(frontier) > 0
        |  )
        |)
        |SELECT v.doc_id, d.lang, CAST(v.depth AS INT) AS depth
        |FROM (SELECT doc_id, depth FROM sim WHERE doc_id IS NOT NULL) v
        |JOIN documents d USING (doc_id)
        |ORDER BY v.doc_id""".stripMargin,
    // the pinned read sees version 1, the unpinned read version 2 — both
    // from the cache (zero remote fetches asserted in-query)
    "q142_wayback" ->
      """SELECT 'latest' AS version, doc_id, 'v2 ' || doc_id || ' ' || lang AS snapshot
        |FROM documents WHERE doc_id % 20 = 17
        |UNION ALL
        |SELECT 'wayback', doc_id, 'v1 ' || doc_id || ' ' || lang
        |FROM documents WHERE doc_id % 20 = 17
        |ORDER BY version, doc_id""".stripMargin,
    // the listing must surface exactly the formula-named files
    "q140_dir_listing" ->
      """SELECT doc_id, 'f_' || doc_id || '.txt' AS name
        |FROM documents WHERE doc_id % 20 = 15 ORDER BY doc_id""".stripMargin,
    // save -> bulk re-ingest must reconstruct the source messages exactly
    "q141_save_roundtrip" ->
      """SELECT doc_id, 'saved ' || doc_id || ' ' || lang AS msg
        |FROM documents WHERE doc_id % 20 = 11 ORDER BY doc_id""".stripMargin,
    // the granted set: a mis-signed request would 401 and drop out, so the
    // full id set IS the signature-validity assertion
    "q138_oauth_fetch" ->
      """SELECT doc_id, 'granted doc ' || doc_id AS grant
        |FROM documents WHERE doc_id % 20 = 9 ORDER BY doc_id""".stripMargin,
    // sibling windows replayed from the group formula: every group's window
    // is [header, va, vb] (clipped at the next header match), breadcrumb is
    // the constant element path
    "q137_sibling_windows" ->
      """WITH base AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS k FROM documents WHERE doc_id % 10 = 8),
        |g AS (SELECT doc_id, CAST(unnest(range(k)) AS INT) AS grp FROM base)
        |SELECT doc_id, grp,
        |  'h ' || doc_id || ' ' || grp || ' | va ' || doc_id || ' ' || grp ||
        |    ' | vb ' || doc_id || ' ' || grp AS window,
        |  'html>body>ul>li' AS crumb
        |FROM g ORDER BY doc_id, grp""".stripMargin,
    // surviving id sets replayed from the serving-class formula: 2XX keeps
    // classes 0 and 1, HasTitle keeps only class 0
    "q135_doc_validation" ->
      """SELECT 'has_title' AS validation, doc_id FROM documents
        |WHERE doc_id % 10 = 2 AND doc_id % 3 = 0
        |UNION ALL
        |SELECT 'status2xx', doc_id FROM documents
        |WHERE doc_id % 10 = 2 AND doc_id % 3 IN (0, 1)
        |ORDER BY validation, doc_id""".stripMargin,
    // FirstN(3): the first three tokens per document, positions zipped
    "q136_downsample_firstn" ->
      """WITH ts AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE doc_id % 10 = 6)
        |SELECT doc_id,
        |  CAST(unnest(range(least(len(toks), 3))) AS INT) AS pos,
        |  unnest(list_slice(toks, 1, 3)) AS token
        |FROM ts ORDER BY doc_id, pos""".stripMargin,
    // the NumWordsRules closed form: boilerplate blocks are never content,
    // the body always is, the intro iff the body exceeds 17 words
    "q134_boilerpipe" ->
      """SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) > 17
        |    THEN 'intro section for corpus document ' || doc_id || chr(10) || text
        |    ELSE text END AS article
        |FROM documents WHERE doc_id % 10 = 1 ORDER BY doc_id""".stripMargin,
    // replays fork's lateral fan-out from the id formulas: k = doc_id % 3
    // children per page (unnest of range(k) — zero-match pages vanish,
    // which IS Inner), plus the Outer null row per k=0 page
    "q126_fork" ->
      """WITH base AS (
        |  SELECT doc_id, lang, doc_id % 3 AS k
        |  FROM documents WHERE doc_id % 14 = 0),
        |kids AS (
        |  SELECT doc_id, lang, CAST(unnest(range(k)) AS INT) AS ordinal FROM base),
        |items AS (
        |  SELECT doc_id, ordinal,
        |    'kw ' || doc_id || ' ' || ordinal || ' ' || lang AS item FROM kids)
        |SELECT 'inner' AS fork_type, doc_id, ordinal, item FROM items
        |UNION ALL SELECT 'outer', doc_id, ordinal, item FROM items
        |UNION ALL SELECT 'outer', doc_id, CAST(NULL AS INT), CAST(NULL AS VARCHAR)
        |  FROM base WHERE k = 0
        |ORDER BY fork_type, doc_id, ordinal NULLS FIRST""".stripMargin,
    // pagination replayed from the depth formula: id serves min(id % 7, 3)
    // pages, page k carries index k over that total (the UID re-indexing);
    // the request count (including the 404 terminator probe) is pinned by
    // the in-query assertion
    "q143_loop" ->
      """WITH base AS (
        |  SELECT doc_id, least(doc_id % 7, 3) AS np
        |  FROM documents WHERE doc_id % 20 = 13),
        |g AS (SELECT doc_id, np, unnest(range(np)) AS k FROM base)
        |SELECT doc_id, CAST(k AS INT) AS page_no, CAST(np AS INT) AS total,
        |  'page ' || doc_id || ' ' || k AS msg
        |FROM g ORDER BY doc_id, page_no""".stripMargin,
    // the browser round-trip replayed from (doc_id, lang): the result page
    // echoes id:lang at uri mock://r<id>?q=<lang> — everything the wire
    // session observed is a pure function of the row
    "q150_browser_form" ->
      """SELECT doc_id,
        |  doc_id || ':' || lang AS echo,
        |  'mock://r' || doc_id || '?q=' || lang AS uri,
        |  'PNG-STUB:mock://r' || doc_id || '?q=' || lang AS shot
        |FROM documents WHERE doc_id % 10 = 7
        |ORDER BY doc_id""".stripMargin,
    // the widget round-trip replayed from (doc_id, lang): the slider value
    // crosses the wire as a JSON double (Double.toString of k/4), the
    // submitted query string sorts its keys (cat before pos)
    "q153_browser_widgets" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    CASE (doc_id // 10) % 5 WHEN 0 THEN '0.0' WHEN 1 THEN '0.25'
        |      WHEN 2 THEN '0.5' WHEN 3 THEN '0.75' ELSE '1.0' END AS pct
        |  FROM documents WHERE doc_id % 10 = 3)
        |SELECT doc_id,
        |  'frame ' || doc_id AS frame,
        |  doc_id || ' cat=' || lang || ' pos=' || pct AS echo,
        |  'mock://s' || doc_id || '?cat=' || lang || '&pos=' || pct AS uri
        |FROM base ORDER BY doc_id""".stripMargin,
    // one marker file per row, recovered from disk; exactly-once and
    // repartition invariance are pinned by the in-query asserts
    "q158_foreach_sink" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 20 = 3
        |ORDER BY doc_id""".stripMargin,
    // the plain-text leaf's text IS the document body
    "q157_plain_fallback" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 20 = 17
        |ORDER BY doc_id""".stripMargin,
    // the decoy-skipping link walk replayed from the depth formula
    "q156_click_pagination" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 7 + 1 AS depth
        |  FROM documents WHERE doc_id % 20 = 11),
        |g AS (SELECT doc_id, depth, unnest(range(depth)) AS k FROM base)
        |SELECT doc_id, CAST(k AS INT) AS page_no, CAST(depth AS INT) AS total,
        |  'page ' || doc_id || ' ' || k AS msg
        |FROM g ORDER BY doc_id, page_no""".stripMargin,
    // m = id%7+1 rows per CSV; Σ k² over k=0..m-1 = (m-1)m(2m-1)/6
    "q155_csv_cells" ->
      """WITH base AS (
        |  SELECT doc_id, lang, doc_id % 7 + 1 AS m
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT doc_id, CAST((m - 1) * m * (2 * m - 1) // 6 AS BIGINT) AS sum_sq,
        |  CAST(m AS BIGINT) AS n_rows, lang
        |FROM base ORDER BY doc_id""".stripMargin,
    // (a|b) *> (x|y) = the 4-path cross product per id
    "q154_trace_algebra" ->
      """SELECT doc_id, unnest(['a+x', 'a+y', 'b+x', 'b+y']) AS path
        |FROM documents WHERE doc_id % 10 = 9
        |ORDER BY doc_id, path""".stripMargin,
    // all three lift doors land on the same per-lang census; the blank
    // seed is the constant one-row chain head
    "q152_lift_paths" ->
      """WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        |SELECT 'blank' AS tier, 'seed' AS lang, CAST(1 AS BIGINT) AS n_docs
        |UNION ALL SELECT 'mock', lang, n_docs FROM per
        |UNION ALL SELECT 'rdd', lang, n_docs FROM per
        |ORDER BY tier, lang""".stripMargin,
    // the trails replayed from the serving-class formula: clean classes
    // 0/1 audit exactly once, class-2 404 bodies land in the error dump
    "q146_audit_trails" ->
      """SELECT 'audit' AS tier, doc_id FROM documents
        |WHERE doc_id % 20 = 7 AND doc_id % 3 <> 2
        |UNION ALL
        |SELECT 'error', doc_id FROM documents
        |WHERE doc_id % 20 = 7 AND doc_id % 3 = 2
        |ORDER BY tier, doc_id""".stripMargin,
    // the canonical seeded draw replayed position-for-position: element i
    // of an n-token fan-out is ranked by md5('7:'||n||':'||i) — the same
    // lowercase hex both engines compute — ByRatio(0.5) keeps the
    // (n+1)//2 smallest, ToSize(2) the 2 smallest, original order
    "q145_downsample_seeded" ->
      """WITH ts AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 10 = 4),
        |tok AS (
        |  SELECT doc_id, len(toks) AS n,
        |    CAST(unnest(range(len(toks))) AS INT) AS pos,
        |    unnest(toks) AS token
        |  FROM ts),
        |ranked AS (
        |  SELECT doc_id, n, pos, token,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY md5('7:' || n || ':' || pos), pos) AS r
        |  FROM tok)
        |SELECT 'by_ratio' AS mode, doc_id, pos, token FROM ranked
        |WHERE r <= (n + 1) // 2
        |UNION ALL
        |SELECT 'to_size', doc_id, pos, token FROM ranked WHERE r <= 2
        |ORDER BY mode, doc_id, pos""".stripMargin,
    // the survivor set replayed from the fail-count formula: retries = 2
    // heals fail counts 0..2, everything above exhausts into the
    // whole-trace DocError route; the request count is pinned in-query
    "q144_local_retry" ->
      """SELECT doc_id, 'ok ' || doc_id AS msg
        |FROM documents WHERE doc_id % 20 = 19 AND doc_id % 7 <= 2
        |ORDER BY doc_id""".stripMargin,
    // the echo stub returns exactly what was POSTed, so the oracle is the
    // source text itself; the dedup semantics are pinned by the in-query
    // pagesFetched assertion (one POST per distinct entity)
    "q127_wpost" ->
      """SELECT doc_id, 'POST' AS method, text AS echoed
        |FROM documents WHERE doc_id % 20 = 5 ORDER BY doc_id""".stripMargin,
    // q114's greedy replay generalized to batches: each step pops
    // k = min(4, remaining, |frontier|) top-priority nodes (the popped
    // LIST travels on the row), pushes all their children, decrements the
    // budget by the actual batch size
    "q128_explore_bestfirst_batched" ->
      s"""WITH RECURSIVE sim AS (
        |  SELECT 0 AS step, $BF_BUDGET AS remaining,
        |         [{'id': CAST(0 AS BIGINT), 'depth': 0}] AS frontier,
        |         CAST(NULL AS STRUCT(id BIGINT, "depth" INTEGER)[]) AS popped
        |  UNION ALL
        |  SELECT step + 1, remaining - len(batch),
        |    list_concat(rest,
        |      list_filter(flatten(list_transform(batch,
        |        b -> [{'id': b.id*2+1, 'depth': b.depth+1},
        |              {'id': b.id*2+2, 'depth': b.depth+1}])),
        |        c -> c.id < $TREE_N)),
        |    batch
        |  FROM (
        |    SELECT step, remaining,
        |      list_transform(list_slice(sorted_f, len(sorted_f) - k + 1, len(sorted_f)),
        |                     s -> s.x) AS batch,
        |      list_transform(list_slice(sorted_f, 1, len(sorted_f) - k), s -> s.x) AS rest
        |    FROM (
        |      SELECT step, remaining, frontier,
        |        CAST(least($BF_BATCH, remaining, len(frontier)) AS INTEGER) AS k,
        |        list_sort(list_transform(frontier,
        |          x -> {'p': (x.id*37)%$TREE_N, 'x': x})) AS sorted_f
        |      FROM sim WHERE remaining > 0 AND len(frontier) > 0))
        |)
        |SELECT v.doc_id, d.lang, v.depth
        |FROM (
        |  SELECT u.id AS doc_id, CAST(u.depth AS INT) AS depth
        |  FROM (SELECT unnest(popped) AS u FROM sim WHERE popped IS NOT NULL)) v
        |JOIN documents d USING (doc_id)
        |ORDER BY v.doc_id""".stripMargin,
    // recomputes every aHash bit from the synth formulas in integer
    // arithmetic: sample s(k) = (fid + 31·((k/8·h)/8) + ((k%8·w)/8)) mod
    // 256, bit ⇔ 64·s(k) > Σs (the strict-mean test, float-free), then
    // self-joins the 64-bit planes for the exact hamming distance
    "q131_image_neardup" ->
      """WITH base AS (SELECT doc_id FROM documents WHERE doc_id % 200 = 3),
        |files AS (
        |  SELECT doc_id AS fid FROM base
        |  UNION ALL SELECT doc_id + 2304 FROM base
        |  UNION ALL SELECT doc_id + 1152 FROM base WHERE doc_id % 400 = 203),
        |dims AS (SELECT fid, 1 + fid % 16 AS w, 1 + fid % 9 AS h FROM files),
        |samp AS (
        |  SELECT fid, k,
        |    (fid + 31 * (((k // 8) * h) // 8) + (((k % 8) * w) // 8)) % 256 AS s
        |  FROM dims, range(64) t(k)),
        |bits AS (
        |  SELECT fid, k,
        |    CASE WHEN 64 * s > sum(s) OVER (PARTITION BY fid) THEN 1 ELSE 0 END AS b
        |  FROM samp),
        |pairs AS (
        |  SELECT a.fid AS id_a, b.fid AS id_b,
        |    CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS INT) AS hamming
        |  FROM bits a JOIN bits b ON a.k = b.k AND a.fid < b.fid
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 5
        |ORDER BY id_a, id_b""".stripMargin,
    "q34_ann_ivf" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS norm
        |  FROM embeddings),
        |c AS (SELECT vec_id - 10 AS cell_id, v AS cv, norm AS cnorm FROM e
        |      WHERE vec_id >= 10 AND vec_id < 18),
        |assign AS (
        |  SELECT vec_id, v, norm, cell_id,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ${dotSql("v", "cv")} / (norm * cnorm) DESC, cell_id) AS r
        |  FROM e CROSS JOIN c),
        |corpus AS (SELECT vec_id, v, norm, cell_id FROM assign WHERE r = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM e WHERE vec_id < 5),
        |probes AS (
        |  SELECT q_id, cell_id FROM (
        |    SELECT q_id, cell_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY ${dotSql("qv", "cv")} / (qn * cnorm) DESC, cell_id) AS pr
        |    FROM q CROSS JOIN c) WHERE pr <= 3),
        |scored AS (
        |  SELECT q_id, vec_id, round(${dotSql("qv", "v")} / (qn * norm), 4) AS cosine
        |  FROM corpus JOIN probes USING (cell_id) JOIN q USING (q_id)
        |  WHERE vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, vec_id AS neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q36_embed_neardup" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS norm
        |  FROM embeddings),
        |c AS (SELECT vec_id - 10 AS cell_id, v AS cv, norm AS cnorm FROM e
        |      WHERE vec_id >= 10 AND vec_id < 18),
        |assign AS (
        |  SELECT vec_id, v, norm, cell_id,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ${dotSql("v", "cv")} / (norm * cnorm) DESC, cell_id) AS r
        |  FROM e CROSS JOIN c),
        |corpus AS (SELECT vec_id, v, norm, cell_id FROM assign WHERE r = 1),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(${dotSql("a.v", "b.v")} / (a.norm * b.norm), 4) AS cosine
        |  FROM corpus a JOIN corpus b
        |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM pairs
        |ORDER BY cosine DESC, id_a, id_b LIMIT 50""".stripMargin,
    "q37_pdf_extract" ->
      """SELECT doc_id, trim(text) AS pdf_text
        |FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,
    "q38_docx_extract" ->
      """SELECT doc_id, text AS docx_text
        |FROM documents WHERE doc_id % 25 = 7 ORDER BY doc_id""".stripMargin,
    "q65_doc_extract" ->
      """SELECT doc_id, text AS doc_text
        |FROM documents WHERE doc_id % 25 = 9 ORDER BY doc_id""".stripMargin,
    "q67_xls_extract" ->
      """SELECT doc_id, 'Data' || chr(10) || text AS xls_text
        |FROM documents WHERE doc_id % 25 = 11 ORDER BY doc_id""".stripMargin,
    "q77_rtf_extract" ->
      """SELECT doc_id, text AS rtf_text
        |FROM documents WHERE doc_id % 25 = 19 ORDER BY doc_id""".stripMargin,
    // blocks: RFC 2047-decoded subject, QP-decoded body, base64-decoded
    // attachment — joined with newlines by the BlockRoot contract
    "q91_eml_extract" ->
      """SELECT doc_id,
        |  '✉ Corpus doc ' || doc_id || chr(10) || text || chr(10) || text AS eml_text
        |FROM documents WHERE doc_id % 25 = 23 ORDER BY doc_id""".stripMargin,
    "q92_mbox_ingest" ->
      """SELECT doc_id,
        |  '✉ Corpus doc ' || doc_id || chr(10) || text || chr(10) || text AS eml_text
        |FROM documents WHERE doc_id % 25 = 3 ORDER BY doc_id""".stripMargin,
    "q78_epub_extract" ->
      """SELECT doc_id, text AS epub_text
        |FROM documents WHERE doc_id % 25 = 21 ORDER BY doc_id""".stripMargin,
    // TIFF: id-arithmetic dimensions + the three text tags the IFD walk
    // must surface (description = corpus text; artist/comment id-derived)
    "q98_tiff_extract" ->
      """SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS width,
        |  CAST(1 + doc_id % 37 AS BIGINT) AS height, text AS tiff_text,
        |  'doc ' || doc_id AS artist, 'uc ' || doc_id AS user_comment
        |FROM documents WHERE doc_id % 25 = 1 ORDER BY doc_id""".stripMargin,
    "q99_ps_extract" ->
      """SELECT doc_id, text AS ps_text
        |FROM documents WHERE doc_id % 25 = 2 ORDER BY doc_id""".stripMargin,
    // JPEG: SOF frame dimensions + the EXIF APP1's TIFF tags
    "q100_jpeg_exif" ->
      """SELECT doc_id, CAST(8 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(8 + doc_id % 9 AS BIGINT) AS height, text AS tiff_text,
        |  'doc ' || doc_id AS artist, 'uc ' || doc_id AS user_comment
        |FROM documents WHERE doc_id % 25 = 4 ORDER BY doc_id""".stripMargin,
    // subtitles: 7-word 2-second cues (the q82 chunk shape), format by
    // id parity, duration = 2000ms per cue
    "q103_subtitles" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents WHERE doc_id % 25 = 8),
        |lines AS (
        |  SELECT doc_id, (pos - 1) // 7 AS ln,
        |         string_agg(tok, ' ' ORDER BY pos) AS line
        |  FROM toks GROUP BY doc_id, (pos - 1) // 7),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_cues,
        |         string_agg(line, chr(10) ORDER BY ln) AS sub_text
        |  FROM lines GROUP BY doc_id)
        |SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS fmt,
        |  n_cues, CAST(n_cues * 2000 AS BIGINT) AS total_ms, sub_text
        |FROM agg ORDER BY doc_id""".stripMargin,
    // PNG: IHDR dimensions + tEXt/iTXt keyword map
    "q101_png_text" ->
      """SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(1 + doc_id % 9 AS BIGINT) AS height,
        |  'doc ' || doc_id AS title, text AS png_text
        |FROM documents WHERE doc_id % 25 = 6 ORDER BY doc_id""".stripMargin,
    "q68_ppt_extract" ->
      """SELECT doc_id, text AS ppt_text
        |FROM documents WHERE doc_id % 25 = 13 ORDER BY doc_id""".stripMargin,
    "q70_msg_extract" ->
      """SELECT doc_id, 'msg' || doc_id || chr(10) || text AS msg_text
        |FROM documents WHERE doc_id % 25 = 17 ORDER BY doc_id""".stripMargin,
    "q42_ann_lsh" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS norm
        |  FROM embeddings),
        |p AS (SELECT vec_id - 20 AS plane_id, v AS pv FROM e
        |      WHERE vec_id >= 20 AND vec_id < 28),
        |sig AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN ${dotSql("e.v", "p.pv")} > 0
        |      THEN 1 << plane_id ELSE 0 END) AS BIGINT) AS sig
        |  FROM e CROSS JOIN p GROUP BY e.vec_id),
        |cb AS (
        |  SELECT vec_id, 0 AS band_id, sig & 15 AS band_key FROM sig
        |  UNION ALL SELECT vec_id, 1, (sig >> 4) & 15 FROM sig),
        |qs AS (SELECT vec_id AS q_id FROM e WHERE vec_id < 5),
        |qb AS (SELECT q_id, band_id, band_key
        |       FROM cb JOIN qs ON cb.vec_id = qs.q_id),
        |cand AS (
        |  SELECT DISTINCT qb.q_id, cb.vec_id
        |  FROM cb JOIN qb ON cb.band_id = qb.band_id AND cb.band_key = qb.band_key
        |  WHERE cb.vec_id <> qb.q_id),
        |scored AS (
        |  SELECT cand.q_id, cand.vec_id,
        |    round(${dotSql("eq.v", "ec.v")} / (eq.norm * ec.norm), 4) AS cosine
        |  FROM cand JOIN e eq ON eq.vec_id = cand.q_id
        |            JOIN e ec ON ec.vec_id = cand.vec_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, vec_id AS neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // fps round-trips through Synth's truncating 1e6/fps and the probe's
    // round(1e6/usPerFrame) — exact for the 24/30/36 values used here
    "q52_video_ingest" ->
      """SELECT doc_id, 'mp4' AS format,
        |  CAST(320 + (doc_id % 8) * 16 AS INT) AS width,
        |  CAST(180 + (doc_id % 5) * 16 AS INT) AS height,
        |  CAST(1000 * (1 + doc_id % 4) AS INT) AS sample_rate,
        |  CAST(1000 + doc_id % 500 AS BIGINT) AS n_samples
        |FROM documents WHERE doc_id % 10 = 4
        |UNION ALL
        |SELECT doc_id, 'avi',
        |  CAST(320 + (doc_id % 6) * 8 AS INT),
        |  CAST(240 + (doc_id % 4) * 8 AS INT),
        |  CAST(24 + (doc_id % 3) * 6 AS INT),
        |  CAST(600 + doc_id % 400 AS BIGINT)
        |FROM documents WHERE doc_id % 10 = 7
        |ORDER BY doc_id""".stripMargin,
    // members and text are stated from the source table; the gz+tar+seam
    // container stack must round-trip losslessly for the hash to match
    "q59_tar_extract" ->
      """SELECT doc_id,
        |  'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
        |  text
        |FROM documents WHERE doc_id % 10 = 8 ORDER BY doc_id""".stripMargin,
    // the codec is pure id arithmetic (seg = doc_id//20, cycling the five
    // container legs); names and text are stated from the source table, so
    // each of bzip2/xz/zstd/lz4/7z must round-trip losslessly to hash-match
    "q71_archive_codecs" ->
      """SELECT doc_id,
        |  'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
        |  CASE CAST((doc_id // 20) % 5 AS INT)
        |    WHEN 0 THEN 'bz2' WHEN 1 THEN 'xz' WHEN 2 THEN 'zst'
        |    WHEN 3 THEN 'lz4' ELSE '7z' END AS codec,
        |  text
        |FROM documents WHERE doc_id % 10 = 4 ORDER BY doc_id""".stripMargin,
    // the raw url is built by the same formula on both engines; the
    // canonical form is stated closed-form — every rule is load-bearing
    "q57_url_normalize" ->
      """SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END)
        |    || 'WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |    || '/%7Euser/a/./b' || CAST(doc_id % 7 AS VARCHAR) || '/../c%41'
        |    || '?utm_source=feed&z=2&fbclid=x&a=' || CAST(doc_id % 3 AS VARCHAR)
        |    || '&#sec' AS url_raw,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
        |    || '://www.site' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.com/~user/a/cA?a=' || CAST(doc_id % 3 AS VARCHAR) || '&z=2' AS url
        |FROM documents ORDER BY doc_id""".stripMargin,
    // closed-form REP verdicts: graftbot group blocks only /deep; the *
    // group blocks /private (with the $-anchored allow rescuing
    // /private/ok) and /tmp*
    "q58_robots_gate" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN '/deep/x' WHEN 1 THEN '/private'
        |    WHEN 2 THEN '/ok' ELSE '/private/ok' END AS path,
        |  doc_id % 4 <> 0 AS allowed_graft,
        |  doc_id % 4 <> 1 AS allowed_other
        |FROM documents ORDER BY doc_id""".stripMargin,
    // n_bytes re-derives the HTML template length; escape order (& first)
    // mirrors xmlEscape's per-char flatMap exactly
    "q56_warc_ingest" ->
      """SELECT doc_id,
        |  'http://corpus.test/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(200 AS INT) AS http_status,
        |  CAST(octet_length(encode('<!DOCTYPE html><html><head><title>doc '
        |    || CAST(doc_id AS VARCHAR) || '</title></head><body><article>'
        |    || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        |    || '</article></body></html>')) AS BIGINT) AS n_bytes,
        |  'doc ' || CAST(doc_id AS VARCHAR) AS title,
        |  text AS body_text
        |FROM documents WHERE doc_id % 10 = 2 ORDER BY doc_id""".stripMargin,
    "q41_media_ingest" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(1 + doc_id % 16 AS INT) AS width,
        |  CAST(1 + doc_id % 9 AS INT) AS height,
        |  CAST(8 AS INT) AS bit_depth, CAST(1 AS INT) AS n_channels,
        |  CAST(-1 AS INT) AS sample_rate, CAST(-1 AS BIGINT) AS n_samples
        |FROM documents WHERE doc_id % 10 = 3
        |UNION ALL
        |SELECT doc_id, 'wav', CAST(-1 AS INT), CAST(-1 AS INT),
        |  CAST(16 AS INT), CAST(1 AS INT),
        |  CAST(8000 + 100 * (doc_id % 5) AS INT),
        |  CAST(500 + doc_id % 100 AS BIGINT)
        |FROM documents WHERE doc_id % 10 = 6
        |ORDER BY doc_id""".stripMargin,
    // every field re-derived from the Synth formulas: pixel(x,y) =
    // (id + 31y + x) mod 256, sample(i) = (id + 97i) mod 32768; the aHash
    // mirrors Decode.aHash64's integer index arithmetic exactly
    "q46_media_decode" ->
      """WITH png AS (
        |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 9 AS h
        |  FROM documents WHERE doc_id % 10 = 3),
        |pix AS (
        |  SELECT doc_id, w, h,
        |    flatten(list_transform(range(0, h), y ->
        |      list_transform(range(0, w), x -> (doc_id + 31*y + x) % 256))) AS px,
        |    list_transform(range(0, 64), k ->
        |      (doc_id + 31*(((k // 8) * h) // 8) + (((k % 8) * w) // 8)) % 256) AS sm
        |  FROM png),
        |ph AS (
        |  SELECT doc_id, w, h, sm,
        |    list_sum(px) * 1.0 / (w * h) AS mean_lum,
        |    list_sum(sm) / 64.0 AS m
        |  FROM pix),
        |img AS (
        |  SELECT doc_id, 'image' AS kind, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |    round(mean_lum, 4) AS mean_lum,
        |    CAST(list_sum(list_transform(range(32, 64), k ->
        |      CASE WHEN sm[k + 1] > m THEN (1::BIGINT << (k - 32)) ELSE 0 END)) AS BIGINT) AS phash_hi,
        |    CAST(list_sum(list_transform(range(0, 32), k ->
        |      CASE WHEN sm[k + 1] > m THEN (1::BIGINT << k) ELSE 0 END)) AS BIGINT) AS phash_lo,
        |    CAST(-1 AS BIGINT) AS n_samples, CAST(-1 AS INT) AS sample_rate,
        |    CAST(-1 AS DOUBLE) AS rms, CAST(-1 AS DOUBLE) AS duration_s
        |  FROM ph),
        |wav AS (
        |  SELECT doc_id, 8000 + 100 * (doc_id % 5) AS rate, 500 + doc_id % 100 AS n
        |  FROM documents WHERE doc_id % 10 = 6),
        |aud AS (
        |  SELECT doc_id, 'audio' AS kind, CAST(-1 AS INT) AS width, CAST(-1 AS INT) AS height,
        |    CAST(-1 AS DOUBLE) AS mean_lum,
        |    CAST(-1 AS BIGINT) AS phash_hi, CAST(-1 AS BIGINT) AS phash_lo,
        |    CAST(n AS BIGINT) AS n_samples, CAST(rate AS INT) AS sample_rate,
        |    round(sqrt(list_sum(list_transform(
        |      list_transform(range(0, n), i -> (doc_id + 97*i) % 32768),
        |      s -> s * s * 1.0)) / n), 4) AS rms,
        |    round(n * 1.0 / rate, 4) AS duration_s
        |  FROM wav)
        |SELECT * FROM img UNION ALL SELECT * FROM aud ORDER BY doc_id""".stripMargin,
    // image resize: every thumbnail pixel replayed from the synth formula
    // with the same integer NN index arithmetic (tw=4, th=3)
    "q124_thumbnail" ->
      """WITH png AS (
        |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 9 AS h
        |  FROM documents WHERE doc_id % 10 = 3),
        |t AS (
        |  SELECT doc_id, w, h,
        |    list_transform(range(0, 12), k ->
        |      (doc_id + 31*(((k // 4) * h) // 3) + (((k % 4) * w) // 4)) % 256) AS tb
        |  FROM png)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(12 AS BIGINT) AS n_px,
        |  CAST(list_sum(tb) AS BIGINT) AS thumb_sum,
        |  list_aggregate(list_transform(tb, x -> CAST(x AS VARCHAR)),
        |                 'string_agg', ',') AS thumb
        |FROM t ORDER BY doc_id""".stripMargin,
    // audio resample: every output sample replayed from the synth formula
    // with the same integer NN index arithmetic (k=64, first channel)
    "q125_audio_resample" ->
      """WITH wav AS (
        |  SELECT doc_id, 8000 + 100 * (doc_id % 5) AS rate, 500 + doc_id % 100 AS n
        |  FROM documents WHERE doc_id % 10 = 6),
        |t AS (
        |  SELECT doc_id, rate, n,
        |    list_transform(range(0, 64), i -> (doc_id + 97*((i * n) // 64)) % 32768) AS sm
        |  FROM wav)
        |SELECT doc_id, CAST(rate AS INT) AS sample_rate, CAST(n AS BIGINT) AS n_frames,
        |  CAST(64 AS BIGINT) AS n_out,
        |  CAST(list_sum(sm) AS BIGINT) AS sample_sum,
        |  list_aggregate(list_transform(sm, x -> CAST(x AS VARCHAR)),
        |                 'string_agg', ',') AS samples
        |FROM t ORDER BY doc_id""".stripMargin,
    "q35_multimodal" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  ascii(substr(text, 1, 1)) AS head_byte,
        |  CAST(list_sum(list_transform(range(1, strlen(text) + 1),
        |    i -> ascii(substr(text, i, 1)))) AS BIGINT) AS checksum,
        |  CAST((strlen(text) + 255) // 256 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
