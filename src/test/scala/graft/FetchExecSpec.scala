package graft

import graft.actions._
import graft.api.{ForkType, GraftContext}
import graft.cache.InMemoryDocCache
import graft.conf.GraftConf
import graft.doc.{Doc, DocUID}
import graft.agent.Agent
import graft.exec.Locality

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Fetch dedup invariants — metrics are the oracle for once-only side-effect
  * execution (reference FetchPlanSpec.scala:33-100, DataViewSpec.scala:218-274).
  */
class FetchExecSpec extends AnyFunSuite with BeforeAndAfterEach {

  import SparkFixture._

  override def beforeEach(): Unit = InMemoryDocCache.clear()

  private def freshCtx(conf: GraftConf = GraftConf()): GraftContext =
    new GraftContext(spark, conf)

  test("N rows with the same trace => pagesFetched == 1 (the reference golden)") {
    val uri = writeFixture("fetch1/page.html", "<html><h1>only once</h1></html>")
    val ctx = freshCtx()
    import spark.implicits._
    val view = ctx.create((1 to 8).map(i => s"row$i"))
      .fetchOne(_ => Trace.of(Wget(s"file:$uri")))
    assert(view.count() == 8)
    assert(ctx.metrics.pagesFetched.value == 1)
    // every row sees the same doc
    val titles = view.select(r => r.trajectory.texts("h1").mkString).collect()
    assert(titles == Seq.fill(8)("only once"))
  }

  test("fetch + fused select still fetches once (reference FetchPlanSpec:43-51)") {
    val uri = writeFixture("fetch2/page.html", "<html><h1>fused</h1></html>")
    val ctx = freshCtx()
    import spark.implicits._
    val out = ctx.create(Seq(1, 2, 3))
      .fetchOne(_ => Trace.of(Wget(s"file:$uri")))
      .select(r => (r.data, r.trajectory.texts("h1").mkString))
      .collect()
    assert(out.map(_._2).distinct == Seq("fused"))
    assert(ctx.metrics.pagesFetched.value == 1)
  }

  test("distinct traces fetch once each; timeout/alias variants do not refetch") {
    val u1 = writeFixture("fetch3/a.html", "<p>a</p>")
    val u2 = writeFixture("fetch3/b.html", "<p>b</p>")
    val ctx = freshCtx()
    import spark.implicits._
    val traces = Seq(
      Trace.of(Wget(s"file:$u1", timeoutMillis = 1000)),
      Trace.of(Wget(s"file:$u1", timeoutMillis = 9999, as = Some("x"))),
      Trace.of(Wget(s"file:$u2")),
      Trace.of(Delay(1), Wget(s"file:$u2")))
    val view = ctx.create(traces.indices)
      .fetchOne(i => traces(i))
    assert(view.count() == 4)
    assert(ctx.metrics.pagesFetched.value == 2)
  }

  test("TraceSet fan-out: one row can fetch several alternatives") {
    val u1 = writeFixture("fetch4/a.html", "<p>pa</p>")
    val u2 = writeFixture("fetch4/b.html", "<p>pb</p>")
    val ctx = freshCtx()
    import spark.implicits._
    val view = ctx.create(Seq("seed"))
      .fetch(_ => TraceSet.one(Wget(s"file:$u1")) || TraceSet.one(Wget(s"file:$u2")))
    assert(view.count() == 2)
    val texts = view.select(_.trajectory.texts("p").mkString).collect().sorted
    assert(texts == Seq("pa", "pb"))
  }

  test("Narrow locality dedups within partition without shuffle") {
    val uri = writeFixture("fetch5/p.html", "<p>n</p>")
    val ctx = freshCtx()
    import spark.implicits._
    val view = ctx.create((1 to 16), numSlices = 2)
      .fetchOne(_ => Trace.of(Wget(s"file:$uri")), locality = Locality.Narrow)
    assert(view.count() == 16)
    // one fetch per partition at most (2 partitions)
    assert(ctx.metrics.pagesFetched.value <= 2)
  }

  test("Mock observations flow through fetch with no remote I/O") {
    val ctx = freshCtx()
    import spark.implicits._
    val doc = Doc(DocUID("seed"), "mock://x", "<p>canned</p>".getBytes("UTF-8"), Some("text/html"))
    val view = ctx.create(Seq("a", "b"))
      .fetchOne(_ => Trace.of(Mock(Seq(doc))))
    assert(view.select(_.trajectory.texts("p").mkString).collect() == Seq("canned", "canned"))
    assert(ctx.metrics.pagesFetched.value == 0)
  }

  test("failed fetch yields DocError row, pipeline keeps going") {
    val ctx = freshCtx(GraftConf(remoteRetries = 0, cacheEnabled = false))
    import spark.implicits._
    val good = writeFixture("fetch6/ok.html", "<p>ok</p>")
    val view = ctx.create(Seq(s"file:$good", "file:/nonexistent/nope.html"))
      .fetchOne(u => Trace.of(Wget(u)))
    val (okRows, errRows) = view.collect().partition(_.trajectory.isSuccess)
    assert(okRows.size == 1 && errRows.size == 1)
    assert(errRows.head.trajectory.failed.nonEmpty)
    assert(ctx.metrics.errors.value >= 1)
  }

  test("fork: Inner drops no-match rows, Outer keeps them") {
    val withLinks = writeFixture("fetch7/links.html",
      """<html><a href="x.html">x</a><a href="y.html">y</a></html>""")
    val noLinks = writeFixture("fetch7/plain.html", "<html><p>none</p></html>")
    val ctx = freshCtx()
    import spark.implicits._
    def fetched = ctx.create(Seq(s"file:$withLinks", s"file:$noLinks"))
      .fetchOne(u => Trace.of(Wget(u)))
    val inner = fetched.fork("a", ForkType.Inner)(_.text).dataset.collect()
    assert(inner.map(_._2).flatten.sorted.toSeq == Seq("x", "y"))
    val outer = fetched.fork("a", ForkType.Outer)(_.text).dataset.collect()
    assert(outer.length == 3)
    assert(outer.count(_._2.isEmpty) == 1)
    // forkIndexed: the ordinal is the child's position in the parent's
    // match list (document order), independent of row distribution; the
    // Outer no-match row carries no ordinal at all
    val idx = fetched.forkIndexed("a", ForkType.Outer)((n, i) => (i, n.text))
      .dataset.collect()
    assert(idx.flatMap(_._2).sorted.toSeq == Seq((0, "x"), (1, "y")))
    assert(idx.count(_._2.isEmpty) == 1)
  }

  test("directory Wget yields a JSON listing doc") {
    writeFixture("fetch8/sub/f1.txt", "one")
    writeFixture("fetch8/f2.txt", "two")
    val dir = fixtureRoot.resolve("fetch8").toString
    val ctx = freshCtx()
    import spark.implicits._
    val names = ctx.create(Seq(0))
      .fetchOne(_ => Trace.of(Wget(s"file:$dir")))
      .selectMany(_.trajectory.findAll("entries").flatMap(_.attr("name")))
      .collect()
    assert(names.sorted == Seq("f2.txt", "sub"))
  }

  test("ftp: scheme routes to Hadoop FTPFileSystem (reference OmniResolver coverage)") {
    // no FTP server in this sandbox — the wiring is proven by getting a
    // CONNECTION error from the FTP filesystem, not an unknown-scheme error
    val ctx = freshCtx(GraftConf(remoteRetries = 0, cacheEnabled = false))
    import spark.implicits._
    val rows = ctx.create(Seq(0))
      .fetchOne(_ => Trace.of(Wget("ftp://user:pw@127.0.0.1:1/x.txt", timeoutMillis = 5000)))
      .collect()
    val err = rows.head.trajectory.failed.head.asInstanceOf[graft.doc.DocError]
    assert(!err.message.contains("No FileSystem for scheme"),
      s"ftp scheme unsupported: ${err.message}")
  }

  test("offloaded fetched views shuffle pointers, not payloads (100 TB invariant)") {
    // ~2 MiB body; DFS cache dir configured => blob offload defaults ON
    val big = "<html><head><title>HUGE</title></head><body>" +
      ("z" * (2 << 20)) + "</body></html>"
    val uri = writeFixture("fetch10/huge.html", big)
    val ctx = freshCtx(GraftConf(dfsCacheDir = Some(scratchDir("fetch10cache"))))
    import spark.implicits._
    val view = ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri")))
    view.persist()
    assert(view.count() == 1) // materialize the fetch once

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val docs = view.dataset.repartition(4) // forces a full shuffle of the rows
        .map(_.trajectory.texts("title").mkString)(
          org.apache.spark.sql.Encoders.STRING).collect()
      assert(docs.toSeq == Seq("HUGE")) // doc still fully readable after the shuffle
      // listener events are posted async; wait for the metrics to drain
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      while (System.currentTimeMillis() < deadline &&
             (shuffleBytes.get() == 0 || shuffleBytes.get() != last)) {
        last = shuffleBytes.get(); Thread.sleep(200)
      }
      assert(shuffleBytes.get() > 0, "expected the repartition to shuffle something")
      assert(shuffleBytes.get() < 256 * 1024,
        s"shuffled ${shuffleBytes.get()} bytes — the 2 MiB body rode the shuffle")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("trajectory save writes doc bodies") {
    val uri = writeFixture("fetch9/doc.html", "<p>saved</p>")
    val out = scratchDir("save")
    val ctx = freshCtx()
    import spark.implicits._
    ctx.create(Seq(0)).fetchOne(_ => Trace.of(Wget(s"file:$uri"))).save(out)
    // skip Hadoop LocalFileSystem's .crc checksum sidecars
    val files = new java.io.File(out).listFiles().filterNot(_.getName.endsWith(".crc"))
    assert(files.nonEmpty)
    assert(new String(java.nio.file.Files.readAllBytes(files.head.toPath), "UTF-8")
      .contains("saved"))
  }

  // ---- the fetch pipeline primitive (Agent.executeAll) ----------------------

  private def mockTrace(k: String): Trace =
    Trace.of(Mock(Seq(Doc(DocUID(k), s"mock://$k", k.getBytes("UTF-8"), Some("text/plain")))))

  test("executeAll: rows keep input order; each run of equal keys executes once; a null key runs alone") {
    val conf = GraftConf(cacheEnabled = false, cacheWrite = false)
    // 11 runs over 20 rows: "b" and "a" recur after other keys, so each
    // recurrence is a run of its own
    val keys = Seq("a", "a", "b", "c", "c", "c", "b", "d", "e", "e",
      "f", "g", "g", "g", "g", "h", "i", "i", "a", "a")
    val rows = keys.zipWithIndex
    val runs = keys.indices.count(i => i == 0 || keys(i) != keys(i - 1))
    val grouped = freshCtx(conf)
    val out = Agent.executeAll(rows.iterator, grouped.env)(_._1, r => mockTrace(r._1)).toVector
    assert(out.map(_._1) == rows)
    out.foreach { case ((k, _), traj) => assert(traj.observations.map(_.uri) == Seq(s"mock://$k")) }
    assert(grouped.metrics.traceExecutions.value == runs)
    // rows of one run share its one trajectory
    assert(out(3)._2 eq out(5)._2)
    val solo = freshCtx(conf)
    val alone = Agent.executeAll(rows.iterator, solo.env)(_ => null, r => mockTrace(r._1)).toVector
    assert(alone.map(_._1) == rows)
    assert(solo.metrics.traceExecutions.value == rows.size)
  }

  test("executeAll: a failed execution's cause is rethrown on the consumer's thread") {
    // a failing fetch whose error dump cannot be written: the dump's
    // IOException escapes Agent.execute on the pool thread
    val notADir = writeFixture("fetch10/file", "x")
    val ctx = freshCtx(GraftConf(cacheEnabled = false, remoteRetries = 0,
      errorDumpDir = Some(s"$notADir/dumps")))
    val rows = Seq(s"file:$notADir", "file:/nonexistent/nope.html")
    val it = Agent.executeAll(rows.iterator, ctx.env)(identity, u => Trace.of(Wget(u)))
    assert(it.next()._2.isSuccess)
    intercept[java.io.IOException](it.next())
  }

  test("agent pool threads do not inherit the submitting thread's inheritable thread-locals") {
    import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.jdk.CollectionConverters._
    val local = new InheritableThreadLocal[String]
    // more concurrent jobs than live pool threads: the pool must make at
    // least four new threads, from the submitting thread
    val live = Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith("graft-agent-"))
    val n = live + 4
    val started = new CountDownLatch(n)
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val submitter = new Thread(() => {
      local.set("task-local")
      val jobs = (1 to n).map(_ => Agent.pool.submit(new Callable[Unit] {
        override def call(): Unit = {
          started.countDown()
          started.await(30, TimeUnit.SECONDS)
          seen.add(Option(local.get()))
        }
      }))
      jobs.foreach(_.get(60, TimeUnit.SECONDS))
    })
    submitter.start()
    submitter.join(90000)
    assert(seen.size == n)
    assert(seen.asScala.forall(_.isEmpty), "a pool thread saw the submitter's thread-local")
  }
}
