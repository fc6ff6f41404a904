package graft

import graft.actions._
import graft.api.{ExploredView, GraftContext}
import graft.cache.InMemoryDocCache
import graft.conf.{DownSampling, GraftConf}
import graft.exec.FetchedRow

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Explore goldens: fetch-count budgets and depth-range semantics (reference
  * ExplorePlanSpec.scala:100-195 — 4-doc tree ⇒ 4 fetches unbounded, bounded
  * depth fetches only the in-range frontier; diamond dedup from
  * dsl/package.scala:167-168).
  */
class ExploreSpec extends AnyFunSuite with BeforeAndAfterEach {

  import SparkFixture._

  override def beforeEach(): Unit = InMemoryDocCache.clear()

  import ExploreSpec.{dirExpand, linkExpand}

  test("diamond graph A→{B,C}→D: 4 fetches, D visited once at min depth") {
    val site = diamondSite("explore1")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand)
    val rows = explored.collect()
    assert(ctx.metrics.pagesFetched.value == 4) // B,C both link D; D fetched ONCE
    val byTitle = rows.map(r => r.row.trajectory.texts("title").mkString -> r.depth).toMap
    assert(byTitle == Map("A" -> 0, "B" -> 1, "C" -> 1, "D" -> 2))
  }

  test("maxDepth bounds traversal: depth [0,2) fetches only 3 pages") {
    val site = diamondSite("explore2")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand, minDepth = 0, maxDepth = 2)
    val rows = explored.collect()
    assert(rows.map(_.depth).sorted.toSeq == Seq(0, 1, 1)) // A, B, C — no D
    assert(ctx.metrics.pagesFetched.value == 3) // frontier beyond max never fetched
  }

  test("minDepth filters output but not traversal") {
    val site = diamondSite("explore3")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand, minDepth = 1, maxDepth = 3)
    val titles = explored.collect()
      .map(r => r.row.trajectory.texts("title").mkString).sorted.toSeq
    assert(titles == Seq("B", "C", "D")) // A traversed but below minDepth
  }

  test("directory-tree explore (the reference's dir fixture shape)") {
    // tree: root/{a/{f.txt}, b/{c/{g.txt}}} — 4 directories total
    writeFixture("explore4/root/a/f.txt", "f")
    writeFixture("explore4/root/b/c/g.txt", "g")
    val root = fixtureRoot.resolve("explore4/root").toString
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val unbounded = ctx.create(Seq(s"file:$root")).explore(u => Trace.of(Wget(u)))(dirExpand)
    assert(unbounded.count() == 4) // root, a, b, b/c
    assert(ctx.metrics.pagesFetched.value == 4)

    InMemoryDocCache.clear()
    val ctx2 = new GraftContext(spark, GraftConf())
    val bounded = ctx2.create(Seq(s"file:$root")).explore(u => Trace.of(Wget(u)))(
      dirExpand, maxDepth = 2)
    assert(bounded.count() == 3) // root, a, b — not b/c
    assert(ctx2.metrics.pagesFetched.value == 3)
  }

  test("explore + select fusion and downsampled fan-out") {
    val site = diamondSite("explore5")
    val ctx = new GraftContext(spark,
      GraftConf(downSampling = DownSampling.FirstN(1), maxExploreDepth = 2))
    import spark.implicits._
    // preview-ish conf: only the first child link expands, depth capped at 2
    val titles = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand)
      .select(r => r.row.trajectory.texts("title").mkString)
      .collect().sorted.toSeq
    assert(titles == Seq("A", "B"))
  }

  test("dead links do not kill the crawl; failures surface as error rows") {
    val site = diamondSite("explore7")
    // A also links a page that does not exist
    writeFixture("explore7/A.html",
      s"""<html><head><title>A</title></head><body>
         |<a href="B.html">B</a><a href="C.html">C</a>
         |<a href="missing.html">dead</a></body></html>""".stripMargin)
    val ctx = new GraftContext(spark, GraftConf(remoteRetries = 0))
    import spark.implicits._
    val rows = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand).collect()
    val (ok, failed) = rows.partition(_.row.trajectory.isSuccess)
    assert(ok.map(_.row.trajectory.texts("title").mkString).sorted.toSeq ==
      Seq("A", "B", "C", "D"))
    assert(failed.size == 1 && failed.head.depth == 1) // the dead link, at its depth
  }

  test("reliable checkpointing (checkpointDir set) reproduces the diamond golden") {
    val site = diamondSite("explore8")
    val ckpt = scratchDir("explore-ckpt")
    val ctx = new GraftContext(spark, GraftConf(checkpointDir = Some(ckpt)))
    import spark.implicits._
    val rows = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand).collect()
    assert(ctx.metrics.pagesFetched.value == 4)
    val byTitle = rows.map(r => r.row.trajectory.texts("title").mkString -> r.depth).toMap
    assert(byTitle == Map("A" -> 0, "B" -> 1, "C" -> 1, "D" -> 2))
    // the reliable checkpoints actually hit the configured dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "expected RDD checkpoint files under checkpointDir")
    // the default conf protects fetched work from the first epoch on: the
    // seed cut AND the epoch cut are both reliable
    val rddDirs = ExploreSpec.checkpointRddDirs(ckpt)
    assert(rddDirs >= 2, s"expected a reliable seed cut and epoch cut, got $rddDirs rdd-* dirs")
  }

  test("reliable checkpoints do not re-run fetch side effects (cache disabled)") {
    val site = diamondSite("explore10")
    val ckpt = scratchDir("explore-ckpt2")
    // cache OFF: any checkpoint-write recompute would hit the network again
    val ctx = new GraftContext(spark, GraftConf(cacheEnabled = false,
      checkpointDir = Some(ckpt)))
    import spark.implicits._
    val n = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand).count()
    assert(n == 4)
    assert(ctx.metrics.pagesFetched.value == 4,
      s"checkpoint write re-ran fetches: ${ctx.metrics.pagesFetched.value}")
  }

  test("explore never flips AQE on the caller's session (concurrent observer)") {
    val site = diamondSite("explore9")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    @volatile var flipped = false
    @volatile var watching = true
    val watcher = new Thread(() => {
      while (watching) {
        if (spark.conf.get("spark.sql.adaptive.enabled") != "true") flipped = true
        Thread.sleep(20)
      }
    })
    watcher.start()
    try {
      val ctx = new GraftContext(spark, GraftConf())
      import spark.implicits._
      val n = ctx.create(Seq(s"file:${site("A")}"))
        .explore(u => Trace.of(Wget(u)))(linkExpand).count()
      assert(n == 4)
    } finally { watching = false; watcher.join() }
    assert(!flipped, "caller session lost AQE during explore")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("explore shuffles keys and pointers, not doc bodies (100 TB invariant)") {
    // diamond site whose root page carries a ~2 MiB body; offload defaults on
    // via the DFS cache dir, so every stage of the loop moves pointers
    val pad = "<!-- " + ("x" * (2 << 20)) + " -->"
    writeFixture("explore11/A.html",
      s"""<html><head><title>A</title></head><body>$pad
         |<a href="B.html">B</a><a href="C.html">C</a></body></html>""".stripMargin)
    writeFixture("explore11/B.html",
      """<html><head><title>B</title></head><body><a href="D.html">D</a></body></html>""")
    writeFixture("explore11/C.html",
      """<html><head><title>C</title></head><body><a href="D.html">D</a></body></html>""")
    writeFixture("explore11/D.html",
      """<html><head><title>D</title></head><body>leaf</body></html>""")
    val root = fixtureRoot.resolve("explore11/A.html")
    val ctx = new GraftContext(spark,
      GraftConf(dfsCacheDir = Some(scratchDir("explore11cache"))))
    import spark.implicits._

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = ctx.create(Seq(s"file:$root"))
        .explore(u => Trace.of(Wget(u)))(linkExpand).collect()
      assert(rows.length == 4)
      // big body still transparently readable on the driver
      assert(rows.find(_.depth == 0).get.row.trajectory.texts("title") == Seq("A"))
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      while (System.currentTimeMillis() < deadline && shuffleBytes.get() != last) {
        last = shuffleBytes.get(); Thread.sleep(200)
      }
      assert(shuffleBytes.get() < 512 * 1024,
        s"explore shuffled ${shuffleBytes.get()} bytes — a doc body rode a shuffle")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("implicit Ordering[D] makes the multi-lineage winning payload deterministic") {
    val site = diamondSite("explore12")
    import spark.implicits._
    implicit val pairOrd: Ordering[(String, String)] = Ordering.Tuple2
    // payloads are (url, parentTag): D is reached from B (tag zz) and C (tag aa);
    // with an Ordering in scope the winner must be the MINIMUM, every run
    (1 to 3).foreach { _ =>
      InMemoryDocCache.clear()
      val ctx = new GraftContext(spark, GraftConf())
      val rows = ctx.create(Seq((s"file:${site("A")}", "seed")))
        .explore((d: (String, String)) => Trace.of(Wget(d._1)))(
          ExploreSpec.taggedExpand)
        .collect()
      val d = rows.find(_.row.trajectory.texts("title").mkString == "D").get
      assert(d.row.data._2 == "aa", s"non-minimal payload won: ${d.row.data}")
    }
  }

  test("explore releases its per-level caches: only the output stays persisted") {
    val site = diamondSite("exploreHygiene")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val explored = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand)
    assert(explored.count() == 4)
    // everything explore persisted beyond the (checkpointed) output must be
    // released on return: per-level fetched/keys caches would otherwise
    // accumulate across repeated crawls in one session. The output is ONE
    // localCheckpoint-ed RDD; allow only it (plus nothing else) to be new.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"explore leaked ${leaked.size} persisted RDDs: $leaked")
  }

  test("repeated crawls hold executor storage steady (no cross-crawl accumulation)") {
    val site = diamondSite("exploreRepeat")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    def crawl() = ctx.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand).count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val counts = (1 to 3).map { i =>
      assert(crawl() == 4, s"crawl $i")
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    // each crawl may leave its own (checkpointed) output block behind, but
    // never the per-level caches: growth must be at most one RDD per crawl,
    // not the ~2 frontiers + 2·levels caches a leak would add
    assert(counts.zipWithIndex.forall { case (c, i) => c <= i + 1 },
      s"persisted-RDD growth across crawls: $counts")
  }

  test("re-explore over a warm cache fetches 0 pages (BASELINE target #4)") {
    val site = diamondSite("explore6")
    val cacheDir = scratchDir("explorecache")
    val conf = GraftConf(dfsCacheDir = Some(cacheDir))
    val ctx = new GraftContext(spark, conf)
    import spark.implicits._
    def run(c: GraftContext) = c.create(Seq(s"file:${site("A")}"))
      .explore(u => Trace.of(Wget(u)))(linkExpand).count()
    run(ctx)
    assert(ctx.metrics.pagesFetched.value == 4)
    InMemoryDocCache.clear() // cold JVM; DFS tier remains
    val ctx2 = new GraftContext(spark, conf)
    run(ctx2)
    assert(ctx2.metrics.pagesFetched.value == 0)
  }

  // ---- best-first (priority-scored, budgeted) ------------------------------

  /** Page graph with scores ENCODED IN FILENAMES (`name_score.html`):
    *   seed s_0 → a_10, b_1, c_5;  a_10 → d_2;  c_5 → e_20
    * Under budget 4 / batch 1, best-first visits s, a, c, e — the
    * late-DISCOVERED but highest-scored e beats the shallow b and d;
    * level-synchronous BFS under the same budget could never reach e
    * (depth 2) before exhausting depth-1 pages.
    */
  private def scoredSite(prefix: String): String = {
    def page(name: String, links: Seq[String]): String = writeFixture(
      s"$prefix/$name.html",
      s"""<html><head><title>$name</title></head><body>${
        links.map(l => s"""<a href="$l.html">$l</a>""").mkString
      }</body></html>""")
    page("d_2", Nil); page("e_20", Nil); page("b_1", Nil)
    page("a_10", Seq("d_2")); page("c_5", Seq("e_20"))
    page("s_0", Seq("a_10", "b_1", "c_5"))
  }

  test("best-first: budget N visits the highest-scored reachable pages first, not the shallowest") {
    val seedPath = scoredSite("explore8")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:$seedPath"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        linkExpand,
        priority = (t, _) => t.primaryUri.map(ExploreSpec.scoreOf).getOrElse(0.0),
        fetchBudget = 4, batchSize = 1)
    val rows = explored.collect()
    val visited = rows.map(r => r.row.trajectory.texts("title").mkString).toSet
    // s (seed) then strictly by score among open: a_10, c_5, then e_20
    // (discovered by c) — never b_1 or d_2
    assert(visited == Set("s_0", "a_10", "c_5", "e_20"), s"got $visited")
    assert(ctx.metrics.pagesFetched.value == 4) // exactly the budget
    // discovery depths recorded (e is depth 2 despite early visit)
    val depths = rows.map(r => r.row.trajectory.texts("title").mkString -> r.depth).toMap
    assert(depths("e_20") == 2 && depths("a_10") == 1)
  }

  test("best-first: ONE job per round (fused cut + selection + budget census) — no hidden actions") {
    val seedPath = scoredSite("explore10")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setJobGroup("bf-census", "bf-census", interruptOnCancel = false)
    val explored = ctx.create(Seq(s"file:$seedPath"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        ExploreSpec.linkExpand,
        priority = (t, _) => t.primaryUri.map(ExploreSpec.scoreOf).getOrElse(0.0),
        fetchBudget = 4, batchSize = 1)
    sc.clearJobGroup()
    val jobs = graft.exec.JobCensus.settledJobCount(sc, "bf-census")
    // fixed overhead = 2 jobs (seed cut+selection + the eager final
    // localCheckpoint); each of the 4 rounds then runs exactly ONE fused
    // job: the frontier cut whose zipPartitions pass also harvests the
    // next selection's top-batchSize (score, key) pairs and the budget
    // census over the co-partitioned cached fetch (r21: the unfused loop
    // ran these as 3 driver-synchronized actions — at batchSize 1 the
    // crawl is driver-latency bound, so jobs per round IS its unit cost).
    // A growth here means an accidental extra action snuck into the loop.
    assert(jobs == 2 + 1 * 4,
      s"best-first must run exactly 1 fused job per round (+2 fixed): $jobs jobs for 4 rounds")
    assert(explored.dataset.count() == 4) // and the result is already materialized
  }

  test("best-first BATCHED: batchSize 4 shrinks the round count ~4x (job census); " +
    "remainder batch pops min(batch, remaining, frontier)") {
    // the 63-page q33/q114/q128 binary tree: page i links to 2i+1, 2i+2,
    // priority (i*37) mod 63 — a tie-free permutation
    val n = 63
    (0 until n).foreach { i =>
      val kids = Seq(2 * i + 1, 2 * i + 2).filter(_ < n)
      writeFixture(s"explore11/page_$i.html",
        s"""<html><head><title>p $i</title></head><body>${
          kids.map(k => s"""<a href="page_$k.html">c</a>""").mkString
        }</body></html>""")
    }
    val seed = fixtureRoot.resolve("explore11/page_0.html").toString
    def prio(u: String): Double =
      "page_([0-9]+)\\.html".r.findFirstMatchIn(u)
        .map(m => (m.group(1).toLong * 37 % n).toDouble).getOrElse(-1.0)
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setJobGroup("bf-batch-census", "bf-batch-census", interruptOnCancel = false)
    val explored = ctx.create(Seq(s"file:$seed"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        ExploreSpec.linkExpand,
        priority = (t, _) => t.primaryUri.map(prio).getOrElse(-1.0),
        fetchBudget = 25, batchSize = 4)
    sc.clearJobGroup()
    val jobs = graft.exec.JobCensus.settledJobCount(sc, "bf-batch-census")
    // batch sizes are bounded by the frontier while it is still narrow and
    // by the remaining budget at the end: 1, 2, 4, 4, 4, 4, 4, 2 = 25
    // fetches in 8 rounds (vs 25 rounds at batchSize 1 — the driver-latency
    // amortization this mode exists for). 1 fused job per round (the
    // visited-keys fold rides it) + the 2 fixed (seed cut+selection, final
    // checkpoint).
    assert(jobs == 2 + 1 * 8,
      s"8 batched rounds must run 1 fused job each (+2 fixed): got $jobs")
    assert(explored.dataset.count() == 25) // exactly the budget
    assert(ctx.metrics.pagesFetched.value == 25)
  }

  test("best-first: foldEvery knob sets the visited-fold cadence (r19 verdict #6)") {
    // the knob is gone: the visited keys fold inside EVERY round's cut job.
    // The same 63-page tree and 8-round schedule as the batched census: no
    // fold job at any round, and the folds leave no storage behind
    val n = 63
    (0 until n).foreach { i =>
      val kids = Seq(2 * i + 1, 2 * i + 2).filter(_ < n)
      writeFixture(s"explore12/page_$i.html",
        s"""<html><head><title>p $i</title></head><body>${
          kids.map(k => s"""<a href="page_$k.html">c</a>""").mkString
        }</body></html>""")
    }
    val seed = fixtureRoot.resolve("explore12/page_0.html").toString
    def prio(u: String): Double =
      "page_([0-9]+)\\.html".r.findFirstMatchIn(u)
        .map(m => (m.group(1).toLong * 37 % n).toDouble).getOrElse(-1.0)
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.setJobGroup("bf-fold-census", "bf-fold-census", interruptOnCancel = false)
    val explored = ctx.create(Seq(s"file:$seed"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        ExploreSpec.linkExpand,
        priority = (t, _) => t.primaryUri.map(prio).getOrElse(-1.0),
        fetchBudget = 25, batchSize = 4)
    sc.clearJobGroup()
    val jobs = graft.exec.JobCensus.settledJobCount(sc, "bf-fold-census")
    assert(jobs == 2 + 1 * 8,
      s"8 rounds must run 1 job each (+2 fixed) with the fold inside every cut: got $jobs")
    val leaked = sc.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.size <= 1, s"best-first leaked ${leaked.size} persisted RDDs: $leaked")
    val pages = explored.collect().map(_.row.trace.primaryUri.get)
    assert(pages.length == 25 && pages.distinct.length == 25)
    assert(ctx.metrics.pagesFetched.value == 25)
  }

  test("best-first: exact job census at rounds ≫ FoldEvery (batchSize 1, default fold cadence)") {
    // 25 single-fetch rounds, the visited keys folded inside every round's
    // cut: the exact equality 2 + rounds is the CI-level pin of the
    // O(1)-live-handles claim — a separate fold job (or any hidden
    // per-round action) would add jobs and break it.
    val n = 63
    (0 until n).foreach { i =>
      val kids = Seq(2 * i + 1, 2 * i + 2).filter(_ < n)
      writeFixture(s"explore13/page_$i.html",
        s"""<html><head><title>p $i</title></head><body>${
          kids.map(k => s"""<a href="page_$k.html">c</a>""").mkString
        }</body></html>""")
    }
    val seed = fixtureRoot.resolve("explore13/page_0.html").toString
    def prio(u: String): Double =
      "page_([0-9]+)\\.html".r.findFirstMatchIn(u)
        .map(m => (m.group(1).toLong * 37 % n).toDouble).getOrElse(-1.0)
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.setJobGroup("bf-deep-census", "bf-deep-census", interruptOnCancel = false)
    val explored = ctx.create(Seq(s"file:$seed"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        ExploreSpec.linkExpand,
        priority = (t, _) => t.primaryUri.map(prio).getOrElse(-1.0),
        fetchBudget = 25, batchSize = 1)
    sc.clearJobGroup()
    val jobs = graft.exec.JobCensus.settledJobCount(sc, "bf-deep-census")
    assert(ctx.metrics.exploreRounds.value == 25)
    assert(jobs == 2 + 1 * 25,
      s"25 rounds must run 2 + 25 jobs: got $jobs")
    // only the eager output checkpoint stays persisted: frontiers, per-round
    // keys and folded visited sets are all released
    val leaked = sc.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.size <= 1, s"best-first leaked ${leaked.size} persisted RDDs: $leaked")
    assert(explored.dataset.count() == 25)
    assert(ctx.metrics.pagesFetched.value == 25)
  }

  test("best-first: budget past exhaustion just visits everything once; visited set exact") {
    val seedPath = scoredSite("explore9")
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:$seedPath"))
      .exploreBestFirst(u => Trace.of(Wget(u)))(
        linkExpand,
        priority = (t, _) => t.primaryUri.map(ExploreSpec.scoreOf).getOrElse(0.0),
        fetchBudget = 100, batchSize = 2)
    val visited = explored.collect()
      .map(r => r.row.trajectory.texts("title").mkString).sorted.toSeq
    assert(visited == Seq("a_10", "b_1", "c_5", "d_2", "e_20", "s_0"))
    assert(ctx.metrics.pagesFetched.value == 6) // each page exactly once
  }

  test("BFS exploreRounds counts only levels that processed rows") {
    // chain A→B→C (3 levels of work): the epoch chains
    // ExploreExec.LevelsPerEpoch = 8 levels lazily, so levels 4..8 run on an EMPTY frontier
    // inside the same job — the metric must credit 3, not 8 (the per-level
    // accumulator semantics; the pre-fix counter reported the full chain)
    def page(name: String, link: Option[String]): String =
      s"""<html><head><title>$name</title></head><body>
         |${link.map(l => s"""<a href="$l.html">$l</a>""").getOrElse("")}
         |</body></html>""".stripMargin
    val a = writeFixture("explore-rounds/A.html", page("A", Some("B")))
    writeFixture("explore-rounds/B.html", page("B", Some("C")))
    writeFixture("explore-rounds/C.html", page("C", None))
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val explored = ctx.create(Seq(s"file:$a"))
      .explore(u => Trace.of(Wget(u)))(linkExpand, maxDepth = 9)
    assert(explored.dataset.count() == 3)
    assert(ctx.metrics.pagesFetched.value == 3)
    assert(ctx.metrics.exploreRounds.value == 3,
      s"3-page chain must report 3 rounds, got ${ctx.metrics.exploreRounds.value}")
  }

  test("best-first honors checkpointDir: reliable cuts, no re-run fetches, same visited set") {
    val seedPath = scoredSite("explore14")
    def crawl(conf: GraftConf): (Set[String], Long) = {
      InMemoryDocCache.clear()
      val ctx = new GraftContext(spark, conf)
      import spark.implicits._
      val uris = ctx.create(Seq(s"file:$seedPath"))
        .exploreBestFirst(u => Trace.of(Wget(u)))(
          linkExpand,
          priority = (t, _) => t.primaryUri.map(ExploreSpec.scoreOf).getOrElse(0.0),
          fetchBudget = 4, batchSize = 1)
        .collect().map(_.row.trace.primaryUri.get).toSet
      (uris, ctx.metrics.pagesFetched.value)
    }
    val ckpt = scratchDir("explore-bf-ckpt")
    // cache OFF: any checkpoint-write recompute would fetch again
    val (reliable, fetched) = crawl(GraftConf(cacheEnabled = false, checkpointDir = Some(ckpt)))
    val rddDirs = ExploreSpec.checkpointRddDirs(ckpt)
    assert(rddDirs >= 1, s"best-first wrote no reliable checkpoint under checkpointDir")
    assert(fetched == 4, s"checkpoint write re-ran fetches: $fetched for budget 4")
    val (local, _) = crawl(GraftConf(cacheEnabled = false))
    assert(reliable == local && reliable.size == 4, s"$reliable vs $local")
  }

  test("BFS job census: a 20-page chain runs seed cut + one cut per 8-level epoch + output") {
    def page(i: Int): String =
      s"""<html><head><title>c$i</title></head><body>${
        if (i < 19) s"""<a href="c${i + 1}.html">next</a>""" else ""
      }</body></html>"""
    (0 until 20).foreach(i => writeFixture(s"explore-chain/c$i.html", page(i)))
    val seed = fixtureRoot.resolve("explore-chain/c0.html").toString
    val ctx = new GraftContext(spark, GraftConf())
    import spark.implicits._
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.setJobGroup("bfs-chain-census", "bfs-chain-census", interruptOnCancel = false)
    val explored = ctx.create(Seq(s"file:$seed"))
      .explore(u => Trace.of(Wget(u)))(linkExpand)
    sc.clearJobGroup()
    val jobs = graft.exec.JobCensus.settledJobCount(sc, "bfs-chain-census")
    // levels 0..19 hold one page each; ceil(20 / 8) = 3 epochs, and the
    // visited-key fold rides each epoch's cut job
    assert(jobs == 1 + 3 + 1, s"20-level chain must run 1 + 3 + 1 jobs: got $jobs")
    assert(ctx.metrics.exploreRounds.value == 20)
    val leaked = sc.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.size <= 1, s"explore leaked ${leaked.size} persisted RDDs: $leaked")
    assert(explored.dataset.count() == 20)
    assert(ctx.metrics.pagesFetched.value == 20)
  }

  test("explore with checkpointDir runs identically twice; only the output's blocks stay") {
    val site = diamondSite("explore-twice-ckpt")
    val seed = s"file:${site("A")}"
    import spark.implicits._
    val results = (1 to 2).map { _ =>
      InMemoryDocCache.clear()
      val ckpt = scratchDir("explore-twice-ckpt")
      val ctx = new GraftContext(spark, GraftConf(checkpointDir = Some(ckpt)))
      val before = org.apache.spark.graft.BlockCensus.rddBlocks()
      val view = ctx.create(Seq(seed)).explore(u => Trace.of(Wget(u)))(linkExpand)
      val left = org.apache.spark.graft.BlockCensus.leftSince(before, view.dataset)
      assert(left.isEmpty, s"${left.size} RDD blocks left beyond the output's own: $left")
      assert(ExploreSpec.checkpointRddDirs(ckpt) >= 2, "cuts were not reliable")
      (view.collect().map(r => (r.row.trace.primaryUri.get, r.depth)).sorted,
        ctx.metrics.pagesFetched.value)
    }
    assert(results(0) == results(1) && results(0)._1.size == 4, s"second run differs: $results")
  }

  test("explore family runs identically twice in one session (BFS ByKey, BFS ByHost, best-first)") {
    val site = diamondSite("explore-twice")
    val seed = s"file:${site("A")}"
    import spark.implicits._
    val runs: Seq[(String, GraftContext => ExploredView[String])] = Seq(
      "bfs-bykey" -> (c => c.create(Seq(seed)).explore(u => Trace.of(Wget(u)))(linkExpand)),
      "bfs-byhost" -> (c => c.create(Seq(seed)).explore(u => Trace.of(Wget(u)))(
        linkExpand, layout = graft.exec.FetchLayout.ByHost(1))),
      "best-first" -> (c => c.create(Seq(seed)).exploreBestFirst(u => Trace.of(Wget(u)))(
        linkExpand, priority = (t, _) => t.primaryUri.map(_.length.toDouble).getOrElse(0.0),
        fetchBudget = 3, batchSize = 1)))
    val sc = spark.sparkContext
    runs.foreach { case (name, run) =>
      val results = (1 to 2).map { _ =>
        InMemoryDocCache.clear()
        val ctx = new GraftContext(spark, GraftConf())
        val before = sc.getPersistentRDDs.keySet
        val rows = run(ctx).collect()
          .map(r => (r.row.trace.primaryUri.get, r.depth)).sorted.toSeq
        val grown = (sc.getPersistentRDDs.keySet -- before).size
        assert(grown <= 1, s"$name: one run left $grown new persisted RDDs")
        (rows, ctx.metrics.pagesFetched.value)
      }
      assert(results(0) == results(1), s"$name: second run differs: $results")
      assert(results(0)._1.nonEmpty && results(0)._2 == results(0)._1.size)
    }
  }
}

/** Expansion fns live outside the spec class so Spark closures don't capture
  * the (non-serializable) ScalaTest engine.
  */
object ExploreSpec {

  /** `rdd-*` directories Spark's reliable checkpoints wrote under `dir`. */
  def checkpointRddDirs(dir: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
      .count()

  /** Filename-encoded score (`name_score.html`); lives here so the
    * priority closure doesn't capture the ScalaTest engine.
    */
  def scoreOf(uri: String): Double =
    "_([0-9]+)\\.html".r.findFirstMatchIn(uri).map(_.group(1).toDouble).getOrElse(0.0)

  def linkExpand(r: FetchedRow[String]): Seq[(Trace, String)] =
    r.trajectory.findAll("a").flatMap(_.href).map(h => (Trace.of(Wget(h)), h))

  def dirExpand(r: FetchedRow[String]): Seq[(Trace, String)] =
    r.trajectory.findAll("entries")
      .filter(_.attr("isDir").contains("true"))
      .flatMap(_.attr("uri"))
      .map(u => (Trace.of(Wget(u)), u))

  /** Children tagged by the PARENT page's title — reaching D from B carries
    * "zz", from C carries "aa" (the multi-lineage payload-conflict case).
    */
  def taggedExpand(r: FetchedRow[(String, String)]): Seq[(Trace, (String, String))] = {
    val parent = r.trajectory.texts("title").mkString
    val tag = if (parent == "B") "zz" else if (parent == "C") "aa" else "mm"
    r.trajectory.findAll("a").flatMap(_.href).map(h => (Trace.of(Wget(h)), (h, tag)))
  }
}
