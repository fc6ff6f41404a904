package graft

import graft.exec.JobCensus
import graft.llm.Dedup

import org.apache.spark.graft.BlockCensus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

/** Distributed connected components (large-star/small-star) specs: union-find
  * oracle on random graphs, O(log n) round bound on chains (the case where
  * naive label propagation needs n rounds), canonicalization edge cases.
  */
class DedupSpec extends AnyFunSuite {

  import SparkFixture._

  private def edgeDf(edges: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  /** Local union-find oracle. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    // min-id labeling
    val keys = parent.keys.toSeq
    val byRoot = keys.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edgeDf(edges), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Force the distributed star loop (threshold 0) — spec-scale graphs
    * would otherwise all take the small-graph union-find path.
    */
  private def runDistributed(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, rounds) = Dedup.connectedComponentsWithStats(edgeDf(edges), "src", "dst",
      smallGraphThreshold = 0L)
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("random graphs match a union-find oracle (min-id component labels)") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 100 + trial * 30
      val edges = Seq.fill(n) {
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
      }.filter { case (a, b) => a != b }
      assert(run(edges) == ufComponents(edges), s"trial $trial")
    }
  }

  test("distributed star loop == small-graph fast path == oracle (both paths pinned)") {
    val rnd = new Random(7)
    val random = (1 to 3).map { trial =>
      Seq.fill(150 + trial * 50) {
        (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong)
      }.filter { case (a, b) => a != b }
    }
    // hub-heavy: a 2,000-leaf star with a 64-node chain hung from a leaf,
    // the chain holding the component's minimum id
    val hub = (100L until 2100L).map(l => (10000L, l)) ++
      (0L until 63L).map(i => (i, i + 1)) :+ ((63L, 100L))
    for ((edges, trial) <- (random :+ hub).zipWithIndex) {
      val (dist, rounds) = runDistributed(edges)
      assert(rounds > 0, "threshold 0 must run the star loop")
      assert(dist == ufComponents(edges), s"trial $trial distributed")
      assert(dist == run(edges), s"trial $trial fast-path equality")
    }
  }

  test("chain of 256 nodes collapses to one component in O(log n) rounds") {
    val chain = (0L until 255L).map(i => (i, i + 1))
    val (comps, rounds) = runDistributed(chain)
    assert(comps.size == 256 && comps.values.forall(_ == 0L))
    // naive min-label propagation would need ~255 rounds here; the star
    // operators are logarithmic (paper bound O(log^2 n), observed ~log n)
    assert(rounds <= 12, s"took $rounds rounds")
    assert(rounds > 0, "threshold 0 must run the star loop")
  }

  test("self-loops, duplicate and reversed edges canonicalize away") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 1L), (3L, 3L), (4L, 5L))
    val comps = run(edges)
    // node 3 only ever appears in a self-loop => isolated => absent
    assert(comps == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("empty edge list yields an empty result") {
    assert(run(Seq.empty).isEmpty)
  }

  test("disjoint stars are already a fixpoint (single round to detect)") {
    val stars = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L), (10L, 12L))
    val (comps, rounds) = runDistributed(stars)
    assert(comps == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(rounds == 1, s"took $rounds rounds")
  }

  test("q39/q40 semantics: groups chain transitively and keepers are group minima") {
    // A~B, B~C with no A~C edge: one group, keeper = min
    val comps = run(Seq((7L, 3L), (7L, 9L)))
    assert(comps == Map(3L -> 3L, 7L -> 3L, 9L -> 3L))
  }

  /** Jobs and shuffle-map stages (stages that wrote shuffle records) of one
    * star-loop run, and its rounds.
    */
  private def census(name: String, edges: Seq[(Long, Long)]): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val input = edgeDf(edges)
    val jobsEnded = new AtomicInteger
    val shuffleStages = new AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (Option(s.stageInfo.taskMetrics).exists(_.shuffleWriteMetrics.recordsWritten > 0))
          shuffleStages.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val rounds = try Dedup.connectedComponentsWithStats(input, "src", "dst",
        smallGraphThreshold = 0L)._2 finally sc.clearJobGroup()
      val jobs = JobCensus.settledJobCount(sc, name)
      val deadline = System.currentTimeMillis() + 15000
      while (jobsEnded.get < jobs && System.currentTimeMillis() < deadline) Thread.sleep(20)
      (jobs, shuffleStages.get, rounds)
    } finally sc.removeSparkListener(listener)
  }

  test("star loop census: one job per round plus a fixed term; two shuffles per round") {
    val chain = (0L until 255L).map(i => (i, i + 1))
    val stars = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L), (10L, 12L))
    val (chainJobs, chainShuffles, chainRounds) = census("cc-census-chain", chain)
    val (starJobs, starShuffles, starRounds) = census("cc-census-stars", stars)
    info(s"chain: $chainJobs jobs, $chainShuffles shuffle-map stages, $chainRounds rounds; " +
      s"stars: $starJobs jobs, $starShuffles shuffle-map stages, $starRounds round")
    assert(chainRounds <= 12 && starRounds == 1, s"rounds: chain $chainRounds, stars $starRounds")
    val fixed = chainJobs - chainRounds
    assert(starJobs - starRounds == fixed && fixed <= 5,
      s"jobs: chain $chainJobs in $chainRounds rounds, stars $starJobs in $starRounds")
    // one initial partitioning by node, then two shuffles per round
    Seq((chainShuffles, chainRounds), (starShuffles, starRounds)).foreach { case (sh, r) =>
      assert(sh <= 2 * r + 1, s"$sh shuffle-map stages in $r rounds")
    }
  }

  /** Whole-stage codegen stages and exchanges (shuffle and broadcast) over
    * the final plans of every SQL execution `action` runs, each plan read
    * after it ran, and the jobs `action` runs: a job outside any SQL
    * execution (runningSum's map-only fold over `queryExecution.toRdd`)
    * adds no plan, so only the job count sees it. Plan counts are
    * deterministic where the JVM-global compile counter is not: earlier
    * specs warm Spark's codegen cache.
    */
  private def planShape(name: String)(action: => Unit): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = plans.add(graft.scale.Held.rendered(qe))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      try action finally sc.clearJobGroup()
      // the listener bus is asynchronous: wait until the plan count settles
      var last = -1
      val deadline = System.currentTimeMillis() + 15000
      while (plans.size != last && System.currentTimeMillis() < deadline) {
        last = plans.size; Thread.sleep(500)
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val ps = plans.asScala.toSeq
    (ps.map(p => "\\*\\((\\d+)\\)".r.findAllMatchIn(p).map(_.group(1)).toSet.size).sum,
      ps.map(_.linesIterator.count(_.matches("^[\\s:|+-]*(Broadcast)?Exchange .*"))).sum,
      JobCensus.settledJobCount(sc, name))
  }

  test("corpus operators' plan shape: codegen stages, exchanges and jobs pinned") {
    val shapes = DedupSpec.corpusOps(spark)
      .map { case (name, op) => name -> planShape(s"shape-$name")(op().collect()) }.toMap
    info(shapes.toSeq.sortBy(_._1).map { case (n, (w, x, j)) =>
      s"$n: $w codegen stages, $x exchanges, $j jobs" }.mkString("; "))
    assert(shapes == Map(
      "paragraphDedup" -> (4, 2, 4), "fuzzyNearDupPairs" -> (3, 2, 7),
      "runningSum" -> (2, 1, 3), "domainCap" -> (3, 2, 4)))
  }

  test("star loop: a second run is identical and leaves only its output's blocks") {
    val chain = (0L until 255L).map(i => (i, i + 1))
    val outs = (1 to 2).map { _ =>
      val before = BlockCensus.rddBlocks()
      val (df, rounds) = Dedup.connectedComponentsWithStats(edgeDf(chain), "src", "dst",
        smallGraphThreshold = 0L)
      val left = BlockCensus.leftSince(before, df)
      assert(left.isEmpty, s"${left.size} RDD blocks left beyond the output's own: $left")
      (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }
    assert(outs(0) == outs(1) && outs(0)._1.size == 256)
  }

  test("both paths read the edge input once per call") {
    val reads = spark.sparkContext.longAccumulator("cc-edge-reads")
    val counted = udf { (x: Long) => reads.add(1); x }.asNondeterministic()
    val chain = (0L until 255L).map(i => (i, i + 1))
    Seq("union-find" -> Dedup.SmallGraphEdges, "star loop" -> 0L).foreach { case (path, threshold) =>
      reads.reset()
      val in = edgeDf(chain).select(counted(col("src")).as("src"), col("dst"))
      val (df, rounds) = Dedup.connectedComponentsWithStats(in, "src", "dst",
        smallGraphThreshold = threshold)
      assert(df.collect().length == 256 && (rounds > 0) == (threshold == 0L))
      assert(reads.value == chain.size, s"$path: ${reads.value} reads of ${chain.size} rows")
    }
  }

  private def collectAsg(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("mergeComponents: incremental == full recompute on randomized edge sequences") {
    val rnd = new Random(1234)
    for (trial <- 1 to 6) {
      val n = 120 + trial * 40
      val idSpace = 60 + trial * 10
      val all = Seq.fill(n)((rnd.nextLong(idSpace), rnd.nextLong(idSpace)))
        .filter { case (a, b) => a != b }
      // split so the increment both bridges existing components and
      // introduces brand-new nodes (the id space overlaps partially)
      val (base, inc) = all.splitAt(all.size * 2 / 3)
      val baseAsg = Dedup.connectedComponents(edgeDf(base), "src", "dst")
      val merged = collectAsg(Dedup.mergeComponents(baseAsg, edgeDf(inc)))
      val full = ufComponents(all)
      assert(merged == full, s"trial $trial: incremental != full recompute")
    }
  }

  test("mergeComponents: repeated batches chain (output feeds the next merge)") {
    val rnd = new Random(99)
    val batches = Seq.fill(4)(Seq.fill(60)((rnd.nextLong(50), rnd.nextLong(50)))
      .filter { case (a, b) => a != b })
    var asg = Dedup.connectedComponents(edgeDf(batches.head), "src", "dst")
    batches.tail.foreach(b => asg = Dedup.mergeComponents(asg, edgeDf(b)))
    assert(collectAsg(asg) == ufComponents(batches.flatten))
  }

  test("mergeComponents edge cases: intra-component edges, all-new nodes, empty batch") {
    val baseAsg = Dedup.connectedComponents(edgeDf(Seq((1L, 2L), (2L, 3L), (10L, 11L))), "src", "dst")
    // edges entirely inside existing components: assignments unchanged
    assert(collectAsg(Dedup.mergeComponents(baseAsg, edgeDf(Seq((1L, 3L), (10L, 11L)))))
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // a batch of only-new nodes forms its own component; a bridge with a
    // SMALLER new id relabels the whole old component
    assert(collectAsg(Dedup.mergeComponents(baseAsg, edgeDf(Seq((20L, 21L), (0L, 3L)))))
      == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 10L -> 10L, 11L -> 10L,
             20L -> 20L, 21L -> 20L))
    // empty / self-loop-only batch: pass-through
    assert(collectAsg(Dedup.mergeComponents(baseAsg, edgeDf(Seq((5L, 5L)))))
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("IncrementalComponents.resume: persisted assignment round-trips the restart path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-asg").toString
    val base = Seq((1L, 2L), (3L, 4L))
    val inc = Seq((2L, 3L), (10L, 11L))
    // run 1: assign, persist the table, stop
    Dedup.connectedComponents(edgeDf(base), "src", "dst")
      .write.mode("overwrite").parquet(s"$dir/assignment")
    // run 2 (restart): resume from the table, merge the next batch
    val handle = graft.llm.IncrementalComponents.resume(
      spark.read.parquet(s"$dir/assignment"))
    handle.update(edgeDf(inc))
    assert(collectAsg(handle.assignment.get) == ufComponents(base ++ inc))
  }

  test("mergeComponents never shuffles the assignment table (broadcast-only plan)") {
    val baseAsg = Dedup.connectedComponents(edgeDf(Seq((1L, 2L), (3L, 4L))), "src", "dst")
    val merged = Dedup.mergeComponents(baseAsg, edgeDf(Seq((2L, 3L), (7L, 8L))))
    val plan = merged.queryExecution.executedPlan.toString
    // the relabel join against the (potentially 100 TB) assignment table
    // must be broadcast, never sort-merge: SMJ would shuffle the big side
    assert(!plan.contains("SortMergeJoin"), s"assignment relabel fell back to SMJ:\n$plan")
  }
}

object DedupSpec {

  /** The four corpus operators whose plan shape DedupSpec pins, each over
    * the same seeded docs: 58 docs, 10 near-duplicates that prepend one
    * word and 8 that repeat a paragraph.
    */
  def corpusOps(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    import spark.implicits._
    val rnd = new Random(7)
    val words = (0 until 300).map(i => s"w$i")
    val base = (0 until 40).map(_ => Seq.fill(30 + rnd.nextInt(40))(words(rnd.nextInt(300))))
    val texts = base ++ base.take(10).map("x" +: _) ++ base.take(8).map(base.head.take(20) ++ _)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" "), s"site${i % 3}") }
      .toDF("doc_id", "text", "source")
    Seq(
      "paragraphDedup" -> (() => graft.llm.Corpus.paragraphDedup(docs.select("doc_id", "text"))),
      "fuzzyNearDupPairs" -> (() =>
        graft.llm.MinHash.fuzzyNearDupPairs(docs.select("doc_id", "text"))),
      "runningSum" -> (() => graft.scale.PrefixSum.runningSum(
        docs.withColumn("hkey", md5(col("doc_id").cast("string"))).withColumn("g", lit("all"))
          .withColumn("n", length(col("text")).cast("long")), "g", "n")),
      "domainCap" -> (() => graft.llm.Corpus.domainCap(docs.select("doc_id", "source"), 5)))
  }
}
