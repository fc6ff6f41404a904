package graft

import graft.scale.{GraphLoop, PageRank}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The general PageRank operator ([[graft.scale.PageRank]]) vs driver-side
  * reference simulations: the q62 closed form (uniform outdeg 3, no
  * dangling), a variable-outdeg graph WITH dangling nodes (mass
  * redistribution), convergence stopping, checkpoint-cadence
  * equivalence, random multigraphs in every regime, and HITS.
  */
class PageRankSpec extends AnyFunSuite {

  import SparkFixture._

  /** Reference: scaled PageRank with uniform dangling redistribution —
    * pr'(v) = (1-d) + d*(Σ pr(u)/outdeg(u) + danglingMass/n). Multiset
    * edges (parallel edges contribute once per copy).
    */
  private def simulate(n: Int, edges: Seq[(Long, Long)], d: Double,
                       iters: Int): Map[Long, Double] =
    simulateAll(n, edges, d, iters).last

  /** [[simulate]]'s rank vector before iteration 1 and after each one. */
  private def simulateAll(n: Int, edges: Seq[(Long, Long)], d: Double,
                          iters: Int): Seq[Map[Long, Double]] = {
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val pr0 = (0L until n.toLong).map(_ -> 1.0).toMap
    (1 to iters).scanLeft(pr0) { (pr, _) =>
      val dm = pr.collect { case (v, p) if !outdeg.contains(v) => p }.sum
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => pr(s) / outdeg(s) }.sum
      }
      pr.map { case (v, _) =>
        v -> ((1 - d) + d * (inflow.getOrElse(v, 0.0) + dm / n))
      }
    }
  }

  /** Seeded random multigraph over ids 0 until n: parallel edges,
    * self-loops, every 4th node dangling, and some dst ids in n until n+5
    * (outside the node set).
    */
  private def multigraph(seed: Int): (Int, Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 30 + rnd.nextInt(30)
    val emitters = (0L until n.toLong).filter(_ % 4 != 1)
    val edges = emitters.flatMap { s =>
      Seq.fill(1 + rnd.nextInt(4))((s, rnd.nextInt(n + 5).toLong))
    } ++ emitters.take(5).map(s => (s, s)) ++ emitters.take(5).map(s => (s, (s + 1) % n))
    (n, rnd.shuffle(edges))
  }

  private def q62Edges(n: Int): Seq[(Long, Long)] =
    (0L until n.toLong).flatMap(i =>
      Seq((i, (i * 7 + 1) % n), (i, (i * 13 + 3) % n), (i, (i * 31 + 7) % n)))

  private def runOp(n: Int, edges: Seq[(Long, Long)], d: Double = 0.85,
                    tol: Double = 0.0, maxIter: Int = 3): (Map[Long, Double], Int, Double) = {
    val spark0 = spark
    import spark0.implicits._
    val nodes = (0L until n.toLong).toDF("id")
    val e = edges.toDF("src", "dst")
    val res = PageRank.run(nodes, e, damping = d, tol = tol, maxIter = maxIter)
    val out = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val it = res.iterations
    val delta = res.delta
    res.release()
    (out, it, delta)
  }

  private def assertClose(got: Map[Long, Double], exp: Map[Long, Double]): Unit = {
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - exp(k)) < 1e-9, s"node $k: got $v expected ${exp(k)}")
    }
  }

  test("q62 closed form: uniform outdeg 3, no dangling — operator == simulation") {
    val n = 101
    val (got, iters, _) = runOp(n, q62Edges(n), maxIter = 3)
    assert(iters == 3)
    assertClose(got, simulate(n, q62Edges(n), 0.85, 3))
  }

  test("variable out-degree + dangling nodes: mass redistributes, total rank == n") {
    // ids 0..59; ids % 5 == 0 have NO out-edges (dangling); others emit
    // 1-3 edges by formula — outdeg varies per node
    val n = 60
    val edges = (0L until n.toLong).filter(_ % 5 != 0).flatMap { i =>
      val base = Seq((i, (i * 3 + 1) % n))
      val more = if (i % 2 == 0) Seq((i, (i * 11 + 5) % n)) else Nil
      val third = if (i % 3 == 0) Seq((i, (i * 17 + 2) % n)) else Nil
      base ++ more ++ third
    }
    val exp = simulate(n, edges, 0.85, 4)
    val (got, iters, _) = runOp(n, edges, maxIter = 4)
    assert(iters == 4)
    assertClose(got, exp)
    // dangling redistribution conserves mass: Σpr stays n (a leaky
    // implementation decays toward (1-d)*n/(1-d...) — this catches it)
    assert(math.abs(got.values.sum - n) < 1e-6)
  }

  test("parallel edges are a multiset: a doubled link contributes twice") {
    val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L))
    val exp = simulate(3, edges, 0.85, 2)
    val (got, _, _) = runOp(3, edges, maxIter = 2)
    assertClose(got, exp)
    // outdeg(0) = 3 (multiset): node 1 receives 2/3 of pr0, node 2 only
    // 1/3 — set semantics would make them equal
    assert(got(1L) > got(2L))
  }

  test("convergence: tol stops the loop early with delta <= tol") {
    // a strongly-connected ring converges geometrically; with a loose tol
    // the loop must stop well before maxIter and report the delta it met
    val n = 40
    val edges = (0L until n.toLong).map(i => (i, (i + 1) % n))
    val (got, iters, delta) = runOp(n, edges, tol = 1e-6, maxIter = 50)
    assert(iters < 50, s"did not converge early (ran $iters)")
    assert(delta <= 1e-6 && !delta.isNaN)
    // the ring's stationary ranks are uniform 1.0
    got.values.foreach(v => assert(math.abs(v - 1.0) < 1e-4))
  }

  test("checkpoint cadence does not change values; pure-lineage == per-iteration") {
    val n = 30
    val edges = q62Edges(n)
    // no dangling, tol = 0: cuts at every CheckpointEvery-th iteration (two
    // of them here), then a pure-lineage tail of one iteration
    val iters = 2 * GraphLoop.CheckpointEvery + 1
    val (cadenced, ran, _) = runOp(n, edges, maxIter = iters)
    assert(ran == iters)
    assertClose(cadenced, simulate(n, edges, 0.85, iters))
    // shorter than one cadence: the whole run is lineage
    val (pure, _, _) = runOp(n, edges, maxIter = GraphLoop.CheckpointEvery - 1)
    assertClose(pure, simulate(n, edges, 0.85, GraphLoop.CheckpointEvery - 1))
  }

  test("null-endpoint edges are dropped: no rank mass leaks, parity with the null-free graph") {
    val spark0 = spark
    import spark0.implicits._
    val n = 20
    val clean = q62Edges(n)
    val nulls = Seq[(Option[Long], Option[Long])]((Some(3L), None), (Some(7L), None), (None, Some(1L)))
    val nodes = (0L until n.toLong).toDF("id")
    val e = (clean.map { case (a, b) => (Option(a), Option(b)) } ++ nulls).toDF("src", "dst")
    val res = PageRank.run(nodes, e, maxIter = 4)
    val got = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.release()
    assert(math.abs(got.values.sum - n) < 1e-6, s"rank mass leaked: Σpr = ${got.values.sum}")
    assertClose(got, simulate(n, clean, 0.85, 4))
  }

  test("random multigraphs: operator == simulation in every regime, stop iteration included") {
    Seq(11, 22, 33).foreach { seed =>
      val (n, edges) = multigraph(seed)
      // tol = 0 without dangling nodes: give every dangling node one link
      val full = edges ++ (0L until n.toLong).filter(_ % 4 == 1).map(s => (s, (s * 7) % n))
      val (pure, _, _) = runOp(n, full, maxIter = 7)
      assertClose(pure, simulate(n, full, 0.85, 7))
      // dangling, tol = 0
      val (dang, it, _) = runOp(n, edges, maxIter = 7)
      assert(it == 7)
      assertClose(dang, simulate(n, edges, 0.85, 7))
      // tol > 0: the stop is the simulation's first iteration with L1 delta
      // <= tol, and no delta up to it sits within 1e-6 of tol
      val tol = 0.01 * n
      val sims = simulateAll(n, edges, 0.85, 30)
      val deltas = sims.sliding(2).map { case Seq(a, b) =>
        a.keys.toSeq.map(k => math.abs(b(k) - a(k))).sum
      }.toSeq
      val stop = deltas.indexWhere(_ <= tol) + 1
      assert(stop >= 2, s"seed $seed: tol $tol must not stop at once: $deltas")
      deltas.take(stop).foreach(dl => assert(math.abs(dl - tol) > 1e-6, s"seed $seed: $dl ~ $tol"))
      val (conv, iters, delta) = runOp(n, edges, tol = tol, maxIter = 30)
      assert(iters == stop, s"seed $seed: stopped at $iters, simulation at $stop")
      assert(math.abs(delta - deltas(stop - 1)) < 1e-9)
      assertClose(conv, sims(stop))
    }
  }

  test("tol path: ONE Spark job per iteration (delta rides the materializing action)") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = 40
      val nodes = (0L until n.toLong).toDF("id")
      val e = (0L until n.toLong).map(i => (i, (i + 1) % n)).toDF("src", "dst")
      sc.setJobGroup("pr-census", "pr-census", interruptOnCancel = false)
      val res = PageRank.run(nodes, e, tol = 1e-6, maxIter = 50)
      sc.clearJobGroup()
      assert(res.iterations < 50 && res.delta <= 1e-6)
      Thread.sleep(1000) // listener bus drains async
      val jobs = sc.statusTracker.getJobIdsForGroup("pr-census").length
      // fixed setup = 1 job (node and dangling counts materializing the
      // rank vector and the edge index); after that the delta aggregate IS
      // each iteration's only job
      assert(jobs == 1 + res.iterations,
        s"tol iteration must launch exactly one job: $jobs jobs for " +
          s"${res.iterations} iterations (+1 setup)")
      res.release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("dangling path: ONE Spark job per iteration (mass rides the materializing action)") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = 40
      val nodes = (0L until n.toLong).toDF("id")
      // every 5th node dangles (q64's shape)
      val e = (0L until n.toLong).filter(_ % 5 != 0)
        .map(i => (i, (i * 3 + 1) % n)).toDF("src", "dst")
      sc.setJobGroup("pr-dang-census", "pr-dang-census", interruptOnCancel = false)
      val res = PageRank.run(nodes, e, maxIter = 4)
      res.ranks.count() // consume so the lazy final frame doesn't add jobs later
      sc.clearJobGroup()
      Thread.sleep(1000) // listener bus drains async
      val jobs = sc.statusTracker.getJobIdsForGroup("pr-dang-census").length
      // fixed setup = 1 job (node and dangling counts materializing the
      // rank vector and the edge index) + the final consuming count; after
      // that each iteration's mass aggregate IS its only job — iteration
      // 1's mass is nDangling * 1.0 by construction, zero jobs
      assert(jobs == 1 + 4 + 1,
        s"dangling iteration must launch exactly one job: $jobs jobs for " +
          s"${res.iterations} iterations (+1 setup, +1 consume)")
      res.release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("iterative joins stay shuffle-hash (no SMJ) in pure-lineage mode") {
    val spark0 = spark
    import spark0.implicits._
    val n = 50
    val nodes = (0L until n.toLong).toDF("id")
    val e = q62Edges(n).toDF("src", "dst")
    val res = PageRank.run(nodes, e, maxIter = 3)
    val plan = res.ranks.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"stat-less iterative join fell back to SMJ:\n$plan")
    res.release()
  }

  test("HITS: star graph hand-computed — path counts exact, alternating auth/hub steps") {
    val spark0 = spark
    import spark0.implicits._
    // 0 -> {1,2,3} (the hub), {1,2,3} -> 4 (the authority)
    val nodes = (0L to 4L).toDF("id")
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = graft.queries.SimQ.hits(nodes, e, iters = 2).frame.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // iter1: auth = indeg -> a=(0,1,1,1,3); hub1(u) = Σ auth1(dst):
    //   hub1 = (3, 3, 3, 3, 0)
    // iter2: auth2(v) = Σ hub1(src over in-edges) = (0, 3, 3, 3, 9);
    //   hub2(u) = Σ auth2(dst) = (9, 9, 9, 9, 0)
    val expected = Map(0L -> ((0L, 9L)), 1L -> ((3L, 9L)), 2L -> ((3L, 9L)),
      3L -> ((3L, 9L)), 4L -> ((9L, 0L)))
    assert(got == expected)
  }

  test("HITS: parallel edges are a multiset; regular graphs are provably uniform") {
    val spark0 = spark
    import spark0.implicits._
    val nodes = (0L to 2L).toDF("id")
    // doubled edge 0->1 contributes twice to auth(1) and twice to hub(0)
    val e = Seq((0L, 1L), (0L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = graft.queries.SimQ.hits(nodes, e, iters = 1).frame.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // auth1 = weighted indeg = (0, 2, 1); hub1 = Σ auth1(dst): 0 -> 2+2=4, 1 -> 1
    assert(got == Map(0L -> ((0L, 4L)), 1L -> ((2L, 1L)), 2L -> ((1L, 0L))))
    // the q62 3-regular formula graph: HITS must be exactly uniform — the
    // reason q149 uses the hierarchy graph instead
    val n = 60
    val rnodes = (0L until n.toLong).toDF("id")
    val re = q62Edges(n).toDF("src", "dst")
    val u = graft.queries.SimQ.hits(rnodes, re, iters = 2).frame.collect()
      .map(r => (r.getLong(1), r.getLong(2))).distinct
    assert(u.length == 1, s"regular graph must score uniformly, got ${u.length} classes")
  }

  test("HITS: random multigraphs == driver-side simulation, exact longs") {
    val spark0 = spark
    import spark0.implicits._
    Seq(11, 22, 33).foreach { seed =>
      val (n, edges) = multigraph(seed)
      val ids = 0L until n.toLong
      // auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), over edges whose
      // both ends are nodes (foreign dst ids hold no score)
      val inner = edges.filter(_._2 < n)
      var hub = ids.map(_ -> 1L).toMap
      var auth = Map.empty[Long, Long]
      (1 to 3).foreach { _ =>
        auth = ids.map(v => v -> inner.collect { case (u, `v`) => hub(u) }.sum).toMap
        hub = ids.map(u => u -> inner.collect { case (`u`, v) => auth(v) }.sum).toMap
      }
      val res = graft.queries.SimQ.hits(ids.toDF("id"), edges.toDF("src", "dst"), iters = 3)
      val got = res.frame.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      res.release()
      assert(got == ids.map(v => v -> ((auth(v), hub(v)))).toMap, s"seed $seed")
    }
  }

  test("graph loop: a second run is identical and storage returns to baseline after release()") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    val (n, edges) = multigraph(44)
    val nodes = (0L until n.toLong).toDF("id")
    val e = edges.toDF("src", "dst")
    val regular = q62Edges(n).toDF("src", "dst")
    val lpIds = (0L to 15L).toDF("id")
    val lpEdges = (lpIds.filter($"id" % 8 >= 1).select(($"id" - 1).as("src"), $"id".as("dst")))
      .union(lpIds.filter($"id" % 8 >= 2).select(($"id" - 2).as("src"), $"id".as("dst")))
    val S = graft.queries.SimQ
    val runs: Seq[(String, () => GraphLoop.Result)] = Seq(
      "pagerank lineage" -> (() => PageRank.run(nodes, regular, maxIter = 2 * GraphLoop.CheckpointEvery + 1)),
      "pagerank dangling" -> (() => PageRank.run(nodes, e, maxIter = 4)),
      "pagerank tol" -> (() => PageRank.run(nodes, e, tol = 0.01 * n, maxIter = 30)),
      "label propagation" -> (() => S.labelPropagate(nodes, e, 2 * GraphLoop.CheckpointEvery + 1)),
      "label propagation converge" -> (() => S.labelPropagateConverge(lpIds, lpEdges, 20)),
      "hits" -> (() => S.hits(nodes, e, 3)))
    runs.foreach { case (name, run) =>
      val outs = (1 to 2).map { _ =>
        val before = sc.getPersistentRDDs.keySet
        val res = run()
        val out = (res.frame.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long]),
          res.rounds, res.last)
        res.release()
        val left = sc.getPersistentRDDs.keySet -- before
        assert(left.isEmpty, s"$name: persisted RDDs left after release(): $left")
        out
      }
      assert(outs(0)._1 == outs(1)._1 && outs(0)._2 == outs(1)._2, s"$name: second run differs")
      assert(java.lang.Double.compare(outs(0)._3, outs(1)._3) == 0, s"$name: last scalar differs")
    }
  }
}
