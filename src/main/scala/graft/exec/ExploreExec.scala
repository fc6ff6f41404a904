package graft.exec

import graft.actions.Trace
import graft.agent.{Agent, Env}
import graft.scale.Held

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.Buffer
import scala.reflect.ClassTag

/** One visited row of a recursive traversal: the fetched row plus its BFS
  * depth (reference row/Data.scala:56-75 `Exploring[D]`).
  */
final case class ExploredRow[D](row: FetchedRow[D], depth: Int) extends Serializable

/** The flagship operator: bounded traversal of the implicit crawl graph
  * (vertices = canonical traces, edges = "fetching A yields trace B") —
  * reference execution/ExplorePlan.scala:53-228 + ExploreRunner.scala:20-319.
  * As in the reference, breadth-first ([[explore]]) and best-first
  * ([[exploreBestFirst]]) are two orderings (PathPlanning) over ONE epoch
  * loop, here the [[Frontier]] steps: fetch, unvisited, cut, finish.
  *
  * Depth semantics `[minDepth, maxDepth)`: traversal expands while
  * `depth < maxDepth`; output keeps `minDepth <= depth < maxDepth`
  * (reference ExploreRunner.scala:72-129, ExplorePlan.scala:170-185).
  *
  * Differences we embrace: the visited set is EXACT and distributed —
  * frontier keys are dropped by a co-partitioned set-difference against all
  * visited keys — instead of the reference's best-effort per-JVM
  * ExploreLocalCache. Because BFS expands strictly level by level, the first
  * visit of a key is automatically its minimum depth (the reference needs a
  * per-lineage min-depth reducer for this — PathPlanning_Simple.scala:24-49).
  *
  * EXPLORE IS KEYED BY TRACE: one output row per visited canonical trace,
  * exactly like the reference's BreadthFirst reducer, which selects a SINGLE
  * winning lineage per key (`candidates.minBy(min depth, min ordinal)` —
  * PathPlanning_Simple.scala:36-46). Rows that reach the same trace collapse
  * to one: the higher score wins (best-first; BFS scores are constant), then
  * the minimum payload under the caller's `Ordering` when one is given, else
  * the minimum of naturally-ordered payloads, else the first seen (see
  * [[Winner]]). Payloads should therefore be derivable from the trace; if
  * you need results fanned back to EVERY origin row, use `fetch()`, which
  * preserves all rows.
  *
  * == The 100 TB shape ==
  *
  * Everything in the loop shares ONE `HashPartitioner` on the canonical
  * trace key:
  *
  *  1. '''One shuffle per BFS level.''' A level is: expand children
  *     (narrow) → `reduceByKey` winner-dedup (the shuffle) → co-partitioned
  *     set-difference against visited keys (narrow `zipPartitions`) → fetch
  *     (narrow `mapPartitions`; the frontier is already one row per key,
  *     and [[graft.agent.Agent.executeAll]] keeps up to
  *     [[graft.agent.Agent.InFlight]] of its fetches in flight per task).
  *     Only keys, traces and payloads move — never fetched content.
  *  1. '''[[LevelsPerEpoch]] levels per job.''' BFS levels chain lazily:
  *     each level's fetched rows are block-cached (MEMORY_AND_DISK) and feed
  *     the next level in the same DAG, so one job materializes an epoch and
  *     each fetch runs exactly once. Best-first rounds are one job each
  *     (priority order is a global decision).
  *  1. '''Bounded plans and storage.''' Each epoch or round ends in ONE cut
  *     job ([[graft.scale.Held]]) that marks the frontier (reliably
  *     checkpointed to [[graft.conf.GraftConf.checkpointDir]] when set — the
  *     multi-hour-crawl mode, where executor loss replays at most one epoch
  *     of fetches — else `localCheckpoint`), folds the visited keys into one
  *     marked RDD that supersedes the previous fold, and returns the loop's
  *     per-partition tally. Lineage never exceeds one epoch and the visited
  *     keys stay one RDD.
  */
object ExploreExec {

  /** BFS levels chained lazily into one Spark job between cuts (the analog
    * of the reference's `epochInterval`, ExplorePlan.scala:60, whose unit is
    * per-partition fetch iterations; ours is whole levels, which keeps the
    * visited set exact while amortizing per-job driver latency).
    */
  val LevelsPerEpoch = 8

  /** Level-synchronous BFS.
    *
    * @param layout PLACEMENT of frontier fetches. Default ByKey keeps the
    *        frontier on the shared trace-key partitioner — fetch stays narrow.
    *        [[FetchLayout.ByHost]] re-places each frontier by host before
    *        fetching, the same placement [[FetchExec.fetch]] honors, so the
    *        per-JVM [[graft.agent.HostPoliteness]] min-interval guarantee
    *        holds cluster-globally at <= salt x the configured per-host rate;
    *        costs one frontier-sized shuffle per level (trace + payload,
    *        never fetched content) plus a keys-only shuffle restoring
    *        trace-key alignment for the visited-set difference.
    * @param winnerOrdering when supplied, the per-key winning payload is
    *        `min` by THIS ordering — fully deterministic for any payload type.
    */
  def explore[D](
      spark: SparkSession,
      seeds: Dataset[(Trace, D)],
      next: FetchedRow[D] => Seq[(Trace, D)],
      env: Env,
      minDepth: Int = 0,
      maxDepth: Int = Int.MaxValue,
      layout: FetchLayout = FetchLayout.ByKey,
      winnerOrdering: Option[Ordering[D]] = None
  ): Dataset[ExploredRow[D]] = {
    implicit val exploredEnc: Encoder[ExploredRow[D]] = Encoders.kryo[ExploredRow[D]]
    val depthCap = math.min(maxDepth, env.conf.maxExploreDepth)
    if (depthCap <= 0) return spark.emptyDataset[ExploredRow[D]]
    val sc = spark.sparkContext
    val f = new Frontier[D](sc, new HashPartitioner(sc.defaultParallelism), layout, env,
      depthCap, next, (_, _) => 0.0, winnerOrdering)

    val debug = sys.env.get("GRAFT_EXPLORE_DEBUG").contains("true")
    var tEpoch = System.nanoTime()
    def mark(l: String): Unit = if (debug) {
      val t = System.nanoTime()
      System.err.println(f"[explore] $l ${(t - tEpoch) / 1e9}%.2f s")
      tEpoch = t
    }

    var frontier = f.seed(seeds)
    var openCount = f.cut(frontier, new OpenCount[D]).sum
    mark(s"seed-cut (open=$openCount)")
    // level-synchronous invariant: after `level` total levels, every frontier
    // row is at exactly that depth — so past depthCap the frontier is
    // provably empty and the chain can stop early
    var level = 0
    while (openCount > 0 && level < depthCap) {
      // levels chain LAZILY inside an epoch, so the frontier can empty
      // mid-epoch without the driver knowing until the cut; a per-level
      // task-side accumulator (riding the cut job) lets exploreRounds count
      // only levels that actually processed a row
      val levelRows = Buffer.empty[org.apache.spark.util.LongAccumulator]
      while (levelRows.size < LevelsPerEpoch && level < depthCap) {
        val acc = sc.longAccumulator(s"graft.explore.level$level.rows")
        levelRows += acc
        val counted = frontier.mapPartitions(
          it => it.map { r => acc.add(1); r }, preservesPartitioning = true)
        frontier = f.unvisited(f.children(f.fetch(counted)))
        level += 1
      }
      openCount = f.cut(frontier, new OpenCount[D]).sum
      env.metrics.exploreRounds.add(levelRows.count(_.value > 0))
      mark(s"epoch-cut (levels=$level open=$openCount)")
    }
    f.finish(spark, minDepth)
  }

  /** Best-first (priority-scored) traversal under an explicit FETCH BUDGET —
    * the reference PathPlanning's non-BFS orderings (core
    * dsl/PathPlanning.scala:15-60: `selectNextOpen` is an arbitrary
    * ordering over the open set) made distributed: each round fetches the
    * top-`batchSize` open traces by `priority` (descending; ties break by
    * trace key, so selection is fully deterministic), expands them, and
    * re-scores the merged open set. [[explore]] (level-synchronous BFS)
    * stays the default — use this when pages are NOT equal and the crawl
    * must spend a bounded fetch budget on the most valuable frontier first
    * (focused crawling, recrawl-by-staleness, link-authority ordering).
    *
    * A row's depth is its DISCOVERY depth (no level invariant — a
    * high-score deep node can be visited before a low-score shallow one),
    * and rounds are sequential (`fetchBudget / batchSize` bounds the round
    * count — batch against driver latency).
    *
    * Driver-side state per round: `batchSize` (score, key) pairs per
    * partition, merged — the reference's selectNextOpen made BOUNDED;
    * payloads never reach the driver, and the selected keys ride the next
    * stage's task binary. Scores must be total (no NaN). Each round runs
    * exactly ONE Spark job: the cut also harvests the next selection and the
    * budget census ([[RoundStats]]; census-pinned — see ExploreSpec).
    */
  def exploreBestFirst[D](
      spark: SparkSession,
      seeds: Dataset[(Trace, D)],
      next: FetchedRow[D] => Seq[(Trace, D)],
      env: Env,
      priority: (Trace, D) => Double,
      fetchBudget: Long,
      batchSize: Int = 64,
      minDepth: Int = 0,
      maxDepth: Int = Int.MaxValue,
      layout: FetchLayout = FetchLayout.ByKey,
      winnerOrdering: Option[Ordering[D]] = None
  ): Dataset[ExploredRow[D]] = {
    implicit val exploredEnc: Encoder[ExploredRow[D]] = Encoders.kryo[ExploredRow[D]]
    require(fetchBudget >= 1, s"fetchBudget must be >= 1: $fetchBudget")
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val depthCap = math.min(maxDepth, env.conf.maxExploreDepth)
    if (depthCap <= 0) return spark.emptyDataset[ExploredRow[D]]
    val sc = spark.sparkContext
    // partitioner width scales with the REQUESTED crawl size, not the local
    // core count (guide §2: partitioning must be scale-adaptive): the open
    // set is O(fetchBudget × branching) keys and every per-round stage runs
    // `width` tasks, so a 25-fetch crawl on a 32-core master would pay
    // 32 near-empty tasks per stage — pure dispatch overhead — while a
    // web-scale budget clamps to defaultParallelism exactly as before.
    // ~8 budgeted fetches per partition keeps small crawls dense; the
    // batchSize floor (r22, ADVICE) keeps a round's fetches able to fan out
    // one-per-task when batchSize > fetchBudget/8 (e.g. budget 16, batch 8
    // must not serialize 8 network fetches onto 2 tasks).
    val width = math.max(1L, math.min(sc.defaultParallelism.toLong,
      math.max(batchSize.toLong, (fetchBudget + 7) / 8))).toInt
    val f = new Frontier[D](sc, new HashPartitioner(width), layout, env,
      depthCap, next, priority, winnerOrdering)
    val selOrd: Ordering[(Double, String)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String)
    val stats = new RoundStats[D](batchSize, selOrd)
    def cut(open: RDD[Open[D]]): (Long, Seq[(Double, String)], Long) = {
      val parts = f.cut(open, stats)
      (parts.map(_._1).sum, parts.flatMap(_._2).sorted(selOrd).take(batchSize),
        parts.map(_._3).sum)
    }

    var open = f.seed(seeds)
    var (openCount, topSel, _) = cut(open)
    var remaining = fetchBudget
    while (remaining > 0 && openCount > 0) {
      env.metrics.exploreRounds.add(1)
      val selected = topSel.take(math.min(batchSize.toLong, remaining).toInt).map(_._2).toSet
      val fetched = f.fetch(open.filter { case (key, _) => selected.contains(key) })
      // the fetched keys are visited now, so the difference also drops them
      // from the carried open set
      open = f.unvisited(open.union(f.children(fetched)))
      // Robots-blocked rows made NO request (the gate refuses before any
      // network or pagesFetched tick) — they must not consume the fetch
      // budget either, or a heavily-disallowed frontier silently starves
      // the crawl. Failed real attempts DO consume (the request happened).
      val (oc, sel, nonBlocked) = cut(open)
      openCount = oc
      topSel = sel
      remaining -= nonBlocked
    }
    f.finish(spark, minDepth)
  }

  /** An open row: trace key → (trace, payload, depth, score). */
  private type Open[D] = (String, (Trace, D, Int, Double))

  /** The frontier steps both orderings share. All open rows and visited
    * keys live under `part`; the loops decide only what to fetch and when
    * to cut.
    *
    *  1. [[fetch]]: place (narrow under ByKey, re-placed through
    *     [[FetchLayout.partitionOf]] otherwise), fetch through
    *     [[graft.agent.Agent.executeAll]] (up to `InFlight` per task, in
    *     row order), persist, and project the keys back onto `part`.
    *  1. [[unvisited]]: one winner per key, then one co-partitioned
    *     `zipPartitions` difference against the visited keys.
    *  1. [[cut]]: one job that marks the frontier, cuts the visited keys
    *     into one held fold and returns a per-partition [[Tally]].
    *  1. [[finish]]: the depth-filtered union of every fetched row, eagerly
    *     checkpointed; every cache the loop held is released.
    *
    * Driver-side only: closures copy what they need into locals so they
    * never capture this (non-serializable) instance.
    */
  private final class Frontier[D](sc: SparkContext, part: HashPartitioner,
      layout: FetchLayout, env: Env, depthCap: Int,
      next: FetchedRow[D] => Seq[(Trace, D)], score: (Trace, D) => Double,
      ord: Option[Ordering[D]]) {
    private val win = new Winner[D](ord)
    // every fetched batch, block-cached until finish
    private val visited = Buffer.empty[RDD[ExploredRow[D]]]
    // the visited keys: the fold of everything before the last cut (held),
    // plus one keys RDD per fetch since
    private val keyFold = new Held(sc, env.conf.checkpointDir)
    private var folded: Option[RDD[String]] = None
    private val recent = Buffer.empty[RDD[String]]
    // every cut frontier (each holds storage whichever way it was marked)
    private val cuts = Buffer.empty[RDD[Open[D]]]

    private def visitedKeys: Seq[RDD[String]] = folded.toSeq ++ recent

    def seed(seeds: Dataset[(Trace, D)]): RDD[Open[D]] = {
      val s = score
      seeds.rdd.map { case (t, d) => (t.cacheKey, (t, d, 0, s(t, d))) }.reduceByKey(part, win)
    }

    def fetch(open: RDD[Open[D]]): RDD[ExploredRow[D]] = {
      val (lay, n, e) = (layout, part.numPartitions, env)
      val placed = lay match {
        case FetchLayout.ByKey => open
        case _ =>
          open.map { case (k, v) => (FetchLayout.partitionOf(lay, k, v._1, n), (k, v)) }
            .partitionBy(new IndexPartitioner(n))
            .map(_._2)
      }
      val fetched = placed.mapPartitions({ it =>
        Agent.executeAll(it, e)(_._1, _._2._1).map { case ((k, (t, d, depth, _)), traj) =>
          ExploredRow(FetchedRow(d, k, t, traj), depth)
        }
      }, preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
      visited += fetched
      val keys = lay match {
        case FetchLayout.ByKey =>
          fetched.mapPartitions(_.map(_.row.traceKey), preservesPartitioning = true)
        case _ =>
          fetched.map(r => (r.row.traceKey, ()))
            .partitionBy(part)
            .mapPartitions(_.map(_._1), preservesPartitioning = true)
      }
      recent += keys.persist(StorageLevel.MEMORY_AND_DISK)
      fetched
    }

    /** Open rows one level below `fetched` (down-sampled, within depthCap). */
    def children(fetched: RDD[ExploredRow[D]]): RDD[Open[D]] = {
      val (nx, s, down, cap) = (next, score, env.conf.downSampling, depthCap)
      fetched.flatMap { r =>
        if (r.depth + 1 >= cap) Nil
        else down(nx(r.row)).map { case (t, d) => (t.cacheKey, (t, d, r.depth + 1, s(t, d))) }
      }
    }

    def unvisited(rows: RDD[Open[D]]): RDD[Open[D]] =
      // the visited keys share `part`, so sc.union is a
      // PartitionerAwareUnionRDD and the difference is narrow
      rows.reduceByKey(part, win).zipPartitions(sc.union(visitedKeys),
          preservesPartitioning = true) { (it, vis) =>
        val set = new java.util.HashSet[String]()
        while (vis.hasNext) set.add(vis.next())
        it.filter(r => !set.contains(r._1))
      }

    /** One job: marks `frontier` (retained until [[finish]]), cuts the
      * visited keys into one fold that supersedes the previous one, and
      * returns `tally` per partition over the frontier and the rows fetched
      * since the last cut. The job's final RDD is an unmarked zip of the
      * marked ones, so Spark's post-job checkpoint walk reaches them all.
      */
    def cut[T: ClassTag](frontier: RDD[Open[D]], tally: Tally[D, T]): Seq[T] = {
      cuts += keyFold.mark(frontier)
      if (recent.isEmpty)
        frontier.mapPartitions(o => Iterator.single(tally(o, Iterator.empty))).collect().toSeq
      else {
        val fold = sc.union(visitedKeys)
        val out = keyFold.cut(fold, frontier.zipPartitions(fold, visited.last)(
          (o, _, fetched) => Iterator.single(tally(o, fetched))))
        recent.foreach(_.unpersist(blocking = false))
        folded = Some(fold)
        recent.clear()
        out.toSeq
      }
    }

    def finish(spark: SparkSession, minDepth: Int)(
        implicit enc: Encoder[ExploredRow[D]]): Dataset[ExploredRow[D]] = {
      val all =
        if (visited.isEmpty) spark.emptyDataset[ExploredRow[D]]
        else spark.createDataset(sc.union(visited.toSeq))
      val out = all.filter(_.depth >= minDepth).localCheckpoint(true)
      // the eager checkpoint holds the output in its own blocks: release
      // everything else now, not when the session dies — repeated explores
      // in one session must not accumulate executor storage
      (visited ++ recent ++ cuts).foreach(_.unpersist(blocking = false))
      keyFold.release()
      out
    }
  }

  /** A cut's per-partition statistic over the frontier and the rows fetched
    * since the previous cut (empty at the seed cut). Standalone Serializable
    * classes, so closures don't capture the module.
    */
  private abstract class Tally[D, T] extends Serializable {
    def apply(open: Iterator[Open[D]], fetched: Iterator[ExploredRow[D]]): T
  }

  private final class OpenCount[D] extends Tally[D, Long] {
    def apply(open: Iterator[Open[D]], fetched: Iterator[ExploredRow[D]]): Long = open.size.toLong
  }

  /** Best-first's round statistics (r21): open count, bounded top-`b`
    * (score, key) selection and the non-robots-blocked fetch count —
    * everything the driver needs per round, in the cut job (the unfused
    * loop paid three driver-synchronized actions for the same facts). The
    * merged top list is the NEXT round's selection — identical to
    * takeOrdered over the frontier (`ord` is total: unique keys break score
    * ties).
    */
  private final class RoundStats[D](b: Int, ord: Ordering[(Double, String)])
      extends Tally[D, (Long, Seq[(Double, String)], Long)] {
    def apply(open: Iterator[Open[D]], fetched: Iterator[ExploredRow[D]])
        : (Long, Seq[(Double, String)], Long) = {
      var n = 0L
      // max-heap under ord: head = worst kept; strict < keeps exactly the
      // takeOrdered(b)(ord) set (keys are unique after reduceByKey)
      val pq = new scala.collection.mutable.PriorityQueue[(Double, String)]()(ord)
      open.foreach { case (key, (_, _, _, s)) =>
        n += 1
        if (pq.size < b) pq.enqueue((s, key))
        else if (ord.compare((s, key), pq.head) < 0) { pq.dequeue(); pq.enqueue((s, key)) }
      }
      val nonBlocked = fetched.count(r => !r.row.trajectory.observations.exists {
        case e: graft.doc.DocError => e.message.startsWith("blocked by robots.txt")
        case _ => false
      })
      (n, pq.dequeueAll.toSeq, nonBlocked.toLong)
    }
  }

  /** Per-key winner of two open rows: the higher score, then the payload
    * winner — the minimum under `ord` when given, matching the reference's
    * single-winning-lineage reduce (PathPlanning_Simple.scala:36-46
    * `candidates.minBy`). Without `ord`, naturally-ordered (Comparable)
    * payloads take their minimum and other types keep the first seen
    * (partition-order dependent; explore's contract is that payloads derive
    * from the trace).
    *
    * The Comparable-vs-first-seen strategy is resolved ONCE per task from
    * the first tie's payload classes and branched on a cached flag
    * afterwards — no instanceof/getClass checks per collision in the
    * combiner hot path. (Assumes one explore's payloads share a runtime
    * class; a heterogeneous FIRST tie resolves to first-seen.)
    */
  private final class Winner[D](ord: Option[Ordering[D]])
      extends (((Trace, D, Int, Double), (Trace, D, Int, Double)) => (Trace, D, Int, Double))
      with Serializable {
    // 0 = unresolved (per task: @transient resets on deserialization),
    // 1 = comparable-minimum, 2 = first-seen
    @transient private var mode: Int = 0
    def apply(a: (Trace, D, Int, Double), b: (Trace, D, Int, Double)): (Trace, D, Int, Double) =
      if (a._4 != b._4) { if (a._4 > b._4) a else b }
      else ord match {
        case Some(o) => if (o.compare(a._2, b._2) <= 0) a else b
        case None =>
          if (mode == 0) mode = a._2 match {
            case x: Comparable[_] if b._2 != null && x.getClass == b._2.getClass => 1
            case _ => 2
          }
          if (mode == 1) {
            // the catch costs nothing unless a later tie breaks the
            // homogeneous-payload contract — then degrade to first-seen for
            // the rest of the task instead of failing the stage
            try if (a._2.asInstanceOf[Comparable[Any]].compareTo(b._2) > 0) b else a
            catch {
              case _: ClassCastException | _: NullPointerException => mode = 2; a
            }
          } else a
      }
  }
}
