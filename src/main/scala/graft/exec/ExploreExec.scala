package graft.exec

import graft.actions.Trace
import graft.agent.{Agent, Env}
import graft.conf.GraftConf
import graft.doc.Trajectory

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** One visited row of a recursive traversal: the fetched row plus its BFS
  * depth (reference row/Data.scala:56-75 `Exploring[D]`).
  */
final case class ExploredRow[D](row: FetchedRow[D], depth: Int) extends Serializable

/** Depth-bounded recursion parameters (reference
  * `recursively(range, pathPlanning, epochInterval, checkpointInterval)`).
  * Depth semantics `[minDepth, maxDepth)`: traversal expands while
  * `depth < maxDepth`; output keeps `minDepth <= depth < maxDepth`
  * (reference ExploreRunner.scala:72-129, ExplorePlan.scala:170-185).
  *
  * @param epochInterval BFS levels chained lazily into ONE Spark job between
  *                      materialized cuts; 0 = use
  *                      [[GraftConf.exploreEpochInterval]]. The analog of the
  *                      reference's `epochInterval` (ExplorePlan.scala:60,
  *                      SpookyConf.scala:64) — its unit is fetch iterations
  *                      per partition between shuffles; ours is whole
  *                      level-synchronous BFS levels per job, which keeps the
  *                      visited-set EXACT while still amortizing per-job
  *                      driver latency.
  * @param layout PLACEMENT of frontier fetches (r11 verdict #1: the crawl is
  *               the operator that actually hammers hosts). Default ByKey
  *               keeps the frontier on the shared trace-key partitioner —
  *               fetch stays narrow. [[FetchLayout.ByHost]] re-places each
  *               frontier by host before fetching, the same placement
  *               [[FetchExec.fetch]] honors, so the per-JVM
  *               [[graft.agent.HostPoliteness]] min-interval guarantee holds
  *               cluster-globally at <= salt x the configured per-host rate;
  *               costs one frontier-sized shuffle per level (trace + payload,
  *               never fetched content) plus a keys-only shuffle restoring
  *               trace-key alignment for the visited-set difference.
  */
final case class ExploreParams(
    minDepth: Int = 0,
    maxDepth: Int = Int.MaxValue,
    epochInterval: Int = 0,
    layout: FetchLayout = FetchLayout.ByKey,
    /** Best-first visited-key fold cadence (rounds between merges of the
      * recent per-round key RDDs into the single localCheckpointed
      * accumulator — see the FoldEvery note in [[ExploreExec
      * .exploreBestFirst]]). Live RDD handles stay O(foldEvery); each fold
      * is a keys-only job amortized over foldEvery rounds — raise it when
      * rounds are cheap relative to a keys materialization, lower it when
      * per-round task-setup cost (rounds × partitions) dominates.
      */
    foldEvery: Int = 8
)

/** The flagship operator: bounded breadth-first traversal of the implicit
  * crawl graph (vertices = canonical traces, edges = "fetching A yields
  * trace B") — reference execution/ExplorePlan.scala:53-228 +
  * ExploreRunner.scala:20-319, re-expressed as a partitioner-aligned RDD
  * level chain (this is the one operator where imperative per-partition
  * logic genuinely beats the DataFrame API — SURVEY §7.5).
  *
  * Differences we embrace: the visited set is EXACT and distributed —
  * frontier keys are dropped by a co-partitioned set-difference against all
  * visited keys — instead of the reference's best-effort per-JVM
  * ExploreLocalCache. Because expansion is strictly level-by-level, the
  * first visit of a key is automatically its minimum depth (the reference
  * needs a per-lineage min-depth reducer for this —
  * PathPlanning_Simple.scala:24-49).
  *
  * EXPLORE IS KEYED BY TRACE: one output row per visited canonical trace,
  * exactly like the reference's BreadthFirst reducer, which selects a SINGLE
  * winning lineage per key (`candidates.minBy(min depth, min ordinal)` —
  * PathPlanning_Simple.scala:36-46). Rows that reach the same trace with
  * different payloads collapse to one; the winner here is deterministic for
  * naturally-ordered payload types (minimum — mirroring the reference's
  * minBy), first-seen otherwise. Payloads should therefore be derivable from
  * the trace; if you need results fanned back to EVERY origin row, use
  * `fetch()`, which preserves all rows.
  *
  * == The 100 TB shape ==
  *
  * Everything in the loop shares ONE `HashPartitioner` on the canonical
  * trace key, which buys three structural properties:
  *
  *  1. '''One shuffle per BFS level, total.''' A level is: expand children
  *     (narrow) → `reduceByKey` winner-dedup (the shuffle) → co-partitioned
  *     set-difference against visited keys (narrow `zipPartitions`) → fetch
  *     (narrow `mapPartitions` — the frontier is already one row per key, so
  *     no second dedup shuffle is needed, unlike routing through
  *     FetchExec.fetch). Visited keys are cached per-partition block RDDs
  *     that are NEVER re-shuffled — the former DataFrame `left_anti` join
  *     re-exchanged the whole visited set every epoch.
  *  1. '''k levels per job''' (`epochInterval`): levels chain lazily —
  *     each level's fetched rows are block-cached (MEMORY_AND_DISK) and feed
  *     the next level in the same DAG, so one job materializes k levels.
  *     The shuffle chain is strictly linear: every stage narrow-depends on
  *     the previous level's cache, stages execute in order, and each fetch
  *     runs exactly once (no forked sibling stages racing to compute a
  *     cached fetch partition). Per-epoch driver latency — the dominant cost
  *     of shallow-and-wide crawls — is paid once per k levels instead of
  *     twice per level.
  *  1. '''Bounded plans.''' At each epoch boundary the frontier is
  *     localCheckpoint-ed (or reliably checkpointed to
  *     [[GraftConf.checkpointDir]] on the [[GraftConf.checkpointEveryEpochs]]
  *     cadence — the multi-hour-crawl mode; executor loss replays at most
  *     one epoch of doc-cache-warm fetches), so lineage never exceeds k
  *     levels and the count that gates the loop rides the same job.
  */
object ExploreExec {

  // RDD combinators want ClassTags; payloads are opaque (kryo-encoded at the
  // Dataset boundary), so erased AnyRef tags are the honest choice
  private implicit def anyTag[T]: ClassTag[T] = ClassTag.AnyRef.asInstanceOf[ClassTag[T]]

  private type OpenRow[D] = (String, (Trace, D, Int))

  /** @param winnerOrdering when supplied, the per-key winning payload is
    *        `min` by THIS ordering — fully deterministic for any payload
    *        type; absent, naturally-ordered (Comparable) payloads take
    *        their minimum and opaque payloads fall back to first-seen
    *        (partition-order dependent — see [[winner]]).
    */
  def explore[D](
      spark: SparkSession,
      seeds: Dataset[(Trace, D)],
      next: FetchedRow[D] => Seq[(Trace, D)],
      env: Env,
      params: ExploreParams = ExploreParams(),
      winnerOrdering: Option[Ordering[D]] = None
  ): Dataset[ExploredRow[D]] = {

    implicit val exploredEnc: Encoder[ExploredRow[D]] = Encoders.kryo[ExploredRow[D]]

    val conf: GraftConf = env.conf
    val maxDepth = math.min(params.maxDepth, conf.maxExploreDepth)
    if (maxDepth <= 0) return spark.emptyDataset[ExploredRow[D]]
    val epochInterval = math.max(1,
      if (params.epochInterval > 0) params.epochInterval else conf.exploreEpochInterval)

    val sc = spark.sparkContext
    val down = conf.downSampling
    conf.checkpointDir.foreach(sc.setCheckpointDir)

    val debug = sys.env.get("GRAFT_EXPLORE_DEBUG").contains("true")
    var tEpoch = System.nanoTime()
    def mark(l: String): Unit = if (debug) {
      val t = System.nanoTime()
      System.err.println(f"[explore] $l ${(t - tEpoch) / 1e9}%.2f s")
      tEpoch = t
    }

    val partitioner = new HashPartitioner(sc.defaultParallelism)
    val layout = params.layout

    val win: ((Trace, D, Int), (Trace, D, Int)) => (Trace, D, Int) =
      winnerOrdering match {
        case Some(ord) => (a, b) => if (ord.compare(a._2, b._2) <= 0) a else b
        case None      => new NaturalWinner[D]
      }

    // all fetched-row RDDs (one per level) and their keys-only projections;
    // both partitioner-aligned and block-cached, flat-unioned narrowly
    val visitedParts = scala.collection.mutable.Buffer.empty[RDD[ExploredRow[D]]]
    val visitedKeyParts = scala.collection.mutable.Buffer.empty[RDD[String]]
    // every epoch-cut frontier is persisted (explicitly before a reliable
    // checkpoint, implicitly by localCheckpoint); tracked so the blocks are
    // released on return
    val persistedFrontiers = scala.collection.mutable.Buffer.empty[RDD[OpenRow[D]]]

    /** Fetch one deduped, unvisited frontier: one row per key. Under the
      * default ByKey layout the frontier is already partitioner-aligned and
      * the whole step is narrow. Under ByHost the frontier is re-placed by
      * (host, salt) first — see [[ExploreParams.layout]] — and the keys-only
      * projection is shuffled BACK to the shared trace-key partitioner so
      * the visited-set zipPartitions difference stays co-partitioned.
      */
    def fetchLevel(frontier: RDD[OpenRow[D]]): RDD[ExploredRow[D]] = {
      val placed = layout match {
        case FetchLayout.ByKey => frontier
        case _ =>
          frontier
            .map { case (k, v) =>
              (FetchLayout.partitionOf(layout, k, v._1, partitioner.numPartitions), (k, v))
            }
            .partitionBy(new IndexPartitioner(partitioner.numPartitions))
            .map(_._2)
      }
      val fetched = placed.mapPartitions({ it =>
        it.map { case (k, (t, d, depth)) =>
          ExploredRow(FetchedRow(d, k, t, Trajectory(Agent.execute(t, env))), depth)
        }
      }, preservesPartitioning = true)
      fetched.persist(StorageLevel.MEMORY_AND_DISK)
      visitedParts += fetched
      val keys = layout match {
        case FetchLayout.ByKey =>
          fetched.mapPartitions(_.map(_.row.traceKey), preservesPartitioning = true)
        case _ =>
          fetched.map(r => (r.row.traceKey, ()))
            .partitionBy(partitioner)
            .mapPartitions(_.map(_._1), preservesPartitioning = true)
      }
      keys.persist(StorageLevel.MEMORY_AND_DISK)
      visitedKeyParts += keys
      fetched
    }

    /** One lazy BFS level: fetch the frontier, expand children, winner-dedup
      * (the level's single shuffle), co-partitioned visited-set difference.
      */
    def oneLevel(frontier: RDD[OpenRow[D]]): RDD[OpenRow[D]] = {
      val fetched = fetchLevel(frontier)
      val children: RDD[OpenRow[D]] = fetched.flatMap { r =>
        if (r.depth + 1 >= maxDepth) Nil
        else down(next(r.row)).map { case (t, d) => (t.cacheKey, (t, d, r.depth + 1)) }
      }
      val deduped = children.reduceByKey(partitioner, win)
      // visited keys share the partitioner => sc.union is a
      // PartitionerAwareUnionRDD and the set-difference is narrow
      val visited = sc.union(visitedKeyParts.toSeq)
      deduped.zipPartitions(visited, preservesPartitioning = true) { (it, vis) =>
        val set = new java.util.HashSet[String]()
        while (vis.hasNext) set.add(vis.next())
        it.filter(r => !set.contains(r._1))
      }
    }

    var epoch = 0

    /** Epoch boundary: truncate lineage + materialize + count in ONE job.
      * localCheckpoint by default; a RELIABLE checkpoint (persist first, so
      * the checkpoint write re-reads blocks instead of re-running fetches)
      * on the configured cadence.
      */
    def cutCount(rdd: RDD[OpenRow[D]]): Long = {
      if (conf.checkpointDir.isDefined &&
          epoch % math.max(1, conf.checkpointEveryEpochs) == 0) {
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else rdd.localCheckpoint() // localCheckpoint PERSISTS the RDD too
      // every epoch frontier holds executor storage (both branches) until the
      // release block below — track them all or repeated crawls leak blocks
      persistedFrontiers += rdd
      rdd.count()
    }

    var frontier: RDD[OpenRow[D]] = seeds.rdd
      .map { case (t, d) => (t.cacheKey, (t, d, 0)) }
      .reduceByKey(partitioner, win)
    var openCount = cutCount(frontier)
    mark(s"seed-cut (open=$openCount)")

    // level-synchronous invariant: after `level` total levels, every frontier
    // row is at exactly that depth — so past maxDepth the frontier is
    // provably empty and the chain can stop early
    var level = 0
    while (openCount > 0 && level < maxDepth) {
      var chained = 0
      // levels chain LAZILY inside an epoch, so the frontier can empty
      // mid-epoch without the driver knowing until the epoch cut; a
      // per-level task-side accumulator (zero extra jobs — it rides the
      // epoch job) lets exploreRounds count only levels that actually
      // processed a row, instead of crediting the trailing empty levels
      val levelRows = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.util.LongAccumulator]
      while (chained < epochInterval && level < maxDepth) {
        val acc = sc.longAccumulator(s"graft.explore.level$level.rows")
        levelRows += acc
        val counted = frontier.mapPartitions(
          it => it.map { r => acc.add(1); r }, preservesPartitioning = true)
        frontier = oneLevel(counted)
        level += 1
        chained += 1
      }
      epoch += 1
      openCount = cutCount(frontier)
      env.metrics.exploreRounds.add(levelRows.count(_.value > 0))
      mark(s"epoch-cut (levels=$level open=$openCount)")
    }

    val all =
      if (visitedParts.isEmpty) spark.emptyDataset[ExploredRow[D]]
      else spark.createDataset(sc.union(visitedParts.toSeq))
    val out = all.filter(_.depth >= params.minDepth).localCheckpoint(true)
    // the eager checkpoint above materialized the output into its own blocks:
    // every per-level cache (fetched rows + keys-only projections) and any
    // reliable-checkpoint frontier persist can be released NOW, not when the
    // session dies — repeated explores in one session must not accumulate
    // executor storage.
    visitedParts.foreach(_.unpersist(blocking = false))
    visitedKeyParts.foreach(_.unpersist(blocking = false))
    persistedFrontiers.foreach(_.unpersist(blocking = false))
    out
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
    * Structure shared with BFS explore: exact co-partitioned visited set
    * (an open key is dropped the moment it's fetched anywhere), winning
    * payload per key, maxDepth bound, per-round lineage cuts with
    * end-of-run block release. Differences: a row's depth is its DISCOVERY
    * depth (no level invariant — a high-score deep node can be visited
    * before a low-score shallow one), and rounds are inherently
    * sequential (priority order is a global decision; `fetchBudget /
    * batchSize` bounds the round count — batch against driver latency).
    *
    * Driver-side state per round: `batchSize` (score, key) pairs per
    * partition, merged — the reference's selectNextOpen made BOUNDED;
    * payloads never reach the driver. Scores must be total (no NaN).
    * Each round runs exactly ONE Spark job: the frontier-cut action's
    * zipPartitions pass also harvests the next selection and the budget
    * census (census-pinned — see ExploreSpec).
    */
  def exploreBestFirst[D](
      spark: SparkSession,
      seeds: Dataset[(Trace, D)],
      next: FetchedRow[D] => Seq[(Trace, D)],
      env: Env,
      priority: (Trace, D) => Double,
      fetchBudget: Long,
      batchSize: Int = 64,
      params: ExploreParams = ExploreParams(),
      winnerOrdering: Option[Ordering[D]] = None
  ): Dataset[ExploredRow[D]] = {

    implicit val exploredEnc: Encoder[ExploredRow[D]] = Encoders.kryo[ExploredRow[D]]
    require(fetchBudget >= 1, s"fetchBudget must be >= 1: $fetchBudget")
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val conf: GraftConf = env.conf
    val maxDepth = math.min(params.maxDepth, conf.maxExploreDepth)
    if (maxDepth <= 0) return spark.emptyDataset[ExploredRow[D]]
    val sc = spark.sparkContext
    val down = conf.downSampling
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
    val partitioner = new HashPartitioner(width)
    val layout = params.layout

    type Scored = (String, (Trace, D, Int, Double))
    // higher score wins a key collision; equal scores fall to the payload
    // winner (ordering when given, else first-seen — the BFS convention)
    val winS: ((Trace, D, Int, Double), (Trace, D, Int, Double)) => (Trace, D, Int, Double) =
      (a, b) =>
        if (a._4 > b._4) a
        else if (b._4 > a._4) b
        else winnerOrdering match {
          case Some(ord) => if (ord.compare(a._2, b._2) <= 0) a else b
          case None      => a
        }
    val selOrd: Ordering[(Double, String)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String)

    val visitedParts = scala.collection.mutable.Buffer.empty[RDD[ExploredRow[D]]]
    val persistedFrontiers = scala.collection.mutable.Buffer.empty[RDD[Scored]]

    // Visited keys, FOLDED (r11 verdict #2): best-first rounds are many by
    // design (fetchBudget / batchSize), so an ever-growing union of one
    // keys RDD per round would cost O(rounds × parts) task setup per round
    // — O(rounds²) over the crawl — and carry O(rounds) live handles.
    // Instead: at most `FoldEvery` recent per-round key RDDs stay live;
    // every FoldEvery rounds they merge into ONE localCheckpointed
    // accumulator (a narrow PartitionerAwareUnion — everything shares
    // `partitioner`) and the folded handles release. Per-round cost stays
    // O(visited) with O(1) live handles; the fold's own materialization is
    // a keys-only job amortized over FoldEvery rounds. Cadence is an
    // [[ExploreParams]] knob (r19 verdict #6).
    val FoldEvery = params.foldEvery
    require(FoldEvery >= 1, s"foldEvery must be >= 1: $FoldEvery")
    var foldedKeys: RDD[String] = null
    val recentKeys = scala.collection.mutable.Buffer.empty[RDD[String]]
    def allVisitedKeys: Seq[RDD[String]] = Option(foldedKeys).toSeq ++ recentKeys
    def foldVisited(): Unit = {
      val merged = sc.union(allVisitedKeys)
      merged.localCheckpoint()
      merged.count()
      allVisitedKeys.foreach(_.unpersist(blocking = false))
      recentKeys.clear()
      foldedKeys = merged
    }

    // ONE action per round (r21 optimization): the unfused loop ran THREE
    // driver-synchronized jobs per round — a takeOrdered selection over the
    // open set, a budget census count over the fetched batch, and the
    // frontier-cut count — and at batchSize 1 the crawl is pure
    // driver-latency, so jobs-per-round IS the operator's unit cost. All
    // three statistics are computable in a single pass over the new open
    // frontier zipped with the (cached, co-partitioned) fetched batch:
    // per-partition (open count, bounded top-batchSize (score, key) heap,
    // non-blocked fetch count), merged on the driver. The merged top list
    // is the NEXT round's selection — identical to takeOrdered over the
    // same RDD (selOrd is total: unique keys break score ties), and the
    // driver state stays batchSize (score, key) pairs per partition, the
    // same bounded class as before.
    // a standalone Serializable function object (the NaturalWinner
    // discipline) — a local def would lambda-lift onto the (non-
    // serializable) ExploreExec module and poison the closure
    val stats = new RoundStats[D](batchSize, selOrd)
    /** Cut + census in one job: localCheckpoints `rdd`, and returns
      * (open count, merged top-batchSize selection, non-robots-blocked
      * fetch count of `fetched` — 0 when absent). The fetched batch is
      * cached and co-partitioned with `rdd`, so zipping it into the same
      * action costs nothing beyond the iteration.
      */
    def cutStats(rdd: RDD[Scored], fetched: Option[RDD[ExploredRow[D]]])
        : (Long, Seq[(Double, String)], Long) = {
      rdd.localCheckpoint()
      persistedFrontiers += rdd
      // collect() under the object's erased anyTag builds an Object[] — cast
      // per element (each IS the tuple), never the array itself
      val raw: Array[AnyRef] = (fetched match {
        case Some(f) => rdd.zipPartitions(f)((o, t) => stats.withFetched(o, t))
        case None    => rdd.mapPartitions(o => stats.openOnly(o))
      }).asInstanceOf[RDD[AnyRef]].collect()
      val parts = raw.iterator
        .map(_.asInstanceOf[(Long, Seq[(Double, String)], Long)]).toSeq
      (parts.map(_._1).sum,
        parts.iterator.flatMap(_._2).toSeq.sorted(selOrd).take(batchSize),
        parts.map(_._3).sum)
    }

    var open: RDD[Scored] = seeds.rdd
      .map { case (t, d) => (t.cacheKey, (t, d, 0, priority(t, d))) }
      .reduceByKey(partitioner, winS)
    var (openCount, topSel, _) = cutStats(open, None)
    var remaining = fetchBudget
    var round = 0

    while (remaining > 0 && openCount > 0) {
      round += 1
      env.metrics.exploreRounds.add(1)
      val k = math.min(batchSize.toLong, remaining).toInt
      val selected = topSel.take(k).map(_._2).toSet
      val bc = sc.broadcast(selected)
      val batch0 = open.filter { case (key, _) => bc.value.contains(key) }
      val rest = open.filter { case (key, _) => !bc.value.contains(key) }

      // host-keyed batch placement when configured — same politeness story
      // as BFS fetchLevel (see ExploreParams.layout); a batch is at most
      // batchSize rows, so the extra shuffle is tiny
      val batch = layout match {
        case FetchLayout.ByKey => batch0
        case _ =>
          batch0
            .map { case (k, v) =>
              (FetchLayout.partitionOf(layout, k, v._1, partitioner.numPartitions), (k, v))
            }
            .partitionBy(new IndexPartitioner(partitioner.numPartitions))
            .map(_._2)
      }

      val fetched = batch.mapPartitions({ it =>
        it.map { case (key, (t, d, depth, _)) =>
          ExploredRow(FetchedRow(d, key, t, Trajectory(Agent.execute(t, env))), depth)
        }
      }, preservesPartitioning = true)
      fetched.persist(StorageLevel.MEMORY_AND_DISK)
      visitedParts += fetched
      val keys = layout match {
        case FetchLayout.ByKey =>
          fetched.mapPartitions(_.map(_.row.traceKey), preservesPartitioning = true)
        case _ =>
          fetched.map(r => (r.row.traceKey, ()))
            .partitionBy(partitioner)
            .mapPartitions(_.map(_._1), preservesPartitioning = true)
      }
      keys.persist(StorageLevel.MEMORY_AND_DISK)
      recentKeys += keys

      val children: RDD[Scored] = fetched.flatMap { r =>
        if (r.depth + 1 >= maxDepth) Nil
        else down(next(r.row)).map { case (t, d) =>
          (t.cacheKey, (t, d, r.depth + 1, priority(t, d)))
        }
      }
      val merged = rest.union(children).reduceByKey(partitioner, winS)
      val visited = sc.union(allVisitedKeys)
      val newOpen = merged.zipPartitions(visited, preservesPartitioning = true) { (it, vis) =>
        val set = new java.util.HashSet[String]()
        while (vis.hasNext) set.add(vis.next())
        it.filter(r => !set.contains(r._1))
      }
      // the round's single job: materializes the fetch (and the frontier
      // cut), selects the next batch, and counts the real requests.
      // Robots-blocked rows made NO request (the gate refuses before any
      // network or pagesFetched tick) — they must not consume the fetch
      // budget either, or a heavily-disallowed frontier silently starves
      // the crawl. Failed real attempts DO consume (the request happened).
      val (oc, sel, nonBlocked) = cutStats(newOpen, Some(fetched))
      openCount = oc
      topSel = sel
      remaining -= nonBlocked
      open = newOpen
      if (round % FoldEvery == 0) foldVisited()
    }

    val all =
      if (visitedParts.isEmpty) spark.emptyDataset[ExploredRow[D]]
      else spark.createDataset(sc.union(visitedParts.toSeq))
    val out = all.filter(_.depth >= params.minDepth).localCheckpoint(true)
    visitedParts.foreach(_.unpersist(blocking = false))
    allVisitedKeys.foreach(_.unpersist(blocking = false))
    persistedFrontiers.foreach(_.unpersist(blocking = false))
    out
  }

  /** The best-first round's fused per-partition statistics pass (r21): open
    * count + bounded top-`b` (score, key) selection heap over the new
    * frontier, plus the non-robots-blocked budget census over the
    * co-partitioned cached fetch — everything the driver needs per round,
    * in the single job that materializes the frontier cut (the unfused
    * loop paid three driver-synchronized actions for the same facts).
    * Standalone Serializable class so closures don't capture the module.
    */
  private final class RoundStats[D](b: Int, ord: Ordering[(Double, String)])
      extends Serializable {
    // Seq results, not Array: the enclosing object's erased `anyTag`
    // implicit would satisfy toArray's ClassTag with AnyRef and produce an
    // Object[] behind a Tuple2[] type — a runtime ClassCastException
    private def top(oit: Iterator[(String, (Trace, D, Int, Double))])
        : (Long, Seq[(Double, String)]) = {
      var n = 0L
      // max-heap under ord: head = worst kept; strict < keeps exactly the
      // takeOrdered(b)(ord) set (keys are unique after reduceByKey)
      val pq = new scala.collection.mutable.PriorityQueue[(Double, String)]()(ord)
      oit.foreach { case (key, (_, _, _, s)) =>
        n += 1
        if (pq.size < b) pq.enqueue((s, key))
        else if (ord.compare((s, key), pq.head) < 0) { pq.dequeue(); pq.enqueue((s, key)) }
      }
      (n, pq.dequeueAll.toSeq)
    }
    // plain methods, not Function-typed vals: a lambda stored in a field of
    // a serialized instance hits the SerializedLambda field-assignment trap
    // on deserialization; call sites wrap these in fresh closures instead
    def openOnly(oit: Iterator[(String, (Trace, D, Int, Double))])
        : Iterator[(Long, Seq[(Double, String)], Long)] = {
      val (n, sel) = top(oit)
      Iterator.single((n, sel, 0L))
    }
    def withFetched(oit: Iterator[(String, (Trace, D, Int, Double))],
        fit: Iterator[ExploredRow[D]])
        : Iterator[(Long, Seq[(Double, String)], Long)] = {
      val (n, sel) = top(oit)
      var nb = 0L
      fit.foreach { r =>
        val blocked = r.row.trajectory.observations.exists {
          case e: graft.doc.DocError => e.message.startsWith("blocked by robots.txt")
          case _ => false
        }
        if (!blocked) nb += 1
      }
      Iterator.single((n, sel, nb))
    }
  }

  /** Per-level frontier dedup winner (same level => equal depth), matching
    * the reference's single-winning-lineage reduce
    * (PathPlanning_Simple.scala:36-46 `candidates.minBy`). The surviving
    * payload is DETERMINISTIC for naturally-ordered payload types (the
    * minimum — the analog of the reference's minBy ordinal); first-seen for
    * types with no natural order (documented in the operator scaladoc:
    * explore is keyed by trace, payloads should be derivable from it).
    *
    * The Comparable-vs-first-seen strategy is resolved ONCE per task from
    * the first collision's payload classes and branched on a cached flag
    * afterwards — no instanceof/getClass checks per collision in the
    * combiner hot path. (Assumes one explore's payloads share a runtime
    * class — explore's documented contract; a heterogeneous FIRST collision
    * resolves to first-seen just as the old per-pair check did.)
    */
  private final class NaturalWinner[D]
      extends (((Trace, D, Int), (Trace, D, Int)) => (Trace, D, Int))
      with Serializable {
    // 0 = unresolved (per task: @transient resets on deserialization),
    // 1 = comparable-minimum, 2 = first-seen
    @transient private var mode: Int = 0
    def apply(a: (Trace, D, Int), b: (Trace, D, Int)): (Trace, D, Int) = {
      if (mode == 0) mode = a._2 match {
        case x: Comparable[_] if b._2 != null && x.getClass == b._2.getClass => 1
        case _ => 2
      }
      if (mode == 1) {
        // the catch costs nothing unless a later collision breaks the
        // homogeneous-payload contract — then degrade to first-seen for the
        // rest of the task instead of failing the stage
        try if (a._2.asInstanceOf[Comparable[Any]].compareTo(b._2) > 0) b else a
        catch {
          case _: ClassCastException | _: NullPointerException => mode = 2; a
        }
      } else a
    }
  }
}
