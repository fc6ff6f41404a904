package graft.api

import graft.actions.{Mock, Trace, TraceSet, Wget}
import graft.agent.{DriverFactory, Env}
import graft.conf.GraftConf
import graft.doc.{Doc, DocUID, Observation, Trajectory}
import graft.exec.{ExploredRow, ExploreExec, FetchedRow, FetchExec, Locality, Metrics}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import scala.reflect.ClassTag

/** Entry point (reference SpookyContext.scala:209-261): lifts local
  * collections / RDDs / Datasets into [[DataView]]s and owns conf + metrics.
  */
final class GraftContext(
    val spark: SparkSession,
    val conf: GraftConf = GraftConf(),
    val driverFactory: Option[DriverFactory] = None
) {

  val metrics: Metrics = new Metrics(spark.sparkContext)

  /** Serializable slice shipped into executor closures. */
  def env: Env = Env(conf, metrics, driverFactory)

  def withConf(c: GraftConf): GraftContext = new GraftContext(spark, c, driverFactory)

  def withDrivers(f: DriverFactory): GraftContext = new GraftContext(spark, conf, Some(f))

  /** `create(batch[, numSlices])` (reference SpookyContext.scala:213-225). */
  def create[D: Encoder](data: Seq[D], numSlices: Int = 0): DataView[D] = {
    val ds = spark.createDataset(data)
    new DataView(if (numSlices > 0) ds.repartition(numSlices) else ds, this)
  }

  /** `create(rdd)` / `fromRDD` (reference SpookyContext.scala:228-239). */
  def create[D: Encoder: ClassTag](rdd: RDD[D]): DataView[D] =
    new DataView(spark.createDataset(rdd), this)

  /** `create(Dataset)` — identity lift (reference SpookyContext.scala:241-244). */
  def create[D](ds: Dataset[D]): DataView[D] =
    new DataView(ds, this)(ds.encoder)

  /** Single-unit-row seed for fetch chains (reference
    * SpookyContext.scala:257-261 `createBlank`).
    */
  def createBlank: DataView[Int] = create(Seq(0))(Encoders.scalaInt)

  /** Bulk file ingestion — the corpus-directory path at scale. Every file
    * under `path` becomes one fetched row through Spark's `binaryFile`
    * source: DISTRIBUTED listing and partition-sized batching replace
    * per-URL fetch loops (use [[DataView.fetch]] + [[graft.actions.Wget]]
    * for per-URI access; use this to ingest a crawl dump or media
    * directory wholesale). `glob` prunes at LISTING time (`pathGlobFilter`
    * — unmatched files are never opened); the resulting Doc carries the
    * file bytes with mime sniffed by extension+magic, so the whole Node
    * seam (HTML/JSON/CSV/PDF/OOXML/plain/media) applies downstream exactly
    * as if the file had been Wget-fetched.
    */
  def readFiles(path: String, glob: Option[String] = None,
                recursive: Boolean = false): FetchedView[String] = {
    var reader = spark.read.format("binaryFile")
    glob.foreach(g => reader = reader.option("pathGlobFilter", g))
    if (recursive) reader = reader.option("recursiveFileLookup", "true")
    val files = reader.load(path)
      .selectExpr("path", "CAST(modificationTime AS LONG) AS mtime", "content")
      .as[(String, Long, Array[Byte])](
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.BINARY))
    implicit val enc: Encoder[FetchedRow[String]] = Encoders.kryo[FetchedRow[String]]
    val rows = files.map { case (uri, mtimeSec, bytes) =>
      val t = Trace.of(Wget(uri))
      val doc = Doc(DocUID(t.cacheKey), uri, bytes,
        declaredMime = None, status = 200, timestampMillis = mtimeSec * 1000L)
      FetchedRow(uri, t.cacheKey, t, Trajectory(Seq(doc)))
    }
    new FetchedView(rows, this)
  }

  /** Rows with pre-canned observations, no network — the test seam
    * (reference row/BuildRow.scala:8-63 + actions/Mock.scala).
    */
  def createMock[D: Encoder](rows: Seq[(D, Seq[Observation])]): FetchedView[D] = {
    implicit val pairEnc: Encoder[(D, Seq[Observation])] =
      Encoders.kryo[(D, Seq[Observation])]
    val e = env
    val ds = spark.createDataset(rows).map { case (d, obs) =>
      val t = Trace.of(Mock(obs))
      FetchedRow(d, t.cacheKey, t, Trajectory(graft.agent.Agent.execute(t, e)))
    }(Encoders.kryo[FetchedRow[D]])
    new FetchedView(ds, this)
  }
}

/** The user-facing dataset (reference dsl/DataView.scala:72-331): a thin,
  * immutable wrapper over `Dataset[D]`. Relational ops delegate straight to
  * the Dataset API (Catalyst optimizes them); the engine-specific operators
  * are `fetch` (side-effect dedup) and `explore` (bounded recursion).
  */
final class DataView[D](val dataset: Dataset[D], val ctx: GraftContext)(
    implicit val enc: Encoder[D]) {

  private def wrap[O: Encoder](ds: Dataset[O]): DataView[O] = new DataView(ds, ctx)

  // -- projections (reference DataView.scala:137-175)

  def map[O: Encoder](f: D => O): DataView[O] = wrap(dataset.map(f))
  def select[O: Encoder](f: D => O): DataView[O] = map(f)

  /** 1→N with conf-driven down-sampling at the fan-out
    * (reference selectMany/flatMap + DownSampling).
    */
  def flatMap[O: Encoder](f: D => Seq[O]): DataView[O] = {
    val down = ctx.conf.downSampling
    wrap(dataset.flatMap(d => down(f(d))))
  }
  def selectMany[O: Encoder](f: D => Seq[O]): DataView[O] = flatMap(f)

  def filter(p: D => Boolean): DataView[D] = wrap(dataset.filter(p))
  def where(p: D => Boolean): DataView[D] = filter(p)

  /** Force effects row-wise and return the MATERIALIZED view (reference
    * forces + yields the computed plan): the side-effect lambda runs exactly
    * once per row during this call; downstream actions on the returned view
    * read the checkpointed blocks and never re-fire it.
    */
  def foreach(f: D => Unit): DataView[D] =
    wrap(dataset.map { d => f(d); d }.localCheckpoint(true))
  def execute(): DataView[D] = wrap(dataset.localCheckpoint(true))

  // -- sorts / set ops / partitioning (reference DataView.scala:109-129,
  //    DataViewRDDInterface.scala)

  /** Typed sort. For the standard primitive/String orderings the sort
    * compiles to a NATIVE Catalyst Sort on an extracted key column (the key
    * lambda runs once map-side, then the range-partitioned sort exchanges
    * Tungsten rows — no RDD round-trip, no per-comparison deserialization);
    * opaque custom `Ordering`s keep the faithful `rdd.sortBy` fallback.
    * Caveat: String keys sort in UTF-8 binary order on the native path
    * (Catalyst) vs UTF-16 code-unit order on the fallback — they differ only
    * beyond the basic multilingual plane.
    */
  def sortBy[K: Ordering: ClassTag](f: D => K, ascending: Boolean = true,
                                    numPartitions: Int = 0): DataView[D] =
    DataView.nativeKeyEncoder[K](implicitly[Ordering[K]]) match {
      case Some(kEnc) =>
        implicit val pairEnc: Encoder[(K, D)] = Encoders.tuple(kEnc, enc)
        val keyed = dataset.map(d => (f(d), d))
        val key = org.apache.spark.sql.functions.col("_1")
        val c = if (ascending) key.asc else key.desc
        val sorted =
          if (numPartitions > 0)
            keyed.repartitionByRange(numPartitions, c).sortWithinPartitions(c)
          else keyed.orderBy(c)
        wrap(sorted.map(_._2))
      case None =>
        val rdd = dataset.rdd
        val n = if (numPartitions > 0) numPartitions else rdd.getNumPartitions
        wrap(dataset.sparkSession.createDataset(rdd.sortBy(f, ascending, n)))
    }
  def sorted(implicit ord: Ordering[D], ct: ClassTag[D]): DataView[D] =
    sortBy(identity[D])

  def union(others: DataView[D]*): DataView[D] =
    wrap(others.foldLeft(dataset)((a, b) => a.union(b.dataset)))
  def ++(other: DataView[D]): DataView[D] = union(other)

  def intersect(other: DataView[D]): DataView[D] = wrap(dataset.intersect(other.dataset))
  def except(other: DataView[D]): DataView[D] = wrap(dataset.except(other.dataset))
  def distinct(): DataView[D] = wrap(dataset.distinct())

  def take(n: Int): Seq[D] = dataset.take(n).toSeq
  def count(): Long = dataset.count()

  /** Stream results to the driver partition-at-a-time while a background
    * job keeps computing AHEAD into a bounded buffer (reference
    * PreemptiveLocalOps.scala:1-128 "preemptive local collect"). Plain
    * `Dataset.toLocalIterator` only computes a partition when the consumer
    * reaches it — this overlaps cluster compute with driver consumption,
    * holding at most `prefetchPartitions` partitions in driver memory.
    */
  def toLocalIterator(prefetchPartitions: Int = 2): Iterator[D] = {
    val rdd = dataset.rdd
    val sc = dataset.sparkSession.sparkContext
    val n = rdd.getNumPartitions
    if (n == 0) Iterator.empty
    else {
      implicit val vecTag: scala.reflect.ClassTag[Vector[D]] =
        scala.reflect.ClassTag.AnyRef.asInstanceOf[scala.reflect.ClassTag[Vector[D]]]
      val queue = new java.util.concurrent.ArrayBlockingQueue[Either[Throwable, Vector[D]]](
        math.max(1, prefetchPartitions))
      val worker = new Thread(() => {
        try (0 until n).foreach { p =>
          val batch = sc.runJob(rdd, (it: Iterator[D]) => it.toVector, Seq(p)).head
          queue.put(Right(batch))
        } catch { case e: Throwable => queue.put(Left(e)) }
      }, "graft-preemptive-collect")
      worker.setDaemon(true)
      worker.start()
      (0 until n).iterator.flatMap { _ =>
        queue.take() match {
          case Right(batch) => batch
          case Left(e)      => throw e
        }
      }
    }
  }

  def coalesce(n: Int): DataView[D] = wrap(dataset.coalesce(n))
  def repartition(n: Int): DataView[D] = wrap(dataset.repartition(n))

  /** Widen partition count by `factor` WITHOUT a shuffle (narrow round-robin
    * slices — [[graft.scale.NarrowDisperseRDD]], reference
    * NarrowDispersedRDD). The fetch-concurrency fix for a narrow seed list:
    * a frontier read as 1-2 partitions caps agent parallelism at 1-2 tasks,
    * and `disperse(k).fetch(...)` buys k-way parallelism for the price of
    * re-reading the (tiny, or cached) upstream iterator per slice — no
    * exchange, no driver barrier. Prefer `repartition` for wide uncached
    * parents.
    */
  def disperse(factor: Int): DataView[D] = {
    implicit val ct: ClassTag[D] = enc.clsTag
    wrap(dataset.sparkSession.createDataset(
      graft.scale.NarrowDisperseRDD(dataset.rdd, factor)))
  }

  def persist(): DataView[D] = { dataset.persist(); this }
  def cache(): DataView[D] = persist()
  def unpersist(): DataView[D] = { dataset.unpersist(); this }
  def checkpoint(): DataView[D] = wrap(dataset.localCheckpoint(true))

  // -- the signature operator (reference DataView.scala:178-203)

  /** For each row, `fn` yields alternative traces (fan-out); rows are re-keyed
    * by canonical trace (or the `keyBy` override — reference
    * `LocalityGroup.sameBy`) and each distinct key executes ONCE
    * ([[graft.exec.FetchExec]]). `layout = FetchLayout.ByHost(k)` places all
    * of one host's groups into ≤ k task slots (global politeness — see
    * [[graft.exec.FetchLayout.ByHost]]); dedup is unaffected.
    */
  def fetch(fn: D => TraceSet, locality: Locality = Locality.Wide,
            keyBy: Trace => String = _.cacheKey,
            layout: graft.exec.FetchLayout = graft.exec.FetchLayout.ByKey): FetchedView[D] = {
    implicit val pairEnc: Encoder[(Trace, D)] = Encoders.kryo[(Trace, D)]
    val keyed = dataset.flatMap(d => fn(d).traces.map(t => (t, d)))
    new FetchedView(FetchExec.fetch(keyed, ctx.env, locality, keyBy, layout), ctx)
  }

  def fetchOne(fn: D => Trace, locality: Locality = Locality.Wide,
               layout: graft.exec.FetchLayout = graft.exec.FetchLayout.ByKey): FetchedView[D] =
    fetch(d => TraceSet(Seq(fn(d))), locality, layout = layout)

  // -- the flagship operator (reference DataView.scala:205-331)

  /** Bounded BFS: `seed` starts each row's traversal, `next` expands each
    * fetched row into child traces+payloads; depth range `[minDepth,
    * maxDepth)` (reference `recursively(range).explore(fn)` semantics).
    * Lineage is cut every [[graft.exec.ExploreExec.LevelsPerEpoch]] levels
    * (see [[graft.exec.ExploreExec]]).
    */
  /** An implicit `Ordering[D]`, when available, makes the per-trace winning
    * payload fully deterministic (ADVICE r4; matches the reference's minBy);
    * without one, Comparable payloads take their minimum and opaque
    * payloads are first-seen.
    */
  def explore(seed: D => Trace)(next: FetchedRow[D] => Seq[(Trace, D)],
              minDepth: Int = 0, maxDepth: Int = Int.MaxValue,
              layout: graft.exec.FetchLayout = graft.exec.FetchLayout.ByKey)(
              implicit ord: Ordering[D] = null): ExploredView[D] = {
    implicit val pairEnc: Encoder[(Trace, D)] = Encoders.kryo[(Trace, D)]
    val seeds = dataset.map(d => (seed(d), d))
    new ExploredView(ExploreExec.explore(dataset.sparkSession, seeds, next, ctx.env,
      minDepth, maxDepth, layout, Option(ord)), ctx)
  }

  /** Best-first traversal under a fetch budget: like [[explore]] but each
    * round fetches the top-`batchSize` open traces by `priority`
    * (descending, deterministic tie-break by trace key) until `fetchBudget`
    * pages have been fetched — the reference PathPlanning's non-BFS
    * orderings ([[graft.exec.ExploreExec.exploreBestFirst]]). BFS
    * [[explore]] stays the default; rows carry DISCOVERY depth.
    */
  def exploreBestFirst(seed: D => Trace)(
      next: FetchedRow[D] => Seq[(Trace, D)],
      priority: (Trace, D) => Double,
      fetchBudget: Long,
      batchSize: Int = 64,
      minDepth: Int = 0, maxDepth: Int = Int.MaxValue,
      layout: graft.exec.FetchLayout = graft.exec.FetchLayout.ByKey)(
      implicit ord: Ordering[D] = null): ExploredView[D] = {
    implicit val pairEnc: Encoder[(Trace, D)] = Encoders.kryo[(Trace, D)]
    val seeds = dataset.map(d => (seed(d), d))
    new ExploredView(ExploreExec.exploreBestFirst(dataset.sparkSession, seeds, next, ctx.env,
      priority, fetchBudget, batchSize, minDepth, maxDepth, layout, Option(ord)), ctx)
  }

  // -- export (reference DataView.scala:33-47)

  def asDataset: Dataset[D] = dataset
  def asDataFrame: org.apache.spark.sql.DataFrame = dataset.toDF()
  def asJSONDataset: Dataset[String] = dataset.toJSON
  def collect(): Seq[D] = dataset.collect().toSeq
}

object DataView {

  /** Encoder for sort keys whose standard Ordering agrees with Catalyst's
    * native sort order — the gate for [[DataView.sortBy]]'s no-RDD path.
    * Custom orderings return None and keep the rdd.sortBy fallback.
    */
  private[api] def nativeKeyEncoder[K](ord: Ordering[K]): Option[Encoder[K]] = {
    val e: Option[Encoder[_]] = ord match {
      case o if o eq Ordering.Int => Some(Encoders.scalaInt)
      case o if o eq Ordering.Long => Some(Encoders.scalaLong)
      case o if o eq Ordering.Short => Some(Encoders.scalaShort)
      case o if o eq Ordering.Byte => Some(Encoders.scalaByte)
      case o if o eq Ordering.Boolean => Some(Encoders.scalaBoolean)
      case o if o eq Ordering.String => Some(Encoders.STRING)
      case o if (o eq Ordering.Double.TotalOrdering) ||
        (o eq Ordering.DeprecatedDoubleOrdering) => Some(Encoders.scalaDouble)
      case o if (o eq Ordering.Float.TotalOrdering) ||
        (o eq Ordering.DeprecatedFloatOrdering) => Some(Encoders.scalaFloat)
      case _ => None
    }
    e.map(_.asInstanceOf[Encoder[K]])
  }
}

/** View after a fetch: rows carry their trajectory (reference AgentRow).
  * Kryo-encoded internally; `select`/`extract` project back to
  * encoder-friendly types for Catalyst.
  */
final class FetchedView[D](val dataset: Dataset[FetchedRow[D]], val ctx: GraftContext) {

  def select[O: Encoder](f: FetchedRow[D] => O): DataView[O] =
    new DataView(dataset.map(f), ctx)

  def selectMany[O: Encoder](f: FetchedRow[D] => Seq[O]): DataView[O] = {
    val down = ctx.conf.downSampling
    new DataView(dataset.flatMap(r => down(f(r))), ctx)
  }

  def filter(p: FetchedRow[D] => Boolean): FetchedView[D] =
    new FetchedView(dataset.filter(p), ctx)

  /** Keep only rows whose whole trajectory succeeded. */
  def succeeded: FetchedView[D] = filter(_.trajectory.isSuccess)

  /** Chain another fetch from the fetched context (pagination etc.). */
  def fetch(fn: FetchedRow[D] => TraceSet,
            locality: Locality = Locality.Wide): FetchedView[FetchedRow[D]] = {
    implicit val pairEnc: Encoder[(Trace, FetchedRow[D])] =
      Encoders.kryo[(Trace, FetchedRow[D])]
    val keyed = dataset.flatMap(r => fn(r).traces.map(t => (t, r)))
    new FetchedView(FetchExec.fetch(keyed, ctx.env, locality), ctx)
  }

  /** Doc-node lateral join (reference legacy `fork`, execution/Delta.scala:
    * 92-126): explode selected nodes into child rows carrying the parent
    * payload. `Inner` drops rows with no match; `Outer` keeps them with an
    * empty extraction (explode vs explode_outer semantics).
    */
  def fork[O: Encoder](selector: String, forkType: ForkType = ForkType.Inner)(
      extract: graft.doc.Node => O)(
      implicit pairEnc: Encoder[(D, Option[O])]): DataView[(D, Option[O])] =
    forkIndexed(selector, forkType)((n, _) => extract(n))

  /** [[fork]] with the child's ORDINAL — its index among the selector's
    * matches on that page (post-downsampling, document order) — passed to
    * the extractor: the reference fork's ordinal column (execution/
    * Delta.scala:92-126 — forked rows carry their position in the parent's
    * match list, the key a downstream re-join or order-sensitive parse
    * needs once the rows scatter across partitions).
    */
  def forkIndexed[O: Encoder](selector: String, forkType: ForkType = ForkType.Inner)(
      extract: (graft.doc.Node, Int) => O)(
      implicit pairEnc: Encoder[(D, Option[O])]): DataView[(D, Option[O])] = {
    val down = ctx.conf.downSampling
    val ds = dataset.flatMap { r =>
      val nodes = down(r.trajectory.findAll(selector))
      if (nodes.isEmpty) {
        if (forkType == ForkType.Outer) Seq((r.data, Option.empty[O])) else Nil
      } else nodes.zipWithIndex.map { case (n, i) => (r.data, Some(extract(n, i))) }
    }
    new DataView(ds, ctx)
  }

  /** Save every doc to DFS (reference Trajectory.save); runs distributed. */
  def save(dir: String): FetchedView[D] = {
    dataset.foreach((r: FetchedRow[D]) => { r.trajectory.save(dir); () })
    this
  }

  def data(implicit enc: Encoder[D]): DataView[D] =
    new DataView(dataset.map(_.data), ctx)

  def persist(): FetchedView[D] = { dataset.persist(); this }
  def cache(): FetchedView[D] = persist()
  def unpersist(): FetchedView[D] = { dataset.unpersist(); this }
  def count(): Long = dataset.count()
  def collect(): Seq[FetchedRow[D]] = dataset.collect().toSeq
}

sealed trait ForkType
object ForkType {
  case object Inner extends ForkType
  case object Outer extends ForkType
}

/** View after explore: fetched rows + depth. */
final class ExploredView[D](val dataset: Dataset[ExploredRow[D]], val ctx: GraftContext) {

  def select[O: Encoder](f: ExploredRow[D] => O): DataView[O] =
    new DataView(dataset.map(f), ctx)

  def selectMany[O: Encoder](f: ExploredRow[D] => Seq[O]): DataView[O] = {
    val down = ctx.conf.downSampling
    new DataView(dataset.flatMap(r => down(f(r))), ctx)
  }

  def fetched: FetchedView[D] =
    new FetchedView(dataset.map(_.row)(Encoders.kryo[FetchedRow[D]]), ctx)

  def persist(): ExploredView[D] = { dataset.persist(); this }
  def cache(): ExploredView[D] = persist()
  def unpersist(): ExploredView[D] = { dataset.unpersist(); this }

  def count(): Long = dataset.count()
  def collect(): Seq[ExploredRow[D]] = dataset.collect().toSeq
}
