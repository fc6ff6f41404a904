package graft.scale

import scala.collection.mutable.LongMap
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one iterative-graph loop under PageRank, HITS and label propagation:
  * synchronous rounds over a node set (column `id`) and an edge multiset
  * (columns `src`, `dst`), in four parts.
  *
  *  1. Setup. Edges with a null endpoint are dropped (they match no node
  *     under a join, so they can carry no value); the rest are keyed by
  *     `src` under a `HashPartitioner` as wide as the edge scan's own
  *     parallelism, capped at `defaultParallelism` — a small graph stays a
  *     few partitions, a sharded edge table clamps as a shuffle would. The
  *     index is persisted once; `reversed` adds the dst-keyed twin.
  *  2. Push ([[push]]). Node values share the indexes' partitioner, so
  *     sending values along the edges and receiving them are narrow
  *     `zipPartitions`; a round's only exchange is the map-side-combined
  *     per-receiver reduce. Edges never reshuffle after setup.
  *  3. Rounds ([[rounds]]). A round that needs a scalar (a [[GraphLoop.Tally]]
  *     over the (new, old) node values) is a [[Held.cut]] of the loop's
  *     [[checkpoints]], and the tally IS the materializing fold: one Spark
  *     job per round, and the previous round's blocks are released at once,
  *     so storage stays O(1) in the round count. Rounds without a tally
  *     stay lineage and are cut every [[GraphLoop.CheckpointEvery]] rounds.
  *  4. Result ([[GraphLoop.Result]]). The caller's frame, the rounds run and
  *     the last scalar; `release()` frees the edge indexes and the last
  *     checkpoint.
  *
  * Driver-side state is the tally alone — never row data.
  */
final class GraphLoop(ids: DataFrame, edges: DataFrame, reversed: Boolean = false) {
  import GraphLoop._

  private val spark = ids.sparkSession
  import spark.implicits._

  private val raw = edges
    .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    .filter(col("src").isNotNull && col("dst").isNotNull)
    .as[(Long, Long)].rdd
  val part = new HashPartitioner(
    math.max(1, math.min(spark.sparkContext.defaultParallelism, raw.getNumPartitions)))
  private def index(e: RDD[(Long, Long)]) =
    e.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
  /** (src, dst) keyed by src. */
  val bySrc: RDD[(Long, Long)] = index(raw)
  /** (dst, src) keyed by dst; null unless `reversed`. */
  val byDst: RDD[(Long, Long)] = if (reversed) index(raw.map(_.swap)) else null
  /** Holds the checkpoint the latest materialized values live in. */
  val checkpoints = new Held(spark.sparkContext)

  /** Node values under [[part]]; `init` gets each id and its out-degree in
    * the edge multiset (counted where the id's out-edges already sit).
    */
  def nodes[V: ClassTag](init: (Long, Int) => V): RDD[(Long, V)] =
    ids.select(col("id").cast("long")).as[Long].rdd.map(id => (id, id)).partitionBy(part)
      .zipPartitions(bySrc, preservesPartitioning = true) { (nit, eit) =>
        val deg = new LongMap[Int]()
        eit.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0) + 1) }
        nit.map { case (id, _) => (id, init(id, deg.getOrElse(id, 0))) }
      }

  /** One synchronous push along `index` ([[bySrc]] or [[byDst]]): each edge
    * (a, b) sends `send(value(a))` to b, the messages to one receiver fold
    * with `merge`, and each node takes `update(old, folded)` — `None` when
    * nothing arrived; receivers outside the node set are dropped. Every
    * message is a fresh `send` result, so `merge` may reuse its first
    * argument. Yields (id, (new, old)) under [[part]].
    */
  def push[V: ClassTag, M: ClassTag](values: RDD[(Long, V)], index: RDD[(Long, Long)])
      (send: V => M)(merge: (M, M) => M, update: (V, Option[M]) => V)
      : RDD[(Long, (V, V))] = {
    val msgs = values.zipPartitions(index) { (vit, eit) =>
      val at = new LongMap[V]()
      vit.foreach { case (id, v) => at.update(id, v) }
      eit.flatMap { case (a, b) => at.get(a).map(v => (b, send(v))) }
    }.reduceByKey(part, merge)
    values.zipPartitions(msgs, preservesPartitioning = true) { (vit, mit) =>
      val in = new LongMap[M]()
      mit.foreach { case (id, m) => in.update(id, m) }
      vit.map { case (id, v) => (id, (update(v, in.get(id)), v)) }
    }
  }

  /** Up to `maxRounds` rounds of `step`, which gets the current values and
    * the last scalar (`first` before any tally ran). With a `tally` every
    * round materializes and the loop stops at the first round whose tally
    * meets `tally.stop`. Returns the final values, the rounds run and the
    * last scalar.
    */
  def rounds[V: ClassTag, S: ClassTag](init: RDD[(Long, V)], maxRounds: Int,
      tally: Option[Tally[V, S]], first: S)
      (step: (RDD[(Long, V)], S) => RDD[(Long, (V, V))]): (RDD[(Long, V)], Int, S) = {
    var values = init
    var s = first
    var r = 0
    var stop = false
    while (r < maxRounds && !stop) {
      r += 1
      val next = step(values, s)
      tally match {
        case Some(t) =>
          s = checkpoints.cut(next)(t.zero)((a, kv) => t.plus(a, t.of(kv._2._1, kv._2._2)), t.plus)
          stop = t.stop(s)
        case None if r % CheckpointEvery == 0 && r < maxRounds =>
          checkpoints.cut(next)(0L)((a, _) => a + 1L, _ + _)
        case None =>
      }
      values = next.mapValues(_._1)
    }
    (values, r, s)
  }

  /** Hands `frame` (built from this loop's values) to the caller with the
    * handles its `release()` frees.
    */
  def result(frame: DataFrame, rounds: Int, last: Double): Result =
    new Result(frame, rounds, last, Seq(bySrc, byDst).filter(_ != null), checkpoints)
}

object GraphLoop {

  /** Rounds without a tally are cut (materialized, lineage truncated) on
    * every this-many-th round but the last.
    */
  val CheckpointEvery = 5

  /** A per-round scalar: `of(new, old)` per node, folded with `plus` from
    * `zero`; the loop stops once `stop` holds.
    */
  final case class Tally[V, S](zero: S, of: (V, V) => S, plus: (S, S) => S,
                               stop: S => Boolean)

  /** @param frame the node values, lineage over the last checkpoint
    * @param rounds rounds actually run
    * @param last the last round's scalar (NaN when the caller had none)
    */
  final class Result private[scale] (
      val frame: DataFrame, val rounds: Int, val last: Double, indexes: Seq[RDD[_]], held: Held) {
    /** Frees the edge indexes and the last checkpoint. Call after consuming
      * `frame`; it must not be re-executed afterwards.
      */
    def release(): Unit = { indexes.foreach(_.unpersist(blocking = false)); held.release() }
    // PageRank's names for the same three facts
    def ranks: DataFrame = frame
    def iterations: Int = rounds
    def delta: Double = last
  }
}
