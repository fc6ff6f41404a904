package graft.scale

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB shapes the query pack relies on
  * (SURVEY §4 / prompt: "bucketing for co-located joins, salting for skew";
  * the salt is [[Salt]]).
  */
object Layout {

  /** `explode(gen)` next to column `keep`, written as `explode_outer` plus
    * an output-side null drop. The two are row-identical, but plain
    * `explode` lets InferFiltersFromGenerate add `size(gen) > 0`, which is
    * pushed into the scan filter and evaluates the whole generator a second
    * time per row (the q102/q53 disease); the output-side filter cannot
    * sink below the Generate because `name` does not exist there.
    * INVARIANT the row identity rests on: `gen` never emits null ELEMENTS,
    * so the only nulls are the empty/null-array placeholder rows the filter
    * drops. Don't use it for a generator that can emit null elements.
    */
  private[graft] def explodeNonNull(df: DataFrame, keep: String, gen: Column,
                                    name: String): DataFrame =
    df.select(col(keep), explode_outer(gen).as(name)).filter(col(name).isNotNull)

  /** Persist `df` bucketed+sorted on `keys` so future joins/aggregations on
    * those keys are SHUFFLE-FREE: both sides of a bucketed-bucketed
    * equi-join read co-located buckets and skip the Exchange entirely
    * (spec-asserted on the physical plan). This is the write-once answer to
    * "the fact table shuffles on every join" — at 100 TB the dominant cost.
    */
  def bucketize(df: DataFrame, table: String, numBuckets: Int, keys: String*): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a stale managed-table location (e.g. from a previous session) blocks
    // CREATE even after DROP on a fresh catalog — clear it
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(warehouse)) fs.delete(warehouse, true)
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Bucket-join two saved tables on their (shared) bucket keys. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   keys: Seq[String]): DataFrame =
    spark.table(left).join(spark.table(right), keys)

  /** Spread a CPU-DENSE transform chain over all cores when (and only
    * when) the upstream scan cannot: a table whose bytes fit inside ONE
    * scan split (`spark.sql.files.maxPartitionBytes`) reads as a single
    * task, and every gram/hash/probe map downstream of it serializes on
    * one core while the rest idle — the q76 one-task disease, at the scan
    * (r22; guide §2.5 "one huge unsplittable file: repartition immediately
    * after the read"). The check is byte-derived, not a core-count
    * constant: any input big enough to split (≥ one split of data — every
    * production table) returns `df` UNCHANGED, so at scale this is a
    * no-op and the exchange it adds locally costs only the narrow table's
    * few MB. Row-identical by construction (round-robin repartition; all
    * gated consumers aggregate with exact arithmetic downstream).
    */
  def spreadNarrowScan(df: DataFrame, tablePath: String): DataFrame = {
    val spark = df.sparkSession
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(tablePath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    if (bytes < maxSplit) df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }
}

/** Locality-preserving cogroup (reference IndexingLocalityImpl,
  * utils/locality/IndexingLocalityImpl.scala:28-100 — SURVEY §4 #6): join a
  * LARGE in-place left side with a right side by moving ONLY the right.
  * An index of left's keys → hosting partition is aggregated to the driver
  * (keys only, never values — the same bound as the reference's
  * treeAggregate map), broadcast as a custom Partitioner, the right side is
  * shuffled BY THAT MAP, and the two are `zipPartitions`-cogrouped. The
  * left side — the expensive one, e.g. fetched trajectories pinned where
  * their doc-cache entries live — never serializes, never moves.
  *
  * Use when left's KEY SET fits comfortably on the driver (frontier /
  * beacon-scale keys, not data). Right-only keys fall back to hash
  * placement so full cogroup semantics hold.
  */
object Locality {

  def cogroupKeepLeft[K: ClassTag, V: ClassTag, W: ClassTag](
      left: RDD[(K, V)], right: RDD[(K, W)]): RDD[(K, (Seq[V], Seq[W]))] = {
    val n = left.getNumPartitions
    val keyToPart: Map[K, Int] = left
      .mapPartitionsWithIndex((i, it) => it.map { case (k, _) => (k, i) },
        preservesPartitioning = true)
      .treeAggregate(Map.empty[K, Int])(_ + _, _ ++ _)
    val index = left.sparkContext.broadcast(keyToPart)
    val byLeftPlacement = new Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int =
        index.value.getOrElse(key.asInstanceOf[K], math.floorMod(key.hashCode, n))
    }
    left.zipPartitions(right.partitionBy(byLeftPlacement),
      preservesPartitioning = true) { (lit, rit) =>
      val ls = lit.toVector.groupBy(_._1)
      val rs = rit.toVector.groupBy(_._1)
      (ls.keySet ++ rs.keySet).iterator.map { k =>
        (k, (ls.getOrElse(k, Vector.empty).map(_._2),
          rs.getOrElse(k, Vector.empty).map(_._2)))
      }
    }
  }
}
