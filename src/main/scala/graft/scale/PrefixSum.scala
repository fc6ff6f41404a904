package graft.scale

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global running aggregates WITHOUT a single-partition window.
  *
  * `sum(x) OVER (ORDER BY key)` is the textbook way to express "cumulative
  * total over the whole dataset in a given order" — and it collapses to ONE
  * partition at scale, because a global ORDER BY window has no partition
  * key. This is the distributed prefix-sum alternative: rows hash into 256
  * buckets by the first two hex chars of their (hex string) order key —
  * uniform when the key is a hash, which is exactly the deterministic
  * pseudo-random-order use case — per-(group, bucket) totals come back to
  * the driver (a bounded AGGREGATE, |groups| x 256 tiny rows, not data),
  * bucket offsets prefix-sum locally, and the within-bucket running sum is
  * a fully partitioned window. Ordering by (bucket, key) equals ordering by
  * key because the bucket IS the key's prefix.
  *
  * Used by the data-mixing queries (q48 token-budget sampling, q49
  * per-language quotas); the driver-side state is |groups| x 256 rows, so
  * group cardinality should be "dimension-like" (languages, sources,
  * domains-after-bucketing), not "row-like".
  */
object PrefixSum {

  /** Adds `cum` — the running sum of `valueCol` inclusive of the current
    * row, over (hkey, doc_id) order within each value of `groupCol`.
    *
    * Execution contract, stated plainly: this is a TWO-PASS algorithm — the
    * bucket totals are folded in one map-only job at CALL time (pass 1)
    * and the returned frame re-reads the input for the window (pass 2),
    * looking each row's bucket offset up in a literal map: O(groups +
    * buckets) comparisons per row, no join. Persist the
    * input first if producing it is expensive. Because the offsets are a
    * call-time snapshot, the returned DataFrame assumes an IMMUTABLE input:
    * re-executing it after the source changes would combine fresh
    * within-bucket sums with stale offsets.
    *
    * @param df       input with columns: `hkey` (hex string order key),
    *                 `doc_id` (unique tiebreak), `groupCol` (string),
    *                 `valueCol` (numeric)
    * @param groupCol string grouping column, NON-NULL (use a constant
    *                 literal column for one global ordering; filter or
    *                 coalesce nulls first)
    * @param valueCol integral column to accumulate (long-cast internally;
    *                 a null adds nothing)
    */
  def runningSum(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // a row with a null group or bucket has no offset and is dropped
    val bucketed = df.withColumn("bucket", substring(col("hkey"), 1, 2))
      .filter(col(groupCol).isNotNull && col("bucket").isNotNull)
    // pass 1: per-(group, bucket) totals folded inside the scan's one
    // map-only stage; each partition sends back its bounded map
    val totals = mutable.HashMap.empty[(String, String), Long]
    bucketed.select(col(groupCol), col("bucket"), col(valueCol).cast("long"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val m = mutable.HashMap.empty[(String, String), Long]
        rows.foreach { r =>
          val k = (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
          m(k) = m.getOrElse(k, 0L) + (if (r.isNullAt(2)) 0L else r.getLong(2))
        }
        Iterator.single(m)
      }
      .collect()
      .foreach(_.foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0L) + v })
    val offsets: Map[String, Map[String, Long]] =
      totals.toSeq.groupBy(_._1._1).map { case (g, buckets) =>
        var acc = 0L
        g -> buckets.sortBy(_._1._2).map { case ((_, b), total) =>
          val o = b -> acc
          acc += total
          o
        }.toMap
      }
    val w = Window.partitionBy(col(groupCol), col("bucket"))
      .orderBy(col("hkey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pass 2: the offsets ride in the plan as a literal map, so the window
    // needs no local scan, broadcast exchange or join
    bucketed.select(col(groupCol) +: df.columns.filter(_ != groupCol).map(col).toIndexedSeq :+
      (element_at(element_at(typedLit(offsets), col(groupCol)), col("bucket")) +
        sum(col(valueCol)).over(w)).cast("long").as("cum"): _*)
  }
}
