package graft.scale

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
    * bucket-offset aggregate collects at CALL time (pass 1) and the
    * returned frame re-reads the input for the window (pass 2). Persist the
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
    * @param valueCol numeric column to accumulate (long-cast internally)
    */
  def runningSum(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bucketed = df.withColumn("bucket", substring(col("hkey"), 1, 2))
    val offsets = bucketed.groupBy(col(groupCol), col("bucket"))
      .agg(sum(col(valueCol)).cast("long").as("btotal"))
      .collect()
      .groupBy(_.getString(0)).iterator.flatMap { case (g, rows) =>
        var acc = 0L
        rows.sortBy(_.getString(1)).map { r =>
          val o = (g, r.getString(1), acc)
          acc += r.getLong(2)
          o
        }
      }.toSeq.toDF(groupCol, "bucket", "offset")
    val w = Window.partitionBy(col(groupCol), col("bucket"))
      .orderBy(col("hkey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), Seq(groupCol, "bucket"))
      .withColumn("cum", (col("offset") + sum(col(valueCol)).over(w)).cast("long"))
      .drop("bucket", "offset")
  }
}
