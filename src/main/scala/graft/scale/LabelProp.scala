package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) on [[GraphLoop]]:
  * community detection over (id) / (src, dst) frames, with a fixed round
  * count or a convergence stop, plus the declarative one-round reference
  * the specs hold it to.
  */
object LabelProp {

  /** One synchronous label-propagation round: relabel every node with the
    * MODE of its in-neighbors' labels (count desc, label asc — fully
    * deterministic; no in-edges → keep). Output carries the OLD label as
    * `prev` so convergence loops can count changes without a second join.
    * The declarative reference that CorpusSpec holds [[labelPropagate]]
    * to.
    */
  private[graft] def lpRound(edges: DataFrame)(labels: DataFrame): DataFrame = {
    val counts = edges
      .join(labels.select(col("id").as("l_id"), col("lbl")).hint("shuffle_hash"),
        col("src") === col("l_id"))
      .groupBy(col("dst").as("c_id"), col("lbl").as("nl"))
      .agg(count(lit(1)).as("c"))
    val mode = counts
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c_id")).orderBy(col("c").desc, col("nl"))))
      .filter(col("rn") === 1)
      .select(col("c_id"), col("nl"))
    labels.join(mode.hint("shuffle_hash"), col("id") === col("c_id"), "left")
      .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"),
        col("lbl").as("prev"))
  }

  /** Label propagation over any (id) / (src, dst) frames — the spec
    * hand-verifies rounds on planted community graphs. `rounds` synchronous
    * rounds on [[graft.scale.GraphLoop]]: each node counts its in-neighbors'
    * labels into a per-receiver map and takes the mode (count desc, label
    * asc over any iteration order — [[lpRound]]'s rule; counts are exact
    * longs, so the result matches the declarative unroll by arithmetic,
    * and CorpusSpec pins the parity on random multigraphs). The frame is
    * (id, lbl).
    */
  def labelPropagate(ids: DataFrame, edges: DataFrame,
                     rounds: Int): GraphLoop.Result =
    labelLoop(ids, edges, rounds, None)

  /** [[labelPropagate]] with a CONVERGENCE STOP — run until a round changes
    * no label (or `maxRounds`). The changed count is the loop's per-round
    * tally, so each round launches ONE job (spec-pinned by a SparkListener
    * census) and holds O(1) storage. `rounds` is the first round whose
    * changed count hit zero, or `maxRounds`; `last` is that round's changed
    * count. Synchronous LPA can 2-cycle on bipartite-ish structures and
    * never converge — `maxRounds` bounds that honestly (callers read
    * `last > 0` as "stopped, not settled").
    */
  def labelPropagateConverge(ids: DataFrame, edges: DataFrame,
                             maxRounds: Int): GraphLoop.Result = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    labelLoop(ids, edges, maxRounds,
      Some(GraphLoop.Tally[Long, Long](0L, (nw, old) => if (nw != old) 1L else 0L,
        _ + _, _ == 0L)))
  }

  private def labelLoop(ids: DataFrame, edges: DataFrame, maxRounds: Int,
      tally: Option[GraphLoop.Tally[Long, Long]]): GraphLoop.Result = {
    type Counts = scala.collection.mutable.LongMap[Long]
    val spark = ids.sparkSession
    import spark.implicits._
    val g = new GraphLoop(ids, edges)
    val (labels, r, changed) = g.rounds(g.nodes((id, _) => id), maxRounds, tally, 0L) {
      (l, _) => g.push(l, g.bySrc)(lbl => { val m = new Counts(); m.update(lbl, 1L); m })(
        (a, b) => { b.foreach { case (k, c) => a.update(k, a.getOrElse(k, 0L) + c) }; a },
        (old, in) => in.fold(old) { m =>
          var bestL = Long.MaxValue
          var bestC = 0L
          m.foreach { case (k, c) =>
            if (c > bestC || (c == bestC && k < bestL)) { bestC = c; bestL = k }
          }
          bestL
        })
    }
    g.result(labels.toDF("id", "lbl"), r,
      if (tally.isDefined) changed.toDouble else Double.NaN)
  }
}
