package graft.scale

import org.apache.spark.sql.DataFrame

/** HITS hubs and authorities on [[GraphLoop]] (the link-quality signal next
  * to [[PageRank]]).
  */
object Hits {

  /** HITS hubs & authorities (Kleinberg, JACM'99) —
    * `iters` full power iterations (auth step then hub step, each step
    * consuming the OTHER score's latest value) in EXACT long arithmetic:
    * hub₀ = 1, authₖ(v) = Σ_{u→v} hubₖ₋₁(u), hubₖ(u) = Σ_{u→v} authₖ(v),
    * parallel edges a multiset (each contributes — consistent with the
    * PageRank family). Deferring normalization to the caller keeps every
    * iteration integer-exact, so a replaying engine matches bit-for-bit
    * with no FP-order sensitivity — same oracle-design doctrine as the
    * canonical-state sketches.
    *
    * Scale shape: [[graft.scale.GraphLoop]] with the reversed index —
    * the auth step pushes hubs along src-keyed edges, the hub step pushes
    * authorities along dst-keyed ones; each half-step's one exchange is
    * the per-receiver sum. Scores are (id, auth, hub).
    */
  def hits(ids: DataFrame, edges: DataFrame, iters: Int): GraphLoop.Result = {
    require(iters >= 1, s"hits: iters >= 1, got $iters")
    val spark = ids.sparkSession
    import spark.implicits._
    val g = new GraphLoop(ids, edges, reversed = true)
    val (scores, _, _) = g.rounds(g.nodes((_, _) => (0L, 1L)), iters, None, 0L) { (ah, _) =>
      val auth = g.push(ah, g.bySrc)(_._2)(_ + _, (v, in) => (in.getOrElse(0L), v._2))
      g.push(auth.mapValues(_._1), g.byDst)(_._1)(_ + _, (v, in) => (v._1, in.getOrElse(0L)))
    }
    g.result(scores.map { case (id, (a, h)) => (id, a, h) }.toDF("id", "auth", "hub"),
      iters, Double.NaN)
  }
}
