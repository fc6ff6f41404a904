package graft.scale

import org.apache.spark.sql.DataFrame

/** General PageRank over an arbitrary edge list — the real operator behind
  * q62's closed-form gate (reference: the crawl-graph link-authority signal;
  * cf. tribbloid/spookystuff's explore lineage, which materializes exactly
  * the (parent uri, child uri) edges this consumes; Page et al. 1999).
  *
  * Semantics (the scaled convention, ranks sum to N):
  * `pr'(v) = (1 - d) + d * (Σ_{u→v} pr(u)/outdeg(u) + danglingMass / N)`
  * where `danglingMass = Σ pr(u)` over nodes with no out-edges — their rank
  * is redistributed uniformly instead of leaking (the standard fix; without
  * it total mass decays every iteration on any graph with sinks). Parallel
  * edges are kept as a multiset (a page linking twice contributes twice) —
  * the q62 convention. Edges with a null endpoint are dropped before
  * out-degrees are counted, so they leak no mass.
  *
  * Runs on [[GraphLoop]]: one setup job counts the nodes and the dangling
  * ones while it materializes the (pr, outdeg) vector and the src-keyed
  * edge index; each iteration is one push (one exchange). When the loop
  * needs per-iteration scalars (dangling mass or a convergence delta), both
  * ride the one fold that materializes the iteration — ONE Spark job
  * per iteration (census-pinned); the first iteration's dangling mass is
  * `nDangling · 1.0` by construction and needs no job at all. Without
  * scalars (no dangling nodes, tol = 0) iterations stay lineage, cut on the
  * loop's constant cadence.
  *
  * @param nodes distinct node ids, column `id` (castable to long)
  * @param edges directed links, columns `src`, `dst`; dst ids outside
  *              `nodes` receive contributions but don't re-emit (they are
  *              dropped from the rank vector — nodes defines the universe)
  * @param tol   L1 convergence threshold on Σ|pr' - pr|; 0 = run exactly
  *              `maxIter` iterations
  */
object PageRank {

  /** `ranks` is (id, pr); `delta` is the final Σ|pr' - pr|, NaN when
    * tol = 0 (never a stop criterion).
    */
  type Result = GraphLoop.Result

  def run(nodes: DataFrame, edges: DataFrame, damping: Double = 0.85,
          tol: Double = 0.0, maxIter: Int = 20): Result = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val spark = nodes.sparkSession
    import spark.implicits._
    val g = new GraphLoop(nodes, edges)
    val init = g.nodes((_, deg) => (1.0, deg))
    val (n, nDangling) = g.checkpoints.cut(init)((0L, 0L))(
      (a, kv) => (a._1 + 1L, if (kv._2._2 == 0) a._2 + 1L else a._2),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    require(n > 0, "pagerank needs a non-empty node set")
    val base = 1.0 - damping

    // (Σ|pr' - pr|, dangling mass); initial ranks are EXACTLY 1.0 each, so
    // the first iteration's mass is exact in any summation order
    val tally =
      if (nDangling == 0 && tol <= 0) None
      else Some(GraphLoop.Tally[(Double, Int), (Double, Double)]((0.0, 0.0),
        (nw, old) => (math.abs(nw._1 - old._1), if (nw._2 == 0) nw._1 else 0.0),
        (a, b) => (a._1 + b._1, a._2 + b._2),
        s => tol > 0 && s._1 <= tol))
    val (ranks, iters, last) = g.rounds(init, maxIter, tally, (Double.NaN, nDangling.toDouble)) {
      (pr, s) => g.push(pr, g.bySrc)(v => v._1 / v._2)(_ + _,
        (v, in) => (base + damping * (in.getOrElse(0.0) + s._2 / n), v._2))
    }
    g.result(ranks.map { case (id, (pr, _)) => (id, pr) }.toDF("id", "pr"), iters,
      if (tol > 0) last._1 else Double.NaN)
  }
}
