package graft

/** Plan-audit tool: `runMain graft.Explain q34_ann_ivf [sfDir]` prints the
  * formatted physical plan of any SparkEntry query plus red-flag checks
  * (cartesian products, missing pushdown) and its exchanges: the hash
  * exchanges in its own plan, and every exchange `below` the checkpoints
  * it reads. Used per-round to keep plans scale-shaped, not just correct.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // a lone sfDir arg must not be read as an (empty) query list
    val qArgs = args.filterNot(_.startsWith("/")).toSeq
    val names = if (qArgs.nonEmpty) qArgs else SparkEntry.queries.keys.toSeq.sorted
    val dir = args.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      println(s"\n===== $name =====")
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // tree + per-operator details: the detail section is where
      // filter/join expressions live, which is what plan claims are
      // checked against
      println(formatted)
      val flags = Seq(
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "SortMergeJoin"    -> plan.contains("SortMergeJoin"),
        "full-scan ReadSchema" -> false
      ).collect { case (f, true) => f }
      // a frame checkpointed by graft.scale.Held keeps the plan it cut, its
      // final adaptive plan: every exchange (hash, range, round-robin or
      // broadcast) in it ran below the one scan the query's own plan shows;
      // a ReusedExchange ran no shuffle of its own and is not counted
      val below = graft.scale.Held.cutPlans(df).map(_.linesIterator
        .count(l => l.contains("Exchange ") && !l.contains("ReusedExchange"))).sum
      println(s"[flags] ${if (flags.isEmpty) "none" else flags.mkString(", ")}; " +
        s"exchanges=${plan.linesIterator.count(_.contains("Exchange hashpartitioning"))} below=$below")
    }
    spark.stop()
  }
}
