package graft

/** Plan-audit tool: `runMain graft.Explain q34_ann_ivf [sfDir]` prints the
  * formatted physical plan of any SparkEntry query plus red-flag checks
  * (cartesian products, missing pushdown). Used per-round to keep plans
  * scale-shaped, not just correct.
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
      // full output (tree + per-operator details) on demand — the detail
      // section is where filter/join expressions live, which is what plan
      // claims are checked against; default stays tree-only for skimming
      if (sys.env.contains("GRAFT_EXPLAIN_FULL")) println(formatted)
      else println(formatted.linesIterator.takeWhile(_.nonEmpty).mkString("\n"))
      val flags = Seq(
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "SortMergeJoin"    -> plan.contains("SortMergeJoin"),
        "full-scan ReadSchema" -> false
      ).collect { case (f, true) => f }
      println(s"[flags] ${if (flags.isEmpty) "none" else flags.mkString(", ")}; " +
        s"exchanges=${plan.linesIterator.count(_.contains("Exchange hashpartitioning"))}")
    }
    spark.stop()
  }
}
