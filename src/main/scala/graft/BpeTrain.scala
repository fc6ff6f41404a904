package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic main: train BPE merges on a testdata dir and print the merge
  * table as Scala source — this is how [[graft.llm.Bpe.CanonicalMerges]]
  * (the frozen table the q55 oracle replays) was generated.
  * `runMain graft.BpeTrain /root/testdata/sf0.001 16`
  *
  * `runMain graft.BpeTrain bench` instead runs the JOB-COUNT datapoint for
  * [[graft.llm.Bpe.trainBatched]]: on a 64-way non-interacting corpus
  * (single-letter words, distinct frequencies — batched == sequential
  * bit-for-bit there, spec-pinned), trains 48 merges both ways under job
  * groups and reports Spark job counts. Sequential launches one counting
  * job per merge — at a 32k-merge production vocabulary that is 32k
  * sequential driver round-trips, the bottleneck batching removes.
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession()
    args.headOption match {
      case Some("bench") => bench(spark)
      case _ =>
        val Array(sfDir, n) = args.take(2)
        val merges = graft.llm.Bpe.train(Tables.documents(spark, sfDir), n.toInt)
        println("  val CanonicalMerges: Seq[(String, String)] = Seq(")
        println(merges.map { case (l, r) => s"""    ("$l", "$r")""" }.mkString(",\n"))
        println("  )")
    }
    spark.stop()
  }

  private def bench(spark: SparkSession): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val chars = (33 to 126).map(_.toChar).take(64)
    val text = chars.zipWithIndex
      .flatMap { case (c, i) => Seq.fill(6500 - 100 * i)(c.toString) }
      .mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val nMerges = 48
    val batch = 8

    def measure(group: String)(f: => Seq[(String, String)])
        : (Double, Int, Seq[(String, String)]) = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val out = f
      val sec = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      Thread.sleep(1000) // listener bus drains async before the job count
      (sec, sc.statusTracker.getJobIdsForGroup(group).length, out)
    }

    val (tSeq, jobsSeq, mSeq) = measure("bpe-seq")(
      graft.llm.Bpe.train(docs, nMerges))
    val (tBat, jobsBat, mBat) = measure("bpe-batched")(
      graft.llm.Bpe.trainBatched(docs, nMerges, batch))

    println(
      f"""{"bench":"bpe","n_merges":$nMerges,"batch":$batch,""" +
        f""""seq_jobs":$jobsSeq,"batched_jobs":$jobsBat,""" +
        f""""seq_sec":$tSeq%.2f,"batched_sec":$tBat%.2f}""")
    assert(mSeq == mBat, "batched must equal sequential on the non-interacting corpus")
    assert(jobsBat * 3 < jobsSeq,
      s"batching must cut counting jobs ~batch-fold: $jobsBat vs $jobsSeq")
  }
}
