package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-query profiling harness (optimization-guide §1: measure first).
  *
  * `runMain graft.Profile q114_explore_bestfirst q76_fuzzy_dedup [/sfDir]`
  * runs each named query (default: all) once untimed for warm-up, then
  * `GRAFT_PROFILE_RUNS` (default 3) timed runs, and prints per query:
  * median wall seconds, Spark job count, summed task time, shuffle
  * read/write bytes, spill, and the Janino compiles and compile
  * milliseconds the run paid (deltas of Spark's codegen metrics: a class
  * Spark's codegen cache still holds costs nothing) — the numbers that
  * separate "driver-latency bound" (many jobs, little task time) from
  * "compute bound" (task time ≈ wall × cores) from "shuffle bound" from
  * "compile bound". Master/core count follow the bench
  * contract env vars so profiles are comparable to bench runs.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val qArgs = args.filterNot(_.startsWith("/")).toSeq
    val names = if (qArgs.nonEmpty) qArgs else SparkEntry.queries.keys.toSeq.sorted
    val dir = args.find(_.startsWith("/")).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val runs = sys.env.getOrElse("GRAFT_PROFILE_RUNS", "3").toInt
    val spark = SparkEntry.localSession()

    // listener tallies reset per timed run; volatile not needed — the bus
    // drains before we read (waitUntilEmpty via listener queue poll below)
    object L extends SparkListener {
      var jobs = 0
      var stages = 0
      var tasks = 0
      var taskTimeMs = 0L
      var shufReadB = 0L
      var shufWriteB = 0L
      var spillB = 0L
      var inputB = 0L
      // codegen counters are JVM-global; the run reads their deltas
      private var compiles0 = 0L
      private var compileNs0 = 0L
      private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0
        shufReadB = 0; shufWriteB = 0; spillB = 0; inputB = 0
        compiles0 = compiles; compileNs0 = CodeGenerator.compileTime }
      /** This run's tallies as the table's counter columns. */
      def columns: String =
        f"$jobs%5d $stages%6d $tasks%6d ${taskTimeMs / 1e3}%8.2f " +
          f"${shufReadB / 1e6}%9.2f ${shufWriteB / 1e6}%9.2f ${spillB / 1e6}%9.2f ${inputB / 1e6}%8.2f " +
          f"${compiles - compiles0}%8d ${(CodeGenerator.compileTime - compileNs0) / 1e6}%8.1f"
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        if (sys.env.contains("GRAFT_STAGE_DEBUG")) {
          val i = s.stageInfo
          val dur = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b)
            .getOrElse(-1L)
          val rt = Option(i.taskMetrics).map(_.executorRunTime).getOrElse(-1L)
          println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%3d wall=${dur}%5d ms " +
            f"run=${rt}%5d ms  ${i.name.linesIterator.next().take(110)}")
        }
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          taskTimeMs += m.executorRunTime
          shufReadB += m.shuffleReadMetrics.totalBytesRead
          shufWriteB += m.shuffleWriteMetrics.bytesWritten
          spillB += m.diskBytesSpilled
          inputB += m.inputMetrics.bytesRead
        }
        tasks += s.stageInfo.numTasks
      }
    }
    spark.sparkContext.addSparkListener(L)

    // opt-in micro-batch breakdown for the streaming queries: per-batch
    // durationMs (addBatch / getBatch / commitOffsets / ...) tells fixed
    // startup apart from per-batch work
    if (sys.env.contains("GRAFT_STREAM_DEBUG")) {
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          println(s"[stream] started ${e.name} at ${System.nanoTime() / 1000000}")
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          println(s"[stream] ${e.progress.name} batch=${e.progress.batchId} " +
            s"rows=${e.progress.numInputRows} durationMs=${e.progress.durationMs}")
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          println(s"[stream] terminated at ${System.nanoTime() / 1000000}")
      })
    }

    // warm-up; its compiles are the query's first-run codegen cost
    val firstCompiles = names.map { n =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try SparkEntry.queries(n)(spark, dir).count()
      catch { case e: Throwable => println(s"WARMUP FAIL $n: ${e.getMessage}") }
      n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }.toMap
    println(f"${"query"}%-32s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s " +
      f"${"task_s"}%8s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"spill_MB"}%9s ${"in_MB"}%8s " +
      f"${"compiles"}%8s ${"cmp_ms"}%8s")
    // listener bus is async — poll until the tallies stop moving (the
    // JobCensus settle discipline; listenerBus itself is private[spark])
    def settle(): Unit = {
      var last = (L.jobs, L.stages, L.tasks)
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = (L.jobs, L.stages, L.tasks)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    }
    if (sys.env.contains("GRAFT_PLAN_DEBUG")) names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      df.count()
      println(s"===== $n executed plan =====")
      println(df.queryExecution.executedPlan.toString)
    }
    names.foreach { n =>
      // failed timed runs print a FAIL line and are excluded from the
      // median (ADVICE r21: a swallowed failure used to report a
      // plausible-looking wall with no error indication). Each successful
      // run keeps its own counters and fixture time, so the printed row is
      // one run: the median-wall one.
      val ok = (1 to runs).flatMap { _ =>
        graft.queries.FixtureClock.drain()
        settle()
        L.reset()
        val t0 = System.nanoTime()
        val succeeded =
          try { SparkEntry.queries(n)(spark, dir).count(); true }
          catch { case e: Throwable =>
            println(s"FAIL $n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
            false
          }
        val w = (System.nanoTime() - t0) / 1e9
        val fix = graft.queries.FixtureClock.drain()
        settle()
        if (succeeded) Some((w, L.columns, fix)) else None
      }
      if (ok.isEmpty) println(f"$n%-32s ${"ALL-RUNS-FAILED"}%8s")
      else {
        val (wall, columns, fix) = ok.sortBy(_._1).apply(ok.size / 2)
        println(f"$n%-32s $wall%8.3f $columns  first_compiles=${firstCompiles(n)}" +
          (if (fix > 0.005) f"  fixture=$fix%.3f" else ""))
      }
    }
    spark.stop()
  }
}
