package graft

import graft.queries.FixtureClock
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Benchmark harness: `runMain graft.Bench [query ...]` times the named
  * SparkEntry queries (default: all) at SPARK_GRAFT_SF_DIR and says where
  * each one's time went.
  *
  * One warm-up pass (untimed) amortizes session/JIT/parquet-footer warm-up
  * so per-query timings are attributable; its Janino compiles are each
  * query's `first_compiles`. Each timed pass then runs every query once,
  * ending in `.count()`. Every run is under its query's job group
  * ([[grouped]]), and one listener ([[Census]]) attributes jobs, stages,
  * tasks, shuffle and spill to it. The JSON line is printed to stdout AND written to
  * bench_out.json so the driver can parse it out of sbt log noise.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  // FIVE passes, reported as the per-query MEDIAN (sandbox noise was
  // measured at a ±10-25% band run-to-run — the median keeps slow
  // environmental outliers from reading as code regressions) plus the
  // interquartile range, a noise-floor stat a single outlier can't
  // dominate the way max-min spread could.
  val Passes = 5

  /** Spark-side work attributed to one job group: completed stages and
    * their tasks, summed executor run time, shuffle and spill bytes.
    * Written only by the listener bus thread and read after a drain.
    */
  final class Tally {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
  }

  /** One successful run: wall and fixture seconds, the Janino compiles and
    * compile ms it paid (deltas of Spark's JVM-global codegen metrics: a
    * class Spark's codegen cache still holds costs nothing), and its
    * query's tally once the pass has drained.
    */
  final case class Run(wall: Double, fixture: Double, compiles: Long, compileMs: Double,
                       tally: Tally = new Tally)

  /** Everything the JSON is assembled from. `passes` holds one map per
    * timed pass; a run that throws records no sample (its wall
    * timed the exception path, not the query) and its query is `failed`.
    */
  final case class Samples(names: Seq[String], passes: Seq[Map[String, Run]],
                           firstCompiles: Map[String, Long],
                           canaries: Seq[Double], failed: Set[String], unattributed: Long)

  /** Attributes every job, and the stages it lists, to the group
    * [[grouped]] ran it under; a job without one is counted as
    * unattributed. The listener bus is one FIFO queue, so once [[take]]'s
    * marker job has ended, every event before it has been delivered: one
    * drain per pass, no per-query wait.
    */
  final class Census(sc: SparkContext) extends SparkListener {
    private val Marker = "bench/drain"
    private val tallies = new ConcurrentHashMap[String, Tally]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private var markerJob = -1
    @volatile private var drained = new CountDownLatch(0)
    @volatile var unattributed = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .flatMap(_.split(",").find(_.startsWith(Tag)).map(_.stripPrefix(Tag))) match {
        case Some(Marker) => markerJob = e.jobId
        case Some(g) =>
          tallies.computeIfAbsent(g, _ => new Tally).jobs += 1
          e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
        case None => unattributed += 1
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) drained.countDown()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val t = tallies.computeIfAbsent(g, _ => new Tally)
        t.stages += 1
        t.tasks += e.stageInfo.numTasks
        Option(e.stageInfo.taskMetrics).foreach { m =>
          t.taskMs += m.executorRunTime
          t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          t.spillB += m.diskBytesSpilled
        }
      }

    /** Drains the bus and returns the tallies since the last take, by group. */
    def take(): Map[String, Tally] = {
      val latch = new CountDownLatch(1)
      drained = latch
      grouped(sc, Marker)(sc.parallelize(Seq(1), 1).count())
      if (!latch.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not drain past the marker job")
      val out = tallies.asScala.toMap
      tallies.clear()
      stageGroup.clear()
      out
    }
  }

  private val Tag = "graft-bench:"

  /** Runs `body`'s jobs under job group `group` and a job tag naming it.
    * [[Census]] reads the tag: a streaming query's micro-batch thread
    * replaces the job group it inherits with its own, but keeps the tags.
    */
  def grouped[A](sc: SparkContext, group: String)(body: => A): A = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    sc.addJobTag(Tag + group)
    try body finally { sc.clearJobGroup(); sc.removeJobTag(Tag + group) }
  }

  /** Runs the warm-up and the timed passes over `queries`, sampling
    * `canary` once before each pass.
    */
  def measure(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
              canary: () => Double): Samples = {
    val sc = spark.sparkContext
    val census = new Census(sc)
    sc.addSparkListener(census)
    val failed = scala.collection.mutable.SortedSet.empty[String]
    def run(name: String, what: String)(body: => Unit): Option[Run] = {
      FixtureClock.drain() // clear any prior accrual
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ns0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try {
        grouped(sc, name)(body)
        Some(Run((System.nanoTime() - t0) / 1e9, FixtureClock.drain(),
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          (CodeGenerator.compileTime - ns0) / 1e6))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name $what failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed += name
        None
      }
    }
    def canaryRun(): Double = grouped(sc, "bench/canary")(canary())
    try {
      // Warm-up: the full suite once untimed (JIT, parquet footers,
      // broadcast thread pools).
      val first = queries.flatMap { case (n, q) =>
        run(n, "warm-up")(q(spark, sfDir).count()).map(n -> _.compiles)
      }.toMap
      System.err.println(s"[bench] warm-up: ${first.values.sum} compiles")
      canaryRun() // untimed warm-up (JIT parity with the query warm-up pass)
      census.take()
      val canaries = Seq.newBuilder[Double]
      val passes = (1 to Passes).map { p =>
        canaries += canaryRun()
        val runs = queries.flatMap { case (n, q) =>
          run(n, "timed")(q(spark, sfDir).count()).map(n -> _)
        }
        val tallies = census.take()
        val pass = runs.map { case (n, r) =>
          n -> r.copy(tally = tallies.getOrElse(n, new Tally))
        }.toMap
        System.err.println(f"[bench] pass $p: ${pass.values.map(_.wall).sum}%.1f s, " +
          s"${pass.values.map(_.compiles).sum} compiles, " +
          f"${pass.values.map(_.compileMs).sum}%.0f compile ms")
        pass
      }
      Samples(queries.map(_._1), passes, first, canaries.result(), failed.toSet,
        census.unattributed)
    } finally sc.removeSparkListener(census)
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  // IQR over 5 sorted samples: s(3) - s(1) (the middle three's envelope)
  def iqr(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size - 1 - s.size / 4) - s(s.size / 4)
  }

  /** The bench JSON line. Per-query counters come from the query's
    * median-wall pass, the same run `queries` reports.
    */
  def json(s: Samples, sfDir: String): String = {
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def f3(x: Double): String = f"$x%.3f"
    // medians over the successful runs; a query with none has no timing
    val ok = s.names.map(n => n -> s.passes.flatMap(_.get(n))).filter(_._2.nonEmpty)
    val mid = ok.map { case (n, rs) => n -> rs.sortBy(_.wall).apply(rs.size / 2) }
    val iqrs = ok.map { case (n, rs) => n -> iqr(rs.map(_.wall)) }
    // fixture/query split: "queries" stays the WALL median (cross-round
    // comparable); fixture_sec/query_sec are its decomposition, emitted
    // only for queries that build fixtures. query_sec is the median of the
    // PER-PASS difference wall−fixture — taking median(wall)−median(fixture)
    // could pair components from different passes and need not correspond
    // to any actual run.
    val fixMed = ok.map { case (n, rs) => n -> median(rs.map(_.fixture)) }.filter(_._2 > 0.005)
    val qonly = fixMed.map { case (n, _) =>
      n -> math.max(0.0, median(ok.toMap.apply(n).map(r => r.wall - r.fixture)))
    }
    def counter(f: Run => Any): String = obj(mid.map { case (n, r) => n -> f(r) })
    val total = mid.map(_._2.wall).sum
    val canMedV = median(s.canaries)
    val canIqrV = iqr(s.canaries)
    // noisy flag (r11 verdict #8, tightened per r14 verdict #1): the r14
    // committed run had canary IQR 8.7% and ELEVEN queries above 50%
    // relative IQR yet read noisy:false under the old 15% canary-only
    // rule — useless as a regression baseline. Now trips when EITHER
    // (a) the canary's IQR exceeds 5% of its median, or (b) more than two
    // queries (of >=0.2 s median, where relative IQR is measurable) show
    // IQR above 50% of their median. A noisy:true baseline should be
    // re-run on a quieter session before anchoring cross-round deltas.
    val relNoisyCount = mid.count { case (n, r) =>
      r.wall >= 0.2 && iqrs.toMap.apply(n) > 0.5 * r.wall
    }
    val noisy = canIqrV > 0.05 * canMedV || relNoisyCount > 2
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${obj(mid.map { case (n, r) => n -> r.wall })},""" +
      s""""runs":$Passes,"iqr":${obj(iqrs.map { case (n, v) => n -> f3(v) })},""" +
      s""""fixture_total_sec":${f3(fixMed.map(_._2).sum)},""" +
      s""""fixture_sec":${obj(fixMed.map { case (n, v) => n -> f3(v) })},""" +
      s""""query_sec":${obj(qonly.map { case (n, v) => n -> f3(v) })},""" +
      s""""canary_sec":${f3(canMedV)},"canary_iqr":${f3(canIqrV)},"noisy":$noisy,""" +
      s""""rel_noisy_queries":$relNoisyCount,""" +
      s""""failed":${s.failed.toSeq.sorted.map(n => s""""$n"""").mkString("[", ",", "]")},""" +
      s""""jobs":${counter(_.tally.jobs)},"stages":${counter(_.tally.stages)},""" +
      s""""tasks":${counter(_.tally.tasks)},"task_s":${counter(r => f3(r.tally.taskMs / 1e3))},""" +
      s""""shuffle_read_mb":${counter(r => f3(r.tally.shuffleReadB / 1e6))},""" +
      s""""shuffle_write_mb":${counter(r => f3(r.tally.shuffleWriteB / 1e6))},""" +
      s""""spill_mb":${counter(r => f3(r.tally.spillB / 1e6))},""" +
      s""""compiles":${counter(_.compiles)},"compile_ms":${counter(r => f"${r.compileMs}%.1f")},""" +
      s""""first_compiles":${obj(s.firstCompiles.toSeq.sortBy(_._1))},""" +
      s""""unattributed":${s.unattributed},"sf":"$sfDir"}"""
  }

  // Environment canary: a fixed synthetic workload that touches NO graft
  // code and NO storage — 200M-row codegen'd hash reduction plus a 20M-row
  // 1000-key shuffle. Its cost can only move when the SANDBOX moves
  // (CPU contention, JIT, shuffle-spill disk), so cross-round bench
  // ratios divide by the canary median to cancel ambient drift (the r10
  // verdict measured a ±15-25% band that otherwise swamps real effects).
  // Sampled once per timed pass so it sees the same environment window
  // the queries do.
  private def canaryOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val cpus = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    // % bounds the addends so the 200M-term sum can't overflow ANSI long
    spark.range(0L, 200000000L, 1, cpus)
      .agg(sum(xxhash64(col("id")) % 1000000)).collect()
    spark.range(0L, 20000000L, 1, cpus)
      .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)))
      .agg(sum("count(1)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  // Median-of-3 per pass: the gate compares the canary's IQR across
  // passes, and with single samples that IQR conflates CROSS-PASS drift
  // (what the flag exists to catch — the queries of a drifted pass move
  // with it) with the canary's own within-pass flutter (which the
  // per-query medians already absorb). Three samples per window keep the
  // drift signal and cut the estimator variance.
  private def canary(spark: SparkSession): Double = median(Seq.fill(3)(canaryOnce(spark)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession()
    val json = Bench.json(
      measure(spark, sfDir, names.map(n => n -> SparkEntry.queries(n)), () => canary(spark)), sfDir)
    Files.writeString(Paths.get("bench_out.json"), json)
    // stop() BEFORE printing so the JSON is the final stdout line (no
    // shutdown log lines after it) — the driver parses the last line.
    spark.stop()
    println(json)
  }
}
