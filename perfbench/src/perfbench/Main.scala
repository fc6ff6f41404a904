package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

/** What a workload hands the harness after set-up. Every method but
  * [[run]] is untimed.
  */
trait Instance {
  /** Items one repetition processes (pages, docs or rollouts). */
  def items: Long
  /** Input properties recorded with the run. */
  def inputs: Map[String, Any]
  /** Isolation before a repetition: fresh dirs, cleared engine caches. */
  def prepare(rep: Int, traced: Boolean): Unit
  /** The user job, timed as one unit. */
  def run(rep: Int): Unit
  /** Output checks of the repetition just run; empty when all hold. */
  def check(rep: Int): Seq[String]
  /** Layer readings of the repetition just run (after the bus drained). */
  def layers(rep: Int, traced: Boolean, wallS: Double, bucket: Bucket): Map[String, Double]
  /** What an item is, for the report's unit of `items_per_s`. */
  def itemName: String
  /** Exact counts of the repetition just run, for the report. */
  def census: Map[String, Long] = Map.empty
  /** Workload-only end-to-end readings for the report: name -> (value, unit). */
  def report: Map[String, (Any, String)] = Map.empty
  def close(): Unit
}

trait Workload {
  def name: String
  /** Warm-up repetitions to run at least, however fast they go; see
    * [[Main.WarmupSeconds]].
    */
  def minWarmups: Int = 2
  def setup(spark: SparkSession, seed: Long, dir: Path): Instance
}

/** Runs one workload for a fixed measuring window and prints the result as
  * the last line of standard output.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Set-up (session start, input generation, servers) runs
  * [[SetupRounds]] times; `setup_s` is their median. Checked warm-up
  * repetitions follow for [[WarmupSeconds]], then repetitions run back to
  * back until the window closes. A repetition that throws or fails a check is counted in `failed`
  * and contributes no timing. With `--trace 1`, traced and untraced
  * repetitions alternate: the traced ones give the per-layer metrics, the
  * pair gives the tracing overhead.
  */
object Main {

  val SetupRounds = 7
  /** Untimed, checked repetitions run until this much time has passed, and
    * at least the workload's [[Workload.minWarmups]]: the JIT keeps gaining
    * for ten to fifteen seconds of any workload. The JIT gains per
    * repetition run, not per second, so on a host slowed by its neighbours
    * a time-only warm-up would time a less compiled engine; and a workload
    * whose first repetition alone outlasts the warm-up would otherwise time
    * its still-warming second one in some runs and not in others.
    */
  val WarmupSeconds = 12.0
  val MinReps = 2
  val MinRepsPerMode = 2

  val workloads: Seq[Workload] =
    Seq(Crawl.Cold, CorpusBuild, BrowserRollout)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.find(_.name == args("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${args("workload")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val runDir = work.resolve(s"${wl.name}-s$seed-t${if (traced) 1 else 0}")
    deleteTree(runDir)
    Files.createDirectories(runDir)
    val nproc = Runtime.getRuntime.availableProcessors()

    // ---- set-up, several times; the last one is kept
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var census: Census = null
    var inst: Instance = null
    for (round <- 1 to SetupRounds) {
      if (inst != null) inst.close()
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(nproc, runDir.resolve("spark"))
      census = Census.attach(spark)
      inst = wl.setup(spark, seed, runDir.resolve(s"setup$round"))
      setupSecs += (System.nanoTime() - t0) / 1e9
    }
    val canary = mutable.ArrayBuffer.empty[Double]

    // ---- repetitions
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val untracedIps = mutable.ArrayBuffer.empty[Double]
    val tracedIps = mutable.ArrayBuffer.empty[Double]
    val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
    val repLog = mutable.ArrayBuffer.empty[Map[String, Any]]

    // persisted RDDs held before the first repetition; growth past it is left over
    val rddsBaseline = spark.sparkContext.getPersistentRDDs.size
    def repetition(rep: Int, traceThis: Boolean, timed: Boolean): Unit = {
      attempted += 1
      val ok = try {
        inst.prepare(rep, traceThis)
        Spans.rep = rep
        Spans.on = traceThis
        census.mark(s"rep$rep", drain = false)
        val t0us = Spans.nowUs()
        val t0 = System.nanoTime()
        Spans.driver("rep", s"rep $rep")(inst.run(rep))
        val wall = (System.nanoTime() - t0) / 1e9
        val t1us = Spans.nowUs()
        census.mark("idle", drain = true)
        Spans.on = false
        val bad = inst.check(rep)
        if (bad.nonEmpty) {
          failures ++= bad.take(5).map(b => s"rep $rep: $b")
          false
        } else {
          val ips = inst.items / wall
          val bucket = census.bucket(s"rep$rep")
          val layers =
            if (traceThis)
              Layers.derive(SparkLayers.of(bucket, t0us, t1us, nproc,
                spark.sparkContext.getPersistentRDDs.size - rddsBaseline) ++
                inst.layers(rep, traced = true, wall, bucket))
            else Map.empty[String, Double]
          repLog += Map("rep" -> rep, "timed" -> timed, "traced" -> traceThis, "wall_s" -> wall,
            "items_per_s" -> ips, "jobs" -> bucket.jobs.size, "stages" -> bucket.stages.size,
            "tasks" -> bucket.tasks.size, "sql_actions" -> bucket.sqlActions.get) ++ inst.census
          if (timed) {
            if (traceThis) { tracedIps += ips; layerSamples += layers }
            else untracedIps += ips
          }
          true
        }
      } catch {
        case NonFatal(e) =>
          Spans.on = false
          failures += s"rep $rep threw: ${e.toString.take(400)}"
          System.err.println(s"[perfbench] rep $rep threw")
          e.printStackTrace()
          false
      }
      if (!ok) failed += 1
    }

    val warmStart = System.nanoTime()
    var w = 0
    while (w < wl.minWarmups || (System.nanoTime() - warmStart) / 1e9 < WarmupSeconds) {
      w += 1
      repetition(-w, traceThis = false, timed = false)
    }
    Canary.sample(spark, nproc) // the canary's own warm-up
    canary += Canary.sample(spark, nproc)
    val startUs = Spans.nowUs()
    val start = System.nanoTime()
    var rep = 1
    def enough: Boolean =
      if (traced) tracedIps.size >= MinRepsPerMode && untracedIps.size >= MinRepsPerMode
      else untracedIps.size >= MinReps
    while ((System.nanoTime() - start) / 1e9 < seconds || (!enough && rep <= 4 * MinReps)) {
      repetition(rep, traceThis = traced && rep % 2 == 1, timed = true)
      rep += 1
    }
    canary += Canary.sample(spark, nproc)
    val heapMb = Heap.retainedMb()

    // ---- results
    val ips = untracedIps.toSeq
    val correct = failed == 0 && ips.nonEmpty && (!traced || tracedIps.nonEmpty)
    val itemsPerS = Stats.median(ips)
    val e2e = Map(
      "items_per_s" -> (itemsPerS, "1/s"),
      "setup_s" -> (Stats.median(setupSecs.toSeq), "s"),
      "heap_retained_mb" -> (heapMb, "MB"))

    val perLayer: Map[String, Double] = if (!traced) Map.empty else {
      val keys = layerSamples.flatMap(_.keys).distinct
      val med = keys.map(k => k -> Stats.median(layerSamples.flatMap(_.get(k)).toSeq)).toMap
      val workloadSpan = Span(Spans.nextId(), "workload", wl.name, startUs, Spans.nowUs(), 0L, 0)
      val spans = workloadSpan +: Spans.snapshot().map(s =>
        if (s.kind == "rep") s.copy(parent = workloadSpan.id) else s)
      val self = SelfTime.of(spans, census)
      val tIps = Stats.median(tracedIps.toSeq)
      val uIps = Stats.median(untracedIps.toSeq)
      val overhead = Map(
        "trace.items_per_s_traced" -> tIps,
        "trace.items_per_s_untraced" -> uIps,
        "trace.overhead_pct" -> (if (uIps > 0) 100.0 * (uIps - tIps) / uIps else 0.0),
        "env.canary_s" -> Stats.median(canary.toSeq))
      val perRep = self.map { case (k, v) => k -> v / math.max(1, tracedIps.size) }
      val all = med ++ perRep ++ overhead
      writeSpans(work.resolve(s"spans-${wl.name}-s$seed.jsonl"), spans)
      Layers.all.map { case (n, _) => n -> all.getOrElse(n, 0.0) }.toMap
    }

    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
      "env" -> Map("nproc" -> nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "canary_s" -> canary.toSeq, "canary_median_s" -> Stats.median(canary.toSeq)),
      "inputs" -> inst.inputs,
      "end_to_end" -> (Seq(
        "items_per_s" -> (itemsPerS, s"${inst.itemName}/s"),
        "items_per_s_q1" -> (Stats.quantile(ips, 0.25), s"${inst.itemName}/s"),
        "items_per_s_q3" -> (Stats.quantile(ips, 0.75), s"${inst.itemName}/s"),
        "timed_reps" -> (ips.size, "count"),
        "setup_s" -> (Stats.median(setupSecs.toSeq), "s"),
        "error_rate" -> (errorRate, "failed/attempted"),
        "heap_retained_mb" -> (heapMb, "MB")) ++ inst.report.toSeq.sortBy(_._1)).map {
        case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u)
      }.to(mutable.LinkedHashMap),
      "setup_s_samples" -> setupSecs.toSeq,
      "items_per_s_samples" -> ips,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "spans_dropped" -> Spans.dropped,
      "reps" -> repLog.toSeq)
    if (traced) report += "per_layer" -> perLayer

    inst.close()
    spark.stop()

    val reportLine = Json.render(report)
    Files.createDirectories(work)
    Files.write(work.resolve(s"report-${wl.name}-s$seed-t${if (traced) 1 else 0}.json"),
      reportLine.getBytes(StandardCharsets.UTF_8))
    println("perfbench-report " + reportLine)
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val metrics: Map[String, Any] =
      if (!traced) e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      else perLayer.map { case (k, v) => k -> Map("value" -> v, "unit" -> Layers.unit(k)) }
    val result = mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)
    println("PERFBENCH_RESULT " + Json.render(result))
    System.out.flush()
    deleteTree(runDir)
    sys.exit(if (correct) 0 else 1)
  }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val lines = spans.iterator.map { s =>
      Json.render(mutable.LinkedHashMap[String, Any]("id" -> s.id, "kind" -> s.kind,
        "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end, "parent" -> s.parent,
        "rep" -> s.rep, "task" -> s.task))
    }
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      } finally s.close()
    }

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        val files = s.iterator().asScala.filter(f => Files.isRegularFile(f)).toSeq
        (files.size.toLong, files.map(f => Files.size(f)).sum)
      } finally s.close()
    }
}

/** One Spark session per set-up round, sized to the host. */
object Session {
  def start(nproc: Int, dir: Path): SparkSession = {
    Files.createDirectories(dir)
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** A fixed Spark job that runs no engine code: it moves only when the host
  * does. Reported beside the workloads, never used to rescale them.
  */
object Canary {
  def sample(spark: SparkSession, nproc: Int): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 10000000L, 1, nproc).agg(sum(xxhash64(col("id")) % 1000000)).collect()
    spark.range(0L, 1000000L, 1, nproc).groupBy((col("id") % 1000).as("k")).agg(count(lit(1)))
      .agg(sum("count(1)")).collect()
    (System.nanoTime() - t0) / 1e9
  }
}

object Heap {
  /** Driver heap in use after full collections, in MiB. The pause between
    * collections lets Spark's ContextCleaner drop the blocks of RDDs the
    * first collection found unreachable, so the reading does not depend on
    * how far the cleaner had got.
    */
  def retainedMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(50)
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
