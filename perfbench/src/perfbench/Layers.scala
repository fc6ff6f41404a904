package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The per-layer metrics every traced run reports, with their units. A
  * layer a workload bypasses reads 0; that zero is the guard reading.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "api.build_ms" -> "ms",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.sql_actions" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.shuffle_stages" -> "count",
    "spark.tasks" -> "count", "spark.task_busy_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.slot_util" -> "ratio", "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_wait_s" -> "s", "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio",
    "spark.persisted_rdds_left" -> "count",
    "exec.trace_executions" -> "count", "exec.rows_requested" -> "count",
    "exec.dedup_ratio" -> "ratio", "exec.rounds" -> "count", "exec.jobs_per_round" -> "ratio",
    "exec.shuffles_per_round" -> "ratio",
    "agent.pages_fetched" -> "count", "agent.http_requests" -> "count",
    "agent.requests_per_page" -> "ratio", "agent.bytes_served_mb" -> "MB",
    "agent.inflight_mean" -> "count", "agent.inflight_max" -> "count", "agent.errors" -> "count",
    "agent.wire_requests_per_rollout" -> "ratio", "agent.wire_cmd_ms_p50" -> "ms",
    "agent.wire_cmd_ms_p99" -> "ms", "agent.sessions_open_after" -> "count",
    "agent.rollouts" -> "count", "agent.rollout_p50_ms" -> "ms", "agent.rollout_p99_ms" -> "ms",
    "cache.hits" -> "count", "cache.writes" -> "count", "cache.hit_ratio" -> "ratio",
    "cache.files" -> "count", "cache.bytes_mb" -> "MB", "cache.store_amplification" -> "ratio",
    "cache.probe_us_p50" -> "us", "cache.probe_us_p99" -> "us",
    "doc.parse_s" -> "s", "doc.select_s" -> "s", "doc.parsed_mb" -> "MB",
    "doc.parse_mb_per_s" -> "MB/s", "doc.parses" -> "count",
    "corpus.exact_dedup_s" -> "s", "corpus.paragraph_dedup_s" -> "s", "corpus.quality_s" -> "s",
    "corpus.near_dup_s" -> "s", "corpus.components_s" -> "s", "corpus.domain_cap_s" -> "s",
    "corpus.pagerank_s" -> "s", "corpus.token_budget_s" -> "s", "corpus.kept_ratio" -> "ratio",
    "corpus.near_dup_pairs" -> "count", "corpus.pagerank_iterations" -> "count",
    "corpus.pagerank_shuffles_per_iter" -> "ratio",
    "self.rep_s" -> "s", "self.call_s" -> "s", "self.corpus_s" -> "s", "self.job_s" -> "s",
    "self.stage_s" -> "s", "self.task_s" -> "s", "self.parse_s" -> "s", "self.select_s" -> "s",
    "self.wire_s" -> "s", "self.http_s" -> "s",
    "trace.items_per_s_traced" -> "1/s", "trace.items_per_s_untraced" -> "1/s",
    "trace.overhead_pct" -> "%",
    "env.canary_s" -> "s")

  private val units = all.toMap
  def unit(name: String): String = units(name)

  /** Ratios that combine readings of two layers. */
  def derive(m: Map[String, Double]): Map[String, Double] = {
    val rounds = m.getOrElse("exec.rounds", 0.0)
    if (rounds <= 0) m
    else m ++ Map(
      "exec.jobs_per_round" -> m.getOrElse("spark.jobs", 0.0) / rounds,
      "exec.shuffles_per_round" -> m.getOrElse("spark.shuffle_stages", 0.0) / rounds)
  }
}

/** Spark-layer readings of one repetition from its [[Bucket]]. */
object SparkLayers {
  def of(b: Bucket, t0us: Long, t1us: Long, nproc: Int, persistedLeft: Int): Map[String, Double] = {
    val tasks = b.tasks.asScala.toSeq
    val stages = b.stages.asScala.toSeq
    val wallS = (t1us - t0us) / 1e6
    val busyS = tasks.map(t => (t.finishMs - t.launchMs) / 1e3).sum
    // wall time with no task running, from the union of task intervals
    val t0 = t0us / 1000.0
    val t1 = t1us / 1000.0
    val iv = tasks.map(t => (math.max(t0, t.launchMs.toDouble), math.min(t1, t.finishMs.toDouble)))
      .filter { case (a, z) => z > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curZ = Double.NaN
    iv.foreach { case (a, z) =>
      if (curA.isNaN || a > curZ) {
        if (!curA.isNaN) covered += curZ - curA
        curA = a; curZ = z
      } else curZ = math.max(curZ, z)
    }
    if (!curA.isNaN) covered += curZ - curA
    // skew of the widest stage: longest task over the median task
    val skew = if (stages.isEmpty) 0.0 else {
      val byStage = tasks.groupBy(_.stageId)
      val widest = stages.maxBy(s => (s.numTasks, byStage.get(s.id).map(_.map(t => t.finishMs - t.launchMs).sum).getOrElse(0L)))
      val d = byStage.getOrElse(widest.id, Nil).map(t => (t.finishMs - t.launchMs).toDouble)
      if (d.isEmpty) 0.0 else d.max / math.max(1.0, Stats.median(d))
    }
    val mb = 1048576.0
    Map(
      "spark.analysis_ms" -> b.analysisMs.get.toDouble,
      "spark.optimization_ms" -> b.optimizationMs.get.toDouble,
      "spark.planning_ms" -> b.planningMs.get.toDouble,
      "spark.sql_actions" -> b.sqlActions.get.toDouble,
      "spark.jobs" -> b.jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.shuffle_stages" -> stages.count(_.shuffleMap).toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_busy_s" -> busyS,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.slot_util" -> (if (wallS > 0) busyS / (wallS * nproc) else 0.0),
      "spark.driver_gap_s" -> math.max(0.0, wallS - covered / 1e3),
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / mb,
      "spark.shuffle_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "spark.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
      "spark.task_skew" -> skew,
      "spark.persisted_rdds_left" -> persistedLeft.toDouble)
  }
}

/** Self time per span kind: a span's duration minus the time its children
  * cover. Jobs are parented to the innermost driver span open when they
  * started, in-task spans to their task, server requests to their
  * repetition.
  */
object SelfTime {
  private val driverKinds = Set("rep", "call", "corpus")

  def of(spans: Seq[Span], census: Census): Map[String, Double] = {
    val driverSpans = spans.filter(s => driverKinds(s.kind))
    val reps = spans.filter(_.kind == "rep").map(s => s.rep -> s.id).toMap
    def innermost(s: Span): Long =
      driverSpans.filter(d => d.rep == s.rep && d.start <= s.start && s.start <= d.end)
        .sortBy(d => d.end - d.start).headOption.map(_.id).getOrElse(reps.getOrElse(s.rep, 0L))
    val resolved = spans.map { s =>
      val parent = s.kind match {
        case "job" => innermost(s)
        case "http" => reps.getOrElse(s.rep, 0L)
        case "parse" | "select" | "wire" => census.taskSpan(s.task).getOrElse(0L)
        case _ => s.parent
      }
      s.copy(parent = parent)
    }
    val children = resolved.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    resolved.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(s.start, k.start), math.min(s.end, k.end)))
        .filter { case (a, z) => z > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curZ = -1L
      kids.foreach { case (a, z) =>
        if (curA < 0 || a > curZ) {
          if (curA >= 0) covered += curZ - curA
          curA = a; curZ = z
        } else curZ = math.max(curZ, z)
      }
      if (curA >= 0) covered += curZ - curA
      val self = math.max(0L, s.end - s.start - covered) / 1e6
      // the workload span also covers the untraced repetitions between traced ones
      if (s.kind != "workload") out(s"self.${s.kind}_s") += self
      if (s.kind == "call" && s.name.startsWith("build")) out("api.build_ms") += self * 1e3
    }
    out.toMap
  }
}
