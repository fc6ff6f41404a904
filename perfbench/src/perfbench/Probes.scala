package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch microseconds; `parent` is a span id
  * (0 = none) or, for in-task spans, resolved later from `task`.
  */
final case class Span(id: Long, kind: String, name: String, start: Long, end: Long,
                      parent: Long, rep: Int, task: Long = -1L)

/** Spans live in memory while the run lasts and are written out at the end.
  * Recording is off unless the run is traced; in-lambda and server probes
  * check [[on]] first so an untraced run pays one volatile read.
  */
object Spans {
  @volatile var on: Boolean = false
  @volatile var rep: Int = 0
  private val ids = new AtomicLong(1L)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val size = new AtomicInteger(0)
  val Cap = 400000

  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  def nextId(): Long = ids.getAndIncrement()

  def add(s: Span): Unit =
    if (size.incrementAndGet() <= Cap) all.add(s)

  /** Driver-side nesting: the innermost open driver span is the parent of
    * the next one opened on the driver thread.
    */
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def driver[T](kind: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = nowUs()
      try f
      finally {
        stack.set(stack.get().tail)
        add(Span(id, kind, name, t0, nowUs(), parent, rep))
      }
    }

  /** A span recorded inside a Spark task; its parent is the task span. */
  def inTask(kind: String, name: String, t0: Long, t1: Long): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    add(Span(nextId(), kind, name, t0, t1, 0L, rep,
      if (tc == null) -1L else tc.taskAttemptId()))
  }

  def snapshot(): Vector[Span] = all.asScala.toVector
  def dropped: Int = math.max(0, size.get() - Cap)
}

/** Counters of one repetition, filled from the listener bus. */
final class Bucket {
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, start ms, end ms
  val jobStart = new ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val analysisMs = new AtomicLong(0L)
  val optimizationMs = new AtomicLong(0L)
  val planningMs = new AtomicLong(0L)
  val sqlActions = new AtomicLong(0L)
}

final case class StageRec(id: Int, attempt: Int, numTasks: Int, submitMs: Long, endMs: Long,
                          shuffleMap: Boolean)

final case class TaskRec(stageId: Int, taskId: Long, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                         shuffleReadBytes: Long, fetchWaitMs: Long, spillBytes: Long)

/** Reads the Spark layers from their public seams: a [[SparkListener]] for
  * jobs, stages and tasks, and a [[QueryExecutionListener]] for the
  * Catalyst phase split. Events are attributed to repetitions by marker
  * jobs: the listener bus is one FIFO queue, so every event between the
  * marker that opens a repetition and the one that closes it belongs to
  * it, and seeing the closing marker means the bus has drained.
  */
final class Census(sc: SparkContext) extends SparkListener with QueryExecutionListener {

  private val Prefix = "perfbench-mark:"
  @volatile private var current: Option[Bucket] = None
  private val buckets = new ConcurrentHashMap[String, Bucket]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  private val latches = new ConcurrentHashMap[String, CountDownLatch]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val taskSpanIds = new ConcurrentHashMap[Long, Long]()

  /** Task attempt id -> task span id, for parenting in-task spans. */
  def taskSpan(taskId: Long): Option[Long] = Option(taskSpanIds.get(taskId))

  /** Route the following events to `label` (or nowhere, for "idle") and,
    * when `drain`, wait until the bus has delivered everything before it.
    */
  def mark(label: String, drain: Boolean): Unit = {
    val latch = new CountDownLatch(1)
    latches.put(label, latch)
    if (label != "idle") buckets.put(label, new Bucket)
    sc.setJobDescription(Prefix + label)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    if (drain && !latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException(s"listener bus did not drain past marker $label")
  }

  def bucket(label: String): Bucket = buckets.get(label)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    desc.filter(_.startsWith(Prefix)) match {
      case Some(d) =>
        val label = d.stripPrefix(Prefix)
        markerJobs.put(e.jobId, label)
        e.stageIds.foreach(markerStages.add(_))
        current = Option(buckets.get(label))
      case None =>
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        current.foreach(_.jobStart.put(e.jobId, e.time))
        if (Spans.on) jobSpan.put(e.jobId, Spans.nextId())
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.containsKey(e.jobId))
      Option(latches.get(markerJobs.get(e.jobId))).foreach(_.countDown())
    else current.foreach { b =>
      val start = Option(b.jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      b.jobs.add((e.jobId, start, e.time))
      Option(jobSpan.remove(e.jobId)).foreach { id =>
        Spans.add(Span(id, "job", s"job ${e.jobId}", start * 1000L, e.time * 1000L, 0L,
          Spans.rep))
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (Spans.on && !markerStages.contains(e.stageInfo.stageId))
      stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), Spans.nextId())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (!markerStages.contains(si.stageId)) current.foreach { b =>
      val m = si.taskMetrics
      val shuffleMap = m != null && m.shuffleWriteMetrics.recordsWritten > 0
      val submit = si.submissionTime.getOrElse(0L)
      val end = si.completionTime.getOrElse(submit)
      b.stages.add(StageRec(si.stageId, si.attemptNumber(), si.numTasks, submit, end, shuffleMap))
      Option(stageSpan.remove((si.stageId, si.attemptNumber()))).foreach { id =>
        val parent = Option(stageJob.get(si.stageId)).flatMap(j => Option(jobSpan.get(j)))
        Spans.add(Span(id, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
          submit * 1000L, end * 1000L, parent.map(_.longValue).getOrElse(0L), Spans.rep))
      }
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (Spans.on && !markerStages.contains(e.stageId))
      taskSpanIds.put(e.taskInfo.taskId, Spans.nextId())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!markerStages.contains(e.stageId)) current.foreach { b =>
      val ti = e.taskInfo
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.stageId, ti.taskId, ti.launchTime, ti.finishTime, 0L, 0L,
          0L, 0L, 0L, 0L, 0L)
        else TaskRec(e.stageId, ti.taskId, ti.launchTime, ti.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      b.tasks.add(rec)
      Option(taskSpanIds.get(ti.taskId)).foreach { id =>
        val stage = Option(stageSpan.get((e.stageId, e.stageAttemptId)))
        Spans.add(Span(id, "task", s"task ${ti.taskId}", ti.launchTime * 1000L,
          ti.finishTime * 1000L, stage.map(_.longValue).getOrElse(0L), Spans.rep, ti.taskId))
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.foreach { b =>
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      b.analysisMs.addAndGet(ms("analysis"))
      b.optimizationMs.addAndGet(ms("optimization"))
      b.planningMs.addAndGet(ms("planning"))
      b.sqlActions.incrementAndGet()
    }

  // a failed action fails its repetition, which then records nothing
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Census {
  def attach(spark: SparkSession): Census = {
    val c = new Census(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** Order statistics over measured samples. Quantiles interpolate linearly
  * between closest ranks.
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** JSON rendering for the result and report lines, through Jackson's
  * `ObjectMapper`. Doubles keep all their digits; NaN and infinities render
  * as null.
  */
object Json {
  private val mapper = new ObjectMapper()

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
    case o: Option[_]    => o.map(toJava).orNull
    case other           => other
  }
}
