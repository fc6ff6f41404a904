package graft.agent

import graft.actions._
import graft.cache.DocCaches
import graft.conf.GraftConf
import graft.doc._
import graft.exec.Metrics

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future,
  ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Serializable executor-side context for trace execution. */
final case class Env(
    conf: GraftConf,
    metrics: Metrics,
    driverFactory: Option[DriverFactory] = None
) extends Serializable

/** The executor-side trace interpreter (reference Trace.fetch/fetchOnce —
  * actions/Trace.scala:214-267 — plus Action.apply semantics,
  * Action.scala:79-161). Spec:
  *
  *  1. cache probe per dryRun backtrace; if EVERY export hits, return cached
  *     observations — zero remote I/O (reference Trace.scala:225-251);
  *  2. else run the full trace: interactions mutate the (lazily created)
  *     browser session, exports produce observations stamped with
  *     `DocUID(backtraceKey, blockIndex, blockTotal)`;
  *  3. per-action timeouts (hard-bounded future), per-trace retries,
  *     validation -> error path with error dump, audit auto-save;
  *  4. successful exports are written to the caches keyed by their canonical
  *     backtrace.
  *
  * Pure object + pure data in, observations out: nothing here touches Spark
  * except the metrics accumulators (added to under their lock, see
  * [[graft.exec.Metrics.add]]) and [[executeAll]]'s task-completion hook.
  *
  * == Fetch wait overlap ==
  *
  * [[executeAll]] is the engine's one remote-fetch loop: it keeps up to
  * [[InFlight]] distinct idempotent executions running ahead of the task
  * that consumes them, on one per-JVM daemon pool, so a task slot waits on
  * several responses at once instead of one (the Mercator answer: many
  * fetches in flight per machine, politeness per host). Per-host spacing
  * is unaffected: [[HostPoliteness]] reserves start slots by CAS across
  * every thread of the JVM. Non-idempotent traces (POSTs, browser state
  * changes) keep on-demand execution on the task thread.
  */
object Agent {

  /** Distinct executions one [[executeAll]] holds at most: the one its
    * consumer is reading plus those started ahead of it. A constant, not a
    * knob: more connections in flight also means more keep-alive sockets,
    * each holding its server's write buffer.
    */
  val InFlight = 4

  /** Rows [[executeAll]] buffers ahead of its consumer at most, so a long
    * run of one key streams instead of filling the heap.
    */
  private val ReadAheadRows = 256

  /** Executes the trace of every run of consecutive rows with equal keys
    * once and returns each row with its run's trajectory, in input order.
    *
    *  - A `null` key never joins a run: such a row executes on its own.
    *  - A run executes the trace of its FIRST row.
    *  - Up to [[InFlight]] distinct idempotent runs execute ahead of the
    *    consumer on the agent pool; the consumer blocks only on the run it
    *    reads.
    *  - A non-idempotent trace ([[Trace.nonIdempotent]]) executes on the
    *    consumer's thread when its first row is pulled, and no row past it
    *    is read before that. So a partial consumer (`take`, `limit`) never
    *    triggers a POST or a form submit the serial loop would not have
    *    sent; it may start up to `InFlight - 1` idempotent fetches it then
    *    drops.
    *  - A failed execution's cause is rethrown on the consumer's thread
    *    when it reaches that run.
    *  - Inside a Spark task, task completion waits out every execution
    *    still running, so none outlives its task and every metric it adds
    *    reaches the task's accumulators.
    */
  def executeAll[R](rows: Iterator[R], env: Env)(key: R => String,
                                                 trace: R => Trace): Iterator[(R, Trajectory)] = {
    val pipeline = new Pipeline(rows.buffered, env, key, trace)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => pipeline.drain()))
    pipeline
  }

  private final class Pipeline[R](in: BufferedIterator[R], env: Env, key: R => String,
                                  trace: R => Trace) extends Iterator[(R, Trajectory)] {

    /** One key's buffered rows and their shared execution: `pending` while
      * it runs on the pool, `traj` once read; neither for a non-idempotent
      * trace not yet reached.
      */
    private final class Run(val key: String, val trace: Trace) {
      val rows = new java.util.ArrayDeque[R]()
      var pending: Future[Seq[Observation]] = _
      var traj: Trajectory = _
      def started: Boolean = pending != null || traj != null
      def result(): Trajectory = {
        if (traj == null) {
          traj = Trajectory(if (pending == null) execute(trace, env) else await(pending))
          pending = null
        }
        traj
      }
    }

    private val runs = new java.util.ArrayDeque[Run]()
    private var held = 0

    /** Reads ahead until [[InFlight]] runs are open, the row budget is
      * spent, or the newest run is a non-idempotent trace not yet reached.
      */
    private def fill(): Unit = {
      var more = true
      while (more && in.hasNext && held < ReadAheadRows) {
        val last = runs.peekLast()
        val k = key(in.head)
        if (last != null && !last.started) more = false
        else if (last != null && k != null && k == last.key) {
          last.rows.add(in.next()); held += 1
        } else if (runs.size >= InFlight) more = false
        else {
          val run = new Run(k, trace(in.head))
          if (!run.trace.nonIdempotent)
            run.pending = pool.submit(new Callable[Seq[Observation]] {
              override def call(): Seq[Observation] = execute(run.trace, env)
            })
          runs.add(run)
          run.rows.add(in.next()); held += 1
        }
      }
    }

    override def hasNext: Boolean = {
      fill()
      // an emptied head is closed: the fill above would have read its next
      // row otherwise
      while (!runs.isEmpty && runs.peekFirst().rows.isEmpty) {
        runs.pollFirst()
        fill()
      }
      !runs.isEmpty
    }

    override def next(): (R, Trajectory) = {
      if (!hasNext) throw new NoSuchElementException("no more fetched rows")
      val run = runs.peekFirst()
      val row = run.rows.poll()
      held -= 1
      (row, run.result())
    }

    /** Waits out every execution started ahead of the consumer. */
    def drain(): Unit =
      try runs.forEach { run =>
        if (run.pending != null)
          try run.pending.get() catch { case scala.util.control.NonFatal(_) => () }
      }
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
  }

  private def await[T](f: Future[T]): T =
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }

  /** Execute once, with trace-level retries (reference Trace.scala:214-223). */
  def execute(trace: Trace, env: Env): Seq[Observation] = {
    env.metrics.add(env.metrics.traceExecutions)
    val now = System.currentTimeMillis()

    fromCache(trace, env, now).getOrElse {
      var attempt = 0
      var result: Either[Throwable, Seq[Observation]] = null
      while ({
        result =
          try Right(runTrace(trace, env, now))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        result.isLeft && attempt < env.conf.remoteRetries
      }) attempt += 1

      result match {
        case Right(obs) => obs
        case Left(e) =>
          env.metrics.add(env.metrics.errors)
          errorDump(trace, e, env, now)
          val key = trace.cacheKey
          Seq(DocError(DocUID(key), uri = describe(trace), message = renderError(e), now))
      }
    }
  }

  /** All-or-nothing cache probe over the trace's dryRun backtraces. Each
    * export may pin its own wayback (per-action time travel overrides the
    * conf-level pin — reference Wayback.scala:7-33).
    */
  private def fromCache(trace: Trace, env: Env, now: Long): Option[Seq[Observation]] = {
    if (!env.conf.cacheEnabled || !trace.hasExport) return None
    val backtraces = trace.dryRun
    val waybacks = trace.exports.map {
      case w: Wget => w.wayback
      case _       => None
    }
    val hits = backtraces.zipAll(waybacks, Trace.empty, None).map { case (bt, wb) =>
      val conf = wb.map(w => env.conf.copy(waybackMillis = Some(w))).getOrElse(env.conf)
      DocCaches.probe(bt.cacheKey, conf, now)
    }
    if (hits.forall(_.isDefined)) {
      // entries written since the offload default carry pointers already; this
      // guards stale pre-offload entries so warm rows never re-inline big
      // bodies. When a stale entry WAS offloaded here, the pointer-carrying
      // entry is written back (original timestamp preserved) so subsequent
      // hits read pointers instead of re-running the blob write forever.
      val upgraded = backtraces.zip(hits).map { case (bt, hit) =>
        val obs = hit.get
        val off = offloadLarge(obs, env.conf)
        if (off.zip(obs).exists { case (a, b) => a ne b }) {
          val ts = off.headOption.map(_.timestampMillis).getOrElse(now)
          DocCaches.write(bt.cacheKey, off, env.conf, ts)
        }
        off
      }
      val obs = upgraded.flatten
      env.metrics.add(env.metrics.fetchFromCache, obs.size)
      Some(obs)
    } else None
  }

  /** Two-level storage mapping: bodies over the threshold move to the blob
    * store, rows keep the pointer (reference InMemoryBlob → DFSSavedBlob).
    */
  private def offloadLarge(obs: Seq[Observation], conf: GraftConf): Seq[Observation] =
    conf.effectiveBlobDir match {
      case Some(dir) =>
        val limit = conf.effectiveBlobOffloadBytes
        obs.map {
          case d: Doc if d.content.length > limit => d.offload(dir)
          case other                              => other
        }
      case None => obs
    }

  private def runTrace(trace: Trace, env: Env, now: Long): Seq[Observation] = {
    val session = new Session(env)
    try {
      val out = Seq.newBuilder[Observation]
      trace.actions.foreach(a => out ++= session.perform(a, now))
      out.result()
    } finally session.close()
  }

  /** Mutable per-execution state: browser handle + state-change backtrace. */
  private final class Session(env: Env) {

    private var browser: Option[BrowserDriver] = None
    private var stateChanges: Vector[Action] = Vector.empty

    private def driver: BrowserDriver = browser.getOrElse {
      val d = env.driverFactory
        .getOrElse(throw new IllegalStateException(
          "browser action in trace but no DriverFactory configured"))
        .create()
      browser = Some(d)
      d
    }

    def close(): Unit = browser.foreach(_.close())

    /** Canonical key of the backtrace that produces `e`'s observations —
      * IDENTICAL to the corresponding [[Trace.dryRun]] entry, so cache keys
      * and fetch-dedup keys agree. Driverless exports are keyed on the action
      * alone (no browser-state prefix — see [[Trace.dryRun]]).
      */
    private def backtraceKey(e: Export): String = e match {
      case _: Driverless => Trace(Seq(e.skeleton)).cacheKey
      case _             => Trace(stateChanges :+ e.skeleton).cacheKey
    }

    def perform(a: Action, now: Long): Seq[Observation] = a match {
      case s: StateChange =>
        interact(s)
        stateChanges :+= s.skeleton
        Nil
      case Delay(ms) => Thread.sleep(ms); Nil
      case RandomDelay(lo, hi) =>
        Thread.sleep(lo + java.util.concurrent.ThreadLocalRandom.current().nextLong(math.max(1, hi - lo + 1)))
        Nil
      case w: WaitFor => driver.waitFor(w.selector, w.timeoutMillis); Nil
      case NoOp => Nil
      case e: Export => runExport(e, now)
      case other => throw new UnsupportedOperationException(s"action: $other")
    }

    private def interact(s: StateChange): Unit = s match {
      case Visit(uri, timeout) =>
        // browser navigation is crawling too: the robots gate covers it
        // (disallowed Visit fails the trace into the error path, with no
        // navigation and no politeness wait)
        val (blocked, interval) = RobotsCache.check(uri, env.conf, DocUID("robots-gate"), 0L)
        blocked.foreach { _ =>
          throw new IllegalStateException(s"Visit blocked by robots.txt: $uri")
        }
        HostPoliteness.acquire(uri, interval)
        withTimeout(timeout)(driver.visit(uri))
      case Click(sel)              => driver.click(sel)
      case ClickNext(sel, excl)    => driver.clickNext(sel, excl)
      case TextInput(sel, text)    => driver.textInput(sel, text)
      case Submit(sel)             => driver.submit(sel)
      case DropDownSelect(sel, v)  => driver.dropDownSelect(sel, v)
      case ToFrame(sel)            => driver.toFrame(sel)
      case ExeScript(js)           => driver.exeScript(js)
      case DragSlider(sel, pct)    => driver.dragSlider(sel, pct)
    }

    private def runExport(e: Export, now: Long): Seq[Observation] = {
      val key = backtraceKey(e)

      val raw: Seq[Observation] = e match {
        // Wget/Wpost consult the robots gate (no-op unless respectRobots):
        // disallowed uris yield a DocError WITHOUT a request or a
        // pagesFetched tick; a declared Crawl-delay widens the politeness
        // interval. Browser Visit is gated too (see interact); OAuth API
        // calls stay ungated — REP governs crawling, not authenticated
        // API traffic.
        case w: Wget =>
          val uid = DocUID(key, name = w.alias)
          val (blocked, interval) = RobotsCache.check(w.uri, env.conf, uid, now)
          blocked match {
            case Some(err) => Seq(err)
            case None =>
              env.metrics.add(env.metrics.pagesFetched)
              HostPoliteness.acquire(w.uri, interval)
              Seq(withTimeout(w.timeoutMillis)(Fetcher.get(w.uri, w.timeoutMillis, uid, now)))
          }
        case w: Wpost =>
          val uid = DocUID(key, name = w.alias)
          val (blocked, interval) = RobotsCache.check(w.uri, env.conf, uid, now)
          blocked match {
            case Some(err) => Seq(err)
            case None =>
              env.metrics.add(env.metrics.pagesFetched)
              HostPoliteness.acquire(w.uri, interval)
              Seq(withTimeout(w.timeoutMillis)(
                Fetcher.post(w.uri, w.entity, w.contentType, w.timeoutMillis, uid, now)))
          }
        case o: OAuthV2 =>
          env.metrics.add(env.metrics.pagesFetched)
          // RFC 5849 §3.3: nonce must be unique per (timestamp, token) — a
          // deterministic nonce makes replays of the same trace rejectable
          // by nonce-enforcing servers. Random per execution; NOT part of
          // the cache key, so trace dedup/caching is unaffected.
          val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
          val header = OAuth1.authorizationHeader(o, nonce = nonce, timestampSec = now / 1000)
          HostPoliteness.acquire(o.delegate.uri, env.conf.hostMinIntervalMillis)
          Seq(withTimeout(o.delegate.timeoutMillis)(
            Fetcher.httpGet(o.delegate.uri, o.delegate.timeoutMillis,
              DocUID(key, name = o.alias), now, headers = Map("Authorization" -> header))))
        case Mock(obs, as) =>
          obs.zipWithIndex.map { case (ob, i) =>
            ob.withUID(DocUID(key, i, obs.size, name = as))
          }
        case Snapshot(as) =>
          env.metrics.add(env.metrics.pagesFetched)
          Seq(Doc(DocUID(key, name = as), driver.currentUri,
            driver.pageSource.getBytes(StandardCharsets.UTF_8), Some("text/html"),
            timestampMillis = now))
        case Screenshot(as) =>
          env.metrics.add(env.metrics.pagesFetched)
          Seq(Doc(DocUID(key, name = as), driver.currentUri, driver.screenshot,
            Some("image/png"), timestampMillis = now))
        case Loop(body, limit) =>
          // repeat until failure or limit; observations concatenated and
          // re-indexed. DELIBERATELY keeps a failing iteration's partial
          // output, byte-for-byte the reference semantics (ControlBlock.scala
          // Loop.doExeNoUID: `pages ++= action.exe` straight into the shared
          // buffer, catch aborts but keeps the buffer) — pagination relies on
          // it: Loop(Snapshot, ClickNext) must keep the LAST page's snapshot
          // taken just before ClickNext exhausts. FAILURE is an exception OR
          // an error observation: the reference's fetch path THROWS on a bad
          // response, while this engine's driverless fetch path reports a
          // DocError (the q135 classification seam) — so an action whose
          // result carries an error is the same terminator, its errored
          // output dropped exactly as a throwing reference action
          // contributes nothing to the shared buffer.
          val out = Seq.newBuilder[Observation]
          var i = 0
          var done = false
          while (i < limit && !done) {
            try body.actions.foreach { a =>
              val res = perform(a, now)
              if (res.exists(!_.isSuccess)) { done = true }
              else out ++= res
            }
            catch { case scala.util.control.NonFatal(_) => done = true }
            i += 1
          }
          out.result()
        case LocalRetry(body, retries) =>
          // an attempt fails on exception OR on an error observation (same
          // driverless-DocError seam as Loop); exhaustion throws — engaging
          // the trace-level retry + whole-trace DocError route exactly as
          // the reference's re-raise (ControlBlock.scala:74-120)
          var attempt = 0
          var res: Seq[Observation] = null
          while ({
            try {
              res = body.actions.flatMap(a => perform(a, now))
              res.collectFirst { case er: DocError => er }.foreach { er =>
                throw new IllegalStateException(
                  s"LocalRetry body failed: ${er.message}")
              }
              false
            }
            catch {
              case scala.util.control.NonFatal(e) =>
                attempt += 1
                if (attempt > retries) throw e
                true
            }
          }) ()
          res
      }

      val total = raw.size
      val indexed = raw.zipWithIndex.map { case (ob, i) =>
        ob.withUID(ob match {
          case d: Doc      => d.uid.copy(blockIndex = i, blockTotal = total)
          case n: NoDoc    => n.uid.copy(blockIndex = i, blockTotal = total)
          case er: DocError => er.uid.copy(blockIndex = i, blockTotal = total)
        })
      }

      // validation -> error path (reference Export.accept). An observation
      // that is ALREADY an error keeps its original cause — rewriting a
      // robots-block or fetch failure into "validation failed" would
      // destroy the information every downstream policy keys on (e.g. the
      // best-first budget exempts robots blocks, not validation rejects).
      val validated = indexed.map {
        case er: DocError => er
        case ob if env.conf.validation.accept(ob) => ob
        case ob =>
          env.metrics.add(env.metrics.errors)
          errorDumpObs(ob, env, now)
          DocError(ob.uid, ob.uri, s"validation failed: ${env.conf.validation}", now)
      }

      // large-body offload BEFORE the cache write, so the caches store pointer
      // rows: warm hits then carry pointers too (bodies written to the blob
      // store exactly once, on the cold fetch), and the memory tier never pins
      // big payloads
      val offloaded = offloadLarge(validated, env.conf)

      // audit auto-save + cache write for clean DOC-bearing exports; pure
      // side-effect exports (e.g. Wpost uploads yielding NoDoc) are never
      // cached — a cache hit would silently skip the effect
      if (validated.forall(_.isSuccess) && validated.exists(_.isInstanceOf[Doc])) {
        env.conf.auditDir.foreach(d => validated.foreach {
          case doc: Doc => DocIO.save(doc, d)
          case _        => ()
        })
        DocCaches.write(key, offloaded, env.conf, now)
        if (env.conf.cacheWrite) env.metrics.add(env.metrics.cacheWrites)
      }

      offloaded
    }
  }

  /** The agent's one per-JVM pool: [[executeAll]]'s executions and
    * [[withTimeout]]'s bounded actions. Cached: threads are made on demand
    * and retire after 60 s idle; in use it holds at most [[InFlight]]
    * executions per running task, plus one timed action under each.
    * Threads are daemons built with `inheritThreadLocals = false`: they are
    * made from Spark task threads, whose inheritable thread-locals (the
    * active session, the job's local properties) must not stick to a
    * long-lived pool thread.
    */
  private[graft] lazy val pool: ExecutorService = Executors.newCachedThreadPool(new ThreadFactory {
    private val count = new AtomicInteger(0)
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(null, r, s"graft-agent-${count.incrementAndGet()}", 0L, false)
      t.setDaemon(true)
      t
    }
  })

  // -- timeout: hard-bounded future per action (reference MayTimeout +
  //    Action.scala:131-153 thread interrupt)
  private def withTimeout[T](millis: Long)(f: => T): T =
    if (millis <= 0) f
    else {
      val worker = new java.util.concurrent.atomic.AtomicReference[Thread]()
      val fut = pool.submit(new Callable[T] {
        override def call(): T = { worker.set(Thread.currentThread()); f }
      })
      try fut.get(millis, TimeUnit.MILLISECONDS)
      catch {
        case _: TimeoutException =>
          fut.cancel(true)
          // interrupt alone cannot unblock HttpURLConnection reads — also
          // hard-close the in-flight connection so the pool thread frees
          // immediately instead of leaking until the socket timeout
          Option(worker.get()).foreach(Fetcher.abortInFlight)
          throw new TimeoutException(s"action timed out after ${millis}ms")
        case e: ExecutionException => throw e.getCause
      }
    }

  private def describe(trace: Trace): String =
    trace.exports.headOption.map {
      case w: Wget  => w.uri
      case w: Wpost => w.uri
      case o: OAuthV2 => o.delegate.uri
      case e        => e.getClass.getSimpleName
    }.getOrElse("<no-export>")

  private def renderError(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"

  /** Dump failure context for debugging (reference Action.scala:109-129). */
  private def errorDump(trace: Trace, e: Throwable, env: Env, now: Long): Unit =
    env.conf.errorDumpDir.foreach { d =>
      DocIO.writeText(d, s"$now-${trace.cacheKey.take(12)}.txt",
        s"trace: ${trace.actions.mkString(" +> ")}\nerror: ${renderError(e)}")
    }

  private def errorDumpObs(ob: Observation, env: Env, now: Long): Unit =
    env.conf.errorDumpDir.foreach { d =>
      ob match {
        case doc: Doc => DocIO.save(doc, d, s"$now-invalid")
        case other    => DocIO.writeText(d, s"$now-invalid.txt", other.toString)
      }
    }
}

/** Doc persistence helpers (reference Trajectory.save — AgentContext.scala:
  * 134-148 — and the auditing auto-save, Trace.scala:177-186). Hadoop FS so
  * the same code writes local dirs in tests and DFS in production.
  */
object DocIO {

  /** One Configuration per JVM: `new Configuration()` re-parses the Hadoop
    * XML defaults (~tens of ms) — per-call construction turns a 60-file
    * fixture write into seconds.
    */
  lazy val hadoopConf: Configuration = new Configuration()

  private val extByMime = Map("text/html" -> "html", "application/json" -> "json",
    "text/xml" -> "xml", "text/csv" -> "csv", "text/plain" -> "txt", "image/png" -> "png")

  /** Save a doc's body under `dir`; path derived from its uri + uid. */
  def save(doc: Doc, dir: String, prefix: String = ""): String = {
    val safe = doc.uri.replaceAll("[^A-Za-z0-9._-]+", "_").takeRight(120)
    val ext = extByMime.getOrElse(doc.mime, "bin")
    val name = Seq(prefix, safe, s"${doc.uid.blockIndex}.$ext").filter(_.nonEmpty).mkString("-")
    write(dir, name, doc.bytes)
  }

  def writeText(dir: String, name: String, text: String): String =
    write(dir, name, text.getBytes(StandardCharsets.UTF_8))

  def writeBytes(dir: String, name: String, bytes: Array[Byte]): String =
    write(dir, name, bytes)

  private def write(dir: String, name: String, bytes: Array[Byte]): String = {
    // Local fast path: Hadoop's ChecksumFileSystem costs ~30ms per small
    // file (CRC sidecar + stat chatter) — 60x java.nio. Schemeless and
    // file: dirs are executor-local by definition, so java.nio is
    // equivalent there; real DFS schemes (hdfs:, s3a:, ...) take the
    // Hadoop path, which is what makes these writes cluster-honest.
    localPath(dir) match {
      case Some(base) =>
        java.nio.file.Files.createDirectories(base)
        val p = base.resolve(name)
        java.nio.file.Files.write(p, bytes)
        // a file first written via Hadoop LocalFileSystem has a .<name>.crc
        // sidecar; an overwrite here would leave it stale and later
        // Hadoop-side reads would fail with ChecksumException — drop it
        java.nio.file.Files.deleteIfExists(base.resolve("." + name + ".crc"))
        (if (dir.indexOf(':') < 0) "" else "file:") + p.toString
      case None =>
        val p = new Path(dir, name)
        val fs: FileSystem = p.getFileSystem(hadoopConf)
        val out = fs.create(p, true)
        try out.write(bytes)
        finally out.close()
        p.toString
    }
  }

  /** The whole file at `path` in one read, on the same local fast path as
    * the writes; DFS schemes take one `readFully` sized from the file's
    * status (Hadoop's `IOUtils` whole-stream read goes a byte per call
    * through the checksum layer: 80 ms for a 1 MiB file on a 4-core host,
    * against about 1 ms for this read). A file over
    * `Int.MaxValue` bytes does not fit one array and is refused.
    */
  def readBytes(path: String): Array[Byte] = localPath(path) match {
    case Some(p) =>
      fits(path, java.nio.file.Files.size(p))
      java.nio.file.Files.readAllBytes(p)
    case None =>
      val p = new Path(path)
      val fs = p.getFileSystem(hadoopConf)
      val buf = new Array[Byte](fits(path, fs.getFileStatus(p).getLen))
      val in = fs.open(p)
      try in.readFully(0L, buf)
      finally in.close()
      buf
  }

  private def fits(path: String, len: Long): Int = {
    require(len <= Int.MaxValue, s"$path holds $len bytes, over one array's ${Int.MaxValue}")
    len.toInt
  }

  /** Schemeless and `file:` paths as java.nio paths; None for DFS schemes. */
  private[graft] def localPath(path: String): Option[java.nio.file.Path] =
    if (path.indexOf(':') < 0 || path.startsWith("file:"))
      Some(java.nio.file.Paths.get(path.stripPrefix("file:")))
    else None
}

/** Minimal OAuth 1.0a HMAC-SHA1 request signing (reference
  * actions/OAuthV2.scala — there via an http-client helper; here per RFC 5849).
  */
object OAuth1 {

  import javax.crypto.Mac
  import javax.crypto.spec.SecretKeySpec

  def authorizationHeader(o: OAuthV2, nonce: String, timestampSec: Long): String = {
    val params = Map(
      "oauth_consumer_key" -> o.consumerKey,
      "oauth_nonce" -> nonce,
      "oauth_signature_method" -> "HMAC-SHA1",
      "oauth_timestamp" -> timestampSec.toString,
      "oauth_token" -> o.token,
      "oauth_version" -> "1.0")
    val (base, query) = splitUri(o.delegate.uri)
    val allParams = (params.toSeq ++ query).map { case (k, v) => enc(k) -> enc(v) }.sortBy(identity)
    val paramStr = allParams.map { case (k, v) => s"$k=$v" }.mkString("&")
    val baseStr = Seq("GET", enc(base), enc(paramStr)).mkString("&")
    val key = s"${enc(o.consumerSecret)}&${enc(o.tokenSecret)}"
    val mac = Mac.getInstance("HmacSHA1")
    mac.init(new SecretKeySpec(key.getBytes("UTF-8"), "HmacSHA1"))
    val sig = java.util.Base64.getEncoder.encodeToString(mac.doFinal(baseStr.getBytes("UTF-8")))
    val header = (params + ("oauth_signature" -> sig)).toSeq.sortBy(_._1)
      .map { case (k, v) => s"""${enc(k)}="${enc(v)}"""" }.mkString(", ")
    s"OAuth $header"
  }

  private def splitUri(uri: String): (String, Seq[(String, String)]) = {
    val qIdx = uri.indexOf('?')
    if (qIdx < 0) (uri, Nil)
    else {
      val query = uri.substring(qIdx + 1).split('&').toSeq.filter(_.nonEmpty).map { kv =>
        val eq = kv.indexOf('=')
        if (eq < 0) (kv, "") else (kv.take(eq), kv.drop(eq + 1))
      }
      (uri.take(qIdx), query)
    }
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
      .replace("+", "%20").replace("*", "%2A").replace("%7E", "~")
}
