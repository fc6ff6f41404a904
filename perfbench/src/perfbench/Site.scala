package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** A seeded N-page site on the levels of a binary tree: page i links to its
  * children 2i+1 and 2i+2 (the spine), to one random page of the next
  * level and to one random page of its own or an earlier level, so pages
  * average about four in-links. Links never skip a level, so every page's
  * BFS depth from page 0 is its tree level whatever the seed, and so is the
  * crawl's round count. Bodies are seeded word text with a log-normal size
  * around `medianBytes`; exactly `tailPages` random pages of the deepest
  * full level are padded past `tailBytes` (the 1 MiB blob-offload
  * threshold).
  */
final class Site(val n: Int, seed: Long, val medianBytes: Int, val tailPages: Int,
                 val tailBytes: Int) {

  private def level(i: Int): Int = 31 - Integer.numberOfLeadingZeros(i + 1)
  private def levelStart(d: Int): Int = (1 << d) - 1
  private def levelEnd(d: Int): Int = math.min(n, (1 << (d + 1)) - 1) // exclusive

  val links: Array[Array[Int]] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    Array.tabulate(n) { i =>
      val d = level(i)
      val b = Array.newBuilder[Int]
      if (2 * i + 1 < n) b += 2 * i + 1
      if (2 * i + 2 < n) b += 2 * i + 2
      if (levelStart(d + 1) < n) {
        val lo = levelStart(d + 1)
        b += lo + rnd.nextInt(levelEnd(d + 1) - lo)
      }
      b += rnd.nextInt(levelEnd(d))
      b.result().distinct.filter(_ != i)
    }
  }

  /** Shortest link distance from page 0: the depth explore must report. */
  val depth: Array[Int] = {
    val d = Array.fill(n)(-1)
    val q = new java.util.ArrayDeque[Int]()
    d(0) = 0
    q.add(0)
    while (!q.isEmpty) {
      val i = q.poll()
      links(i).foreach { j => if (d(j) < 0) { d(j) = d(i) + 1; q.add(j) } }
    }
    d
  }

  val pages: Array[Array[Byte]] = {
    val rnd = new java.util.Random(seed * 17 + 3)
    val tail = {
      val deepest = level(n) - 1 // deepest level that is full
      val idx = (levelStart(deepest) until levelEnd(deepest)).toArray
      for (i <- idx.indices.reverse) { val j = rnd.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t }
      idx.take(tailPages).toSet
    }
    Array.tabulate(n) { i =>
      val target =
        if (tail(i)) tailBytes + rnd.nextInt(tailBytes / 4)
        else math.min(64 * medianBytes,
          math.max(512, (medianBytes * math.exp(0.6 * rnd.nextGaussian())).toInt))
      val sb = new java.lang.StringBuilder(target + 256)
      sb.append("<html><head><title>p").append(i).append("</title></head><body>\n")
      links(i).foreach(j => sb.append("<a href=\"p").append(j).append(".html\">k").append(j)
        .append("</a>\n"))
      sb.append("<p>")
      while (sb.length < target) {
        sb.append(Words.bank(rnd.nextInt(Words.bank.length))).append(' ')
        if (rnd.nextInt(24) == 0) sb.append("</p>\n<p>")
      }
      sb.append("</p></body></html>\n")
      sb.toString.getBytes(StandardCharsets.UTF_8)
    }
  }

  val totalBytes: Long = pages.iterator.map(_.length.toLong).sum
  def linkCount: Long = links.iterator.map(_.length.toLong).sum

  /** The body served at request target `/p<i>.html`. */
  def serve(target: String): Option[Array[Byte]] =
    if (target.startsWith("/p") && target.endsWith(".html"))
      scala.util.Try(target.substring(2, target.length - 5).toInt).toOption
        .filter(i => i >= 0 && i < n).map(pages(_))
    else None
}

object Words {
  /** 2,048 pronounceable pseudo-words; the text source of every input. */
  val bank: Array[String] = {
    val cons = "bcdfghklmnprstvz"
    val vow = "aeiou"
    val rnd = new java.util.Random(20240601L)
    Array.fill(2048) {
      val syl = 1 + rnd.nextInt(3)
      (0 until syl).map(_ => s"${cons(rnd.nextInt(cons.length))}${vow(rnd.nextInt(vow.length))}")
        .mkString + cons(rnd.nextInt(cons.length))
    }.distinct
  }
}

/** Loopback HTTP server for generated pages: `serve` maps a request target
  * (path and query) to its body, or to None for a 404. Each response is
  * completed by a timer `delayMs` after the request arrived, so the
  * injected latency does not hold a server thread: one dispatcher thread
  * and two timer threads serve any number of concurrent fetches.
  */
final class SiteServer(serve: String => Option[Array[Byte]], delayMs: Int) {
  graft.agent.HttpTuning() // TCP_NODELAY before the first HttpServer class-loads

  val requests = new AtomicLong(0L)
  val bytesServed = new AtomicLong(0L)
  val residenceNanos = new AtomicLong(0L)
  val errors = new AtomicLong(0L)
  private val inflight = new AtomicInteger(0)
  val inflightMax = new AtomicInteger(0)

  def resetCounters(): Unit = {
    requests.set(0); bytesServed.set(0); residenceNanos.set(0); errors.set(0)
    inflightMax.set(inflight.get())
  }

  private val dispatcher = Executors.newSingleThreadExecutor()
  private val timer: ScheduledExecutorService = Executors.newScheduledThreadPool(2)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(dispatcher)

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val t0us = if (Spans.on) Spans.nowUs() else 0L
    requests.incrementAndGet()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    val path = ex.getRequestURI.getPath
    val page = serve(ex.getRequestURI.toString)
    ex.getRequestBody.readAllBytes()
    timer.schedule(new Runnable {
      def run(): Unit = try {
        page match {
          case Some(body) =>
            ex.getResponseHeaders.add("Content-Type", "text/html; charset=utf-8")
            ex.sendResponseHeaders(200, body.length)
            ex.getResponseBody.write(body)
            bytesServed.addAndGet(body.length)
          case None =>
            errors.incrementAndGet()
            ex.sendResponseHeaders(404, -1)
        }
      } catch {
        case _: java.io.IOException => errors.incrementAndGet()
      } finally {
        ex.close()
        inflight.decrementAndGet()
        residenceNanos.addAndGet(System.nanoTime() - t0)
        if (Spans.on) Spans.add(Span(Spans.nextId(), "http", path, t0us, Spans.nowUs(), 0L, Spans.rep))
      }
    }, delayMs.toLong, TimeUnit.MILLISECONDS)
    ()
  })

  def start(): this.type = { server.start(); this }
  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    timer.shutdown(); dispatcher.shutdown()
    timer.awaitTermination(10, TimeUnit.SECONDS)
    dispatcher.awaitTermination(10, TimeUnit.SECONDS)
  }
}
