package graft.agent

import graft.doc.HtmlNode

import com.fasterxml.jackson.databind.{ObjectMapper, JsonNode => JNode}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Minimal W3C WebDriver REMOTE END (https://www.w3.org/TR/webdriver/) over a
  * deterministic in-memory site — the protocol twin of
  * [[graft.agent.MockBrowser]]. Lets the tests exercise the REAL wire
  * binding ([[graft.agent.WebDriverHttpBrowser]]) end-to-end: session
  * lifecycle, element references (the `element-6066…` key), error envelopes,
  * script/args marshalling, base64 screenshots — everything a live
  * chromedriver would exchange, minus the browser.
  *
  * Element references encode (selector, index) so later element commands
  * re-resolve against the CURRENT page, like real remote ends invalidate
  * stale elements.
  */
final class W3CStubServer(site: String => Option[String]) {

  /** Static-site convenience (the test fixture shape). */
  def this(pages: Map[String, String]) = this(pages.get _)

  private val mapper = new ObjectMapper()
  private val F = JsonNodeFactory.instance
  private val ElementKey = graft.agent.WebDriverHttpBrowser.ElementKey

  /** Per-session browser state (the MockBrowser state machine). */
  private final class Session {
    var uri: String = ""
    var source: String = ""
    var inputs: Map[String, String] = Map.empty

    // parse-once per load (r21): every element command re-parsed the page
    // — dozens of re-parses per rollout across the protocol chatter.
    // `source` is only ever set by load(), so the cached root can't go
    // stale; a session's own requests are sequential by protocol.
    private var parsed: HtmlNode = null
    def load(u: String): Unit = {
      uri = u
      source = site(u).getOrElse(throw new NoSuchElementException(s"stub 404: $u"))
      inputs = Map.empty
      parsed = null
    }
    def root: HtmlNode = {
      if (parsed == null) parsed = HtmlNode.parse(source, uri)
      parsed
    }
    def nth(selector: String, idx: Int): Option[graft.doc.Node] = {
      val all = root.findAll(selector)
      if (idx < all.size) Some(all(idx)) else None
    }
  }

  private val sessions = new ConcurrentHashMap[String, Session]()
  private val nextId = new AtomicLong(1L)
  val requestCount = new AtomicLong(0L)
  // client-side ports seen: one per TCP connection the clients opened
  // (a keep-alive client opens far fewer connections than it sends requests)
  private val clientPorts = ConcurrentHashMap.newKeySet[Int]()

  // TCP_NODELAY on accepted sockets + keep-alive pool sizing (HttpTuning):
  // avoids the Nagle/delayed-ACK stall on kernels that don't fast-ACK loopback
  HttpTuning()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  // without an explicit executor the JDK HttpServer runs EVERY handler on
  // its single dispatcher thread — with 32 Spark task threads each driving
  // a session, the whole wire protocol serializes behind one core. Size the
  // pool to the host's task-thread ceiling (sessions are independent; a
  // session's own requests are sequential by protocol).
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(8, Runtime.getRuntime.availableProcessors()))
  server.setExecutor(pool)

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def start(): this.type = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def openSessions: Int = sessions.size()
  def clientConnections: Int = clientPorts.size()

  private def encodeElem(selector: String, idx: Int): String =
    Base64.getUrlEncoder.withoutPadding()
      .encodeToString(s"$idx:$selector".getBytes(StandardCharsets.UTF_8))
  private def decodeElem(id: String): (String, Int) = {
    val raw = new String(Base64.getUrlDecoder.decode(id), StandardCharsets.UTF_8)
    val i = raw.indexOf(':')
    (raw.substring(i + 1), raw.substring(0, i).toInt)
  }

  private def ok(value: JNode): (Int, JNode) = {
    val o = F.objectNode(); o.set[JNode]("value", value); (200, o)
  }
  private def err(status: Int, error: String, message: String): (Int, JNode) = {
    val v = F.objectNode()
    v.put("error", error); v.put("message", message); v.put("stacktrace", "")
    val o = F.objectNode(); o.set[JNode]("value", v); (status, o)
  }

  private def handle(method: String, parts: List[String], body: JNode): (Int, JNode) =
    (method, parts) match {
      case ("POST", "session" :: Nil) =>
        val id = s"stub-${nextId.getAndIncrement()}"
        sessions.put(id, new Session)
        val caps = F.objectNode(); caps.put("browserName", "stub")
        val v = F.objectNode(); v.put("sessionId", id); v.set[JNode]("capabilities", caps)
        ok(v)

      case (_, "session" :: sid :: rest) =>
        val sess = sessions.get(sid)
        if (sess == null) err(404, "invalid session id", s"no session $sid")
        else sess.synchronized { inSession(method, rest, body, sid, sess) }

      case _ => err(404, "unknown command", parts.mkString("/"))
    }

  private def inSession(method: String, rest: List[String], body: JNode,
                        sid: String, sess: Session): (Int, JNode) =
    (method, rest) match {
      case ("DELETE", Nil) =>
        sessions.remove(sid); ok(F.nullNode())

      case ("POST", "url" :: Nil) =>
        try { sess.load(body.path("url").asText()); ok(F.nullNode()) }
        catch { case e: NoSuchElementException =>
          err(500, "unknown error", e.getMessage) }

      case ("GET", "url" :: Nil) => ok(F.textNode(sess.uri))
      case ("GET", "source" :: Nil) => ok(F.textNode(sess.source))

      case ("GET", "screenshot" :: Nil) =>
        val png = s"PNG-STUB:${sess.uri}".getBytes(StandardCharsets.UTF_8)
        ok(F.textNode(Base64.getEncoder.encodeToString(png)))

      case ("POST", "element" :: Nil) =>
        val sel = body.path("value").asText()
        if (sess.nth(sel, 0).isDefined) ok(elemNode(sel, 0))
        else err(404, "no such element", s"no match for '$sel' at ${sess.uri}")

      case ("POST", "elements" :: Nil) =>
        val sel = body.path("value").asText()
        val arr = F.arrayNode()
        sess.root.findAll(sel).indices.foreach(i => arr.add(elemNode(sel, i)))
        ok(arr)

      case ("POST", "element" :: eid :: "click" :: Nil) =>
        val (sel, idx) = decodeElem(eid)
        sess.nth(sel, idx) match {
          case None => err(404, "stale element reference", s"$sel#$idx gone")
          case Some(n) =>
            n.href.foreach(sess.load)
            ok(F.nullNode())
        }

      case ("GET", "element" :: eid :: "attribute" :: name :: Nil) =>
        val (sel, idx) = decodeElem(eid)
        sess.nth(sel, idx) match {
          case None => err(404, "stale element reference", s"$sel#$idx gone")
          case Some(n) =>
            val v = if (name == "href") n.href else n.attr(name)
            ok(v.map(F.textNode).getOrElse(F.nullNode()))
        }

      case ("POST", "element" :: eid :: "value" :: Nil) =>
        val (sel, idx) = decodeElem(eid)
        sess.nth(sel, idx) match {
          case None => err(404, "stale element reference", s"$sel#$idx gone")
          case Some(n) =>
            val key = n.attr("name").getOrElse(sel)
            sess.inputs += key -> body.path("text").asText()
            ok(F.nullNode())
        }

      case ("POST", "frame" :: Nil) =>
        val eid = body.path("id").path(ElementKey).asText()
        val (sel, idx) = decodeElem(eid)
        sess.nth(sel, idx).flatMap(_.src) match {
          case Some(src) => sess.load(src); ok(F.nullNode())
          case None => err(404, "no such frame", sel)
        }

      case ("POST", "execute" :: "sync" :: Nil) =>
        val script = body.path("script").asText()
        val args = body.path("args")
        def argElem(i: Int): Option[(String, Int)] = {
          val id = args.path(i).path(ElementKey).asText("")
          if (id.isEmpty) None else Some(decodeElem(id))
        }
        if (script.contains("document.readyState")) ok(F.textNode("complete"))
        else if (script.contains(".submit()")) {
          // form submit: action?name=value… from recorded inputs
          val action = argElem(0).flatMap { case (sel, idx) =>
            sess.nth(sel, idx).flatMap { n =>
              n.attr("action").orElse( // the form itself, or the row's form
                sess.root.findFirst("form").flatMap(_.attr("action")))
            }
          }.getOrElse(sess.uri)
          val qs = sess.inputs.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("&")
          try { sess.load(if (qs.isEmpty) action else s"$action?$qs"); ok(F.nullNode()) }
          catch { case e: NoSuchElementException =>
            err(500, "unknown error", e.getMessage) }
        } else if (script.contains("Event('change'") || script.contains("Event('input'")) {
          // dropDownSelect / dragSlider: record the value like MockBrowser
          argElem(0).foreach { case (sel, idx) =>
            val key = sess.nth(sel, idx).flatMap(_.attr("name")).getOrElse(sel)
            sess.inputs += key -> args.path(1).asText()
          }
          ok(F.nullNode())
        } else ok(F.nullNode())

      case _ => err(404, "unknown command", rest.mkString("/"))
    }

  server.createContext("/", (ex: HttpExchange) => {
    requestCount.incrementAndGet()
    clientPorts.add(ex.getRemoteAddress.getPort)
    val parts = ex.getRequestURI.getPath.split('/').toList.filter(_.nonEmpty)
    val bodyText = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val body = if (bodyText.isEmpty) F.objectNode() else mapper.readTree(bodyText)
    val (status, json) =
      try handle(ex.getRequestMethod, parts, body)
      catch {
        case e: Throwable =>
          val v = F.objectNode()
          v.put("error", "unknown error"); v.put("message", String.valueOf(e))
          val o = F.objectNode(); o.set[JNode]("value", v); (500, o)
      }
    val bytes = mapper.writeValueAsBytes(json)
    ex.getResponseHeaders.add("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  })

  private def elemNode(selector: String, idx: Int): JNode = {
    val o = F.objectNode()
    o.put(ElementKey, encodeElem(selector, idx))
    o
  }
}
