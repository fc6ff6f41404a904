package graft.agent

import com.fasterxml.jackson.databind.{ObjectMapper, JsonNode => JNode}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._

/** W3C WebDriver WIRE-PROTOCOL browser binding (the public standard,
  * https://www.w3.org/TR/webdriver/ — the same protocol Selenium's
  * RemoteWebDriver speaks): drives any conformant remote end — a local
  * `chromedriver --port=9515`, geckodriver, or a Selenium Grid hub — over
  * plain HTTP + JSON. No Selenium jars anywhere: the client is fully
  * exercisable offline against a protocol stub ([[W3CStubServer]]), so the
  * binding the tests run is the binding production runs.
  *
  * Reference semantics kept (module/web/actions/Foundation.scala:25-301):
  * document-ready wait after navigation, frame switch by selector, explicit
  * waitFor polling, screenshots as PNG bytes.
  *
  * Serializable seam: the FACTORY ships in closures; sessions are created
  * per executor partition and closed by the agent.
  */
final case class RemoteWebDriverFactory(
    endpoint: String,
    browserName: String = "chrome",
    headless: Boolean = true,
    extraArgs: Seq[String] = Nil
) extends DriverFactory {

  override def create(): BrowserDriver = {
    // keep-alive pool sizing: this client does NOT route through Fetcher,
    // so it must apply the tuning itself before the first kept-alive
    // response class-loads the JDK KeepAliveCache
    HttpTuning()
    new WebDriverHttpBrowser(endpoint.stripSuffix("/"), browserName, headless, extraArgs)
  }
}

object WebDriverHttpBrowser {

  /** The W3C element-reference key (WebDriver spec §11 "Elements"). */
  val ElementKey = "element-6066-11e4-a52e-4f735466cecf"

  final class WebDriverException(msg: String) extends RuntimeException(msg)
}

/** One W3C WebDriver session over HTTP. Not thread-safe (one per agent). */
final class WebDriverHttpBrowser(
    endpoint: String,
    browserName: String,
    headless: Boolean,
    extraArgs: Seq[String]
) extends BrowserDriver {

  import WebDriverHttpBrowser._

  private val mapper = new ObjectMapper()
  private val F = JsonNodeFactory.instance

  // ---------------------------------------------------------------- protocol

  // Keep-alive (r22, the Fetcher discipline): a fully-read + closed response
  // stream returns the socket to the JDK keep-alive pool, so every wire
  // command after the first reuses one TCP connection per endpoint instead
  // of paying connect + TIME_WAIT churn per request — a best-first rollout
  // is dozens of sequential wire round-trips, so per-request setup IS the
  // operator's unit cost. W3C protocol errors (4xx/5xx envelopes) drain the
  // error stream the same way — the connection is still clean — and only a
  // transport failure mid-request hard-disconnects.

  private def http(method: String, path: String, body: Option[JNode]): JNode = {
    val conn = URI.create(endpoint + path).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    var drained = false
    try {
      conn.setRequestMethod(method)
      conn.setConnectTimeout(15000)
      conn.setReadTimeout(120000)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/json; charset=utf-8")
        val out = conn.getOutputStream
        out.write(mapper.writeValueAsBytes(b))
        out.close()
      }
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val text =
        if (is == null) ""
        else
          try new String(is.readAllBytes(), StandardCharsets.UTF_8)
          finally is.close()
      drained = true
      val parsed = if (text.isEmpty) F.objectNode() else mapper.readTree(text)
      val value = parsed.path("value")
      if (status >= 400)
        throw new WebDriverException(
          s"$method $path -> $status ${value.path("error").asText("")}: " +
            value.path("message").asText(text.take(200)))
      value
    } finally if (!drained) conn.disconnect()
  }

  private def obj(fields: (String, JNode)*): JNode = {
    val o = F.objectNode()
    fields.foreach { case (k, v) => o.set[JNode](k, v) }
    o
  }

  private def post(path: String, fields: (String, JNode)*): JNode =
    http("POST", path, Some(obj(fields: _*))) // W3C: POST always carries a JSON body

  private val sessionId: String = {
    val always = F.objectNode()
    always.put("browserName", browserName)
    val args = (if (headless) Seq("--headless=new", "--no-sandbox", "--disable-gpu")
                else Seq.empty) ++ extraArgs
    if (args.nonEmpty && browserName == "chrome") {
      val chromeOpts = F.objectNode()
      val arr = F.arrayNode()
      args.foreach(arr.add)
      chromeOpts.set[JNode]("args", arr)
      always.set[JNode]("goog:chromeOptions", chromeOpts)
    }
    val v = post("/session", "capabilities" -> obj("alwaysMatch" -> always))
    val sid = v.path("sessionId").asText("")
    if (sid.isEmpty)
      throw new WebDriverException(s"newSession returned no sessionId: $v")
    sid
  }

  private def s(path: String): String = s"/session/$sessionId$path"

  private def elemRef(id: String): JNode = obj(ElementKey -> F.textNode(id))

  private def findElementId(selector: String): String =
    post(s("/element"),
      "using" -> F.textNode("css selector"), "value" -> F.textNode(selector))
      .path(ElementKey).asText()

  /** Empty on no match (the W3C findElements contract — no error). */
  private def findElementIds(selector: String): Seq[String] =
    post(s("/elements"),
      "using" -> F.textNode("css selector"), "value" -> F.textNode(selector))
      .elements().asScala.map(_.path(ElementKey).asText()).toSeq

  private def execute(script: String, args: JNode*): JNode = {
    val arr = F.arrayNode()
    args.foreach(arr.add)
    post(s("/execute/sync"), "script" -> F.textNode(script), "args" -> arr)
  }

  /** Reference Foundation.scala: block until document.readyState=complete. */
  private def waitDocumentReady(timeoutMillis: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    while (execute("return document.readyState").asText() != "complete" &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  // ----------------------------------------------------------- BrowserDriver

  override def visit(uri: String): Unit = {
    post(s("/url"), "url" -> F.textNode(uri))
    waitDocumentReady()
  }

  override def click(selector: String): Unit = {
    post(s(s"/element/${findElementId(selector)}/click"))
    waitDocumentReady()
  }

  override def clickNext(selector: String, exclude: Seq[String]): Unit = {
    val next = findElementIds(selector).find { id =>
      val href = http("GET", s(s"/element/$id/attribute/href"), None)
      !href.isNull && !exclude.contains(href.asText())
    }.getOrElse(throw new IllegalArgumentException(s"clickNext: exhausted '$selector'"))
    post(s(s"/element/$next/click"))
    waitDocumentReady()
  }

  override def textInput(selector: String, text: String): Unit =
    post(s(s"/element/${findElementId(selector)}/value"), "text" -> F.textNode(text))

  override def submit(selector: String): Unit = {
    // W3C has no submit endpoint (Selenium also emulates it with script)
    execute(
      "var f = arguments[0].closest ? arguments[0].closest('form') : arguments[0];" +
        "if (f) f.submit();",
      elemRef(findElementId(selector)))
    waitDocumentReady()
  }

  override def dropDownSelect(selector: String, value: String): Unit =
    execute(
      "arguments[0].value = arguments[1]; " +
        "arguments[0].dispatchEvent(new Event('change', {bubbles: true}));",
      elemRef(findElementId(selector)), F.textNode(value))

  override def toFrame(selector: String): Unit =
    post(s("/frame"), "id" -> elemRef(findElementId(selector)))

  override def exeScript(script: String): Unit = { execute(script); () }

  override def dragSlider(selector: String, percentage: Double): Unit =
    execute(
      "const el = arguments[0]; const p = arguments[1];" +
        "el.value = el.min ? (+el.min + (+el.max - +el.min) * p) : p;" +
        "el.dispatchEvent(new Event('input', {bubbles: true}));" +
        "el.dispatchEvent(new Event('change', {bubbles: true}));",
      elemRef(findElementId(selector)), F.numberNode(percentage))

  override def waitFor(selector: String, timeoutMillis: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    while (findElementIds(selector).isEmpty) {
      if (System.currentTimeMillis() >= deadline)
        throw new IllegalStateException(s"waitFor: '$selector' never appeared at $currentUri")
      Thread.sleep(50)
    }
  }

  override def currentUri: String = http("GET", s("/url"), None).asText()

  override def pageSource: String = http("GET", s("/source"), None).asText()

  override def screenshot: Array[Byte] =
    Base64.getDecoder.decode(http("GET", s("/screenshot"), None).asText())

  override def close(): Unit =
    try { http("DELETE", s(""), None); () }
    catch { case scala.util.control.NonFatal(_) => () }
}
