package graft.agent

import graft.doc.HtmlNode

/** Pluggable browser session driven by the interpreter (reference
  * module/web Selenium actions — Selenium itself is NOT bundled here; a real
  * deployment drives a W3C WebDriver remote end through
  * [[RemoteWebDriverFactory]], tests and offline runs use [[MockBrowser]]).
  */
trait BrowserDriver {
  def visit(uri: String): Unit
  def click(selector: String): Unit
  def clickNext(selector: String, exclude: Seq[String]): Unit
  def textInput(selector: String, text: String): Unit
  def submit(selector: String): Unit
  def dropDownSelect(selector: String, value: String): Unit
  def toFrame(selector: String): Unit
  def exeScript(script: String): Unit
  def dragSlider(selector: String, percentage: Double): Unit
  def waitFor(selector: String, timeoutMillis: Long): Unit
  def currentUri: String
  def pageSource: String
  def screenshot: Array[Byte]
  def close(): Unit
}

/** Executor-side driver pool seam; implementations must be serializable
  * (shipped in closures), drivers themselves are created per partition.
  */
trait DriverFactory extends Serializable {
  def create(): BrowserDriver
}

/** Deterministic in-memory browser over a site graph `uri => html` —
  * the offline stand-in for Selenium (same role as the reference's Mock
  * action + integration test site). `click` follows the matched element's
  * href; forms/scripts record their interaction into the page state so
  * Snapshot output reflects them.
  */
final class MockBrowser(site: String => Option[String]) extends BrowserDriver {

  private var uri: String = ""
  private var source: String = ""
  private var inputs: Map[String, String] = Map.empty

  private def load(u: String): Unit = {
    uri = u
    source = site(u).getOrElse(throw new IllegalArgumentException(s"mock 404: $u"))
    inputs = Map.empty
  }

  override def visit(u: String): Unit = load(u)

  override def click(selector: String): Unit = {
    val root = HtmlNode.parse(source, uri)
    val target = root.findFirst(selector)
      .getOrElse(throw new IllegalArgumentException(s"click: no match for '$selector' at $uri"))
    target.href.foreach(load)
  }

  override def clickNext(selector: String, exclude: Seq[String]): Unit = {
    val root = HtmlNode.parse(source, uri)
    val next = root.findAll(selector)
      .find(n => n.href.exists(h => !exclude.contains(h)))
      .getOrElse(throw new IllegalArgumentException(s"clickNext: exhausted '$selector' at $uri"))
    next.href.foreach(load)
  }

  override def textInput(selector: String, text: String): Unit =
    inputs += selector -> text

  override def submit(selector: String): Unit = {
    // deterministic form submit: navigate to action?input values
    val root = HtmlNode.parse(source, uri)
    val form = root.findFirst("form").orElse(root.findFirst(selector))
    val action = form.flatMap(_.attr("action")).getOrElse(uri)
    val qs = inputs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("&")
    load(if (qs.isEmpty) action else s"$action?$qs")
  }

  override def dropDownSelect(selector: String, value: String): Unit =
    inputs += selector -> value

  override def toFrame(selector: String): Unit = {
    val root = HtmlNode.parse(source, uri)
    root.findFirst(selector).flatMap(_.src).foreach(load)
  }

  override def exeScript(script: String): Unit = ()

  override def dragSlider(selector: String, percentage: Double): Unit =
    inputs += selector -> percentage.toString

  override def waitFor(selector: String, timeoutMillis: Long): Unit = {
    val root = HtmlNode.parse(source, uri)
    if (root.findFirst(selector).isEmpty)
      throw new IllegalStateException(s"waitFor: '$selector' never appeared at $uri")
  }

  override def currentUri: String = uri
  override def pageSource: String = source
  override def screenshot: Array[Byte] =
    s"PNG-MOCK:$uri:${graft.actions.Trace.digest(source).take(16)}".getBytes("UTF-8")
  override def close(): Unit = ()
}

final case class MockBrowserFactory(site: Map[String, String]) extends DriverFactory {
  override def create(): BrowserDriver = new MockBrowser(site.get)
}
