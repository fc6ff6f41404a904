package graft.doc

import scala.collection.mutable.ArrayBuffer

/** HTML/XML tree with a CSS-subset selector engine (reference
  * doc/HtmlNode.scala:75-164, which delegates to Jsoup — not on our
  * classpath, so this is a self-contained minimal parser: tags, attributes,
  * entities, comments, void/raw-text elements, tolerant of unclosed tags).
  *
  * Selector subset: `tag`, `#id`, `.class`, `[attr]`, `[attr=v]`, `[attr^=v]`,
  * `[attr$=v]`, `[attr*=v]`, compounds thereof, descendant (space) and child
  * (`>`) combinators, and comma-separated groups. This covers every selector
  * in the reference's own tests and fixtures.
  */
final class HtmlNode private[doc] (
    val tag: String,
    val attributes: Map[String, String],
    val baseUri: String,
    @transient private[doc] var parentOpt: Option[HtmlNode],
    private[doc] val kids: ArrayBuffer[HtmlNode],
    private[doc] val textData: String
) extends Node {

  def isText: Boolean = tag == "#text"
  def isElement: Boolean = !isText

  override def childNodes: Seq[Node] = kids.toSeq.filter(_.isElement)

  private def allElements: Iterator[HtmlNode] =
    kids.iterator.filter(_.isElement).flatMap(k => Iterator(k) ++ k.allElements)

  override def findAll(selector: String): Seq[Node] = {
    val groups = Selector.parse(selector)
    allElements.filter(el => groups.exists(g => Selector.matches(el, g, scope = this))).toSeq
  }

  override def children(selector: String): Seq[Node] = {
    val groups = Selector.parse(selector)
    kids.toSeq.filter(_.isElement)
      .filter(el => groups.exists(g => g.size == 1 && Selector.matchCompound(el, g.head._2)))
  }

  override protected def withSiblings(range: Range, stops: Seq[Node]): Seq[Node] =
    parentOpt match {
      case None => Seq(this)
      case Some(p) =>
        val sibs = p.kids.toIndexedSeq.filter(_.isElement)
        val i = sibs.indexWhere(_ eq this)
        val stopSet = stops.collect { case h: HtmlNode if !(h eq this) => h }
        var lo = math.max(0, i + range.min)
        var hi = math.min(sibs.size - 1, i + range.max)
        // clip at neighboring matches (reference HtmlNode.scala:94-109)
        (lo until i).reverse.foreach { j =>
          if (stopSet.exists(_ eq sibs(j))) lo = math.max(lo, j + 1)
        }
        ((i + 1) to hi).foreach { j =>
          if (stopSet.exists(_ eq sibs(j))) hi = math.min(hi, j - 1)
        }
        sibs.slice(lo, hi + 1)
    }

  /** Whitespace-normalized recursive text. */
  override def text: String = {
    val sb = new StringBuilder
    def walk(n: HtmlNode): Unit =
      if (n.isText) sb.append(n.textData).append(' ')
      else n.kids.foreach(walk)
    walk(this)
    normalize(sb.result())
  }

  override def ownText: String =
    normalize(kids.filter(_.isText).map(_.textData).mkString(" "))

  private def normalize(s: String): String =
    s.replace(' ', ' ').split("\\s+").filter(_.nonEmpty).mkString(" ")

  override def code: String = serialize(pretty = false, 0)

  override def formattedCode: String = serialize(pretty = true, 0)

  private def serialize(pretty: Boolean, indent: Int): String = {
    val pad = if (pretty) "  " * indent else ""
    val nl = if (pretty) "\n" else ""
    if (isText) pad + textData.trim
    else {
      val attrStr = attributes.map { case (k, v) => s""" $k="$v"""" }.mkString
      val inner = kids.filter(k => k.isElement || k.textData.trim.nonEmpty)
        .map(_.serialize(pretty, indent + 1)).mkString(nl)
      if (kids.isEmpty) s"$pad<$tag$attrStr/>"
      else s"$pad<$tag$attrStr>$nl$inner$nl$pad</$tag>"
    }
  }

  override def attr(name: String, noEmpty: Boolean = true): Option[String] =
    attributes.get(name.toLowerCase)
      .map(_.replace(' ', ' ').trim)
      .filter(v => !noEmpty || v.nonEmpty)

  override def allAttr: Map[String, String] = attributes

  override def href: Option[String] = attr("href").map(absolutize)
  override def src: Option[String] = attr("src").map(absolutize)

  private def absolutize(link: String): String =
    try {
      if (baseUri.isEmpty) link
      else new java.net.URI(baseUri).resolve(link).toString
    } catch { case scala.util.control.NonFatal(_) => link }

  override def breadcrumb: Seq[String] = {
    def walk(n: HtmlNode): List[String] = n.parentOpt match {
      case Some(p) if p.tag != "#root" => walk(p) :+ n.tag
      case _                           => List(n.tag)
    }
    walk(this)
  }

  /** Article-text extraction reimplementing boilerpipe's default pipeline
    * (the reference delegates to the boilerpipe LIBRARY — HtmlNode.scala:
    * 166-170): segment the DOM into text blocks at block-level tag
    * boundaries, then classify each with the published NumWordsRules
    * decision tree over (words, link density) of the previous/current/next
    * block (Kohlschütter, Fankhauser, Nejdl: "Boilerplate Detection using
    * Shallow Text Features", WSDM 2010 — the rules are Fig. 4 / the
    * DefaultExtractor classifier). Falls back to full text when nothing
    * classifies as content.
    */
  override def boilerPipe: String = {
    val blocks = HtmlNode.textBlocks(this)
    val content = blocks.indices.collect {
      case i if HtmlNode.isContent(
        if (i > 0) Some(blocks(i - 1)) else None,
        blocks(i),
        if (i + 1 < blocks.length) Some(blocks(i + 1)) else None) =>
        blocks(i).text
    }
    if (content.isEmpty) text else content.mkString("\n")
  }

  override def toString: String = if (isText) s"#text(${textData.trim})" else s"<$tag>"
}

object HtmlNode {

  private val voidTags = Set("area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")
  private val rawTextTags = Set("script", "style")

  // ---- boilerpipe-style article extraction (WSDM 2010 shallow features) ----

  private val blockBoundaryTags = Set("p", "div", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "ul", "ol", "table", "tr", "td", "th", "blockquote", "pre", "article",
    "section", "header", "footer", "aside", "nav", "form", "body", "html", "br")
  private val skippedTags = Set("script", "style", "title", "option", "select", "noscript")

  private[doc] final case class TextBlock(text: String, numWords: Int, linkWords: Int) {
    def linkDensity: Double = if (numWords == 0) 0.0 else linkWords.toDouble / numWords
  }

  /** Segment the subtree into text blocks at block-level tag boundaries,
    * counting words and anchor-text words per block (the shallow features).
    */
  private[doc] def textBlocks(root: HtmlNode): Vector[TextBlock] = {
    val out = Vector.newBuilder[TextBlock]
    val sb = new StringBuilder
    var words = 0
    var linkWords = 0

    def flush(): Unit = {
      if (words > 0) out += TextBlock(sb.toString.trim, words, linkWords)
      sb.clear(); words = 0; linkWords = 0
    }

    def walk(n: HtmlNode, inAnchor: Boolean): Unit =
      if (n.isText) {
        val w = n.textData.split("\\s+").count(_.nonEmpty)
        if (w > 0) {
          if (sb.nonEmpty) sb.append(' ')
          sb.append(n.textData.trim)
          words += w
          if (inAnchor) linkWords += w
        }
      } else if (!skippedTags.contains(n.tag)) {
        val boundary = blockBoundaryTags.contains(n.tag)
        if (boundary) flush()
        n.kids.foreach(walk(_, inAnchor || n.tag == "a"))
        if (boundary) flush()
      }

    walk(root, inAnchor = false)
    flush()
    out.result()
  }

  /** The published NumWordsRules decision tree (Kohlschütter et al., WSDM
    * 2010, Fig. 4 — boilerpipe's DefaultExtractor classifier): a block is
    * content iff these rules over (prev, curr, next) word counts and link
    * densities say so.
    */
  private[doc] def isContent(prev: Option[TextBlock], curr: TextBlock,
                             next: Option[TextBlock]): Boolean = {
    val prevWords = prev.map(_.numWords).getOrElse(0)
    val nextWords = next.map(_.numWords).getOrElse(0)
    val prevLink = prev.map(_.linkDensity).getOrElse(0.0)
    if (curr.linkDensity > 0.333333) false
    else if (prevLink <= 0.555556) {
      if (curr.numWords > 16) true
      else if (nextWords > 15) true
      else prevWords > 4
    } else {
      if (curr.numWords > 40) true
      else nextWords > 17
    }
  }

  /** Parse an HTML/XML string into a tree rooted at a synthetic `#root`. */
  /** XML-mode parse: identical grammar but NO void elements and no
    * raw-text elements — XML has neither, and an RSS `<link>url</link>`
    * or an Atom `<script>`-named element must nest normally where the
    * HTML rules would orphan their content.
    */
  def parseXml(xml: String, baseUri: String = ""): HtmlNode =
    parse(xml, baseUri, xmlMode = true)

  def parse(html: String, baseUri: String = "", xmlMode: Boolean = false): HtmlNode = {
    val root = mk("#root", Map.empty, baseUri, None, "")
    var stack = List(root)
    val n = html.length
    val lower = html.toLowerCase // once — per-script recompute is quadratic on real pages
    var i = 0
    var textStart = 0

    def flushText(until: Int): Unit =
      if (until > textStart) {
        val raw = Entities.decode(html.substring(textStart, until))
        if (hasNonWhitespace(raw)) {
          val t = mk("#text", Map.empty, baseUri, Some(stack.head), raw)
          stack.head.kids += t
        }
      }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (html.startsWith("<!--", i)) {
          flushText(i)
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          textStart = i
        } else if (c1 == '!' || c1 == '?') { // doctype / processing instruction
          flushText(i)
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
          textStart = i
        } else if (c1 == '/') {
          flushText(i)
          val end = html.indexOf('>', i)
          val name = html.substring(i + 2, if (end < 0) n else end).trim.toLowerCase
          // pop to the matching open tag if present in the stack
          if (stack.exists(e => e.tag == name)) {
            while (stack.head.tag != name && stack.size > 1) stack = stack.tail
            if (stack.size > 1) stack = stack.tail
          }
          i = if (end < 0) n else end + 1
          textStart = i
        } else if (c1.isLetter) {
          flushText(i)
          val (el, next, selfClosed) = parseTag(html, i, baseUri, stack.head)
          stack.head.kids += el
          i = next
          val tag = el.tag
          if (!selfClosed && !xmlMode && rawTextTags.contains(tag)) {
            val close = lower.indexOf(s"</$tag", i)
            val end = if (close < 0) n else close
            val raw = html.substring(i, end)
            if (raw.trim.nonEmpty) el.kids += mk("#text", Map.empty, baseUri, Some(el), raw)
            val gt = html.indexOf('>', end)
            i = if (gt < 0) n else gt + 1
          } else if (!selfClosed && (xmlMode || !voidTags.contains(tag))) {
            stack = el :: stack
          }
          textStart = i
        } else { i += 1 }
      } else { i += 1 }
    }
    flushText(n)
    root
  }

  /** `Character.isWhitespace` over `charAt`, without boxing each char
    * (U+00A0 is not whitespace, so a no-break-space run is text).
    */
  private def hasNonWhitespace(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (!Character.isWhitespace(s.charAt(i))) return true
      i += 1
    }
    false
  }

  private def mk(tag: String, attrs: Map[String, String], base: String,
                 parent: Option[HtmlNode], text: String): HtmlNode =
    new HtmlNode(tag, attrs, base, parent, ArrayBuffer.empty, text)

  /** Parse `<name attr=val ...>` starting at `<`; returns (node, posAfterGt, selfClosed). */
  private def parseTag(html: String, start: Int, base: String,
                       parent: HtmlNode): (HtmlNode, Int, Boolean) = {
    val n = html.length
    var i = start + 1
    val nameStart = i
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '-' || html.charAt(i) == ':')) i += 1
    val name = html.substring(nameStart, i).toLowerCase
    val attrs = Map.newBuilder[String, String]
    var selfClosed = false
    var done = false
    while (i < n && !done) {
      val c = html.charAt(i)
      if (c == '>') { done = true; i += 1 }
      else if (c == '/' && i + 1 < n && html.charAt(i + 1) == '>') { selfClosed = true; done = true; i += 2 }
      else if (c == '/') i += 1 // stray slash inside a tag: skip (no-progress loop otherwise)
      else if (c.isWhitespace) i += 1
      else {
        val aStart = i
        while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '=' &&
          html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
        val aName = html.substring(aStart, i).toLowerCase
        if (i == aStart) i += 1 // non-name char ('='): guarantee progress
        var aVal = ""
        while (i < n && html.charAt(i).isWhitespace) i += 1
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i); i += 1
            val vStart = i
            while (i < n && html.charAt(i) != q) i += 1
            aVal = html.substring(vStart, i)
            if (i < n) i += 1
          } else {
            val vStart = i
            while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '>') i += 1
            aVal = html.substring(vStart, i)
          }
        }
        if (aName.nonEmpty) attrs += aName -> Entities.decode(aVal)
      }
    }
    val el = mk(name, attrs.result(), base, Some(parent), "")
    (el, i, selfClosed)
  }
}

/** Minimal HTML entity decoding. */
private[doc] object Entities {
  private val named = Map("amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ")

  def decode(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i)
        if (semi > i && semi - i <= 8) {
          val ent = s.substring(i + 1, semi)
          val decoded =
            if (ent.startsWith("#x") || ent.startsWith("#X"))
              scala.util.Try(Integer.parseInt(ent.drop(2), 16).toChar.toString).toOption
            else if (ent.startsWith("#"))
              scala.util.Try(ent.drop(1).toInt.toChar.toString).toOption
            else named.get(ent)
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None    => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }
}

/** CSS selector subset parser + matcher. */
private[doc] object Selector {

  sealed trait Comb
  case object Descendant extends Comb
  case object Child extends Comb

  final case class Compound(tag: Option[String], id: Option[String],
                            classes: Seq[String], attrs: Seq[(String, String, String)])

  /** Parse into groups (comma-separated); each group is a chain of
    * (combinator-to-previous, compound).
    */
  def parse(selector: String): Seq[Seq[(Comb, Compound)]] =
    selector.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(parseGroup)

  private def parseGroup(g: String): Seq[(Comb, Compound)] = {
    // tokenize on whitespace, treating '>' as its own token
    val toks = g.replace(">", " > ").split("\\s+").toSeq.filter(_.nonEmpty)
    val out = Seq.newBuilder[(Comb, Compound)]
    var comb: Comb = Descendant
    toks.foreach {
      case ">" => comb = Child
      case t   => out += ((comb, parseCompound(t))); comb = Descendant
    }
    out.result()
  }

  def parseCompound(s: String): Compound = {
    var tag: Option[String] = None
    var id: Option[String] = None
    val classes = Seq.newBuilder[String]
    val attrs = Seq.newBuilder[(String, String, String)]
    var i = 0
    val n = s.length
    def readName(): String = {
      val st = i
      while (i < n && (s.charAt(i).isLetterOrDigit || "-_".contains(s.charAt(i)))) i += 1
      s.substring(st, i)
    }
    if (i < n && (s.charAt(i).isLetter || s.charAt(i) == '*')) {
      if (s.charAt(i) == '*') { i += 1 }
      else tag = Some(readName().toLowerCase)
    }
    while (i < n) {
      s.charAt(i) match {
        case '#' => i += 1; id = Some(readName())
        case '.' => i += 1; classes += readName()
        case '[' =>
          val close = s.indexOf(']', i)
          val body = s.substring(i + 1, if (close < 0) n else close)
          i = if (close < 0) n else close + 1
          val opIdx = body.indexWhere(c => c == '=' || c == '^' || c == '$' || c == '*')
          if (opIdx < 0) attrs += ((body.toLowerCase, "exists", ""))
          else {
            val (op, vStart) = body.charAt(opIdx) match {
              case '=' => ("=", opIdx + 1)
              case c   => (s"$c=", opIdx + 2)
            }
            val v = body.substring(vStart).stripPrefix("\"").stripSuffix("\"")
              .stripPrefix("'").stripSuffix("'")
            attrs += ((body.take(opIdx).toLowerCase, op, v))
          }
        case _ => i += 1
      }
    }
    Compound(tag, id, classes.result(), attrs.result())
  }

  def matchCompound(el: HtmlNode, c: Compound): Boolean =
    c.tag.forall(_ == el.tag) &&
      c.id.forall(el.attributes.get("id").contains(_)) &&
      c.classes.forall(cl =>
        el.attributes.get("class").exists(_.split("\\s+").contains(cl))) &&
      c.attrs.forall { case (name, op, v) =>
        el.attributes.get(name).exists { av =>
          op match {
            case "exists" => true
            case "="      => av == v
            case "^="     => av.startsWith(v)
            case "$="     => av.endsWith(v)
            case "*="     => av.contains(v)
            case _        => false
          }
        }
      }

  /** Right-to-left chain match, never crossing above `scope`. */
  def matches(el: HtmlNode, chain: Seq[(Comb, Compound)], scope: HtmlNode): Boolean = {
    def go(node: HtmlNode, parts: List[(Comb, Compound)]): Boolean = parts match {
      case Nil => true
      case (comb, compound) :: rest =>
        if (!matchCompound(node, compound)) false
        else rest match {
          case Nil => true
          case _ =>
            comb match {
              case Child      => ancestorsWithin(node, scope).headOption.exists(go(_, rest))
              case Descendant => ancestorsWithin(node, scope).exists(go(_, rest))
            }
        }
    }
    go(el, reversed(chain))
  }

  /** Reverse the chain so matching walks right-to-left: the rightmost
    * compound pairs with the combinator that linked it to its left neighbor.
    */
  private def reversed(chain: Seq[(Comb, Compound)]): List[(Comb, Compound)] = {
    val compounds = chain.map(_._2)
    val combs = chain.map(_._1)
    // chain: (c0, p0), (c1, p1), (c2, p2) — c_i links p_{i-1} to p_i.
    // reversed: (c2→p2's left link, p2), then p1 with c1, then p0 terminal.
    val n = chain.size
    (0 until n).reverse.map { i =>
      val comb = if (i == 0) Descendant else combs(i)
      (comb, compounds(i))
    }.toList
  }

  private def ancestorsWithin(node: HtmlNode, scope: HtmlNode): List[HtmlNode] = {
    var out = List.empty[HtmlNode]
    var cur = node.parentOpt
    while (cur.isDefined && !(cur.get eq scope)) {
      out = out :+ cur.get
      cur = cur.get.parentOpt
    }
    out
  }
}
