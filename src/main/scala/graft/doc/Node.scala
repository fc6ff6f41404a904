package graft.doc

/** Unified selector-queryable tree over HTML/XML, JSON and plain text
  * (reference doc/Node.scala:51-87, NodeContainer.scala:3-23). One API for
  * every content type; unparseable/binary content gets the
  * [[Node.Unrecognisable]] null-object (reference Node.scala:8-26).
  *
  * Trees are transient executor-side views over [[Doc]] bytes — never
  * serialized into rows (reference marks them NOTSerializable; we rebuild
  * lazily per partition).
  */
trait Node {

  /** All descendants matching the selector (CSS subset for HTML, field-path
    * for JSON). Reference `findAll`/`\\`.
    */
  def findAll(selector: String): Seq[Node]

  /** Exactly one match, error otherwise (reference NodeContainer.scala:20-23). */
  def findOnly(selector: String): Node = {
    val all = findAll(selector)
    require(all.size == 1, s"findOnly('$selector'): expected 1 match, got ${all.size}")
    all.head
  }

  def findFirst(selector: String): Option[Node] = findAll(selector).headOption

  /** Direct children matching the selector (reference Node.scala:57-66). */
  def children(selector: String): Seq[Node]

  def child(selector: String): Option[Node] = children(selector).headOption

  /** All direct child nodes. */
  def childNodes: Seq[Node]

  /** Each match expanded to a bounded sibling window, clipped at neighboring
    * matches (reference HtmlNode.scala:82-109, Node.scala:54-66).
    */
  def findAllWithSiblings(selector: String, range: Range): Seq[Seq[Node]] = {
    val matches = findAll(selector)
    matches.map(m => m.withSiblings(range, matches))
  }

  def childrenWithSiblings(selector: String, range: Range): Seq[Seq[Node]] = {
    val matches = children(selector)
    matches.map(m => m.withSiblings(range, matches))
  }

  /** This node's sibling slice per `range`, clipped at `stops` (other matches). */
  protected def withSiblings(range: Range, stops: Seq[Node]): Seq[Node] = Seq(this)

  /** Full recursive text content. */
  def text: String

  /** Text of this node only (no descendants). */
  def ownText: String = text

  /** Raw outer serialization (reference `code`). */
  def code: String

  /** Pretty-printed outer serialization. */
  def formattedCode: String = code

  /** Attribute value; empty/nbsp-only → None when noEmpty (reference
    * HtmlNode.scala:140-153).
    */
  def attr(name: String, noEmpty: Boolean = true): Option[String] = None

  def allAttr: Map[String, String] = Map.empty

  /** Absolutized link attribute (reference HtmlNode.scala:155-160). */
  def href: Option[String] = None
  def src: Option[String] = None

  /** Tag path from root (reference HtmlNode.scala:12-17,174). */
  def breadcrumb: Seq[String] = Seq.empty

  /** Article-text extraction: text of high-density blocks (stands in for the
    * reference's boilerpipe dependency — HtmlNode.scala:166-170).
    */
  def boilerPipe: String = text
}

object Node {

  /** Parse bytes into the right tree for the mime (reference Doc.scala:157-199
    * content-type dispatch; Tika normalisation replaced by native parsers per
    * family).
    */
  def parse(content: Array[Byte], mime: String, uri: String = "",
            charset: String = "UTF-8"): Node = {
    val m = mime.toLowerCase
    try {
      lazy val str = new String(content, java.nio.charset.Charset.forName(charset))
      // "officedocument…ml" mimes contain "xml" — dispatch them before markup;
      // rtf before text/ (text/rtf would fall into the plain-text branch)
      // RTF is decoded latin-1 regardless of the declared charset: every
      // byte maps 1:1 to a char, which keeps \binN raw-byte skips
      // byte-exact (a lossy UTF-8 decode would collapse invalid sequences
      // and desynchronize the skip); RTF text itself is ASCII + \'hh/\uN
      // escapes, so latin-1 loses nothing.
      lazy val rtfStr = new String(content, java.nio.charset.StandardCharsets.ISO_8859_1)
      if (m.contains("epub")) EpubNode.parse(content)
      else if (m.contains("officedocument")) OfficeNode.parse(content)
      else if (m.contains("opendocument")) OdfNode.parse(content)
      else if (m.contains("application/zip")) {
        // magic-sniffed zips, in order: OOXML parts, ODF content.xml, EPUB
        // chapters, the generic archive listing (r10 — plain zips used to
        // fall to Unrecognisable). The central directory's names pick the
        // one parser they point to, so a zip is walked once; when that
        // parser finds nothing, or the directory is unreadable, the order
        // runs as written. The directory is trusted: one whose names
        // disagree with the entries' own headers still picks by its names
        val parsers = Vector[Array[Byte] => Node](
          OfficeNode.parse, OdfNode.parse, EpubNode.parse, ArchiveNode.fromZip(_))
        val pick = Codecs.zipNames(content).map { names =>
          if (names.exists(OfficeNode.isTextPart)) 0
          else if (names.contains("content.xml")) 1
          else if (names.exists(EpubNode.isChapter)) 2
          else 3
        }
        (pick.iterator ++ parsers.indices.iterator.filterNot(pick.contains))
          .map(parsers(_)(content)).find(_ ne Unrecognisable).getOrElse(Unrecognisable)
      }
      else if (m.contains("x-tar")) ArchiveNode.fromTar(content)
      else if (m.contains("7z")) ArchiveNode.from7z(content)
      else if (m.contains("rtf")) RtfNode.parse(rtfStr)
      else if (m.contains("rfc822") || m.startsWith("message/")) {
        // .eml: header-block parse + MIME walk; bodies that don't look
        // like a message fall through to plain text (mail archives carry
        // the occasional bare-text file under a .eml name)
        val eml = EmlNode.parse(content)
        if (eml eq Unrecognisable) PlainNode(str) else eml
      }
      else if (m.contains("msword") || m.contains("vnd.ms-excel") ||
        m.contains("vnd.ms-powerpoint") || m.contains("vnd.ms-outlook")) {
        // "RTF saved as .doc" is a common real-world shape: the extension
        // says msword but the bytes are RTF — fall through to the RTF
        // interpreter when the CFB magic is absent. Real CFBs get the
        // structured walk (Word piece table / BIFF8 SST — CfbNode), which
        // itself degrades to printable-run salvage for other CFB content.
        val cfb = CfbNode.parse(content)
        if ((cfb eq Unrecognisable) && rtfStr.startsWith("{\\rtf")) RtfNode.parse(rtfStr)
        else cfb
      }
      // xml parses in XML mode (no void/raw-text elements — RSS <link>
      // bodies nest); html keeps the HTML5-ish rules
      else if (m.contains("html")) HtmlNode.parse(str, uri)
      else if (m.contains("xml")) HtmlNode.parseXml(str, uri)
      else if (m.contains("json")) JsonNode.parse(str)
      else if (m.contains("pdf")) PdfNode.parse(content)
      else if (m.contains("tiff")) TiffNode.parse(content)
      else if (m.contains("postscript")) PsNode.parse(content)
      else if (m.contains("image/jpeg")) JpegNode.parse(content)
      else if (m.contains("image/png")) PngNode.parse(content)
      else if (m.startsWith("text/csv")) CsvNode.parse(str)
      else if (m.contains("subrip") || m.contains("text/vtt")) {
        // malformed cue files degrade to plain text, never to nothing
        val sub = SubtitleNode.parse(content)
        if (sub eq Unrecognisable) PlainNode(str) else sub
      }
      else if (m.startsWith("text/")) PlainNode(str)
      else Unrecognisable
    } catch {
      case scala.util.control.NonFatal(_) => Unrecognisable
    }
  }

  /** Null-object for binary/unparseable content (reference Node.scala:8-26). */
  case object Unrecognisable extends Node {
    override def findAll(selector: String): Seq[Node] = Seq.empty
    override def children(selector: String): Seq[Node] = Seq.empty
    override def childNodes: Seq[Node] = Seq.empty
    override def text: String = ""
    override def code: String = ""
  }
}

/** Plain-text fallback node (reference doc/PlainNode.scala): one leaf, whole
  * content as text; selectors match nothing.
  */
final case class PlainNode(content: String) extends Node {
  override def findAll(selector: String): Seq[Node] = Seq.empty
  override def children(selector: String): Seq[Node] = Seq.empty
  override def childNodes: Seq[Node] = Seq.empty
  override def text: String = content
  override def code: String = content
}

/** CSV cells with header-named access (reference doc/CSVElement.scala intent):
  * `findAll("colName")` yields that column's cells; rows are childNodes.
  */
object CsvNode {
  def parse(content: String, sep: Char = ','): Node = {
    val lines = content.split("\r?\n").toIndexedSeq.filter(_.nonEmpty)
    if (lines.isEmpty) PlainNode("")
    else {
      val header = splitLine(lines.head, sep)
      val rows = lines.tail.map(splitLine(_, sep))
      CsvTable(header, rows)
    }
  }

  // minimal RFC4180: double-quoted fields with "" escapes
  private def splitLine(line: String, sep: Char): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else if (c == '"') inQ = true
      else if (c == sep) { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.result()
    out.result()
  }

  final case class CsvTable(header: IndexedSeq[String], rows: IndexedSeq[IndexedSeq[String]])
      extends Node {
    override def findAll(selector: String): Seq[Node] = {
      val idx = header.indexOf(selector)
      if (idx < 0) Seq.empty
      else rows.flatMap(r => r.lift(idx)).map(PlainNode(_))
    }
    override def children(selector: String): Seq[Node] = findAll(selector)
    override def childNodes: Seq[Node] =
      rows.map(r => CsvTable(header, IndexedSeq(r)))
    override def text: String = rows.map(_.mkString(",")).mkString("\n")
    override def code: String = (header +: rows).map(_.mkString(",")).mkString("\n")
  }
}
