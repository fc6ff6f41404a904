package graft.doc

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Minimal native PDF text extraction behind the [[Node]] seam (reference
  * doc/Content.scala:50-60 + Doc.scala:185-199 route any-mime content
  * through Tika into HTML; Tika is not available here, so PDFs get a
  * first-class native parser for the subset that matters for text search):
  *
  *   - object/stream scanning without an xref table (tolerant of linearized
  *     or appended-update files: every `stream…endstream` body is visited in
  *     document order)
  *   - `/FlateDecode` streams inflated through [[Codecs.inflateStream]]
  *     (the overwhelming majority of real-world content streams), a
  *     truncated stream keeping its output; a stream that would inflate
  *     past [[Codecs.MaxInflate]] adds no text (bomb guard); unfiltered
  *     streams used as-is; unsupported filters skipped
  *   - text operators inside BT…ET blocks: `Tj`, `'`, `"`, `TJ` arrays,
  *     with literal-string escapes (\\n, \\t, octal, …) and hex strings;
  *     `Td`/`TD`/`T*`/`ET` emit line breaks
  *
  * Result shape: one [[PdfNode]] per BT…ET text block (a paragraph-ish
  * unit), `text` joins them with newlines. Selectors don't apply to PDF
  * text; `findAll` returns blocks for the pseudo-selector "block", nothing
  * otherwise — the common call is `.text` via `Trajectory.texts("*")` or
  * boilerPipe.
  */
object PdfNode {

  def parse(content: Array[Byte]): Node = {
    val blocks = ArrayBuffer.empty[String]
    var i = indexOf(content, "stream", 0)
    while (i >= 0) {
      val bodyStart = {
        var j = i + "stream".length
        if (j < content.length && content(j) == '\r') j += 1
        if (j < content.length && content(j) == '\n') j += 1
        j
      }
      val end = indexOf(content, "endstream", bodyStart)
      if (end < 0) { i = -1 } // truncated file: stop scanning
      else {
        val dict = dictBefore(content, i)
        val data =
          if (dict.contains("/FlateDecode"))
            Codecs.inflateStream(content, bodyStart, end, Codecs.MaxInflate).map(_.bytes)
          else if (dict.contains("/Filter")) None // unsupported filter: skip
          else Some(java.util.Arrays.copyOfRange(content, bodyStart, end))
        data.foreach { bytes =>
          val s = new String(bytes, StandardCharsets.ISO_8859_1)
          if (s.contains("BT")) blocks ++= textBlocks(s)
        }
        i = indexOf(content, "stream", end + "endstream".length)
      }
    }
    val bs = blocks.filter(_.nonEmpty).toVector
    if (bs.isEmpty) Node.Unrecognisable else new PdfRoot(bs)
  }

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.getBytes(StandardCharsets.ISO_8859_1)
    var i = math.max(0, from)
    val last = hay.length - n.length
    while (i <= last) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  /** The `<<…>>` dictionary immediately preceding a `stream` keyword. */
  private def dictBefore(content: Array[Byte], streamPos: Int): String = {
    val from = math.max(0, streamPos - 512)
    val s = new String(content, from, streamPos - from, StandardCharsets.ISO_8859_1)
    val open = s.lastIndexOf("<<")
    if (open < 0) "" else s.substring(open)
  }

  /** Extract one string per BT…ET block from a content stream. ONE scan
    * with string-literal awareness: `BT`/`ET`/`Td` are only operators when
    * they appear OUTSIDE a `(…)` literal or `<…>` hex string, so text that
    * happens to contain "ET" (…MARKET…) can never truncate its own block.
    */
  private[doc] def textBlocks(stream: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var sb: StringBuilder = null // non-null while inside a BT…ET block
    var i = 0
    val n = stream.length
    def newlineIfNeeded(): Unit =
      if (sb != null && sb.nonEmpty && !sb.endsWith("\n")) sb += '\n'
    while (i < n) {
      stream.charAt(i) match {
        case '(' =>
          val (s, next) = literalString(stream, i)
          if (sb != null) sb ++= s
          i = next
        case '<' if i + 1 < n && stream.charAt(i + 1) == '<' =>
          i += 2 // dict open — not a hex string
        case '<' =>
          val close = stream.indexOf('>', i)
          if (close < 0) i = n
          else {
            if (sb != null) sb ++= hexString(stream.substring(i + 1, close))
            i = close + 1
          }
        case 'B' if i + 1 < n && stream.charAt(i + 1) == 'T' =>
          if (sb == null) sb = new StringBuilder
          i += 2
        case 'E' if sb != null && i + 1 < n && stream.charAt(i + 1) == 'T' =>
          out += sb.result().trim
          sb = null
          i += 2
        case 'T' if sb != null && i + 1 < n =>
          stream.charAt(i + 1) match {
            case 'd' | 'D' | '*' => newlineIfNeeded(); i += 2
            case _ => i += 1
          }
        case '\'' | '"' if sb != null => newlineIfNeeded(); i += 1
        case _ => i += 1
      }
    }
    if (sb != null) out += sb.result().trim // truncated stream: keep partial
    out.toSeq
  }

  /** PDF literal string starting at `(`: returns (decoded, indexAfter). */
  private def literalString(s: String, open: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var i = open + 1
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case 'n' => sb += '\n'; i += 2
            case 'r' => sb += '\r'; i += 2
            case 't' => sb += '\t'; i += 2
            case 'b' => sb += '\b'; i += 2
            case 'f' => sb += '\f'; i += 2
            case '(' => sb += '('; i += 2
            case ')' => sb += ')'; i += 2
            case '\\' => sb += '\\'; i += 2
            case '\n' => i += 2 // line continuation
            case d if d >= '0' && d <= '7' =>
              var j = i + 1
              var v = 0
              while (j < s.length && j < i + 4 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
                v = v * 8 + (s.charAt(j) - '0'); j += 1
              }
              sb += v.toChar
              i = j
            case other => sb += other; i += 2
          }
        case '(' => depth += 1; sb += '('; i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb += ')'
          i += 1
        case c => sb += c; i += 1
      }
    }
    (sb.result(), i)
  }

  private def hexString(hex: String): String = {
    val clean = hex.filterNot(_.isWhitespace)
    val padded = if (clean.length % 2 == 1) clean + "0" else clean
    padded.grouped(2).map(h =>
      try Integer.parseInt(h, 16).toChar catch { case _: NumberFormatException => '?' }
    ).mkString
  }

  /** Whole-document node: text blocks as children. */
  private final class PdfRoot(blocks: Vector[String]) extends Node {
    override def findAll(selector: String): Seq[Node] =
      if (selector == "block" || selector == "*") childNodes else Seq.empty
    override def children(selector: String): Seq[Node] = findAll(selector)
    override def childNodes: Seq[Node] = blocks.map(PlainNode(_))
    override def text: String = blocks.mkString("\n")
    override def code: String = text
    override def boilerPipe: String = text
  }
}
