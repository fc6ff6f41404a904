package graft.doc

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Native EPUB text extraction behind the [[Node]] seam — EPUB is a zip of
  * XHTML chapters (public OCF/OPS specs), so the existing zip walk and HTML
  * parser compose: every `.xhtml`/`.html`/`.htm` entry outside `META-INF/`
  * is parsed with [[HtmlNode]] and contributes its body text as one block,
  * in zip order (which published EPUBs lay out in spine order). A full
  * spine resolution via `content.opf` is deliberately out of scope —
  * best-effort extraction, same contract as the reference's Tika fallback.
  *
  * Bounds: chapters are read through [[Codecs.zipWalk]], whose per-entry
  * and total caps turn a zip bomb into partial text instead of an executor
  * OOM.
  */
object EpubNode {

  def parse(content: Array[Byte]): Node = {
    val blocks = ArrayBuffer.empty[String]
    Codecs.zipWalk(content, isChapter) { (_, bytes) =>
      val t = try HtmlNode.parse(decodeChapter(bytes)).text.trim
      catch { case scala.util.control.NonFatal(_) => "" }
      if (t.nonEmpty) blocks += t
      true
    }
    val bs = blocks.toVector
    if (bs.isEmpty) Node.Unrecognisable else new BlockRoot(bs)
  }

  /** UTF-8 default with a UTF-16 BOM check — the spec permits UTF-16
    * content documents, which a blind UTF-8 decode would turn into
    * NUL-interleaved mojibake contributed silently as text.
    */
  private def decodeChapter(bytes: Array[Byte]): String =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      new String(bytes, StandardCharsets.UTF_16BE)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      new String(bytes, StandardCharsets.UTF_16LE)
    else new String(bytes, StandardCharsets.UTF_8)

  private[doc] def isChapter(name: String): Boolean = {
    val lower = name.toLowerCase
    !lower.startsWith("meta-inf/") &&
      (lower.endsWith(".xhtml") || lower.endsWith(".html") || lower.endsWith(".htm"))
  }
}

/** Printable-run text SALVAGE for legacy binary Office files (.doc/.xls —
  * the CFB container, magic D0CF11E0): no stream-table walk, just the
  * UTF-16LE and ASCII printable runs of length >= 8 in file order. This is
  * explicitly best-effort ("extract SOMETHING, like Tika's fallback, not
  * nothing") — recovered blocks interleave real document text with sheet
  * names and style strings; callers that need faithful structure should
  * convert to OOXML upstream. Non-CFB input is [[Node.Unrecognisable]].
  */
object CfbSalvage {

  private val MinRun = 8
  private val TotalTextCap = 16 << 20 // runs accumulate ~file-sized on big inputs

  def parse(content: Array[Byte]): Node = {
    if (content.length < 8 ||
      (content(0) & 0xff) != 0xd0 || (content(1) & 0xff) != 0xcf ||
      (content(2) & 0xff) != 0x11 || (content(3) & 0xff) != 0xe0)
      return Node.Unrecognisable

    val blocks = ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var totalText = 0L

    def flush(): Unit = {
      if (sb.length >= MinRun && totalText < TotalTextCap) {
        val t = sb.toString.trim
        if (t.length >= MinRun) { blocks += t; totalText += t.length }
      }
      sb.clear()
    }

    @inline def printable(c: Char): Boolean =
      c == '\t' || (c >= ' ' && c != 0x7f && !Character.isISOControl(c) &&
        Character.isDefined(c) && c < 0xfffe)

    // pass 1: UTF-16LE runs (how Word stores most body text)
    var i = 0
    while (i + 1 < content.length) {
      val c = ((content(i) & 0xff) | ((content(i + 1) & 0xff) << 8)).toChar
      if (printable(c) && (content(i + 1) == 0 || c > 0xff)) { sb.append(c); i += 2 }
      else { flush(); i += 1 } // resync byte-wise between runs
    }
    flush()
    // pass 2: plain ASCII runs (cp1252 body text, sheet strings)
    i = 0
    while (i < content.length) {
      val c = (content(i) & 0xff).toChar
      if (c >= ' ' && c < 0x7f) sb.append(c) else flush()
      i += 1
    }
    flush()

    val bs = blocks.distinct.toVector
    if (bs.isEmpty) Node.Unrecognisable else new BlockRoot(bs)
  }
}
