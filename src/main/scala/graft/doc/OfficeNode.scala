package graft.doc

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Native OOXML (Office) text extraction behind the [[Node]] seam — the
  * docx/xlsx/pptx leg of the reference's Tika any-mime normalisation
  * (reference doc/Content.scala:50-60, Doc.scala:185-199). An OOXML file is
  * a zip of XML parts with fixed names; the text lives in:
  *
  *   - `word/document.xml` (+ footnotes/endnotes): runs `<w:t>` inside
  *     paragraphs `<w:p>`, with `<w:tab/>` emitting TAB and `<w:br/>` a
  *     newline
  *   - `xl/sharedStrings.xml`: one `<si>` per distinct cell string, runs in
  *     `<t>`
  *   - `ppt/slides/slideN.xml`: runs `<a:t>` inside paragraphs `<a:p>`,
  *     slides visited in numeric order
  *
  * Result shape mirrors [[PdfNode]]: one block per paragraph / cell string /
  * slide paragraph; `text` joins blocks with newlines; `findAll("block")`
  * (or "*") yields them. A zip that contains none of the known parts is
  * `Unrecognisable` — this parser never guesses at arbitrary archives.
  *
  * Bounds: parts are read through [[Codecs.zipWalk]], whose per-entry and
  * total caps turn a zip bomb into partial text instead of an executor OOM.
  */
object OfficeNode {

  def parse(content: Array[Byte]): Node = {
    val wanted = ArrayBuffer.empty[(String, String)] // (entry name, xml)
    Codecs.zipWalk(content, isTextPart) { (name, bytes) =>
      wanted += name -> new String(bytes, StandardCharsets.UTF_8)
      true
    }

    val blocks = ArrayBuffer.empty[String]
    wanted.sortBy { case (name, _) => (partRank(name), slideNumber(name), name) }
      .foreach {
        case (name, xml) if name.startsWith("word/") =>
          blocks ++= paragraphs(xml, "w")
        case (name, xml) if name == "xl/sharedStrings.xml" =>
          xml.split("</si>").foreach { si =>
            val t = paragraphText(si, "") // bare <t> runs
            if (t.nonEmpty) blocks += t
          }
        case (_, xml) => // slide
          blocks ++= paragraphs(xml, "a")
      }
    val bs = blocks.filter(_.nonEmpty).toVector
    if (bs.isEmpty) Node.Unrecognisable else new BlockRoot(bs)
  }

  private[doc] def isTextPart(name: String): Boolean =
    name == "word/document.xml" || name == "word/footnotes.xml" ||
      name == "word/endnotes.xml" || name == "xl/sharedStrings.xml" ||
      (name.startsWith("ppt/slides/slide") && name.endsWith(".xml"))

  private def partRank(name: String): Int =
    if (name == "word/document.xml") 0
    else if (name.startsWith("word/")) 1
    else if (name.startsWith("xl/")) 2
    else 3

  private def slideNumber(name: String): Int = {
    val digits = name.dropWhile(!_.isDigit).takeWhile(_.isDigit)
    if (digits.isEmpty) 0 else digits.toInt
  }

  /** One text block per `<PREFIX:p>…</PREFIX:p>` paragraph. */
  private def paragraphs(xml: String, prefix: String): Seq[String] =
    xml.split(s"</$prefix:p>").toSeq.map(paragraphText(_, prefix)).filter(_.nonEmpty)

  /** Walk a paragraph's tags in document order: text runs (`t`) append
    * their entity-decoded content, `tab`/`br` append whitespace, everything
    * else is skipped. `tab` and `br` are SIBLINGS of the runs, so this must
    * be a token walk over the whole paragraph, not a per-run extract.
    * An empty `prefix` matches bare tags (`<t>` in sharedStrings).
    */
  private def paragraphText(p: String, prefix: String): String = {
    val sb = new StringBuilder
    val marker = if (prefix.isEmpty) "<" else "<" + prefix + ":"
    val closeT = if (prefix.isEmpty) "</t>" else "</" + prefix + ":t>"
    var idx = p.indexOf(marker)
    while (idx >= 0) {
      val nameStart = idx + marker.length
      var nameEnd = nameStart
      while (nameEnd < p.length && p(nameEnd).isLetter) nameEnd += 1
      val name = p.substring(nameStart, nameEnd)
      val gt = p.indexOf('>', nameEnd)
      if (gt < 0) return sb.toString
      name match {
        case "t" if p(gt - 1) != '/' =>
          val close = p.indexOf(closeT, gt)
          if (close < 0) return sb.toString
          sb.append(decodeEntities(p.substring(gt + 1, close)))
          idx = p.indexOf(marker, close + closeT.length)
        case "tab" => sb.append('\t'); idx = p.indexOf(marker, gt)
        case "br" => sb.append('\n'); idx = p.indexOf(marker, gt)
        case _ => idx = p.indexOf(marker, gt)
      }
    }
    sb.toString
  }

  private def decodeEntities(s: String): String =
    if (!s.contains('&')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s(i)
        if (c == '&') {
          val semi = s.indexOf(';', i)
          val ent = if (semi > i) s.substring(i + 1, semi) else ""
          val decoded = ent match {
            case "amp" => Some("&")
            case "lt" => Some("<")
            case "gt" => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Some(new String(Character.toChars(Integer.parseInt(e.drop(2), 16))))
              catch { case _: Exception => None }
            case e if e.startsWith("#") =>
              try Some(new String(Character.toChars(e.drop(1).toInt)))
              catch { case _: Exception => None }
            case _ => None
          }
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

}
