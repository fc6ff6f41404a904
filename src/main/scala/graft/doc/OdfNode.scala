package graft.doc

import java.nio.charset.StandardCharsets

/** Native OpenDocument (odt/ods/odp) text extraction — the ODF leg of the
  * reference's Tika any-mime normalisation, next to [[OfficeNode]]'s OOXML.
  * An ODF file is a zip whose `content.xml` carries all body text; unlike
  * OOXML's `<w:t>` runs, ODF text is MIXED CONTENT directly inside
  * `<text:p>` / `<text:h>` elements (possibly nested in `<text:span>`),
  * with `<text:tab/>`, `<text:line-break/>` and `<text:s/>` as whitespace
  * elements. One block per paragraph/heading, [[RtfNode.BlockRoot]] shape
  * (`text` joins with newlines, `findAll("block")` yields them).
  *
  * Bounds: content.xml is read through [[Codecs.zipWalk]], cut at its
  * per-entry cap; absent content.xml → `Unrecognisable` (this parser
  * never guesses at arbitrary archives).
  */
object OdfNode {

  def parse(content: Array[Byte]): Node = {
    var xml: String = null
    Codecs.zipWalk(content, _ == "content.xml") { (_, bytes) =>
      xml = new String(bytes, StandardCharsets.UTF_8)
      false // content.xml carries all body text: stop the walk
    }

    if (xml == null) Node.Unrecognisable
    else {
      val blocks = xml.split("</text:p>|</text:h>").toVector
        .flatMap(blockText)
        .filter(_.nonEmpty)
      if (blocks.isEmpty) Node.Unrecognisable else new BlockRoot(blocks)
    }
  }

  /** Extract one paragraph's text from the chunk ending where `</text:p>`
    * (or `:h>`) was: take from the LAST `<text:p`/`<text:h` opening (the
    * split leaves preceding markup in the chunk), turn the ODF whitespace
    * elements into characters, strip every remaining tag, decode entities.
    *
    * The opening is anchored to a REAL tag boundary (name followed by
    * whitespace or `>`), mirroring the exact closing tags the split uses —
    * a bare prefix search would also match `<text:page-number>` /
    * `<text:page-count>` inside headers and attribute the wrong opening,
    * truncating or polluting the block.
    */
  private val OpenTag = "<text:(?:p|h)(?=[\\s>])".r

  private def blockText(chunk: String): Option[String] = {
    var open = -1
    OpenTag.findAllMatchIn(chunk).foreach(m => open = m.start)
    if (open < 0) None
    else {
      val gt = chunk.indexOf('>', open)
      if (gt < 0) None
      else {
        val inner = chunk.substring(gt + 1)
          .replaceAll("<text:tab\\s*/?>", "\t")
          .replaceAll("<text:line-break\\s*/?>", "\n")
          .replaceAll("<text:s\\s*/?>", " ")
          .replaceAll("<[^>]*>", "")
        val t = Entities.decode(inner)
        if (t.trim.isEmpty) None else Some(t)
      }
    }
  }
}
