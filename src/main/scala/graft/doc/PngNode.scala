package graft.doc

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

/** PNG textual-metadata extraction behind the [[Node]] seam (public
  * format: PNG, ISO/IEC 15948 — the tEXt / zTXt / iTXt chunks every
  * screenshot-annotation and generator pipeline writes):
  *
  *   - chunk walk (signature + length/type/data/crc framing,
  *     bounds-checked; a corrupt length ends the walk, never throws)
  *   - IHDR width/height/bit-depth
  *   - `tEXt` (latin-1 keyword\u0000value), `zTXt` (deflate-compressed
  *     value), `iTXt` (UTF-8, optionally deflate-compressed)
  *
  * Bounds: compressed chunks inflate through [[Codecs.inflateStream]] and
  * must finish within a 1 MiB text-chunk cap (decompression-bomb guard);
  * anything else drops the chunk.
  *
  * Result: `{"png":{width,height,bit_depth,<keyword>:text…}}` — the
  * JSON-listing convention, selectors and `attr` from [[JsonNode]].
  */
object PngNode {

  private val Signature =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
  private val MaxText = 1 << 20

  def parse(content: Array[Byte]): Node = {
    try {
      if (content.length < 16 || !content.startsWith(Signature))
        return Node.Unrecognisable
      def u32(off: Int): Long =
        ((content(off) & 0xffL) << 24) | ((content(off + 1) & 0xffL) << 16) |
          ((content(off + 2) & 0xffL) << 8) | (content(off + 3) & 0xffL)
      var width = -1L
      var height = -1L
      var bitDepth = -1
      val texts = scala.collection.mutable.LinkedHashMap.empty[String, String]
      var i = 8
      var ok = true
      while (ok && i + 12 <= content.length) {
        val len = u32(i)
        val typ = new String(content, i + 4, 4, StandardCharsets.US_ASCII)
        if (len < 0 || i + 12 + len > content.length) ok = false
        else {
          val d0 = i + 8
          val dl = len.toInt
          typ match {
            case "IHDR" if dl >= 13 =>
              width = u32(d0); height = u32(d0 + 4); bitDepth = content(d0 + 8) & 0xff
            case "tEXt" =>
              val nul = indexOf0(content, d0, d0 + dl)
              if (nul > d0) texts.getOrElseUpdate(
                new String(content, d0, nul - d0, StandardCharsets.ISO_8859_1),
                new String(content, nul + 1, d0 + dl - nul - 1, StandardCharsets.ISO_8859_1))
            case "zTXt" =>
              val nul = indexOf0(content, d0, d0 + dl)
              // keyword \0 method(1) deflate-stream
              if (nul > d0 && nul + 2 < d0 + dl && content(nul + 1) == 0)
                inflate(content, nul + 2, d0 + dl).foreach { v =>
                  texts.getOrElseUpdate(
                    new String(content, d0, nul - d0, StandardCharsets.ISO_8859_1),
                    new String(v, StandardCharsets.ISO_8859_1))
                }
            case "iTXt" =>
              // keyword \0 compFlag(1) compMethod(1) lang \0 translated \0 text
              val k = indexOf0(content, d0, d0 + dl)
              if (k > d0 && k + 3 < d0 + dl) {
                val comp = content(k + 1) != 0
                val lang = indexOf0(content, k + 3, d0 + dl)
                val trans = if (lang < 0) -1 else indexOf0(content, lang + 1, d0 + dl)
                if (trans >= 0) {
                  val keyword = new String(content, d0, k - d0, StandardCharsets.ISO_8859_1)
                  val body =
                    if (!comp) Some(java.util.Arrays.copyOfRange(content, trans + 1, d0 + dl))
                    else inflate(content, trans + 1, d0 + dl)
                  body.foreach(b => texts.getOrElseUpdate(
                    keyword, new String(b, StandardCharsets.UTF_8)))
                }
              }
            case "IEND" => ok = false
            case _ => ()
          }
          i += 12 + dl
        }
      }
      if (width < 0) return Node.Unrecognisable
      val sb = new StringBuilder
      sb.append("{\"png\":{\"width\":").append(width)
        .append(",\"height\":").append(height)
        .append(",\"bit_depth\":").append(bitDepth)
      // File-controlled keywords must not shadow the structural
      // attributes above (duplicate JSON keys): reserved names are
      // dropped rather than spliced.
      texts.foreach { case (k, v) =>
        if (k != "width" && k != "height" && k != "bit_depth")
          sb.append(',').append(JsonNode.quote(k)).append(':').append(JsonNode.quote(v))
      }
      sb.append("}}")
      JsonNode.parse(sb.result())
    } catch { case scala.util.control.NonFatal(_) => Node.Unrecognisable }
  }

  /** Splice text chunks into an existing PNG, right before IEND: `tEXt`
    * for latin-1-safe values, `iTXt` (uncompressed, UTF-8) otherwise —
    * the encoding decision real writers make. Keywords are latin-1,
    * 1–79 chars per the spec (enforced).
    */
  def withText(png: Array[Byte], entries: Seq[(String, String)]): Array[Byte] = {
    require(png.startsWith(Signature), "not a PNG")
    // IEND starts at the final 12 bytes of a well-formed file
    val iend = png.length - 12
    require(iend > 8 && new String(png, iend + 4, 4, StandardCharsets.US_ASCII) == "IEND",
      "PNG missing trailing IEND")
    val out = new ByteArrayOutputStream()
    out.write(png, 0, iend)
    entries.foreach { case (k, v) =>
      require(k.nonEmpty && k.length <= 79 && k.forall(c => c >= ' ' && c <= 'ÿ'),
        s"bad PNG text keyword: $k")
      val latin1Safe = v.forall(c => c <= 'ÿ') && !v.contains('\u0000')
      val (typ, data) =
        if (latin1Safe)
          ("tEXt", k.getBytes(StandardCharsets.ISO_8859_1) ++ Array[Byte](0) ++
            v.getBytes(StandardCharsets.ISO_8859_1))
        else
          ("iTXt", k.getBytes(StandardCharsets.ISO_8859_1) ++
            Array[Byte](0, 0, 0, 0, 0) ++ // uncompressed, empty lang/translated
            v.getBytes(StandardCharsets.UTF_8))
      val len = data.length
      out.write((len >> 24) & 0xff); out.write((len >> 16) & 0xff)
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      val typed = typ.getBytes(StandardCharsets.US_ASCII) ++ data
      out.write(typed)
      val crc = new CRC32(); crc.update(typed)
      val c = crc.getValue
      out.write(((c >> 24) & 0xff).toInt); out.write(((c >> 16) & 0xff).toInt)
      out.write(((c >> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
    }
    out.write(png, iend, 12)
    out.toByteArray
  }

  private def indexOf0(a: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until) { if (a(i) == 0) return i; i += 1 }
    -1
  }

  private def inflate(a: Array[Byte], from: Int, until: Int): Option[Array[Byte]] =
    Codecs.inflateStream(a, from, until, MaxText).collect { case s if s.finished => s.bytes }
}
