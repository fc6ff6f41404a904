package graft.doc

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Native TIFF 6.0 / EXIF metadata extraction behind the [[Node]] seam
  * (reference doc/Content.scala:50-60 routes any mime through Tika; Tika's
  * TIFF leg surfaces the text-bearing tags — here a first-class IFD walk
  * does the same for the subset that matters for corpus text: the ASCII
  * metadata tags and the EXIF UserComment). Public format: TIFF 6.0
  * (Adobe, 1992) + EXIF 2.x tag layout.
  *
  *   - both byte orders (`II` little / `MM` big), classic 42 magic
  *   - IFD chain walk (multi-page files), bounds-checked and capped
  *     (8 IFDs × 512 entries — bomb guard; offsets outside the buffer
  *     skip the entry, never throw)
  *   - text-bearing ASCII tags: ImageDescription, DocumentName, PageName,
  *     Software, DateTime, Artist, Copyright (trailing NULs stripped,
  *     bytes decoded UTF-8 — the de-facto encoding real writers use)
  *   - the EXIF sub-IFD via tag 34665, surfacing UserComment (tag 37510,
  *     8-byte encoding prefix stripped)
  *   - ImageWidth/ImageLength as numeric attributes
  *
  * Result shape: a JSON node `{"tiff": {byte_order, width, height, pages,
  * <tag>: text…}}` — the [[ArchiveNode]] listing convention, so selectors
  * and `attr` come free from [[JsonNode]]; `text` is the text tags joined
  * by newlines (description first).
  */
object TiffNode {

  private val TextTags: Map[Int, String] = Map(
    269 -> "DocumentName", 270 -> "ImageDescription", 285 -> "PageName",
    305 -> "Software", 306 -> "DateTime", 315 -> "Artist",
    33432 -> "Copyright")

  private val ExifPointer = 34665
  private val UserComment = 37510
  private val MaxIfds = 8
  private val MaxEntries = 512

  def parse(content: Array[Byte]): Node =
    metaJson(content).map(JsonNode.parse).getOrElse(Node.Unrecognisable)

  /** The `"tiff":{…}` JSON object (with its outer braces) for a TIFF
    * blob, or None when the bytes aren't one — shared with [[JpegNode]],
    * whose EXIF APP1 payload IS a TIFF file.
    */
  private[doc] def metaJson(content: Array[Byte]): Option[String] = {
    try {
      if (content.length < 8) return None
      val le =
        if (content(0) == 'I' && content(1) == 'I') true
        else if (content(0) == 'M' && content(1) == 'M') false
        else return None
      def u16(off: Int): Int =
        if (off < 0 || off + 1 >= content.length) -1
        else if (le) (content(off) & 0xff) | ((content(off + 1) & 0xff) << 8)
        else ((content(off) & 0xff) << 8) | (content(off + 1) & 0xff)
      def u32(off: Int): Long =
        if (off < 0 || off + 3 >= content.length) -1L
        else if (le) (content(off) & 0xffL) | ((content(off + 1) & 0xffL) << 8) |
          ((content(off + 2) & 0xffL) << 16) | ((content(off + 3) & 0xffL) << 24)
        else ((content(off) & 0xffL) << 24) | ((content(off + 1) & 0xffL) << 16) |
          ((content(off + 2) & 0xffL) << 8) | (content(off + 3) & 0xffL)
      if (u16(2) != 42) return None

      var width = -1L
      var height = -1L
      var pages = 0
      val texts = scala.collection.mutable.LinkedHashMap.empty[String, String]

      def typeSize(t: Int): Int = t match {
        case 1 | 2 | 6 | 7 => 1 // BYTE / ASCII / SBYTE / UNDEFINED
        case 3 | 8         => 2 // SHORT / SSHORT
        case 4 | 9 | 11    => 4 // LONG / SLONG / FLOAT
        case 5 | 10 | 12   => 8 // RATIONAL / SRATIONAL / DOUBLE
        case _             => 0
      }
      /** Raw value bytes of an entry (inline when they fit in 4 bytes). */
      def valueBytes(entryOff: Int, typ: Int, cnt: Long): Array[Byte] = {
        val size = typeSize(typ).toLong * cnt
        if (size <= 0 || size > (1L << 20)) return Array.emptyByteArray
        val off = if (size <= 4) entryOff + 8L else u32(entryOff + 8)
        if (off < 0 || off + size > content.length) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(content, off.toInt, (off + size).toInt)
      }
      def firstNumeric(entryOff: Int, typ: Int): Long = typ match {
        case 3 => u16(entryOff + 8).toLong // SHORT rides inline
        case 4 => u32(entryOff + 8)
        case _ => -1L
      }
      def ascii(bytes: Array[Byte]): String = {
        var end = bytes.length
        while (end > 0 && bytes(end - 1) == 0) end -= 1
        new String(bytes, 0, end, StandardCharsets.UTF_8)
      }

      def walkIfd(offL: Long, exif: Boolean): Long = {
        if (offL <= 0 || offL + 2 > content.length) return 0L
        val off = offL.toInt
        val n = math.min(u16(off), MaxEntries)
        var i = 0
        while (i < n) {
          val e = off + 2 + i * 12
          val tag = u16(e)
          val typ = u16(e + 2)
          val cnt = u32(e + 4)
          if (tag == 256) width = firstNumeric(e, typ)
          else if (tag == 257) height = firstNumeric(e, typ)
          else if (!exif && tag == ExifPointer && typ == 4) walkIfd(u32(e + 8), exif = true)
          else if (exif && tag == UserComment && typ == 7 && cnt > 8) {
            val b = valueBytes(e, typ, cnt)
            // 8-byte encoding prefix ("ASCII\0\0\0" / "UNICODE\0" / zeros);
            // the payload of every writer we care about is byte text
            if (b.length > 8)
              texts.getOrElseUpdate("UserComment",
                ascii(java.util.Arrays.copyOfRange(b, 8, b.length)))
          }
          else if (typ == 2) TextTags.get(tag).foreach { name =>
            val v = ascii(valueBytes(e, typ, cnt))
            if (v.nonEmpty) texts.getOrElseUpdate(name, v)
          }
          i += 1
        }
        u32(off + 2 + n * 12)
      }

      var next = u32(4)
      var seen = 0
      while (next > 0 && seen < MaxIfds) {
        next = walkIfd(next, exif = false)
        pages += 1
        seen += 1
      }
      if (pages == 0) return None

      val sb = new StringBuilder
      sb.append("{\"tiff\":{\"byte_order\":").append(if (le) "\"II\"" else "\"MM\"")
        .append(",\"width\":").append(width)
        .append(",\"height\":").append(height)
        .append(",\"pages\":").append(pages)
      texts.foreach { case (k, v) =>
        sb.append(',').append(JsonNode.quote(k)).append(':').append(JsonNode.quote(v))
      }
      sb.append("}}")
      Some(sb.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fixture/export writer: minimal little-endian baseline TIFF — one
    * 8-bit grayscale strip of deterministic pixels, the text tags, and an
    * EXIF sub-IFD carrying UserComment. Round-trips [[parse]] losslessly
    * for any Unicode text (tag bytes are UTF-8).
    */
  def write(width: Int, height: Int, description: String, artist: String,
            userComment: String): Array[Byte] = {
    require(width > 0 && height > 0, "dimensions must be positive")
    val out = new ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    val pixelLen = width * height
    val desc = (description + "\u0000").getBytes(StandardCharsets.UTF_8)
    val art = (artist + "\u0000").getBytes(StandardCharsets.UTF_8)
    val dt = "2026:01:01 00:00:00\u0000".getBytes(StandardCharsets.US_ASCII)
    val uc = "ASCII\u0000\u0000\u0000".getBytes(StandardCharsets.US_ASCII) ++
      userComment.getBytes(StandardCharsets.UTF_8)
    def pad(n: Int): Int = n + (n & 1) // even offsets per the spec
    val pixelOff = 8
    val descOff = pad(pixelOff + pixelLen)
    val artOff = pad(descOff + desc.length)
    val dtOff = pad(artOff + art.length)
    val ucOff = pad(dtOff + dt.length)
    val mainIfdOff = pad(ucOff + uc.length)
    val mainEntries = 13
    val exifIfdOff = mainIfdOff + 2 + mainEntries * 12 + 4

    // header
    out.write('I'); out.write('I'); le16(42); le32(mainIfdOff.toLong)
    // pixel strip: deterministic gradient
    var i = 0
    while (i < pixelLen) {
      out.write(((i % width) * 31 + (i / width) * 17) & 0xff); i += 1
    }
    def padTo(target: Int): Unit = while (out.size() < target) out.write(0)
    padTo(descOff); out.write(desc)
    padTo(artOff); out.write(art)
    padTo(dtOff); out.write(dt)
    padTo(ucOff); out.write(uc)
    padTo(mainIfdOff)
    // entries must ascend by tag; ASCII values ≤ 4 bytes would be inline,
    // but every value written above is longer (desc/artist carry a NUL,
    // DateTime is 20, UserComment ≥ 9)
    def entry(tag: Int, typ: Int, cnt: Long, value: Long): Unit = {
      le16(tag); le16(typ); le32(cnt)
      if (typ == 3) { le16(value.toInt); le16(0) } else le32(value)
    }
    le16(mainEntries)
    entry(256, 4, 1, width.toLong)              // ImageWidth
    entry(257, 4, 1, height.toLong)             // ImageLength
    entry(258, 3, 1, 8)                         // BitsPerSample
    entry(259, 3, 1, 1)                         // Compression = none
    entry(262, 3, 1, 1)                         // Photometric = BlackIsZero
    entry(270, 2, desc.length.toLong, descOff.toLong)  // ImageDescription
    entry(273, 4, 1, pixelOff.toLong)           // StripOffsets
    entry(277, 3, 1, 1)                         // SamplesPerPixel
    entry(278, 4, 1, height.toLong)             // RowsPerStrip
    entry(279, 4, 1, pixelLen.toLong)           // StripByteCounts
    entry(306, 2, dt.length.toLong, dtOff.toLong)      // DateTime
    entry(315, 2, art.length.toLong, artOff.toLong)    // Artist
    entry(ExifPointer, 4, 1, exifIfdOff.toLong) // EXIF sub-IFD
    le32(0) // no next IFD
    // EXIF IFD
    le16(1)
    entry(UserComment, 7, uc.length.toLong, ucOff.toLong)
    le32(0)
    out.toByteArray
  }

}
