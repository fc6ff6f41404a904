package graft.doc

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets

/** Generic archive containers for the Tika-normalisation tail: POSIX tar
  * (ustar) and plain zip (one that is neither OOXML nor EPUB) surface as a
  * JSON LISTING NODE — the same synthetic-document convention the engine
  * already uses for directory listings (Fetcher.fsGet) — so selector
  * queries, explore link-walking and text extraction work on archives
  * without bespoke API:
  *
  * `{"archive":"tar","entries":[{"name":..,"size":..,"isDir":..,"text":..}]}`
  *
  * Member text is recovered through the full Doc seam (extension/magic mime
  * sniff, charset detection, transparent gzip unwrap — a `.txt.gz` member
  * inside a tar extracts), with a nesting cap so archive bombs terminate:
  * past [[MaxDepth]] members keep name/size but no text. `.tar.gz` works
  * end-to-end because Doc's gzip unwrap runs BEFORE mime dispatch.
  */
object ArchiveNode {

  /** Archive-in-archive recursion cap (bomb guard — entries stay listed,
    * nested text goes empty past this).
    */
  val MaxDepth = 2

  /** Listing cap per archive: entries past this are dropped, and the
    * listing records `"truncated":true` so downstream sees the cut.
    */
  val MaxEntries = 4096

  private val depth = new ThreadLocal[Integer] { override def initialValue: Integer = 0 }

  private final case class Entry(name: String, size: Long, isDir: Boolean, text: String)

  /** ustar tar walk; Unrecognisable when the bytes are not a tar. */
  def fromTar(content: Array[Byte]): Node = {
    val entries = Vector.newBuilder[Entry]
    var n = 0
    var off = 0
    var truncated = false
    var valid = false
    var done = false
    while (!done && off + 512 <= content.length) {
      if (content(off) == 0) done = true // zero block: end of archive
      else {
        val name = cstr(content, off, 100)
        val prefix = if (isUstar(content, off)) cstr(content, off + 345, 155) else ""
        val size = octal(content, off + 124, 12)
        val typeflag = content(off + 156).toChar
        if (name.isEmpty || size < 0 || off + 512 + size > content.length) done = true
        else {
          valid = valid || isUstar(content, off)
          val full = if (prefix.nonEmpty) prefix + "/" + name else name
          val isDir = typeflag == '5' || full.endsWith("/")
          if (n < MaxEntries) {
            val text =
              if (isDir || typeflag != '0' && typeflag != 0.toChar) ""
              else memberText(full,
                java.util.Arrays.copyOfRange(content, off + 512, off + 512 + size.toInt))
            entries += Entry(full, size, isDir, text)
          } else truncated = true
          n += 1
          off += 512 + ((size.toInt + 511) / 512) * 512
        }
      }
    }
    val es = entries.result()
    if (es.isEmpty || !valid) Node.Unrecognisable
    else listing("tar", es, truncated)
  }

  /** Plain-zip walk (caller has already ruled out OOXML/EPUB). Members
    * inflate up to [[Codecs.MaxInflate]]: a zip-bomb member stays LISTED
    * with its size but extracts no text (refusal, not truncation). Tar
    * members need no cap: tar stores them uncompressed, so the archive's
    * own byte length bounds them. The cap is a parameter only so the spec
    * can exercise the bomb path with small fixtures; production callers
    * use the default.
    */
  def fromZip(content: Array[Byte], maxMember: Int = Codecs.MaxInflate): Node =
    try {
      val zin = new java.util.zip.ZipInputStream(new ByteArrayInputStream(content))
      val entries = Vector.newBuilder[Entry]
      var n = 0
      var truncated = false
      var e = zin.getNextEntry
      while (e != null) {
        if (n < MaxEntries) {
          // bounded read: up to the cap + 1 probe byte to detect overflow.
          // Size is the header's declared size when present; streamed zips
          // carry it in the post-data descriptor, so an over-cap member
          // then reports the clamped read length (a lower bound).
          val bytes = zin.readNBytes(maxMember + 1)
          val over = bytes.length > maxMember
          val size = if (e.getSize >= 0) e.getSize else bytes.length.toLong
          val text =
            if (e.isDirectory || over) "" else memberText(e.getName, bytes)
          entries += Entry(e.getName, size, e.isDirectory, text)
        } else truncated = true
        n += 1
        e = zin.getNextEntry
      }
      val es = entries.result()
      if (es.isEmpty) Node.Unrecognisable else listing("zip", es, truncated)
    } catch { case scala.util.control.NonFatal(_) => Node.Unrecognisable }

  /** 7z container walk (commons-compress SevenZFile over an in-memory
    * channel — the LZMA2 decoder is the xz library, already on the Spark
    * runtime classpath). Same listing convention and guards as tar/zip:
    * entry cap with `"truncated":true`, per-member inflate cap (7z members
    * ARE compressed, so the declared size can dwarf the archive — refusal,
    * not truncation), nesting cap via [[memberText]]. Unrecognisable when
    * the bytes are not a 7z or the header is corrupt.
    */
  def from7z(content: Array[Byte], maxMember: Int = Codecs.MaxInflate): Node =
    try {
      val ch = new org.apache.commons.compress.utils.SeekableInMemoryByteChannel(content)
      val sz = org.apache.commons.compress.archivers.sevenz.SevenZFile.builder()
        .setSeekableByteChannel(ch).get()
      try {
        val entries = Vector.newBuilder[Entry]
        var n = 0
        var truncated = false
        var e = sz.getNextEntry
        while (e != null) {
          if (n < MaxEntries) {
            val isDir = e.isDirectory
            if (isDir) entries += Entry(e.getName, 0L, isDir = true, "")
            else {
              // bounded read: cap + 1 probe byte detects overflow
              val out = new java.io.ByteArrayOutputStream(
                math.min(math.max(if (e.hasStream) e.getSize.toInt else 0, 1024), 1 << 20))
              val buf = new Array[Byte](8192)
              var over = false
              var r = sz.read(buf)
              while (r >= 0 && !over) {
                out.write(buf, 0, r)
                if (out.size > maxMember) over = true else r = sz.read(buf)
              }
              val bytes = out.toByteArray
              val size = if (e.hasStream) e.getSize else bytes.length.toLong
              val text = if (over) "" else memberText(e.getName, bytes)
              entries += Entry(e.getName, size, isDir = false, text)
            }
          } else truncated = true
          n += 1
          e = sz.getNextEntry
        }
        val es = entries.result()
        if (es.isEmpty) Node.Unrecognisable else listing("7z", es, truncated)
      } finally sz.close()
    } catch { case scala.util.control.NonFatal(_) => Node.Unrecognisable }

  /** Member text through the full Doc seam (sniff + charset + gzip unwrap),
    * nesting-capped. Failures and binary members extract as "".
    */
  private def memberText(name: String, bytes: Array[Byte]): String = {
    if (depth.get() >= MaxDepth) return ""
    depth.set(depth.get() + 1)
    try Doc(DocUID(name), name, bytes).root.text
    catch { case scala.util.control.NonFatal(_) => "" }
    finally depth.set(depth.get() - 1)
  }

  private def listing(kind: String, entries: Seq[Entry], truncated: Boolean): Node = {
    val sb = new StringBuilder
    sb.append("{\"archive\":").append(JsonNode.quote(kind))
    if (truncated) sb.append(",\"truncated\":true")
    sb.append(",\"entries\":[")
    entries.zipWithIndex.foreach { case (e, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"name\":").append(JsonNode.quote(e.name))
        .append(",\"size\":").append(e.size)
        .append(",\"isDir\":").append(e.isDir)
      if (e.text.nonEmpty) sb.append(",\"text\":").append(JsonNode.quote(e.text))
      sb.append('}')
    }
    sb.append("]}")
    JsonNode.parse(sb.result())
  }

  private def isUstar(c: Array[Byte], off: Int): Boolean =
    off + 262 < c.length &&
      c(off + 257) == 'u' && c(off + 258) == 's' && c(off + 259) == 't' &&
      c(off + 260) == 'a' && c(off + 261) == 'r'

  private def cstr(c: Array[Byte], off: Int, max: Int): String = {
    var end = off
    val lim = math.min(off + max, c.length)
    while (end < lim && c(end) != 0) end += 1
    new String(c, off, end - off, StandardCharsets.ISO_8859_1)
  }

  /** Octal size field (NUL/space padded); -1 on garbage. */
  private def octal(c: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var seen = false
    var i = off
    val lim = math.min(off + len, c.length)
    while (i < lim) {
      val ch = c(i).toChar
      if (ch >= '0' && ch <= '7') { v = v * 8 + (ch - '0'); seen = true }
      else if (ch != ' ' && ch != 0.toChar) return -1L
      i += 1
    }
    if (seen) v else -1L
  }
}
