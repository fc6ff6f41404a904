package graft.doc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets

/** Identity of one observation: the canonical backtrace that produced it plus
  * its position in the export's output block (reference
  * doc/Observation.scala:12-87 `DocUID(backtrace, blockIndex, blockSize)`).
  */
final case class DocUID(
    backtraceKey: String,
    blockIndex: Int = 0,
    blockTotal: Int = 1,
    name: Option[String] = None
) extends Serializable

/** Result of executing one Export action (reference doc/Observation.scala):
  * a fetched [[Doc]], an empty [[NoDoc]], or a failed [[DocError]].
  * Pure serializable data — safe to carry in Dataset rows and doc caches.
  */
sealed trait Observation extends Serializable {
  def uid: DocUID
  def uri: String
  def timestampMillis: Long

  def withUID(u: DocUID): Observation
  def isSuccess: Boolean

  def docOpt: Option[Doc] = this match {
    case d: Doc => Some(d)
    case _      => None
  }

  def isLaterThan(millis: Long): Boolean = timestampMillis > millis
}

object Observation {
  def laterOf(a: Observation, b: Observation): Observation =
    if (a.timestampMillis >= b.timestampMillis) a else b
}

/** A fetched document: uri, content-type (declared, else sniffed), raw bytes,
  * HTTP-ish status, metadata (reference doc/Doc.scala:38-199). The parsed
  * [[Node]] tree is a transient lazy view — bytes are the persistent form,
  * trees are rebuilt per partition (reference flags Jsoup trees
  * NOTSerializable; same design).
  *
  * Two-level body storage (reference doc/Content.scala InMemoryBlob /
  * DFSSavedBlob): `content` holds the bytes inline, OR `contentPtr` points
  * at a DFS blob and `content` is empty — large payloads then never ride
  * through shuffles; `bytes` loads lazily on access. See [[Doc.offload]].
  */
final case class Doc(
    uid: DocUID,
    uri: String,
    content: Array[Byte],
    declaredMime: Option[String] = None,
    status: Int = 200,
    metadata: Map[String, String] = Map.empty,
    timestampMillis: Long = 0L,
    contentPtr: Option[String] = None
) extends Observation {

  override def withUID(u: DocUID): Observation = copy(uid = u)
  override def isSuccess: Boolean = status >= 200 && status < 300

  /** The body — inline, or lazily loaded from the DFS pointer. */
  def bytes: Array[Byte] =
    if (contentPtr.isEmpty || content.nonEmpty) content else loaded

  @transient private lazy val loaded: Array[Byte] = graft.agent.DocIO.readBytes(contentPtr.get)

  /** Move the body to `<dir>/<uid>.blob`, keeping only the pointer in the
    * row (no-op when already offloaded or empty).
    */
  def offload(dir: String): Doc =
    if (content.isEmpty) this
    else {
      val name = s"${uid.backtraceKey}-${uid.blockIndex}.blob"
      val path = graft.agent.DocIO.writeBytes(dir, name, content)
      copy(content = Array.empty, contentPtr = Some(path))
    }

  /** Transparent compression unwrap (the commonest Tika-normalisation case
    * in crawl data: `.html.gz` / `.json.gz` / gzip Content-Encoding, plus
    * the dump-archive codecs bzip2/xz/zstd/lz4): when the body carries a
    * known codec magic, everything CONTENT-DERIVED (mime sniff, charset,
    * contentStr, the parsed tree) reads the inflated form, with the codec
    * suffix stripped from the sniffing uri (so `.tar.zst` sniffs as tar) —
    * while `content`/`bytes`, equality, caching, and blob offload keep the
    * raw compressed body (storage stays byte-faithful to the fetch).
    * Inflation is capped ([[Codecs.MaxInflate]], a bomb guard); over-cap or
    * corrupt streams fall back to the opaque raw bytes.
    */
  @transient private lazy val inflated: Option[(Array[Byte], String)] =
    Codecs.detect(bytes).flatMap { codec =>
      Codecs.inflate(bytes, codec, Codecs.MaxInflate)
        .map(b => (b, Codecs.stripSuffix(uri, codec)))
    }

  /** The content-derived view: inflated body + sniffing uri. */
  @transient private lazy val view: (Array[Byte], String) = inflated match {
    case Some((b, u)) => (b, u)
    case None         => (bytes, uri)
  }

  /** Effective mime: declared (parameters stripped) else sniffed from the uri
    * extension else from the content head (reference Doc.scala:70-144, minus
    * the Tika dependency — detection here is extension+magic heuristics).
    * Codec-declared bodies (gzip/bzip2/xz/zstd/lz4) are treated like
    * octet-stream: the unwrapped content decides.
    */
  lazy val mime: String =
    declaredMime.map(_.takeWhile(_ != ';').trim.toLowerCase)
      .filter(_.nonEmpty)
      .filter(m => m != "application/octet-stream" && !Codecs.codecMimes(m))
      .getOrElse(Mime.sniff(view._2, view._1))

  /** Detected charset: Content-Type parameter > BOM > meta/XML-decl sniff >
    * UTF-8 (stands in for the reference's universalchardet, Doc.scala:70-144).
    */
  lazy val charset: String = Charsets.detect(declaredMime, view._1)

  lazy val contentStr: String =
    new String(view._1, java.nio.charset.Charset.forName(charset))

  def isImage: Boolean = mime.startsWith("image/")

  /** Root of the selector-queryable tree; [[Node.Unrecognisable]] for binary
    * content (reference Node.scala:8-26 null-object).
    */
  @transient lazy val root: Node = Node.parse(view._1, mime, view._2, charset)

  // content is an Array — default case-class equality would be reference
  // equality; identity here is uid + bytes.
  override def equals(o: Any): Boolean = o match {
    case d: Doc =>
      uid == d.uid && uri == d.uri && java.util.Arrays.equals(content, d.content) &&
        status == d.status && timestampMillis == d.timestampMillis
    case _ => false
  }
  override def hashCode(): Int =
    (uid, uri, java.util.Arrays.hashCode(content), status).hashCode()

  override def toString: String =
    s"Doc($uri, $mime, ${content.length}B, sha=${graft.actions.Trace.digest(contentStr).take(12)})"
}

/** Export executed but produced nothing (e.g. POST upload). */
final case class NoDoc(
    uid: DocUID,
    uri: String,
    timestampMillis: Long = 0L
) extends Observation {
  override def withUID(u: DocUID): Observation = copy(uid = u)
  override def isSuccess: Boolean = true
}

/** Export failed; carries the human-readable cause (reference error path,
  * Action.scala:30-75).
  */
final case class DocError(
    uid: DocUID,
    uri: String,
    message: String,
    timestampMillis: Long = 0L
) extends Observation {
  override def withUID(u: DocUID): Observation = copy(uid = u)
  override def isSuccess: Boolean = false
}

/** Charset detection without universalchardet (reference Doc.scala:70-144
  * resolves charset via the http header, then detectCharset): the declared
  * Content-Type `charset=` parameter wins, then a byte-order mark, then an
  * ASCII-compatible scan of the head for an HTML `<meta charset=…>` /
  * `http-equiv` or XML `encoding=…` declaration, then a STATISTICAL
  * byte-distribution fallback for legacy pages that declare nothing
  * (UTF-8 validity scan → Shift_JIS / EUC-JP pair-structure scoring →
  * windows-1252); UTF-8 otherwise. Unknown or unsupported names fall
  * through to the next source.
  */
object Charsets {

  def detect(declaredMime: Option[String], content: Array[Byte]): String =
    fromMime(declaredMime)
      .orElse(fromBom(content))
      .orElse(fromMarkup(content))
      .orElse(fromBytes(content))
      .getOrElse("UTF-8")

  private def valid(name: String): Option[String] =
    scala.util.Try(java.nio.charset.Charset.forName(name.trim).name()).toOption

  private def fromMime(m: Option[String]): Option[String] = m.flatMap { s =>
    val lower = s.toLowerCase
    val i = lower.indexOf("charset=")
    if (i < 0) None
    else valid(s.substring(i + 8).takeWhile(c => c != ';' && !c.isWhitespace)
      .stripPrefix("\"").stripSuffix("\"").stripPrefix("'").stripSuffix("'"))
  }

  private def fromBom(c: Array[Byte]): Option[String] =
    if (c.length >= 3 && c(0) == 0xEF.toByte && c(1) == 0xBB.toByte && c(2) == 0xBF.toByte)
      Some("UTF-8")
    else if (c.length >= 2 && c(0) == 0xFE.toByte && c(1) == 0xFF.toByte) Some("UTF-16BE")
    else if (c.length >= 2 && c(0) == 0xFF.toByte && c(1) == 0xFE.toByte) Some("UTF-16LE")
    else None

  private val metaRe = """(?i)charset\s*=\s*["']?([A-Za-z0-9._\-]+)""".r
  private val xmlRe = """(?i)<\?xml[^>]*encoding\s*=\s*["']([A-Za-z0-9._\-]+)["']""".r

  private def fromMarkup(c: Array[Byte]): Option[String] = {
    // ISO-8859-1 decodes any byte, so the ASCII-range markup survives
    val head = new String(c.take(1024), StandardCharsets.ISO_8859_1)
    xmlRe.findFirstMatchIn(head).map(_.group(1))
      .orElse(metaRe.findFirstMatchIn(head).map(_.group(1)))
      .flatMap(valid)
  }

  /** Statistical fallback when nothing is declared (the universalchardet
    * stand-in, scoped to the encodings that dominate undeclared legacy
    * pages): pure ASCII and well-formed multi-byte UTF-8 stay None/UTF-8;
    * otherwise Shift_JIS and EUC-JP are scored by how much of the high-byte
    * stream their lead/trail pair structure consumes (pairs outweigh SJIS
    * half-width katakana singles, which any A1-DF byte fakes), and a text
    * that fits neither falls back to windows-1252 (the ISO-8859-1 superset
    * that real pages mean when they say nothing).
    */
  private[doc] def fromBytes(c: Array[Byte]): Option[String] = {
    val b = if (c.length > 8192) java.util.Arrays.copyOf(c, 8192) else c
    val n = b.length
    def u(i: Int): Int = b(i) & 0xFF

    var hasHigh = false
    var utf8Ok = true
    var i = 0
    while (i < n) {
      val x = u(i)
      if (x < 0x80) i += 1
      else {
        hasHigh = true
        val len =
          if ((x & 0xE0) == 0xC0) 2
          else if ((x & 0xF0) == 0xE0) 3
          else if ((x & 0xF8) == 0xF0) 4
          else 0
        if (len == 0) { utf8Ok = false; i = n }
        else if (i + len > n) i = n // truncated tail: inconclusive, not invalid
        else {
          var j = 1
          while (j < len && (u(i + j) & 0xC0) == 0x80) j += 1
          if (j < len) { utf8Ok = false; i = n } else i += len
        }
      }
    }
    if (!hasHigh) None
    else if (utf8Ok) Some("UTF-8")
    else {
      // Shift_JIS: leads 81-9F/E0-FC with trails 40-FC (not 7F); A1-DF singles
      var sjisPairs = 0; var sjisKata = 0; var sjisBad = 0
      i = 0
      while (i < n) {
        val x = u(i)
        if (x < 0x80) i += 1
        else if ((x >= 0x81 && x <= 0x9F) || (x >= 0xE0 && x <= 0xFC)) {
          if (i + 1 < n) {
            val t = u(i + 1)
            if (t >= 0x40 && t <= 0xFC && t != 0x7F) { sjisPairs += 1; i += 2 }
            else { sjisBad += 1; i += 1 }
          } else i += 1
        } else if (x >= 0xA1 && x <= 0xDF) { sjisKata += 1; i += 1 }
        else { sjisBad += 1; i += 1 }
      }
      // EUC-JP: A1-FE pairs; 8E + A1-DF half-width
      var eucPairs = 0; var eucBad = 0
      i = 0
      while (i < n) {
        val x = u(i)
        if (x < 0x80) i += 1
        else if (x >= 0xA1 && x <= 0xFE) {
          if (i + 1 < n && u(i + 1) >= 0xA1 && u(i + 1) <= 0xFE) { eucPairs += 1; i += 2 }
          else { eucBad += 1; i += 1 }
        } else if (x == 0x8E && i + 1 < n && u(i + 1) >= 0xA1 && u(i + 1) <= 0xDF) {
          eucPairs += 1; i += 2
        } else { eucBad += 1; i += 1 }
      }
      val sjisScore = if (sjisBad > 0) -1.0 else sjisPairs * 2.0 + sjisKata * 0.5
      val eucScore = if (eucBad > 0) -1.0 else eucPairs * 2.0
      if (eucScore > 0 && eucScore >= sjisScore) Some("EUC-JP")
      else if (sjisScore > 0) Some("Shift_JIS")
      else Some("windows-1252")
    }
  }
}

/** Capped inflation of untrusted container bytes — the one place that
  * decides how far they may inflate:
  *
  *   - [[Doc]]'s transparent unwrap: gzip (JDK), bzip2/xz/zstd/lz4-frame
  *     (Apache commons-compress + its xz / zstd-jni backends, all on the
  *     Spark runtime classpath), magic-sniffed — declared mimes and
  *     extensions only decide suffix stripping, never the codec;
  *   - the one zlib/deflate loop ([[inflateStream]]) under the zlib unwrap,
  *     PDF `/FlateDecode` streams and PNG `zTXt`/`iTXt` chunks;
  *   - the one zip walk ([[zipWalk]]) under the OOXML, ODF and EPUB
  *     parsers, and the central-directory listing ([[zipNames]]) that picks
  *     one of them for a plain zip; [[ArchiveNode]] caps its zip and 7z members at
  *     [[MaxInflate]] too.
  *
  * Each caller keeps its own acceptance rule (refusal or truncation); the
  * caps live here.
  */
private[graft] object Codecs {

  /** Bomb guard: no stream or container entry inflates past this. The
    * codec unwrap and archive members refuse an over-cap body (the doc
    * stays opaque, so extraction never sees a silently cut-off document),
    * PDF skips an over-cap stream, and the zip walk cuts a wanted entry here.
    */
  val MaxInflate: Int = 64 << 20

  /** Total bytes one [[zipWalk]] hands out before it stops. */
  val MaxZipTotal: Long = 256L << 20

  /** Declared mimes that mean "a codec wrapper, not the content type" —
    * the unwrapped bytes decide the effective mime instead.
    */
  val codecMimes: Set[String] = Set(
    "application/gzip", "application/x-gzip", "application/x-bzip2",
    "application/x-xz", "application/zstd", "application/x-lz4",
    "application/zlib", "application/deflate", "application/x-deflate")

  /** Codec by magic bytes; None when the head matches no known stream
    * compressor (7z/zip are CONTAINERS, not stream codecs — they dispatch
    * through the mime path to [[Node.parse]]).
    *
    * zlib last and heuristically: its 2-byte header (CMF/FLG, `%31`
    * checksum) can collide with text — e.g. `"x "` passes the check — so a
    * false positive costs one failed inflate attempt and falls back to the
    * raw view unchanged. RAW deflate (no zlib wrapper, some legacy
    * `Content-Encoding: deflate` servers) has no magic at all and stays
    * opaque by design.
    */
  def detect(b: Array[Byte]): Option[String] =
    if (b.length < 8) None
    else if (b(0) == 0x1f.toByte && b(1) == 0x8b.toByte) Some("gzip")
    else if (b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
      b(3) >= '1' && b(3) <= '9') Some("bzip2")
    else if (b(0) == 0xfd.toByte && b(1) == '7' && b(2) == 'z' &&
      b(3) == 'X' && b(4) == 'Z' && b(5) == 0) Some("xz")
    else if (b(0) == 0x28 && b(1) == 0xb5.toByte && b(2) == 0x2f &&
      b(3) == 0xfd.toByte) Some("zstd")
    else if (b(0) == 0x04 && b(1) == 0x22 && b(2) == 0x4d && b(3) == 0x18)
      Some("lz4")
    else if ((b(0) & 0x0f) == 8 && ((b(0) & 0xff) >>> 4) <= 7 &&
      (((b(0) & 0xff) << 8) | (b(1) & 0xff)) % 31 == 0) Some("zlib")
    else None

  /** Extensions each codec strips from the sniffing uri; `.tgz`-style fused
    * forms are handled in [[Mime.byExt]] instead (the suffix stays, the
    * mapping knows it is a tar).
    */
  private val suffixes = Map(
    "gzip" -> Seq(".gz"), "bzip2" -> Seq(".bz2"), "xz" -> Seq(".xz"),
    "zstd" -> Seq(".zst", ".zstd"), "lz4" -> Seq(".lz4"))

  def stripSuffix(uri: String, codec: String): String =
    suffixes.getOrElse(codec, Seq.empty)
      .collectFirst { case s if uri.toLowerCase.endsWith(s) => uri.dropRight(s.length) }
      .getOrElse(uri)

  /** Inflate fully (multi-member/concatenated streams included) or not at
    * all: None on corrupt input or when the output would exceed `cap`.
    */
  def inflate(raw: Array[Byte], codec: String, cap: Int): Option[Array[Byte]] = {
    if (codec == "zlib") return inflateZlib(raw, cap)
    import org.apache.commons.compress.compressors
    var in: java.io.InputStream = null
    try {
      val bin = new ByteArrayInputStream(raw)
      in = codec match {
        case "gzip"  => new java.util.zip.GZIPInputStream(bin)
        case "bzip2" => new compressors.bzip2.BZip2CompressorInputStream(bin, true)
        case "xz"    => compressors.xz.XZCompressorInputStream.builder()
          .setInputStream(bin).setDecompressConcatenated(true).get()
        case "zstd"  => new compressors.zstandard.ZstdCompressorInputStream(bin)
        case "lz4"   => new compressors.lz4.FramedLZ4CompressorInputStream(bin, true)
        case _       => return None
      }
      val out = in.readNBytes(cap + 1)
      if (out.length > cap) None else Some(out)
    } catch {
      case scala.util.control.NonFatal(_) => None // corrupt stream: keep raw bytes
    } finally if (in != null) try in.close() catch { case _: java.io.IOException => }
  }

  /** zlib needs stricter acceptance than the magic codecs: the JDK Inflater
    * can report "finished" with ZERO output on plain text that passes the
    * 2-byte header check (measured — `"x marks the spot"` inflates to 0
    * bytes "successfully"), which would silently EMPTY a real document. A
    * zlib body is accepted only when the inflater finishes, produced
    * non-empty output, and consumed the whole input (true zlib bodies are
    * exactly one stream + adler trailer); anything else keeps raw bytes.
    */
  private def inflateZlib(raw: Array[Byte], cap: Int): Option[Array[Byte]] =
    inflateStream(raw, 0, raw.length, cap)
      .collect { case s if s.finished && s.bytes.nonEmpty && s.remaining == 0 => s.bytes }

  /** One zlib-framed deflate stream's output: whether the stream reached
    * its end, and how many input bytes were left after it.
    */
  final case class Inflated(bytes: Array[Byte], finished: Boolean, remaining: Int)

  /** The one zlib/deflate inflate loop: inflates `a[from, until)` until the
    * stream ends or the input runs out (then `finished` is false and the
    * output so far is kept). None on corrupt data, on a preset-dictionary
    * stream and when the output would pass `cap`. The inflater is released
    * on every path.
    */
  def inflateStream(a: Array[Byte], from: Int, until: Int, cap: Int): Option[Inflated] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(a, from, until - from)
      val out = new ByteArrayOutputStream(math.min(math.max((until - from) * 4, 1024), 1 << 20))
      val buf = new Array[Byte](8192)
      var n = 1
      // n == 0 without finishing: no forward progress is possible (input
      // exhausted or a dictionary needed), so an untrusted stream can't spin
      while (!inf.finished() && n > 0) {
        n = inf.inflate(buf)
        if (out.size + n > cap) return None
        out.write(buf, 0, n)
      }
      if (inf.needsDictionary()) None
      else Some(Inflated(out.toByteArray, inf.finished(), inf.getRemaining))
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally inf.end()
  }

  /** The entry names in a zip's central directory, read without inflating
    * any entry; None when the directory cannot be read (a truncated or
    * stream-only zip), so a caller falls back to walking the entries.
    */
  def zipNames(content: Array[Byte]): Option[Seq[String]] =
    try {
      val zf = org.apache.commons.compress.archivers.zip.ZipFile.builder()
        .setSeekableByteChannel(
          new org.apache.commons.compress.utils.SeekableInMemoryByteChannel(content)).get()
      try {
        val names = Vector.newBuilder[String]
        val es = zf.getEntries
        while (es.hasMoreElements) names += es.nextElement().getName
        Some(names.result())
      } finally zf.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The one capped zip walk: visits entries in zip order and hands each
    * entry `wanted` accepts to `f` — its name and its first `entryCap`
    * bytes (a longer entry is cut there). The walk stops at the end of the
    * zip, when `f` returns false, once `totalCap` bytes were handed out,
    * or at the first corrupt entry (what was handed out stays handed out).
    * The caps are parameters only so a spec can reach them with small
    * fixtures; parsers use the defaults.
    */
  def zipWalk(content: Array[Byte], wanted: String => Boolean,
              entryCap: Int = MaxInflate, totalCap: Long = MaxZipTotal)(
      f: (String, Array[Byte]) => Boolean): Unit = {
    val zin = new java.util.zip.ZipInputStream(new ByteArrayInputStream(content))
    try {
      var total = 0L
      var e = zin.getNextEntry
      while (e != null && total < totalCap) {
        val go = !wanted(e.getName) || {
          val bytes = zin.readNBytes(entryCap)
          total += bytes.length
          f(e.getName, bytes)
        }
        e = if (go) zin.getNextEntry else null
      }
    } catch {
      case scala.util.control.NonFatal(_) => // truncated/corrupt zip: keep what was handed out
    } finally zin.close()
  }
}

/** Extension + magic-byte mime sniffing (stands in for the reference's
  * Tika detection, which is not on our classpath).
  */
object Mime {
  private val byExt = Map(
    "html" -> "text/html", "htm" -> "text/html", "xhtml" -> "text/html",
    "json" -> "application/json", "xml" -> "text/xml", "csv" -> "text/csv",
    "txt" -> "text/plain", "md" -> "text/plain",
    "png" -> "image/png", "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg",
    "gif" -> "image/gif", "pdf" -> "application/pdf",
    "tif" -> "image/tiff", "tiff" -> "image/tiff",
    "ps" -> "application/postscript", "eps" -> "application/postscript",
    "srt" -> "application/x-subrip", "vtt" -> "text/vtt",
    "docx" -> "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "xlsx" -> "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "pptx" -> "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "rtf" -> "application/rtf", "epub" -> "application/epub+zip",
    "eml" -> "message/rfc822",
    "doc" -> "application/msword", "xls" -> "application/vnd.ms-excel",
    "ppt" -> "application/vnd.ms-powerpoint",
    "msg" -> "application/vnd.ms-outlook",
    "odt" -> "application/vnd.oasis.opendocument.text",
    "ods" -> "application/vnd.oasis.opendocument.spreadsheet",
    "odp" -> "application/vnd.oasis.opendocument.presentation",
    // .tar.gz/.tar.bz2/.tar.xz/.tar.zst/.tar.lz4 reach these through Doc's
    // transparent codec unwrap (which strips the codec suffix before
    // sniffing); the fused short forms map directly.
    "tar" -> "application/x-tar", "tgz" -> "application/x-tar",
    "tbz2" -> "application/x-tar", "txz" -> "application/x-tar",
    "tzst" -> "application/x-tar",
    "7z" -> "application/x-7z-compressed"
  )

  def sniff(uri: String, content: Array[Byte]): String = {
    val path = uri.takeWhile(c => c != '?' && c != '#')
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    byExt.get(ext).getOrElse {
      val head = new String(content.take(256), StandardCharsets.UTF_8).trim
      if (content.startsWith(Array[Byte](0x89.toByte, 'P', 'N', 'G'))) "image/png"
      else if (head.startsWith("%PDF")) "application/pdf"
      else if (head.startsWith("%!PS")) "application/postscript"
      else if (content.length > 2 && (content(0) & 0xff) == 0xff &&
        (content(1) & 0xff) == 0xd8 && (content(2) & 0xff) == 0xff) "image/jpeg"
      // TIFF magic: byte order II/MM + the 42 in that order
      else if (content.startsWith(Array[Byte]('I', 'I', 42, 0)) ||
        content.startsWith(Array[Byte]('M', 'M', 0, 42))) "image/tiff"
      // zip magic: could be an OOXML doc — OfficeNode decides by entry names
      else if (content.startsWith(Array[Byte]('P', 'K', 3, 4))) "application/zip"
      else if (head.startsWith("{\\rtf")) "application/rtf" // before the JSON `{` guess
      else if (content.startsWith(Array[Byte](0xd0.toByte, 0xcf.toByte, 0x11, 0xe0.toByte)))
        "application/msword" // CFB container (.doc/.xls — salvage path)
      // codec magics: only reached when Doc's transparent unwrap refused
      // (corrupt stream / over-cap bomb) — the doc stays an opaque binary
      else if (content.startsWith(Array[Byte](0x1f, 0x8b.toByte))) "application/gzip"
      else if (content.length > 3 && content(0) == 'B' && content(1) == 'Z' &&
        content(2) == 'h' && content(3) >= '1' && content(3) <= '9') "application/x-bzip2"
      else if (content.startsWith(Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0)))
        "application/x-xz"
      else if (content.startsWith(Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte)))
        "application/zstd"
      else if (content.startsWith(Array[Byte](0x04, 0x22, 0x4d, 0x18))) "application/x-lz4"
      else if (content.startsWith(Array[Byte]('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c)))
        "application/x-7z-compressed"
      else if (content.length > 262 && content(257) == 'u' && content(258) == 's' &&
        content(259) == 't' && content(260) == 'a' && content(261) == 'r')
        "application/x-tar" // ustar magic at 257 (extension-less tars)
      else if (head.startsWith("WEBVTT")) "text/vtt"
      // SubRip has no magic: an integer first line + a timing arrow is the
      // de-facto signature
      else if (head.linesIterator.nextOption().exists(l =>
        l.trim.nonEmpty && l.trim.forall(_.isDigit)) && head.contains(" --> "))
        "application/x-subrip"
      else if (head.startsWith("<!DOCTYPE") || head.toLowerCase.startsWith("<html")) "text/html"
      else if (head.startsWith("<?xml")) "text/xml"
      else if (head.startsWith("{") || head.startsWith("[")) "application/json"
      else if (head.startsWith("<")) "text/html"
      else "text/plain"
    }
  }
}
