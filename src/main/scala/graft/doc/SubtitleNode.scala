package graft.doc

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Subtitle-file extraction behind the [[Node]] seam — SubRip `.srt` and
  * WebVTT (W3C) `.vtt`, the cue formats large-scale speech/translation
  * corpora ship in (public formats: the de-facto SubRip layout and the
  * WebVTT spec):
  *
  *   - SRT: index line, `HH:MM:SS,mmm --> HH:MM:SS,mmm` timing, text
  *     lines until a blank line
  *   - WebVTT: `WEBVTT` header; cues with optional identifier lines,
  *     `HH:MM:SS.mmm` timings (hours optional), trailing cue settings
  *     after the end timestamp ignored; NOTE/STYLE/REGION blocks skipped
  *   - CRLF/LF both accepted; a UTF-8 BOM stripped
  *
  * Result: `{"subtitles":{"format","n_cues","total_ms","cues":[{idx,
  * start_ms,end_ms,text}…]}}` — the JSON-listing convention:
  * `findAll("cues")` yields cue nodes whose `attr` carries timing + text
  * (the corpus payload).
  */
object SubtitleNode {

  private val Timing =
    """(?:(\d+):)?(\d{1,2}):(\d{2})[,.](\d{3})\s*-->\s*(?:(\d+):)?(\d{1,2}):(\d{2})[,.](\d{3}).*""".r

  final case class Cue(idx: Long, startMs: Long, endMs: Long, text: String)

  def parse(content: Array[Byte]): Node = {
    try {
      var s = new String(content, StandardCharsets.UTF_8)
      if (s.startsWith("\uFEFF")) s = s.substring(1)
      val isVtt = s.startsWith("WEBVTT")
      val lines = s.split("\r\n|\n|\r", -1)
      val cues = ArrayBuffer.empty[Cue]
      var i = if (isVtt) 1 else 0
      var idx = 0L
      while (i < lines.length) {
        val l = lines(i).trim
        if (l.isEmpty) i += 1
        else if (isVtt && (l.startsWith("NOTE") || l.startsWith("STYLE") ||
          l.startsWith("REGION"))) {
          // skip the whole block
          while (i < lines.length && lines(i).trim.nonEmpty) i += 1
        } else {
          // a cue: optional identifier/index line(s) before the timing
          var j = i
          var timing: Option[(Long, Long)] = None
          while (timing.isEmpty && j < lines.length && lines(j).trim.nonEmpty &&
            j - i <= 1) {
            lines(j).trim match {
              case Timing(h1, m1, s1, ms1, h2, m2, s2, ms2) =>
                def ms(h: String, m: String, sec: String, milli: String): Long =
                  (if (h == null) 0L else h.toLong) * 3600000L +
                    m.toLong * 60000L + sec.toLong * 1000L + milli.toLong
                timing = Some((ms(h1, m1, s1, ms1), ms(h2, m2, s2, ms2)))
              case _ => ()
            }
            j += 1
          }
          timing match {
            case Some((st, en)) =>
              val text = ArrayBuffer.empty[String]
              while (j < lines.length && lines(j).trim.nonEmpty) {
                text += lines(j); j += 1
              }
              idx += 1
              cues += Cue(idx, st, en, text.mkString("\n"))
              i = j
            case None =>
              // not a cue block — skip it wholesale
              while (i < lines.length && lines(i).trim.nonEmpty) i += 1
          }
        }
      }
      if (cues.isEmpty) return Node.Unrecognisable
      val sb = new StringBuilder
      sb.append("{\"subtitles\":{\"format\":")
        .append(if (isVtt) "\"vtt\"" else "\"srt\"")
        .append(",\"n_cues\":").append(cues.length)
        .append(",\"total_ms\":").append(cues.map(c => c.endMs - c.startMs).sum)
        .append(",\"cues\":[")
      cues.zipWithIndex.foreach { case (c, k) =>
        if (k > 0) sb.append(',')
        sb.append("{\"idx\":").append(c.idx)
          .append(",\"start_ms\":").append(c.startMs)
          .append(",\"end_ms\":").append(c.endMs)
          .append(",\"text\":").append(JsonNode.quote(c.text)).append('}')
      }
      sb.append("]}}")
      JsonNode.parse(sb.result())
    } catch { case scala.util.control.NonFatal(_) => Node.Unrecognisable }
  }

  private def stamp(ms: Long, sep: Char): String = {
    val h = ms / 3600000; val m = (ms / 60000) % 60
    val s = (ms / 1000) % 60; val f = ms % 1000
    f"$h%02d:$m%02d:$s%02d$sep$f%03d"
  }

  /** Fixture/export writer: one 2-second cue per input line. */
  def writeSrt(cueTexts: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder
    cueTexts.zipWithIndex.foreach { case (t, i) =>
      val st = i.toLong * 2000
      sb.append(i + 1).append('\n')
        .append(stamp(st, ',')).append(" --> ").append(stamp(st + 2000, ','))
        .append('\n').append(t).append("\n\n")
    }
    sb.result().getBytes(StandardCharsets.UTF_8)
  }

  /** [[writeSrt]]'s WebVTT twin (dot millis separator, header, no index
    * lines, a cue-settings token after the end stamp — parsers must skip
    * it).
    */
  def writeVtt(cueTexts: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder("WEBVTT\n\n")
    cueTexts.zipWithIndex.foreach { case (t, i) =>
      val st = i.toLong * 2000
      sb.append(stamp(st, '.')).append(" --> ").append(stamp(st + 2000, '.'))
        .append(" align:start\n").append(t).append("\n\n")
    }
    sb.result().getBytes(StandardCharsets.UTF_8)
  }

}
