package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.InputStream

/** mbox mail-archive segment source — the bulk container for the `.eml`
  * leg ([[graft.doc.EmlNode]]), the [[Warc]] pattern applied to mail dumps
  * (public format: RFC 4155 + the mboxrd quoting convention): one file
  * holds many messages, each introduced by a postmark line starting
  * `From ` (sender + date); body lines that themselves start with
  * optional `>`s followed by `From ` are quoted with one more `>` by
  * writers and unquoted symmetrically by readers — the postmark escape
  * itself loses nothing, even for adversarial bodies. Round-trips are
  * LINE-lossless modulo text normalization, not byte-lossless: [[write]]
  * strips a trailing `\r` per line (CRLF→LF) and pins the final-newline
  * boundary, matching [[graft.doc.EmlNode]]'s own CRLF normalization —
  * don't rely on byte-exact payload recovery through mbox.
  *
  * Scale shape (the WARC doctrine verbatim): `binaryFile` is the
  * non-splitting FILE LISTING only — selecting just `path` prunes the
  * content column; each task OPENS its segment as a DFS stream and splits
  * messages line-wise, so a multi-GB mail dump never materializes as one
  * executor byte array: peak memory per task is one message. Streams
  * close on exhaustion and on task completion.
  */
object Mbox {

  final case class MboxMessage(segment: String, msg_idx: Long, raw: Array[Byte])

  /** Fixture/export writer: RFC 4155 postmark + mboxrd quoting, fixed
    * deterministic postmark date, one blank line after each message.
    */
  def write(messages: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    messages.foreach { m =>
      out.write("From mbox@example.invalid Thu Jan  1 00:00:00 2026\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val text = new String(m, java.nio.charset.StandardCharsets.ISO_8859_1)
      text.split('\n').foreach { line0 =>
        val line = line0.stripSuffix("\r")
        val quoted =
          if (line.dropWhile(_ == '>').startsWith("From ")) ">" + line else line
        out.write(quoted.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        out.write('\n')
      }
      out.write('\n') // message separator blank line
    }
    out.toByteArray
  }

  /** Streaming message iterator: line-wise split on postmark lines, with
    * mboxrd unquoting. The stream is consumed exactly once; each yielded
    * message is its own byte array (the only buffered state).
    */
  def messages(raw: InputStream): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(raw, java.nio.charset.StandardCharsets.ISO_8859_1))
    private var pending: String = reader.readLine()
    // skip any preamble before the first postmark
    while (pending != null && !pending.startsWith("From ")) pending = reader.readLine()

    override def hasNext: Boolean = pending != null

    override def next(): Array[Byte] = {
      // pending is a postmark line — discard it, collect until next postmark
      val sb = new StringBuilder
      var line = reader.readLine()
      while (line != null && !line.startsWith("From ")) {
        val unquoted =
          if (line.dropWhile(_ == '>').startsWith("From ") && line.startsWith(">"))
            line.substring(1)
          else line
        sb.append(unquoted).append('\n')
        line = reader.readLine()
      }
      pending = line
      // writers terminate messages with one separator blank line — strip it
      val s = sb.toString
      val trimmed = if (s.endsWith("\n\n")) s.substring(0, s.length - 1) else s
      trimmed.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
  }

  /** Distributed segment reader: one row per message, constant memory per
    * task (the [[Warc.read]] listing + streaming-open shape).
    *
    * A glob `path` is expanded here and the source gets the concrete paths:
    * given one path, the file source stats it as a possible metadata dir,
    * and a literal glob makes that probe log a `FileNotFoundException`. A
    * glob that matches nothing is passed through, so it fails as before.
    */
  def read(spark: SparkSession, path: String): Dataset[MboxMessage] = {
    import spark.implicits._
    val glob = new org.apache.hadoop.fs.Path(path)
    val fs = glob.getFileSystem(spark.sessionState.newHadoopConf())
    val paths = Option(fs.globStatus(glob)).map(_.toSeq.map(_.getPath.toString))
      .filter(_.nonEmpty).getOrElse(Seq(path))
    spark.read.format("binaryFile").load(paths: _*)
      .select(col("path"))
      .as[String]
      .mapPartitions { segs =>
        segs.flatMap { seg =>
          val p = new org.apache.hadoop.fs.Path(seg)
          val fs = p.getFileSystem(graft.agent.DocIO.hadoopConf)
          val in = fs.open(p)
          var closed = false
          def closeOnce(): Unit = if (!closed) { closed = true; in.close() }
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
          val msgs = messages(in).zipWithIndex.map { case (m, i) =>
            MboxMessage(seg, i.toLong, m)
          }
          new Iterator[MboxMessage] {
            override def hasNext: Boolean = {
              val h = msgs.hasNext
              if (!h) closeOnce()
              h
            }
            override def next(): MboxMessage = msgs.next()
          }
        }
      }
  }
}
