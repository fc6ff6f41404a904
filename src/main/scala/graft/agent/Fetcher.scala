package graft.agent

import graft.doc.{Doc, DocUID, JsonNode, NoDoc, Observation}

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Executor-side resource fetcher (reference io/HTTPResolver.scala +
  * CompoundResolver.scala — the `OmniResolver`): `http(s):` via the JDK
  * client, everything else (bare paths, `file:`, `hdfs:`, `s3a:`...) via the
  * Hadoop FileSystem API. Directory URIs yield a JSON listing doc — the
  * explore fixture (reference Wget directory-listing behavior,
  * ExplorePlanSpec's dir-tree traversal).
  */
object Fetcher {

  // Keep-alive pool sizing + stub-server nodelay — shared with every other
  // HTTP entry point (the WebDriver wire client doesn't route through this
  // object, so the tuning can't live only here; see HttpTuning's scaladoc).
  HttpTuning()

  // -- hard cancellation seam: HttpURLConnection reads IGNORE thread
  //    interrupts, so a hung server would pin a worker thread until the
  //    socket timeout even after the action's future is cancelled. The
  //    in-flight connection is registered per worker thread; the timeout
  //    path disconnects it, which makes the blocked read fail immediately.
  private val inFlight =
    new java.util.concurrent.ConcurrentHashMap[Thread, HttpURLConnection]()

  private def registered[T](conn: HttpURLConnection)(f: => T): T = {
    val t = Thread.currentThread()
    inFlight.put(t, conn)
    try f finally inFlight.remove(t)
  }

  /** Force-close the HTTP connection `worker` is blocked on (no-op when it
    * isn't inside an HTTP call). Called from the timeout watchdog.
    */
  private[agent] def abortInFlight(worker: Thread): Unit =
    Option(inFlight.get(worker)).foreach { c =>
      try c.disconnect() catch { case _: Throwable => () }
    }

  def get(uri: String, timeoutMillis: Long, uid: DocUID, now: Long): Observation =
    if (isHttp(uri)) httpGet(uri, timeoutMillis, uid, now)
    else fsGet(uri, uid, now)

  def post(uri: String, entity: String, contentType: String, timeoutMillis: Long,
           uid: DocUID, now: Long): Observation =
    if (isHttp(uri)) httpPost(uri, entity, contentType, timeoutMillis, uid, now)
    else {
      // non-HTTP POST = upload: write the entity to the target path
      // (reference Wpost.scala:16-103), observation is a contentless NoDoc
      val path = new Path(stripFileScheme(uri))
      val fs = path.getFileSystem(DocIO.hadoopConf)
      val out = fs.create(path, true)
      try out.write(entity.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      NoDoc(uid, uri, now)
    }

  private def isHttp(uri: String) = uri.startsWith("http://") || uri.startsWith("https://")

  // Success paths deliberately do NOT disconnect(): fully reading + closing
  // the stream returns the socket to the JDK keep-alive pool, so repeated
  // fetches against one host reuse a connection instead of paying TCP
  // setup + TIME_WAIT churn per page (measured ~10x on a host-skewed
  // crawl). disconnect() is reserved for the FAILURE
  // path and the timeout watchdog ([[abortInFlight]]), where killing the
  // socket is the point.

  private[agent] def httpGet(uri: String, timeoutMillis: Long, uid: DocUID, now: Long,
                             headers: Map[String, String] = Map.empty): Observation = {
    val conn = new URI(uri).toURL.openConnection().asInstanceOf[HttpURLConnection]
    var ok = false
    try {
      val r = registered(conn) {
        conn.setConnectTimeout(timeoutMillis.toInt)
        conn.setReadTimeout(timeoutMillis.toInt)
        conn.setInstanceFollowRedirects(true)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        val status = conn.getResponseCode
        val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
        val bytes = if (stream == null) Array.empty[Byte] else readAll(stream)
        Doc(uid, uri, bytes, Option(conn.getContentType), status,
          metadata = Map("via" -> "http"), timestampMillis = now)
      }
      ok = true
      r
    } finally if (!ok) conn.disconnect()
  }

  private def httpPost(uri: String, entity: String, contentType: String,
                       timeoutMillis: Long, uid: DocUID, now: Long): Observation = {
    val conn = new URI(uri).toURL.openConnection().asInstanceOf[HttpURLConnection]
    var ok = false
    try {
      val r = registered(conn) {
        conn.setConnectTimeout(timeoutMillis.toInt)
        conn.setReadTimeout(timeoutMillis.toInt)
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", contentType)
        val body = entity.getBytes(StandardCharsets.UTF_8)
        conn.getOutputStream.write(body)
        val status = conn.getResponseCode
        val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
        val bytes = if (stream == null) Array.empty[Byte] else readAll(stream)
        Doc(uid, uri, bytes, Option(conn.getContentType), status,
          metadata = Map("via" -> "http-post"), timestampMillis = now)
      }
      ok = true
      r
    } finally if (!ok) conn.disconnect()
  }

  /** File/DFS scan. A directory returns a JSON listing
    * `{"uri":..., "entries":[{"name","uri","isDir"}...]}` so the Node tree
    * (and explore link extraction) can navigate it uniformly.
    */
  private def fsGet(uri: String, uid: DocUID, now: Long): Observation = {
    val path = new Path(stripFileScheme(uri))
    val fs = path.getFileSystem(DocIO.hadoopConf)
    val status = fs.getFileStatus(path)
    if (status.isDirectory) {
      val entries = fs.listStatus(path).sortBy(_.getPath.getName).map { st =>
        val name = st.getPath.getName
        s"""{"name":${JsonNode.quote(name)},"uri":${JsonNode.quote(st.getPath.toUri.toString)},"isDir":${st.isDirectory}}"""
      }
      val json = s"""{"uri":${JsonNode.quote(uri)},"entries":[${entries.mkString(",")}]}"""
      Doc(uid, uri, json.getBytes(StandardCharsets.UTF_8), Some("application/json"),
        metadata = Map("type" -> "directory"), timestampMillis = now)
    } else {
      Doc(uid, uri, DocIO.readBytes(stripFileScheme(uri)), None,
        metadata = Map("length" -> status.getLen.toString), timestampMillis = now)
    }
  }

  private def stripFileScheme(uri: String): String =
    if (uri.startsWith("file://")) uri.stripPrefix("file://")
    else if (uri.startsWith("file:")) uri.stripPrefix("file:")
    else uri

  private def readAll(in: java.io.InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }
}
