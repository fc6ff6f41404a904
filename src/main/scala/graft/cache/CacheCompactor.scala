package graft.cache

import org.apache.hadoop.fs.{FileSystem, Path}

/** Small-file compaction for the DFS doc-cache tier.
  *
  * [[DfsDocCache]] writes one `<key>/<ts>.obs` file per cached observation
  * — correct, but a 100 TB crawl caching billions of pages would drown any
  * DFS namenode/object store in tiny objects. [[CacheCompactor.compact]]
  * packs every loose `.obs` file into an append-only SEGMENT file
  * (`_segments/seg-*.pack`: concatenated raw blobs) with a sidecar index
  * (`seg-*.idx`: one `key \t ts \t offset \t length` line per blob), then
  * deletes the loose files and their emptied key dirs — the index IS the
  * written-back pointer set. Compaction is idempotent and incremental:
  * each run packs only the loose files present at list time into one new
  * segment; files written concurrently are simply left for the next run.
  *
  * The read path ([[SegmentStore.lookup]]) merges packed entries with
  * loose files under the same TTL/wayback window selection, so packing is
  * invisible to cache semantics — CacheSpec pins round-trip identity,
  * version selection across tiers, and a warm re-crawl doing 0 fetches
  * from a fully compacted cache.
  *
  * Designed to run as maintenance BETWEEN crawl epochs (the reference's
  * cache is likewise maintained out-of-band): readers load segment
  * indexes once per JVM (memoized per dir, invalidated by same-JVM
  * compaction); a long-lived executor sees segments created after its
  * first load only on restart, which is safe because every packed entry's
  * loose file outlived it until the segment was durably written — at
  * worst a reader re-reads the loose file it already knew. At larger
  * scale the per-dir index memo would shard by key prefix; the memo is
  * size-bounded so an executor probing many cache dirs evicts, not OOMs.
  */
object CacheCompactor {

  val SegDirName = "_segments"

  final case class Stats(filesPacked: Int, bytesPacked: Long, segmentsWritten: Int)

  /** Pack all current loose `.obs` files under `dir` into one new segment.
    * Returns what was packed; no-op (and no empty segment) when the cache
    * has no loose files.
    */
  def compact(dir: String): Stats = {
    val root = new Path(dir)
    val fs: FileSystem = root.getFileSystem(graft.agent.DocIO.hadoopConf)
    if (!fs.exists(root)) return Stats(0, 0L, 0)
    val keyDirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName != SegDirName)
    val loose = for {
      kd <- keyDirs
      f <- fs.listStatus(kd.getPath)
      name = f.getPath.getName
      if name.endsWith(".obs")
      ts <- scala.util.Try(name.stripSuffix(".obs").toLong).toOption
    } yield (kd.getPath.getName, ts, f.getPath, f.getLen)
    if (loose.isEmpty) return Stats(0, 0L, 0)

    val segDir = new Path(root, SegDirName)
    fs.mkdirs(segDir)
    val segName = s"seg-${System.currentTimeMillis()}-${loose.length}"
    val packPath = new Path(segDir, s"$segName.pack")
    val idx = new StringBuilder
    var offset = 0L
    val out = fs.create(packPath, false)
    try {
      loose.foreach { case (key, ts, p, len) =>
        val bytes = graft.agent.DocIO.readBytes(p.toString)
        out.write(bytes)
        idx.append(key).append('\t').append(ts).append('\t')
          .append(offset).append('\t').append(bytes.length).append('\n')
        offset += bytes.length
        require(bytes.length.toLong == len || len == 0L,
          s"cache file $p changed size during compaction")
      }
    } finally out.close()
    // idx written AFTER the pack is durably closed: a crash between the two
    // leaves an unreferenced pack (garbage, harmless), never a dangling index
    graft.agent.DocIO.writeBytes(segDir.toString, s"$segName.idx",
      idx.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // pointer writeback complete — retire the loose files and emptied dirs
    loose.foreach { case (_, _, p, _) => fs.delete(p, false) }
    keyDirs.foreach { kd =>
      if (fs.listStatus(kd.getPath).isEmpty) fs.delete(kd.getPath, false)
    }
    SegmentStore.invalidate(dir)
    Stats(loose.length, offset, 1)
  }
}

/** Read side of the packed tier: per-dir segment indexes, loaded once and
  * memoized JVM-wide (size-bounded), plus positioned blob reads.
  */
object SegmentStore {

  final case class Entry(ts: Long, pack: String, offset: Long, length: Int)

  /** dir -> key -> entries. Bounded: an executor probing many distinct
    * cache dirs evicts old indexes (they reload on next use).
    */
  private val memo: com.google.common.cache.Cache[String, Map[String, List[Entry]]] =
    com.google.common.cache.CacheBuilder.newBuilder().maximumSize(64).build()

  def invalidate(dir: String): Unit = memo.invalidate(dir)

  def lookup(dir: String, key: String): List[Entry] =
    memo.get(dir, () => loadIndex(dir)).getOrElse(key, Nil)

  private def loadIndex(dir: String): Map[String, List[Entry]] = {
    val segDir = new Path(dir, CacheCompactor.SegDirName)
    val fs = segDir.getFileSystem(graft.agent.DocIO.hadoopConf)
    if (!fs.exists(segDir)) return Map.empty
    val entries = for {
      f <- fs.listStatus(segDir).toSeq
      name = f.getPath.getName
      if name.endsWith(".idx")
      pack = name.stripSuffix(".idx") + ".pack"
      line <- {
        val text = new String(graft.agent.DocIO.readBytes(f.getPath.toString),
          java.nio.charset.StandardCharsets.UTF_8)
        text.split('\n').toSeq.filter(_.nonEmpty)
      }
      parts = line.split('\t')
      if parts.length == 4
    } yield parts(0) -> Entry(parts(1).toLong, pack, parts(2).toLong, parts(3).toInt)
    entries.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toList }
  }

  /** Positioned read of one packed blob. Local dirs go through java.nio
    * (the same fast-path rationale as [[graft.agent.DocIO]]); DFS schemes
    * use Hadoop seek+readFully.
    */
  def read(dir: String, e: Entry): Array[Byte] = {
    graft.agent.DocIO.localPath(dir) match {
      case Some(base) =>
        val ch = java.nio.file.Files.newByteChannel(
          base.resolve(CacheCompactor.SegDirName).resolve(e.pack))
        try {
          ch.position(e.offset)
          val buf = java.nio.ByteBuffer.allocate(e.length)
          while (buf.hasRemaining && ch.read(buf) >= 0) {}
          require(!buf.hasRemaining, s"short read of ${e.pack}@${e.offset}")
          buf.array()
        } finally ch.close()
      case None =>
        val p = new Path(new Path(dir, CacheCompactor.SegDirName), e.pack)
        val fs = p.getFileSystem(graft.agent.DocIO.hadoopConf)
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](e.length)
          in.readFully(e.offset, buf)
          buf
        } finally in.close()
    }
  }
}
