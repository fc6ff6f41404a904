package graft.streaming

import java.nio.file.{Files, Path, Paths}

/** Ephemeral checkpoint placement for the FINITE-replay streaming queries
  * (the q97/q118/q121/q132/q139 gate surfaces).
  *
  * Those queries re-compute from the parquet inputs on every invocation and
  * their checkpoint is throwaway by design (Spark's own temp-checkpoint
  * default). Placement still matters: each micro-batch commit writes one
  * delta file per state partition plus offset/commit WAL entries, and on the
  * sandbox's disk-backed /tmp those small synchronous writes contend —
  * measured ~600 ms of commit I/O per state task, dominating `addBatch` for
  * KB-sized state. A RAM-backed tmpfs (Linux /dev/shm) makes them memory
  * writes. `GRAFT_STREAM_CKPT_DIR` overrides; when neither it nor /dev/shm
  * exists this degrades to exactly the old behavior (java.io.tmpdir).
  *
  * Production streams configure a DURABLE `checkpointLocation` explicitly —
  * this helper is only for checkpoints whose lifetime is one invocation;
  * everything under the session root is removed on JVM exit.
  */
object StreamCkpt {

  private lazy val root: Path = {
    val base = sys.env.get("GRAFT_STREAM_CKPT_DIR")
      .orElse(Some("/dev/shm").filter(p => Files.isDirectory(Paths.get(p))))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val r = Files.createTempDirectory(Paths.get(base), "graft-stream-ckpt-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** A fresh checkpoint dir for one streaming-query invocation. */
  def ephemeral(name: String): String =
    Files.createTempDirectory(root, name + "-").toString

  /** Scale-adaptive shuffle/state partition count for a finite streaming
    * replay (optimization guide §2: derive partitioning from input size,
    * not a constant tuned for local mode or the cluster): the count AQE's
    * size-based coalescing would choose for the same aggregation in batch —
    * ceil(inputBytes / advisoryPartitionSizeInBytes), clamped to
    * [1, session shuffle partitions] — except AQE cannot rewrite streaming
    * exchanges, so the gate queries apply it explicitly at query start.
    * Motivation, measured: every state-store partition carries a fixed
    * per-micro-batch cost (provider init + coordinator RPC + commit,
    * ~27 ms each here), so a KB-scale replay under a cores-sized default
    * pays ~1 s/query of pure overhead; at production input sizes the byte
    * ratio exceeds the session value and this returns it unchanged.
    * Result-neutral by construction: all gated streaming aggregates are
    * order- and partitioning-independent (canonical sketch states, keyed
    * session windows) — re-verified by the full oracle gate.
    */
  def statePartitions(spark: org.apache.spark.sql.SparkSession, inputPath: String): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(inputPath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
      } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val target = math.max(1L, (bytes + advisory - 1) / math.max(1L, advisory))
    math.min(session.toLong, target).toInt
  }

  /** Runs `body` (a writeStream ... .start() call — the partition count is
    * captured at query start) under the input-size-derived shuffle/state
    * partition count, restoring the session setting after.
    *
    * Scope caveat (ADVICE r21): this mutates the session-global
    * `spark.sql.shuffle.partitions` for the duration of `body` — a
    * concurrent query PLANNED on the same session inside that window would
    * pick up the reduced count. Safe here because the gate/bench harness
    * runs queries strictly sequentially; a concurrent caller should start
    * the stream from a cloned session (`spark.newSession()`) instead.
    */
  def withStateParts[T](spark: org.apache.spark.sql.SparkSession, inputPath: String)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, statePartitions(spark, inputPath).toString)
    try body finally spark.conf.set(key, prev)
  }

  private def deleteRecursively(p: Path): Unit = {
    try {
      if (Files.isDirectory(p)) {
        // close the listing stream (ADVICE r21): Files.list holds a
        // directory fd until closed — unclosed, the shutdown-hook walk
        // leaks one fd per tree level
        val s = Files.list(p)
        try s.forEach(c => deleteRecursively(c)) finally s.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: Exception => () }
  }
}
