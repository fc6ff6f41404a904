package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured-Streaming analogs of the batch event queries (q14/q15): the
  * same aggregations expressed over an unbounded source. The reference has no
  * streaming module (SURVEY §1.4) — this is the forward-looking surface a
  * 100 TB pipeline needs: `readStream` → these transforms → `writeStream`.
  *
  * Inputs must carry an event-time `ts` TIMESTAMP column (for the driver
  * testdata's nanosecond-long `ts`, convert via
  * `timestamp_micros(ts div 1000)` first). Watermarks bound state so the
  * hourly/session state stores don't grow unboundedly.
  */
object EventStreams {

  /** Tumbling 1-hour counts+value per event type — the streaming twin of
    * q14. Works identically on batch DataFrames (Spark's unified API), which
    * is how the spec cross-checks it against the batch result.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total_value"))
  }

  /** One event row for the typed stateful operators. */
  final case class Event(ts: java.sql.Timestamp, eventType: String,
                         value: Double, userId: Long)

  /** Running per-user state (monotone: nEvents only grows). */
  final case class UserStats(userId: Long, nEvents: Long, totalValue: Double)

  /** Custom arbitrary-state aggregation via `mapGroupsWithState` (the
    * KeyValueGroupedDataset custom-state path; built-in windows can't
    * express user-defined state machines): a running per-user event
    * count + value total, emitted once per micro-batch per updated user.
    * Works identically on batch groups (one emission, the final state).
    */
  def userRunningStats(events: Dataset[Event]): Dataset[UserStats] = {
    implicit val statsEnc = Encoders.product[UserStats]
    events.groupByKey(_.userId)(Encoders.scalaLong)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          val s = rows.foldLeft(state.getOption.getOrElse(UserStats(uid, 0L, 0.0))) {
            (acc, e) => UserStats(uid, acc.nEvents + 1, acc.totalValue + e.value)
          }
          state.update(s)
          s
      }
  }

  /** Streaming exact dedup — the ingest-side twin of q24 for a training-data
    * pipeline: keep the first document per content fingerprint, dropping
    * re-crawls/re-uploads as they arrive REGARDLESS of their event time
    * (a re-crawl virtually always carries a new ts, so the key must be the
    * fingerprint ALONE — `dropDuplicatesWithinWatermark` keys state on just
    * the fingerprint while the watermark still bounds it; duplicates
    * arriving beyond the watermark horizon are admitted again — the
    * standard trade; use the batch dedup for exact global semantics).
    * Works identically on batch frames (state-free distinct).
    *
    * @param cols dedup key columns; e.g. a SHA-256 `fingerprint` column
    */
  def dedupByFingerprint(docs: DataFrame, cols: Seq[String] = Seq("fingerprint"),
                         watermark: String = "1 hour"): DataFrame =
    dedupWithinWatermark(docs, cols, watermark)

  /** Streaming dedup with EXACT keep-first semantics independent of event
    * time: `dropDuplicatesWithinWatermark` keys state on the fingerprint
    * alone (any-time duplicates within the watermark horizon collapse, state
    * still bounded).
    */
  def dedupWithinWatermark(docs: DataFrame, cols: Seq[String] = Seq("fingerprint"),
                           watermark: String = "1 hour"): DataFrame =
    if (docs.isStreaming)
      docs.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(cols.head, cols.tail: _*)
    else docs.dropDuplicates(cols)

  /** Streaming corpus-clean ingest — the streaming twin of q40's
    * quality-filter + exact-dedup front half: q21's quality formula scores
    * each document AS IT ARRIVES (pure column expressions work unchanged in
    * streaming), junk is dropped before it costs state, and survivors dedup
    * on q44's Rabin rolling-hash fingerprint within the watermark horizon.
    * Near-dup GROUPING (q39) deliberately stays a per-batch compaction —
    * connected components re-visits the whole edge set per round, which has
    * no bounded-state streaming form. The full incremental architecture is
    * this ingest gate plus, per micro-batch (`foreachBatch`):
    * [[graft.llm.MinHash.incrementalNearDupPairs]] (only arrivals pay the
    * signature pass; candidates come from the persisted
    * [[graft.llm.MinHash.bandIndex]]) feeding
    * [[graft.llm.IncrementalComponents]] (contraction merge into the
    * running assignment; full CC only on the first batch) — both halves
    * restartable from persisted tables.
    *
    * Input: streaming or batch frame with (ts TIMESTAMP, doc_id, text).
    * Output adds n_tokens/quality/fingerprint; one row per surviving doc.
    *
    * Batch/streaming parity contract, stated precisely: the batch branch
    * dedups GLOBALLY (the `watermark` parameter does not bound it) and
    * keeps the minimum (ts, doc_id) row per fingerprint, while the
    * streaming branch keeps the first ARRIVAL and only suppresses
    * duplicates landing within the watermark horizon of each other. The
    * two agree exactly when (a) the replayed stream is in event-time order
    * (first arrival = min event time), and (b) duplicate pairs are closer
    * than the horizon. An out-of-order replay, or duplicates farther apart
    * than the watermark, can legitimately survive in streaming but not in
    * batch — that is watermark semantics, not a bug; size `watermark` to
    * the re-crawl interval you need suppressed.
    */
  def cleanIngest(docs: DataFrame, qualityCut: Double = 0.5,
                  watermark: String = "1 hour",
                  scrubPii: Boolean = false): DataFrame = {
    // PII scrub FIRST (opt-in): redacted before anything downstream sees
    // the text, so quality scores, fingerprints, and the persisted output
    // are all computed over the scrubbed form and raw PII never outlives
    // the scan. Stateless column expressions — streaming-safe.
    val src = if (scrubPii) graft.llm.Pii.scrub(docs) else docs
    val scored = graft.llm.Corpus.withQuality(src) // the ONE quality formula
      .filter(col("quality") >= qualityCut)
      .withColumn("norm", regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))
      .withColumn("fingerprint", graft.llm.Corpus.rollingFingerprint)
      .drop("n_stop", "stop_ratio", "norm")
    if (scored.isStreaming) dedupWithinWatermark(scored, Seq("fingerprint"), watermark)
    else {
      // keep-FIRST, deterministically — the same representative the streaming
      // path keeps (first arrival = minimum event time, doc_id tiebreak). A
      // bare dropDuplicates would keep an arbitrary row per fingerprint,
      // so batch and streaming results could disagree on which doc survives.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fingerprint")).orderBy(col("ts"), col("doc_id"))
      scored.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** Streaming span-granular substring dedup — the ingest surface of
    * [[graft.llm.Substring.incrementalRemovalIntervals]] (r11 verdict #7).
    * Each micro-batch of arriving documents pays ONLY its own anchor pass;
    * its occurrences meet the running per-gram index instead of the corpus,
    * and the batch's merged removal intervals go to `sink`. Because keeper
    * elections are MONOTONE under append-only ingest with increasing doc
    * ids (an older doc always holds a gram's minimum (doc_id, pos) key),
    * emitted intervals are NEVER retracted and already-ingested documents
    * never gain removals — exactly the append-only output contract
    * Structured Streaming's foreachBatch expects. The near-dup pipeline's
    * per-batch compaction pattern (see [[cleanIngest]]'s scaladoc) applies
    * unchanged: persist the index `sink` hands you and pass it back as
    * `initialIndex` on restart.
    *
    * This is foreachBatch rather than mapGroupsWithState by design: the
    * per-gram election is a groupBy over the batch joined against the
    * index — two shuffles of BATCH-sized data — whereas keyed state would
    * shuffle every occurrence into the state store and pay a per-doc
    * second stateful stage for interval merging. The index is
    * batch-maintained, restartable state, like `bandIndex`.
    *
    * @param docs         streaming frame with (doc_id, text); doc_ids must
    *                     be strictly greater than every previously-ingested
    *                     doc_id (the monotone-keeper contract)
    * @param initialIndex persisted per-gram summary from a previous run
    *                     (null/empty for a fresh corpus)
    * @param sink         called once per micro-batch with (updated index —
    *                     REPLACES the persisted one, this batch's removal
    *                     intervals (doc_id, m), batchId)
    */
  def removalIntervalIngest(docs: DataFrame,
                            initialIndex: DataFrame = null,
                            k: Int = 12, p: Int = 4)(
                            sink: (DataFrame, DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(docs.isStreaming, "removalIntervalIngest needs a streaming frame; " +
      "for batch corpora call incrementalRemovalIntervals directly")
    // driver-side handle to the running index: foreachBatch bodies run on
    // the driver, sequentially per micro-batch, so plain mutation is safe
    var index: DataFrame = initialIndex
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (newIndex, intervals) =
          graft.llm.Substring.incrementalRemovalIntervals(index, batch, k, p)
        index = newIndex
        sink(newIndex, intervals, batchId)
        ()
      }
      .start()
  }

  /** Streaming DSIR scoring — the ingest surface of
    * [[graft.llm.Corpus.dsirScores]] (q73): arriving documents are
    * importance-weighted against a FROZEN bucket-score snapshot (trained
    * offline by [[graft.llm.Corpus.dsirBucketScores]], which emits ALL
    * B buckets so any future token has a defined score). The whole scorer
    * is one stateless column expression — `aggregate` over the token array
    * with the B-long score table as a single array literal — so it is
    * append-mode-clean with no watermark, no state store, no join: the
    * shape you want when scoring an ingest firehose on 1000 executors.
    * Exact parity with the batch scorer by construction: same hash, same
    * integer scores, same per-doc sum (spec-pinned over MemoryStream).
    *
    * @param scores index = bucket, length = DSIR's B; collect it from
    *               `dsirBucketScores(corpus)` — 1024 longs, bounded by
    *               construction (the BPE frozen-merge-table pattern)
    */
  def dsirScoreIngest(docs: DataFrame, scores: Array[Long]): DataFrame = {
    val table = typedLit(scores.toSeq)
    docs
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("weight",
        aggregate(split(col("text"), " "), lit(0L), (acc, t) =>
          acc + element_at(table,
            (pmod(graft.functions.rolling_hash(t), lit(scores.length)) + 1).cast("int"))))
  }

  /** Streaming MinHash-signature maintenance — the q88 corpus-overlap
    * estimator kept CURRENT over an ingest firehose: per-source 32-minima
    * signatures are a plain streaming aggregation (min is mergeable, so
    * Spark's agg state store IS the signature store — state bounded by
    * |sources| × 32 longs, no watermark needed), built from LITERALLY the
    * batch plan ([[graft.llm.Corpus.overlapSignatures]] — shared, so
    * batch and stream cannot diverge). Run in complete/update output
    * mode; the tiny pair-compare step runs downstream per trigger (or
    * periodically in batch) against the current signature table.
    */
  def overlapSignatureIngest(docs: DataFrame): DataFrame =
    graft.llm.Corpus.overlapSignatures(docs)

  /** Watermarked stream-stream interval join — the streaming twin of the
    * q84 bucketed range join, on Spark's native stream-stream join with an
    * event-time range condition: every `error` arrival opens a per-user
    * [t, t+6h) incident window, and `click` arrivals landing inside one
    * emit a (user, click, window) match row. Watermarks on BOTH sides plus
    * the bounded range condition let the state store evict: an error row
    * can stop matching once event time passes its window end + the click
    * watermark, a click once its own watermark passes — so state is
    * bounded by (watermark + window) × arrival rate, not by the stream
    * history. The batch q84 collapses multi-window matches with a
    * distinct; the stream emits the raw pairs (the append-mode-native
    * shape) and parity is asserted on the distinct (user, click) set —
    * dedup is the downstream consumer's `dropDuplicates` within its own
    * watermark when it needs exactly-once flags.
    *
    * Inputs carry epoch-micros `tus` (the engine's canonical integer
    * event time); the event-time columns for watermarking are derived
    * `timestamp_micros(tus)` so the integer arithmetic of the range
    * condition matches the batch query bit-for-bit.
    */
  def incidentClickJoin(errors: DataFrame, clicks: DataFrame,
                        watermark: String = "1 hour"): DataFrame = {
    val e = errors
      .selectExpr("user_id AS e_user", "tus AS w_start",
        "timestamp_micros(tus) AS e_ts")
      .withWatermark("e_ts", watermark)
    val c = clicks
      .selectExpr("user_id AS c_user", "event_id AS click_id", "tus AS c_tus",
        "timestamp_micros(tus) AS c_ts")
      .withWatermark("c_ts", watermark)
    c.join(e,
      expr(
        """c_user = e_user AND
          |c_ts >= e_ts AND c_ts < e_ts + interval 6 hours""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("w_start"), col("c_tus"))
  }

  /** Streaming Bloom decontamination — the q83 ingest surface (the
    * [[dsirScoreIngest]] pattern): arrivals probe a FROZEN Bloom mask from
    * a batch [[graft.llm.Bloom.build]] over the eval set. The 128 KiB mask
    * rides the plan as ONE binary literal feeding the native
    * `bloom_contains` codegen expression, and the per-doc tally is a
    * higher-order `aggregate` over the doc's distinct 5-gram array — no
    * explode, no groupBy, no state store, no watermark, no join:
    * append-mode-clean firehose flagging on any number of executors.
    * Gram construction and the position/double-hash schedule are the SAME
    * column expressions as the batch probe ([[graft.llm.Bloom.positions]]
    * — shared, so they cannot diverge); parity is spec-pinned over
    * MemoryStream.
    */
  def bloomProbeIngest(docs: DataFrame, mask: Array[Byte]): DataFrame = {
    // the probe modulus comes from the mask ITSELF, so masks built with
    // the sized Bloom.build(df, col, mBits) variant probe the same bit
    // positions their build wrote — a fixed M_BITS here would silently
    // mis-probe (or crash on) any non-default-sized mask
    val mBits = 8L * mask.length
    // the q80/q83 gram shape: split once, md5 inside the transform — the
    // per-arrival array holds 32-hex keys, not gram text
    docs
      .withColumn("ts", split(col("text"), " "))
      .withColumn("gs", expr(
        """array_distinct(transform(sequence(1, greatest(size(ts) - 4, 1)),
          |  i -> md5(concat_ws(' ', slice(ts, i, 5)))))""".stripMargin))
      .withColumn("n_grams", size(col("gs")).cast("long"))
      .withColumn("n_hits",
        aggregate(col("gs"), lit(0L), (acc, ghex) => {
          val Seq(p0, p1, p2) = graft.llm.Bloom.positionsFromHex(ghex, mBits)
          acc + when(graft.llm.Bloom.mightContain(mask)(p0, p1, p2), 1L).otherwise(0L)
        }))
      .withColumn("flagged", col("n_hits") > 0)
      .drop("ts", "gs")
  }

  /** Streaming semantic-cluster assignment — the SemDeDup ingest surface
    * (the [[dsirScoreIngest]] pattern): arrivals score against a FROZEN
    * centroid snapshot from a batch [[graft.llm.SemDedup.fit]]. The k·d
    * centroid table is ONE array literal in the plan and assignment is the
    * same integer argmin fold as the batch path
    * ([[graft.llm.SemDedup.bestCellFold]] — shared, so they cannot
    * diverge): no state store, no watermark, no join — append-mode-clean
    * firehose tagging. Batch-vs-stream parity is exact because every
    * number is quantized-integer arithmetic.
    *
    * Downstream, a periodic batch [[graft.llm.SemDedup.semDedup]] pass
    * over each cluster's accumulated members is the compaction half —
    * the same split as [[removalIntervalIngest]] vs the batch scrub.
    */
  def semClusterIngest(vectors: DataFrame,
                       centroids: graft.llm.SemDedup.Centroids,
                       vecCol: String = "embedding"): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(vectors.sparkSession)
    graft.llm.SemDedup.quantize(vectors, vecCol)
      .withColumn("n2q", graft.functions.vec_dot_long(col("qv"), col("qv")))
      .withColumn("cells", graft.llm.SemDedup.cellsLiteral(centroids))
      .withColumn("best", expr(graft.llm.SemDedup.bestCellFold))
      .withColumn("cluster", col("best.id"))
      .withColumn("cdist", col("best.d"))
      .drop("cells", "best", "qv", "n2q")
  }

  /** [[semClusterIngest]]'s BIG-INDEX sibling — the streaming face of
    * [[graft.llm.SemDedup.assignCoarseDF]] for centroid tables too big to
    * ride the plan as a literal (the k·d wall, q102's regime): arrivals
    * multi-probe a √k-sized coarse literal map-side, then STREAM-STATIC
    * shuffle-hash join the distributed fine-centroid frame on the coarse
    * cell id — Structured Streaming plans the static side per micro-batch
    * exactly like batch, so the plan pieces (and the q102 semantics) are
    * shared, not twinned. Per-arrival argmin is the same struct-min
    * aggregate keyed by the arrival id — stateless, append-clean.
    *
    * `routedCen` must be [[graft.llm.SemDedup.routeCentroids]]' output
    * (cid, cv, n2, ccid) — built ONCE offline, read per micro-batch.
    */
  def semCoarseIngest(vectors: DataFrame,
                      coarse: graft.llm.SemDedup.Centroids,
                      routedCen: DataFrame,
                      nProbe: Int = 2,
                      vecCol: String = "embedding"): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(vectors.sparkSession)
    val probed = graft.llm.SemDedup
      .probeCoarse(graft.llm.SemDedup.quantize(vectors, vecCol)
        .select(col("vec_id"), col("qv")), "vec_id", coarse, nProbe)
    graft.llm.SemDedup.argminOverProbed(probed, "vec_id", routedCen)
  }

  /** [[sessionValues]] with ORACLE-EXACT arithmetic — the q97 gate surface:
    * session value sums in decimal(30,10) (order-independent, so streamed
    * micro-batch accumulation and a single batch pass agree bit-for-bit)
    * and window bounds export as epoch-micros longs. The session boundary
    * is `session_window`'s native one — a new session starts when the gap
    * is ≥ 30 min (the window [start, last + gap) is end-EXCLUSIVE), which
    * the q97 DuckDB oracle unrolls with the matching `>=` lag test (q15's
    * batch form uses strict `>`; the two differ only for events landing on
    * the exact boundary).
    *
    * Output: (user_id, session_start_us, session_end_us, n_events,
    * session_value) where session_end_us = last event + gap.
    */
  def sessionWindowsExact(events: DataFrame, gap: String = "30 minutes",
                          watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("double").cast("decimal(30,10)")).as("sv"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("session_start_us"),
        expr("unix_micros(w.end)").as("session_end_us"),
        col("n_events"),
        round(col("sv"), 2).cast("double").as("session_value"))
  }

  /** 30-minute-gap sessions per user — the streaming twin of q15, via the
    * native `session_window` (which implements exactly the lag-gap semantics
    * of the batch query's window-function form).
    */
  def sessionValues(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))
  }
}
