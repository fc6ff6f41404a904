package graft.queries

import graft.Tables
import graft.scale.GraphLoop
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection + similarity search (SURVEY §2 "LLM pipeline"
  * extensions): n-gram Jaccard, MinHash+LSH, SimHash, embedding cosine /
  * brute-force ANN.
  *
  * Portability trick for the DuckDB oracle: the MinHash permutations are
  * `min(md5(seed || shingle))` — md5 is identical everywhere, so signatures,
  * LSH bands and verified pairs hash-match exactly. At 100 TB the same plan
  * shapes hold: shingle/signature explode is map-side, the LSH band join
  * shuffles only (band_key, doc_id) pairs — never the text — and the final
  * verify join touches only candidate pairs.
  */
object SimQ {

  /** Word-bigram shingle set as a column expression over a pre-split token
    * array (1-based element_at on both engines; guarded for single-token
    * docs). Tokenizing into `toks` FIRST is load-bearing for perf: inlining
    * `split(text,' ')` here would re-tokenize per shingle — O(tokens²)/row.
    */
  private val GRAMS =
    """CASE WHEN size(toks) < 2 THEN array(text)
      |ELSE array_distinct(transform(sequence(1, size(toks) - 1),
      |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))
      |END""".stripMargin.replace("\n", " ")

  private val GRAMS_SQL =
    """CASE WHEN len(string_split(text, ' ')) < 2 THEN [text]
      |ELSE list_distinct(list_transform(range(1, len(string_split(text, ' '))),
      |  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]))
      |END""".stripMargin.replace("\n", " ")

  private def gramify(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("grams", expr(GRAMS))
      .drop("toks")

  private def withGrams(spark: SparkSession, dir: String): DataFrame =
    gramify(Tables.documents(spark, dir))

  /** q25 — n-gram Jaccard similarity of consecutive doc pairs (linear probe
    * of the shingle pipeline; full pair search is q26 via LSH).
    */
  def q25NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val g = withGrams(spark, dir).select(col("doc_id"), col("grams"))
    val a = g.select(col("doc_id").as("id_a"), col("grams").as("grams_a"))
    val b = g.select(col("doc_id").as("id_b"), col("grams").as("grams_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(
          size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
            size(array_union(col("grams_a"), col("grams_b"))), 4).as("jaccard"))
      .orderBy(col("id_a"))
  }

  private val NUM_HASHES = 6 // 3 bands x 2 rows

  /** q26 — MinHash + LSH near-duplicate pairs: 6 md5-slice minhashes, 3
    * bands of 2, band-equality self-join for candidates, exact Jaccard >=
    * 0.8 verify.
    *
    * What gets cached is deliberately TINY: only the (doc_id, band_id,
    * band_key) band table (3 short rows per doc) and the candidate pairs.
    * The shingle arrays themselves are never persisted — caching
    * O(corpus-tokens) string arrays costs more than recomputing them — and
    * the exact-Jaccard verify recomputes grams ONLY for candidate docs, by
    * broadcast-semi-joining the candidate ids against the raw scan BEFORE
    * gram construction (candidates are a vanishing fraction of the corpus at
    * any useful threshold, so the verify-side gram work is near-zero while
    * the doc scan itself stays a cheap columnar read).
    *
    * LSH skew: a mega-cluster sharing one band key would make the self-join
    * quadratic in the cluster size ON ONE REDUCER. The candidate join is
    * salt-guarded ([[saltedBandCandidates]] — result-set identical,
    * spec-pinned against the unguarded join under a planted mega-band by
    * LlmSpec's "minhash salt guard" properties), so
    * a hot band's pair generation spreads over ceil(n/target) reducers.
    * The standard pipeline order still applies: run EXACT dedup first (q24
    * hash-groupBy keeps one doc per byte-identical cluster) so LSH only
    * sees cluster representatives and the pair OUTPUT itself stays small.
    */
  def q26MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** Session-scoped memo of [[nearDupPairs]] per sf dir: the composed
    * pipelines (q26 ranking, q39 grouping, q40 cleaning) pay the signature
    * pass ONCE per session instead of once per query. Values are eagerly
    * localCheckpoint-ed (tiny — verified pairs only), so a cache hit is a
    * narrow read of executor-held blocks. [[clearNearDupPairCache]] drops
    * entries explicitly — the bench calls it per timed pass so q26 is
    * charged the real signature cost every pass instead of a block lookup.
    *
    * Lifecycle, deliberately NOT weak keys: a cached DataFrame strongly
    * references its SparkSession, so `WeakHashMap[SparkSession, _]` never
    * reclaims anything (value → key). Instead the key is the non-retaining
    * `sessionUUID` string and every access sweeps entries whose underlying
    * SparkContext has stopped — their blocks are already gone with the
    * executors; this drops the last strong reference to the plans.
    *
    * Staleness: the key includes a snapshot fingerprint of the table's file
    * listing (name/mtime/length xor-fold), so a `dir` whose parquet is
    * REWRITTEN within one session recomputes instead of serving stale
    * pairs; the superseded entry is swept on the same access, letting the
    * ContextCleaner free its checkpoint blocks.
    */
  private val pairCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), DataFrame]

  // session -> opaque token. THIS weak map reclaims (its String values hold
  // no reference back to the session, unlike cached DataFrames would).
  private val sessionToken = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String])

  private def tokenOf(spark: SparkSession): String =
    sessionToken.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  def clearNearDupPairCache(): Unit = pairCache.clear()

  /** Order-independent xor-fold over (file name, mtime, length) of the
    * documents table's listing — one driver-side FS call, no data read.
    */
  private def listingFingerprint(spark: SparkSession, dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var acc = 0L
      while (it.hasNext) {
        val st = it.next()
        acc ^= (st.getPath.getName.hashCode.toLong * 31L + st.getModificationTime) * 31L +
          st.getLen
      }
      acc
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** The shared near-dup pair stage: verified MinHash-LSH pairs
    * (id_a < id_b, exact Jaccard >= 0.8, rounded to 4) for the documents
    * table under `dir` — memoized per (session, dir, listing snapshot).
    */
  /** Upper bound on live memo entries: a session-churn application
    * (newSession per job) mints a fresh token per session, and entries of
    * DISCARDED-but-unStopped sessions are indistinguishable from live
    * ones — so beyond the bound, entries from OTHER tokens are evicted
    * (current session's entries always survive). Dropping the reference is
    * the release: the ContextCleaner frees the checkpoint blocks.
    */
  private val MaxCachedPairEntries = 32

  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val key = (tokenOf(spark), dir, listingFingerprint(spark, dir))
    val it = pairCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val stale = e.getValue.sparkSession.sparkContext.isStopped ||
        (e.getKey._1 == key._1 && e.getKey._2 == key._2 && e.getKey._3 != key._3)
      if (stale) it.remove()
    }
    if (pairCache.size() > MaxCachedPairEntries) {
      val it2 = pairCache.entrySet().iterator()
      while (it2.hasNext && pairCache.size() > MaxCachedPairEntries) {
        if (it2.next().getKey._1 != key._1) it2.remove()
      }
    }
    pairCache.computeIfAbsent(key, _ => computeNearDupPairs(spark, dir))
  }

  /** (doc_id, sig struct) — one [[graft.sql.ShingleSignature]] pass. */
  private def sigOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.shingle_signature(col("text")).as("sig"))

  /** The ONE exact-Jaccard verify stage: candidate (id_a, id_b) pairs
    * joined to per-doc signatures, |A∩B| via the sorted-hash merge,
    * |A∪B| = n_a + n_b − |A∩B|, threshold 0.8, rounded to 4 — these are
    * the oracle-pinned pair semantics, shared by the batch stage and the
    * incremental stage so they can never silently diverge.
    */
  private def verifiedPairs(cand: DataFrame, sigs: DataFrame): DataFrame =
    cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig.hset").as("hs_a"),
        col("sig.n_grams").cast("double").as("n_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig.hset").as("hs_b"),
        col("sig.n_grams").cast("double").as("n_b")), "id_b")
      .withColumn("inter",
        graft.functions.sorted_intersect_count(col("hs_a"), col("hs_b")).cast("double"))
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** LSH band rows (doc_id, band_id, band_key) from a signature frame. */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(array(
      struct(lit(1).as("band_id"), concat_ws("|", col("sig.s1"), col("sig.s2")).as("band_key")),
      struct(lit(2).as("band_id"), concat_ws("|", col("sig.s3"), col("sig.s4")).as("band_key")),
      struct(lit(3).as("band_id"), concat_ws("|", col("sig.s5"), col("sig.s6")).as("band_key"))
    )).as("b")).select(col("doc_id"), col("b.band_id"), col("b.band_key"))

  /** The PERSISTABLE near-dup index of a corpus: its LSH band table — 3
    * short hash rows per doc, no text, no shingle sets. Write it out
    * between ingest batches and feed it to [[incrementalNearDupPairs]].
    */
  def bandIndex(docs: DataFrame): DataFrame = bandsOf(sigOf(docs))

  /** No (band, salt) join group exceeds ~this many rows — the same bound
    * class [[graft.llm.Hamming]] uses for its pigeonhole blocks.
    */
  private val BandTargetBucket = 4096L

  /** Band rows + hot-band salt: `n_sub = ceil(bucket/target)` deterministic
    * sub-buckets per (band_id, band_key), `salt = hash(doc_id) mod n_sub`.
    *
    * The bucket counts come from a groupBy of ONLY the over-target buckets,
    * not a window over the full band table: groupBy's map-side partial
    * aggregation means its shuffle carries per-partition (band, count)
    * partials — a vanishing fraction of the band rows — where the window
    * formulation this replaces re-shuffled EVERY band row a second time
    * just to count it. The filtered hot-bucket table is bounded at
    * total_rows/targetBucket entries and is empty or near-empty in the
    * designed pipeline (exact dedup first ⇒ hot buckets are the rare
    * pathological keys), so AQE converts the left join below to a runtime
    * broadcast and the band table flows straight into the candidate join's
    * own shuffle; in the adversarial worst case (every bucket hot) the join
    * degrades to the same shuffle class the candidate join pays anyway.
    * No driver collect either way.
    */
  private[graft] def saltedBands(bands: DataFrame, targetBucket: Long): DataFrame = {
    require(targetBucket > 0, "targetBucket must be positive")
    val hot = bands.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > targetBucket)
      .select(col("band_id"), col("band_key"),
        ceil(col("bn") / lit(targetBucket.toDouble)).cast("long").as("hot_n_sub"))
    bands.join(hot, Seq("band_id", "band_key"), "left")
      .withColumn("n_sub", coalesce(col("hot_n_sub"), lit(1L)))
      .drop("hot_n_sub")
      .withColumn("salt", pmod(xxhash64(col("doc_id")), col("n_sub")))
  }

  /** Candidate (id_a < id_b) pairs from a band table, with the hot-band
    * SALT guard (semantics-preserving — the result set is exactly the
    * unguarded join's; LlmSpec's "minhash salt guard" properties pin that
    * identity under a planted mega-band, batch AND incremental flags, with
    * a targetBucket small enough that the split path actually engages): a
    * mega-band of m rows (mass-produced
    * boilerplate, near-empty texts sharing signatures) would otherwise emit
    * its m²/2 candidates from a single reducer — the classic LSH mega-bucket
    * blowup at crawl scale. Rows in a bucket larger than `targetBucket` get
    * `n_sub` deterministic salts; the LEFT side keys on its own salt, the
    * right side replicates each row to every salt of its bucket, so each
    * pair meets on exactly one reducer and a hot band's pair generation
    * spreads over n_sub reducers. Replication is n·n_sub narrow rows per hot
    * band — negligible next to the n²/2 output it spreads. Same construction
    * as [[graft.llm.Hamming.nearDupPairs]] and `Ann.nearDupPairsBySkew`.
    *
    * @param bands  full band table ((doc_id, band_id, band_key); salted here)
    * @param isLeft which rows DRIVE the join (`lit(true)` for the batch
    *               self-join; the arrivals flag for the incremental join —
    *               every candidate touches >= 1 left row)
    */
  private[graft] def saltedBandCandidates(bands: DataFrame, isLeft: Column,
                                          targetBucket: Long = BandTargetBucket): DataFrame = {
    val b = saltedBands(bands.withColumn("is_left", isLeft), targetBucket)
    val x = b.filter(col("is_left"))
      .select(col("band_id"), col("band_key"), col("salt"), col("doc_id").as("ida"))
    // right side: replicate to every salt of its bucket so a pair meets at
    // the LEFT row's salt; when BOTH rows are left, keep only the meeting
    // driven by the smaller id — exactly one surviving row per (pair, band)
    val y = b.select(col("band_id"), col("band_key"),
      explode(sequence(lit(0L), col("n_sub") - 1)).as("salt"),
      col("doc_id").as("idb"), col("is_left").as("left_b"))
    x.join(y, Seq("band_id", "band_key", "salt"))
      .filter(col("ida") =!= col("idb") && (col("ida") < col("idb") || !col("left_b")))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"))
      .distinct() // a close pair shares several bands; count it once
  }

  /** Incremental near-dup PAIR detection — the arrival-time half of dedup
    * maintenance that [[graft.llm.Dedup.mergeComponents]] is the
    * compaction half of. Only the NEW batch pays the signature pass; its
    * bands join against (persisted ∪ new) bands, so every candidate pair
    * touches at least one arrival and the pre-existing corpus is never
    * re-signatured (at 100 TB that is the whole point: per-batch work
    * tracks the batch). The exact-Jaccard verify re-derives signatures
    * ONLY for candidate docs, semi-joined out of the full corpus — same
    * strategy as the batch pair stage.
    *
    * @param allDocs corpus INCLUDING the arrivals (doc_id, text) — the
    *                verify side reads candidate docs from here
    * @param oldBands persisted [[bandIndex]] of the pre-existing corpus
    * @param newDocs the arrival batch (doc_ids disjoint from oldBands)
    * @return (bands of the new batch — append them to the persisted
    *         index; verified pairs (id_a, id_b, jaccard) touching >= 1
    *         arrival). `union` with previously-known pairs, or feed the
    *         pairs straight to an [[graft.llm.IncrementalComponents]].
    */
  def incrementalNearDupPairs(allDocs: DataFrame, oldBands: DataFrame,
                              newDocs: DataFrame): (DataFrame, DataFrame) = {
    val newBands = bandsOf(sigOf(newDocs)).localCheckpoint() // batch-sized; reused 3x
    // arrivals drive the salted candidate join against (persisted ∪ new)
    // bands, so every pair touches >= 1 arrival and a hot band (boilerplate
    // flood in the corpus OR the batch) can't pin one reducer — without the
    // guard a collision flood through a mega-band would also inflate the
    // candIds broadcast below beyond its batch-proportional design size.
    // checkpoint: the candidate join scans the corpus-sized band index —
    // both downstream consumers (the candIds broadcast AND the verify
    // join) must read the materialized (tiny) pair list, not re-run it
    val tagged = oldBands.select(col("doc_id"), col("band_id"), col("band_key"))
      .withColumn("is_new", lit(false))
      .union(newBands.withColumn("is_new", lit(true)))
    val cand = saltedBandCandidates(tagged, col("is_new"))
      .localCheckpoint()
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val vSigs = sigOf(allDocs.join(broadcast(candIds), Seq("doc_id"))).persist()
    val pairs = verifiedPairs(cand, vSigs).localCheckpoint()
    vSigs.unpersist(false)
    (newBands, pairs)
  }

  private def computeNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    // ONE native pass over the corpus computes everything per doc
    // ([[graft.sql.ShingleSignature]]): the 6 minhash slices (one-permutation
    // style — md5 runs ONCE per shingle, the "permutations" are disjoint
    // 5-hex slices) AND the sorted-xxhash64 image of the shingle set used by
    // the exact verify (|A∩B| is invariant under an injective hash and
    // |A∪B| = |A|+|B|−|A∩B|, so Jaccard matches the oracle's string-set
    // arithmetic exactly). Only this compact projection is persisted — the
    // shingle strings themselves never enter the cache or a shuffle, and the
    // tokenize→shingle→hash→min/sort pipeline is one tight JVM loop per row
    // instead of ~10 interpreted HOF passes (value-equivalence vs the HOF
    // formulation pinned by SqlExprSpec).
    // The signature stays ONE struct column through the persist boundary so
    // the expression is guaranteed to run once per row (cache fill); band
    // and verify branches read fields out of the cached struct.
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.shingle_signature(col("text")).as("sig"))
      .persist()
    // fill the cache ONCE before the pair job (r21): that job has ~6
    // independent sibling stages (both band sides, the hot-bucket agg,
    // both verify sides) which otherwise RACE the cache fill and each
    // recompute the whole signature pass — measured 6 × 1.1 s of task time
    // at sf0.1 for one 1.1 s pass. One cheap count serializes the fill;
    // every sibling stage then reads executor-held blocks.
    base.count()

    // band rows: (doc_id, band_id, band_key) — only hashes travel the
    // shuffle; both self-join sides re-derive them from the cached base,
    // and the hot-band salt guard bounds each reducer's pair fan-out
    val cand = saltedBandCandidates(bandsOf(base), lit(true))

    // materialize the (near-dup-pairs-only) result so the input persist
    // can be released here instead of leaking across queries; the
    // checkpoint blocks are executor-held and ContextCleaner-freed —
    // and they're exactly what the memo hands to q26/q39/q40
    val out = verifiedPairs(cand, base).localCheckpoint()
    base.unpersist(false)
    out
  }

  /** q39 — near-duplicate GROUPS: the transitive closure of q26's verified
    * pairs via distributed connected components ([[graft.llm.Dedup]],
    * large-star/small-star). Output: one row per doc incident to a near-dup
    * pair, labeled with the minimum doc_id of its group — the canonical
    * "keeper" assignment a dedup pipeline acts on. Groups genuinely chain in
    * this corpus (sizes 3-4 appear at sf0.1), so pair output alone
    * under-deduplicates: A~B, B~C with no A~C pair must still collapse to
    * one keeper.
    *
    * 100 TB shape: the CC loop shuffles only (long, long) edges — corpus
    * text never enters it — and runs O(log² n) rounds independent of
    * cluster diameter.
    */
  def q39NeardupGroups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir).select(col("id_a"), col("id_b"))
    graft.llm.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("comp").as("group_id"))
      .orderBy(col("doc_id"))
  }

  /** q47 — INCREMENTAL dedup-group maintenance, oracle-gated end-to-end:
    * the verified near-dup pairs split deterministically into a base batch
    * and an increment (id_b % 3 == 0 — crosses group boundaries, so real
    * merges happen), base pairs get full connected components, then the
    * increment folds in via [[graft.llm.Dedup.mergeComponents]] (batch-scale
    * contraction; the assignment table never reshuffles). The DuckDB oracle
    * recomputes the closure over ALL pairs, so this gate PROVES
    * incremental == full recompute on the corpus, not just on synthetic
    * spec graphs. Output shape matches q39.
    */
  def q47IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir).select(col("id_a"), col("id_b"))
    val base = pairs.filter(col("id_b") % 3 =!= 0)
    val inc = pairs.filter(col("id_b") % 3 === 0)
    val baseAsg = graft.llm.Dedup.connectedComponents(base, "id_a", "id_b")
    graft.llm.Dedup.mergeComponents(baseAsg, inc, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("comp").as("group_id"))
      .orderBy(col("doc_id"))
  }

  private val QUALITY_CUT = 0.5

  /** q40 — the flagship corpus-cleaning pipeline, composed end-to-end:
    * quality scoring (q21's formula) → near-dup grouping restricted to the
    * quality-passing subcorpus (q26 pairs → q39 components) → keeper
    * selection (min doc_id per group) → per-language survivor stats. This is
    * the standard pretraining-data order: filter first so junk can't be a
    * dedup keeper, then collapse near-dup groups to one representative.
    * Exact dedup (q24) is subsumed: byte-identical docs share all LSH bands
    * and verify at jaccard 1.0.
    *
    * 100 TB shape: quality is a pure column expression on the scan; the
    * pair-endpoint filter is two semi-joins against the (tiny, checkpointed)
    * pair list — AQE broadcasts the pair side; the CC loop shuffles longs;
    * the final aggregate is a groupBy on a low-cardinality key.
    */
  def q40CorpusClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = TextQ.withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))

    val passIds = docs.filter(col("quality") >= QUALITY_CUT).select(col("doc_id"))
    val pairs = nearDupPairs(spark, dir).select(col("id_a"), col("id_b"))
      .join(passIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .join(passIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
    val comp = graft.llm.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")

    val status = when(col("quality") < QUALITY_CUT, "quality")
      .when(col("comp").isNotNull && col("comp") =!= col("doc_id"), "near_dup")
      .otherwise("kept")
    // shuffle-hash, not sort-merge: the comp side (near-dup members only) is
    // far smaller than the corpus but can still be billions of rows at
    // 100 TB, so broadcast is wrong; hash-build on the small side skips both
    // sorts. AQE still upgrades to broadcast when comp is actually tiny.
    docs.join(comp.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .withColumn("status", status)
      .groupBy(col("lang"))
      .agg(
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("status") === "quality", 1L).otherwise(0L)).as("n_dropped_quality"),
        sum(when(col("status") === "near_dup", 1L).otherwise(0L)).as("n_dropped_dup"),
        sum(when(col("status") === "kept", col("n_tokens").cast("long")).otherwise(0L))
          .as("tokens_kept"))
      .orderBy(col("lang"))
  }

  private val SIM_BITS = 16

  /** q27 — SimHash document fingerprint: bit b = sign of the sum over
    * distinct tokens of +-1 by the high bit of hex digit b of md5(token).
    * One codegen'd map pass over the scan ([[graft.functions.sim_hash]]) —
    * the doc never explodes into (doc_id, token) rows and there is no
    * 16-column aggregation state; SqlExprSpec pins value-equivalence to the
    * exploded conditional-sum formulation the DuckDB oracle still runs.
    */
  def q27Simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // row-set parity with the exploded formulation and the oracle's
      // unnest: a null text contributes NO row (sim_hash alone would emit
      // a (doc_id, null) row)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.sim_hash(col("text"), SIM_BITS).as("simhash"))
      .orderBy(col("doc_id"))

  /** 60-bit SimHash: bits 1-32 from md5(token)'s nibble high bits, 33-60
    * from md5('x'||token) — 60 so the weight `1L << 59` stays in signed
    * BIGINT range on both engines (bit 64 would overflow DuckDB's cast).
    * Native one-pass expression; was 60 interpreted conditional sums over
    * exploded tokens (the round-7 bench's dominant q45 cost).
    */
  private def simhash60(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull) // null text: no row, as when exploded
      .select(col("doc_id"), graft.functions.sim_hash(col("text"), 60).as("sim"))

  /** q45 — SimHash NEAR-DUP DETECTION (Manku, Jain, Das Sarma — WWW'07,
    * Google's web-dedup construction): hamming-distance similarity solved
    * without an all-pairs scan, via [[graft.llm.Hamming.nearDupPairs]] —
    * pigeonhole (hamming <= 3 over 60 bits forces one of 4 15-bit blocks
    * equal) bucket self-join, ids and two longs on the shuffle, never text;
    * only candidates pay the exact `bit_count(xor)` verify. The block join
    * carries the SALTED hot-bucket guard: a mega-cluster sharing one block
    * value spreads its pair generation over ceil(n/target) reducers instead
    * of stalling one — result set identical (the guard redistributes work,
    * it never drops pairs), so this gate is unchanged by construction.
    *
    * Pipeline order at scale: run EXACT dedup first (q24 hash-groupBy keeps
    * one doc per byte-identical cluster) so simhash only sees cluster
    * representatives — identical docs share ALL blocks and are pure bucket
    * ballast; the salt guard then bounds the residual near-dup hot buckets.
    * Completes the dedup family: q24 exact, q26 set-similarity (Jaccard),
    * q36 embedding-cosine, q45 bit-signature (hamming). This word-soup
    * corpus clusters heavily in simhash space (~20% of candidate pairs
    * verify), so the gate ranks the closest 100 on a doc subset — a fixed
    * threshold alone would be vacuous here.
    */
  def q45SimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val s = simhash60(Tables.documents(spark, dir).filter(col("doc_id") % 5 === 0))
      .persist() // both sides of the block self-join read it
    val out = graft.llm.Hamming.nearDupPairs(s, "doc_id", "sim",
        nBits = 60, maxHamming = 3)
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(100)
      .localCheckpoint() // release the persist before returning
    s.unpersist(false)
    out
  }

  /** Cosine arithmetic runs on the RAW float32 embedding via the native
    * [[graft.sql.VecDot]] expression ((double)f products, double
    * accumulation — bit-identical to casting to double[] first, as the
    * DuckDB oracle does), so the corpus shuffles float32 bytes, not a
    * doubled copy, and the dot loop is codegen instead of interpreted HOFs.
    */
  private def dotc(a: String, b: String): Column =
    graft.functions.vec_dot(col(a), col(b))

  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotc("embedding", "embedding")))
      .withColumnRenamed("embedding", "v")

  /** q28 — cosine similarity of consecutive embedding pairs. */
  def q28CosinePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir).select(col("vec_id"), col("v"), col("norm"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(dotc("va", "vb") / (col("na") * col("nb")), 4).as("cosine"))
      .orderBy(col("id_a"))
  }

  /** q29 — brute-force cosine top-k ANN: 5 query vectors against the corpus,
    * top 10 each. The query side is broadcast (tiny); ranking partitions by
    * query id. This exact scan is the recall oracle for the scale path.
    */
  def q29AnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir).select(col("vec_id"), col("v"), col("norm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round(dotc("qv", "v") / (col("qn") * col("norm")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** q30 — per-label embedding stats (centroid norm proxy: mean vector norm). */
  def q30LabelStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotc("embedding", "embedding")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(avg(col("norm")), 4).as("avg_norm"))
      .orderBy(col("label"))

  /** q51 — product-quantization ANN ([[graft.llm.Ann.pqEncode]]/pqSearch,
    * TPAMI'11): 64-dim vectors → 8 subspace codes against an 8-centroid
    * codebook per subspace, queries ranked by ADC lookups — the
    * memory-bound scale path of the ANN family (brute q29 → IVF q34 → LSH
    * q42 → PQ q51). Codebook centroids are 8 fixed corpus vectors
    * (vec_id 20..27) so the DuckDB oracle re-derives codes and distance
    * tables exactly; both engines fold (x-y)^2 left-to-right in double, so
    * the argmin code assignment is engine-independent.
    */
  def q51PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val cent = e.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select((col("vec_id") - 20).cast("int").as("k"), col("v"))
    val codes = graft.llm.Ann.pqEncode(e.withColumnRenamed("vec_id", "id"), "id", cent)
    val queries = e.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    graft.llm.Ann.pqSearch(codes, queries, "q_id", cent, topK = 10)
      .select(col("q_id"), col("vec_id"), col("rn").cast("long").as("rn"),
        round(col("adc"), 4).as("adc_dist"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** q62 — PageRank link centrality (3 power iterations, d = 0.85): the
    * iterative-graph workload next to q39's connected components, and a
    * standard crawl quality signal (link-authority weighting of training
    * data). The graph is synthesized from id formulas — every doc links to
    * `(7i+1) % n, (13i+3) % n, (31i+7) % n` as a MULTISET (outdeg exactly
    * 3, parallel edges kept) — so the DuckDB oracle can unroll the same
    * three iterations as CTEs and match rounded ranks.
    *
    * Oracle tolerance (the whole PageRank family): ranks are rounded to 4
    * places on both sides and `tools/check.py` compares them at atol 1e-9.
    * Summation order is NOT pinned — each engine merges the rank sums in
    * its own order, and those differences sit ~12 orders of magnitude
    * inside the rounding.
    *
    * Scale shape: [[graft.scale.GraphLoop]] — edges are keyed by src
    * once, and each iteration's one exchange is the per-dst rank reduce.
    * At 100 TB the edge table is the corpus link graph (q33's explore emits
    * exactly that) and iterations run until delta.
    */
  def q62Pagerank(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val n = ids.count() // one tiny job; the oracle computes the same count
    val edges = ids.select(col("id").as("src"),
        explode(array(
          (col("id") * 7 + 1) % n, (col("id") * 13 + 3) % n,
          (col("id") * 31 + 7) % n)).as("dst"))
    // outdeg is counted from the edge multiset (exactly 3 here); the
    // oracle divides by the same 3. Both engines compute the teleport base
    // as IEEE `1.0 - 0.85` (the oracle casts to DOUBLE for parity).
    graft.scale.PageRank.run(ids, edges, damping = 0.85, tol = 0.0, maxIter = 3)
      .ranks
      .select(col("id").as("doc_id"), round(col("pr"), 4).as("pr"))
      .orderBy(col("doc_id"))
  }

  /** q64 — PageRank with VARIABLE out-degree and DANGLING nodes, the
    * general-graph path of [[graft.scale.PageRank]] that q62's regular
    * graph never exercises: docs with `id % 5 == 0` emit NO links (their
    * rank mass redistributes uniformly each iteration — the standard
    * dangling fix, without which total mass decays), everyone else emits
    * 1-2 formula links (outdeg varies, so contributions divide by the
    * per-node count, not a constant). The DuckDB oracle unrolls the same
    * three iterations with a dangling-mass scalar CTE per step; the
    * teleport base is IEEE `1.0 - 0.85` on both engines.
    *
    * Scale note: the dangling mass is ONE double per iteration collected
    * at the driver by the fold that materializes the iteration (the
    * PrefixSum/Bpe bounded-aggregate pattern); predecessors release
    * immediately — O(1) executor storage however many iterations run.
    */
  def q64PagerankDangling(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val n = ids.count()
    val emitters = ids.filter(col("id") % 5 =!= 0)
    val edges = emitters.select(col("id").as("src"), ((col("id") * 3 + 1) % n).as("dst"))
      .union(emitters.filter(col("id") % 2 === 0)
        .select(col("id").as("src"), ((col("id") * 11 + 5) % n).as("dst")))
    graft.scale.PageRank.run(ids, edges, damping = 0.85, tol = 0.0, maxIter = 3)
      .ranks
      .select(col("id").as("doc_id"), round(col("pr"), 4).as("pr"))
      .orderBy(col("doc_id"))
  }

  /** The q149 operator: HITS hubs & authorities (Kleinberg, JACM'99) —
    * `iters` full power iterations (auth step then hub step, each step
    * consuming the OTHER score's latest value) in EXACT long arithmetic:
    * hub₀ = 1, authₖ(v) = Σ_{u→v} hubₖ₋₁(u), hubₖ(u) = Σ_{u→v} authₖ(v),
    * parallel edges a multiset (each contributes — consistent with the
    * PageRank family). Deferring normalization to the caller keeps every
    * iteration integer-exact, so a replaying engine matches bit-for-bit
    * with no FP-order sensitivity — same oracle-design doctrine as the
    * canonical-state sketches.
    *
    * Scale shape: [[graft.scale.GraphLoop]] with the reversed index —
    * the auth step pushes hubs along src-keyed edges, the hub step pushes
    * authorities along dst-keyed ones; each half-step's one exchange is
    * the per-receiver sum. Scores are (id, auth, hub).
    */
  def hits(ids: DataFrame, edges: DataFrame, iters: Int): GraphLoop.Result = {
    require(iters >= 1, s"hits: iters >= 1, got $iters")
    val spark = ids.sparkSession
    import spark.implicits._
    val g = new GraphLoop(ids, edges, reversed = true)
    val (scores, _, _) = g.rounds(g.nodes((_, _) => (0L, 1L)), iters, None, 0L) { (ah, _) =>
      val auth = g.push(ah, g.bySrc)(_._2)(_ + _, (v, in) => (in.getOrElse(0L), v._2))
      g.push(auth.mapValues(_._1), g.byDst)(_._1)(_ + _, (v, in) => (v._1, in.getOrElse(0L)))
    }
    g.result(scores.map { case (id, (a, h)) => (id, a, h) }.toDF("id", "auth", "hub"),
      iters, Double.NaN)
  }

  /** q149 — HITS over a hierarchy-shaped formula graph: 2 exact power
    * iterations via [[hits]], then ONE final mean-normalization (score ·
    * n / Σ scores, rounded to 4) so hubs and authorities read on a ~1.0
    * scale. The q62 formula graph is REGULAR both ways (its multipliers
    * are coprime with n), where HITS is provably uniform — so this query
    * adds ancestor links (every even id → id/2, every third id → id/3,
    * the deep-page→section→root shape of a real site) that concentrate
    * authority up the hierarchy. The crawl use is the classic one:
    * authority ranks what to KEEP (link-endorsed pages), hub ranks what
    * to CRAWL NEXT (directory/index pages) — the second link-quality
    * signal next to q62's PageRank. All sums are long and exact; the only
    * FP ops are the final multiply+divide, identical IEEE in both engines
    * under round(…, 4).
    */
  def q149Hits(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val n = ids.count() // one tiny job; the oracle computes the same count
    val edges = ids.select(col("id").as("src"), ((col("id") * 7 + 1) % n).as("dst"))
      .union(ids.filter(col("id") % 2 === 0)
        .select(col("id").as("src"), expr("id DIV 2").as("dst")))
      .union(ids.filter(col("id") % 3 === 0)
        .select(col("id").as("src"), expr("id DIV 3").as("dst")))
    val scores = hits(ids, edges, iters = 2).frame
    val totals = scores.agg(sum(col("auth")).as("sa"), sum(col("hub")).as("sh"))
    scores.crossJoin(broadcast(totals))
      .select(col("id").as("doc_id"),
        round(col("auth").cast("double") * n / col("sa"), 4).as("auth_score"),
        round(col("hub").cast("double") * n / col("sh"), 4).as("hub_score"))
      .orderBy(col("doc_id"))
  }

  /** q90 — synchronous label propagation (Raghavan et al. 2007), the
    * community-detection operator next to the PageRank family: over the
    * q62 formula graph, every node starts labeled with its own id, and
    * each of 3 synchronous rounds relabels node v with the MODE of its
    * in-neighbors' labels (count desc, label asc — fully deterministic;
    * nodes with no in-edges keep their label). The training-data use is
    * host/link-graph clustering — mirror farms and template families
    * collapse into one community in a handful of rounds. At sf0.01 the
    * 500-node graph settles into 68 communities.
    *
    * Scale shape: [[graft.scale.GraphLoop]] — labels and the src-keyed
    * edge index are co-partitioned once, and each round's one exchange is
    * the map-side-combined per-dst label count (the declarative
    * [[lpRound]] re-shuffled the edges every round).
    */
  def q90LabelProp(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val n = ids.count() // one tiny job; the oracle computes the same count
    val edges = ids.select(col("id").as("src"),
      explode(array(
        (col("id") * 7 + 1) % n, (col("id") * 13 + 3) % n,
        (col("id") * 31 + 7) % n)).as("dst"))
    labelPropagate(ids, edges, 3).frame.orderBy(col("id"))
  }

  /** One synchronous label-propagation round: relabel every node with the
    * MODE of its in-neighbors' labels (count desc, label asc — fully
    * deterministic; no in-edges → keep). Output carries the OLD label as
    * `prev` so convergence loops can count changes without a second join.
    * The declarative reference that CorpusSpec holds [[labelPropagate]]
    * to.
    */
  private[graft] def lpRound(edges: DataFrame)(labels: DataFrame): DataFrame = {
    val counts = edges
      .join(labels.select(col("id").as("l_id"), col("lbl")).hint("shuffle_hash"),
        col("src") === col("l_id"))
      .groupBy(col("dst").as("c_id"), col("lbl").as("nl"))
      .agg(count(lit(1)).as("c"))
    val mode = counts
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c_id")).orderBy(col("c").desc, col("nl"))))
      .filter(col("rn") === 1)
      .select(col("c_id"), col("nl"))
    labels.join(mode.hint("shuffle_hash"), col("id") === col("c_id"), "left")
      .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"),
        col("lbl").as("prev"))
  }

  /** Core of [[q90LabelProp]] over any (id) / (src, dst) frames — the spec
    * hand-verifies rounds on planted community graphs. `rounds` synchronous
    * rounds on [[graft.scale.GraphLoop]]: each node counts its in-neighbors'
    * labels into a per-receiver map and takes the mode (count desc, label
    * asc over any iteration order — [[lpRound]]'s rule; counts are exact
    * longs, so the result matches the declarative unroll by arithmetic,
    * and CorpusSpec pins the parity on random multigraphs). The frame is
    * (id, lbl).
    */
  def labelPropagate(ids: DataFrame, edges: DataFrame,
                     rounds: Int): GraphLoop.Result =
    labelLoop(ids, edges, rounds, None)

  /** [[labelPropagate]] with a CONVERGENCE STOP — run until a round changes
    * no label (or `maxRounds`). The changed count is the loop's per-round
    * tally, so each round launches ONE job (spec-pinned by a SparkListener
    * census) and holds O(1) storage. `rounds` is the first round whose
    * changed count hit zero, or `maxRounds`; `last` is that round's changed
    * count. Synchronous LPA can 2-cycle on bipartite-ish structures and
    * never converge — `maxRounds` bounds that honestly (callers read
    * `last > 0` as "stopped, not settled").
    */
  def labelPropagateConverge(ids: DataFrame, edges: DataFrame,
                             maxRounds: Int): GraphLoop.Result = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    labelLoop(ids, edges, maxRounds,
      Some(GraphLoop.Tally[Long, Long](0L, (nw, old) => if (nw != old) 1L else 0L,
        _ + _, _ == 0L)))
  }

  private def labelLoop(ids: DataFrame, edges: DataFrame, maxRounds: Int,
      tally: Option[GraphLoop.Tally[Long, Long]]): GraphLoop.Result = {
    type Counts = scala.collection.mutable.LongMap[Long]
    val spark = ids.sparkSession
    import spark.implicits._
    val g = new GraphLoop(ids, edges)
    val (labels, r, changed) = g.rounds(g.nodes((id, _) => id), maxRounds, tally, 0L) {
      (l, _) => g.push(l, g.bySrc)(lbl => { val m = new Counts(); m.update(lbl, 1L); m })(
        (a, b) => { b.foreach { case (k, c) => a.update(k, a.getOrElse(k, 0L) + c) }; a },
        (old, in) => in.fold(old) { m =>
          var bestL = Long.MaxValue
          var bestC = 0L
          m.foreach { case (k, c) =>
            if (c > bestC || (c == bestC && k < bestL)) { bestC = c; bestL = k }
          }
          bestL
        })
    }
    g.result(labels.toDF("id", "lbl"), r,
      if (tally.isDefined) changed.toDouble else Double.NaN)
  }

  /** q95 — label propagation with the CONVERGENCE STOP oracle-gated, the
    * q69 pattern applied to [[labelPropagateConverge]]: groups of 8
    * consecutive doc ids, back-edges (id−1 → id, id−2 → id) within each
    * group — a DAG rooted at each group leader, so the leader's label
    * sweeps forward ~2 offsets per round and the run reaches its fixed
    * point (every member labeled by its leader) at round 4, detected at
    * round 5 at EVERY scale factor (group structure is id-arithmetic,
    * independent of n; the margin to maxRounds = 6 is structural). The
    * DuckDB oracle unrolls 6 rounds with a changed-count scalar per round
    * and selects the first fixed point — a Spark run that stops a round
    * early or late, or mis-ties the mode, hash-mismatches every row.
    */
  def q95LabelPropConverge(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val edges = ids.filter(col("id") % 8 >= 1)
      .select((col("id") - 1).as("src"), col("id").as("dst"))
      .union(ids.filter(col("id") % 8 >= 2)
        .select((col("id") - 2).as("src"), col("id").as("dst")))
    val res = labelPropagateConverge(ids, edges, maxRounds = 6)
    res.frame
      .select(col("id").as("doc_id"), col("lbl"), lit(res.rounds.toLong).as("rounds"))
      .orderBy(col("doc_id"))
  }

  /** q69 — PageRank EARLY-EXIT convergence (tol > 0), the one
    * [[graft.scale.PageRank]] path q62 (no scalars, tol = 0) and q64
    * (dangling scalars, tol = 0) leave spec-only: the run stops at the
    * first iteration whose L1 delta Σ|pr' − pr| falls under tol, and the
    * output pins BOTH the converged ranks and the iteration count. The
    * DuckDB oracle unrolls 8 iterations with a delta scalar per step and
    * selects the first one meeting the same stop — so a Spark run that
    * stops an iteration early or late hash-mismatches on every row.
    *
    * The graph is a quadratic map (`id² + 1 mod n`, plus a second edge for
    * id % 3 = 0 — variable outdeg, no dangling): lumpy inflow with measured
    * per-node delta decay ≈ 0.44×/iteration at damping 0.5, so the
    * tol = 0.02·n stop lands at iteration 5 at every SF with ≥ 35% margin
    * on both sides — orders of magnitude beyond cross-engine float noise.
    * (A linear map with odd multipliers degenerates: parity aligns inflow
    * to exactly 1.0 everywhere and iteration 1 is already a fixed point.)
    */
  def q69PagerankConverge(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val n = ids.count()
    val edges = ids.select(col("id").as("src"), ((col("id") * col("id") + 1) % n).as("dst"))
      .union(ids.filter(col("id") % 3 === 0)
        .select(col("id").as("src"), ((col("id") * 13 + 5) % n).as("dst")))
    val res = graft.scale.PageRank.run(ids, edges, damping = 0.5,
      tol = 0.02 * n, maxIter = 8)
    res.ranks
      .select(col("id").as("doc_id"), round(col("pr"), 4).as("pr"),
        lit(res.iterations.toLong).as("iters"))
      .orderBy(col("doc_id"))
  }

  /** q74 — SemDeDup semantic dedup (Abbas et al. 2023): integer-quantized
    * k-means (k = 8, one Lloyd iteration from the first-8 init) + within-
    * cluster domination dedup at cosine > 2/5. Every number the gate
    * compares is exact integer arithmetic ([[graft.llm.SemDedup]]'s
    * engine-replicable contract), so cluster ids AND dup verdicts
    * hash-match DuckDB bit-for-bit. τ = 2/5 because the synthetic
    * embeddings plant no true near-twins (max pairwise cosine ≈ 0.5) —
    * the operator defaults are for real corpora; the gate pins semantics.
    */
  /** q76 — fuzzy (edit-distance) near-dup: the q26 LSH band machinery
    * generates candidates, but the verify stage is character-level
    * Levenshtein over the docs' 256-char prefixes instead of shingle
    * Jaccard — the fuzzy-match flavor of dedup (OCR noise, template
    * drift) that set-similarity misses when word boundaries themselves
    * are corrupted. The accept test is `5·lev ≤ max(len)` (rel ≤ 0.2) —
    * pure integer compare, engine-exact. Scale shape: the O(len²) DP is
    * bounded by the prefix cap (≤ 256² cells) and runs only on banded
    * candidates, never all pairs; texts join to candidates via
    * shuffle-hash, prefixes only (full text never rides the pair
    * shuffle).
    */
  def q76FuzzyDedup(spark: SparkSession, dir: String): DataFrame =
    fuzzyNearDupPairs(Tables.documents(spark, dir))
      .orderBy(col("id_a"), col("id_b"))

  /** The q76 operator over any (doc_id, text) frame. `prefixLen` caps the
    * DP; `relNum/relDen` is the rational accept threshold
    * (lev·relDen ≤ relNum·maxLen).
    */
  def fuzzyNearDupPairs(docs: DataFrame, prefixLen: Int = 256,
                        relNum: Long = 1, relDen: Long = 5): DataFrame = {
    // sig frame materialized once (eager localCheckpoint): both sides of
    // the band self-join read executor-held blocks instead of recomputing
    // the signature pass. Project the struct down to the 6 band slices
    // FIRST (r21): localCheckpoint materializes full rows eagerly — no
    // Catalyst pruning reaches past it — and q76's verify stage reads
    // prefixes, never the per-doc shingle hash SET that dominates the
    // signature struct's bytes (n_grams longs/doc vs 6 band slices).
    val bandSig = sigOf(docs).select(col("doc_id"), struct(
      col("sig.s1").as("s1"), col("sig.s2").as("s2"), col("sig.s3").as("s3"),
      col("sig.s4").as("s4"), col("sig.s5").as("s5"), col("sig.s6").as("s6")).as("sig"))
    val cand = saltedBandCandidates(bandsOf(bandSig.localCheckpoint()), lit(true))
    val pref = docs.select(col("doc_id"), substring(col("text"), 1, prefixLen).as("s"))
    // Verify-cost control, exact-result-preserving: (a) a length-difference
    // pregate (lev ≥ |len_a − len_b|, so a pair failing it can never pass
    // the accept test) kills dissimilar candidates for the price of two
    // ints; (b) the DP itself runs BANDED with the loosest threshold any
    // pair could accept at (⌊prefixLen·relNum/relDen⌋) — O(len·threshold)
    // with early abort instead of O(len²), returning −1 above it, and −1
    // pairs are exactly the pairs the unbanded test rejects. Together these
    // cut the sf0.1 verify stage ~10× with a bit-identical result set.
    val maxAccept = (prefixLen.toLong * relNum / relDen).toInt
    // Two r21 plan fixes, found by reading the executed plan (guide §7.2):
    // (a) Catalyst pushed the `lev` accept-filter INTO the prefix join's
    //     condition, so the O(prefixLen·threshold) DP ran inside the join
    //     stage — evaluated per candidate row (twice, condition + output
    //     column) and serialized on the ONE task AQE's byte-sized
    //     coalescing gave that stage (2.4 s while 31 cores idled). The
    //     localCheckpoint is a materialization barrier the filter cannot
    //     be pushed below; it carries only pregate-surviving (ids, two
    //     ≤prefixLen prefixes) rows — the same pair-scale class the q53
    //     verify already materializes.
    // (b) The DP stage itself is CPU-dense, so cores — not bytes — are the
    //     right task denominator (guide §2.5): a pinned round-robin
    //     redistribution (deterministic under retries,
    //     sortBeforeRepartition) fans it across defaultParallelism tasks.
    // The barrier must sit ABOVE the redistribution: a deterministic filter
    // sinks through both Project and Repartition, so any pre-repartition
    // checkpoint still left the DP on the barrier's single task. With the
    // checkpoint taken AFTER the pinned repartition, the materialized
    // LogicalRDD itself carries defaultParallelism partitions and the
    // pushed-down accept filter (with its DP) runs one task per block.
    val pregated = cand
      .hint("shuffle_hash")
      .join(pref.select(col("doc_id").as("id_a"), col("s").as("sa")), "id_a")
      .join(pref.select(col("doc_id").as("id_b"), col("s").as("sb")), "id_b")
      .withColumn("mx", greatest(length(col("sa")), length(col("sb"))).cast("long"))
      .filter(col("mx") > 0 &&
        abs(length(col("sa")) - length(col("sb"))).cast("long") * relDen <=
          col("mx") * relNum)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    pregated
      .withColumn("lev", levenshtein(col("sa"), col("sb"), maxAccept).cast("long"))
      .filter(col("lev") >= 0 && col("lev") * relDen <= col("mx") * relNum)
      .select(col("id_a"), col("id_b"), col("lev"),
        round(col("lev").cast("double") / col("mx"), 4).as("rel"))
  }

  def q74SemDedup(spark: SparkSession, dir: String): DataFrame =
    graft.llm.SemDedup.semDedup(
        Tables.embeddings(spark, dir), "vec_id", "embedding",
        k = 8, iters = 1, tauNum = 2, tauDen = 5)
      .orderBy(col("vec_id"))

  /** q102 — the coarse-routed (two-level IVF) assignment oracle-gated:
    * the ALGORITHM is approximate, but every step is exact integer
    * arithmetic, so the DuckDB oracle replays the whole route — coarse
    * table (every 4th of 32 first-vector centroids), exact fine→coarse
    * routing, 2-probe vector routing with the (distance, cell) tie-break,
    * and the within-probed-cells argmin — and a Spark run that misroutes
    * a single vector or mis-ties a probe hash-mismatches. This pins the
    * SEMANTICS of the approximation itself, the q74 doctrine applied to
    * [[graft.llm.SemDedup.assignCoarseDF]].
    */
  def q102CoarseAssign(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.llm.SemDedup
      .quantize(Tables.embeddings(spark, dir), "embedding")
      .select(col("vec_id"), col("qv"))
    val cen = graft.llm.SemDedup.initCentroidsDF(q, "vec_id", 32).localCheckpoint()
    graft.llm.SemDedup.assignCoarseDF(q, "vec_id", cen, coarseEvery = 4, nProbe = 2)
      .select(col("vec_id"), col("cluster"), col("cdist"))
      .orderBy(col("vec_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q62_pagerank"      -> q62Pagerank _,
    "q64_pagerank_dangling" -> q64PagerankDangling _,
    "q69_pagerank_converge" -> q69PagerankConverge _,
    "q149_hits"         -> q149Hits _,
    "q90_label_prop"    -> q90LabelProp _,
    "q25_ngram_jaccard" -> q25NgramJaccard _,
    "q26_minhash_lsh"   -> q26MinhashLsh _,
    "q27_simhash"       -> q27Simhash _,
    "q28_cosine_pairs"  -> q28CosinePairs _,
    "q29_ann_topk"      -> q29AnnTopK _,
    "q30_label_stats"   -> q30LabelStats _,
    "q39_neardup_groups" -> q39NeardupGroups _,
    "q40_corpus_clean"   -> q40CorpusClean _,
    "q45_simhash_neardup" -> q45SimhashNearDup _,
    "q47_incremental_dedup" -> q47IncrementalDedup _,
    "q51_pq_ann" -> q51PqAnn _,
    "q74_semdedup" -> q74SemDedup _,
    "q76_fuzzy_dedup" -> q76FuzzyDedup _,
    "q95_labelprop_converge" -> q95LabelPropConverge _,
    "q102_coarse_assign" -> q102CoarseAssign _,
  )

  private val SIG_SQL = (1 to NUM_HASHES).map { i =>
    s"list_min(list_transform(grams, g -> substr(md5(g), ${1 + (i - 1) * 5}, 5))) AS s$i"
  }.mkString(",\n    ")

  /** q95's unrolled LP rounds: per round, the (dst, label) counts, the
    * deterministic mode, the relabel, and the changed-count scalar — the
    * same template as q90's hand-unrolled 3 rounds, generated for 6.
    */
  private val LP_ROUNDS_SQL: String = (1 to 6).map { i =>
    val p = i - 1
    s"""c$i AS (SELECT e.dst AS id, l$p.lbl AS nl, count(*) AS c
       |       FROM e JOIN l$p ON l$p.id = e.src GROUP BY e.dst, l$p.lbl),
       |m$i AS (SELECT id, nl FROM (SELECT id, nl,
       |         row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) rn FROM c$i)
       |       WHERE rn = 1),
       |l$i AS (SELECT l$p.id, COALESCE(m$i.nl, l$p.lbl) AS lbl FROM l$p LEFT JOIN m$i USING (id)),
       |ch$i AS (SELECT count(*) AS ch FROM l$i JOIN l$p ON l$p.id = l$i.id AND l$p.lbl != l$i.lbl)"""
      .stripMargin
  }.mkString(",\n")

  private val SIMHASH_BITSUM_SQL = (1 to SIM_BITS).map { b =>
    s"sum(CASE WHEN substr(h, $b, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$b"
  }.mkString(",\n    ")

  private val SIMHASH_VALUE_SQL = (1 to SIM_BITS).map { b =>
    s"(CASE WHEN b$b > 0 THEN ${1L << (b - 1)} ELSE 0 END)"
  }.mkString(" + ")

  private val DOT_SQL_AB = "list_sum(list_transform(list_zip(va, vb), p -> p[1] * p[2]))"
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"

  /** The q26 near-dup pair pipeline as a reusable CTE chain (ends in
    * `pairs(id_a, id_b)` with unrounded jaccard available in `j`); shared by
    * the q26/q39/q40 oracles so all three gates pin the SAME pair semantics.
    */
  /** The LSH CANDIDATE stage alone (g → bands → cand) — shared by the
    * Jaccard-verified chain below and the q76 edit-distance verify, so both
    * gates pin the same candidate semantics.
    */
  private val CAND_CTES =
    s"""g AS (SELECT doc_id, $GRAMS_SQL AS grams FROM documents),
       |s AS (SELECT doc_id, grams,
       |    $SIG_SQL
       |  FROM g),
       |bands AS (
       |  SELECT doc_id, 1 AS band_id, s1 || '|' || s2 AS band_key FROM s
       |  UNION ALL SELECT doc_id, 2, s3 || '|' || s4 FROM s
       |  UNION ALL SELECT doc_id, 3, s5 || '|' || s6 FROM s),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id)""".stripMargin

  private val PAIRS_CTES =
    s"""$CAND_CTES,
       |j AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(ga.grams, gb.grams)) * 1.0 /
       |    len(list_distinct(list_concat(ga.grams, gb.grams))) AS jaccard
       |  FROM cand JOIN g ga ON ga.doc_id = id_a JOIN g gb ON gb.doc_id = id_b),
       |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8)""".stripMargin

  /** Transitive closure of an edge CTE named `eset(id_a, id_b)` → per-node
    * minimum reachable id, as recursive-CTE SQL (DuckDB recursive UNION
    * dedups, so the closure terminates).
    */
  private val CLOSURE_CTES =
    """edges AS (
      |  SELECT id_a AS esrc, id_b AS edst FROM eset
      |  UNION SELECT id_b, id_a FROM eset),
      |nodes AS (SELECT DISTINCT esrc AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS r FROM nodes
      |  UNION
      |  SELECT reach.id, e.edst AS r FROM reach JOIN edges e ON e.esrc = reach.r),
      |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)""".stripMargin

  private val QUALITY_SQL =
    """round(least(1.0, round(len(list_filter(string_split(text, ' '),
      |  t -> t IN ('the', 'a', 'of', 'to', 'in'))) * 1.0 /
      |  len(string_split(text, ' ')), 4) * 2 +
      |  len(string_split(text, ' ')) / 100.0), 4)""".stripMargin.replace("\n", " ")

  private val S45_B1 = (1 to 32).map(b =>
    s"sum(CASE WHEN substr(h1, $b, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$b")
    .mkString(",\n    ")
  private val S45_B2 = (1 to 28).map(b =>
    s"sum(CASE WHEN substr(h2, $b, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b${b + 32}")
    .mkString(",\n    ")
  private val S45_VALUE = (1 to 60).map(b =>
    s"(CASE WHEN b$b > 0 THEN ${1L << (b - 1)} ELSE 0 END)").mkString(" + ")

  // q69: 8 unrolled power iterations (damping 0.5) + a delta scalar per
  // step; `sel` picks the first iteration whose Σ|pr'−pr| <= 0.02·n — the
  // same stop PageRank.run's tol>0 early exit takes
  private val PR_CONV_ITERS = 8
  private val PR_CONV_STEPS = (1 to PR_CONV_ITERS).map { i =>
    s"""r$i AS (SELECT ids.id, (1::DOUBLE - 0.5::DOUBLE) + 0.5 *
       |    coalesce(sum(r${i - 1}.pr / deg.outdeg), 0) AS pr
       |  FROM ids LEFT JOIN e ON e.dst = ids.id
       |    LEFT JOIN r${i - 1} ON r${i - 1}.id = e.src LEFT JOIN deg ON deg.src = e.src
       |  GROUP BY ids.id),
       |d$i AS (SELECT sum(abs(r$i.pr - r${i - 1}.pr)) AS d
       |  FROM r$i JOIN r${i - 1} ON r${i - 1}.id = r$i.id)""".stripMargin
  }.mkString(",\n")
  private val PR_CONV_SEL = (1 to PR_CONV_ITERS)
    .map(i => s"($i, (SELECT d FROM d$i))").mkString(", ")
  private val PR_CONV_PICK = (1 to PR_CONV_ITERS)
    .map(i => s"WHEN $i THEN r$i.pr").mkString(" ")
  private val PR_CONV_JOINS = (2 to PR_CONV_ITERS)
    .map(i => s"JOIN r$i ON r$i.id = r1.id").mkString(" ")

  val oracles: Map[String, String] = Map(
    "q69_pagerank_converge" ->
      s"""WITH n AS (SELECT count(*) AS n FROM documents),
         |ids AS (SELECT doc_id AS id FROM documents),
         |e AS (
         |  SELECT id AS src, (id * id + 1) % (SELECT n FROM n) AS dst FROM ids
         |  UNION ALL
         |  SELECT id, (id * 13 + 5) % (SELECT n FROM n) FROM ids WHERE id % 3 = 0),
         |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM ids),
         |$PR_CONV_STEPS,
         |sel AS (SELECT coalesce(min(i), $PR_CONV_ITERS) AS k
         |  FROM (VALUES $PR_CONV_SEL) t(i, d)
         |  WHERE d <= 0.02 * (SELECT n FROM n))
         |SELECT r1.id AS doc_id,
         |  round(CASE (SELECT k FROM sel) $PR_CONV_PICK END, 4) AS pr,
         |  CAST((SELECT k FROM sel) AS BIGINT) AS iters
         |FROM r1 $PR_CONV_JOINS
         |ORDER BY doc_id""".stripMargin,
    // PQ: list_prepend(0)+list_reduce mirrors Spark's aggregate-with-0-init
    // left fold bit-for-bit, so the argmin code assignment matches exactly
    "q51_pq_ann" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |ms AS (SELECT unnest(range(0, 8)) AS m),
        |cent AS (SELECT vec_id - 20 AS k, v FROM e WHERE vec_id >= 20 AND vec_id < 28),
        |cent_sub AS (
        |  SELECT c.k, ms.m, list_slice(c.v, ms.m * 8 + 1, ms.m * 8 + 8) AS csub FROM cent c, ms),
        |corp_sub AS (
        |  SELECT e.vec_id AS id, ms.m, list_slice(e.v, ms.m * 8 + 1, ms.m * 8 + 8) AS sub FROM e, ms),
        |cd AS (
        |  SELECT cs.id, cs.m, ct.k,
        |    list_reduce(list_prepend(0::DOUBLE, list_transform(range(1, 9),
        |      i -> (cs.sub[i] - ct.csub[i]) * (cs.sub[i] - ct.csub[i]))), (a, b) -> a + b) AS d2
        |  FROM corp_sub cs JOIN cent_sub ct ON ct.m = cs.m),
        |codes0 AS (
        |  SELECT id, m, k, row_number() OVER (PARTITION BY id, m ORDER BY d2, k) AS rnk FROM cd),
        |codes AS (SELECT id, list(k ORDER BY m) AS codes FROM codes0 WHERE rnk = 1 GROUP BY id),
        |qk AS (SELECT id AS q_id, m, list(d2 ORDER BY k) AS dk FROM cd WHERE id < 5 GROUP BY id, m),
        |qarr AS (SELECT q_id, list(dk ORDER BY m) AS dists FROM qk GROUP BY q_id),
        |adc AS (
        |  SELECT q.q_id, c.id AS vec_id,
        |    list_reduce(list_prepend(0::DOUBLE, list_transform(range(0, 8),
        |      mi -> q.dists[mi + 1][c.codes[mi + 1] + 1])), (a, b) -> a + b) AS adc
        |  FROM codes c, qarr q),
        |r AS (
        |  SELECT q_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
        |  FROM adc)
        |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rn, round(adc, 4) AS adc_dist
        |FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    "q45_simhash_neardup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |  FROM documents WHERE doc_id % 5 = 0),
         |hashed AS (SELECT doc_id, md5(t) AS h1, md5('x' || t) AS h2 FROM tok),
         |bits AS (SELECT doc_id,
         |    $S45_B1,
         |    $S45_B2
         |  FROM hashed GROUP BY doc_id),
         |s AS (SELECT doc_id, CAST($S45_VALUE AS BIGINT) AS sim FROM bits),
         |blocks AS (
         |  SELECT doc_id, sim, b.block_id, (sim >> (b.block_id * 15)) & 32767 AS block_val
         |  FROM s, (VALUES (0), (1), (2), (3)) b(block_id)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    x.sim AS sim_a, y.sim AS sim_b
         |  FROM blocks x JOIN blocks y
         |    ON x.block_id = y.block_id AND x.block_val = y.block_val
         |   AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
         |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
         |ORDER BY hamming, id_a, id_b LIMIT 100""".stripMargin,
    // same three unrolled iterations; per-step dangling-mass scalar CTE
    // (sum of rank over nodes with no out-edges, spread uniformly);
    // per-src outdeg joined in, teleport base forced to IEEE double
    "q64_pagerank_dangling" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |ids AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT id AS src, (id * 3 + 1) % (SELECT n FROM n) AS dst
        |  FROM ids WHERE id % 5 <> 0
        |  UNION ALL
        |  SELECT id, (id * 11 + 5) % (SELECT n FROM n)
        |  FROM ids WHERE id % 5 <> 0 AND id % 2 = 0),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM ids),
        |d1 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r0
        |  WHERE id NOT IN (SELECT src FROM e)),
        |r1 AS (SELECT ids.id, (1::DOUBLE - 0.85::DOUBLE) + 0.85 *
        |    (coalesce(sum(r0.pr / deg.outdeg), 0) +
        |     (SELECT dm FROM d1) / (SELECT n FROM n)) AS pr
        |  FROM ids LEFT JOIN e ON e.dst = ids.id
        |    LEFT JOIN r0 ON r0.id = e.src LEFT JOIN deg ON deg.src = e.src
        |  GROUP BY ids.id),
        |d2 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r1
        |  WHERE id NOT IN (SELECT src FROM e)),
        |r2 AS (SELECT ids.id, (1::DOUBLE - 0.85::DOUBLE) + 0.85 *
        |    (coalesce(sum(r1.pr / deg.outdeg), 0) +
        |     (SELECT dm FROM d2) / (SELECT n FROM n)) AS pr
        |  FROM ids LEFT JOIN e ON e.dst = ids.id
        |    LEFT JOIN r1 ON r1.id = e.src LEFT JOIN deg ON deg.src = e.src
        |  GROUP BY ids.id),
        |d3 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r2
        |  WHERE id NOT IN (SELECT src FROM e)),
        |r3 AS (SELECT ids.id, (1::DOUBLE - 0.85::DOUBLE) + 0.85 *
        |    (coalesce(sum(r2.pr / deg.outdeg), 0) +
        |     (SELECT dm FROM d3) / (SELECT n FROM n)) AS pr
        |  FROM ids LEFT JOIN e ON e.dst = ids.id
        |    LEFT JOIN r2 ON r2.id = e.src LEFT JOIN deg ON deg.src = e.src
        |  GROUP BY ids.id)
        |SELECT id AS doc_id, round(pr, 4) AS pr FROM r3 ORDER BY doc_id""".stripMargin,
    // same three unrolled power iterations over the same formula multiset
    "q62_pagerank" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |ids AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT id AS src, (id * 7 + 1) % (SELECT n FROM n) AS dst FROM ids
        |  UNION ALL SELECT id, (id * 13 + 3) % (SELECT n FROM n) FROM ids
        |  UNION ALL SELECT id, (id * 31 + 7) % (SELECT n FROM n) FROM ids),
        |r0 AS (SELECT id, 1.0 AS pr FROM ids),
        |r1 AS (SELECT ids.id, (1::DOUBLE - 0.85::DOUBLE) + 0.85 * coalesce(sum(r0.pr / 3), 0) AS pr
        |  FROM ids LEFT JOIN e ON e.dst = ids.id LEFT JOIN r0 ON r0.id = e.src
        |  GROUP BY ids.id),
        |r2 AS (SELECT ids.id, (1::DOUBLE - 0.85::DOUBLE) + 0.85 * coalesce(sum(r1.pr / 3), 0) AS pr
        |  FROM ids LEFT JOIN e ON e.dst = ids.id LEFT JOIN r1 ON r1.id = e.src
        |  GROUP BY ids.id),
        |r3 AS (SELECT ids.id, (1::DOUBLE - 0.85::DOUBLE) + 0.85 * coalesce(sum(r2.pr / 3), 0) AS pr
        |  FROM ids LEFT JOIN e ON e.dst = ids.id LEFT JOIN r2 ON r2.id = e.src
        |  GROUP BY ids.id)
        |SELECT id AS doc_id, round(pr, 4) AS pr FROM r3 ORDER BY doc_id""".stripMargin,
    // HITS: 2 unrolled exact-long power iterations (auth from hub, hub from
    // NEW auth), one final mean-normalization — the only FP in the query
    "q149_hits" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |ids AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT id AS src, (id * 7 + 1) % (SELECT n FROM n) AS dst FROM ids
        |  UNION ALL SELECT id, id // 2 FROM ids WHERE id % 2 = 0
        |  UNION ALL SELECT id, id // 3 FROM ids WHERE id % 3 = 0),
        |h0 AS (SELECT id, CAST(1 AS BIGINT) AS hub FROM ids),
        |a1 AS (SELECT ids.id, coalesce(sum(h0.hub), 0) AS auth
        |  FROM ids LEFT JOIN e ON e.dst = ids.id LEFT JOIN h0 ON h0.id = e.src GROUP BY ids.id),
        |h1 AS (SELECT ids.id, coalesce(sum(a1.auth), 0) AS hub
        |  FROM ids LEFT JOIN e ON e.src = ids.id LEFT JOIN a1 ON a1.id = e.dst GROUP BY ids.id),
        |a2 AS (SELECT ids.id, coalesce(sum(h1.hub), 0) AS auth
        |  FROM ids LEFT JOIN e ON e.dst = ids.id LEFT JOIN h1 ON h1.id = e.src GROUP BY ids.id),
        |h2 AS (SELECT ids.id, coalesce(sum(a2.auth), 0) AS hub
        |  FROM ids LEFT JOIN e ON e.src = ids.id LEFT JOIN a2 ON a2.id = e.dst GROUP BY ids.id)
        |SELECT a2.id AS doc_id,
        |  round(CAST(a2.auth AS DOUBLE) * (SELECT n FROM n) / (SELECT CAST(sum(auth) AS DOUBLE) FROM a2), 4) AS auth_score,
        |  round(CAST(h2.hub AS DOUBLE) * (SELECT n FROM n) / (SELECT CAST(sum(hub) AS DOUBLE) FROM h2), 4) AS hub_score
        |FROM a2 JOIN h2 ON h2.id = a2.id ORDER BY doc_id""".stripMargin,
    // synchronous label propagation, 3 unrolled rounds: mode of in-neighbor
    // labels (count desc, label asc), no-in-edge nodes keep their label
    "q90_label_prop" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |n AS (SELECT count(*) AS nn FROM ids),
        |e AS (
        |  SELECT id AS src, unnest([(id * 7 + 1) % nn, (id * 13 + 3) % nn,
        |                            (id * 31 + 7) % nn]) AS dst
        |  FROM ids CROSS JOIN n),
        |l0 AS (SELECT id, id AS lbl FROM ids),
        |c1 AS (SELECT e.dst AS id, l0.lbl AS nl, count(*) AS c
        |       FROM e JOIN l0 ON l0.id = e.src GROUP BY e.dst, l0.lbl),
        |m1 AS (SELECT id, nl FROM (SELECT id, nl,
        |         row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) rn FROM c1)
        |       WHERE rn = 1),
        |l1 AS (SELECT l0.id, COALESCE(m1.nl, l0.lbl) AS lbl FROM l0 LEFT JOIN m1 USING (id)),
        |c2 AS (SELECT e.dst AS id, l1.lbl AS nl, count(*) AS c
        |       FROM e JOIN l1 ON l1.id = e.src GROUP BY e.dst, l1.lbl),
        |m2 AS (SELECT id, nl FROM (SELECT id, nl,
        |         row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) rn FROM c2)
        |       WHERE rn = 1),
        |l2 AS (SELECT l1.id, COALESCE(m2.nl, l1.lbl) AS lbl FROM l1 LEFT JOIN m2 USING (id)),
        |c3 AS (SELECT e.dst AS id, l2.lbl AS nl, count(*) AS c
        |       FROM e JOIN l2 ON l2.id = e.src GROUP BY e.dst, l2.lbl),
        |m3 AS (SELECT id, nl FROM (SELECT id, nl,
        |         row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) rn FROM c3)
        |       WHERE rn = 1),
        |l3 AS (SELECT l2.id, COALESCE(m3.nl, l2.lbl) AS lbl FROM l2 LEFT JOIN m3 USING (id))
        |SELECT id, lbl FROM l3 ORDER BY id""".stripMargin,
    // label propagation with the convergence stop: 6 unrolled rounds, each
    // with a changed-count scalar; the first fixed point wins (the q69
    // early-exit oracle pattern applied to community detection)
    "q95_labelprop_converge" ->
      s"""WITH ids AS (SELECT doc_id AS id FROM documents),
         |e AS (SELECT id - 1 AS src, id AS dst FROM ids WHERE id % 8 >= 1
         |      UNION ALL
         |      SELECT id - 2 AS src, id AS dst FROM ids WHERE id % 8 >= 2),
         |l0 AS (SELECT id, id AS lbl FROM ids),
         |$LP_ROUNDS_SQL,
         |rr AS (SELECT CASE ${(1 to 5).map(i =>
                  s"WHEN (SELECT ch FROM ch$i) = 0 THEN $i").mkString(" ")}
         |       ELSE 6 END AS r),
         |allr AS (${(1 to 6).map(i =>
                  s"SELECT $i AS r, id, lbl FROM l$i").mkString(" UNION ALL ")})
         |SELECT a.id AS doc_id, a.lbl, CAST(rr.r AS BIGINT) AS rounds
         |FROM allr a CROSS JOIN rr WHERE a.r = rr.r ORDER BY doc_id""".stripMargin,
    "q25_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, $GRAMS_SQL AS grams FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.grams, b.grams)) * 1.0 /
         |        len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin,
    "q26_minhash_lsh" ->
      s"""WITH $PAIRS_CTES
         |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM j
         |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "q39_neardup_groups" ->
      s"""WITH RECURSIVE $PAIRS_CTES,
         |eset AS (SELECT id_a, id_b FROM pairs),
         |$CLOSURE_CTES
         |SELECT id AS doc_id, comp AS group_id FROM comp ORDER BY doc_id""".stripMargin,
    // the incremental path must land on the SAME labeling as the full
    // closure — the oracle is deliberately q39's full-recompute SQL
    "q47_incremental_dedup" ->
      s"""WITH RECURSIVE $PAIRS_CTES,
         |eset AS (SELECT id_a, id_b FROM pairs),
         |$CLOSURE_CTES
         |SELECT id AS doc_id, comp AS group_id FROM comp ORDER BY doc_id""".stripMargin,
    "q40_corpus_clean" ->
      s"""WITH RECURSIVE $PAIRS_CTES,
         |q AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
         |    $QUALITY_SQL AS quality
         |  FROM documents),
         |pass AS (SELECT doc_id FROM q WHERE quality >= 0.5),
         |eset AS (
         |  SELECT id_a, id_b FROM pairs
         |  WHERE id_a IN (SELECT doc_id FROM pass)
         |    AND id_b IN (SELECT doc_id FROM pass)),
         |$CLOSURE_CTES,
         |f AS (
         |  SELECT q.lang, q.n_tokens,
         |    CASE WHEN q.quality < 0.5 THEN 'quality'
         |         WHEN c.id IS NOT NULL AND c.comp <> q.doc_id THEN 'near_dup'
         |         ELSE 'kept' END AS status
         |  FROM q LEFT JOIN comp c ON c.id = q.doc_id)
         |SELECT lang,
         |  (count(*) FILTER (WHERE status = 'kept'))::BIGINT AS n_kept,
         |  (count(*) FILTER (WHERE status = 'quality'))::BIGINT AS n_dropped_quality,
         |  (count(*) FILTER (WHERE status = 'near_dup'))::BIGINT AS n_dropped_dup,
         |  coalesce(sum(n_tokens) FILTER (WHERE status = 'kept'), 0)::BIGINT AS tokens_kept
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q27_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS h
         |  FROM documents),
         |bits AS (
         |  SELECT doc_id,
         |    $SIMHASH_BITSUM_SQL
         |  FROM tok GROUP BY doc_id)
         |SELECT doc_id, $SIMHASH_VALUE_SQL AS simhash
         |FROM bits ORDER BY doc_id""".stripMargin,
    "q28_cosine_pairs" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS norm
         |  FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dotSql("a.v", "b.v")} / (a.norm * b.norm), 4) AS cosine
         |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
         |ORDER BY id_a""".stripMargin,
    "q29_ann_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS norm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q_id, vec_id, round(${dotSql("qv", "v")} / (qn * norm), 4) AS cosine
         |  FROM e CROSS JOIN q WHERE vec_id <> q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT q_id, vec_id AS neighbor_id, cosine, rank FROM ranked
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q30_label_stats" ->
      s"""WITH e AS (
         |  SELECT label,
         |    sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS norm
         |  FROM embeddings)
         |SELECT label, count(*) AS n, round(avg(norm), 4) AS avg_norm
         |FROM e GROUP BY label ORDER BY label""".stripMargin,
    // coarse-routed assignment: the approximate route replayed exactly —
    // coarse = every 4th of the first-32 centroids, exact fine routing,
    // 2-probe vector routing, argmin within probed cells; all integer
    "q102_coarse_assign" -> {
      def sq(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
      def sqv(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] * 1000 - p[2]) * (p[1] * 1000 - p[2])))"
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 100000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |cen AS (
         |  SELECT vec_id AS cid, list_transform(qv, x -> x * 1000) AS cv FROM q WHERE vec_id < 32),
         |coarse AS (SELECT cid // 4 AS ccid, cv FROM cen WHERE cid % 4 = 0),
         |fr AS (
         |  SELECT c.cid, c.cv, co.ccid,
         |    row_number() OVER (PARTITION BY c.cid
         |      ORDER BY ${sq("c.cv", "co.cv")}, co.ccid) AS r
         |  FROM cen c CROSS JOIN coarse co),
         |routed AS (SELECT cid, cv, ccid FROM fr WHERE r = 1),
         |vp AS (
         |  SELECT q.vec_id, q.qv, co.ccid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqv("q.qv", "co.cv")}, co.ccid) AS r
         |  FROM q CROSS JOIN coarse co),
         |cand AS (
         |  SELECT p.vec_id, rc.cid, ${sqv("p.qv", "rc.cv")} AS d
         |  FROM (SELECT vec_id, qv, ccid FROM vp WHERE r <= 2) p
         |  JOIN routed rc ON rc.ccid = p.ccid),
         |best AS (
         |  SELECT vec_id, cid, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
         |  FROM cand)
         |SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS cdist
         |FROM best WHERE r = 1 ORDER BY vec_id""".stripMargin
    },
    "q76_fuzzy_dedup" ->
      s"""WITH $CAND_CTES,
         |p AS (SELECT doc_id, substr(text, 1, 256) AS s FROM documents),
         |v AS (
         |  SELECT id_a, id_b, levenshtein(a.s, b.s) AS lev,
         |    greatest(len(a.s), len(b.s)) AS mx
         |  FROM cand JOIN p a ON a.doc_id = id_a JOIN p b ON b.doc_id = id_b)
         |SELECT id_a, id_b, CAST(lev AS BIGINT) AS lev,
         |  round(lev * 1.0 / mx, 4) AS rel
         |FROM v WHERE mx > 0 AND lev * 5 <= mx
         |ORDER BY id_a, id_b""".stripMargin,
    // q74: the full SemDeDup pipeline unrolled — quantize, first-8 init,
    // one exact Lloyd iteration (integer dists, floor-division centroid
    // update, empty clusters keep their centroid), final assignment, then
    // the within-cluster domination rule with the cross-multiplied HUGEINT
    // cosine test. Engine-exact by construction (see llm/SemDedup.scala).
    "q74_semdedup" -> {
      val dist = "list_sum(list_transform(list_zip(qv, cv), p -> (p[1]*1000 - p[2])*(p[1]*1000 - p[2])))"
      val dotAB = "list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1]*p[2]))"
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 100000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |init AS (
         |  SELECT vec_id AS cid, list_transform(qv, x -> x * 1000) AS cv FROM q WHERE vec_id < 8),
         |a1 AS (
         |  SELECT vec_id, qv, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY $dist, cid) AS r
         |  FROM q CROSS JOIN init),
         |ex AS (
         |  SELECT cid, pos, sum(qv[pos]) AS s, count(*) AS n
         |  FROM (SELECT * FROM a1 WHERE r = 1) m
         |  CROSS JOIN (SELECT unnest(range(1, 65)) AS pos)
         |  GROUP BY cid, pos),
         |c1 AS (
         |  SELECT cid, list(CAST(floor((s * 1000)::DOUBLE / n) AS BIGINT) ORDER BY pos) AS cv
         |  FROM ex GROUP BY cid),
         |cen AS (
         |  SELECT i.cid, coalesce(c1.cv, i.cv) AS cv FROM init i LEFT JOIN c1 ON c1.cid = i.cid),
         |a2 AS (
         |  SELECT vec_id, qv, cid, $dist AS d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY $dist, cid) AS r
         |  FROM q CROSS JOIN cen),
         |m2 AS (
         |  SELECT vec_id, qv, cid AS cluster, d AS cdist,
         |    list_sum(list_transform(qv, x -> x*x)) AS n2
         |  FROM a2 WHERE r = 1),
         |dup AS (
         |  SELECT a.vec_id
         |  FROM m2 a JOIN m2 b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id
         |  WHERE (b.cdist < a.cdist OR (b.cdist = a.cdist AND b.vec_id < a.vec_id))
         |    AND $dotAB > 0
         |    AND 25::HUGEINT * ($dotAB)::HUGEINT * ($dotAB)::HUGEINT
         |      > 4::HUGEINT * a.n2::HUGEINT * b.n2::HUGEINT
         |  GROUP BY a.vec_id)
         |SELECT m2.vec_id, m2.cluster,
         |  CAST(dup.vec_id IS NOT NULL AS BOOLEAN) AS is_dup
         |FROM m2 LEFT JOIN dup ON dup.vec_id = m2.vec_id
         |ORDER BY m2.vec_id""".stripMargin
    },
  )
}
