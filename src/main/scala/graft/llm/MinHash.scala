package graft.llm

import graft.scale.{Held, Salt}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash-LSH near-duplicate detection over (doc_id, text) frames — the
  * set-similarity member of the dedup family next to [[Hamming]]
  * (bit-signature) and [[Ann]] (embedding cosine).
  *
  * One [[graft.sql.ShingleSignature]] pass per doc yields 6 md5-slice
  * minhashes (3 bands of 2) and the sorted xxhash64 image of its word-bigram
  * shingle set. Candidates come from a salted band-equality self-join
  * ([[graft.scale.Salt.candidates]]); only candidates pay the exact Jaccard
  * verify. Operators:
  *   - [[nearDupPairs]]: the batch pair stage (exact Jaccard >= 0.8);
  *   - [[bandIndex]] / [[incrementalNearDupPairs]]: the persistable band
  *     table and the arrivals-only pair stage over it;
  *   - [[fuzzyNearDupPairs]]: the same candidates verified by banded
  *     Levenshtein over text prefixes.
  */
object MinHash {

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

  /** A signature's three LSH band keys, in band order. Each is a
    * null-propagating `concat`, so a null signature (null text) gets null
    * band keys, which never pair ([[graft.scale.Salt]]'s null-key contract)
    * — `concat_ws` would give every null doc the key "" in all three bands
    * and pair each with every other.
    */
  private val bandKeys: Column = array(
    concat(col("sig.s1"), lit("|"), col("sig.s2")),
    concat(col("sig.s3"), lit("|"), col("sig.s4")),
    concat(col("sig.s5"), lit("|"), col("sig.s6")))

  /** The first band two docs share, in a meeting of
    * [[graft.scale.Salt.candidates]] over band rows that carry their doc's
    * band keys as `ks`: a pair meeting in band k shares it, so the first
    * equal key is at k or before.
    */
  private[graft] val firstSharedBand: Column =
    when(col("ks_x")(0) === col("ks_y")(0), 1)
      .when(col("ks_x")(1) === col("ks_y")(1), 2).otherwise(3)

  /** LSH band rows (doc_id, carry…, band_id, band_key) from a signature
    * frame: one row per band, band_id 1 to 3.
    */
  private def bandsOf(sigs: DataFrame, carry: String*): DataFrame = {
    val kept = col("doc_id") +: carry.map(col)
    sigs.select(kept :+ posexplode(bandKeys).as(Seq("b", "band_key")): _*)
      .select(kept ++ Seq((col("b") + 1).as("band_id"), col("band_key")): _*)
  }

  /** The PERSISTABLE near-dup index of a corpus: its LSH band table — 3
    * short hash rows per doc, no text, no shingle sets. Write it out
    * between ingest batches and feed it to [[incrementalNearDupPairs]].
    */
  def bandIndex(docs: DataFrame): DataFrame = bandsOf(sigOf(docs))

  private val BandKeys = Seq("band_id", "band_key")

  /** Incremental near-dup PAIR detection — the arrival-time half of dedup
    * maintenance that [[graft.llm.Dedup.mergeComponents]] is the
    * compaction half of. Only the NEW batch pays the signature pass; its
    * bands join against (persisted ∪ new) bands, so every candidate pair
    * touches at least one arrival and the pre-existing corpus is never
    * re-signatured (at 100 TB that is the whole point: per-batch work
    * tracks the batch). The exact-Jaccard verify re-derives signatures
    * ONLY for candidate docs, semi-joined out of the full corpus (the
    * batch [[nearDupPairs]] instead persists every doc's signature once
    * and verifies against it).
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
    val held = new Held(allDocs.sparkSession.sparkContext)
    val cand = held.frame(Salt.candidates(tagged, BandKeys, "doc_id", col("is_new")))
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val vSigs = sigOf(allDocs.join(broadcast(candIds), Seq("doc_id"))).persist()
    val pairs = verifiedPairs(cand, vSigs).localCheckpoint()
    vSigs.unpersist(false)
    held.release() // the pairs' checkpoint no longer reads the candidates'
    (newBands, pairs)
  }

  /** The near-dup pair stage over any (doc_id, text) frame: verified
    * MinHash-LSH pairs (id_a < id_b, exact Jaccard >= 0.8, rounded to 4).
    * The result is eagerly localCheckpoint-ed and holds only the verified
    * pairs; every call recomputes from `docs`, so a caller that wants to
    * reuse the pairs holds the returned frame.
    */
  def nearDupPairs(docs: DataFrame): DataFrame = {
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
    val base = docs
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
    val cand = Salt.candidates(bandsOf(base), BandKeys, "doc_id", lit(true))

    // materialize the (near-dup-pairs-only) result so the input persist
    // can be released here instead of leaking across queries; the
    // checkpoint blocks are executor-held and ContextCleaner-freed
    val out = verifiedPairs(cand, base).localCheckpoint()
    base.unpersist(false)
    out
  }

  /** The q76 operator over any (doc_id, text) frame. `prefixLen` caps the
    * DP; `relNum/relDen` is the rational accept threshold
    * (lev·relDen ≤ relNum·maxLen).
    */
  def fuzzyNearDupPairs(docs: DataFrame, prefixLen: Int = 256,
                        relNum: Long = 1, relDen: Long = 5): DataFrame = {
    // One frame, materialized once (eager localCheckpoint), holds per doc
    // the 6 band slices and the text prefix the verify reads: both sides of
    // the band self-join read executor-held blocks instead of recomputing
    // the signature pass, and the prefixes ride the band join as carried
    // columns, so no join back to the docs follows it. Each band row also
    // carries its doc's three band keys, so a pair sharing several bands is
    // kept at its first shared band alone, with no distinct to shuffle the
    // prefixes once more. The struct is projected down to the slices FIRST
    // (r21): localCheckpoint materializes full rows eagerly — no Catalyst
    // pruning reaches past it — and the per-doc shingle hash SET dominates
    // the signature's bytes.
    val sigs = docs.select(col("doc_id"), graft.functions.shingle_signature(col("text")).as("sig"),
        substring(col("text"), 1, prefixLen).as("s"))
      .select(col("doc_id"), struct(
        col("sig.s1").as("s1"), col("sig.s2").as("s2"), col("sig.s3").as("s3"),
        col("sig.s4").as("s4"), col("sig.s5").as("s5"), col("sig.s6").as("s6")).as("sig"), col("s"))
    val held = new Held(docs.sparkSession.sparkContext)
    val cand = Salt.candidates(bandsOf(held.frame(sigs).withColumn("ks", bandKeys), "ks", "s"),
      BandKeys, "doc_id", lit(true), carry = Seq("s", "ks"),
      once = Some(col("band_id") === firstSharedBand))
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
    // (a) Catalyst pushes a deterministic `lev` accept-filter down into the
    //     candidate stage, where the O(prefixLen·threshold) DP ran per
    //     candidate row (twice, condition + output column) on the ONE task
    //     AQE's byte-sized coalescing gave that stage (2.4 s while 31 cores
    //     idled). The localCheckpoint is a materialization barrier the
    //     filter cannot be pushed below; it carries only pregate-surviving
    //     (ids, two ≤prefixLen prefixes) rows.
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
    val pregated = held.frame(cand
      .select(col("id_a"), col("id_b"), col("s_a").as("sa"), col("s_b").as("sb"),
        greatest(length(col("s_a")), length(col("s_b"))).cast("long").as("mx"))
      .filter(col("mx") > 0 &&
        abs(length(col("sa")) - length(col("sb"))).cast("long") * relDen <=
          col("mx") * relNum)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism))
    // the pregated frame superseded the signatures', which are released
    pregated
      .withColumn("lev", levenshtein(col("sa"), col("sb"), maxAccept).cast("long"))
      .filter(col("lev") >= 0 && col("lev") * relDen <= col("mx") * relNum)
      .select(col("id_a"), col("id_b"), col("lev"),
        round(col("lev").cast("double") / col("mx"), 4).as("rel"))
  }
}
