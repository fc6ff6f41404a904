package graft.llm

import graft.scale.{Held, Salt}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-substring dedup over (doc_id, text) frames: document pairs sharing
  * an exact run of >= k whitespace tokens, found through content-defined
  * anchor fingerprints ([[graft.sql.AnchorGrams]], mod-p) or winnowing
  * ([[graft.sql.WinnowGrams]]); span-granular removal lists and the
  * scrubbed corpus (Lee et al. ACL'22); and the arrivals-only incremental
  * forms of both over a persisted index.
  */
object Substring {

  /** Exact-substring dedup pairs (q53), on any (doc_id, text) frame. `p = 1` keeps
    * every gram: detection of any shared span ≥ k tokens is exhaustive
    * (the TextOpsSpec planted property pins that against a brute positional
    * scan; p > 1 is pinned against brute-force ANCHOR semantics, which are
    * deterministic for fixed content).
    */
  def substringDedupPairs(docs: DataFrame, k: Int, p: Int): DataFrame = {
    // checkpoint: the corpus-scale salted join runs ONCE; both consumers
    // (the candIds broadcast and the verify join) read the materialized
    // (candidate-scale) pair list — the q47 discipline
    val cand = gramCandidates(anchorIndex(docs, k, p), lit(true)).localCheckpoint()
    verifySharedGrams(cand, docs, k, p)
  }

  /** Positional verify shared by the batch and incremental substring-dedup
    * paths: re-derive anchor gram STRINGS for candidate docs only
    * (broadcast semi-join out of the corpus scan) and count distinct
    * shared grams per pair — 64-bit candidate-key collisions die here,
    * with their pairs (the inner join drops 0-overlap pairs).
    *
    * The pair table itself NEVER broadcasts: pair cardinality is quadratic
    * in boilerplate-cluster size (a span shared by m docs is m²/2 pairs),
    * so unlike the candIds broadcast (candidate-DOC-scale, linear) it has
    * no safe size premise — both pair joins shuffle-hash instead (hints
    * pinned because checkpointed inputs carry no stats and the static
    * planner would otherwise fall back to sort-merge). Callers who need
    * boilerplate-heavy corpora at full scale should prefer the
    * O(occurrences) span-granular [[substringRemovalSpans]], which never
    * materializes pairs at all.
    */
  private def verifySharedGrams(cand: DataFrame, docs: DataFrame,
                                k: Int, p: Int): DataFrame =
    verifyShared(cand, d => anchorIndex(d, k, p), docs)

  /** `(id_a < id_b)` candidates of (doc_id, gram) rows sharing the 8-byte
    * xxhash64 of a gram, through the hot-key salt
    * ([[graft.scale.Salt.candidates]]).
    */
  private def gramCandidates(grams: DataFrame, isLeft: Column): DataFrame =
    Salt.candidates(grams.withColumn("gh", xxhash64(col("gram"))).drop("gram"),
      Seq("gh"), "doc_id", isLeft)

  private def verifyShared(cand: DataFrame, index: DataFrame => DataFrame,
                           docs: DataFrame,
                           checkpoint: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    // read twice below; candidate-sized, not corpus-sized
    val candAnchors = checkpoint(index(docs.join(broadcast(candIds), Seq("doc_id"))))
    candAnchors.select(col("doc_id").as("id_a"), col("gram"))
      .join(cand.hint("shuffle_hash"), Seq("id_a"))
      .join(candAnchors.select(col("doc_id").as("id_b"), col("gram"))
        .hint("shuffle_hash"), Seq("id_b", "gram"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** The persistable exact-substring index of a corpus: its anchor table —
    * (doc_id, gram) rows, ~1/p of the k-grams, no text. Write it out
    * between ingest batches and feed it to [[incrementalSubstringPairs]]
    * (the substring-family analog of [[MinHash.bandIndex]]).
    */
  def anchorIndex(docs: DataFrame, k: Int = 12, p: Int = 4): DataFrame =
    graft.scale.Layout.explodeNonNull(
      docs, "doc_id", graft.functions.anchor_grams(col("text"), k, p), "gram")

  /** Winnowed variant of [[anchorIndex]] — selection by sliding min-hash
    * window instead of mod-p, making detection of shared spans ≥ w+k−1
    * tokens GUARANTEED ([[graft.sql.WinnowGrams]]).
    */
  def winnowIndex(docs: DataFrame, k: Int = 12, w: Int = 8): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.winnow_grams(col("text"), k, w)).as("gram"))

  /** [[substringDedupPairs]] with winnowing selection: same salted
    * candidate join and positional verify, but the fingerprints carry the
    * SIGMOD'03 guarantee — any pair sharing an exact span of ≥ w+k−1
    * tokens is reported (spec-pinned; the mod-p gate variant stays the
    * oracle-replayable default). n_shared counts distinct shared WINNOWED
    * grams.
    */
  def substringDedupPairsWinnowed(docs: DataFrame, k: Int = 12,
                                  w: Int = 8): DataFrame = {
    val cand = gramCandidates(winnowIndex(docs, k, w), lit(true)).localCheckpoint()
    verifyShared(cand, d => winnowIndex(d, k, w), docs)
  }

  /** Span-granular exact-substring dedup — REMOVAL LISTS instead of doc
    * pairs (Lee et al. ACL'22, "Deduplicating Training Data Makes Language
    * Models Better": delete every duplicated span, keep one canonical
    * occurrence, never enumerate pairs). This is the output mode that
    * survives boilerplate-heavy corpora at 100 TB: a span shared by m
    * documents costs O(m) occurrence rows end-to-end where the pair mode
    * ([[substringDedupPairs]]) is O(m²) by result-set identity.
    *
    * Shape: one positional-anchor pass ([[graft.functions.anchor_spans]],
    * repeats kept — each occurrence is a removable span of its own) →
    * shuffle of (doc_id, pos, 16-hex-char md5-prefix key) rows → per-gram
    * keeper election (global min (doc_id, pos), deterministic) → every
    * non-keeper occurrence becomes a removal interval [pos, pos+k) →
    * per-doc interval merge (sort + one fold over a doc-bounded list).
    * Three shuffles total (gram key, gram key again for the join-back,
    * doc_id), all linear in occurrences; the skew unit is one reducer
    * row per occurrence of a hot gram — linear, so no salt needed.
    *
    * Both engines group on `substr(md5(gram), 1, 16)` — bit-identical by
    * construction (a fingerprint collision, ~2⁻⁶⁴, would affect both
    * identically), and 16 narrow chars shuffle instead of ~100-byte gram
    * strings.
    *
    * @return (doc_id, n_spans, n_removed_tokens) per doc with ≥ 1 removal
    *         interval after merging; spans cover tokens
    *         [pos, min(pos+k, n_tokens)).
    */
  def substringRemovalSpans(docs: DataFrame, k: Int = 12, p: Int = 4): DataFrame =
    substringRemovalIntervals(docs, k, p)
      .select(col("doc_id"),
        size(col("m")).cast("long").as("n_spans"),
        expr("aggregate(m, 0L, (a, x) -> a + x.e - x.s)").as("n_removed_tokens"))

  /** The merged removal INTERVALS behind [[substringRemovalSpans]] —
    * (doc_id, m: array<struct<s,e>>) for docs with ≥ 1 removal; feed to
    * [[substringScrub]] to materialize the deduplicated corpus.
    */
  def substringRemovalIntervals(docs: DataFrame, k: Int = 12, p: Int = 4): DataFrame =
    intervalsFromSpans(docs, graft.functions.anchor_spans(col("text"), k, p), k)

  /** [[substringRemovalIntervals]] under WINNOWING selection
    * ([[graft.functions.winnow_spans]]): any span shared by ≥ 2 docs (or
    * repeated in one) of ≥ w+k−1 tokens is GUARANTEED to lose at least
    * one interval on every non-keeper occurrence — the SIGMOD'03
    * guarantee carried into removal lists (mod-p sampling trades that
    * certainty for an oracle-replayable selection rule; spec-pinned like
    * the winnowed pair mode).
    */
  def substringRemovalIntervalsWinnowed(docs: DataFrame, k: Int = 12,
                                        w: Int = 8): DataFrame =
    intervalsFromSpans(docs, graft.functions.winnow_spans(col("text"), k, w), k)

  private def intervalsFromSpans(docs: DataFrame, spansCol: Column,
                                 k: Int): DataFrame = {
    val occ = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_toks"),
        explode(spansCol).as("a"))
      .select(col("doc_id"), col("n_toks"), col("a.pos").as("pos"),
        substring(md5(col("a.gram")), 1, 16).as("gh"))
      .localCheckpoint() // the anchor pass runs once; both sides of the
                         // keeper join read the materialized occurrences
    val okey = col("doc_id") * lit(4294967296L) + col("pos")
    val keep = occ.groupBy(col("gh"))
      .agg(count(lit(1)).as("n_occ"), min(okey).as("kkey"))
      .filter(col("n_occ") >= 2)
      .select(col("gh"), col("kkey"))
    val spans = occ.join(keep.hint("shuffle_hash"), Seq("gh"))
      .filter(okey =!= col("kkey"))
      .select(col("doc_id"), col("pos").as("s"),
        least(col("pos") + lit(k), col("n_toks")).as("e"))
    spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
      .select(col("doc_id"), expr(
        """aggregate(slice(sp, 2, size(sp) - 1), array(sp[0]),
          |  (acc, x) -> IF(x.s <= element_at(acc, -1).e,
          |    concat(slice(acc, 1, size(acc) - 1),
          |      array(named_struct('s', element_at(acc, -1).s,
          |        'e', greatest(element_at(acc, -1).e, x.e)))),
          |    concat(acc, array(x))))""".stripMargin).as("m"))
  }

  /** APPLY the removal lists — the output stage of Lee et al. 2022's
    * dedup: every doc minus its duplicated spans (keeper occurrences
    * survive), as text. Docs without removals pass through VERBATIM (no
    * tokenize/rejoin round trip — byte-identical text for the untouched
    * majority of the corpus); scrubbed docs drop exactly the tokens in
    * their merged intervals (a per-row index filter — O(tokens × spans),
    * spans per doc are few after merging). One shuffle beyond the
    * interval computation (the doc_id join; interval side is
    * removal-scale, not corpus-scale).
    *
    * @return (doc_id, clean_text, n_removed_tokens) for EVERY input doc
    */
  def substringScrub(docs: DataFrame, k: Int = 12, p: Int = 4): DataFrame = {
    val iv = substringRemovalIntervals(docs, k, p)
    docs.join(iv.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("m").isNull, col("text")).otherwise(expr(
          """array_join(filter(split(text, ' '),
            |  (t, i) -> !exists(m, v -> i >= v.s AND i < v.e)), ' ')""".stripMargin))
          .as("clean_text"),
        coalesce(expr("aggregate(m, 0L, (a, x) -> a + x.e - x.s)"), lit(0L))
          .as("n_removed_tokens"))
  }

  /** Incremental span-granular removal lists — arrivals-only, the
    * [[incrementalSubstringPairs]] discipline for the removal-list mode:
    * only the NEW batch pays an anchor pass; its occurrences meet the
    * PERSISTED per-gram summary (gh → keeper key + occurrence count)
    * instead of the corpus. Keeper elections are MONOTONE under
    * append-only ingest with increasing doc ids (the min (doc_id, pos)
    * key of a gram can only be claimed by an older doc), so existing
    * docs never gain or lose removals when a batch lands — the new
    * removals are exactly the arrival occurrences of (a) grams already
    * known to the index and (b) grams duplicated within the batch,
    * minus each gram's global keeper. Per-batch cost tracks the batch,
    * never the corpus.
    *
    * @param oldIndex persisted per-gram summary (gh, kkey, n_occ) of the
    *                 pre-existing corpus — pass `null`/empty for the
    *                 first batch; maintain by persisting `_1` of the
    *                 return value between batches
    * @param newDocs  the arrival batch (doc_ids strictly greater than
    *                 every pre-existing doc_id)
    * @return (updated per-gram summary — REPLACES the persisted index;
    *         merged removal intervals (doc_id, m) for arrival docs only,
    *         the [[substringRemovalIntervals]] shape)
    */
  def incrementalRemovalIntervals(oldIndex: DataFrame, newDocs: DataFrame,
                                  k: Int = 12, p: Int = 4): (DataFrame, DataFrame) = {
    val occ = newDocs
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_toks"),
        explode(graft.functions.anchor_spans(col("text"), k, p)).as("a"))
      .select(col("doc_id"), col("n_toks"), col("a.pos").as("pos"),
        substring(md5(col("a.gram")), 1, 16).as("gh"))
      .localCheckpoint() // batch-sized; read by summary + removal paths
    val okey = col("doc_id") * lit(4294967296L) + col("pos")
    val batchSum = occ.groupBy(col("gh"))
      .agg(count(lit(1)).as("n_occ"), min(okey).as("kkey"))
    val newIndex = Option(oldIndex).filter(!_.isEmpty)
      .map { old =>
        old.select(col("gh"), col("kkey"), col("n_occ"))
          .union(batchSum.select(col("gh"), col("kkey"), col("n_occ")))
          .groupBy(col("gh"))
          .agg(sum(col("n_occ")).as("n_occ"), min(col("kkey")).as("kkey"))
      }
      .getOrElse(batchSum)
      .select(col("gh"), col("kkey"), col("n_occ"))
      .localCheckpoint()
    val keep = newIndex.filter(col("n_occ") >= 2).select(col("gh"), col("kkey"))
    val spans = occ.join(keep.hint("shuffle_hash"), Seq("gh"))
      .filter(okey =!= col("kkey"))
      .select(col("doc_id"), col("pos").as("s"),
        least(col("pos") + lit(k), col("n_toks")).as("e"))
    val intervals = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
      .select(col("doc_id"), expr(
        """aggregate(slice(sp, 2, size(sp) - 1), array(sp[0]),
          |  (acc, x) -> IF(x.s <= element_at(acc, -1).e,
          |    concat(slice(acc, 1, size(acc) - 1),
          |      array(named_struct('s', element_at(acc, -1).s,
          |        'e', greatest(element_at(acc, -1).e, x.e)))),
          |    concat(acc, array(x))))""".stripMargin).as("m"))
    (newIndex, intervals)
  }

  /** Incremental exact-substring pair detection — arrivals-only, the
    * [[MinHash.incrementalNearDupPairs]] discipline applied to the substring
    * family: only the NEW batch pays the anchor pass; its anchors join
    * (persisted ∪ new) through the hot-key-salted candidate join, so every
    * candidate pair touches ≥ 1 arrival and per-batch cost tracks the
    * batch, never the corpus. The positional verify re-derives gram
    * strings ONLY for candidate docs (broadcast semi-join out of the full
    * corpus).
    *
    * @param allDocs corpus INCLUDING the arrivals (doc_id, text)
    * @param oldAnchors persisted [[anchorIndex]] of the pre-existing corpus
    * @param newDocs the arrival batch (doc_ids disjoint from oldAnchors)
    * @return (anchors of the new batch — append to the persisted index;
    *         verified pairs (id_a, id_b, n_shared) touching ≥ 1 arrival)
    */
  def incrementalSubstringPairs(allDocs: DataFrame, oldAnchors: DataFrame,
                                newDocs: DataFrame, k: Int = 12,
                                p: Int = 4): (DataFrame, DataFrame) = {
    val newAnchors = anchorIndex(newDocs, k, p).localCheckpoint() // batch-sized; reused
    val tagged = oldAnchors.select(col("doc_id"), col("gram"))
      .withColumn("is_new", lit(false))
      .union(newAnchors.withColumn("is_new", lit(true)))
    val sc = allDocs.sparkSession.sparkContext
    val (heldCand, heldAnchors) = (new Held(sc), new Held(sc))
    val cand = heldCand.frame(gramCandidates(tagged, col("is_new")))
    val pairs = verifyShared(cand, d => anchorIndex(d, k, p), allDocs, heldAnchors.frame)
      .localCheckpoint()
    heldCand.release(); heldAnchors.release() // the pairs' checkpoint reads neither
    (newAnchors, pairs)
  }
}
