package graft.queries

import graft.Tables
import graft.llm.{Bloom, Corpus}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-infrastructure operators (round 13, third wave): retrieval
  * scoring, paragraph-granular dedup, Bloom-filter decontamination, a
  * bucketed interval join, and a Z-order layout key. These extend the
  * LLM-pipeline surface (SURVEY §2 extensions) with the index/layout/probe
  * primitives a 100 TB training-data pipeline runs AROUND the dedup/filter
  * core: "which docs match this query", "which paragraphs repeat", "does
  * this shard touch the eval set", "which events co-occur in time", and
  * "how do I lay the table out so scans prune".
  *
  * All arithmetic follows the repo's quantization doctrine (see
  * [[TextQ.lmQuality]]): integer/rational math only on anything that must
  * hash-match the DuckDB oracle — no floats, no transcendentals; where
  * BM25 wants `log` idf we use the monotone rational surrogate
  * `(N − df + 1)/(df + 1)` in integer millionths, which preserves the
  * ranking semantics (rarer term ⇒ larger weight) and is exact on both
  * engines.
  */
object CorpusQ {

  // ---------------------------------------------------------------- q81

  /** Fixed retrieval query for the BM25 gate: terms present across the
    * synthetic corpus at every SF.
    */
  private val BM25_TERMS = Seq("spark", "join", "vector", "stream")

  /** q81 — BM25 top-k retrieval (Robertson et al., TREC-3): score every
    * document against a fixed 4-term query, return the top 20 by score.
    * k1 = 6/5 and b = 3/4 are kept as exact rationals and multiplied
    * through, so the per-(doc,term) score is
    *
    *   idf_q  = (10^6 · (N − df + 1)) div (df + 1)            [millionths]
    *   tf_q   = (10^6 · 22·A·tf) div (10·A·tf + 3·A + 9·len·N) [millionths]
    *   s      = idf_q · tf_q                                   [exact int]
    *
    * with A = total corpus tokens, N = doc count, len = doc tokens — the
    * BM25 tf saturation `tf·(k1+1)/(tf + k1·(1−b+b·len/avg))` with
    * avg = A/N cleared of denominators (multiply num/den by 10·A). Products
    * ride decimal(38,0) (DuckDB HUGEINT) so nothing overflows at any SF.
    *
    * Scale shape: term postings (tf) are one map-side-filtered groupBy —
    * the corpus shuffles only rows containing a query term; df is a 4-row
    * broadcast; doc lengths join shuffle-hash on doc_id (corpus-sized —
    * never broadcast); corpus totals ride a 1-row broadcast crossJoin. The
    * top-k is `orderBy.limit(k)` (TakeOrdered — per-partition heaps + one
    * k-row driver merge), and the rank window runs on the 20 surviving
    * rows, not the corpus.
    */
  def q81Bm25(spark: SparkSession, dir: String): DataFrame =
    Corpus.bm25(Tables.documents(spark, dir), BM25_TERMS, 20)

  // ---------------------------------------------------------------- q82

  /** q82 — paragraph-granular dedup (the CCNet recipe, Wenzek et al. 2020:
    * drop repeated PARAGRAPHS across the corpus, keep documents): the
    * granularity between q24's whole-doc hash dedup and q63's span-level
    * removal lists. Paragraph = fixed 20-token chunk (the synthetic corpus
    * is single-line, so chunking is positional; on real data the splitter
    * is `\n` and everything downstream is unchanged). Each distinct chunk
    * text keeps exactly one occurrence — the smallest (doc_id, idx) — and
    * every document reassembles from its surviving chunks in order.
    *
    * Scale shape: chunks hash to md5 keys map-side, so the election
    * groupBy and the keeper join shuffle 32-hex keys + (doc_id, idx) pairs
    * — never the text twice (the chunk text rides only the chunks side of
    * the shuffle-hash join). Reassembly is the q79 pattern:
    * sort_array(collect_list(struct(idx, chunk))) per doc — per-group
    * state bounded by the document length. Untouched docs round-trip
    * byte-identical (chunk concatenation is exact).
    */
  def q82ParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    Corpus.paragraphDedup(Tables.documents(spark, dir))

  /** Forwarder to [[Corpus.paragraphDedup]] for perfbench's corpus build. */
  def paragraphDedup(docs: DataFrame): DataFrame = Corpus.paragraphDedup(docs)

  // ---------------------------------------------------------------- q83

  /** q83 — Bloom-filter decontamination probe: q50's eval-set exclusion
    * (docs with doc_id % 50 == 0 are "the benchmark"; word 5-grams are the
    * contamination unit) re-expressed as the approximate-membership scale
    * path. q50 broadcasts the eval grams as exact strings — right up to
    * the point the eval set stops fitting in executor memory; here the
    * eval grams fold into a 2^20-bit Bloom mask (128 KiB regardless of
    * gram count — at real scale, bits/key sizes the mask, see
    * [[graft.llm.Bloom]]) and every training doc probes it MAP-SIDE: the
    * corpus never shuffles at all.
    *
    * The gate is strict, not rows-only: the oracle recomputes the same
    * md5 double-hash positions in SQL and tests position-subset
    * membership, which is definitionally the Bloom predicate — so false
    * positives (if the load factor ever produces one) reproduce exactly.
    * The spec additionally pins the no-false-negative guarantee and a
    * planted false positive.
    */
  // NOTE (r22): spreadNarrowScan was measured here and REJECTED — the
  // probe's per-row cost inflates ~3-30x under concurrent tasks in one
  // JVM (wall 0.82→1.17 s at 32 cores, 1.15→2.14 s at 8), unlike q94/q139
  // whose dense stages win. Serial probe stays.
  def q83BloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(Tables.documents(spark, dir))

  /** Per-(doc, distinct-5-gram) Bloom probe positions — shared by the
    * mask build and the batch probe.
    */
  private def gramPositions(docs: DataFrame): DataFrame = {
    // split once, md5 inside the transform: only 32-hex keys explode (the
    // q80 gram shape); distinct-on-hash == distinct-on-gram (shared md5)
    val g = graft.scale.Layout.explodeNonNull(
      docs.select(col("doc_id"), split(col("text"), " ").as("ts")), "doc_id", expr(
        """array_distinct(transform(sequence(1, greatest(size(ts) - 4, 1)),
          |  i -> md5(concat_ws(' ', slice(ts, i, 5)))))""".stripMargin), "ghex")
    val Seq(p0, p1, p2) = Bloom.positionsFromHex(col("ghex"))
    g.select(col("doc_id"), p0.as("p0"), p1.as("p1"), p2.as("p2"))
  }

  /** The q83 EVAL-SET mask (5-grams of docs with doc_id % 50 == 0) — the
    * persisted decontamination artifact a deployment ships; q139 probes a
    * STREAM against it.
    */
  def evalGramMask(docs: DataFrame): Array[Byte] = {
    val buildPos = gramPositions(docs).filter(col("doc_id") % 50 === 0)
      .select(explode(array(col("p0"), col("p1"), col("p2"))).as("p"))
    // the banked builder (single-bank fast path at this mBits — bit-identical
    // to the treeAggregate build, spec-pinned) keeps the gated query on the
    // same code path a 1000×-larger eval suite would exercise
    Bloom.buildBanked(buildPos, "p")
  }

  /** Core of [[q83BloomDecontaminate]] over any (doc_id, text) frame — the
    * streaming parity spec anchors [[graft.streaming.EventStreams
    * .bloomProbeIngest]] against it.
    */
  def bloomDecontaminate(docs: DataFrame): DataFrame = {
    val mask = evalGramMask(docs)
    gramPositions(docs).filter(col("doc_id") % 50 =!= 0)
      .withColumn("hit", Bloom.mightContain(mask)(col("p0"), col("p1"), col("p2")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits") > 0).as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** q139 — STREAMING decontamination: the q83 probe run over a
    * FileStreamSource with the batch-built eval mask as the frozen
    * artifact ([[graft.streaming.EventStreams.bloomProbeIngest]] — the
    * deployment shape: the mask is built once from the benchmark suite and
    * shipped; arrivals probe it map-side with no state store, no join, no
    * shuffle, append-mode clean). Gated by q83's oracle VERBATIM: the
    * probe is stateless, so streaming it must change nothing — which is
    * exactly the property worth pinning (a probe that accidentally
    * depended on batch-global state would diverge here).
    */
  def q139StreamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val mask = evalGramMask(graft.scale.Layout.spreadNarrowScan(
      Tables.documents(spark, dir), path))
    val schema = spark.read.parquet(path).schema
    val nm = "q139_bloom_sink"
    spark.streams.active.filter(q => Option(q.name).contains(nm)).foreach(_.stop())
    scala.util.Try(spark.catalog.dropTempView(nm))
    // spread the stateless gram probe when the single-file source reads as
    // one task (r22; the batch q83's spread applied to the stream side —
    // repartition is append-mode-clean and the probe is a pure map, so
    // rows/values are unchanged; no-op at scale where the source shards)
    val stream = graft.scale.Layout.spreadNarrowScan(
      spark.readStream.schema(schema)
        .option("basePath", dir)
        .parquet(s"$dir/{documents.parquet}")
        .filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("text")),
      path)
    val q = graft.streaming.EventStreams.bloomProbeIngest(stream, mask)
      .select(col("doc_id"), col("n_grams"), col("n_hits"), col("flagged"))
      .writeStream.format("memory").queryName(nm)
      .option("checkpointLocation", graft.streaming.StreamCkpt.ephemeral(nm)).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(nm).orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q84

  /** 6-hour window, in microseconds (events.ts rides epoch-nanos longs in
    * Spark — see [[graft.Tables.events]] — and `div 1000` lands on the
    * same micros DuckDB's `epoch_us` reads).
    */
  private val IVL_US = 21600000000L

  /** q84 — interval join WITHOUT the quadratic plan: every `error` event
    * opens a per-user [t, t+6h) incident window; count for each user the
    * distinct `click` events landing inside any of their windows. The
    * declarative phrasing is an inequality join — which Spark executes as
    * BroadcastNestedLoop/Cartesian, the plan that dies first at scale
    * (PlanAuditSpec bans it). This operator is the bucketed range-join
    * rewrite: bin width == window width, so every window spans exactly two
    * bins — the window row is EXPLODED into both (2× the small side, not
    * the corpus), probes carry their own bin, and the join becomes a plain
    * shuffle-hash equi-join on (user_id, bin) + a residual range filter +
    * a distinct to collapse the double-counted bin seam. O(matches)
    * instead of O(windows × probes).
    */
  def q84IntervalJoin(spark: SparkSession, dir: String): DataFrame =
    intervalJoin(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("tus")))

  /** Core of [[q84IntervalJoin]] over any (user_id, event_id, event_type,
    * tus) frame — the spec compares it against a naive inequality join on
    * planted boundary cases and audits the plan for BNL/Cartesian absence.
    */
  def intervalJoin(ev: DataFrame): DataFrame = {
    val win = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("tus").as("w_start"))
    val winB = win.select(col("user_id"), col("w_start"),
      explode(array(expr(s"w_start div ${IVL_US}L"),
        expr(s"w_start div ${IVL_US}L + 1"))).as("bin"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("tus"),
        expr(s"tus div ${IVL_US}L").as("bin"))
    val hits = clk.join(winB.hint("shuffle_hash"), Seq("user_id", "bin"))
      .filter(col("tus") >= col("w_start") && col("tus") < col("w_start") + IVL_US)
      .select(col("user_id"), col("event_id")).distinct()
    val nw = win.groupBy(col("user_id")).agg(count(lit(1)).as("n_windows"))
    val nh = hits.groupBy(col("user_id")).agg(count(lit(1)).as("n_hits"))
    nw.join(nh.hint("shuffle_hash"), Seq("user_id"), "left")
      .select(col("user_id"), col("n_windows"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q85

  /** q85 — Z-order layout audit: compute the Morton key of
    * (l_partkey mod 1024, l_suppkey mod 1024) with the native codegen
    * [[graft.sql.ZOrder2]] expression, range-bucket the table by key
    * (4096 keys per bucket), and report per-bucket count + min/max of both
    * dimensions. The output IS the layout argument: every bucket's
    * bounding box is a tight 64×64 tile (the Z-curve property), which is
    * what makes per-file column stats prunable on BOTH dimensions after a
    * `repartitionByRange(zkey).sortWithinPartitions(zkey)` write — the
    * clustering behind Delta/Iceberg Z-ORDER. One partial-agged groupBy on
    * an int key; the oracle unrolls the identical 4-step bit spread in
    * ANSI SQL, so the layout is gateable bit-for-bit.
    */
  def q85Zorder(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
    li.withColumn("zkey", graft.functions.zorder2(col("x"), col("y")))
      .groupBy(expr("zkey div 4096").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------- q86

  /** q86 — per-domain document cap (the C4 recipe: bound any single
    * domain's share of the corpus so mirror farms and link spam can't
    * dominate training data): keep at most 20 documents per source,
    * chosen by deterministic hash order (md5 of the doc id — a seeded
    * shuffle both engines replay identically), and emit every doc with its
    * keep/drop verdict.
    *
    * Scale shape: one window per source partition — rank-within-group
    * parallelizes across sources and the per-group sort is the windowed
    * partition sort, not a global one. A pathological mega-source (one
    * domain = half the corpus) makes that partition hot; the scale path is
    * [[Corpus.domainCapBucketed]] — exact two-phase top-k over hash sub-cells,
    * bit-identical verdicts (q96 gates it against THIS query's oracle). At
    * C4's actual shape (millions of domains, heavy but not degenerate
    * tail) the plain window is the right plan.
    */
  def q86DomainCap(spark: SparkSession, dir: String): DataFrame =
    Corpus.domainCap(Tables.documents(spark, dir), 20)

  /** Forwarder to [[Corpus.domainCap]] for perfbench's corpus build. */
  def domainCap(docs: DataFrame, k: Int): DataFrame = Corpus.domainCap(docs, k)

  /** q96 — [[Corpus.domainCapBucketed]] gated against the ONE-PHASE
    * oracle: the DuckDB side runs q86's plain window SQL (k = 20), so the gate proves
    * the two-phase selection is exactly the one-phase selection,
    * cross-engine, row for row.
    */
  def q96DomainCapBucketed(spark: SparkSession, dir: String): DataFrame =
    Corpus.domainCapBucketed(Tables.documents(spark, dir), 20)

  /** q108 — [[Corpus.domainCapAuto]] at the NATURAL corpus shape (many
    * modest sources — the probe picks the plain window at the production
    * threshold), gated against the one-phase oracle.
    */
  def q108DomainCapAuto(spark: SparkSession, dir: String): DataFrame =
    Corpus.domainCapAuto(Tables.documents(spark, dir), 20)

  /** q109 — [[Corpus.domainCapAuto]] at the DEGENERATE shape: every even
    * doc_id re-sourced to one mega-domain (half the corpus), with the threshold
    * scaled to the test corpus (500) so the probe dispatches the
    * two-phase plan from sf0.01 up. The oracle replays the same remap and
    * runs the one-phase window over it — so the gate proves dispatch +
    * two-phase selection == the plain window, cross-engine, at the very
    * shape the dispatch exists for.
    */
  def q109DomainCapAutoSkewed(spark: SparkSession, dir: String): DataFrame = {
    val remapped = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("mega.example"))
          .otherwise(col("source")).as("source"))
    Corpus.domainCapAuto(remapped, 20, hotThreshold = 500L)
  }

  // ---------------------------------------------------------------- q87

  /** q87 — trained linear bag-of-words classifier (the fastText-shaped
    * quality/language filter of training-data pipelines, Joulin et al.
    * 2017 — linear scoring over token features; here with closed-form
    * count-ratio weights instead of SGD so training is one aggregation
    * pass and every number is exact): train per-(token, class) weights on
    * the even-doc_id half — add-1-smoothed P(class|token) in integer
    * millionths — then score the odd half by summing weights over tokens
    * (with multiplicity) and predict the argmax class (score desc, class
    * asc tiebreak).
    *
    * On THIS synthetic corpus all 31 vocab tokens occur in all 5 langs, so
    * accuracy sits near the majority-class share — the gate pins the exact
    * arithmetic, and the spec proves the machinery separates separable
    * data (constructed corpus → 100%).
    *
    * Scale shape: the weight table is vocab × classes — joined
    * shuffle-hash on token, NEVER broadcast (vocab grows with the corpus);
    * training is two map-side-combined groupBys; the class list is a tiny
    * broadcast crossJoin; scoring is one (doc, class) partial agg and the
    * argmax window sees exactly |classes| rows per doc.
    */
  def q87Classifier(spark: SparkSession, dir: String): DataFrame =
    classify(Tables.documents(spark, dir))

  /** Core of [[q87Classifier]] over any (doc_id, lang, text) frame. */
  def classify(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    val cls = docs.select(col("lang").as("c")).distinct()
    // |classes| is the smoothing denominator — a bounded driver scalar
    // (one long; class cardinality is tiny by definition)
    val k = cls.count()
    val tr = toks.filter(col("doc_id") % 2 === 0)
    val ct = tr.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val cc = tr.groupBy(col("tok").as("cc_tok"), col("lang").as("cc_lang"))
      .agg(count(lit(1)).as("n_tok_lang"))
    val w = ct.crossJoin(broadcast(cls))
      .join(cc.hint("shuffle_hash"),
        col("cc_tok") === col("tok") && col("cc_lang") === col("c"), "left")
      .select(col("tok"), col("c"),
        expr(s"(1000000L * (coalesce(n_tok_lang, 0) + 1)) div (n_tok + $k)").as("wt"))
    val sc = toks.filter(col("doc_id") % 2 === 1)
      .join(w.hint("shuffle_hash"), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("c"))
      .agg(sum(col("wt")).as("score"))
    sc.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("c"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("c").as("pred"), col("score"),
        (col("lang") === col("pred")).as("correct"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q88

  /** q88 — cross-corpus overlap estimation by MinHash signatures (Broder
    * 1997 — the resemblance estimator): per source, a 32-permutation
    * MinHash signature over its distinct word-8-gram set; per source
    * pair, the fraction of agreeing components estimates the gram-set
    * Jaccard. This is the PLANNING dial run before committing to a full
    * dedup pass — "how much does source A repeat source B" at signature
    * cost, not join cost (the corpus-pair analog of q80's within-corpus
    * duplication profile).
    *
    * Permutation h_i(g) = ((2i+3)·r + 11i+7) mod (2^31−1) over the q44
    * Rabin gram hash r — both engines replay it exactly. Scale shape:
    * grams hash map-side (text never shuffles); the signature is ONE
    * partial-agged groupBy of (source, i) minima — 32 rows per source
    * survive per partition before the shuffle; the pair compare runs on
    * sources² × 32 signature rows (tiny — auto-broadcast), never on
    * grams.
    */
  def q88CorpusOverlap(spark: SparkSession, dir: String): DataFrame =
    corpusOverlap(Tables.documents(spark, dir))

  /** Core of [[q88CorpusOverlap]] over any (source, text) frame.
    *
    * `min` is multiplicity-insensitive, so neither a gram `distinct` (a
    * full gram-string shuffle) nor a 32× row explode is needed: every
    * occurrence hashes map-side, the 32 permutation minima ride ONE
    * groupBy(source) as 32 accumulators (partial-agged: 32 longs per
    * source per partition cross the wire), and only the 32-wide signature
    * rows unpivot for the pair compare. The oracle keeps the textbook
    * distinct-then-min formulation — same minima by construction. (First
    * cut exploded distinct grams ×32; this plan cut q88 from 2.8 s to the
    * map-side hash cost alone.)
    */
  def corpusOverlap(docs: DataFrame): DataFrame = {
    // both sides of the pair self-join consume the signatures — checkpoint
    // the |sources|×33 frame so the gram pass runs ONCE, not per side
    val sig = Corpus.overlapSignatures(docs).localCheckpoint()
    val mins = sig.select(col("source"),
      posexplode(array((0 until 32).map(i => col(s"m$i")): _*)).as(Seq("i", "mh")))
    mins.as("a")
      .join(mins.as("b"),
        col("a.i") === col("b.i") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L)).as("n_match"))
      .select(col("src_a"), col("src_b"), col("n_match"),
        expr("(1000000L * n_match) div 32").as("overlap_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---------------------------------------------------------------- q89

  /** q89 — the composed corpus-build pipeline, end-to-end as ONE gated
    * query: the integration statement that the operators compose the way a
    * real training-data build runs them. Five stages, each individually
    * oracle-proven elsewhere, chained over the documents table:
    *
    *   1. exact dedup (q24 semantics): keeper = min doc_id per md5(text)
    *   2. paragraph-granular dedup (q82 core) on the survivors; docs
    *      scrubbed to nothing drop out
    *   3. quality filter: distinct-token ratio ≥ 0.33 in integer
    *      millionths (the repetition screen)
    *   4. per-domain cap (q86 core, k=30) in deterministic hash order
    *   5. token budget: 15k-token global cutoff in md5(doc_id) order over
    *      the bucketed distributed prefix sum (q48's machinery — no
    *      single-partition window), emitting each kept doc's global token
    *      offset — the manifest a sharded sequence writer consumes
    *
    * The DuckDB oracle replays all five stages as composed CTEs, so the
    * gate pins STAGE COUPLING (who feeds whom, which columns survive),
    * not just per-stage arithmetic. At sf0.01: 500 docs → 314 kept,
    * 14,998/15,000 budget tokens.
    *
    * Scale shape: inherits each stage's audited plan — md5-keyed
    * shuffle-hash joins (never text twice), per-source windows, one
    * bounded 256-bucket driver aggregate for the prefix sum. The
    * per-stage shuffles run on a monotonically SHRINKING frame (each
    * stage only drops rows), which is the property that makes the
    * composition linear overall.
    */
  // NOTE (r22): spreadNarrowScan measured here and REJECTED (wall
  // 2.84→4.53 s, task time 2.2→45 s — the md5-over-full-text stages
  // inflate ~20x under concurrent tasks in one JVM, like q83's probe).
  def q89Pipeline(spark: SparkSession, dir: String): DataFrame =
    pipeline(Tables.documents(spark, dir))

  /** Core of [[q89Pipeline]] over any (doc_id, text, source) frame. */
  def pipeline(docs: DataFrame): DataFrame = {
    val k1 = docs.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("keeper"))
    val s1 = docs.withColumn("h", md5(col("text")))
      .join(k1.hint("shuffle_hash"), Seq("h"))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text"), col("source"))
    val s2 = Corpus.paragraphDedup(s1.select(col("doc_id"), col("text")))
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text"))
    val s3 = s2.select(col("doc_id"), split(col("clean_text"), " ").as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_toks"),
        expr("(1000000L * size(array_distinct(ts))) div size(ts)").as("uniq_ppm"))
      .filter(col("uniq_ppm") >= 330000)
      .select(col("doc_id"), col("n_toks"))
    val s3f = s3.join(
      s1.select(col("doc_id"), col("source")).hint("shuffle_hash"), "doc_id")
    val s4 = Corpus.domainCap(s3f.select(col("doc_id"), col("source")), 30)
      .filter(col("kept")).select(col("doc_id"))
    val s4f = s3f.join(s4.hint("shuffle_hash"), "doc_id")
    // PrefixSum is two-pass (offset aggregate + window) — localCheckpoint
    // the 4-stage survivor frame so the pipeline computes ONCE, not twice
    val withKey = s4f
      .withColumn("hkey", md5(col("doc_id").cast("string")))
      .withColumn("g", lit("all"))
      .localCheckpoint()
    graft.scale.PrefixSum.runningSum(withKey, "g", "n_toks")
      .filter(col("cum") <= 15000)
      .select(col("doc_id"), col("source"), col("n_toks"),
        (col("cum") - col("n_toks")).as("offset"))
      .orderBy(col("offset"))
  }

  // ---------------------------------------------------------------- q93

  /** q93 — distinctive terms per language by integer lift (pointwise
    * mutual information's monotone rational core, exact in millionths:
    * `lift = P(tok|lang) / P(tok)` cleared to
    * `10^6·c(tok,lang)·N / (c(tok)·N_lang)`): the corpus-profiling dial
    * that answers "what does THIS slice of the corpus over-use" — the
    * per-group twin of q81's global idf, robust on corpora where plain
    * tf-idf degenerates (here every vocab token occurs in every language,
    * yet relative usage still separates: planted duplication makes 'dup'
    * the top term in the languages carrying it). Top-5 per language,
    * (lift desc, token asc) deterministic.
    *
    * Scale shape: three map-side-combined groupBys; the vocab-sized
    * count join is shuffle-hash (never broadcast), the |langs|-sized and
    * 1-row totals broadcast; the per-language top-k window partitions by
    * language (per-partition vocab sort — for web-scale vocabs swap in a
    * per-partition heap top-k, same result by determinism of the key).
    */
  def q93Keywords(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    val ct = toks.groupBy(col("tok")).agg(count(lit(1)).as("c_tok"))
    val cl = toks.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val tot = toks.agg(count(lit(1)).as("n_total"))
    val cc = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val lift = cc
      .join(ct.hint("shuffle_hash"), "tok")
      .join(broadcast(cl), "lang")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("tok"),
        expr("""(cast(1000000 as decimal(38,0)) * c * n_total) div
               |(cast(c_tok as decimal(38,0)) * n_lang)""".stripMargin)
          .cast("long").as("lift_ppm"))
    lift
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("lift_ppm").desc, col("tok"))))
      .filter(col("rank") <= 5)
      .orderBy(col("lang"), col("rank"))
  }

  // ---------------------------------------------------------------- q94

  /** q94 — group-aware train/val/test split + cross-split leakage audit:
    * the evaluation-hygiene operator a real pipeline runs BEFORE training.
    * Splits assign by hash of the SOURCE (md5 → 8/1/1), never the doc —
    * documents from one site land in one split, so template families and
    * mirrors can't straddle the train/test boundary by construction. The
    * audit then measures what still leaks ACROSS sources: for each split
    * pair, the count of shared word-8-gram keys and the fraction of the
    * higher-named split's gram occurrences that also appear in the other
    * (integer millionths — the q80 duplication metric turned into a
    * contamination dial). At sf0.01: train/val/test = 375/75/50 docs;
    * train↔test shares 52 gram keys at 0.29% occupancy — cross-source
    * boilerplate the source-split can't remove, which is exactly what the
    * number is for.
    *
    * Scale shape: grams hash to md5 keys map-side (text never shuffles),
    * occurrence counts are one partial-agged (split, gh) groupBy, the
    * pair compare is a shuffle-hash self-join on the gram key, and the
    * 3-row occurrence totals ride broadcast.
    */
  def q94SplitLeakage(spark: SparkSession, dir: String): DataFrame =
    // spread the md5-8-gram pass when the scan is one split (r22; no-op at
    // scale — see Layout.spreadNarrowScan): the gram stage was ~0.9 s on
    // ONE task while 31 cores idled
    splitLeakage(graft.scale.Layout.spreadNarrowScan(
      Tables.documents(spark, dir), s"$dir/documents.parquet"))

  /** Core of [[q94SplitLeakage]] over any (source, text) frame. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val h = pmod(conv(substring(md5(col("source")), 1, 15), 16, 10).cast("long"), lit(10L))
    val sp = docs.select(col("text"),
      when(h <= 7, "train").when(h === 8, "val").otherwise("test").as("split"))
    // the q80 gram shape: split ONCE into a column (no per-position
    // re-split) and hash INSIDE the transform so only 32-hex keys explode
    val g = sp.select(col("split"), split(col("text"), " ").as("ts"))
      .select(col("split"), explode(expr(
        """transform(sequence(1, greatest(size(ts) - 7, 1)),
          |  i -> md5(concat_ws(' ', slice(ts, i, 8))))""".stripMargin)).as("gh"))
    // three consumers (both self-join sides + totals) — checkpoint the
    // aggregated counts so the gram pass runs ONCE, not three times
    val occ = g.groupBy(col("split"), col("gh")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = occ.groupBy(col("split").as("t_split")).agg(sum(col("c")).as("n_occ"))
    occ.as("a")
      .join(occ.as("b").hint("shuffle_hash"),
        col("a.gh") === col("b.gh") && col("a.split") < col("b.split"))
      .join(broadcast(tot), col("b.split") === col("t_split"))
      .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"), col("n_occ"))
      .agg(count(lit(1)).as("n_shared"),
        expr("cast((cast(1000000 as decimal(38,0)) * sum(b.c)) div n_occ as bigint)")
          .as("leak_ppm"))
      .select(col("split_a"), col("split_b"), col("n_shared"), col("leak_ppm"))
      .orderBy(col("split_a"), col("split_b"))
  }

  // ------------------------------------------------------------ registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_bm25"                -> q81Bm25 _,
    "q82_paragraph_dedup"     -> q82ParagraphDedup _,
    "q83_bloom_decontaminate" -> q83BloomDecontaminate _,
    "q139_stream_decontaminate" -> q139StreamDecontaminate _,
    "q84_interval_join"       -> q84IntervalJoin _,
    "q85_zorder"              -> q85Zorder _,
    "q86_domain_cap"          -> q86DomainCap _,
    "q96_domain_cap_bucketed" -> q96DomainCapBucketed _,
    "q108_domain_cap_auto"    -> q108DomainCapAuto _,
    "q109_domain_cap_auto_skewed" -> q109DomainCapAutoSkewed _,
    "q87_classifier"          -> q87Classifier _,
    "q88_corpus_overlap"      -> q88CorpusOverlap _,
    "q89_pipeline"            -> q89Pipeline _,
    "q93_keywords"            -> q93Keywords _,
    "q94_split_leakage"       -> q94SplitLeakage _,
  )

  /** The q83 replay — shared verbatim by the streaming probe gate
    * (q139): the probe is stateless, so streaming must change nothing.
    */
  private val bloomOracle: String =
    """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')))) AS gram
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef', substr(md5(gram), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h1,
        |    list_reduce(list_transform(range(17, 32),
        |      i -> strpos('0123456789abcdef', substr(md5(gram), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) | 1 AS h2
        |  FROM g),
        |hp AS (
        |  SELECT doc_id, h1 % 1048576 AS p0, (h1 + h2) % 1048576 AS p1,
        |         (h1 + 2 * h2) % 1048576 AS p2
        |  FROM h),
        |bits AS (
        |  SELECT DISTINCT p FROM (
        |    SELECT unnest([p0, p1, p2]) AS p FROM hp WHERE doc_id % 50 = 0)),
        |probe AS (
        |  SELECT doc_id,
        |    (p0 IN (SELECT p FROM bits) AND p1 IN (SELECT p FROM bits)
        |     AND p2 IN (SELECT p FROM bits)) AS hit
        |  FROM hp WHERE doc_id % 50 <> 0)
        |SELECT doc_id, count(*) AS n_grams,
        |       count(*) FILTER (hit) AS n_hits,
        |       count(*) FILTER (hit) > 0 AS flagged
        |FROM probe GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // BM25: identical rational-millionths arithmetic in HUGEINT; the
    // rank window runs over the 20-row top-k, matching TakeOrdered
    "q81_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
        |tot AS (SELECT count(*) AS n_docs, sum(len)::BIGINT AS a_tot FROM dl),
        |df AS (SELECT tok AS term, count(DISTINCT doc_id) AS dfc
        |       FROM toks WHERE tok IN ('spark','join','vector','stream') GROUP BY tok),
        |tf AS (SELECT doc_id, tok AS term, count(*) AS tfc
        |       FROM toks WHERE tok IN ('spark','join','vector','stream') GROUP BY doc_id, tok),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ((1000000::HUGEINT * (tot.n_docs - df.dfc + 1)) // (df.dfc + 1)) *
        |    ((1000000::HUGEINT * 22 * tot.a_tot * tf.tfc) //
        |     (10::HUGEINT * tot.a_tot * tf.tfc + 3 * tot.a_tot + 9 * dl.len * tot.n_docs)) AS s
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25 FROM sc GROUP BY doc_id),
        |top AS (SELECT doc_id, bm25,
        |        row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM agg)
        |SELECT doc_id, bm25, rank FROM top WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // paragraph dedup: 20-token positional chunks; keeper = min
    // (doc_id, idx) encoded as doc_id*1e6+idx (idx < 1e6 by construction)
    "q82_paragraph_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, (pos - 1) // 20 AS idx,
        |         string_agg(tok, ' ' ORDER BY pos) AS chunk
        |  FROM toks GROUP BY doc_id, (pos - 1) // 20),
        |keep AS (
        |  SELECT chunk, min(doc_id * 1000000 + idx) AS keeper FROM chunks GROUP BY chunk),
        |kept AS (
        |  SELECT c.doc_id, c.idx, c.chunk
        |  FROM chunks c JOIN keep k ON c.chunk = k.chunk
        |  WHERE c.doc_id * 1000000 + c.idx = k.keeper),
        |re AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(chunk, ' ' ORDER BY idx) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |nt AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
        |SELECT d.doc_id, nt.n_chunks, COALESCE(re.n_kept, 0) AS n_kept,
        |       COALESCE(re.clean_text, '') AS clean_text
        |FROM documents d JOIN nt USING (doc_id) LEFT JOIN re USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Bloom probe: same md5 double-hash positions (15 hex chars each →
    // < 2^60), k=3, m=2^20; membership = probe positions ⊆ build positions
    // — definitionally the Bloom predicate, false positives included
    // the streaming probe is stateless over the same frozen mask — q83's
    // replay gates it verbatim
    "q139_stream_decontaminate" -> bloomOracle,
    "q83_bloom_decontaminate" -> bloomOracle,
    // interval join: the oracle states the inequality-join semantics
    // directly; the Spark side must produce the same matches from the
    // bucketed equi-join rewrite
    "q84_interval_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |win AS (SELECT user_id, tus AS w_start, tus + 21600000000 AS w_end
        |        FROM ev WHERE event_type = 'error'),
        |clk AS (SELECT user_id, event_id, tus FROM ev WHERE event_type = 'click'),
        |hits AS (
        |  SELECT DISTINCT clk.user_id, clk.event_id
        |  FROM clk JOIN win ON clk.user_id = win.user_id
        |  WHERE clk.tus >= win.w_start AND clk.tus < win.w_end),
        |nw AS (SELECT user_id, count(*) AS n_windows FROM win GROUP BY user_id),
        |nh AS (SELECT user_id, count(*) AS n_hits FROM hits GROUP BY user_id)
        |SELECT nw.user_id, nw.n_windows, COALESCE(nh.n_hits, 0) AS n_hits
        |FROM nw LEFT JOIN nh USING (user_id)
        |ORDER BY nw.user_id""".stripMargin,
    // Z-order: the identical 4-step bit spread unrolled in ANSI SQL
    "q85_zorder" ->
      """WITH xy AS (
        |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem),
        |s1 AS (SELECT x, y, (x | (x << 8)) & 16711935 AS xa,
        |                     (y | (y << 8)) & 16711935 AS ya FROM xy),
        |s2 AS (SELECT *, (xa | (xa << 4)) & 252645135 AS xb,
        |                 (ya | (ya << 4)) & 252645135 AS yb FROM s1),
        |s3 AS (SELECT *, (xb | (xb << 2)) & 858993459 AS xc,
        |                 (yb | (yb << 2)) & 858993459 AS yc FROM s2),
        |s4 AS (SELECT *, (xc | (xc << 1)) & 1431655765 AS xd,
        |                 (yc | (yc << 1)) & 1431655765 AS yd FROM s3),
        |z AS (SELECT x, y, (xd | (yd << 1)) AS zkey FROM s4)
        |SELECT zkey // 4096 AS bucket, count(*) AS n,
        |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
    // per-domain cap: deterministic md5 "shuffle" order, keep 20 per source
    "q86_domain_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rn <= 20 AS kept FROM r ORDER BY doc_id""".stripMargin,
    // adaptive dispatch at the natural shape: the oracle is the one-phase
    // window (whichever branch the probe picks must equal it)
    "q108_domain_cap_auto" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rn <= 20 AS kept FROM r ORDER BY doc_id""".stripMargin,
    // adaptive dispatch at the degenerate shape: same mega-domain remap,
    // same one-phase window — proves dispatch + two-phase == plain window
    "q109_domain_cap_auto_skewed" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'mega.example' ELSE source END AS source
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, source, rn <= 20 AS kept FROM r ORDER BY doc_id""".stripMargin,
    // two-phase (bucketed) domain cap: the oracle is deliberately the
    // ONE-PHASE window — the gate proves the exact-top-k equivalence
    "q96_domain_cap_bucketed" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rn <= 20 AS kept FROM r ORDER BY doc_id""".stripMargin,
    // linear bag-of-words classifier: add-1-smoothed P(class|token) in
    // integer millionths, trained on even doc_ids, argmax over classes
    // (score desc, class asc) on the odd half
    "q87_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cls AS (SELECT DISTINCT lang AS c FROM documents),
        |k AS (SELECT count(*) AS nc FROM cls),
        |tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        |ct AS (SELECT tok, count(*) AS n_tok FROM tr GROUP BY tok),
        |cc AS (SELECT tok, lang, count(*) AS n_tok_lang FROM tr GROUP BY tok, lang),
        |w AS (
        |  SELECT ct.tok, cls.c,
        |    (1000000::BIGINT * (COALESCE(cc.n_tok_lang, 0) + 1)) // (ct.n_tok + k.nc) AS wt
        |  FROM ct CROSS JOIN cls CROSS JOIN k
        |  LEFT JOIN cc ON cc.tok = ct.tok AND cc.lang = cls.c),
        |sc AS (
        |  SELECT t.doc_id, t.lang, w.c, CAST(sum(w.wt) AS BIGINT) AS score
        |  FROM toks t JOIN w ON w.tok = t.tok
        |  WHERE t.doc_id % 2 = 1
        |  GROUP BY t.doc_id, t.lang, w.c),
        |p AS (
        |  SELECT doc_id, lang, c AS pred, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
        |  FROM sc)
        |SELECT doc_id, lang, pred, score, lang = pred AS correct
        |FROM p WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // corpus-overlap MinHash: q44 Rabin gram hash + 32 affine permutations
    // mod 2^31-1; per-pair agreeing-component count in millionths
    "q88_corpus_overlap" ->
      """WITH g AS (
        |  SELECT DISTINCT source, gram FROM (
        |    SELECT source, unnest(list_transform(
        |      range(1, greatest(len(string_split(text, ' ')) - 7, 1) + 1),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' '))) AS gram
        |    FROM documents)),
        |rh AS (
        |  SELECT source, list_reduce(list_prepend(7::BIGINT,
        |      list_transform(range(1, strlen(gram) + 1),
        |        i -> ascii(substr(gram, i, 1))::BIGINT)),
        |      (a, x) -> (a * 31 + x) % 2147483647) AS r
        |  FROM g),
        |mins AS (
        |  SELECT source, i, min(((2 * i + 3) * r + 11 * i + 7) % 2147483647) AS mh
        |  FROM rh CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
        |  GROUP BY source, i),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) FILTER (a.mh = b.mh) AS n_match
        |  FROM mins a JOIN mins b ON a.i = b.i AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT src_a, src_b, n_match,
        |  (1000000::BIGINT * n_match) // 32 AS overlap_ppm
        |FROM pairs ORDER BY src_a, src_b""".stripMargin,
    // the five-stage pipeline as composed CTEs: exact dedup → paragraph
    // dedup → uniqueness filter → domain cap → token budget (the plain
    // running-sum window here equals the distributed bucketed prefix sum
    // because both order by (md5 hex, doc_id))
    "q89_pipeline" ->
      """WITH s1k AS (SELECT md5(text) AS h, min(doc_id) AS keeper FROM documents GROUP BY md5(text)),
        |s1 AS (SELECT d.* FROM documents d JOIN s1k ON md5(d.text) = s1k.h AND d.doc_id = s1k.keeper),
        |toks0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos FROM s1),
        |chunks AS (
        |  SELECT doc_id, (pos - 1) // 20 AS idx, string_agg(tok, ' ' ORDER BY pos) AS chunk
        |  FROM toks0 GROUP BY doc_id, (pos - 1) // 20),
        |keepc AS (SELECT chunk, min(doc_id * 1000000 + idx) AS k FROM chunks GROUP BY chunk),
        |kept AS (SELECT c.doc_id, c.idx, c.chunk FROM chunks c JOIN keepc ON c.chunk = keepc.chunk
        |         WHERE c.doc_id * 1000000 + c.idx = keepc.k),
        |s2 AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean_text
        |       FROM kept GROUP BY doc_id),
        |ct AS (SELECT doc_id, unnest(string_split(clean_text, ' ')) AS tok FROM s2),
        |s3 AS (
        |  SELECT ct.doc_id, count(*) AS n_toks,
        |    (1000000::BIGINT * count(DISTINCT tok)) // count(*) AS uniq_ppm
        |  FROM ct GROUP BY ct.doc_id),
        |s3f AS (
        |  SELECT s3.doc_id, d.source, s3.n_toks
        |  FROM s3 JOIN documents d USING (doc_id) WHERE uniq_ppm >= 330000),
        |s4 AS (
        |  SELECT doc_id, source, n_toks,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM s3f),
        |s4f AS (SELECT doc_id, source, n_toks FROM s4 WHERE rn <= 30),
        |s5 AS (
        |  SELECT doc_id, source, n_toks,
        |    sum(n_toks) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s4f)
        |SELECT doc_id, source, n_toks, CAST(cum - n_toks AS BIGINT) AS "offset"
        |FROM s5 WHERE cum <= 15000 ORDER BY "offset"""".stripMargin,
    // per-language lift in integer millionths; top-5 per language with
    // deterministic (lift desc, token asc) ranking
    "q93_keywords" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |ct AS (SELECT tok, count(*) AS c_tok FROM toks GROUP BY tok),
        |cl AS (SELECT lang, count(*) AS n_lang FROM toks GROUP BY lang),
        |tot AS (SELECT count(*) AS n_total FROM toks),
        |cc AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
        |lift AS (
        |  SELECT cc.lang, cc.tok,
        |    (1000000::HUGEINT * cc.c * tot.n_total) // (ct.c_tok::HUGEINT * cl.n_lang) AS lift_ppm
        |  FROM cc JOIN ct USING (tok) JOIN cl USING (lang) CROSS JOIN tot),
        |top AS (SELECT lang, tok, CAST(lift_ppm AS BIGINT) AS lift_ppm,
        |  row_number() OVER (PARTITION BY lang ORDER BY lift_ppm DESC, tok) AS rank FROM lift)
        |SELECT lang, tok, lift_ppm, rank FROM top WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    // source-hash 8/1/1 split; leakage = shared 8-gram keys per split pair
    // + occurrence fraction of the higher-named split, integer millionths
    "q94_split_leakage" ->
      """WITH sp AS (
        |  SELECT text,
        |    CASE WHEN h % 10 <= 7 THEN 'train' WHEN h % 10 = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT *, list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef', substr(md5(source), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h FROM documents)),
        |g AS (
        |  SELECT split, md5(gram) AS gh FROM (
        |    SELECT split, unnest(list_transform(
        |      range(1, greatest(len(string_split(text, ' ')) - 7, 1) + 1),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' '))) AS gram
        |    FROM sp)),
        |occ AS (SELECT split, gh, count(*) AS c FROM g GROUP BY split, gh),
        |tot AS (SELECT split AS t_split, sum(c) AS n_occ FROM occ GROUP BY split),
        |pairs AS (
        |  SELECT a.split AS split_a, b.split AS split_b,
        |    count(*) AS n_shared,
        |    CAST((1000000::HUGEINT * sum(b.c)) // max(tot.n_occ) AS BIGINT) AS leak_ppm
        |  FROM occ a JOIN occ b ON a.gh = b.gh AND a.split < b.split
        |  JOIN tot ON tot.t_split = b.split
        |  GROUP BY a.split, b.split)
        |SELECT split_a, split_b, n_shared, leak_ppm FROM pairs
        |ORDER BY split_a, split_b""".stripMargin,
  )
}
