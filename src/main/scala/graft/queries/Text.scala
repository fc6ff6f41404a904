package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (token counting,
  * quality scoring, language-ID heuristic, document fingerprinting, exact
  * dedup) over the `documents` table.
  *
  * All token logic is single-space `split` so the DuckDB `string_split`
  * oracle is bit-identical. All operators are pure column expressions
  * (whole-stage-codegen'd, no UDFs) and scale linearly: no shuffle except the
  * final aggregate/sort.
  */
object TextQ {

  private[queries] val STOPWORDS = Seq("the", "a", "of", "to", "in")

  /** q20 — token counting: whitespace tokens + distinct tokens + byte len. */
  def q20TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct"),
        length(col("text")).as("len_chars"),
        octet_length(col("text")).as("len_bytes"))
      .orderBy(col("doc_id"))

  /** q21 — quality scoring: stopword ratio, mean token length, alpha ratio. */
  def q21Quality(spark: SparkSession, dir: String): DataFrame =
    withQuality(Tables.documents(spark, dir))
      .withColumn("mean_tok_len",
        round((length(col("text")) - col("n_tokens") + 1).cast("double") / col("n_tokens"), 4))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("stop_ratio"),
        col("mean_tok_len"), col("quality"))
      .orderBy(col("doc_id"))

  /** q22 — language-ID heuristic (marker-token scoring) → confusion matrix
    * against the labeled `lang` column. Markers drawn from the corpus vocab;
    * the deterministic argmax CASE is identical on both sides.
    */
  def q22LangId(spark: SparkSession, dir: String): DataFrame = {
    def score(markers: Seq[String]) = {
      val list = markers.map(s => s"'$s'").mkString(", ")
      expr(s"size(filter(split(text, ' '), t -> t IN ($list)))")
    }
    Tables.documents(spark, dir)
      .withColumn("s_en", score(Seq("the", "a", "data", "table")))
      .withColumn("s_es", score(Seq("query", "row", "line")))
      .withColumn("s_de", score(Seq("merge", "batch", "stream")))
      .withColumn("s_fr", score(Seq("join", "group", "sort")))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** q23 — document fingerprinting: md5 of whitespace-normalized lowercase
    * text + per-fingerprint duplicate count (window).
    */
  def q23Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))
    Tables.documents(spark, dir)
      .withColumn("fp", fp)
      .withColumn("n_same_fp", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .select(col("doc_id"), col("fp"), col("n_same_fp"))
      .orderBy(col("doc_id"))
  }

  /** q24 — exact deduplication: hash-groupBy on md5(text), keep min doc_id.
    * At 100 TB this is the standard first dedup pass: shuffle on the 128-bit
    * content hash (never the content), keeper = min(id) per group.
    */
  def q24ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_id"))

  /** q43 — BPE-ish subword token counting: regex word segmentation
    * (`[A-Za-z0-9]+` runs — identical in Java and RE2 dialects) plus
    * fixed-width subword chunking (`ceil(len/4)` as pure integer
    * arithmetic), the deterministic stand-in for a learned BPE vocabulary:
    * real merge tables are model artifacts, but the pipeline shape — regex
    * pre-tokenization, per-word subword expansion, corpus aggregation — is
    * exactly this, all in codegen'd column expressions with no UDF.
    */
  def q43SubwordTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws", expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)"))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_words"),
        expr("CAST(aggregate(transform(ws, w -> (length(w) + 3) div 4), 0L, (a, x) -> a + x) AS BIGINT)")
          .as("n_subwords"),
        expr("CAST(aggregate(transform(ws, w -> length(w)), 0, (a, x) -> a + x) AS BIGINT)")
          .as("n_word_chars"))
      .orderBy(col("doc_id"))

  /** Rabin rolling-hash fingerprint over a `norm` column (shared by q44 and
    * the streaming ingest twin [[graft.streaming.EventStreams.cleanIngest]]).
    * Native codegen expression ([[graft.functions.rolling_hash]]) — one
    * pass over the code points, empty string = bare seed by construction
    * (the old HOF formulation needed an explicit guard because Spark's
    * `sequence(1, 0)` yields the DESCENDING [1, 0]); value-equivalence to
    * the HOF pinned by SqlExprSpec, the DuckDB oracle unchanged.
    */
  private[graft] def rollingFingerprint: org.apache.spark.sql.Column =
    graft.functions.rolling_hash(col("norm"))

  /** Adds the q21 quality columns (`n_tokens`, `n_stop`, `stop_ratio`,
    * `quality`) to any frame with a `text` column — the ONE definition of
    * the quality formula, shared by q21, q40 and the streaming
    * [[graft.streaming.EventStreams.cleanIngest]] so the three can never
    * silently diverge from each other or the DuckDB oracle.
    */
  private[graft] def withQuality(df: DataFrame): DataFrame = {
    val stopList = STOPWORDS.map(s => s"'$s'").mkString(", ")
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr(s"size(filter(toks, t -> t IN ($stopList)))"))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 4))
      .withColumn("quality",
        round(least(lit(1.0), col("stop_ratio") * 2 + col("n_tokens") / lit(100.0)), 4))
      .drop("toks")
  }

  /** q44 — Rabin polynomial rolling hash (base-31 mod 2^31-1) over the
    * normalized text as the document fingerprint, folded left-to-right over
    * the char stream exactly as an incremental/streaming hasher would
    * (`h = (h*B + c) mod M` — the property that lets an ingest pipeline
    * fingerprint a document without buffering it). Identical integer
    * arithmetic on both engines; duplicate detection (same n_same as q23's
    * md5 route) falls out of the window count.
    */
  def q44RollingHash(spark: SparkSession, dir: String): DataFrame = {
    val rfp = rollingFingerprint
    Tables.documents(spark, dir)
      .withColumn("norm", regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))
      .withColumn("rfp", rfp)
      .withColumn("n_same_rfp", count(lit(1)).over(Window.partitionBy(col("rfp"))))
      .select(col("doc_id"), col("rfp"), col("n_same_rfp"))
      .orderBy(col("doc_id"))
  }

  /** See [[graft.scale.PrefixSum.runningSum]] — the bucketed prefix-sum
    * alternative to a single-partition global-ORDER-BY window; promoted to
    * the scale package because it is a general utility, not a query detail.
    */
  private def distributedRunningSum(df: DataFrame, groupCol: String,
                                    valueCol: String): DataFrame =
    graft.scale.PrefixSum.runningSum(df, groupCol, valueCol)

  private val TOKEN_BUDGET = 15000L
  private val PER_LANG_K = 30L
  private val SEQ_LEN = 512L
  private val CHUNK_W = 32L
  private val CHUNK_S = 24L

  /** q48 — token-budget corpus sampling: the data-mixing primitive that cuts
    * a corpus to a token budget deterministically. Docs order by
    * md5(doc_id) (a fixed pseudo-random permutation both engines compute
    * identically), and every doc whose INCLUSIVE running token count fits
    * the budget survives. The running sum is [[distributedRunningSum]] —
    * bucketed prefix sums, no global-order single-partition window, so the
    * plan holds at 100 TB where the oracle's `ORDER BY` window form would
    * not.
    */
  def q48TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), lit("_").as("g"),
        md5(col("doc_id").cast("string")).as("hkey"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    distributedRunningSum(docs, "g", "n_tokens")
      .filter(col("cum") <= TOKEN_BUDGET)
      .select(col("doc_id"), col("n_tokens"), col("cum").as("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q49 — stratified mixture sampling: k docs per language, chosen by the
    * same deterministic md5 permutation — the per-source quota step of
    * pretraining data mixing. The per-language rank is the SAME bucketed
    * prefix machinery (value 1 → running count), so a dominant language
    * (the realistic 100 TB shape — most of a web corpus is one language)
    * never concentrates into a single window partition.
    */
  def q49MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("hkey"), lit(1L).as("one"))
    distributedRunningSum(docs, "lang", "one")
      .filter(col("cum") <= PER_LANG_K)
      .select(col("lang"), col("doc_id"), col("cum").as("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** q75 — training-sequence packing ("concatenate and chunk"): the final
    * tokens→fixed-length-sequences step of a pretraining pipeline. Docs
    * concatenate in the deterministic md5(doc_id) permutation (the shuffle
    * a sequence writer wants anyway) and the stream splits every
    * [[SEQ_LEN]] tokens; each doc reports the first sequence it lands in
    * and how many sequences it spans — exactly what a per-partition
    * sequence writer needs to emit its slice without seeing neighbors.
    * The running token offset is [[distributedRunningSum]] (bucketed
    * prefix sums), so unlike the oracle's global-ORDER-BY window the plan
    * never collapses to one partition; chunk ids are pure arithmetic on
    * the offset (`DIV` — truncating == floor on the non-negative offsets,
    * identically in both engines; no floats anywhere).
    */
  def q75PackSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), lit("_").as("g"),
        md5(col("doc_id").cast("string")).as("hkey"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    distributedRunningSum(docs, "g", "n_tokens")
      .withColumn("prev", col("cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"prev DIV $SEQ_LEN").as("start_seq"),
        expr(s"(cum - 1) DIV $SEQ_LEN - prev DIV $SEQ_LEN + 1").as("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** q79 — packed-sequence EMIT, the materialization half of q75: the same
    * concat-and-chunk layout, but actually producing each fixed-length
    * training sequence's text (every sequence exactly [[SEQ_LEN]] tokens
    * except the final remainder). Tokens get their global position from the
    * doc-level prefix offset + in-doc position (array arithmetic before the
    * explode — no token-level window anywhere), shuffle ONCE keyed by their
    * target seq_id, and each sequence reassembles order-exactly via
    * sort_array(collect_list(struct(pos, tok))) — per-group state is
    * bounded by [[SEQ_LEN]], so reducers never see more than one
    * sequence's tokens per key. This is the job a sequence-writer sink
    * runs at 100 TB: one token-scale shuffle, which is the actual work of
    * re-laying a corpus into training order.
    */
  def q79PackEmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), lit("_").as("g"),
        md5(col("doc_id").cast("string")).as("hkey"),
        split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    distributedRunningSum(docs, "g", "n_tokens")
      .withColumn("prev", col("cum") - col("n_tokens"))
      .select(col("prev"), posexplode(col("toks")).as(Seq("i", "tok")))
      .withColumn("pos", col("prev") + col("i"))
      .select(expr(s"pos DIV $SEQ_LEN").as("seq_id"), col("pos"), col("tok"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_toks"),
        concat_ws(" ", expr("transform(sort_array(collect_list(struct(pos, tok))), p -> p.tok)"))
          .as("seq_text"))
      .orderBy(col("seq_id"))
  }

  /** The q147/q148 chunker over any (doc_id, text) frame: sliding windows
    * of [[CHUNK_W]] tokens at stride [[CHUNK_S]] (the RAG / retrieval-index
    * text splitter — LangChain-style "emit while start < n, last window may
    * be short"). Chunk count is pure integer arithmetic on the doc's token
    * count (`1 + ceil((n-W)/S)` via DIV — exact in both engines), so the
    * whole operator is a map-side explode: NO shuffle, NO window, no state.
    * At 100 TB this is the ideal shape — chunking parallelizes perfectly
    * with the scan and whole-stage-codegens end-to-end.
    */
  def chunkOverlap(input: DataFrame): DataFrame =
    input
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("m", expr(
        s"""CASE WHEN n <= $CHUNK_W THEN CAST(0 AS BIGINT)
           |ELSE (n - $CHUNK_W + ${CHUNK_S - 1}) DIV $CHUNK_S END""".stripMargin))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(CAST(0 AS BIGINT), m)")).as("k"))
      .select(col("doc_id"), col("k").as("chunk_id"),
        (col("k") * CHUNK_S).as("start_tok"),
        least(lit(CHUNK_W), col("n") - col("k") * CHUNK_S).as("chunk_len"),
        concat_ws(" ", expr(s"slice(toks, k * $CHUNK_S + 1, $CHUNK_W)"))
          .as("chunk_text"))

  /** q147 — sliding-window chunking with overlap: every document split into
    * [[CHUNK_W]]-token windows at stride [[CHUNK_S]] (16-token overlap) —
    * the context-window splitting step of a RAG / retrieval-index build,
    * the per-document dual of q75/q79's corpus-order packing. Output is one
    * row per (doc, chunk) with its token offset, bounded length, and text.
    */
  def q147ChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunkOverlap(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** q148 — chunk-level exact dedup: chunk the corpus (the q147 operator),
    * hash each chunk's text, and elect one keeper per duplicated hash — the
    * index-dedup pass a retrieval build runs so near-identical passages
    * don't dominate retrieval results. Keeper election is
    * `min(struct(doc_id, chunk_id))` — the lexicographic-minimum rule the
    * dedup family (q24/q82) uses, deterministic and order-free. Shape at
    * 100 TB: text collapses to fixed 32-hex hashes map-side, then ONE
    * partial-agged groupBy on the hash; chunk text never shuffles beyond
    * its hash.
    */
  def q148ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkOverlap(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(md5(col("chunk_text")).as("chunk_hash"),
        struct(col("doc_id").as("d"), col("chunk_id").as("c")).as("dc"))
      .groupBy(col("chunk_hash"))
      .agg(min(col("dc")).as("keeper"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("chunk_hash"),
        col("keeper.d").as("keeper_doc"),
        col("keeper.c").as("keeper_chunk"),
        col("n_copies"))
      .orderBy(col("chunk_hash"))

  /** q80 — corpus duplication profile: per language, the fraction of word
    * 8-gram OCCURRENCES that are duplicated (appear more than once in the
    * corpus) — the corpus-level duplication metric the dedup literature
    * reports (Lee et al. ACL'22 measure web corpora this way) and the
    * observability dial for "should I run q53/q63 here, and did it work".
    * Shape at 100 TB: grams hash to fixed 32-hex keys map-side BEFORE any
    * shuffle (text never moves), the (lang, gram) count is one
    * partial-agged groupBy, and the profile is a second tiny aggregate —
    * no distinct-on-raw-text anywhere.
    */
  def q80DupProfile(spark: SparkSession, dir: String): DataFrame =
    dupProfile(Tables.documents(spark, dir))

  /** The q80 operator over any (lang, text) frame. */
  def dupProfile(input: DataFrame): DataFrame = {
    val docs = graft.scale.Layout.explodeNonNull(
      input.select(col("lang"), split(col("text"), " ").as("toks")), "lang", expr(
        """CASE WHEN size(toks) >= 8
          |THEN transform(sequence(1, size(toks) - 7),
          |  i -> md5(concat_ws(' ', slice(toks, i, 8))))
          |ELSE array() END""".stripMargin), "gram")
    docs.groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_occurrences"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occurrences"))
      .select(col("lang"), col("n_occurrences"), col("n_distinct"),
        col("dup_occurrences"),
        round(col("dup_occurrences").cast("double") / col("n_occurrences"), 4)
          .as("dup_fraction"))
      .orderBy(col("lang"))
  }

  /** TRAINED language identification — the production companion to q22's
    * fixed marker heuristic: character-trigram profiles learned from a
    * labeled corpus (the standard n-gram LID construction, e.g. textcat /
    * fastText's char-ngram features). `train` counts trigrams per
    * language, keeps each language's `profileSize` most frequent with
    * count-proportional weights (a tiny broadcastable table: langs x
    * profileSize rows); `predict` explodes each doc's distinct trigrams,
    * joins the broadcast profile, and takes the argmax weight sum —
    * map-side except one aggregate per doc, linear at any corpus size.
    */
  object LangId {

    // texts under 3 chars emit NO trigrams (a degenerate whole-text "gram"
    // could learn the empty string into a profile and then confidently
    // classify signal-free docs, breaking the null-prediction contract)
    private def trigrams(textCol: String) = expr(
      s"""CASE WHEN length($textCol) >= 3 THEN
         |  transform(sequence(1, length($textCol) - 2), i -> substring($textCol, i, 3))
         |ELSE CAST(array() AS array<string>) END""".stripMargin)

    /** (p_lang, tri, weight) — weight is the trigram's LIFT for the
      * language: P(lang | tri) − P(lang), so a trigram that is merely
      * common contributes ~0 everywhere and only lang-DISCRIMINATIVE
      * trigrams carry signal (plain frequency profiles fail exactly when
      * languages share a vocabulary pool — each language's top trigrams
      * are then the corpus's top trigrams). Each language keeps its
      * `profileSize` highest-lift trigrams among those seen >= 3 times.
      * Input needs (lang, text).
      */
    def train(docs: DataFrame, profileSize: Int = 64): DataFrame = {
      val counts = graft.scale.Layout.explodeNonNull(docs, "lang", trigrams("text"), "tri")
        .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("n"))
        .persist() // read by three aggregates below
      // totals as AGGREGATE JOINS, not windows: sum().over() with no
      // partition key is a single-partition shuffle of the whole trigram
      // table, and partitionBy(lang) would funnel each language's full
      // vocabulary into one task; per-tri totals hash-join at full
      // parallelism and the per-lang/global totals are tiny broadcasts
      val triTotals = counts.groupBy(col("tri")).agg(sum(col("n")).as("n_tri"))
      val langTotals = counts.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
      // sum over zero rows is null — an empty (or all-short-text) training
      // frame returns an empty profile, not an NPE deep in Row accessors
      val nAllRow = langTotals.agg(sum(col("n_lang"))).head()
      if (nAllRow.isNullAt(0)) {
        counts.unpersist(false)
        return counts.select(col("lang").as("p_lang"), col("tri"),
          lit(0.0d).as("weight")).limit(0)
      }
      val nAll = nAllRow.getLong(0).toDouble
      val withLift = counts
        .join(triTotals, Seq("tri"))
        .join(broadcast(langTotals), Seq("lang"))
        .withColumn("weight",
          col("n").cast("double") / col("n_tri") -
            col("n_lang").cast("double") / lit(nAll))
        .filter(col("n") >= 3)
      // per-lang top-K ranking: lang cardinality is dimension-like, and the
      // ranked input is the already-aggregated (lang, tri) table — the
      // standard window-topN shape, not a corpus-sized sort
      val w = Window.partitionBy(col("lang")).orderBy(col("weight").desc, col("tri"))
      val out = withLift.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= profileSize && col("weight") > 0)
        .select(col("lang").as("p_lang"), col("tri"), col("weight"))
        .localCheckpoint() // profiles are tiny; release the counts persist
      counts.unpersist(false)
      out
    }

    /** Adds `pred_lang` to (doc_id, text) rows: argmax over languages of
      * the summed profile weight of the doc's DISTINCT trigrams (ties to
      * the lexicographically first language — deterministic).
      */
    def predict(docs: DataFrame, profiles: DataFrame): DataFrame = {
      val scored = graft.scale.Layout
        .explodeNonNull(docs, "doc_id", array_distinct(trigrams("text")), "tri")
        .join(broadcast(profiles), Seq("tri"))
        .groupBy(col("doc_id"), col("p_lang"))
        .agg(sum(col("weight")).as("score"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("p_lang"))
      val best = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("p_lang").as("pred_lang"))
      docs.join(best, Seq("doc_id"), "left_outer")
    }
  }

  /** TRAINED quality classifier — logistic regression over the q21 feature
    * family, trained with distributed batch gradient descent where every
    * iteration is ONE small aggregate over the (persisted) featurized
    * corpus: no per-row collect, no mllib dependency, weights are the only
    * driver-side state (the LangId.train discipline: aggregates and joins,
    * never a corpus on the driver).
    *
    * Corpus-label caveat (documented, like LangId's): the synthetic
    * `documents` table carries NO quality labels, and its `lang` labels
    * correlate only weakly with the text — so the trained model's accuracy
    * is demonstrated on constructed fixtures where the quality signal is
    * real (TextOpsSpec), never asserted on the corpus. The fixed q21
    * formula ([[withQuality]]) remains the oracle-gated production default;
    * [[Quality.predict]] is the drop-in upgrade once real labels exist.
    */
  object Quality {

    /** (means, stds, weights, bias) — features are standardized with the
      * training moments, which ride along in the model.
      */
    final case class Model(means: Seq[Double], stds: Seq[Double],
                           weights: Seq[Double], bias: Double)
        extends Serializable

    /** The q21-family feature set, as plain columns: log-scaled token
      * count, stopword ratio, mean token length, distinct-token ratio.
      */
    private[graft] def featurize(df: DataFrame): DataFrame = {
      val stopList = STOPWORDS.map(s => s"'$s'").mkString(", ")
      df.withColumn("toks", split(col("text"), " "))
        .withColumn("f0", log1p(size(col("toks"))))
        .withColumn("f1",
          expr(s"size(filter(toks, t -> t IN ($stopList)))").cast("double") /
            size(col("toks")))
        .withColumn("f2",
          (length(col("text")) - size(col("toks")) + 1).cast("double") /
            size(col("toks")))
        .withColumn("f3",
          size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
        .drop("toks")
    }

    private val F = Seq("f0", "f1", "f2", "f3")

    /** Train on (label ∈ {0,1}, text) rows. `iters` full-batch GD steps;
      * each step is one aggregate of 5 doubles + a count. Deterministic up
      * to float summation order.
      */
    def train(docs: DataFrame, iters: Int = 150, lr: Double = 0.8): Model = {
      val feats = featurize(docs)
        .select(col("label").cast("double").as("y") +: F.map(col): _*)
        .persist()
      try {
        if (feats.isEmpty)
          return Model(Seq.fill(F.size)(0.0), Seq.fill(F.size)(1.0),
            Seq.fill(F.size)(0.0), 0.0)
        val mRow = feats.select(
          F.map(f => avg(col(f)).as(s"m_$f")) ++
            F.map(f => stddev_pop(col(f)).as(s"s_$f")): _*).head()
        val means = F.indices.map(i => mRow.getDouble(i))
        val stds = F.indices.map(i => math.max(mRow.getDouble(F.size + i), 1e-9))
        val std = feats.select(col("y") +:
          F.zipWithIndex.map { case (f, i) =>
            ((col(f) - means(i)) / stds(i)).as(f)
          }: _*).persist()
        try {
          var w = Array.fill(F.size)(0.0)
          var b = 0.0
          var it = 0
          while (it < iters) {
            val margin = F.zipWithIndex
              .map { case (f, i) => col(f) * lit(w(i)) }
              .reduce(_ + _) + lit(b)
            val err = lit(1.0) / (lit(1.0) + exp(-margin)) - col("y")
            val g = std.select(
              (F.map(f => sum(err * col(f))) :+ sum(err) :+
                count(lit(1)).cast("double")): _*).head()
            val n = g.getDouble(F.size + 1)
            F.indices.foreach(i => w(i) -= lr * g.getDouble(i) / n)
            b -= lr * g.getDouble(F.size) / n
            it += 1
          }
          Model(means, stds, w.toSeq, b)
        } finally std.unpersist(false)
      } finally feats.unpersist(false)
    }

    /** Adds `quality_score` (the model's probability) to (doc_id, text)
      * rows — pure column arithmetic, broadcast-free (the model is a few
      * doubles baked into the plan).
      */
    def predict(docs: DataFrame, model: Model): DataFrame = {
      val margin = F.zipWithIndex.map { case (f, i) =>
        ((col(f) - lit(model.means(i))) / lit(model.stds(i))) * lit(model.weights(i))
      }.reduce(_ + _) + lit(model.bias)
      featurize(docs)
        .withColumn("quality_score", lit(1.0) / (lit(1.0) + exp(-margin)))
        .drop(F: _*)
    }
  }

  /** q50 — benchmark DECONTAMINATION: flag training documents that share
    * any word 5-gram with an evaluation set (here: every 50th doc plays the
    * eval set; in production it is the benchmark suite). The standard
    * pretraining hygiene pass — exact n-gram collision via hashes, not
    * text: grams md5 once per doc side, the join key is the 128-bit hash,
    * and the (tiny) eval gram set broadcasts, so the train corpus never
    * shuffles at all — scan, hash, probe. Output: per eval doc, how many
    * distinct train docs collide (zeros kept — absence of contamination is
    * the result that matters).
    */
  def q50Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // consecutive word 5-grams; docs under 5 tokens contribute their whole
    // text as one gram (slice truncates identically on both engines)
    // split ONCE into a column (r21): the previous form re-evaluated
    // split(text) inside the transform lambda — once per gram position,
    // quadratic in document length (lambda bodies are not hoisted).
    // Identical gram strings.
    val grams = expr(
      """transform(sequence(1, greatest(size(ts) - 4, 1)),
        |  i -> array_join(slice(ts, i, 5), ' '))""".stripMargin)
    val g = graft.scale.Layout.explodeNonNull(
        docs.select(col("doc_id"), split(col("text"), " ").as("ts")),
        "doc_id", array_distinct(grams), "gram")
      .select(col("doc_id"), md5(col("gram")).as("gh"))
    val evalG = g.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("gh"))
    val trainG = g.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), col("gh"))
    val hits = trainG.join(broadcast(evalG), Seq("gh"))
      .select(col("eval_id"), col("train_id")).distinct()
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).cast("long").as("n_contaminated"))
    docs.filter(col("doc_id") % 50 === 0).select(col("doc_id"))
      .join(broadcast(hits), col("doc_id") === col("eval_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q53 — exact-substring dedup (the missing dedup family member next to
    * exact-hash q24 / Jaccard q26 / cosine q36 / hamming q45): document
    * pairs sharing an exact run of ≥ k=12 whitespace tokens, detected
    * through content-defined anchor fingerprints
    * ([[graft.sql.AnchorGrams]], p=4 → a deterministic 1/4 gram sample
    * that two copies of a span always select identically).
    *
    * Scale shape: the corpus-wide stage shuffles ONLY (doc_id, gram-hash)
    * anchor rows — 16 narrow bytes per anchor, gram STRINGS never shuffle —
    * through the same hot-key salt guard as the LSH band join
    * ([[SimQ.saltedBandCandidates]]: a boilerplate sentence shared by m
    * docs would otherwise pin one reducer with m²/2 pair emissions). The
    * positional verify then recomputes anchor sets for CANDIDATE docs only
    * (broadcast semi-join of candidate ids against the scan) and counts
    * distinct shared gram strings — 64-bit join-key collisions die here,
    * with their pairs (an inner join drops 0-overlap pairs). Output:
    * (id_a, id_b, n_shared) — n_shared = distinct shared anchor grams.
    */
  def q53SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupPairs(Tables.documents(spark, dir), k = 12, p = 4)
      .orderBy(col("id_a"), col("id_b"))

  /** The operator behind q53, on any (doc_id, text) frame. `p = 1` keeps
    * every gram: detection of any shared span ≥ k tokens is exhaustive
    * (the TextOpsSpec planted property pins that against a brute positional
    * scan; p > 1 is pinned against brute-force ANCHOR semantics, which are
    * deterministic for fixed content).
    */
  def substringDedupPairs(docs: DataFrame, k: Int, p: Int): DataFrame = {
    // candidates ride the 8-byte xxhash64 of the gram; band_id is constant
    // (one "band" — the anchor table IS the index).
    // checkpoint: the corpus-scale salted join runs ONCE; both consumers
    // (the candIds broadcast and the verify join) read the materialized
    // (candidate-scale) pair list — the q47 discipline
    val cand = SimQ.saltedBandCandidates(
      anchorIndex(docs, k, p).select(col("doc_id"), lit(1).as("band_id"),
        xxhash64(col("gram")).as("band_key")),
      lit(true)).localCheckpoint()
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

  private def verifyShared(cand: DataFrame, index: DataFrame => DataFrame,
                           docs: DataFrame): DataFrame = {
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val candAnchors = index(docs.join(broadcast(candIds), Seq("doc_id")))
      .localCheckpoint() // read twice below; candidate-sized, not corpus-sized
    candAnchors.select(col("doc_id").as("id_a"), col("gram"))
      .join(cand.hint("shuffle_hash"), Seq("id_a"))
      .join(candAnchors.select(col("doc_id").as("id_b"), col("gram"))
        .hint("shuffle_hash"), Seq("id_b", "gram"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** q54 — PII detection + redaction parity gate ([[graft.llm.Pii]]).
    *
    * The synthetic corpus carries no PII at all (verified: zero '@', zero
    * dashed-digit, zero dotted-quad hits), so the gate PLANTS its own,
    * deterministically from doc_id, identically on both engines — emails
    * (two per planted doc), 3-3-4 phones, dotted-quad IPs, 3-2-4 ids —
    * then scrubs. What the oracle then certifies is the interesting part:
    * java.util.regex (Spark executors) and RE2 (DuckDB) agree on every
    * match count AND every redacted byte, which only holds because the
    * patterns stay inside the common regex subset (no lookaround/backrefs
    * — the [[graft.llm.Pii]] contract).
    */
  def q54PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val d = col("doc_id")
    def s(c: Column) = c.cast("string")
    val planted = concat(col("text"),
      when(d % 7 === 0, concat(lit(" contact user"), s(d),
        lit("@mail.example.com or u"), s(d), lit("@ex.org now"))).otherwise(""),
      when(d % 11 === 0, concat(lit(" call 555-"), s(d % 900 + 100),
        lit("-"), s(d % 9000 + 1000))).otherwise(""),
      when(d % 13 === 0, concat(lit(" host 10."), s(d % 256), lit("."),
        s(d % 199), lit("."), s(d % 100), lit(" up"))).otherwise(""),
      when(d % 17 === 0, concat(lit(" ref 123-45-"), s(d % 9000 + 1000),
        lit(" ok"))).otherwise(""))
    val counts = Seq("n_email", "n_ssn", "n_phone", "n_ip")
    graft.llm.Pii.withPiiColumns(
        docs.select(col("doc_id"), planted.as("text")))
      .filter(counts.map(col).reduce(_ + _) > 0)
      .select(col("doc_id") +: counts.map(n => col(n).cast("long").as(n)) :+
        col("clean_text"): _*)
      .orderBy(col("doc_id"))
  }

  /** q55 — trained-BPE apply stage ([[graft.llm.Bpe]]): the full BPE token
    * sequence and token count per doc under the frozen
    * [[graft.llm.Bpe.CanonicalMerges]] table (trained once on the corpus,
    * pinned so the DuckDB oracle can REPLAY the identical table as a
    * rank-ordered chain of literal replaces over a symbol-guarded string —
    * single left-to-right pass per merge on both engines). One codegen'd
    * map pass, no shuffle but the output sort.
    */
  def q55BpeApply(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.bpe_encode(col("text"), graft.llm.Bpe.CanonicalMerges)
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe"),
        array_join(col("toks"), " ").as("bpe_text"))
      .orderBy(col("doc_id"))
  }

  /** q107 — batched-BPE TRAINING gate ([[graft.llm.Bpe.trainBatched]]):
    * the merge table itself, trained with batched selection (nMerges = 12,
    * batch = 3) on the corpus. The DuckDB oracle REPLAYS the batched
    * algorithm round by round — pair counting, the (cnt desc, l, r)
    * ranked 4×-oversampled slice, the greedy non-interaction conflict
    * skip (a recursive CTE carrying the lefts/rights/made sets as lists),
    * and the in-order merge application as a guarded-string replace chain
    * (the q55 representation) — so the approximation's SEMANTICS are
    * pinned cross-engine, not just its output on one corpus (the q102
    * replay-the-route doctrine). Spark-side cost: ~nMerges/batch counting
    * jobs over the bounded word-frequency table; the corpus is scanned
    * once.
    */
  def q107BpeBatched(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.llm.Bpe.trainBatched(Tables.documents(spark, dir), nMerges = 12, batch = 3)
      .zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "l", "r")
      .orderBy(col("rank"))
  }

  /** The persistable exact-substring index of a corpus: its anchor table —
    * (doc_id, gram) rows, ~1/p of the k-grams, no text. Write it out
    * between ingest batches and feed it to [[incrementalSubstringPairs]]
    * (the substring-family analog of [[SimQ.bandIndex]]).
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
    val cand = SimQ.saltedBandCandidates(
      winnowIndex(docs, k, w).select(col("doc_id"), lit(1).as("band_id"),
        xxhash64(col("gram")).as("band_key")),
      lit(true)).localCheckpoint()
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

  /** q66 — the scrubbed corpus ([[substringScrub]]): q63's removal lists
    * APPLIED. The DuckDB oracle rebuilds each scrubbed doc by anti-joining
    * token positions against the expanded removal intervals and
    * re-aggregating in order; untouched docs must round-trip
    * byte-identically.
    */
  def q66SubstringScrub(spark: SparkSession, dir: String): DataFrame =
    substringScrub(Tables.documents(spark, dir), k = 12, p = 4)
      .orderBy(col("doc_id"))

  /** q63 — span-granular substring-dedup removal lists over the corpus
    * ([[substringRemovalSpans]]): which docs lose which token spans when
    * every duplicated ≥ k=12-token anchor span is removed (one canonical
    * keeper survives). The DuckDB oracle recomputes positional anchors
    * from first principles and merges intervals with the gaps-and-islands
    * window form the Spark side deliberately avoids (a global per-doc
    * window vs a doc-bounded fold).
    */
  def q63SubstringRemoval(spark: SparkSession, dir: String): DataFrame =
    substringRemovalSpans(Tables.documents(spark, dir), k = 12, p = 4)
      .orderBy(col("doc_id"))

  /** Incremental exact-substring pair detection — arrivals-only, the
    * [[SimQ.incrementalNearDupPairs]] discipline applied to the substring
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
    val cand = SimQ.saltedBandCandidates(
      tagged.select(col("doc_id"), lit(1).as("band_id"),
        xxhash64(col("gram")).as("band_key"), col("is_new")),
      col("is_new")).localCheckpoint()
    (newAnchors, verifySharedGrams(cand, allDocs, k, p).localCheckpoint())
  }

  /** q60 — Gopher/C4 repetition quality filters ([[graft.functions
    * .ngram_rep_stats]]): duplicate-bigram fraction and top-bigram
    * concentration per document, one native map pass (no token explode, no
    * shuffle but the output sort). These are the standard pre-training
    * drop signals for boilerplate/spam (Rae et al. 2021 §A1.1) and compose
    * with the q21 formula family. The DuckDB oracle recomputes both
    * fractions from first principles with list functions.
    */
  def q60Repetition(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.functions.ngram_rep_stats(col("text"), 2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), s.as("s"))
      .select(col("doc_id"),
        col("s.n_grams").as("n_bigrams"),
        when(col("s.n_grams") === 0, 0.0).otherwise(
          round(lit(1.0) - col("s.n_distinct").cast("double") / col("s.n_grams"), 4))
          .as("dup_bigram_frac"),
        when(col("s.n_grams") === 0, 0.0).otherwise(
          round(col("s.top_count").cast("double") / col("s.n_grams"), 4))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** q61 — per-language length distribution: count + mean + EXACT
    * interpolated percentiles (p50/p90/p99) of token counts. Spark's
    * `percentile` aggregate and DuckDB's `quantile_cont` share the
    * linear-interpolation definition, so the gate hash-matches on rounded
    * doubles. One partial-aggregated shuffle by lang (20 groups); at 100 TB
    * swap `percentile` for `approx_percentile` and gate on tolerance
    * instead — the exact form IS the oracle for that sketch.
    */
  def q61LengthPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("double").as("n_toks"))
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_toks")), 4).as("mean_toks"),
        round(expr("percentile(n_toks, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_toks, 0.9)"), 4).as("p90"),
        round(expr("percentile(n_toks, 0.99)"), 4).as("p99"))
      .orderBy(col("lang"))
  }

  /** q72 — n-gram LM quality scoring, the CCNet/Gopher-style "LM filter" of
    * training-data pipelines: train trigram/bigram/unigram counts on half
    * the corpus (even doc_id), score EVERY document's tokens under stupid
    * backoff (Brants et al. 2007 — highest-order seen n-gram, ×0.4 per
    * backoff step), sum per document. Probabilities are integer-quantized
    * (count-ratio in millionths, floor-divided) so the score is bit-exact
    * across engines — a float log-prob sum would diverge in summation
    * order; unseen-in-train unigrams floor at 0.
    *
    * Scale shape: token context (prev-1/prev-2) is array arithmetic BEFORE
    * the explode — no window function, no per-token shuffle to build
    * context. Count tables are map-side-combined groupBys keyed by the
    * n-gram; scoring joins are shuffle-hash on n-gram keys (vocab tables
    * grow with the corpus — never broadcast); the training-token total
    * rides a broadcast crossJoin as a 1-row dim.
    */
  def q72LmQuality(spark: SparkSession, dir: String): DataFrame =
    lmQuality(Tables.documents(spark, dir))

  /** Core of [[q72LmQuality]] over any (doc_id, text) frame — the spec runs
    * it on a constructed corpus with hand-computed backoff scores.
    */
  def lmQuality(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "tok")),
        // ANSI-safe guarded array access: CaseWhen evaluates branches
        // lazily, so ts[pos-1] never runs with a negative index
        when(col("pos") >= 1, col("ts")(col("pos") - 1)).as("p1"),
        when(col("pos") >= 2, col("ts")(col("pos") - 2)).as("p2"))

    val train = toks.filter(col("doc_id") % 2 === 0)
    val uni = train.groupBy(col("tok").as("u_tok"))
      .agg(count(lit(1)).as("c1"))
    val bi = train.filter(col("p1").isNotNull)
      .groupBy(col("p1").as("b_p1"), col("tok").as("b_tok"))
      .agg(count(lit(1)).as("c2"))
    val tri = train.filter(col("p2").isNotNull)
      .groupBy(col("p2").as("t_p2"), col("p1").as("t_p1"), col("tok").as("t_tok"))
      .agg(count(lit(1)).as("c3"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))

    val scored = toks
      .join(tri.hint("shuffle_hash"),
        col("t_p2") === col("p2") && col("t_p1") === col("p1") &&
          col("t_tok") === col("tok"), "left")
      .join(bi.as("bctx").hint("shuffle_hash"),
        col("bctx.b_p1") === col("p2") && col("bctx.b_tok") === col("p1"), "left")
      .join(bi.as("bcur").hint("shuffle_hash"),
        col("bcur.b_p1") === col("p1") && col("bcur.b_tok") === col("tok"), "left")
      .join(uni.as("up1").hint("shuffle_hash"), col("up1.u_tok") === col("p1"), "left")
      .join(uni.as("ucur").hint("shuffle_hash"), col("ucur.u_tok") === col("tok"), "left")
      .crossJoin(broadcast(nTrain))
      .select(col("doc_id"),
        when(col("p2").isNotNull && col("c3").isNotNull,
          expr("(1000000L * c3) div `bctx`.c2"))
          .when(col("p1").isNotNull && col("bcur.c2").isNotNull,
            expr("((case when p2 is null then 1000000L else 400000L end) * `bcur`.c2) div `up1`.c1"))
          .when(col("ucur.c1").isNotNull,
            expr("((case when p1 is null then 1000000L when p2 is null then 400000L else 160000L end) * `ucur`.c1) div n_train"))
          .otherwise(lit(0L)).as("s"))

    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("s")).as("lm_score"))
      .select(col("doc_id"), col("n_toks"), col("lm_score"),
        expr("lm_score div n_toks").as("score_per_tok"))
      .orderBy(col("doc_id"))
  }

  /** q73 — DSIR-style importance resampling (Xie et al., NeurIPS 2023:
    * hashed n-gram features, importance weight = target/raw feature-prob
    * ratio, resample by weight): the data-SELECTION primitive that follows
    * the data-SCORING of q72 in a real pipeline. This implementation is the
    * deterministic integer surrogate of the paper's recipe, oracle-able by
    * construction: features are token hash buckets (B=1024 via the q44
    * Rabin hash — both engines hash code points identically), per-bucket
    * importance is the add-1-smoothed target/raw probability ratio
    * quantized to integer millionths in ONE floor division over exact
    * decimal products (no logs, no floats — Gumbel noise is replaced by
    * the (weight, doc_id) deterministic top-K, which is what makes a
    * DuckDB gate possible at all).
    *
    * Scale shape: the bucket table is BOUNDED (B rows) by construction, so
    * the scoring join broadcasts — deliberately the opposite regime from
    * q72's unbounded n-gram tables, and the reason hashed features are the
    * scalable selection recipe. Token bucketing is one codegen'd map pass;
    * the two count tables are map-side-combined B-row aggregates; top-K is
    * TakeOrdered (no global sort materialization).
    */
  def q73DsirResample(spark: SparkSession, dir: String): DataFrame =
    dsirResample(Tables.documents(spark, dir))

  private val DSIR_B = 1024
  private val DSIR_K = 100

  private def dsirToks(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    .withColumn("bucket", pmod(graft.functions.rolling_hash(col("tok")), lit(DSIR_B)))

  /** Frozen per-bucket importance scores: one row for EVERY bucket 0..B-1
    * (unseen buckets get the pure add-1 smoothing score), so a snapshot of
    * this table can score future arrivals whose tokens hash anywhere —
    * the streaming ingest surface depends on that totality.
    */
  def dsirBucketScores(docs: DataFrame): DataFrame = {
    val toks = dsirToks(docs)
    val rCounts = toks.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    val tCounts = toks.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val totals = toks.agg(
      count(lit(1)).as("n_r"),
      count(when(col("lang") === "en", 1)).as("n_t"))

    // integer millionths in one floor division: decimal(38,0) products stay
    // exact where BIGINT would overflow at cluster scale (ANSI would throw)
    docs.sparkSession.range(DSIR_B).select(col("id").as("bucket"))
      .join(rCounts, Seq("bucket"), "left").na.fill(0L, Seq("cr"))
      .join(tCounts, Seq("bucket"), "left").na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr(s"""(cast(1000000 as decimal(38,0)) * (ct + 1) * (n_r + $DSIR_B))
                | div (cast(cr + 1 as decimal(38,0)) * (n_t + $DSIR_B))""".stripMargin)
          .as("s"))
  }

  /** Per-doc importance weights (pre-top-K): the streaming parity anchor. */
  def dsirScores(docs: DataFrame): DataFrame =
    dsirToks(docs)
      .join(broadcast(dsirBucketScores(docs)), Seq("bucket")) // B rows, bounded
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"), sum(col("s")).as("weight"))

  /** Core of [[q73DsirResample]] over any (doc_id, lang, text) frame. */
  def dsirResample(docs: DataFrame): DataFrame =
    dsirScores(docs)
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(DSIR_K)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("weight").desc, col("doc_id"))).cast("long"))
      .orderBy(col("rank"))

  /** q104 — Unicode NFC normalization (native codegen [[graft.sql
    * .NfcNormalize]], the canonical-composition pass every hash-based
    * dedup needs): a decomposed variant of each document is constructed
    * deterministically (every `e` gains a combining acute U+0301 — so the
    * corpus genuinely exercises composition, not the ASCII identity) and
    * normalized back; the gate pins the normalized text, the per-doc
    * composed-pair count (length delta — both engines count code points),
    * and the changed flag against DuckDB's `nfc_normalize`. Scale shape:
    * pure map-side scalar, whole-stage codegen, no shuffle.
    */
  def q104NfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val dec = regexp_replace(col("text"), "e", "e\u0301")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.nfc(dec).as("norm_text"),
        (length(dec) - length(graft.functions.nfc(dec))).cast("long").as("n_composed"),
        (graft.functions.nfc(dec) =!= dec).as("changed"))
      .orderBy(col("doc_id"))
  }

  /** q105 — KMV distinct-count sketch ([[graft.sql.KmvSketch]], the
    * custom `TypedImperativeAggregate`): per-language distinct-token
    * estimation with k = 64 minimum hashes — bounded mergeable state vs
    * the exact `count(distinct)` shuffle, both emitted side by side so
    * the gate pins the sketch CONTENT (size + k-th minimum hash) and the
    * exact-decimal estimate `(k−1)·2⁶⁰·10⁶ div h_k` (sub-k groups fall
    * back to the exact count ×10⁶). The DuckDB oracle recomputes the
    * same 60-bit md5 hashes, ranks them, and replays the estimate in
    * HUGEINT — even the sketch's estimation ERROR reproduces bit-for-bit.
    *
    * Scale shape: the sketch aggregate is ONE map-side-combined pass with
    * k longs of state per (task, group); the exact count rides the same
    * groupBy only because the gate wants the comparison — at 100 TB you
    * keep the sketch and drop the exact leg.
    */
  def q105KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val k = 64
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"))
      .agg(graft.functions.kmv_sketch(col("tok"), k).as("kmv"),
        countDistinct(col("tok")).as("n_exact"))
      .select(col("lang"), col("n_exact"),
        size(col("kmv.hs")).cast("long").as("kmv_n"),
        expr("element_at(kmv.hs, -1)").as("kth"),
        expr(
          s"""CASE WHEN size(kmv.hs) < $k THEN CAST(size(kmv.hs) AS BIGINT) * 1000000
             |ELSE CAST(${k - 1} AS DECIMAL(38,0)) * CAST(${1L << 60} AS DECIMAL(38,0))
             |     * CAST(1000000 AS DECIMAL(38,0))
             |     div CAST(element_at(kmv.hs, -1) AS DECIMAL(38,0)) END""".stripMargin)
          .cast("long").as("est_millionths"))
      .orderBy(col("lang"))
  }

  /** q110 — KMV sketch ROLLUP ([[graft.sql.KmvMerge]]): per-(language,
    * shard) sketches (shard = doc_id % 4 — the per-day/per-partition
    * sketch a real pipeline persists between runs) re-aggregated to
    * per-language by `kmv_merge`, WITHOUT touching raw tokens again. The
    * sketch algebra guarantees merge-of-sketches == sketch-of-union, so
    * the oracle is q105's direct ranked-hash replay — the gate proves the
    * rollup lands on the identical sketch content AND the identical
    * exact-decimal estimate, cross-engine.
    *
    * Scale shape: stage 1 is the q105 map-side pass at finer grouping;
    * stage 2 aggregates |groups|·k longs — raw data is scanned once and
    * never re-shuffled, the whole point of a mergeable sketch at 100 TB.
    */
  def q110KmvRollup(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val k = 64
    val shardSketches = Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 4).as("shard"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("shard"))
      .agg(graft.functions.kmv_sketch(col("tok"), k).as("kmv"))
    shardSketches
      .groupBy(col("lang"))
      .agg(graft.functions.kmv_merge(col("kmv"), k).as("kmv"))
      .select(col("lang"),
        size(col("kmv.hs")).cast("long").as("kmv_n"),
        expr("element_at(kmv.hs, -1)").as("kth"),
        expr(
          s"""CASE WHEN size(kmv.hs) < $k THEN CAST(size(kmv.hs) AS BIGINT) * 1000000
             |ELSE CAST(${k - 1} AS DECIMAL(38,0)) * CAST(${1L << 60} AS DECIMAL(38,0))
             |     * CAST(1000000 AS DECIMAL(38,0))
             |     div CAST(element_at(kmv.hs, -1) AS DECIMAL(38,0)) END""".stripMargin)
          .cast("long").as("est_millionths"))
      .orderBy(col("lang"))
  }

  /** q115 — MIXED-k KMV rollup: per-(language, shard) sketches stored at
    * k' = 128, re-aggregated per language at merge-k = 64 — the sound
    * direction of the checked merge contract (merge-k ≤ stored-k: the 64
    * smallest of stored 128-minima ARE the global 64-minima), pinned
    * cross-engine rather than spec-only. The oracle is the q105/q110
    * direct ranked-hash replay at k = 64 — storing finer sketches than a
    * consumer needs (the real archival pattern: persist generously, roll
    * up to taste) must land on the identical sketch content and estimate.
    * The UNSOUND direction (saturated stored-k < merge-k) fails loudly —
    * spec-pinned in SqlExprSpec, not oracle-gatable (it throws).
    */
  def q115KmvRollupMixedK(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val storedK = 128
    val k = 64
    val shardSketches = Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 4).as("shard"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("shard"))
      .agg(graft.functions.kmv_sketch(col("tok"), storedK).as("kmv"))
    shardSketches
      .groupBy(col("lang"))
      .agg(graft.functions.kmv_merge(col("kmv"), k).as("kmv"))
      .select(col("lang"),
        size(col("kmv.hs")).cast("long").as("kmv_n"),
        expr("element_at(kmv.hs, -1)").as("kth"),
        expr(
          s"""CASE WHEN size(kmv.hs) < $k THEN CAST(size(kmv.hs) AS BIGINT) * 1000000
             |ELSE CAST(${k - 1} AS DECIMAL(38,0)) * CAST(${1L << 60} AS DECIMAL(38,0))
             |     * CAST(1000000 AS DECIMAL(38,0))
             |     div CAST(element_at(kmv.hs, -1) AS DECIMAL(38,0)) END""".stripMargin)
          .cast("long").as("est_millionths"))
      .orderBy(col("lang"))
  }

  /** Count-min grid shape shared by q111/q112 (and their DuckDB oracles):
    * 4 rows × 32 buckets — small enough that the oracle pins EVERY counter
    * and collisions actually occur at test scale (the estimate-vs-exact
    * gap is exercised, not just the no-collision identity).
    */
  private val CM_D = 4
  private val CM_W = 32

  /** The declarative point-estimate over a stored CM sketch: min over the
    * depth rows of the counter at the item's bucket — the bucket hash is
    * the same 60-bit md5 prefix of `"r:item"` the aggregate used (the
    * Bloom hex-parse convention, replayed by `conv(substring(md5(..)))`
    * inside codegen — approximate sketch, exact semantics).
    */
  private def cmEstimate(cm: String, item: String): org.apache.spark.sql.Column =
    expr(
      s"""array_min(transform(sequence(0, ${CM_D - 1}), r ->
         |  element_at($cm, r * $CM_W + CAST(pmod(
         |    CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', $item)), 1, 15), 16, 10) AS BIGINT),
         |    $CM_W) AS INT) + 1)))""".stripMargin)

  /** The gate's pinning format for a CM grid: the full row-major counter
    * array as a comma-joined string (the harness comparator hashes scalar
    * cells only), plus — wherever this rides — a `n_cells = size(cm)`
    * scalar so the grid's CARDINALITY stays pinned as a typed fact, not
    * just its textual rendering. Single definition shared by q111/q112.
    */
  private def cmAsString(cm: String): org.apache.spark.sql.Column =
    expr(s"array_join(transform($cm, x -> CAST(x AS STRING)), ',')")

  /** q111 — count-min sketch frequency estimation ([[graft.sql.CmSketch]],
    * the second custom `TypedImperativeAggregate` family member): per-
    * language token-frequency sketching with a 4×32 counter grid, plus the
    * point estimate for the language's modal token (ties to the
    * lexicographically smallest — a groupBy argmin, no window). The gate
    * pins the ENTIRE counter grid cross-engine (the DuckDB oracle rebuilds
    * all depth×width cells from the same md5 bucket hashes) AND the
    * estimate — so the sketch's overestimation error reproduces
    * bit-for-bit, the q105 doctrine.
    *
    * Scale shape: ONE map-side-combined pass with depth·width longs of
    * state per (task, group) — frequency estimation at 100 TB without
    * shuffling tokens; the exact per-token counts ride along only because
    * the gate wants the comparison.
    */
  def q111CmHeavy(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    val sketches = toks.groupBy(col("lang"))
      .agg(graft.functions.cm_sketch(col("tok"), CM_D, CM_W).as("cm"),
        count(lit(1)).as("n_toks"))
    val top = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(min(struct((-col("n")).as("neg"), col("tok").as("tok"))).as("t"))
      .select(col("lang"), col("t.tok").as("tok"), (-col("t.neg")).as("n_exact"))
    // n_est reads the ARRAY grid, so it is computed in its own select
    // BEFORE the string re-alias — the array-vs-string distinction is
    // structural, not a lean on resolver semantics (r16 ADVICE)
    sketches.join(broadcast(top), Seq("lang"))
      .select(col("lang"), col("n_toks"), col("cm"), col("tok"), col("n_exact"),
        cmEstimate("cm", "tok").as("n_est"))
      .select(col("lang"), col("n_toks"),
        size(col("cm")).cast("long").as("n_cells"),
        cmAsString("cm").as("cm"),
        col("tok"), col("n_exact"), col("n_est"))
      .orderBy(col("lang"))
  }

  /** q112 — count-min sketch ROLLUP: per-(language, shard) sketches merged
    * to per-language with plain [[graft.sql.VecSumLong]] — counter
    * addition IS the CM merge, so the vector-sum aggregate doubles as the
    * sketch re-aggregator (no dedicated merge aggregate; the q110 rollup
    * contract for frequencies). The oracle is q111's direct grid replay —
    * the gate proves merge-of-sketches == sketch-of-union cross-engine,
    * and is vec_sum_long's own oracle gate (it is the Lloyd-update
    * workhorse elsewhere, where centroids are only pinned end-to-end).
    *
    * Scale shape: stage 1 is the q111 map-side pass at finer grouping;
    * stage 2 aggregates |groups|·depth·width longs — raw data scanned
    * once, never re-shuffled.
    */
  def q112CmRollup(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 4).as("shard"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("shard"))
      .agg(graft.functions.cm_sketch(col("tok"), CM_D, CM_W).as("cm"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_shards"),
        graft.functions.vec_sum_long(col("cm")).as("cm"))
      .select(col("lang"), col("n_shards"),
        size(col("cm")).cast("long").as("n_cells"),
        cmAsString("cm").as("cm")) // string-pinned grid: see cmAsString
      .orderBy(col("lang"))
  }

  private val QUOTA_B = 100L

  /** q113 — exact-budget stratified sampling: [[apportion]]'s Hamilton
    * quotas (per-language doc counts, budget [[QUOTA_B]]) DRIVE the q49
    * per-stratum deterministic draw — each language contributes exactly
    * its quota of docs (md5-permutation order). For B ≤ corpus size,
    * Σ rows = B exactly: apportioning by the strata's OWN row counts can
    * never overshoot a stratum (⌊B·nᵢ/N⌋ + 1 ≤ nᵢ whenever B < N, and
    * B = N has no remainders), so every quota is drawable. Quotas are
    * nevertheless capped at the stratum size on BOTH engines, so the
    * degenerate B > N input degrades to a full per-stratum draw rather
    * than an unfillable quota (r16 verdict #4). This is the full
    * mixture-draw primitive: q106 decides HOW MUCH each stratum gets,
    * q49's machinery decides WHICH rows — composed, with the budget
    * landed to the row.
    *
    * Scale shape: quotas are a |langs|-row aggregate (broadcast); the
    * per-language rank is the bucketed prefix-sum (a dominant language
    * never concentrates into one window partition); the corpus shuffles
    * once. All integer arithmetic.
    */
  def q113QuotaSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val quotas = apportion(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_toks")), QUOTA_B)
      .select(col("lang"), least(col("quota"), col("n_toks")).as("quota"))
    distributedRunningSum(
      docs.select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("hkey"), lit(1L).as("one")),
      "lang", "one")
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("cum") <= col("quota"))
      .select(col("lang"), col("doc_id"), col("cum").as("rn"), col("quota"))
      .orderBy(col("lang"), col("rn"))
  }

  /** q106 — largest-remainder (Hamilton) budget apportionment: allocate a
    * fixed token budget across languages exactly proportionally — each
    * language gets ⌊B·nᵢ/N⌋ and the leftover B − Σ⌊·⌋ tokens go +1 each
    * to the largest fractional remainders (ties to lang asc) — the
    * deterministic quota-planning primitive behind mixture sampling
    * (q49 draws the sample; this decides HOW MUCH each stratum gets, with
    * Σ quota = B exactly, no float drift). All integer arithmetic; every
    * window runs over the |langs|-row aggregate — the dimension-table
    * ranking shape, never corpus-sized.
    */
  def q106Apportion(spark: SparkSession, dir: String): DataFrame =
    apportion(
      Tables.documents(spark, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_toks")),
      1000000L)
      .orderBy(col("lang"))

  /** Core of [[q106Apportion]] over any (lang, n_toks) aggregate — the
    * spec hand-verifies quotas and the Σ = B invariant on planted counts.
    */
  def apportion(counts: DataFrame, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    counts
      .withColumn("ntot", sum(col("n_toks")).over(w.partitionBy()))
      .withColumn("base", expr(s"(n_toks * ${budget}L) div ntot"))
      .withColumn("rem", expr(s"(n_toks * ${budget}L) % ntot"))
      .withColumn("base_total", sum(col("base")).over(w.partitionBy()))
      .withColumn("rk", row_number().over(w.orderBy(col("rem").desc, col("lang"))))
      .select(col("lang"), col("n_toks"),
        (col("base") +
          when(col("rk") <= lit(budget) - col("base_total"), 1L).otherwise(0L)).as("quota"))
  }

  /** The in-plan 60-bit md5 hash of a string expression — `conv` over the
    * first 15 hex chars, the [[graft.sql.KmvFunction.hash60]] value as a
    * column (the cmEstimate idiom); DuckDB replays it with the q105
    * list_reduce hex fold. Shared by q116/q117's deterministic draws.
    */
  private def hash60Col(s: String): org.apache.spark.sql.Column =
    expr(s"CAST(conv(substring(md5($s), 1, 15), 16, 10) AS BIGINT)")

  private val PRIO_K = 64

  /** q116 — PRIORITY SAMPLING (Duffield, Lund, Thorup, JACM '07): the
    * weighted fixed-size sample WITH an unbiased subset-sum estimator —
    * the missing half of deterministic sampling (q49/q113 draw uniformly
    * or by quota; neither can answer "estimate total tokens over any
    * slice from k rows"). Each doc gets priority P = w·2⁶⁰ div (h+1)
    * (w = token count, h = 60-bit md5 of doc_id — u = (h+1)/2⁶⁰ standing
    * in for the uniform draw, so P is the priority w/u itself in weight
    * units, floor'd to EXACT integer arithmetic: decimal(38,0) here,
    * HUGEINT in the oracle, the q110 doctrine); the sample is the top-k
    * by (P desc, doc_id), the threshold τ is the (k+1)-th priority, and
    * each sampled doc's weight estimate is ŵ = max(w, τ) — in floor'd
    * millionths — with E[Σŵ] = Σw (DLT's near-optimal variance; the
    * TextOpsSpec invariant pins the estimator landing near the exact
    * total, which a cross-engine gate alone cannot — both engines could
    * share a mis-derived estimator). The gate pins the sample
    * membership, every ŵ, the exact total, and the estimator's Σ.
    *
    * Scale shape: the global top-(k+1) is `TakeOrderedAndProject` —
    * per-partition bounded heaps merged at the driver, NO global sort,
    * no shuffle of the corpus; the total-weight leg is a map-side-
    * combined scalar agg. Two passes total, each a single-column
    * columnar scan (text only — PushedFilters/ReadSchema audited); the
    * k-row tail (τ window, estimator arithmetic) is driver-scale. At
    * 100 TB: two projected scans, k+1 rows + one long to the driver.
    */
  def q116PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"),
        hash60Col("CAST(doc_id AS STRING)").as("h"))
      .withColumn("p",
        expr(s"(CAST(w AS DECIMAL(38,0)) * ${1L << 60}L) div (CAST(h AS DECIMAL(38,0)) + 1)"))
    val w0 = org.apache.spark.sql.expressions.Window
    val byPrio = w0.orderBy(col("p").desc, col("doc_id"))
    // TakeOrderedAndProject (bounded per-partition top-k); the window ranks
    // only the k+1 survivors — single tiny partition by construction
    val top = docs.orderBy(col("p").desc, col("doc_id")).limit(PRIO_K + 1)
      .withColumn("rn", row_number().over(byPrio).cast("long"))
      .localCheckpoint()
    val tau = top.filter(col("rn") === PRIO_K + 1).select(col("p").as("tau"))
    val tot = docs.agg(sum(col("w")).as("tot_w"))
    top.filter(col("rn") <= PRIO_K)
      .crossJoin(broadcast(tau))
      .crossJoin(broadcast(tot))
      .withColumn("west_millionths",
        expr("""CAST(greatest(CAST(w AS DECIMAL(38,0)) * 1000000,
               |tau * 1000000) AS BIGINT)""".stripMargin))
      .withColumn("est_tot_millionths",
        sum(col("west_millionths")).over(w0.partitionBy()))
      .select(col("doc_id"), col("w"), col("rn"), col("west_millionths"),
        col("tot_w"), col("est_tot_millionths"))
      .orderBy(col("doc_id"))
  }

  /** q119 — cross-corpus SET SIMILARITY from archived KMV sketches (the
    * k-minima Jaccard estimator, Bar-Yossef et al. '02 / Beyer et al.
    * SIGMOD'07): for every SOURCE pair (bigram vocabularies — the
    * grouping with non-degenerate overlap in the fixture), the union
    * sketch is the k smallest of hs_a ∪ hs_b (pure array arithmetic on the STORED
    * sketches — no raw data touched), m counts union-sketch members
    * present in BOTH sides, and ρ̂ = m/|U| estimates the vocabulary
    * Jaccard — `(m·10⁶) div |U|` in exact integers, the q110 doctrine.
    * The exact Jaccard (distinct-token intersect/union counts) rides
    * along so the gate pins the estimation ERROR itself, cross-engine.
    * This is contamination/overlap screening at 100 TB: pairwise overlap
    * of N corpus slices from N·k longs of archived sketch — no token
    * rescan, no quadratic token join (the exact leg here exists for the
    * gate; at scale you keep only the sketch algebra).
    *
    * Scale shape: sketches are one map-side-combined pass (k longs per
    * lang); the pair frame is |langs|² rows of array arithmetic on a
    * broadcast self-join (BNLJ over a dimension-sized frame — never the
    * corpus). The exact leg's token self-join is shuffle-hash on tok with
    * the (lang_a < lang_b) pregate; it drops entirely when only the
    * estimate is needed.
    */
  def q119KmvJaccard(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val k = 64
    // word-bigram vocabulary per SOURCE (20 groups, pairwise Jaccard
    // 0.54-0.70 at test scale — langs share one token universe, which
    // would degenerate the gate to ρ = 1 everywhere)
    val toks = Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .select(col("source"), explode(expr(
        """CASE WHEN size(w) < 2 THEN array(text)
          |ELSE transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END"""
          .stripMargin)).as("tok"))
    // (source, tok) distinct — the exact leg's working set, read three
    // times (sizes, both join sides): materialize once
    val t = toks.distinct().localCheckpoint()
    val sk = toks
      .groupBy(col("source"))
      .agg(graft.functions.kmv_sketch(col("tok"), k).as("kmv"))
      .select(col("source"), col("kmv.hs").as("hs"))
      .localCheckpoint() // |sources| rows
    val sizes = t.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = t.as("x")
      .join(t.as("y").hint("shuffle_hash"),
        col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter_raw"))
    sk.as("a").join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        expr(s"slice(array_sort(array_union(a.hs, b.hs)), 1, $k)").as("u"),
        col("a.hs").as("ahs"), col("b.hs").as("bhs"))
      .select(col("src_a"), col("src_b"),
        size(col("u")).cast("long").as("u_n"),
        expr("CAST(size(array_intersect(array_intersect(u, ahs), bhs)) AS BIGINT)").as("m"))
      .withColumn("est_jacc_millionths", expr("(m * 1000000L) div u_n"))
      .join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .join(broadcast(sizes.as("sa")), col("src_a") === col("sa.source"))
      .join(broadcast(sizes.as("sb")), col("src_b") === col("sb.source"))
      .withColumn("n_inter", coalesce(col("n_inter_raw"), lit(0L)))
      .withColumn("n_union", col("sa.n") + col("sb.n") - col("n_inter"))
      .withColumn("ex_jacc_millionths", expr("(n_inter * 1000000L) div n_union"))
      .select(col("src_a"), col("src_b"), col("u_n"), col("m"),
        col("est_jacc_millionths"), col("n_inter"), col("n_union"),
        col("ex_jacc_millionths"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val GPRIO_K = 16

  /** q120 — per-GROUP priority sampling at bounded state: q116's DLT
    * weighted sample, per language, via [[graft.sql.BottomKPairs]] — the
    * regime a global `TakeOrderedAndProject` cannot reach (top-k per
    * group is either a rank window — bounded-shuffle on Spark 3.5+ via
    * `WindowGroupLimit`, but it still full-sorts every map partition
    * below the partial limit — or a bounded mergeable aggregate; this is
    * the aggregate, 4.2× faster at 50M rows per NOTES_bench_mains.md). The priority order
    * rides an INVERTED integer key `qinv = (h+1) div w` (bottom-k by
    * qinv ≈ top-k by w/u, floor-quantized so both engines replay it
    * exactly; value = doc_id, so the aggregate's (key, value) tie-break
    * IS the oracle's `ORDER BY qinv, doc_id`). The aggregate keeps k+1
    * pairs per group: the k sampled docs plus the threshold row, whose
    * implied weight-units threshold is τ = 2⁶⁰ div τ_inv, giving the
    * estimator ŵ = max(w, τ) in floor'd millionths — quantized DLT
    * (floors add O(2⁻⁶⁰·w²) bias: nil; a group with ≤ k docs has no
    * threshold row and is estimated EXACTLY, ŵ = w). Per-lang Σŵ and
    * the exact Σw ride side by side, so the gate pins per-group
    * estimator error cross-engine.
    *
    * Scale shape: one map-side-combined pass with k+1 (long, long)
    * pairs of state per (task, lang); sampled ids re-join to the corpus
    * for payloads via a broadcast hash join (the sample side is
    * |groups|·(k+1) rows). The 4-column projection is localCheckpoint-ed
    * (~32 B/doc of executor storage) so the payload re-join reads blocks
    * instead of re-hashing the corpus — swap to plain recompute (two
    * projected scans) when storage is tighter than CPU. No window over
    * the corpus, no corpus shuffle either way.
    */
  def q120GroupPrioritySample(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"),
        hash60Col("CAST(doc_id AS STRING)").as("h"))
      .withColumn("qinv", expr("(h + 1) div w"))
      .localCheckpoint() // read twice: sample pass + payload re-join
    val sampled = docs
      .groupBy(col("lang"))
      .agg(graft.functions.bottomk_pairs(col("qinv"), col("doc_id"), GPRIO_K + 1)
        .as("s"),
        sum(col("w")).as("tot_w"))
      .select(col("lang"), col("tot_w"), explode(col("s")).as("p"))
      .select(col("lang"), col("tot_w"),
        col("p.key").as("qinv"), col("p.val").as("doc_id"))
    val w0 = org.apache.spark.sql.expressions.Window
    val ranked = sampled
      .withColumn("rn", row_number().over(
        w0.partitionBy(col("lang")).orderBy(col("qinv"), col("doc_id"))).cast("long"))
    val tau = ranked.filter(col("rn") === GPRIO_K + 1)
      .select(col("lang"), col("qinv").as("tinv"))
    val samp = ranked.filter(col("rn") <= GPRIO_K)
      .join(broadcast(tau), Seq("lang"), "left")
      .select(col("lang"), col("doc_id"), col("rn"), col("tot_w"), col("tinv"))
    // payload re-join: STREAM the corpus, broadcast the |groups|·k sample
    val est = docs.select(col("lang"), col("doc_id"), col("w"))
      .join(broadcast(samp), Seq("lang", "doc_id"))
      .withColumn("west_millionths",
        expr(s"""CAST(CASE WHEN tinv IS NULL THEN w * 1000000
                 |ELSE greatest(CAST(w AS DECIMAL(38,0)) * 1000000,
                 |  CAST(${1L << 60}L AS DECIMAL(38,0)) * 1000000 div tinv)
                 |END AS BIGINT)""".stripMargin))
    est
      .withColumn("est_tot_millionths",
        sum(col("west_millionths")).over(w0.partitionBy(col("lang"))))
      .select(col("lang"), col("doc_id"), col("w"), col("rn"),
        col("west_millionths"), col("tot_w"), col("est_tot_millionths"))
      .orderBy(col("lang"), col("rn"))
  }

  private val SAMPLE_K = 64

  /** q117 — quantile estimation from a MERGEABLE bounded sample
    * ([[graft.sql.BottomKPairs]], the third custom-aggregate family
    * member): per-language token-count percentiles estimated from the k
    * docs with the smallest md5(doc_id) hash — the KMV algebra applied to
    * SAMPLING (bottom-k by hash of the union == union-trim of per-shard
    * bottom-k, so per-shard samples archive and roll up like q110's
    * sketches), with the payload (n_toks) riding the hash. One archived
    * sample answers quantiles, means, histograms — "one sketch, many
    * stats". Exact percentiles ride along so the gate pins the
    * estimation error itself; interpolation parity is the q61 contract
    * (Spark `percentile` == DuckDB `quantile_cont`).
    *
    * Scale shape: the sample aggregate keeps k (hash, value) pairs of
    * state per (task, group) and collapses map-side into the same hash
    * aggregate as any sibling stats — a window `row_number <= k` ships a
    * similarly bounded exchange on Spark 3.5+ (`WindowGroupLimit`
    * pushdown) but still SORTS every map partition below the partial
    * limit, and its output can't union-trim roll up from stored samples.
    * The percentile arithmetic runs on |langs|·k exploded rows —
    * dimension-scale.
    */
  def q117SampleQuantiles(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val agg = Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        hash60Col("CAST(doc_id AS STRING)").as("h"))
      .groupBy(col("lang"))
      .agg(
        graft.functions.bottomk_pairs(col("h"), col("n_toks"), SAMPLE_K).as("sample"),
        count(lit(1)).as("n_docs"),
        round(expr("percentile(n_toks, 0.5)"), 4).as("ex_p50"),
        round(expr("percentile(n_toks, 0.9)"), 4).as("ex_p90"),
        round(expr("percentile(n_toks, 0.99)"), 4).as("ex_p99"))
      .localCheckpoint() // |langs| rows; both tails below read these blocks
    val est = agg
      .select(col("lang"), explode(expr("transform(sample, p -> p.val)")).as("v"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sample"),
        round(expr("percentile(v, 0.5)"), 4).as("est_p50"),
        round(expr("percentile(v, 0.9)"), 4).as("est_p90"),
        round(expr("percentile(v, 0.99)"), 4).as("est_p99"))
    agg.drop("sample").join(broadcast(est), Seq("lang")).orderBy(col("lang"))
  }

  /** q121 — the [[graft.sql.BottomKPairs]] mergeable sample run THROUGH
    * Structured Streaming's state store (q118's mold, applied to the
    * SAMPLE family): the documents parquet feeds a FileStreamSource,
    * per-language bottom-64-by-hash samples of (md5-hash, token-count)
    * pairs accumulate across micro-batches in complete mode, and the
    * materialized sink must match the DuckDB ranked replay bit-for-bit —
    * sample cardinality, the largest retained hash, AND the sample's
    * token sum. Like the KMV k-minima, the k smallest (key, value) pairs
    * are ORDER-INDEPENDENT, so micro-batch boundaries and state-store
    * merge order cannot change the answer — which is what makes a
    * streaming sample exactly gateable. This is the live-corpus-stats
    * surface a 100 TB ingest needs: a bounded uniform document sample
    * per slice, maintained incrementally in k (long, long) pairs of
    * state per group, answering quantiles/means downstream without
    * re-reading history — the batch q117 semantics, unchanged under
    * `readStream`.
    */
  def q121StreamSample(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val nm = "q121_sample_sink"
    spark.streams.active.filter(q => Option(q.name).contains(nm)).foreach(_.stop())
    scala.util.Try(spark.catalog.dropTempView(nm))
    // the q97/q118 FileStreamSource idiom: brace glob keeps the basePath
    // injection off for a single-file table; complete mode on finite
    // input emits the full final state — no watermark race
    val docs = spark.readStream.schema(schema)
      .option("basePath", dir)
      .parquet(s"$dir/{documents.parquet}")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        hash60Col("CAST(doc_id AS STRING)").as("h"))
    // state partitions derived from input size (see StreamCkpt.statePartitions)
    val q = graft.streaming.StreamCkpt.withStateParts(spark, path) { docs.groupBy(col("lang"))
      .agg(
        graft.functions.bottomk_pairs(col("h"), col("n_toks"), SAMPLE_K).as("s"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs"),
        size(col("s")).cast("long").as("n_sample"),
        expr("element_at(s, -1).key").as("kth_h"),
        expr("aggregate(s, 0L, (a, p) -> a + p.val)").as("sample_tok_sum"))
      .writeStream.format("memory").queryName(nm)
      .option("checkpointLocation", graft.streaming.StreamCkpt.ephemeral(nm)).outputMode("complete").start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(nm).orderBy(col("lang"))
  }

  /** q122 — SAMPLE ROLLUP (the q110 archival pattern applied to
    * [[graft.sql.BottomKPairs]]): per-(language, shard) bottom-64-by-hash
    * samples (shard = doc_id % 4 — the per-day/per-partition sample a
    * real pipeline persists between runs) re-aggregated to per-language
    * by explode + a second `bottomk_pairs` pass, WITHOUT touching raw
    * documents again. Union-then-trim makes per-shard samples roll up to
    * EXACTLY the sample of the union (shards partition the corpus, so
    * multiset semantics carry duplicates correctly), and the oracle is
    * the DIRECT ranked replay over the whole corpus — the gate proves
    * rollup-of-samples == sample-of-union cross-engine, estimator
    * included (sample quantiles per q117's interpolation-parity
    * contract). The window formulation cannot do this: a `row_number`
    * sample is a result, not a mergeable state.
    *
    * Scale shape: stage 1 is one map-side-combined pass with k pairs of
    * state per (task, lang, shard); stage 2 aggregates |groups|·k pairs —
    * dimension-scale. Raw data is scanned once and never re-shuffled.
    */
  def q122SampleRollup(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val shardSamples = Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 4).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        hash60Col("CAST(doc_id AS STRING)").as("h"))
      .groupBy(col("lang"), col("shard"))
      .agg(graft.functions.bottomk_pairs(col("h"), col("n_toks"), SAMPLE_K).as("s"))
    shardSamples
      .select(col("lang"), explode(col("s")).as("p"))
      .groupBy(col("lang"))
      .agg(graft.functions.bottomk_pairs(col("p.key"), col("p.val"), SAMPLE_K).as("s"))
      .select(col("lang"), explode(col("s")).as("p"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sample"),
        max(col("p.key")).as("kth_h"),
        round(expr("percentile(p.val, 0.5)"), 4).as("est_p50"),
        round(expr("percentile(p.val, 0.9)"), 4).as("est_p90"),
        round(expr("percentile(p.val, 0.99)"), 4).as("est_p99"))
      .orderBy(col("lang"))
  }

  private val HIST_NB = 12

  /** q123 — MERGEABLE HISTOGRAMS (corpus length profiling): per-language
    * log₂-bin document-length histograms, built per-(language, shard) as
    * one-hot long vectors summed by [[graft.sql.VecSumLong]], then rolled
    * up per language by a second `vec_sum_long` pass — the q110/q112/q122
    * archival algebra applied to the most basic profiling artifact.
    * Vector addition is exact and commutative, so shard histograms
    * persisted between pipeline runs re-aggregate to exactly the direct
    * histogram — the oracle pins every bin (comma-joined per the q111
    * `cmAsString` convention, with `n_bins` carrying the cardinality).
    * The bin index is pure integer arithmetic on BOTH engines:
    * `length(bin(n_toks)) - 1` = ⌊log₂ n⌋ with no floating log.
    *
    * Scale shape: one map-side-combined pass with [[HIST_NB]] longs of
    * state per (task, lang, shard); stage 2 sums |groups| vectors —
    * dimension-scale. The histogram lives in the same hash aggregate as
    * any sibling stats (vs `width_bucket` + groupBy(bin), which shuffles
    * a (group × bin) keyspace and yields rows, not an archivable vector).
    */
  def q123LengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val shardHists = Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 4).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("b", expr(s"least(length(bin(n_toks)) - 1, ${HIST_NB - 1})").cast("long"))
      .withColumn("onehot",
        expr(s"transform(sequence(0, ${HIST_NB - 1}), i -> IF(i = b, 1L, 0L))"))
      .groupBy(col("lang"), col("shard"))
      .agg(graft.functions.vec_sum_long(col("onehot")).as("hist"),
        count(lit(1)).as("n"))
    shardHists
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_shards"),
        graft.functions.vec_sum_long(col("hist")).as("hist"))
      .select(col("lang"), col("n_docs"), col("n_shards"),
        size(col("hist")).cast("long").as("n_bins"),
        expr("array_join(transform(hist, x -> CAST(x AS STRING)), ',')").as("hist"))
      .orderBy(col("lang"))
  }

  private val QH_M = 6 // sub-bucket bits: quantile relative error <= 2^-6

  /** q129 — MERGEABLE ε-GUARANTEED QUANTILES (the fifth sketch of the
    * archival algebra — [[graft.sql.QhistSketch]], the DDSketch
    * construction on HdrHistogram's integer power-of-two grid): per-language
    * token-count p50/p90/p99 from ONE map-side-combined pass with ≤ ~1.9k
    * exact bucket counters of state per (task, lang) — no global sort, no
    * per-group value buffering, deterministic relative error ≤ 2^−[[QH_M]]
    * (1.5625%). Unlike the q117/q122 bottom-k SAMPLE quantiles (probabilistic
    * error, k-bounded), the grid is CANONICAL — a pure function of the value
    * multiset — so estimates are partition-order independent and the oracle
    * replays bucket → cumulative rank → midpoint dequantization in exact
    * integer arithmetic (`length(bin(v))` is the bitlength on both engines),
    * error included, bit-for-bit. The estimate itself is DECLARATIVE
    * downstream arithmetic ([[graft.functions.qhist_value]] — the KMV
    * doctrine), so the whole path stays inside whole-stage codegen.
    *
    * Scale shape: one pass, bounded state, one dimension-scale exchange
    * (ScaleSpec pins that 10× rows do not move the aggregation exchange's
    * shuffled bytes). At 100 TB this is THE way to get percentiles: exact
    * percentile needs a full sort/shuffle of every value; approx_percentile
    * (GK) is arrival-order dependent and not exactly auditable.
    */
  def q129QhistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val sk = Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("lang"))
      .agg(graft.functions.qhist_sketch(col("n_toks"), QH_M).as("sk"))
    sk.select(col("lang"),
        graft.functions.qhist_n(col("sk")).as("n"),
        graft.functions.qhist_value(col("sk"), 500, QH_M).as("p50"),
        graft.functions.qhist_value(col("sk"), 900, QH_M).as("p90"),
        graft.functions.qhist_value(col("sk"), 990, QH_M).as("p99"))
      .orderBy(col("lang"))
  }

  /** q130 — QHIST SHARD ROLLUP: per-(language, shard) qhist sketches
    * (shard = doc_id % 8 — the per-day/per-partition artifact a pipeline
    * persists between runs) re-aggregated per language by
    * [[graft.functions.qhist_merge]] WITHOUT re-scanning raw data. Counter
    * addition on a canonical grid makes the rollup BIT-IDENTICAL to the
    * direct sketch — the oracle is therefore q129's direct replay verbatim,
    * which is the gate: rollup-of-sketches == sketch-of-union, estimator
    * and quantization error included. (Contrast GK/KLL, where merged and
    * direct sketches differ and no such exact gate can exist.)
    */
  def q130QhistRollup(spark: SparkSession, dir: String): DataFrame = {
    val shardSketches = Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 8).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("lang"), col("shard"))
      .agg(graft.functions.qhist_sketch(col("n_toks"), QH_M).as("sk"))
    shardSketches
      .groupBy(col("lang"))
      .agg(graft.functions.qhist_merge(col("sk"), QH_M).as("sk"))
      .select(col("lang"),
        graft.functions.qhist_n(col("sk")).as("n"),
        graft.functions.qhist_value(col("sk"), 500, QH_M).as("p50"),
        graft.functions.qhist_value(col("sk"), 900, QH_M).as("p90"),
        graft.functions.qhist_value(col("sk"), 990, QH_M).as("p99"))
      .orderBy(col("lang"))
  }

  /** q132 — the qhist sketch run THROUGH Structured Streaming's state
    * store (the q118/q121 mold applied to the QUANTILE family): the
    * documents parquet feeds a FileStreamSource, per-language qhist bucket
    * counters accumulate across micro-batches in complete mode, and the
    * sink must match q129's bucket-exact DuckDB replay VERBATIM — the
    * canonical grid is what makes a streaming quantile exactly gateable
    * (micro-batch boundaries and state-store merge order cannot move an
    * exact counter; GK/KLL under the same harness would give a
    * batch-boundary-dependent answer no oracle could replay). This is the
    * live-ingest telemetry surface a 100 TB pipeline needs: p50/p90/p99
    * length percentiles maintained incrementally in ≤ ~1.9k longs of
    * state per group, never re-reading history.
    */
  def q132StreamQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val nm = "q132_qhist_sink"
    spark.streams.active.filter(q => Option(q.name).contains(nm)).foreach(_.stop())
    scala.util.Try(spark.catalog.dropTempView(nm))
    // the q97/q118/q121 FileStreamSource idiom: brace glob keeps basePath
    // injection off for a single-file table; complete mode on finite
    // input emits the full final state — no watermark race
    val docs = spark.readStream.schema(schema)
      .option("basePath", dir)
      .parquet(s"$dir/{documents.parquet}")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    // state partitions derived from input size (see StreamCkpt.statePartitions)
    val q = graft.streaming.StreamCkpt.withStateParts(spark, path) { docs.groupBy(col("lang"))
      .agg(graft.functions.qhist_sketch(col("n_toks"), QH_M).as("sk"))
      .select(col("lang"),
        graft.functions.qhist_n(col("sk")).as("n"),
        graft.functions.qhist_value(col("sk"), 500, QH_M).as("p50"),
        graft.functions.qhist_value(col("sk"), 900, QH_M).as("p90"),
        graft.functions.qhist_value(col("sk"), 990, QH_M).as("p99"))
      .writeStream.format("memory").queryName(nm)
      .option("checkpointLocation", graft.streaming.StreamCkpt.ephemeral(nm)).outputMode("complete").start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(nm).orderBy(col("lang"))
  }

  /** q133 — WEIGHTED quantiles (quantile-by-MASS): per-language doc-length
    * percentiles weighted by token count — "the median TOKEN lives in a
    * document of length p50", the question a token-budgeted pipeline asks
    * (unweighted doc-length percentiles over-represent short docs exactly
    * in proportion to how few tokens they contribute). One
    * [[graft.functions.qhist_sketch_weighted]] pass: each doc adds
    * `n_toks` exact counts to its length bucket; everything else —
    * canonical grid, bounded state, mergeability, the ε bound, the
    * bucket-exact oracle (`sum(v)` per bucket instead of `count(*)`) —
    * carries over from q129 unchanged.
    */
  def q133QhistWeighted(spark: SparkSession, dir: String): DataFrame = {
    val sk = Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("lang"))
      .agg(graft.functions.qhist_sketch_weighted(
        col("n_toks"), col("n_toks"), QH_M).as("sk"))
    sk.select(col("lang"),
        graft.functions.qhist_n(col("sk")).as("total_toks"),
        graft.functions.qhist_value(col("sk"), 500, QH_M).as("p50"),
        graft.functions.qhist_value(col("sk"), 900, QH_M).as("p90"),
        graft.functions.qhist_value(col("sk"), 990, QH_M).as("p99"))
      .orderBy(col("lang"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q129_qhist_quantiles" -> q129QhistQuantiles _,
    "q130_qhist_rollup"    -> q130QhistRollup _,
    "q132_stream_quantiles" -> q132StreamQuantiles _,
    "q133_qhist_weighted"  -> q133QhistWeighted _,
    "q104_nfc_normalize" -> q104NfcNormalize _,
    "q105_kmv_distinct"  -> q105KmvDistinct _,
    "q110_kmv_rollup"    -> q110KmvRollup _,
    "q115_kmv_rollup_mixedk" -> q115KmvRollupMixedK _,
    "q116_priority_sample" -> q116PrioritySample _,
    "q117_sample_quantiles" -> q117SampleQuantiles _,
    "q119_kmv_jaccard"   -> q119KmvJaccard _,
    "q120_group_priority_sample" -> q120GroupPrioritySample _,
    "q121_stream_sample" -> q121StreamSample _,
    "q122_sample_rollup" -> q122SampleRollup _,
    "q123_length_histogram" -> q123LengthHistogram _,
    "q111_cm_heavy"      -> q111CmHeavy _,
    "q112_cm_rollup"     -> q112CmRollup _,
    "q113_quota_sample"  -> q113QuotaSample _,
    "q106_apportion"     -> q106Apportion _,
    "q20_token_stats" -> q20TokenStats _,
    "q72_lm_quality"  -> q72LmQuality _,
    "q73_dsir_resample" -> q73DsirResample _,
    "q21_quality"     -> q21Quality _,
    "q60_repetition"  -> q60Repetition _,
    "q61_length_percentiles" -> q61LengthPercentiles _,
    "q22_langid"      -> q22LangId _,
    "q23_fingerprint" -> q23Fingerprint _,
    "q24_exact_dedup" -> q24ExactDedup _,
    "q43_subword_tokens" -> q43SubwordTokens _,
    "q44_rolling_hash"   -> q44RollingHash _,
    "q48_token_budget"   -> q48TokenBudget _,
    "q49_mixture_sample" -> q49MixtureSample _,
    "q75_pack_sequences" -> q75PackSequences _,
    "q79_pack_emit"      -> q79PackEmit _,
    "q147_chunk_overlap" -> q147ChunkOverlap _,
    "q148_chunk_dedup"   -> q148ChunkDedup _,
    "q80_dup_profile"    -> q80DupProfile _,
    "q50_decontaminate"  -> q50Decontaminate _,
    "q53_substring_dedup" -> q53SubstringDedup _,
    "q63_substring_removal" -> q63SubstringRemoval _,
    "q66_substring_scrub" -> q66SubstringScrub _,
    "q54_pii_scrub" -> q54PiiScrub _,
    "q55_bpe_apply" -> q55BpeApply _,
    "q107_bpe_batched" -> q107BpeBatched _,
  )

  /** The q107 oracle, GENERATED: `nMerges` unrolled training rounds, each
    * a materialized CTE chain (pair counts → ranked slice → greedy
    * conflict-skip recursive CTE → replace-chain apply). MATERIALIZED is
    * load-bearing — inlined CTEs would re-expand `seqs0` exponentially
    * (2^rounds parquet scans). Rounds past exhaustion no-op: want = 0 ⇒
    * empty slice ⇒ empty selection ⇒ identity replaces.
    */
  private def bpeBatchedOracle(nMerges: Int, batch: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH RECURSIVE words AS (
         |  SELECT w AS word, count(*) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |), seqs0 AS MATERIALIZED (
         |  SELECT regexp_replace(word, '(.)', '⟨\\1⟩', 'g') || '⟨</w>⟩' AS s, freq FROM words
         |)""".stripMargin)
    for (k <- 1 to nMerges) {
      val prev = s"seqs${k - 1}"
      val prior =
        if (k == 1) "0"
        else (1 until k).map(j => s"(SELECT count(*) FROM sel$j)").mkString(" + ")
      val cond =
        s"len(g.sel) < (SELECT w FROM want$k)" +
          s" AND NOT list_contains(g.rt, t.l) AND NOT list_contains(g.md, t.l)" +
          s" AND NOT list_contains(g.lf, t.r) AND NOT list_contains(g.md, t.r)"
      var inner = "s"
      for (o <- 1 to batch) {
        val pat = s"coalesce((SELECT '⟨' || l || '⟩⟨' || r || '⟩' FROM sel$k WHERE ord = $o), '⟨⟩')"
        val rep = s"coalesce((SELECT '⟨' || l || r || '⟩' FROM sel$k WHERE ord = $o), '')"
        inner = s"replace($inner, $pat, $rep)"
      }
      sb.append(
        s""", want$k AS MATERIALIZED (
           |  SELECT LEAST($batch, $nMerges - ($prior)) AS w
           |), pc$k AS MATERIALIZED (
           |  SELECT l, r, sum(freq) AS cnt FROM (
           |    SELECT syms[i] AS l, syms[i + 1] AS r, freq
           |    FROM (SELECT string_split(trim(s, '⟨⟩'), '⟩⟨') AS syms, freq FROM $prev),
           |         unnest(range(1, len(syms))) AS t(i)
           |    WHERE len(syms) >= 2
           |  ) GROUP BY l, r
           |), top$k AS MATERIALIZED (
           |  SELECT l, r, row_number() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rk
           |  FROM pc$k
           |  QUALIFY rk <= 4 * (SELECT w FROM want$k)
           |), g$k AS (
           |  SELECT 0 AS rk, CAST([] AS STRUCT(l VARCHAR, r VARCHAR)[]) AS sel,
           |         CAST([] AS VARCHAR[]) AS lf, CAST([] AS VARCHAR[]) AS rt, CAST([] AS VARCHAR[]) AS md
           |  UNION ALL
           |  SELECT t.rk,
           |    CASE WHEN $cond THEN list_append(g.sel, {'l': t.l, 'r': t.r}) ELSE g.sel END,
           |    CASE WHEN $cond THEN list_append(g.lf, t.l) ELSE g.lf END,
           |    CASE WHEN $cond THEN list_append(g.rt, t.r) ELSE g.rt END,
           |    CASE WHEN $cond THEN list_append(g.md, t.l || t.r) ELSE g.md END
           |  FROM g$k g JOIN top$k t ON t.rk = g.rk + 1
           |), sel$k AS MATERIALIZED (
           |  SELECT x.sel[i].l AS l, x.sel[i].r AS r, i AS ord
           |  FROM (SELECT sel FROM g$k WHERE rk = (SELECT max(rk) FROM g$k)) x,
           |       unnest(range(1, len(x.sel) + 1)) AS t(i)
           |), seqs$k AS MATERIALIZED (
           |  SELECT $inner AS s, freq FROM $prev
           |)""".stripMargin)
    }
    val sels = (1 to nMerges)
      .map(k => s"SELECT $k AS rnd, ord, l, r FROM sel$k")
      .mkString("\nUNION ALL ")
    sb.append(
      s""", all_sel AS (
         |$sels
         |)
         |SELECT CAST(row_number() OVER (ORDER BY rnd, ord) - 1 AS BIGINT) AS rank, l, r
         |FROM all_sel ORDER BY rank""".stripMargin)
    sb.result()
  }

  // the CM grid replay shared by q111/q112: every depth×width cell from
  // the same 60-bit md5("r:tok") bucket hashes the aggregate uses
  private val cmGridCtes: String =
    s"""toks AS (
       |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |cnt AS (SELECT lang, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       |hb AS (
       |  SELECT lang, tok, c, rr.r AS r,
       |    list_reduce(list_transform(range(1, 16),
       |      i -> strpos('0123456789abcdef',
       |                  substr(md5(rr.r::VARCHAR || ':' || tok), i, 1))::BIGINT - 1),
       |      (a, x) -> a * 16 + x) % $CM_W AS b
       |  FROM cnt, range($CM_D) AS rr(r)),
       |cells AS (SELECT lang, r, b, sum(c)::BIGINT AS s FROM hb GROUP BY 1, 2, 3),
       |grid AS (SELECT l.lang, rr.r AS r, bb.b AS b
       |         FROM (SELECT DISTINCT lang FROM cnt) l,
       |              range($CM_D) AS rr(r), range($CM_W) AS bb(b)),
       |dense AS (SELECT g.lang, g.r, g.b, coalesce(c.s, 0)::BIGINT AS v
       |          FROM grid g LEFT JOIN cells c
       |            ON c.lang = g.lang AND c.r = g.r AND c.b = g.b),
       |cm AS (SELECT lang, count(*)::BIGINT AS n_cells,
       |              string_agg(v::VARCHAR, ',' ORDER BY r, b) AS cm
       |       FROM dense GROUP BY lang)"""
      .stripMargin

  /** Exact integer replay of the qhist grid (see [[q129QhistQuantiles]]):
    * bucket = shift·2^(m−1) + (v >> shift) with shift = max(0,
    * bitlength(v) − m) (`length(bin(v))` = bitlength for v ≥ 1), rank =
    * permille·(n−1) div 1000 over cumulative bucket counts, midpoint
    * dequantization in pure shifts. m = QH_M = 6 → half = 32.
    * Shared verbatim by q129 (direct) and q130 (shard rollup) — counter
    * addition on a canonical grid makes them bit-identical BY CONTRACT,
    * and the shared oracle is the gate.
    */
  private def qhistOracleSql(weightExpr: String, nAlias: String): String =
    s"""WITH v AS (
      |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |  FROM documents),
      |b AS (SELECT lang, v, greatest(0, length(bin(v)) - 6) AS s FROM v),
      |buck AS (SELECT lang, s * 32 + (v >> s) AS id, v FROM b),
      |cnt AS (SELECT lang, id, $weightExpr AS c FROM buck GROUP BY 1, 2),
      |tot AS (SELECT lang, sum(c) AS n FROM cnt GROUP BY 1),
      |cum AS (SELECT lang, id, c,
      |          sum(c) OVER (PARTITION BY lang ORDER BY id) AS cum FROM cnt),
      |pick AS (
      |  SELECT cum.lang, pv.p, min(id) AS id
      |  FROM cum JOIN tot USING (lang)
      |  CROSS JOIN (VALUES (500), (900), (990)) pv(p)
      |  WHERE cum > (pv.p * (n - 1)) // 1000
      |  GROUP BY 1, 2),
      |val AS (
      |  SELECT lang, p,
      |    CASE WHEN id < 64 THEN CAST(id AS BIGINT)
      |         ELSE (CAST(id - ((id // 32) - 1) * 32 AS BIGINT) << ((id // 32) - 1))
      |              + (CAST(1 AS BIGINT) << ((id // 32) - 2)) - 1 END AS qv
      |  FROM pick)
      |SELECT v.lang, CAST(t.n AS BIGINT) AS $nAlias,
      |  max(CASE WHEN p = 500 THEN qv END) AS p50,
      |  max(CASE WHEN p = 900 THEN qv END) AS p90,
      |  max(CASE WHEN p = 990 THEN qv END) AS p99
      |FROM val v JOIN tot t USING (lang)
      |GROUP BY 1, 2 ORDER BY lang""".stripMargin

  private val qhistOracle: String = qhistOracleSql("count(*)", "n")

  val oracles: Map[String, String] = Map(
    "q129_qhist_quantiles" -> qhistOracle,
    // the rollup is bit-identical to the direct sketch by the canonical-grid
    // contract — the shared direct-replay oracle IS the gate
    "q130_qhist_rollup" -> qhistOracle,
    // streaming state-store accumulation of exact counters on the canonical
    // grid == the batch sketch == the same direct replay
    "q132_stream_quantiles" -> qhistOracle,
    // weighted replay: each doc contributes v counts to its own bucket
    "q133_qhist_weighted" -> qhistOracleSql("sum(v)", "total_toks"),
    // rebuilds the full count-min counter grid from the same md5 bucket
    // hashes, then replays the modal-token point estimate (min over rows)
    "q111_cm_heavy" ->
      s"""WITH $cmGridCtes,
         |tot AS (SELECT lang, count(*)::BIGINT AS n_toks FROM toks GROUP BY lang),
         |top AS (SELECT lang, tok, c AS n_exact FROM (
         |  SELECT lang, tok, c,
         |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rn
         |  FROM cnt) WHERE rn = 1),
         |est AS (SELECT t.lang, min(d.v)::BIGINT AS n_est
         |        FROM top t
         |        JOIN hb h ON h.lang = t.lang AND h.tok = t.tok
         |        JOIN dense d ON d.lang = t.lang AND d.r = h.r AND d.b = h.b
         |        GROUP BY t.lang)
         |SELECT cm.lang, tot.n_toks, cm.n_cells, cm.cm, top.tok, top.n_exact, est.n_est
         |FROM cm JOIN tot USING (lang) JOIN top USING (lang) JOIN est USING (lang)
         |ORDER BY cm.lang""".stripMargin,
    // the rollup must land on the DIRECT grid: counter addition == merge
    "q112_cm_rollup" ->
      s"""WITH $cmGridCtes,
         |sh AS (SELECT lang, count(DISTINCT doc_id % 4)::BIGINT AS n_shards
         |       FROM toks GROUP BY lang)
         |SELECT cm.lang, sh.n_shards, cm.n_cells, cm.cm
         |FROM cm JOIN sh USING (lang)
         |ORDER BY cm.lang""".stripMargin,
    // replays trainBatched round by round: ranked slice, greedy conflict
    // skip, in-order guarded-string replace application — generated with
    // the SAME (nMerges, batch) the Spark side trains with
    "q107_bpe_batched" -> bpeBatchedOracle(nMerges = 12, batch = 3),
    // NFC: decompose deterministically (combining acute after every 'e'),
    // normalize back; lengths are code points on both engines
    "q104_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS dec FROM documents)
        |SELECT doc_id, nfc_normalize(dec) AS norm_text,
        |  CAST(length(dec) - length(nfc_normalize(dec)) AS BIGINT) AS n_composed,
        |  nfc_normalize(dec) != dec AS changed
        |FROM d ORDER BY doc_id""".stripMargin,
    // largest-remainder apportionment: floor quota + the B - sum(floor)
    // largest remainders get +1, ties to lang asc; sum(quota) = B exactly
    "q106_apportion" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n_toks
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY lang),
        |t AS (
        |  SELECT lang, n_toks,
        |    (n_toks * 1000000) // (SELECT sum(n_toks) FROM c) AS base,
        |    (n_toks * 1000000) % (SELECT sum(n_toks) FROM c) AS rem
        |  FROM c),
        |r AS (
        |  SELECT lang, n_toks, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |    (SELECT sum(base) FROM t) AS base_total
        |  FROM t)
        |SELECT lang, n_toks,
        |  CAST(base + CASE WHEN rk <= 1000000 - base_total THEN 1 ELSE 0 END AS BIGINT)
        |    AS quota
        |FROM r ORDER BY lang""".stripMargin,
    // KMV sketch: 60-bit md5 hashes re-derived with the hex fold, ranked;
    // the estimate replayed in HUGEINT — the sketch's error is pinned too
    // sketch rollup: the oracle is deliberately the DIRECT ranked-hash
    // replay — merge-of-sketches must equal sketch-of-union exactly
    "q110_kmv_rollup" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |d AS (SELECT DISTINCT lang, tok FROM toks),
        |h AS (
        |  SELECT DISTINCT lang,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef', substr(md5(tok), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM d),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
        |k AS (SELECT lang, count(*) AS kmv_n, max(h) AS kth FROM r WHERE rn <= 64 GROUP BY lang)
        |SELECT lang, kmv_n, kth,
        |  CAST(CASE WHEN kmv_n < 64 THEN kmv_n * 1000000
        |       ELSE (63::HUGEINT * 1152921504606846976::HUGEINT * 1000000::HUGEINT) // kth
        |       END AS BIGINT) AS est_millionths
        |FROM k ORDER BY lang""".stripMargin,
    // mixed-k rollup: stored k'=128, merged at k=64 — must STILL equal the
    // direct ranked-hash replay at 64 (the 64 smallest of 128-minima are
    // the global 64-minima); same oracle as q110
    "q115_kmv_rollup_mixedk" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |d AS (SELECT DISTINCT lang, tok FROM toks),
        |h AS (
        |  SELECT DISTINCT lang,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef', substr(md5(tok), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM d),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
        |k AS (SELECT lang, count(*) AS kmv_n, max(h) AS kth FROM r WHERE rn <= 64 GROUP BY lang)
        |SELECT lang, kmv_n, kth,
        |  CAST(CASE WHEN kmv_n < 64 THEN kmv_n * 1000000
        |       ELSE (63::HUGEINT * 1152921504606846976::HUGEINT * 1000000::HUGEINT) // kth
        |       END AS BIGINT) AS est_millionths
        |FROM k ORDER BY lang""".stripMargin,
    "q105_kmv_distinct" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |d AS (SELECT DISTINCT lang, tok FROM toks),
        |h AS (
        |  SELECT DISTINCT lang,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef', substr(md5(tok), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM d),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
        |k AS (SELECT lang, count(*) AS kmv_n, max(h) AS kth FROM r WHERE rn <= 64 GROUP BY lang),
        |x AS (SELECT lang, count(DISTINCT tok) AS n_exact FROM toks GROUP BY lang)
        |SELECT x.lang, x.n_exact, k.kmv_n, k.kth,
        |  CAST(CASE WHEN k.kmv_n < 64 THEN k.kmv_n * 1000000
        |       ELSE (63::HUGEINT * 1152921504606846976::HUGEINT * 1000000::HUGEINT) // k.kth
        |       END AS BIGINT) AS est_millionths
        |FROM x JOIN k ON k.lang = x.lang
        |ORDER BY x.lang""".stripMargin,
    // DSIR importance resampling: the oracle re-derives the bucket hash
    // with the q44 list_reduce Rabin walk (code points on both engines),
    // the same add-1 importance ratio in HUGEINT (exact, like Spark's
    // decimal(38,0)), and the same deterministic (weight, doc_id) top-K
    "q73_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_prepend(7::BIGINT,
        |      list_transform(range(1, strlen(tok) + 1),
        |        i -> ascii(substr(tok, i, 1))::BIGINT)),
        |      (a, x) -> (a * 31 + x) % 2147483647) % 1024 AS bucket
        |  FROM toks),
        |rc AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
        |tc AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY bucket),
        |tot AS (SELECT count(*) AS n_r,
        |               count(*) FILTER (lang = 'en') AS n_t FROM b),
        |sc AS (
        |  SELECT rc.bucket,
        |    (1000000::HUGEINT * (COALESCE(tc.ct, 0) + 1) * (tot.n_r + 1024))
        |      // ((rc.cr + 1)::HUGEINT * (tot.n_t + 1024)) AS s
        |  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, lang, count(*) AS n_toks,
        |    CAST(sum(s) AS BIGINT) AS weight
        |  FROM b JOIN sc USING (bucket)
        |  GROUP BY doc_id, lang),
        |top AS (
        |  SELECT doc_id, lang, n_toks, weight,
        |    row_number() OVER (ORDER BY weight DESC, doc_id) AS rank
        |  FROM w)
        |SELECT doc_id, lang, n_toks, weight, rank
        |FROM top WHERE rank <= 100 ORDER BY rank""".stripMargin,
    // stupid-backoff LM scoring: the oracle builds the same count tables
    // over the even-doc_id half (lag() context == Spark's pre-explode array
    // arithmetic) and quantizes the count-ratio to integer millionths —
    // every branch (trigram hit, penalized bigram/unigram backoff, unseen
    // floor) is integer math, so the hash is bit-exact
    "q72_lm_quality" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |ctx AS (
        |  SELECT doc_id, pos, tok,
        |    lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
        |    lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2
        |  FROM toks),
        |train AS (SELECT * FROM ctx WHERE doc_id % 2 = 0),
        |uni AS (SELECT tok, count(*) AS c FROM train GROUP BY tok),
        |bi  AS (SELECT p1, tok, count(*) AS c FROM train
        |        WHERE p1 IS NOT NULL GROUP BY p1, tok),
        |tri AS (SELECT p2, p1, tok, count(*) AS c FROM train
        |        WHERE p2 IS NOT NULL GROUP BY p2, p1, tok),
        |n AS (SELECT count(*) AS n_train FROM train),
        |scored AS (
        |  SELECT c.doc_id,
        |    CASE
        |      WHEN c.p2 IS NOT NULL AND t.c IS NOT NULL
        |        THEN (1000000 * t.c) // bc.c
        |      WHEN c.p1 IS NOT NULL AND b.c IS NOT NULL
        |        THEN ((CASE WHEN c.p2 IS NULL THEN 1000000 ELSE 400000 END) * b.c) // u1.c
        |      WHEN u.c IS NOT NULL
        |        THEN ((CASE WHEN c.p1 IS NULL THEN 1000000
        |                    WHEN c.p2 IS NULL THEN 400000
        |                    ELSE 160000 END) * u.c) // n.n_train
        |      ELSE 0 END AS s
        |  FROM ctx c
        |  LEFT JOIN tri t ON t.p2 = c.p2 AND t.p1 = c.p1 AND t.tok = c.tok
        |  LEFT JOIN bi bc ON bc.p1 = c.p2 AND bc.tok = c.p1
        |  LEFT JOIN bi b  ON b.p1 = c.p1 AND b.tok = c.tok
        |  LEFT JOIN uni u1 ON u1.tok = c.p1
        |  LEFT JOIN uni u  ON u.tok = c.tok
        |  CROSS JOIN n)
        |SELECT doc_id, count(*) AS n_toks,
        |  CAST(sum(s) AS BIGINT) AS lm_score,
        |  CAST(sum(s) // count(*) AS BIGINT) AS score_per_tok
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // replays the frozen merge table as a rank-ordered literal-replace
    // chain over a symbol-guarded string: replace() makes exactly one
    // left-to-right non-overlapping pass — the BpeEncode per-merge
    // semantics. The chain is GENERATED from Bpe.CanonicalMerges, so the
    // two engines can never disagree about which table they run.
    "q55_bpe_apply" -> {
      val guarded = "regexp_replace(w, '(.)', '⟨\\1⟩', 'g') || '⟨</w>⟩'"
      val chain = graft.llm.Bpe.CanonicalMerges.foldLeft(guarded) {
        case (acc, (l, r)) => s"replace($acc, '⟨$l⟩⟨$r⟩', '⟨$l$r⟩')"
      }
      s"""WITH enc AS (
         |  SELECT doc_id, array_to_string(list_transform(string_split(text, ' '),
         |    w -> trim(replace($chain, '⟩⟨', ' '), '⟨⟩')), ' ') AS bpe_text
         |  FROM documents
         |)
         |SELECT doc_id, CAST(len(string_split(bpe_text, ' ')) AS BIGINT) AS n_bpe,
         |  bpe_text
         |FROM enc ORDER BY doc_id""".stripMargin
    },
    // same planted augmentation, RE2 regexes, global-flag replaces; counts
    // on the pre-redaction text like the Spark side
    "q54_pii_scrub" -> {
      import graft.llm.Pii.{EmailRe, SsnRe, PhoneRe, Ipv4Re}
      s"""WITH aug AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |         || '@mail.example.com or u' || CAST(doc_id AS VARCHAR) || '@ex.org now' ELSE '' END
         |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
         |         || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
         |         || '.' || CAST(doc_id % 199 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || ' up' ELSE '' END
         |    || CASE WHEN doc_id % 17 = 0 THEN ' ref 123-45-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' ok' ELSE '' END
         |    AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$SsnRe')) AS BIGINT) AS n_ssn,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(t, '$Ipv4Re')) AS BIGINT) AS n_ip,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$SsnRe', '<ID>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g') AS clean_text
         |FROM aug
         |WHERE len(regexp_extract_all(t, '$EmailRe')) + len(regexp_extract_all(t, '$SsnRe'))
         |    + len(regexp_extract_all(t, '$PhoneRe')) + len(regexp_extract_all(t, '$Ipv4Re')) > 0
         |ORDER BY doc_id""".stripMargin
    },
    // q63's interval chain, then APPLIED: token positions anti-join the
    // expanded removal ranges and re-aggregate in order; untouched docs
    // take the source text verbatim (matching the Spark pass-through)
    "q66_substring_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), p0 AS (
        |  SELECT doc_id, len(toks) AS n_toks, toks,
        |    unnest(range(1, greatest(len(toks) - 11, 1) + 1)) AS i
        |  FROM t
        |), occ AS (
        |  SELECT doc_id, n_toks, i - 1 AS pos,
        |    substr(md5(array_to_string(list_slice(toks, i, i + 11), ' ')), 1, 16) AS gh
        |  FROM p0
        |  WHERE substr(md5(array_to_string(list_slice(toks, i, i + 11), ' ')), 32, 1)
        |        IN ('0', '4', '8', 'c')
        |), keep AS (
        |  SELECT gh, min(doc_id * 4294967296 + pos) AS kkey
        |  FROM occ GROUP BY gh HAVING count(*) >= 2
        |), spans AS (
        |  SELECT o.doc_id, o.pos AS s, least(o.pos + 12, o.n_toks) AS e
        |  FROM occ o JOIN keep k ON k.gh = o.gh
        |  WHERE o.doc_id * 4294967296 + o.pos <> k.kkey
        |), m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM spans
        |), isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m
        |), agg AS (
        |  SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2
        |), rem AS (
        |  SELECT doc_id, unnest(range(s, e)) AS pos FROM agg
        |), allpos AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t
        |), kept AS (
        |  SELECT a.doc_id, a.i, a.toks[a.i] AS tok
        |  FROM allpos a LEFT JOIN rem r ON r.doc_id = a.doc_id AND r.pos = a.i - 1
        |  WHERE r.pos IS NULL
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id
        |), removed AS (
        |  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS n_removed_tokens
        |  FROM agg GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN rm.doc_id IS NULL THEN d.text
        |       ELSE coalesce(rb.clean_text, '') END AS clean_text,
        |  coalesce(rm.n_removed_tokens, 0) AS n_removed_tokens
        |FROM documents d
        |LEFT JOIN removed rm ON rm.doc_id = d.doc_id
        |LEFT JOIN rebuilt rb ON rb.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // positional anchors from first principles (repeats kept), per-gram
    // keeper = min (doc_id, pos) encoded as doc_id*2^32+pos, non-keeper
    // occurrences -> [pos, pos+12) intervals, merged per doc with the
    // gaps-and-islands window form (the Spark side folds a doc-bounded
    // list instead). Both engines group on substr(md5(gram),1,16).
    "q63_substring_removal" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), p0 AS (
        |  SELECT doc_id, len(toks) AS n_toks, toks,
        |    unnest(range(1, greatest(len(toks) - 11, 1) + 1)) AS i
        |  FROM t
        |), occ AS (
        |  SELECT doc_id, n_toks, i - 1 AS pos,
        |    substr(md5(array_to_string(list_slice(toks, i, i + 11), ' ')), 1, 16) AS gh
        |  FROM p0
        |  WHERE substr(md5(array_to_string(list_slice(toks, i, i + 11), ' ')), 32, 1)
        |        IN ('0', '4', '8', 'c')
        |), keep AS (
        |  SELECT gh, min(doc_id * 4294967296 + pos) AS kkey
        |  FROM occ GROUP BY gh HAVING count(*) >= 2
        |), spans AS (
        |  SELECT o.doc_id, o.pos AS s, least(o.pos + 12, o.n_toks) AS e
        |  FROM occ o JOIN keep k ON k.gh = o.gh
        |  WHERE o.doc_id * 4294967296 + o.pos <> k.kkey
        |), m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM spans
        |), isl AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m
        |), agg AS (
        |  SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(e - s) AS BIGINT) AS n_removed_tokens
        |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin,
    // positional recompute: every k=12 gram per doc, the md5-low-nibble
    // anchor sample, then pairwise distinct shared anchors
    "q53_substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 11, 1) + 1),
        |    i -> array_to_string(list_slice(toks, i, i + 11), ' ')))) AS gram
        |  FROM t
        |), a AS (
        |  SELECT doc_id, gram FROM g
        |  WHERE substr(md5(gram), 32, 1) IN ('0', '4', '8', 'c')
        |)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  CAST(count(DISTINCT x.gram) AS BIGINT) AS n_shared
        |FROM a x JOIN a y ON y.gram = x.gram AND y.doc_id > x.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q50_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, md5(gram) AS gh FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 4, 1) + 1),
        |      i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
        |    FROM t)
        |), hits AS (
        |  SELECT e.doc_id AS eval_id, count(DISTINCT tr.doc_id) AS n_contaminated
        |  FROM g e JOIN g tr ON tr.gh = e.gh
        |  WHERE e.doc_id % 50 = 0 AND tr.doc_id % 50 <> 0
        |  GROUP BY e.doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated
        |FROM documents d LEFT JOIN hits h ON h.eval_id = d.doc_id
        |WHERE d.doc_id % 50 = 0 ORDER BY d.doc_id""".stripMargin,
    // the oracle uses the global-ORDER-BY window form the Spark side
    // deliberately avoids — same values, different scalability
    "q48_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY hkey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum AS BIGINT) AS cum_tokens
        |FROM c WHERE cum <= 15000 ORDER BY doc_id""".stripMargin,
    "q75_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY hkey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS start_seq,
        |  CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    "q79_pack_emit" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY hkey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prev
        |  FROM t
        |), tok AS (
        |  SELECT prev + unnest(range(1, n_tokens + 1)) - 1 AS pos,
        |    unnest(toks) AS tok
        |  FROM c
        |)
        |SELECT CAST(pos // 512 AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_toks,
        |  string_agg(tok, ' ' ORDER BY pos) AS seq_text
        |FROM tok GROUP BY 1 ORDER BY seq_id""".stripMargin,
    "q147_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END)) AS k
        |  FROM t
        |)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  CAST(k * 24 AS BIGINT) AS start_tok,
        |  CAST(least(32, n - k * 24) AS BIGINT) AS chunk_len,
        |  array_to_string(toks[k*24 + 1 : least(k*24 + 32, n)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q148_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END)) AS k
        |  FROM t
        |), ch AS (
        |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |    md5(array_to_string(toks[k*24 + 1 : least(k*24 + 32, n)], ' ')) AS h
        |  FROM c
        |)
        |SELECT h AS chunk_hash,
        |  CAST(min(struct_pack(d := doc_id, c := chunk_id)).d AS BIGINT) AS keeper_doc,
        |  CAST(min(struct_pack(d := doc_id, c := chunk_id)).c AS BIGINT) AS keeper_chunk,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM ch GROUP BY 1 HAVING count(*) > 1
        |ORDER BY chunk_hash""".stripMargin,
    "q80_dup_profile" ->
      """WITH d AS (
        |  SELECT lang, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT lang,
        |    unnest(list_transform(range(1, greatest(len(toks) - 6, 1)),
        |      i -> md5(array_to_string(toks[i:i+7], ' ')))) AS gram
        |  FROM d
        |), c AS (
        |  SELECT lang, gram, count(*) AS c FROM g GROUP BY 1, 2
        |)
        |SELECT lang,
        |  CAST(sum(c) AS BIGINT) AS n_occurrences,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occurrences,
        |  round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 4) AS dup_fraction
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    // Hamilton quotas over per-language doc counts (the q106 replay),
    // capped at the stratum size (load-bearing only for B > corpus size),
    // joined to the q49 md5-permutation rank — exactly quota rows per
    // language, exactly B rows total for B <= corpus size
    // per-group priority sampling: the q116 replay per language with the
    // inverted integer key (h+1) // w; threshold row = rank k+1, tau in
    // weight units = 2^60 // tinv, all in HUGEINT
    "q120_group_priority_sample" ->
      """WITH d AS (
        |  SELECT lang, doc_id, len(string_split(text, ' '))::BIGINT AS w,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef',
        |                  substr(md5(CAST(doc_id AS VARCHAR)), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM documents),
        |q AS (SELECT lang, doc_id, w, (h + 1) // w AS qinv FROM d),
        |r AS (
        |  SELECT lang, doc_id, w, qinv,
        |    row_number() OVER (PARTITION BY lang ORDER BY qinv, doc_id) AS rn
        |  FROM q),
        |t AS (SELECT lang, qinv AS tinv FROM r WHERE rn = 17),
        |tot AS (SELECT lang, sum(w)::BIGINT AS tot_w FROM d GROUP BY lang),
        |s AS (
        |  SELECT r.lang, r.doc_id, r.w, r.rn,
        |    CASE WHEN t.tinv IS NULL THEN r.w * 1000000
        |         ELSE greatest(r.w::HUGEINT * 1000000,
        |                (1152921504606846976::HUGEINT * 1000000) // t.tinv)
        |    END::BIGINT AS west_millionths
        |  FROM r LEFT JOIN t ON t.lang = r.lang WHERE r.rn <= 16),
        |e AS (SELECT lang, sum(west_millionths)::BIGINT AS est FROM s GROUP BY lang)
        |SELECT s.lang, s.doc_id, s.w, s.rn, s.west_millionths, tot.tot_w,
        |  e.est AS est_tot_millionths
        |FROM s JOIN tot ON tot.lang = s.lang JOIN e ON e.lang = s.lang
        |ORDER BY s.lang, s.rn""".stripMargin,
    // KMV Jaccard: per-lang ranked-hash k-minima (the q105 fold), union
    // sketch by list arithmetic, m / |U| in exact integers; exact
    // distinct-token Jaccard alongside
    "q119_kmv_jaccard" ->
      """WITH b AS (
        |  SELECT source, text, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT source, CASE WHEN len(w) < 2 THEN [text]
        |    ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
        |    END AS bgs
        |  FROM b),
        |toks AS (SELECT DISTINCT source, unnest(bgs) AS tok FROM g),
        |hh AS (
        |  SELECT DISTINCT source,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef', substr(md5(tok), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM toks),
        |r AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hh),
        |s AS (SELECT source, list(h ORDER BY h) AS hs FROM r WHERE rn <= 64 GROUP BY source),
        |n AS (SELECT source, count(*) AS n FROM toks GROUP BY source),
        |i AS (
        |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_inter
        |  FROM toks x JOIN toks y ON y.tok = x.tok AND x.source < y.source
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    list_sort(list_distinct(a.hs || b.hs))[1:64] AS u,
        |    a.hs AS ahs, b.hs AS bhs
        |  FROM s a JOIN s b ON a.source < b.source),
        |e AS (
        |  SELECT src_a, src_b, len(u)::BIGINT AS u_n,
        |    len(list_intersect(list_intersect(u, ahs), bhs))::BIGINT AS m
        |  FROM p)
        |SELECT e.src_a, e.src_b, e.u_n, e.m,
        |  (e.m * 1000000) // e.u_n AS est_jacc_millionths,
        |  coalesce(i.n_inter, 0)::BIGINT AS n_inter,
        |  (na.n + nb.n - coalesce(i.n_inter, 0))::BIGINT AS n_union,
        |  (coalesce(i.n_inter, 0) * 1000000) // (na.n + nb.n - coalesce(i.n_inter, 0))
        |    AS ex_jacc_millionths
        |FROM e
        |LEFT JOIN i ON i.src_a = e.src_a AND i.src_b = e.src_b
        |JOIN n na ON na.source = e.src_a
        |JOIN n nb ON nb.source = e.src_b
        |ORDER BY e.src_a, e.src_b""".stripMargin,
    // priority sampling: the same 60-bit md5 fold as q105, priorities and
    // the tau-threshold estimator replayed in HUGEINT (exact, like Spark's
    // decimal(38,0)); sample = top-64 by (priority, doc_id)
    "q116_priority_sample" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS w,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef',
        |                  substr(md5(CAST(doc_id AS VARCHAR)), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, w,
        |    (w::HUGEINT * 1152921504606846976::HUGEINT) // (h::HUGEINT + 1) AS p
        |  FROM d),
        |r AS (
        |  SELECT doc_id, w, p,
        |    row_number() OVER (ORDER BY p DESC, doc_id) AS rn FROM p),
        |t AS (SELECT p AS tau FROM r WHERE rn = 65),
        |s AS (
        |  SELECT r.doc_id, r.w, r.rn,
        |    greatest(r.w::HUGEINT * 1000000, t.tau * 1000000)::BIGINT
        |      AS west_millionths
        |  FROM r, t WHERE r.rn <= 64)
        |SELECT s.doc_id, s.w, s.rn, s.west_millionths,
        |  (SELECT sum(w)::BIGINT FROM d) AS tot_w,
        |  (SELECT sum(west_millionths)::BIGINT FROM s) AS est_tot_millionths
        |FROM s ORDER BY s.doc_id""".stripMargin,
    // bottom-k-by-hash sample quantiles: the sample is the k smallest
    // (h, n_toks) pairs per lang (the BottomKPairs multiset, replayed as a
    // row_number over the same order); interpolation parity per q61
    "q117_sample_quantiles" ->
      """WITH d AS (
        |  SELECT lang, len(string_split(text, ' '))::BIGINT AS n_toks,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef',
        |                  substr(md5(CAST(doc_id AS VARCHAR)), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_toks,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, n_toks) AS rn
        |  FROM d),
        |s AS (
        |  SELECT lang, count(*)::BIGINT AS n_sample,
        |    round(quantile_cont(n_toks::DOUBLE, 0.5), 4) AS est_p50,
        |    round(quantile_cont(n_toks::DOUBLE, 0.9), 4) AS est_p90,
        |    round(quantile_cont(n_toks::DOUBLE, 0.99), 4) AS est_p99
        |  FROM r WHERE rn <= 64 GROUP BY lang),
        |x AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs,
        |    round(quantile_cont(n_toks::DOUBLE, 0.5), 4) AS ex_p50,
        |    round(quantile_cont(n_toks::DOUBLE, 0.9), 4) AS ex_p90,
        |    round(quantile_cont(n_toks::DOUBLE, 0.99), 4) AS ex_p99
        |  FROM d GROUP BY lang)
        |SELECT x.lang, x.n_docs, x.ex_p50, x.ex_p90, x.ex_p99,
        |  s.n_sample, s.est_p50, s.est_p90, s.est_p99
        |FROM x JOIN s USING (lang) ORDER BY x.lang""".stripMargin,
    // streaming bottom-k sample: the q117 ranked replay — order-independence
    // of the k smallest (h, n_toks) pairs is what makes a STREAMING sample
    // exactly gateable (the q118 argument, applied to the sample family)
    "q121_stream_sample" ->
      """WITH d AS (
        |  SELECT lang, len(string_split(text, ' '))::BIGINT AS n_toks,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef',
        |                  substr(md5(CAST(doc_id AS VARCHAR)), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_toks, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, n_toks) AS rn
        |  FROM d),
        |g AS (SELECT lang, count(*)::BIGINT AS n_docs FROM d GROUP BY lang),
        |s AS (
        |  SELECT lang, count(*)::BIGINT AS n_sample, max(h) AS kth_h,
        |    sum(n_toks)::BIGINT AS sample_tok_sum
        |  FROM r WHERE rn <= 64 GROUP BY lang)
        |SELECT g.lang, g.n_docs, s.n_sample, s.kth_h, s.sample_tok_sum
        |FROM g JOIN s USING (lang) ORDER BY g.lang""".stripMargin,
    // sample rollup: the oracle replays the DIRECT whole-corpus sample —
    // matching it proves the per-shard union-trim rollup lands on exactly
    // the sample of the union, estimator included
    "q122_sample_rollup" ->
      """WITH d AS (
        |  SELECT lang, len(string_split(text, ' '))::BIGINT AS n_toks,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> strpos('0123456789abcdef',
        |                  substr(md5(CAST(doc_id AS VARCHAR)), i, 1))::BIGINT - 1),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_toks, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, n_toks) AS rn
        |  FROM d)
        |SELECT lang, count(*)::BIGINT AS n_sample, max(h) AS kth_h,
        |  round(quantile_cont(n_toks::DOUBLE, 0.5), 4) AS est_p50,
        |  round(quantile_cont(n_toks::DOUBLE, 0.9), 4) AS est_p90,
        |  round(quantile_cont(n_toks::DOUBLE, 0.99), 4) AS est_p99
        |FROM r WHERE rn <= 64 GROUP BY lang ORDER BY lang""".stripMargin,
    // mergeable length histograms: every bin pinned (the q111/q112 grid
    // convention); integer log2 via length(bin(n)) - 1 on both engines
    "q123_length_histogram" ->
      """WITH d AS (
        |  SELECT lang,
        |    least(length(bin(len(string_split(text, ' '))::BIGINT)) - 1, 11)::BIGINT AS b
        |  FROM documents),
        |c AS (SELECT lang, b, count(*)::BIGINT AS n FROM d GROUP BY lang, b),
        |grid AS (
        |  SELECT g.lang, i.i FROM (SELECT DISTINCT lang FROM d) g
        |  CROSS JOIN (SELECT unnest(range(0, 12)) AS i) i),
        |f AS (
        |  SELECT grid.lang, grid.i, coalesce(c.n, 0)::BIGINT AS n
        |  FROM grid LEFT JOIN c ON c.lang = grid.lang AND c.b = grid.i),
        |s AS (SELECT lang, count(*)::BIGINT AS n_shards
        |      FROM (SELECT DISTINCT lang, doc_id % 4 FROM documents) GROUP BY lang),
        |t AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang)
        |SELECT f.lang, t.n_docs, s.n_shards,
        |  count(*)::BIGINT AS n_bins,
        |  string_agg(f.n::VARCHAR, ',' ORDER BY f.i) AS hist
        |FROM f JOIN s ON s.lang = f.lang JOIN t ON t.lang = f.lang
        |GROUP BY f.lang, t.n_docs, s.n_shards ORDER BY f.lang""".stripMargin,
    "q113_quota_sample" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (
        |  SELECT lang, n,
        |    (n * 100) // (SELECT sum(n) FROM c) AS base,
        |    (n * 100) % (SELECT sum(n) FROM c) AS rem
        |  FROM c),
        |q AS (
        |  SELECT lang,
        |    CAST(LEAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
        |                     <= 100 - (SELECT sum(base) FROM t)
        |                THEN 1 ELSE 0 END, n) AS BIGINT) AS quota
        |  FROM t),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT r.lang, r.doc_id, CAST(r.rn AS BIGINT) AS rn, q.quota
        |FROM r JOIN q USING (lang) WHERE r.rn <= q.quota
        |ORDER BY r.lang, r.rn""".stripMargin,
    "q49_mixture_sample" ->
      """WITH t AS (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hkey FROM documents
        |), r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS rn
        |  FROM t
        |)
        |SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 30 ORDER BY lang, rn""".stripMargin,
    // Spark `percentile` and DuckDB `quantile_cont` share the interpolated
    // (type 7) definition — exact double match before rounding
    "q61_length_percentiles" ->
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(n_toks), 4) AS mean_toks,
        |  round(quantile_cont(n_toks, 0.5), 4) AS p50,
        |  round(quantile_cont(n_toks, 0.9), 4) AS p90,
        |  round(quantile_cont(n_toks, 0.99), 4) AS p99
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q60_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1]) AS grams
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_bigrams,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |    ELSE round(1 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
        |  END AS dup_bigram_frac,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |    ELSE round(CAST(len(list_filter(grams, x -> x = list_aggregate(grams, 'mode'))) AS DOUBLE)
        |      / len(grams), 4)
        |  END AS top_bigram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "q20_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  length(text) AS len_chars,
        |  octet_length(encode(text)) AS len_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q21_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |), m AS (
        |  SELECT doc_id, text, len(toks) AS n_tokens,
        |    len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'to', 'in'))) AS n_stop
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, n_stop,
        |  round(n_stop * 1.0 / n_tokens, 4) AS stop_ratio,
        |  round((length(text) - n_tokens + 1) * 1.0 / n_tokens, 4) AS mean_tok_len,
        |  round(least(1.0, round(n_stop * 1.0 / n_tokens, 4) * 2 + n_tokens / 100.0), 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q22_langid" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'data', 'table'))) AS s_en,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('query', 'row', 'line'))) AS s_es,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('merge', 'batch', 'stream'))) AS s_de,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('join', 'group', 'sort'))) AS s_fr
        |  FROM documents
        |), p AS (
        |  SELECT lang,
        |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |         WHEN s_de >= s_fr THEN 'de'
        |         ELSE 'fr' END AS pred_lang
        |  FROM s
        |)
        |SELECT lang, pred_lang, count(*) AS n FROM p
        |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "q23_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
        |  FROM documents
        |)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same_fp
        |FROM f ORDER BY doc_id""".stripMargin,
    "q24_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,
    "q43_subword_tokens" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS ws FROM documents
        |)
        |SELECT doc_id, len(ws) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(ws, w -> (strlen(w) + 3) // 4)), 0) AS BIGINT) AS n_subwords,
        |  CAST(coalesce(list_sum(list_transform(ws, w -> strlen(w))), 0) AS BIGINT) AS n_word_chars
        |FROM w ORDER BY doc_id""".stripMargin,
    "q44_rolling_hash" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(7::BIGINT,
        |        list_transform(range(1, strlen(norm) + 1), i -> ascii(substr(norm, i, 1))::BIGINT)),
        |      (a, b) -> (a * 31 + b) % 2147483647) AS rfp
        |  FROM n
        |)
        |SELECT doc_id, rfp, count(*) OVER (PARTITION BY rfp) AS n_same_rfp
        |FROM f ORDER BY doc_id""".stripMargin,
  )
}
