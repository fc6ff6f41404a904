package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus operators of a training-data build over (doc_id, text, ...)
  * frames: the quality formula and rolling fingerprint, DSIR importance
  * resampling, Hamilton budget apportionment, BM25 retrieval,
  * paragraph-granular dedup, the per-domain cap and the per-source MinHash
  * overlap signatures. Arithmetic is integer or rational wherever a result
  * must hash-match the DuckDB oracle.
  */
object Corpus {

  private[graft] val STOPWORDS = Seq("the", "a", "of", "to", "in")

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

  /** DSIR resampling (q73) over any (doc_id, lang, text) frame. */
  def dsirResample(docs: DataFrame): DataFrame =
    dsirScores(docs)
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(DSIR_K)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("weight").desc, col("doc_id"))).cast("long"))
      .orderBy(col("rank"))

  /** Hamilton apportionment (q106) over any (lang, n_toks) aggregate — the
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

  /** BM25 top-k retrieval (q81) over any (doc_id, text) frame — the spec replays
    * the exact rational arithmetic driver-side in BigInt.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("a_tot"))
    val tf = toks.filter(col("tok").isInCollection(terms))
      .groupBy(col("doc_id"), col("tok").as("term"))
      .agg(count(lit(1)).as("tfc"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .join(dl.hint("shuffle_hash"), "doc_id")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (expr("(cast(1000000 as decimal(38,0)) * (n_docs - dfc + 1)) div (dfc + 1)")
          .cast("decimal(38,0)") *
          expr("""(cast(1000000 as decimal(38,0)) * 22 * a_tot * tfc) div
                 |(cast(10 as decimal(38,0)) * a_tot * tfc
                 |  + cast(3 as decimal(38,0)) * a_tot
                 |  + cast(9 as decimal(38,0)) * len * n_docs)""".stripMargin)
            .cast("decimal(38,0)")).as("s"))
    val agg = scored.groupBy(col("doc_id"))
      .agg(sum(col("s")).cast("long").as("bm25"))
    agg.orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .orderBy(col("rank"))
  }

  /** Paragraph-granular dedup (q82) over a (doc_id, text) frame keyed by
    * doc_id: each 20-token chunk is kept in the doc with the smallest
    * (doc_id, position) that holds it. One chunk pass: the keeper flag is a
    * window min over the chunk hash, and one aggregate per doc, planned on
    * the range exchange its `orderBy` needs anyway, yields the counts and
    * the clean text. `posexplode_outer` gives a null text its one
    * placeholder row, so every doc keeps its output row.
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val chunks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), expr("(size(ts) + 19) div 20").as("n_chunks"),
        posexplode_outer(expr(
          """transform(sequence(0, cast((size(ts) + 19) div 20 as int) - 1),
            |  i -> array_join(slice(ts, i * 20 + 1, 20), ' '))""".stripMargin))
          .as(Seq("idx", "chunk")))
      .withColumn("pos", col("doc_id") * 1000000 + col("idx"))
    chunks
      .withColumn("kept", col("pos") === min(col("pos")).over(Window.partitionBy(md5(col("chunk")))))
      .repartitionByRange(col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_chunks")).as("n_chunks"),
        count_if(col("kept")).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(if(kept, struct(idx, chunk), null))), " +
          "s -> s.chunk), ' ')").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Per-domain document cap (q86) over any (doc_id, source) frame. */
  def domainCap(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("source"), (col("rn") <= k).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** [[domainCap]]'s MEGA-SOURCE scale path — the two-phase variant the
    * plain window needs when one degenerate domain holds a macroscopic
    * corpus share (its window partition becomes one hot task sorting the
    * whole domain). Classic exact distributed top-k:
    *
    *   1. every doc hash-buckets into one of `buckets` deterministic
    *      sub-cells (`pmod(xxhash64(doc_id), buckets)`); a per-(source,
    *      bucket) window keeps each bucket's k smallest md5 keys — the
    *      global k smallest NECESSARILY survive (each lives in some
    *      bucket, with at most k−1 keys below it anywhere, so at most
    *      k−1 below it in its own bucket). Partition size: domain/buckets.
    *   2. re-rank the ≤ buckets·k survivors per source with the SAME
    *      (md5, doc_id) order and keep rank ≤ k — a bounded partition.
    *
    * Kept set is therefore BIT-IDENTICAL to [[domainCap]]'s (spec-pinned,
    * and q96 gates it against the one-phase ORACLE); dropped docs rejoin
    * via a shuffle-hash left join for the keep/drop verdict output. Cost:
    * two bounded windows + one verdict join instead of one unbounded
    * window — the q48 bucketed-prefix-sum doctrine applied to top-k.
    */
  def domainCapBucketed(docs: DataFrame, k: Int, buckets: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val keyed = docs.select(col("doc_id"), col("source"))
      .withColumn("hk", md5(col("doc_id").cast("string")))
      .withColumn("bk", pmod(xxhash64(col("doc_id")), lit(buckets.toLong)))
    val w1 = Window.partitionBy(col("source"), col("bk"))
      .orderBy(col("hk"), col("doc_id"))
    val w2 = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    val keep = keyed
      .withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= k)
      .withColumn("rn2", row_number().over(w2)).filter(col("rn2") <= k)
      .select(col("doc_id"), lit(true).as("kept"))
    docs.select(col("doc_id"), col("source"))
      .join(keep.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Hot-partition bound for [[domainCapAuto]]'s dispatch: past this many
    * rows in ONE source, the plain window's per-source partition task is
    * sorting a macroscopic corpus share (4M (doc_id, source, md5) rows ≈
    * hundreds of MB in one task's sorter — spill territory) and the
    * two-phase plan wins; under it, the single window measured FASTER
    * (one shuffle + one sort vs two windows + a verdict join; NOTES_bench_mains.md). The same number at 100 TB: domains are millions, so only a
    * degenerate mega-domain ever crosses it.
    */
  val DOMAIN_CAP_HOT: Long = 1L << 22

  /** Adaptive [[domainCap]]: probe the source-size distribution — ONE
    * map-side-combined count aggregate reduced to a single driver Long
    * (the bounded-scalar class) — and dispatch: plain window when no
    * source exceeds `hotThreshold`, [[domainCapBucketed]] when one does.
    * Both branches produce BIT-IDENTICAL verdicts (q96 proves it
    * cross-engine; the dispatch spec pins the plan flip), so the probe is
    * purely a physical-plan decision — the q72/q73 dual-regime doctrine
    * applied to plan choice instead of broadcast shape. The probe costs
    * one extra corpus scan; at the scales where the choice matters the
    * mis-planned window costs a hot task sorting half the corpus.
    */
  def domainCapAuto(docs: DataFrame, k: Int,
                    hotThreshold: Long = DOMAIN_CAP_HOT,
                    buckets: Int = 32): DataFrame = {
    val maxShare = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("m"))
      .collect()(0).getLong(0)
    if (maxShare > hotThreshold) domainCapBucketed(docs, k, buckets)
    else domainCap(docs, k)
  }

  /** The q88 signature stage alone: per source, the 32 permutation minima
    * as columns m0..m31 — one map-side hash pass + one partial-agged
    * groupBy. min is a MERGEABLE aggregate, so the SAME frame builds
    * streaming state (see [[graft.streaming.EventStreams
    * .overlapSignatureIngest]]) — batch and stream cannot diverge because
    * this is literally the shared plan.
    */
  def overlapSignatures(docs: DataFrame): DataFrame = {
    // split ONCE into a column — the naive `slice(split(text), i, 8)` shape
    // re-splits the text per gram position (quadratic in doc length)
    val grams8 = expr(
      """transform(sequence(1, greatest(size(ts) - 7, 1)),
        |  i -> array_join(slice(ts, i, 8), ' '))""".stripMargin)
    val r = graft.scale.Layout.explodeNonNull(
        docs.select(col("source"), split(col("text"), " ").as("ts")), "source", grams8, "gram")
      .select(col("source"), graft.functions.rolling_hash(col("gram")).as("r"))
    val minCols = (0 until 32).map(i =>
      min((lit((2 * i + 3).toLong) * col("r") + lit((11 * i + 7).toLong)) % 2147483647L)
        .as(s"m$i"))
    r.groupBy(col("source")).agg(minCols.head, minCols.tail: _*)
  }
}
