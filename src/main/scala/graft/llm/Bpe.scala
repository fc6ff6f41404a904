package graft.llm

import graft.scale.Held

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenization (Sennrich et al. ACL'16),
  * trained and applied Spark-first:
  *
  * **Training** scans the corpus ONCE — a map-side-combined word-count
  * aggregate — and then iterates on the (bounded, vocabulary-sized)
  * word-frequency table: each merge round explodes adjacent symbol pairs,
  * sums frequencies, and takes the argmax with a fully deterministic
  * tie-break (max count, then lexicographically smallest pair), so the
  * merge table is a pure function of the corpus' word multiset —
  * independent of partitioning, task order, or parallelism (spec-pinned by
  * training the same docs under different repartitionings). Only a
  * bounded top slice of pairs is ever collected per round; the symbol
  * table stays distributed and is re-cut every 8 merges (a
  * [[graft.scale.Held]] frame that releases the previous one) to keep
  * lineage flat. At 100 TB the corpus pass is the only corpus-scale work; rounds
  * cost vocabulary-sized shuffles.
  *
  * **Apply** ([[BpeEncode]] via `graft.functions.bpe_encode`) broadcasts
  * the merge list inside the expression and tokenizes each doc in one JVM
  * pass: per word, each merge (in rank order) makes a single
  * left-to-right non-overlapping pass — exactly the semantics a chain of
  * literal `replace()` calls has, which is what lets the DuckDB oracle
  * replay the merge table as nested replaces over a symbol-guarded string
  * (q55). Token ids are a dictionary join away (tokens are strings; the
  * vocabulary is `chars ∪ merged symbols`) — counts and token strings are
  * what the pipeline operators consume.
  *
  * Every word carries a terminal `</w>` symbol (the classic end-of-word
  * marker), so merges can learn suffixes without crossing word borders.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Symbols of one word: its characters (code points) + the terminal
    * marker. The empty word (split artifacts) is just the marker.
    */
  private[graft] def symbolsOf(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += EndOfWord
    out.toArray
  }

  /** One left-to-right non-overlapping merge pass on a symbol-array column
    * (the training-side twin of [[BpeEncode]]'s per-merge pass): fold the
    * array, merging `last == l && next == r` into `l+r`, never re-matching
    * the freshly merged symbol on the same pass.
    */
  private def mergeStep(syms: Column, l: String, r: String): Column = {
    val merged = lit(l + r)
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r) &&
          // non-overlap: if acc's last element was itself produced by this
          // pass it is `l+r`, not `l` — the equality test handles that
          // naturally; this comment pins the intent
          lit(true),
        concat(slice(acc, lit(1), greatest(size(acc) - 1, lit(0))), array(merged)))
        .otherwise(concat(acc, array(x))))
  }

  /** The word-frequency symbol table both trainers iterate on: one
    * map-side-combined aggregate over the corpus (the only corpus-scale
    * work), a `held` frame so every merge round reads executor blocks.
    */
  private def wordSyms(docs: DataFrame, held: Held): DataFrame = {
    val symsOf = udf((w: String) => symbolsOf(w))
    held.frame(docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(symsOf(col("word")).as("syms"), col("freq")))
  }

  /** Adjacent-pair frequency table of the current symbol sequences, ranked
    * — the per-round counting aggregate of [[trainBatched]].
    */
  private def pairCounts(seqs: DataFrame): DataFrame =
    seqs.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc)

  /** Train `nMerges` BPE merges on (doc_id, text) docs. Returns the merge
    * table in rank order — bounded at nMerges rows by construction, so a
    * driver-side Seq is the honest representation (the PQ-codebook
    * precedent). Stops early if no adjacent pair remains. Exact sequential
    * BPE: one merge — the top pair — per counting round, which is
    * [[trainBatched]] with batches of one (its first candidate is always
    * selected).
    */
  def train(docs: DataFrame, nMerges: Int): Seq[(String, String)] =
    trainBatched(docs, nMerges, 1)

  /** [[train]] with BATCHED merge selection — the job-count fix for big
    * vocabularies: one Spark job per merge means a 32k-merge training run
    * is 32k sequential jobs, driver-bound by job launch, not data. Each
    * round counts pairs ONCE, takes the top slice, and greedily selects up
    * to `batch` pairs that provably CANNOT INTERACT, then applies them in
    * one lazy column-rewrite pass — ~nMerges/batch counting jobs total.
    *
    * Non-interaction rule (exact): applying (l₁,r₁) leaves the count of a
    * later candidate (l₂,r₂) unchanged iff l₂ ≠ r₁ (merging consumes
    * (r₁,x) adjacencies), r₂ ≠ l₁ (consumes (x,l₁)), and neither l₂ nor
    * r₂ equals the created symbol l₁+r₁ (whose occurrence count the merge
    * grows). Shared LEFTS and shared RIGHTS are fine — (n,·) and (t,·)
    * both ending in the same right symbol never touch each other's
    * occurrences. Conflicting candidates are deferred to the next round's
    * recount, and the first candidate is always selected, so every round
    * progresses.
    *
    * Contract vs [[train]]: within a batch the selected ranks are exactly
    * the sequential ranks (counts invariant by the rule above), so the two
    * trainers agree IDENTICALLY whenever no merge DERIVES a pair that
    * outranks a later batch member and no conflict forces a skip — the
    * spec pins that parity on such a corpus. On interaction-heavy corpora
    * (the sf0.001 table's ("e","r") → ("er","</w>") chain) batched
    * selection is the standard throughput approximation every production
    * BPE trainer makes; q55's gate stays on [[train]]'s exact sequential
    * semantics.
    *
    * The symbol table is re-cut every 8 merges as a
    * [[graft.scale.Held.frame]] that releases the previous one, and the
    * last is released before returning.
    */
  def trainBatched(docs: DataFrame, nMerges: Int, batch: Int = 8): Seq[(String, String)] = {
    require(batch >= 1, s"batch must be >= 1: $batch")
    val held = new Held(docs.sparkSession.sparkContext)
    var seqs = wordSyms(docs, held)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    var sinceCp = 0
    while (merges.size < nMerges && !done) {
      val want = math.min(batch, nMerges - merges.size)
      // rank slice: a bounded driver collect (4x oversampled so skipped
      // conflicts rarely starve a round)
      val top = pairCounts(seqs).limit(want * 4).collect()
      if (top.isEmpty) done = true
      else {
        val lefts = scala.collection.mutable.Set.empty[String]
        val rights = scala.collection.mutable.Set.empty[String]
        val made = scala.collection.mutable.Set.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        top.iterator.foreach { row =>
          if (sel.size < want) {
            val (l, r) = (row.getString(0), row.getString(1))
            if (!rights.contains(l) && !made.contains(l) &&
                !lefts.contains(r) && !made.contains(r)) {
              sel += ((l, r)); lefts += l; rights += r; made += (l + r)
            }
          }
        }
        merges ++= sel
        seqs = sel.foldLeft(seqs)((s, p) =>
          s.withColumn("syms", mergeStep(col("syms"), p._1, p._2)))
        sinceCp += sel.size
        // flat lineage: ~8 aggregate-HOF rewrites per checkpoint segment
        if (sinceCp >= 8 && merges.size < nMerges) {
          seqs = held.frame(seqs); sinceCp = 0
        }
      }
    }
    held.release()
    merges.toSeq
  }

  /** Deterministic token-id vocabulary for a trained merge table over a
    * corpus: every distinct token the encoder emits (single symbols that
    * survive + merged symbols), id-assigned by frequency rank with a
    * lexicographic tie-break — the id table is a pure function of (corpus
    * word multiset, merges), independent of partitioning. One aggregate
    * over the corpus token stream; the result is vocabulary-sized.
    */
  def vocab(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      explode(graft.functions.bpe_encode(col("text"), merges)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    // global window over the ALREADY-AGGREGATED vocabulary — bounded
    // (|chars| + nMerges upper-bounds distinct tokens' growth per merge;
    // in practice vocab-sized), the same dimension-table ranking shape as
    // LangId's per-lang topN, not a corpus-sized sort
    toks.withColumn("token_id",
        row_number().over(Window.orderBy(col("freq").desc, col("token"))).cast("long") - 1)
      .select(col("token_id"), col("token"), col("freq"))
  }

  /** Encode docs to token-ID sequences: tokens explode, join the (tiny,
    * broadcast) vocabulary, and re-assemble in order. Tokens outside the
    * vocabulary map to id -1 (the OOV contract — a vocab trained on the
    * same corpus never produces one).
    */
  def encodeIds(docs: DataFrame, merges: Seq[(String, String)],
                vocabDf: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(graft.functions.bpe_encode(col("text"), merges))
        .as(Seq("pos", "token")))
    toks.join(broadcast(vocabDf.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"),
          coalesce(col("token_id"), lit(-1L)).as("tid")))).as("ps"))
      .select(col("doc_id"),
        expr("transform(ps, x -> x.tid)").as("token_ids"))
  }

  /** The frozen merge table the q55 oracle replays — trained ONCE by
    * [[train]] on the sf0.001 corpus (nMerges=16, via `runMain
    * graft.BpeTrain /root/testdata/sf0.001 16`) and pinned here so the
    * DuckDB side can replay the identical table as a static replace chain
    * (the same trained-once-frozen-for-the-oracle pattern as the q51 PQ
    * codebook; [[train]] remains the production path). The determinism
    * spec re-derives merges from fixtures; q55 hash-gates the apply stage
    * at sf0.01 AND sf0.1 against the oracle's replay of this exact table.
    */
  val CanonicalMerges: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("e", "</w>"),
    ("n", "</w>"),
    ("o", "r"),
    ("t", "</w>"),
    ("er", "</w>"),
    ("o", "w"),
    ("ow", "</w>"),
    ("l", "u"),
    ("i", "n"),
    ("y", "</w>"),
    ("a", "r"),
    ("p", "ar"),
    ("g", "</w>"),
    ("a", "s"),
    ("h", "</w>")
  )
}
