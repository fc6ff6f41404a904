package graft

import graft.doc.{HtmlNode, JsonNode, Mime}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Column-expression DSL for doc extraction (SURVEY §2.11 "Spark mapping":
  * a `spookystuff.sql.functions` set) — the §2.11 Node ops exposed to
  * DataFrame users.
  *
  * Scalar functions (`css_text`, `css_attr`, `json_text`) are NATIVE
  * Catalyst expressions ([[graft.sql]]) — codegen-compatible, null-strict,
  * and parse-cached per thread. Array-returning functions remain Scala UDFs
  * (one parse per row at the extraction boundary, then native ops).
  */
object functions {

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.GraftFunctions.column(e)
  private def ex(c: Column) = org.apache.spark.sql.graft.GraftFunctions.expression(c)

  /** All texts matching a CSS selector. */
  val css_texts: (Column, Column) => Column =
    (html, css) => udfCssTexts(html, css)
  private val udfCssTexts = udf { (html: String, css: String) =>
    if (html == null) Seq.empty[String]
    else HtmlNode.parse(html).findAll(css).map(_.text)
  }

  /** First matching text, null when absent (native expression). */
  def css_text(html: Column, css: Column): Column =
    native(graft.sql.CssText(ex(html), ex(css)))

  /** First matching attribute value (native expression). */
  def css_attr(html: Column, css: Column, attr: Column): Column =
    native(graft.sql.CssAttr(ex(html), ex(css), ex(attr)))

  /** First JSON node text on a recursive-descent path (native expression). */
  def json_text(json: Column, path: Column): Column =
    native(graft.sql.JsonText(ex(json), ex(path)))

  /** Boilerpipe-style main-content extraction (WSDM'10 NumWordsRules) of
    * an HTML column — native codegen, parse-cached (see
    * [[graft.sql.BoilerPipeText]]).
    */
  def boilerpipe(html: Column): Column =
    native(graft.sql.BoilerPipeText(ex(html)))

  /** Dot product of two float32/float64 array columns, double accumulation
    * (native codegen expression — the hot loop of the embedding queries).
    */
  def vec_dot(a: Column, b: Column): Column =
    native(graft.sql.VecDot(ex(a), ex(b)))

  /** Integer dot product of two array<bigint> columns, long accumulation
    * (native codegen — the quantized-embedding exact-arithmetic loop).
    */
  def vec_dot_long(a: Column, b: Column): Column =
    native(graft.sql.VecDotLong(ex(a), ex(b)))

  /** Z-order (Morton) interleave of two bigint dimensions' low 16 bits
    * (native codegen — the multi-dimensional clustering/layout key).
    */
  def zorder2(x: Column, y: Column): Column =
    native(graft.sql.ZOrder2(ex(x), ex(y)))

  /** Bloom membership: all positions (array<bigint>) set in the binary
    * mask (native codegen — the map-side decontamination probe).
    */
  def bloom_contains(mask: Column, positions: Column): Column =
    native(graft.sql.BloomContains(ex(mask), ex(positions)))

  /** Intersection cardinality of two sorted-distinct int64 array columns
    * (native codegen two-pointer merge — the set-similarity verify loop).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    native(graft.sql.SortedIntersectCount(ex(a), ex(b)))

  /** Whole MinHash/set-similarity signature of a text column in one native
    * pass: struct(hset sorted xxhash64 set, n_grams, s1..s6 minhash slices).
    */
  def shingle_signature(text: Column): Column =
    native(graft.sql.ShingleSignature(ex(text)))

  /** n-bit SimHash document fingerprint in one native codegen pass (md5
    * once per distinct whitespace token — the map-side cost of bit-signature
    * near-dup dedup).
    */
  def sim_hash(text: Column, bits: Int): Column =
    native(graft.sql.SimHash(ex(text), bits))

  /** Rabin rolling-hash fingerprint (seed 7, base 31, mod 2^31-1) over a
    * string column's code points — native codegen, empty string = seed.
    */
  def rolling_hash(text: Column): Column =
    native(graft.sql.RollingHash(ex(text)))

  /** Unicode NFC normalization (native codegen; already-normalized
    * strings pass through untouched) — the canonical-composition pass
    * before any hash-based dedup.
    */
  def nfc(text: Column): Column =
    native(graft.sql.NfcNormalize(ex(text)))

  /** KMV distinct-count sketch AGGREGATE: the k smallest 60-bit md5
    * hashes per group as `struct(k int, hs array<bigint>)` (hs sorted
    * ascending; k travels with the sketch so rollups are validatable) —
    * bounded mergeable state, oracle-replicable estimate (see
    * [[graft.sql.KmvSketch]]).
    */
  def kmv_sketch(text: Column, k: Int): Column =
    native(graft.sql.KmvSketch(ex(text), k).toAggregateExpression())

  /** KMV sketch RE-AGGREGATION: union stored `struct(k, hs)` sketches
    * under the k-smallest trim — merge-of-sketches == sketch-of-union
    * (spec-pinned), the rollup that never re-scans raw data. Requires
    * merge-k <= every SATURATED input's stored k (checked; an unsaturated
    * sketch is the exhaustive hash set and merges at any k).
    */
  def kmv_merge(sketch: Column, k: Int): Column =
    native(graft.sql.KmvMerge(ex(sketch), k).toAggregateExpression())

  /** Bounded deterministic SAMPLE aggregate: the k lexicographically
    * smallest `(key, value)` pairs per group, ascending
    * `array<struct<key,val>>` — with a hash key, a mergeable uniform
    * sample (per-shard samples union-trim to the sample of the union;
    * see [[graft.sql.BottomKPairs]]). k pairs of heap state per group —
    * no per-partition sort (vs a rank window's), and stored samples
    * re-aggregate.
    */
  def bottomk_pairs(key: Column, value: Column, k: Int): Column =
    native(graft.sql.BottomKPairs(ex(key), ex(value), k).toAggregateExpression())

  /** Element-wise sum of `array<bigint>` vectors per group — d longs of
    * map-side-combined state instead of a corpus×d (row, pos) explode;
    * the Lloyd-update aggregate (see [[graft.sql.VecSumLong]]).
    */
  def vec_sum_long(vec: Column): Column =
    native(graft.sql.VecSumLong(ex(vec)).toAggregateExpression())

  /** Count-min sketch over a string column: row-major depth×width counter
    * grid as `array<bigint>` — frequency estimation in one map-side pass;
    * stored sketches re-aggregate with [[vec_sum_long]] (counter addition
    * IS the merge). See [[graft.sql.CmSketch]].
    */
  def cm_sketch(value: Column, depth: Int, width: Int): Column =
    native(graft.sql.CmSketch(ex(value), depth, width).toAggregateExpression())

  /** Mergeable ε-guaranteed QUANTILE sketch AGGREGATE over a non-negative
    * integral column: exact counts on the integer-log bucket grid with `m`
    * sub-bucket bits, as `struct(m int, ids array<int>, counts
    * array<bigint>)` — canonical (order-independent), bounded at
    * ~(64−m)·2^(m−1) counters, quantiles carry deterministic relative
    * error ≤ 2^−m (see [[graft.sql.QhistSketch]]). Read quantiles with
    * [[qhist_value]]; roll stored sketches up with [[qhist_merge]].
    */
  def qhist_sketch(value: Column, m: Int): Column =
    native(graft.sql.QhistSketch(ex(value), m).toAggregateExpression())

  /** WEIGHTED qhist AGGREGATE: each row contributes `weight` counts to
    * its value's bucket — quantiles BY MASS (value = doc length, weight =
    * token count ⇒ "the median token lives in a doc of what length").
    * Same wire shape, same merge, same oracle-exactness as
    * [[qhist_sketch]] (see [[graft.sql.QhistSketchW]]).
    */
  def qhist_sketch_weighted(value: Column, weight: Column, m: Int): Column =
    native(graft.sql.QhistSketchW(ex(value), ex(weight), m).toAggregateExpression())

  /** Qhist RE-AGGREGATION: exact counter addition of stored sketches —
    * rollup-of-sketches is bit-identical to the sketch of the union
    * (q130 gates it); stored m must equal merge-m (checked loudly).
    */
  def qhist_merge(sketch: Column, m: Int): Column =
    native(graft.sql.QhistMerge(ex(sketch), m).toAggregateExpression())

  /** Total count of values in a qhist sketch (exact). */
  def qhist_n(sketch: Column): Column = {
    import org.apache.spark.sql.functions._
    aggregate(sketch.getField("counts"), lit(0L), (a, x) => a + x)
  }

  /** The `permille/1000` quantile of a qhist sketch, DECLARATIVELY (the
    * KMV doctrine — the estimate is plain Catalyst arithmetic downstream
    * of the aggregate, codegen'd, and an oracle replays it exactly):
    * integer rank `permille·(n−1) div 1000` in DECIMAL arithmetic — the
    * product fits decimal(25,0) for the full long domain of n and the
    * quotient's 3 fractional digits fit the division's result scale, so
    * the floor is exact unconditionally, matching the oracle's integer
    * `// 1000` with no double anywhere — a prefix walk to the first bucket whose
    * cumulative count exceeds the rank, then the midpoint representative
    * `(sub << s) + 2^(s−1) − 1` (exact value below 2^m). `m` must match
    * the sketch's stored grid — a mismatch raises at runtime rather than
    * dequantizing on the wrong grid. Null for an empty sketch.
    */
  def qhist_value(sketch: Column, permille: Int, m: Int): Column = {
    require(permille >= 0 && permille <= 1000,
      s"qhist_value: permille must be in [0, 1000], got $permille")
    require(m >= 2 && m <= 16, s"qhist_value: 2 <= m <= 16, got $m")
    import org.apache.spark.sql.functions._
    val ids = sketch.getField("ids")
    val counts = sketch.getField("counts")
    val n = aggregate(counts, lit(0L), (a, x) => a + x)
    val rank = floor(lit(permille).cast("decimal(4,0)") * (n - lit(1L)).cast("decimal(20,0)")
      / lit(1000).cast("decimal(4,0)")).cast("long")
    // first bucket whose cumulative count exceeds rank: a fold over the
    // ascending (id, count) pairs — hit stays -1 until the rank is crossed
    val walk = aggregate(
      zip_with(ids, counts, (i, c) => struct(i.as("id"), c.as("cnt"))),
      struct(lit(0L).as("cum"), lit(-1).as("hit")),
      (acc, x) => {
        val cum = acc.getField("cum") + x.getField("cnt")
        struct(cum.as("cum"),
          when(acc.getField("hit") >= 0, acc.getField("hit"))
            .otherwise(when(cum > rank, x.getField("id")).otherwise(lit(-1)))
            .as("hit"))
      })
    val id = walk.getField("hit")
    // dequantize: ids below 2^m are exact single-value buckets; above,
    // shift s = (id >> (m−1)) − 1, sub = id − s·2^(m−1), midpoint
    // representative (sub << s) + 2^(s−1) − 1
    val s = shiftright(id, m - 1) - lit(1)
    val subReal = id.cast("long") - s.cast("long") * lit(1L << (m - 1))
    val rep = when(id < lit(1 << m), id.cast("long"))
      .otherwise(
        call_function("shiftleft", subReal, s) +
          call_function("shiftleft", lit(1L), s - lit(1)) - lit(1L))
    val checked = when(sketch.getField("m") === lit(m), rep)
      .otherwise(raise_error(concat(
        lit(s"qhist_value(m=$m): sketch was quantized on m="),
        sketch.getField("m").cast("string"),
        lit(" — dequantizing on the wrong grid is unsound"))).cast("long"))
    when(n === lit(0L), lit(null).cast("long")).otherwise(checked)
  }

  /** Distinct k-token grams whose md5 low nibble ≡ 0 (mod p) — the
    * content-defined anchor sample driving exact-substring dedup (q53).
    * p=1 keeps every gram (exhaustive span detection ≥ k tokens).
    */
  def anchor_grams(text: Column, k: Int, p: Int): Column =
    native(graft.sql.AnchorGrams(ex(text), k, p))

  /** Positional anchors `array<struct<pos,gram>>` — every token position
    * whose k-gram passes the [[anchor_grams]] mod-p gate, repeats kept
    * (one entry per occurrence): the input to span-granular removal-list
    * dedup ([[graft.llm.Substring.substringRemovalSpans]]).
    */
  def anchor_spans(text: Column, k: Int, p: Int): Column =
    native(graft.sql.AnchorSpans(ex(text), k, p))

  /** Winnowing fingerprints (SIGMOD'03): distinct k-token grams at the
    * min-hash position of every w consecutive grams — detection of shared
    * spans ≥ w+k−1 tokens is GUARANTEED (vs [[anchor_grams]]' probabilistic
    * mod-p sample).
    */
  def winnow_grams(text: Column, k: Int, w: Int): Column =
    native(graft.sql.WinnowGrams(ex(text), k, w))

  /** Positional winnowing fingerprints `array<struct<pos,gram>>` — the
    * [[anchor_spans]] of the winnowing family: selected window-min
    * positions, carrying the SIGMOD'03 guarantee into span-granular
    * removal lists.
    */
  def winnow_spans(text: Column, k: Int, w: Int): Column =
    native(graft.sql.WinnowSpans(ex(text), k, w))

  /** BPE token sequence of a text column under a fixed merge table
    * (rank-ordered single left-to-right passes per word; `</w>` word
    * marker) — the apply stage of [[graft.llm.Bpe]].
    */
  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    native(graft.sql.BpeEncode(ex(text), merges))

  /** Word-n-gram repetition stats `struct(n_grams, n_distinct, top_count)`
    * in one native pass — the Gopher/C4 repetition quality filters derive
    * as `1 - n_distinct/n_grams` and `top_count/n_grams`.
    */
  def ngram_rep_stats(text: Column, n: Int): Column =
    native(graft.sql.NgramRepStats(ex(text), n))

  /** Canonical crawl form of an absolute URL — fragment dropped, case/port/
    * dot-segment/percent normalization, query sorted with tracking params
    * stripped. The frontier-dedup key maker (native codegen expression).
    */
  def url_normalize(url: Column): Column =
    native(graft.sql.UrlNormalize(ex(url)))

  /** RFC 9309 allow/deny of (robots_txt, user_agent, url) — bulk frontier
    * filtering against archived robots corpora (native codegen expression;
    * the robots body parses once per distinct value per thread).
    */
  def robots_allowed(robots: Column, agent: Column, url: Column): Column =
    native(graft.sql.RobotsAllowed(ex(robots), ex(agent), ex(url)))

  /** All absolutized hrefs of matching elements. */
  def css_hrefs(html: Column, css: Column, baseUri: Column): Column =
    udfCssHrefs(html, css, baseUri)
  private val udfCssHrefs = udf { (html: String, css: String, base: String) =>
    if (html == null) Seq.empty[String]
    else HtmlNode.parse(html, Option(base).getOrElse("")).findAll(css).flatMap(_.href)
  }

  /** Recursive JSON field select (reference JSON node navigation): all values
    * of `path` (dot-separated, arrays exploded) as strings.
    */
  def json_texts(json: Column, path: Column): Column = udfJsonTexts(json, path)
  private val udfJsonTexts = udf { (json: String, path: String) =>
    if (json == null) Seq.empty[String]
    else try JsonNode.parse(json).findAll(path).map(_.text)
    catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
  }

  /** Article-text heuristic (reference boilerPipe). */
  def boilerpipe_text(html: Column): Column = udfBoilerpipe(html)
  private val udfBoilerpipe = udf { (html: String) =>
    if (html == null) "" else HtmlNode.parse(html).boilerPipe
  }

  /** Mime sniff of a binary payload (reference content-type detection). */
  def sniff_mime(content: Column, uri: Column): Column = udfSniff(content, uri)
  private val udfSniff = udf { (content: Array[Byte], uri: String) =>
    Mime.sniff(Option(uri).getOrElse(""), Option(content).getOrElse(Array.empty))
  }
}
