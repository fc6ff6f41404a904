package graft

import graft.llm.{Corpus, Substring}
import graft.queries.TextQ

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the trained text operators that the oracle-gated queries don't
  * cover (the driver corpus's `lang` labels are only weakly correlated with
  * its word-soup text — the q22 marker heuristic itself scores ~0.30
  * accuracy there — so LID quality must be demonstrated where trigram
  * signal actually exists).
  */
class TextOpsSpec extends AnyFunSuite {

  import SparkFixture._

  /** Three constructed "languages" with disjoint-ish syllable inventories —
    * the shape real language ID exploits (character n-gram distributions
    * differ), deterministic via the seeded RNG.
    */
  private def corpus() = {
    val s = spark
    import s.implicits._
    val inventories = Map(
      "aa" -> Seq("kalo", "miret", "tanur", "dolen", "rakim", "lunet"),
      "bb" -> Seq("zhuqi", "xieweng", "qingshu", "weilan", "shuofeng", "liuxia"),
      "cc" -> Seq("bjorn", "svengrim", "thalvik", "grimdal", "vostheim", "skjold"))
    val rnd = new scala.util.Random(7)
    val rows = for {
      (lang, words) <- inventories.toSeq
      i <- 0 until 60
    } yield {
      val text = Seq.fill(30)(words(rnd.nextInt(words.size))).mkString(" ")
      (lang.hashCode.toLong * 1000 + i, lang, text)
    }
    rows.toDF("doc_id", "lang", "text")
  }

  test("LangId: trigram-lift profiles learn constructed languages near-perfectly") {
    val docs = corpus()
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 === 1)
    val profiles = TextQ.LangId.train(train)
    // lift weighting: every language's profile exists and is bounded
    val perLang = profiles.groupBy("p_lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.keySet == Set("aa", "bb", "cc"))
    assert(perLang.values.forall(n => n > 0 && n <= 64))
    val pred = TextQ.LangId.predict(test, profiles)
    val n = test.count()
    val ok = pred.filter(col("pred_lang") === col("lang")).count()
    assert(ok.toDouble / n >= 0.95,
      s"trained LID should be near-perfect on disjoint inventories: $ok/$n")
  }

  test("LangId: docs with no profile trigram keep a null prediction (left join contract)") {
    val s = spark
    import s.implicits._
    val profiles = TextQ.LangId.train(corpus())
    val alien = Seq((1L, "???", "0101 0101 0101 0101 0101 0101")).toDF("doc_id", "lang", "text")
    val pred = TextQ.LangId.predict(alien, profiles).collect().head
    assert(pred.isNullAt(pred.fieldIndex("pred_lang")))
  }

  test("LangId edge cases: empty training corpus, short/empty texts") {
    val s = spark
    import s.implicits._
    val docs = corpus()
    // empty training slice: an empty profile frame, not an NPE
    assert(TextQ.LangId.train(docs.filter(col("doc_id") < 0)).count() == 0)
    // texts under 3 chars emit no trigrams: they can't poison a profile...
    val withShorts = docs.union(
      Seq((9001L, "aa", ""), (9002L, "aa", "ab")).toDF("doc_id", "lang", "text"))
    val profiles = TextQ.LangId.train(withShorts)
    assert(profiles.filter(col("tri") === "" || length(col("tri")) < 3).count() == 0)
    // ...and they predict null instead of inheriting someone's empty-gram
    val shortPred = TextQ.LangId.predict(
      Seq((1L, "aa", "xy")).toDF("doc_id", "lang", "text"), profiles).collect().head
    assert(shortPred.isNullAt(shortPred.fieldIndex("pred_lang")))
  }

  // ---- exact-substring dedup (q53 operator) --------------------------------

  /** 60 word-soup docs (seeded RNG — with a 200-word vocabulary an
    * accidental exact 12-gram collision is essentially impossible), with
    * planted exact spans: a 40-token span in docs 1/2/3 at different
    * offsets, a 20-token span in docs 10/11, and an 11-token span (one
    * BELOW k=12) in docs 20/21 that must never be reported.
    */
  private def plantedSpanDocs() = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 200).map(i => s"w$i")
    def soup(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val span40 = (0 until 40).map(i => s"dup$i")
    val span20 = (0 until 20).map(i => s"copy$i")
    val span11 = (0 until 11).map(i => s"sub$i")
    def doc(id: Long, parts: Seq[String]*) = (id, parts.flatten.mkString(" "))
    val docs = Seq(
      doc(1L, soup(20), span40, soup(20)),
      doc(2L, span40, soup(50)),
      doc(3L, soup(45), span40),
      doc(10L, soup(30), span20, soup(10)),
      doc(11L, soup(5), span20, soup(40)),
      doc(20L, soup(25), span11, soup(25)),
      doc(21L, span11, soup(60))
    ) ++ (30L until 83L).map(i => doc(i, soup(80)))
    docs.toDF("doc_id", "text")
  }

  /** Brute positional reference: all k-grams per doc (q50 slice-truncation
    * convention), pairs sharing >= 1 gram passing `keep`, with distinct
    * shared-gram counts.
    */
  private def bruteSpanPairs(rows: Seq[(Long, String)], k: Int,
                             keep: String => Boolean): Map[(Long, Long), Long] = {
    val gramsOf = rows.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val n = math.max(toks.length - k + 1, 1)
      id -> (0 until n).map(i => toks.slice(i, i + k).mkString(" ")).toSet.filter(keep)
    }.toMap
    (for {
      (a, ga) <- gramsOf.toSeq; (b, gb) <- gramsOf.toSeq if a < b
      shared = (ga intersect gb).size if shared > 0
    } yield (a, b) -> shared.toLong).toMap
  }

  private def md5LastHex(s: String): Char = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "0123456789abcdef".charAt(d(15) & 0x0F)
  }

  test("substring dedup, p=1: exactly the planted >= k-token span pairs, counts match brute scan") {
    val docs = plantedSpanDocs()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = bruteSpanPairs(rows, k = 12, _ => true)
    // the planted structure and nothing else: sub-threshold span invisible
    assert(expected.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    // a 40-token span carries 40-12+1 = 29 shared grams
    assert(expected((1L, 2L)) == 29L && expected((10L, 11L)) == 9L)
    val got = Substring.substringDedupPairs(docs, k = 12, p = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("substring dedup, p=4: brute-force anchor semantics; long planted spans still found") {
    val docs = plantedSpanDocs()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = bruteSpanPairs(rows, k = 12,
      g => "048c".contains(md5LastHex(g)))
    val got = Substring.substringDedupPairs(docs, k = 12, p = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    // sampling only thins counts, never invents pairs
    val full = bruteSpanPairs(rows, k = 12, _ => true)
    assert(got.keySet.subsetOf(full.keySet))
    // the 29- and 9-gram planted spans survive 1/4 sampling (deterministic
    // for this fixed content — the anchors ride the span's own tokens)
    assert(got.contains((1L, 2L)) && got.contains((10L, 11L)))
  }

  /** Brute winnowing reference: grams (q50 truncation convention), md5-hex
    * hashes, rightmost window minimum per w-window; global rightmost min
    * when fewer than w windows.
    */
  private def bruteWinnow(text: String, k: Int, w: Int): Seq[String] = {
    val toks = text.split(" ", -1)
    val m = math.max(toks.length - k + 1, 1)
    val grams = (0 until m).map(i => toks.slice(i, i + k).mkString(" "))
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val hs = grams.map(hex)
    val sel = scala.collection.mutable.LinkedHashSet.empty[String]
    if (m <= w) {
      var best = 0
      (1 until m).foreach(i => if (hs(i) <= hs(best)) best = i)
      sel += grams(best)
    } else {
      (0 to m - w).foreach { s =>
        var best = s
        (s + 1 until s + w).foreach(i => if (hs(i) <= hs(best)) best = i)
        sel += grams(best)
      }
    }
    sel.toSeq
  }

  test("winnow_grams: native == brute reference, including ties and short docs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 50).map(i => s"t$i")
    val docs = (Seq(
      "",                                      // empty: one "" gram
      "a b c",                                 // under k
      Seq.fill(30)("same").mkString(" "),      // all grams identical (ties)
      (0 until 25).map(i => s"x${i % 3}").mkString(" ") // periodic ties
    ) ++ (0 until 20).map(_ =>
      Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("text")
    val k = 4; val w = 5
    val rows = docs.select(col("text"),
      graft.functions.winnow_grams(col("text"), k, w).as("g")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == bruteWinnow(r.getString(0), k, w),
        s"mismatch for '${r.getString(0).take(40)}...'")
    }
  }

  test("winnowed substring dedup: spans >= w+k-1 tokens are ALWAYS detected") {
    val s = spark
    import s.implicits._
    val k = 12; val w = 8
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 300).map(i => s"v$i")
    def soup(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    // exactly the guarantee threshold: w+k-1 = 19 tokens, at several offsets
    val span = (0 until (w + k - 1)).map(i => s"g$i")
    val docs = (0 until 6).map { i =>
      (i.toLong, (soup(5 + 7 * i) ++ span ++ soup(40 - 5 * i)).mkString(" "))
    } ++ (100L until 140L).map(i => (i, soup(60).mkString(" ")))
    val got = Substring.substringDedupPairsWinnowed(docs.toDF("doc_id", "text"), k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all 15 pairs among the 6 span-carrying docs — no misses, by theorem
    val expected = (for {
      a <- 0L until 6L; b <- 0L until 6L if a < b
    } yield (a, b)).toSet
    assert(expected.subsetOf(got))
    // and nothing else: accidental 12-gram collisions in 300-word soup
    // are essentially impossible
    assert(got == expected)
  }

  test("incremental substring dedup: composed batches reconstruct the full-corpus pairs") {
    val all = plantedSpanDocs()
    val batchTruth = Substring.substringDedupPairs(all, k = 12, p = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // arrival order: {1,10,20,21,noise} first, then {2,11}, then {3} — every
    // planted pair completes in the batch where its LATER member arrives
    val init = all.filter(!col("doc_id").isin(2L, 11L, 3L))
    val b1 = all.filter(col("doc_id").isin(2L, 11L))
    val b2 = all.filter(col("doc_id") === 3L)

    val initPairs = Substring.substringDedupPairs(init, k = 12, p = 4)
    assert(initPairs.isEmpty) // no planted pair is complete yet
    var index = Substring.anchorIndex(init)
    val (idx1, pairs1) = Substring.incrementalSubstringPairs(init.union(b1), index, b1)
    assert(pairs1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (10L, 11L)))
    index = index.union(idx1)
    val (idx2, pairs2) = Substring.incrementalSubstringPairs(all, index, b2)
    assert(pairs2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 3L), (2L, 3L)))
    index = index.union(idx2)

    // composed pairs == full batch recompute, n_shared included
    val composed = (initPairs.collect() ++ pairs1.collect() ++ pairs2.collect())
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(composed == batchTruth)
    // and the maintained index is exactly the full corpus anchor index
    val full = Substring.anchorIndex(all).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(index.collect().map(r => (r.getLong(0), r.getString(1))).toSet == full)
  }

  // ---- span-granular removal lists (q63 operator) --------------------------

  /** Brute reference for [[Substring.substringRemovalSpans]]: positional
    * k-grams per doc (repeats kept — each occurrence removable), grams
    * with >= 2 occurrences globally elect keeper = min (doc_id, pos),
    * every other occurrence becomes [pos, min(pos+k, n_toks)), merged
    * per doc (touching intervals coalesce).
    */
  private def bruteRemoval(rows: Seq[(Long, String)], k: Int,
                           keep: String => Boolean): Map[Long, (Long, Long)] = {
    val occ = for {
      (id, text) <- rows
      toks = text.split(" ", -1)
      n = math.max(toks.length - k + 1, 1)
      i <- 0 until n
      gram = toks.slice(i, i + k).mkString(" ")
      if keep(gram)
    } yield (gram, id, i, math.min(i + k, toks.length))
    occ.groupBy(_._1).filter(_._2.size >= 2)
      .values.flatMap(_.sortBy(o => (o._2, o._3)).tail)
      .groupBy(_._2).map { case (id, rs) =>
        val iv = rs.map(r => (r._3, r._4)).toSeq.sorted
        val merged = iv.tail.foldLeft(List(iv.head)) { case (acc, (s, e)) =>
          if (s <= acc.head._2) (acc.head._1, math.max(acc.head._2, e)) :: acc.tail
          else (s, e) :: acc
        }
        id -> (merged.size.toLong, merged.map(m => m._2 - m._1).sum.toLong)
      }
  }

  test("substring removal spans, p=1: keeper survives, every other planted occurrence removed; == brute") {
    val docs = plantedSpanDocs()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = bruteRemoval(rows, k = 12, _ => true)
    // the planted structure: doc 1 keeps span40 (min doc_id), docs 2/3
    // lose all 40 tokens; doc 10 keeps span20, doc 11 loses 20; the
    // 11-token span (below k) is invisible
    assert(expected.keySet == Set(2L, 3L, 11L))
    assert(expected(2L) == ((1L, 40L)) && expected(3L) == ((1L, 40L)) &&
      expected(11L) == ((1L, 20L)))
    val got = Substring.substringRemovalSpans(docs, k = 12, p = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("substring removal spans, p=4: brute anchor semantics on the planted fixture") {
    val docs = plantedSpanDocs()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = bruteRemoval(rows, k = 12, g => "048c".contains(md5LastHex(g)))
    val got = Substring.substringRemovalSpans(docs, k = 12, p = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("1000-doc shared span: removal lists are O(occurrences) — 999 one-span rows, no pair table") {
    // the boilerplate case that kills the pair mode by result-set identity
    // (10^6/2 pairs): span-granular output is one removal row per
    // non-keeper occurrence
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 5000).map(i => s"u$i")
    def soup(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val boiler = (0 until 20).map(i => s"footer$i")
    // doc-unique sentinels fence the span: otherwise two docs drawing the
    // same random token right before the boiler share a 21-token span
    val docs = (0L until 1000L).map { id =>
      (id, (soup(5 + (id % 7).toInt) ++ (s"pre$id" +: boiler :+ s"post$id")
        ++ soup(8)).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Substring.substringRemovalSpans(docs, k = 12, p = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 0 is the global-min keeper; every other doc loses exactly the
    // 20-token boilerplate span, merged to ONE interval
    assert(got.length == 999 && !got.exists(_._1 == 0L))
    assert(got.forall { case (_, nSpans, nToks) => nSpans == 1L && nToks == 20L })
  }

  test("substring scrub: removal lists APPLIED — keeper keeps its span, others lose exactly it") {
    val docs = plantedSpanDocs()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val got = Substring.substringScrub(docs, k = 12, p = 1)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.keySet == rows.keySet) // every doc present
    // brute expectation: drop tokens covered by brute removal intervals
    val expected = bruteRemoval(rows.toSeq, k = 12, _ => true)
    rows.foreach { case (id, text) =>
      val (clean, nRemoved) = got(id)
      expected.get(id) match {
        case None =>
          assert(clean == text && nRemoved == 0L, s"untouched doc $id must round-trip verbatim")
        case Some((_, expRemoved)) =>
          assert(nRemoved == expRemoved)
          val toks = text.split(" ", -1)
          assert(clean.split(" ", -1).length == toks.length - expRemoved,
            s"doc $id token count after scrub")
      }
    }
    // the planted spans specifically: doc 1 keeps its 40-token span, docs
    // 2/3 lose every dupN token; doc 10 keeps, 11 loses every copyN
    assert(got(1L)._1.contains("dup0") && got(1L)._1.contains("dup39"))
    assert(!got(2L)._1.contains("dup") && !got(3L)._1.contains("dup"))
    assert(got(10L)._1.contains("copy0") && !got(11L)._1.contains("copy"))
  }

  test("winnowed removal lists: spans >= w+k-1 tokens ALWAYS lose an interval on the non-keeper") {
    val s = spark
    import s.implicits._
    val k = 5; val w = 4
    // many planted pairs at the guarantee threshold w+k-1 = 8 tokens,
    // random surroundings — detection must hold for EVERY seed, not on
    // average (the mod-p sampler would miss some of these short spans)
    val rnd = new scala.util.Random(99)
    val vocab = (0 until 500).map(i => s"v$i")
    def soup(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val docs = (0 until 20).flatMap { g =>
      val span = (0 until 8).map(i => s"g${g}s$i") // exactly w+k-1
      Seq((2L * g, (soup(6) ++ (s"pre${2 * g}" +: span :+ s"post${2 * g}") ++ soup(5)).mkString(" ")),
        (2L * g + 1, ((s"pre${2 * g + 1}" +: span :+ s"post${2 * g + 1}") ++ soup(9)).mkString(" ")))
    }.toDF("doc_id", "text")
    val got = Substring.substringRemovalIntervalsWinnowed(docs, k = k, w = w)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getInt(1)))).toMap
    (0 until 20).foreach { g =>
      // keeper = even doc (smaller id); the odd doc MUST lose something
      assert(got.contains(2L * g + 1),
        s"pair $g: guarantee violated — non-keeper doc has no removal")
      assert(!got.contains(2L * g),
        s"pair $g: keeper doc ${2 * g} lost an interval it should keep")
    }
  }

  test("incremental removal lists: composed batches == full recompute; keepers monotone") {
    val s = spark
    import s.implicits._
    // planted docs + a LATE arrival (doc 90) repeating doc 1's 40-token
    // span — the cross-batch case: its removal must come from the
    // PERSISTED index, not a corpus rescan
    val rnd = new scala.util.Random(77)
    val vocab = (0 until 200).map(i => s"x$i")
    def soup(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val span40 = (0 until 40).map(i => s"dup$i")
    val late = Seq((90L, (soup(12) ++ span40 ++ soup(9)).mkString(" ")))
      .toDF("doc_id", "text")
    val all = plantedSpanDocs().union(late)
    def ivMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getInt(1)))).toMap
    val full = ivMap(Substring.substringRemovalIntervals(all, k = 12, p = 1))
    // arrival batches in doc_id order (keeper monotonicity's precondition)
    val batches = Seq(all.filter(col("doc_id") < 10L),
      all.filter(col("doc_id") >= 10L && col("doc_id") < 85L),
      all.filter(col("doc_id") >= 85L))
    var idx: org.apache.spark.sql.DataFrame = null
    val composed = scala.collection.mutable.Map.empty[Long, Seq[(Int, Int)]]
    batches.foreach { b =>
      val (ni, iv) = Substring.incrementalRemovalIntervals(idx, b, k = 12, p = 1)
      idx = ni
      composed ++= ivMap(iv)
    }
    assert(composed.toMap == full,
      s"composed ${composed.toMap} != full $full")
    // the late arrival was deduped against batch-0 history: keeper doc 1
    // survives, doc 90 loses all 40 tokens
    assert(full(90L).map(iv => iv._2 - iv._1).sum == 40)
    assert(!full.contains(1L))
    // the maintained index equals the full-corpus per-gram summary
    val fullIdx = Substring.incrementalRemovalIntervals(null, all, k = 12, p = 1)._1
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(1))).toSet
    assert(idx.collect().map(r => (r.getString(0), r.getLong(2), r.getLong(1))).toSet == fullIdx)
  }

  test("pair mode never broadcasts the pair-derived table (shuffle-hash pinned)") {
    val docs = plantedSpanDocs()
    val plan = Substring.substringDedupPairs(docs, k = 12, p = 4)
      .queryExecution.executedPlan.toString
    // the verify stage joins anchors to the candidate-PAIR table on id_a:
    // pair cardinality is quadratic in boilerplate-cluster size, so that
    // join must shuffle-hash; the only legitimate broadcast is candIds
    // (candidate-DOC-scale, linear)
    assert(plan.contains("ShuffledHashJoin [id_a"),
      s"pair join is not shuffle-hash:\n$plan")
    assert(!plan.contains("BroadcastHashJoin [id_a"),
      s"pair-derived table broadcasts:\n$plan")
  }

  // ---- trained quality classifier (TextQ.Quality) --------------------------

  /** Constructed corpus where quality signal is REAL (the driver corpus has
    * no quality labels at all — the documented caveat): "good" docs are
    * longer, stopword-bearing, and lexically varied; "junk" docs are short
    * repetitive keyword soup.
    */
  private def qualityCorpus(nPerClass: Int, seed: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val content = (0 until 400).map(i => s"word$i")
    val stops = Seq("the", "a", "of", "to", "in") // Corpus.STOPWORDS (private)
    val rows = (0 until nPerClass).flatMap { i =>
      val good = (0 until 60).map { _ =>
        if (rnd.nextInt(4) == 0) stops(rnd.nextInt(stops.size))
        else content(rnd.nextInt(content.size))
      }.mkString(" ")
      val kw = content(rnd.nextInt(content.size))
      val junk = Seq.fill(6 + rnd.nextInt(6))(kw).mkString(" ")
      Seq((2L * i, 1, good), (2L * i + 1, 0, junk))
    }
    rows.toDF("doc_id", "label", "text")
  }

  test("Quality: trained logistic separates constructed good/junk docs; q21 formula untouched") {
    val train = qualityCorpus(120, seed = 5)
    val test = qualityCorpus(60, seed = 99) // disjoint draws, same generators
    val model = TextQ.Quality.train(train)
    val pred = TextQ.Quality.predict(test, model)
      .select(col("label"), col("quality_score")).collect()
    val acc = pred.count(r =>
      (r.getDouble(1) >= 0.5) == (r.getInt(0) == 1)).toDouble / pred.length
    assert(acc >= 0.95, s"held-out accuracy $acc")
    // scores are genuine probabilities, spread across the classes
    val goodMean = pred.filter(_.getInt(0) == 1).map(_.getDouble(1)).sum /
      pred.count(_.getInt(0) == 1)
    val junkMean = pred.filter(_.getInt(0) == 0).map(_.getDouble(1)).sum /
      pred.count(_.getInt(0) == 0)
    assert(goodMean > 0.8 && junkMean < 0.2, s"good=$goodMean junk=$junkMean")
    // empty training input degrades to the zero model, not an NPE
    val empty = TextQ.Quality.train(train.filter(col("doc_id") < 0))
    assert(empty.weights.forall(_ == 0.0) && empty.bias == 0.0)
  }

  // ---- n-gram LM quality (stupid backoff, q72 core) ------------------------

  test("LM quality: every backoff branch fires with hand-computed integer scores") {
    val s = spark
    import s.implicits._
    // train = even doc_ids only (here: doc 0, "a b c a b d", N=6):
    //   uni a:2 b:2 c:1 d:1 | bi (a,b):2 (b,c):1 (c,a):1 (b,d):1
    //   tri (a,b,c):1 (b,c,a):1 (c,a,b):1 (a,b,d):1
    val docs = Seq(
      (0L, "a b c a b d"), // trigram hits + position-aware openers
      (1L, "a b c x"),     // unseen-everywhere token floors at 0
      (3L, "d a b"),       // bigram unseen at pos1 -> 0.4*uni; trigram unseen
                           // at pos2 with bigram seen -> 0.4*bi
      (5L, "x x c")        // double-unseen context -> 0.16*uni
    ).toDF("doc_id", "text")
    val rows = TextQ.lmQuality(docs).collect()
    assert(rows.length == 4, "one output row per doc")
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 0: 1000000*2/6=333333 | bi(a,b)2/c1(a)2=1000000 | tri 1/2=500000 |
    //        tri(b,c,a)1/1 | tri(c,a,b)1/1 | tri(a,b,d)1/bi(a,b)2=500000
    assert(got(0L) == ((6L, 4333333L, 722222L)))
    // doc 1: 333333 + 1000000 + 500000 + 0 (x unseen at every order)
    assert(got(1L) == ((4L, 1833333L, 458333L)))
    // doc 3: uni d 1000000*1/6=166666 | bi(d,a) unseen -> 400000*c1(a)2/6=133333
    //        | tri(d,a,b) unseen, bi(a,b) seen -> 400000*2/c1(a)2=400000
    assert(got(3L) == ((3L, 699999L, 233333L)))
    // doc 5: x floors twice; c with both contexts unseen -> 160000*1/6=26666
    assert(got(5L) == ((3L, 26666L, 8888L)))
  }

  // ---- DSIR importance resampling (q73 core) -------------------------------

  test("DSIR: target-distribution docs outrank OOD docs, including unlabeled impostors") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val vocabA = (0 until 40).map(i => s"alpha$i")  // target ('en') distribution
    val vocabB = (0 until 40).map(i => s"omega$i")  // OOD distribution
    def doc(vocab: Seq[String]) = Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = ((0 until 40).map(i => (i.toLong, "en", doc(vocabA))) ++
      (100 until 140).map(i => (i.toLong, "xx", doc(vocabB))) ++
      // impostors: labeled 'xx' but WRITTEN in the target distribution —
      // importance weighting must rank them by content, not label
      (200 until 205).map(i => (i.toLong, "xx", doc(vocabA)))).toDF("doc_id", "lang", "text")
    val ranked = Corpus.dsirResample(docs).select(col("doc_id"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val worstTargetLike = (ranked.filter(_._1 < 40) ++ ranked.filter(_._1 >= 200)).values.max
    val bestOod = ranked.filter(kv => kv._1 >= 100 && kv._1 < 140).values.min
    assert(worstTargetLike < bestOod,
      s"every target-distribution doc (incl. impostors) must outrank OOD: $worstTargetLike vs $bestOod")
    assert(ranked.size == 85 && ranked.values.toSeq.sorted == (1L to 85L))
  }

  // ---- trained BPE (graft.llm.Bpe) -----------------------------------------

  test("BPE train: hand-computed merges on the classic fixture, incl. a lexicographic tie-break") {
    val s = spark
    import s.implicits._
    // 5x low, 2x lower, 6x newest: pair counts put (w,e)=8 first (lower +
    // newest), then (l,o)=7; round 3 is a 6-way TIE at count 6 — the
    // lexicographically smallest pair (e,we) must win deterministically
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest")).mkString(" ")
    val merges = graft.llm.Bpe.train(Seq((1L, text)).toDF("doc_id", "text"), 3)
    assert(merges == Seq(("w", "e"), ("l", "o"), ("e", "we")))
  }

  test("apportionment: sum(quota) == budget exactly; largest remainders win; ties break lang asc") {
    val s = spark
    import s.implicits._
    def run(counts: Seq[(String, Long)], b: Long): Map[String, Long] =
      Corpus.apportion(counts.toDF("lang", "n_toks"), b)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // exact proportions: no remainders
    assert(run(Seq(("a", 3L), ("b", 3L), ("c", 4L)), 10L) ==
      Map("a" -> 3L, "b" -> 3L, "c" -> 4L))
    // 10 over (1,1,1): base 3 each, equal remainders -> lang-asc tie gets +1
    assert(run(Seq(("a", 1L), ("b", 1L), ("c", 1L)), 10L) ==
      Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
    // skewed: remainders decide, sum invariant holds
    val q = run(Seq(("a", 7L), ("b", 2L), ("c", 1L)), 100L)
    assert(q.values.sum == 100L && q == Map("a" -> 70L, "b" -> 20L, "c" -> 10L))
    val q2 = run(Seq(("a", 5L), ("b", 3L), ("c", 1L)), 7L)
    // 7*5/9=3 r8, 7*3/9=2 r3, 7*1/9=0 r7 -> bases (3,2,0) sum 5, two +1s
    // to the largest remainders (a r8, c r7)
    assert(q2 == Map("a" -> 4L, "b" -> 2L, "c" -> 1L) && q2.values.sum == 7L)
  }

  test("BPE trainBatched: exact parity with sequential on a non-interacting corpus; conflicts deferred") {
    val s = spark
    import s.implicits._
    // single-letter words: each word "x" contributes exactly the pair
    // (x, </w>) with the word's frequency — shared RIGHTS never interact,
    // no merge derives a new pair (the merged word is one symbol), so
    // batched selection must equal sequential selection EXACTLY
    val letters = "abcdefghijkl"
    val text = letters.zipWithIndex
      .flatMap { case (c, i) => Seq.fill(240 - 20 * i)(c.toString) }
      .mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val seq8 = graft.llm.Bpe.train(docs, 8)
    Seq(1, 3, 8).foreach { m =>
      assert(graft.llm.Bpe.trainBatched(docs, 8, m) == seq8,
        s"batch=$m must match sequential on a non-interacting corpus")
    }
    assert(seq8 == letters.take(8).map(c => (c.toString, "</w>")))

    // conflicting candidates defer, never misorder: "ab" repeated — pairs
    // (a,b) and (b,</w>) tie at the same count and SHARE b, so a batch of
    // 2 must select only (a,b) in round 1 (lex-first) and pick up the
    // post-merge pair ((ab,</w>)) on the recount, exactly like sequential
    val docs2 = Seq((1L, Seq.fill(5)("ab").mkString(" "))).toDF("doc_id", "text")
    assert(graft.llm.Bpe.trainBatched(docs2, 2, 2) == graft.llm.Bpe.train(docs2, 2))
  }

  test("BPE train and trainBatched: a second run is identical and leaves no RDD block") {
    val s = spark
    import s.implicits._
    val words = Seq("lower", "newest", "widest", "lowest", "slower", "network", "tower",
      "power", "powering", "towering")
    val docs = Seq((1L, words.zipWithIndex.flatMap { case (w, i) => Seq.fill(30 - 2 * i)(w) }
      .mkString(" "))).toDF("doc_id", "text")
    val runs: Seq[(String, () => Seq[(String, String)])] = Seq(
      "train" -> (() => graft.llm.Bpe.train(docs, 24)),
      "trainBatched" -> (() => graft.llm.Bpe.trainBatched(docs, 24, 3)))
    runs.foreach { case (name, run) =>
      val outs = (1 to 2).map { _ =>
        val before = org.apache.spark.graft.BlockCensus.rddBlocks()
        val merges = run()
        val left = org.apache.spark.graft.BlockCensus.leftSince(before)
        assert(left.isEmpty, s"$name: ${left.size} RDD blocks left: $left")
        merges
      }
      assert(outs(0) == outs(1) && outs(0).size == 24, s"$name: second run differs")
    }
  }

  test("BPE train: merge table independent of partitioning; apply round-trips and compresses") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = graft.llm.Bpe.train(docs.repartition(13), 8)
    val b = graft.llm.Bpe.train(docs.coalesce(1), 8)
    assert(a == b && a.size == 8)
    // the frozen q55 table is exactly what train() produces on this corpus
    assert(graft.llm.Bpe.train(docs, 16) == graft.llm.Bpe.CanonicalMerges)

    val enc = docs.select(col("doc_id"), col("text"),
      graft.functions.bpe_encode(col("text"), graft.llm.Bpe.CanonicalMerges).as("toks"))
      .collect()
    enc.foreach { r =>
      val (text, toks) = (r.getString(1), r.getSeq[String](2))
      // lossless: stripping the word markers reconstructs the text
      assert(toks.mkString.replace(graft.llm.Bpe.EndOfWord, " ").trim ==
        text.split(" ", -1).mkString(" ").trim)
      // compression: strictly fewer tokens than characters+markers unless trivial
      val nWords = text.split(" ", -1).length
      assert(toks.size <= text.replace(" ", "").length + nWords)
    }
  }

  test("BPE ids: deterministic vocab, id round-trip, OOV contract") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = graft.llm.Bpe.CanonicalMerges
    val v = graft.llm.Bpe.vocab(docs, merges)
    val v2 = graft.llm.Bpe.vocab(docs.repartition(13), merges)
    val table = v.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(table == v2.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
    val ids = table.map(_._1)
    assert(ids == (0L until ids.size).toSet) // dense, zero-based
    val byId = table.map(t => t._1 -> t._2).toMap
    // ids round-trip to the exact token sequence for every doc
    val enc = graft.llm.Bpe.encodeIds(docs, merges, v)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val toks = docs.select(col("doc_id"),
        graft.functions.bpe_encode(col("text"), merges).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(enc.keySet == toks.keySet)
    enc.foreach { case (id, seq) =>
      assert(seq.map(byId) == toks(id), s"doc $id id sequence mismatch")
    }
    // OOV: a doc with symbols the vocab never saw maps to -1, not a drop
    val s = spark
    import s.implicits._
    val oov = graft.llm.Bpe.encodeIds(
      Seq((99L, "ZZZZ")).toDF("doc_id", "text"), merges, v)
      .collect().head.getSeq[Long](1)
    // Z,Z,Z,Z are OOV for a lowercase corpus; the trailing </w> may or may
    // not be a standalone vocab token (only empty words emit it bare)
    assert(oov.size == 5 && oov.take(4).forall(_ == -1L))
  }

  test("BPE apply: single left-to-right pass per merge, rank order respected") {
    val s = spark
    import s.implicits._
    // merge (a,a) on 'aaaa': one pass gives aa|aa (no re-match of fresh
    // symbol); then (aa,aa) merges the results — rank order matters
    val out = s.createDataset(Seq("aaaa aab"))
      .toDF("text")
      .select(graft.functions.bpe_encode(col("text"),
        Seq(("a", "a"), ("aa", "aa"), ("aa", "b"))).as("toks"))
      .collect().head.getSeq[String](0)
    // 'aaaa': (a,a) one pass -> aa|aa, then (aa,aa) -> aaaa;
    // 'aab':  (a,a) -> aa|b, then (aa,b) -> aab
    assert(out == Seq("aaaa", "</w>", "aab", "</w>"))
    // empty word edge: text "" is one empty word = just the marker
    val empty = s.createDataset(Seq(""))
      .toDF("text")
      .select(graft.functions.bpe_encode(col("text"), Seq(("a", "b"))).as("toks"))
      .collect().head.getSeq[String](0)
    assert(empty == Seq("</w>"))
  }

  // ---- PII scrub (graft.llm.Pii) -------------------------------------------

  test("PII: counts and redaction on planted fixtures, word-boundary and non-interference semantics") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "mail a.user+tag@sub.example.co.uk and b@x.io today"), // two emails
      (2L, "ssn 123-45-6789 phone 555-123-4567 both"),            // 3-2-4 vs 3-3-4
      (3L, "server 192.168.0.1 and 10.0.0.255 up"),               // two IPs
      (4L, "embedded x123-45-6789y stays, no boundary"),          // \b blocks it
      (5L, "version 1.2.3.4.5 chains"),                           // greedy quad + trailing .5
      (6L, "clean text, nothing to scrub")
    ).toDF("doc_id", "text")
    val out = graft.llm.Pii.withPiiColumns(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)), r.getString(6))).toMap
    // columns: doc_id, text, n_email, n_ssn, n_phone, n_ip, clean_text
    assert(out(1L) == ((2, 0, 0, 0), "mail <EMAIL> and <EMAIL> today"))
    assert(out(2L) == ((0, 1, 1, 0), "ssn <ID> phone <PHONE> both"))
    assert(out(3L) == ((0, 0, 0, 2), "server <IP> and <IP> up"))
    assert(out(4L) == ((0, 0, 0, 0), "embedded x123-45-6789y stays, no boundary"))
    // '1.2.3.4' matches the dotted quad; '.5' survives outside it
    assert(out(5L) == ((0, 0, 0, 1), "version <IP>.5 chains"))
    assert(out(6L) == ((0, 0, 0, 0), "clean text, nothing to scrub"))
  }

  test("PII: scrub() redacts in place; cleanIngest(scrubPii) dedups docs equal after redaction") {
    val s = spark
    import s.implicits._
    val scrubbed = graft.llm.Pii.scrub(
      Seq((1L, "reach me a@b.io or 555-123-4567")).toDF("doc_id", "text")).collect().head
    assert(scrubbed.getString(scrubbed.fieldIndex("text")) == "reach me <EMAIL> or <PHONE>")
    assert(scrubbed.getLong(scrubbed.fieldIndex("n_pii")) == 2L)

    // two docs that differ ONLY in their PII: after scrub their texts agree,
    // so the fingerprint dedup keeps one — raw PII neither survives nor
    // splits dedup groups. Filler keeps quality above the default cut.
    val filler = Seq.fill(40)("the a data").mkString(" ")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
    val batch = graft.streaming.EventStreams.cleanIngest(
      Seq((t0, 1L, s"$filler write to alice@example.com now"),
          (t1, 2L, s"$filler write to bob@other.org now"))
        .toDF("ts", "doc_id", "text"),
      scrubPii = true)
    val rows = batch.collect()
    assert(rows.length == 1 && rows.head.getLong(rows.head.fieldIndex("doc_id")) == 1L)
    assert(rows.head.getLong(rows.head.fieldIndex("n_pii")) == 1L)
    // without the scrub the same two docs both survive (different texts)
    val noScrub = graft.streaming.EventStreams.cleanIngest(
      Seq((t0, 1L, s"$filler write to alice@example.com now"),
          (t1, 2L, s"$filler write to bob@other.org now"))
        .toDF("ts", "doc_id", "text"))
    assert(noScrub.count() == 2)
  }

  test("q61's documented 100 TB swap: approx_percentile tracks the exact percentile within tolerance") {
    val s = SparkFixture.spark
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(s, "/root/testdata/sf0.01")
      .select(col("lang"), size(split(col("text"), " ")).cast("double").as("n"))
    // accuracy 10000 => rank error <= n_rows/10000; at 500 rows the sketch
    // is exact up to interpolation (approx returns an actual sample, exact
    // interpolates between samples — allow one inter-sample gap)
    val rows = docs.groupBy(col("lang")).agg(
      expr("percentile(n, 0.5)").as("exact50"),
      expr("approx_percentile(n, 0.5, 10000)").as("apx50"),
      expr("percentile(n, 0.9)").as("exact90"),
      expr("approx_percentile(n, 0.9, 10000)").as("apx90")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) <= 2.0,
        s"p50 drifted: ${r.getDouble(1)} vs ${r.getDouble(2)} (${r.getString(0)})")
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) <= 3.0,
        s"p90 drifted: ${r.getDouble(3)} vs ${r.getDouble(4)} (${r.getString(0)})")
    }
  }

  test("q75 packing == a sequential single-writer replay (every doc's chunk span exact)") {
    val dir = "/root/testdata/sf0.001"
    val L = 512L
    // the single-writer ground truth: walk docs in the md5 permutation,
    // accumulate a token offset, chunk every L tokens
    val ordered = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("hkey"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .orderBy(col("hkey"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    var off = 0L
    val expected = ordered.map { case (id, n) =>
      val start = off / L
      val end = (off + n - 1) / L
      off += n
      id -> ((n, start, end - start + 1))
    }.toMap
    val got = TextQ.all("q75_pack_sequences")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // seam property: consecutive docs' spans tile the sequence stream with
    // no gaps — doc i+1 starts in the chunk doc i ended in, or the next one
    val spans = ordered.map { case (id, _) => expected(id) }
    spans.sliding(2).foreach { case Array((_, s1, k1), (_, s2, _)) =>
      assert(s2 == s1 + k1 - 1 || s2 == s1 + k1)
    case _ => }
  }

  test("q79 emit: every sequence exactly 512 tokens (except remainder); concat reconstructs the permuted corpus") {
    val dir = "/root/testdata/sf0.001"
    val seqs = TextQ.all("q79_pack_emit")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    seqs.init.foreach { case (id, n, t) =>
      assert(n == 512L && t.split(" ").length == 512, s"seq $id not full")
    }
    assert(seqs.last._2 <= 512L)
    assert(seqs.map(_._1).toSeq == seqs.indices.map(_.toLong), "seq ids dense from 0")
    // the single-writer ground truth: docs concatenated in the md5 permutation
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("hkey"), col("text"))
      .orderBy(col("hkey"), col("doc_id"))
      .collect().map(_.getString(2)).mkString(" ")
    assert(seqs.map(_._3).mkString(" ") == corpus, "chunk concat must reconstruct the corpus")
  }

  test("q80 dup profile: planted shared 8-gram counted exactly; short docs and clean langs inert") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("en", "w1 w2 w3 w4 w5 w6 w7 w8 a1 a2"),   // grams: [w1..w8], [w2..a1], [w3..a2]
      ("en", "b1 b2 w1 w2 w3 w4 w5 w6 w7 w8"),   // grams: [b1..w6], [b2..w7], [w1..w8] (dup!)
      ("en", "too short to gram"),                // < 8 tokens: contributes nothing
      ("fr", "f1 f2 f3 f4 f5 f6 f7 f8 f9")        // 2 distinct grams, no dups
    ).toDF("lang", "text")
    val got = TextQ.dupProfile(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("en", 6L, 5L, 2L, 0.3333),
      ("fr", 2L, 2L, 0L, 0.0)))
  }

  // ---- priority sampling (q116) / sample quantiles (q117) ------------------

  test("priority sample: DLT invariants — membership, ŵ floors, estimator in range") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextQ.all("q116_priority_sample")(spark, dir).collect()
    assert(rows.length == 64)
    val totW = rows.head.getAs[Long]("tot_w")
    val estTot = rows.head.getAs[Long]("est_tot_millionths")
    rows.foreach { r =>
      // ŵ = max(w, τ/2^60) can never fall below the doc's own weight
      assert(r.getAs[Long]("west_millionths") >= r.getAs[Long]("w") * 1000000L)
    }
    // ranks are exactly 1..64 (the top-k by priority, no gaps)
    assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to 64L))
    // the unbiased subset-sum estimator should land near the exact total
    // (fixed hashes -> deterministic; the band is loose but meaningful:
    // DLT std-dev at k=64 is ~ totW/sqrt(k-1) ~ 12.5%)
    assert(math.abs(estTot.toDouble / 1e6 - totW) < 0.5 * totW,
      s"estimate ${estTot / 1e6} vs exact $totW")
  }

  test("per-group priority sample: floors, ranks, estimator band per group") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextQ.all("q120_group_priority_sample")(spark, dir).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      assert(rs.length == 16, s"$lang: 16 sampled rows per saturated group")
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to 16L))
      rs.foreach { r =>
        assert(r.getAs[Long]("west_millionths") >= r.getAs[Long]("w") * 1000000L)
      }
      // k=16 -> DLT std ~ 1/sqrt(15) ~ 26%; a fixed draw must still land
      // within a few sigma of the exact per-group total
      val tot = rs.head.getAs[Long]("tot_w").toDouble
      val est = rs.head.getAs[Long]("est_tot_millionths").toDouble / 1e6
      assert(est > 0.2 * tot && est < 3.0 * tot, s"$lang: est $est vs exact $tot")
    }
  }

  test("sample quantiles: sub-k strata are exact; saturated strata stay in data range") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextQ.all("q117_sample_quantiles")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nSample) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sample"))
      assert(nSample == math.min(nDocs, 64L))
      // a sample quantile of n_toks can never leave the value range; and
      // when the sample IS the stratum, estimates equal exacts identically
      if (nSample == nDocs) {
        assert(r.getAs[Double]("est_p50") == r.getAs[Double]("ex_p50"))
        assert(r.getAs[Double]("est_p99") == r.getAs[Double]("ex_p99"))
      }
      assert(r.getAs[Double]("est_p50") <= r.getAs[Double]("est_p90") + 1e-9)
      assert(r.getAs[Double]("est_p90") <= r.getAs[Double]("est_p99") + 1e-9)
    }
  }

  test("q147 chunking: windows tile every doc (W=32, stride 24), tail bounded, reconstruction exact") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = TextQ.all("q147_chunk_overlap")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .groupBy(_._1)
    assert(chunks.keySet == docs.keySet, "every doc chunks (n >= 1 token in this corpus)")
    for ((id, text) <- docs) {
      val toks = text.split(" ")
      val n = toks.length
      val cs = chunks(id).sortBy(_._2)
      // exactly the LangChain count: 1 + ceil((n-W)/S) windows
      val expected = if (n <= 32) 1 else ((n - 32 + 23) / 24) + 1
      assert(cs.length == expected, s"doc $id: ${cs.length} chunks for $n tokens")
      cs.zipWithIndex.foreach { case ((_, k, start, len, ctext), i) =>
        assert(k == i && start == 24L * i, s"doc $id chunk ids/offsets dense")
        assert(len == math.min(32L, n - start) && len > 0, s"doc $id chunk $k length")
        assert(ctext == toks.slice(start.toInt, (start + len).toInt).mkString(" "))
      }
      // coverage: the last window reaches the end of the doc
      val (_, _, lastStart, lastLen, _) = cs.last
      assert(lastStart + lastLen == n, s"doc $id tail covered")
    }
  }

  test("q148 chunk dedup: planted aligned duplicate window found, keeper lexicographic-min, unaligned copy inert") {
    val s = spark
    import s.implicits._
    val w = (1 to 80).map(i => s"w$i") // 80 tokens -> chunks at 0, 24, 48 (+tail 72)
    val shared = w.slice(24, 56)       // doc A's chunk 1 verbatim
    val docA = (10L, w.mkString(" "))
    // doc B: the shared window lands at ITS stride position 24 -> exact dup
    val docB = (20L, ((1 to 24).map(i => s"b$i") ++ shared ++ (1 to 10).map(i => s"c$i")).mkString(" "))
    // doc C: same window shifted off-stride by one token -> NOT a chunk dup
    val docC = (30L, ((1 to 25).map(i => s"d$i") ++ shared ++ (1 to 9).map(i => s"e$i")).mkString(" "))
    val input = Seq(docA, docB, docC).toDF("doc_id", "text")
    val dups = TextQ.chunkOverlap(input)
      .select(md5(col("chunk_text")).as("h"),
        struct(col("doc_id").as("d"), col("chunk_id").as("c")).as("dc"))
      .groupBy("h").agg(min(col("dc")).as("keeper"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("keeper.d"), col("keeper.c"), col("n")).collect()
    assert(dups.length == 1, s"exactly the planted aligned window: ${dups.length}")
    assert((dups(0).getLong(0), dups(0).getLong(1), dups(0).getLong(2)) == ((10L, 1L, 2L)),
      "keeper is the lexicographic-min (doc_id, chunk_id) and only A+B collide")
  }
}
