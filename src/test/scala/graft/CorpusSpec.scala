package graft

import graft.llm.{Bloom, Corpus}
import graft.queries.CorpusQ
import graft.scale.LabelProp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 third-wave corpus operators: BM25 retrieval, paragraph-granular
  * dedup, Bloom decontamination, and the bucketed interval join. Each spec
  * pins behavior the oracle gate can't see alone: hand-replayed arithmetic,
  * planted duplicates, the no-false-negative guarantee, boundary-exact
  * range semantics, and plan shape.
  */
class CorpusSpec extends AnyFunSuite {

  import SparkFixture._

  // ------------------------------------------------------------- bm25

  test("bm25: driver BigInt replay matches the distributed rational arithmetic exactly") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq(
      (1L, "spark join spark filter scan"), // len 5, spark x2
      (2L, "join join join scan scan scan scan scan"), // len 8
      (3L, "vector"), // len 1
      (4L, "filter scan table row agg") // len 5, no query terms
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "join", "vector")
    val got = Corpus.bm25(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    // independent replay in BigInt
    val corpus = Map(1L -> "spark join spark filter scan",
      2L -> "join join join scan scan scan scan scan",
      3L -> "vector", 4L -> "filter scan table row agg")
    val tokss = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val n = BigInt(corpus.size)
    val a = BigInt(tokss.values.map(_.size).sum)
    def score(id: Long): BigInt = terms.map { term =>
      val tf = BigInt(tokss(id).count(_ == term))
      if (tf == 0) BigInt(0)
      else {
        val df = BigInt(tokss.values.count(_.contains(term)))
        val len = BigInt(tokss(id).size)
        val idf = (BigInt(1000000) * (n - df + 1)) / (df + 1)
        val tfq = (BigInt(1000000) * 22 * a * tf) /
          (BigInt(10) * a * tf + 3 * a + 9 * len * n)
        idf * tfq
      }
    }.sum
    val expect = corpus.keys.toSeq.map(id => (id, score(id)))
      .filter(_._2 > 0)
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (id, s.toLong, i + 1) }
    assert(got.toSeq == expect)
    // sanity: doc 1 has the corpus's only 'spark' hits plus a 'join' — top
    assert(got.head._1 == 1L)
  }

  // -------------------------------------------------- paragraph dedup

  test("paragraph dedup: planted shared chunk drops from the later doc; others round-trip") {
    val spark0 = spark
    import spark0.implicits._
    val chunkA = (1 to 20).map(i => s"a$i").mkString(" ") // one exact chunk
    val tailA = (1 to 20).map(i => s"t$i").mkString(" ")
    val uniqB = (1 to 20).map(i => s"b$i").mkString(" ")
    val shortC = "just a few tokens" // sub-chunk-size doc
    val docs = Seq(
      (10L, s"$chunkA $tailA"), // owns chunkA (smaller doc_id)
      (20L, s"$chunkA $uniqB"), // loses chunk 0, keeps chunk 1
      (30L, shortC)
    ).toDF("doc_id", "text")
    val got = Corpus.paragraphDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq(
      (10L, 2L, 2L, s"$chunkA $tailA"), // byte-identical round-trip
      (20L, 2L, 1L, uniqB),
      (30L, 1L, 1L, shortC)))
  }

  test("paragraph dedup: duplicate chunk within ONE doc keeps only the first occurrence") {
    val spark0 = spark
    import spark0.implicits._
    val c = (1 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, s"$c $c")).toDF("doc_id", "text")
    val got = Corpus.paragraphDedup(docs).collect()
    assert(got.head.getLong(1) == 2L && got.head.getLong(2) == 1L)
    assert(got.head.getString(3) == c)
  }

  // ------------------------------------------------------------ bloom

  test("bloom: no false negatives, and probe parity with the exact position-subset predicate") {
    val spark0 = spark
    import spark0.implicits._
    val build = (1 to 500).map(i => s"member gram number $i")
    val probesIn = build.take(100)
    val probesOut = (1 to 2000).map(i => s"outside gram number $i")

    val buildDf = build.toDF("gram")
    val Seq(b0, b1, b2) = Bloom.positions(col("gram"))
    val pos = buildDf.select(explode(array(b0, b1, b2)).as("p"))
    val mask = Bloom.build(pos, "p")

    def probe(keys: Seq[String]): Map[String, Boolean] = {
      val df = keys.toDF("gram")
      val Seq(p0, p1, p2) = Bloom.positions(col("gram"))
      df.select(col("gram"), Bloom.mightContain(mask)(p0, p1, p2).as("hit"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    }
    // Bloom guarantee: every member probes positive
    assert(probe(probesIn).values.forall(identity))

    // parity: the probe result equals the exact position-subset predicate
    // (the oracle's definition), computed driver-side from the same md5
    def positionsOf(key: String): Seq[Long] = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val h2 = java.lang.Long.parseLong(hex.substring(16, 31), 16) | 1L
      (0 until 3).map(i => (h1 + i * h2) % Bloom.M_BITS)
    }
    val setBits: Set[Long] = build.flatMap(positionsOf).toSet
    val expected = probesOut.map(k => k -> positionsOf(k).forall(setBits)).toMap
    assert(probe(probesOut) == expected)

    // probe is native codegen end-to-end — no ScalaUDF boundary
    // (non-foldable range source so the projection must run at exec time)
    val Seq(q0, q1, q2) = Bloom.positions(col("gram"))
    val probeDf = spark.range(100)
      .select(concat(lit("outside gram number "), col("id")).as("gram"))
      .select(Bloom.mightContain(mask)(q0, q1, q2).as("hit"))
    val plan = probeDf.queryExecution.executedPlan
    assert(!plan.toString.contains("ScalaUDF"))
    assert(plan.find(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined)
  }

  test("bloom: out-of-range positions return false (never crash) in eval AND codegen") {
    val spark0 = spark
    import spark0.implicits._
    val mask = new Array[Byte](16) // 128 bits
    java.util.Arrays.fill(mask, 0xFF.toByte) // every in-range bit set
    // ad-hoc SQL positions: negative, past-the-end, and > 2^34 (the old
    // (int) cast truncation zone) must all yield false, not AIOOBE
    val bad = Seq(-1L, 128L, 1L << 35, Long.MaxValue)
    // foldable path (interpreted eval via constant folding)
    val folded = Seq(1).toDF("x")
      .select(Bloom.mightContain(mask)(lit(-1L), lit(3L), lit(5L)).as("hit"))
      .collect().head.getBoolean(0)
    assert(!folded)
    // exec-time codegen path: non-foldable position source
    val got = spark.range(bad.length.toLong)
      .select(col("id"),
        graft.functions.bloom_contains(lit(mask),
          array(element_at(typedLit(bad), col("id").cast("int") + 1),
            lit(0L), lit(1L))).as("hit"))
      .collect().map(_.getBoolean(1))
    assert(got.forall(!_), "every out-of-range probe must be false")
    // and in-range positions on the all-ones mask still probe true
    val ok = Seq(1).toDF("x")
      .select(Bloom.mightContain(mask)(lit(0L), lit(64L), lit(127L)).as("hit"))
      .collect().head.getBoolean(0)
    assert(ok)
  }

  test("bloom: banked build == treeAggregate build bit-for-bit; cap refuses loudly") {
    val spark0 = spark
    import spark0.implicits._
    // positions spanning every bank: 2^13 bits = 1 KiB mask, 64-byte banks
    // -> 16 banks; deterministic positions hit first/last byte of several
    // banks so the dispatch (bank index, sub-bank offset, stitch order)
    // is pinned, not just the aggregate popcount
    val mBits = 1L << 13
    val ps = ((0 until 500).map(i => (i.toLong * 2654435761L) % mBits) ++
      Seq(0L, 7L, 511L, 512L, 519L, mBits - 1)).distinct
    val pos = ps.toDF("p")
    val whole = Bloom.build(pos, "p", mBits)
    val banked = Bloom.buildBanked(pos, "p", mBits, bankBytes = 64)
    assert(java.util.Arrays.equals(banked, whole),
      "banked build must reproduce the treeAggregate mask bit-for-bit")
    // single-bank fast path (the q83 shape) is the same code answer too
    assert(java.util.Arrays.equals(
      Bloom.buildBanked(pos, "p", mBits, bankBytes = 1 << 20), whole))
    // above the single-literal distribution cap the build REFUSES loudly
    // (never a silent truncation): the caller must change semantics
    val e = intercept[IllegalArgumentException] {
      Bloom.buildBanked(pos, "p", mBits = (Bloom.MAX_MASK_BYTES + 8) * 8)
    }
    assert(e.getMessage.contains("exceeds") && e.getMessage.contains("refusing"))
  }

  test("bloom: sized mask (non-default mBits) probes its own modulus end-to-end") {
    val spark0 = spark
    import spark0.implicits._
    val mBits = 1L << 13 // 8 KiB of bits — deliberately NOT M_BITS
    val build = (1 to 200).map(i => s"member gram number $i")
    val Seq(b0, b1, b2) = Bloom.positions(col("gram"), mBits)
    val mask = Bloom.build(
      build.toDF("gram").select(explode(array(b0, b1, b2)).as("p")), "p", mBits)
    assert(mask.length * 8L == mBits)
    // positionsFromHex with the mask-derived modulus: members all hit
    val Seq(p0, p1, p2) = Bloom.positionsFromHex(md5(col("gram")), 8L * mask.length)
    val hits = build.toDF("gram")
      .select(Bloom.mightContain(mask)(p0, p1, p2).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(hits.forall(identity), "sized probe must see every member")
  }

  // ---------------------------------------------------- z-order layout

  test("zorder write layout: range-partitioning by zkey bounds BOTH dims per partition") {
    val spark0 = spark
    import spark0.implicits._
    import graft.functions.zorder2
    // dense 256x256 grid → 16 range partitions; z-layout partitions become
    // ~square tiles (both dims bounded), an x-sorted layout becomes
    // full-height strips (y unbounded) — the difference IS the min/max
    // pruning win on the non-sort dimension
    val pts = (for (x <- 0L until 256L; y <- 0L until 256L) yield (x, y))
    val df = pts.toDF("x", "y").withColumn("zkey", zorder2(col("x"), col("y")))
    def bboxes(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      d.select("y").rdd.mapPartitions { it =>
        val ys = it.map(_.getLong(0)).toSeq
        if (ys.isEmpty) Iterator.empty else Iterator((ys.min, ys.max))
      }.collect().toSeq
    val zParts = bboxes(df.repartitionByRange(16, col("zkey")))
    val xParts = bboxes(df.repartitionByRange(16, col("x")))
    // a predicate y < 64 prunes most z-partitions by their y-stats, and
    // NONE of the x-sorted strips
    val zHit = zParts.count { case (lo, _) => lo < 64 }
    val xHit = xParts.count { case (lo, _) => lo < 64 }
    assert(xHit == xParts.size, "x-sorted strips span all of y — nothing prunes")
    assert(zHit * 2 <= zParts.size, s"z-layout must prune most partitions on y (hit $zHit/${zParts.size})")
    // and no z-partition's y-range approaches the full domain
    assert(zParts.forall { case (lo, hi) => hi - lo < 192 })
  }

  // ------------------------------------------------------- domain cap

  test("domain cap: oversized source keeps exactly k, small source keeps all, deterministic") {
    val spark0 = spark
    import spark0.implicits._
    val docs = ((1 to 25).map(i => (i.toLong, "big")) ++
      (100 to 104).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val got = Corpus.domainCap(docs, 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val bySource = got.groupBy(_._2)
    assert(bySource("big").count(_._3) == 20 && bySource("big").size == 25)
    assert(bySource("small").forall(_._3) && bySource("small").size == 5)
    // deterministic: a second run keeps the same doc set
    val again = Corpus.domainCap(docs, 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got.toSeq == again.toSeq)
  }

  // ------------------------------------------------------- classifier

  test("classifier: separable vocab classifies perfectly; ties break to the first class") {
    val spark0 = spark
    import spark0.implicits._
    // two classes with disjoint vocab; even ids train, odd ids test
    val docs = (0 until 40).map { i =>
      val lang = if (i % 4 < 2) "aa" else "bb"
      val word = if (lang == "aa") "apple" else "banana"
      (i.toLong, lang, Seq.fill(6)(word).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val got = CorpusQ.classify(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(4)))
    assert(got.nonEmpty && got.forall(_._4), "disjoint vocab must classify perfectly")

    // tie: a test doc whose only token is equally likely in both classes
    val tied = (Seq((0L, "aa", "zz"), (2L, "bb", "zz")) ++ Seq((1L, "aa", "zz")))
      .toDF("doc_id", "lang", "text")
    val pred = CorpusQ.classify(tied).collect().map(r => (r.getLong(0), r.getString(2)))
    assert(pred.toSeq == Seq((1L, "aa")), "equal scores must break to the lexicographically first class")
  }

  // --------------------------------------------------- corpus overlap

  test("corpus overlap: near-identical sources estimate high, disjoint estimate zero") {
    val spark0 = spark
    import spark0.implicits._
    val shared = (1 to 40).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, "mirror_a", shared),
      (2L, "mirror_b", shared), // identical gram set → every component agrees
      (3L, "other", (1 to 40).map(i => s"o$i").mkString(" "))
    ).toDF("doc_id", "source", "text").select("source", "text")
    val got = CorpusQ.corpusOverlap(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got(("mirror_a", "mirror_b")) == 32L, "identical sets agree on all 32 components")
    assert(got(("mirror_a", "other")) == 0L && got(("mirror_b", "other")) == 0L)
  }

  // ---------------------------------------------------- domain cap

  test("domain cap: two-phase bucketed selection is bit-identical to the window form") {
    val spark0 = spark
    import spark0.implicits._
    // real corpus shape
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(collect(Corpus.domainCapBucketed(docs, 20)) ==
      collect(Corpus.domainCap(docs, 20)))

    // planted mega-domain: one source holds 90% of a 2000-doc corpus; the
    // two-phase selection must still pick exactly the window's k, at
    // several bucket counts (including buckets > k and buckets = 1)
    val mega = (0L until 2000L).map(i =>
      (i, if (i < 1800L) "megadomain.example" else s"s${i % 40}")).toDF("doc_id", "source")
    val onePhase = collect(Corpus.domainCap(mega, 25))
    Seq(1, 8, 64).foreach { b =>
      assert(collect(Corpus.domainCapBucketed(mega, 25, b)) == onePhase,
        s"buckets=$b must not change verdicts")
    }
    assert(onePhase.count(r => r._2 == "megadomain.example" && r._3) == 25)
  }

  // ------------------------------------------------- label propagation

  test("label propagation: two planted cliques converge to their min ids; ties break low") {
    val spark0 = spark
    import spark0.implicits._
    // two directed triangles (each node feeds the other two) + a bridge
    // node 6 hearing one vote from each clique → tie → lower label wins
    val ids = (0L to 6L).toDF("id")
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (2L, 1L), (1L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (3L, 5L), (5L, 4L), (4L, 3L),
      (0L, 6L), (3L, 6L))
    val got = LabelProp.labelPropagate(ids.toDF("id"), tri.toDF("src", "dst"), 3)
      .frame.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // round 1: each triangle node takes the min of its two in-labels;
    // by round 3 both cliques sit on their component min
    assert(Set(0L, 1L, 2L).forall(got(_) == 0L), s"clique A must converge to 0: $got")
    assert(Set(3L, 4L, 5L).forall(got(_) == 3L), s"clique B must converge to 3: $got")
    // the bridge hears {labelA, labelB} with count 1 each → tie → min
    assert(got(6L) == math.min(got(0L), got(3L)))
  }

  test("label propagation converge: early exit at the first fixed point, O(1) storage") {
    val spark0 = spark
    import spark0.implicits._
    // the q95 shape at hand-verifiable size: two groups of 8 with
    // back-edges (id-1 -> id, id-2 -> id) within the group — leaders 0 and
    // 8 sweep forward ~2 offsets/round; fixed point at round 4, detected
    // (changed = 0) at round 5
    val ids = (0L to 15L).toDF("id")
    val edges = (ids.filter($"id" % 8 >= 1).select(($"id" - 1).as("src"), $"id".as("dst")))
      .union(ids.filter($"id" % 8 >= 2).select(($"id" - 2).as("src"), $"id".as("dst")))
    val res = LabelProp.labelPropagateConverge(ids, edges, maxRounds = 20)
    val got = res.frame.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(res.rounds == 5, s"must stop at the detection round, not maxRounds: ${res.rounds}")
    assert(res.last == 0.0)
    assert((0L to 7L).forall(got(_) == 0L) && (8L to 15L).forall(got(_) == 8L),
      s"groups must converge to their leaders: $got")
    // parity with the declarative unroll at the converged round count
    val unrolled = LabelProp.labelPropagate(ids, edges, 5)
      .frame.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(unrolled == got)
    res.release()

    // a 2-cycle (bipartite oscillation) must NOT converge: maxRounds
    // bounds it and the last changed count stays > 0
    val osc = LabelProp.labelPropagateConverge(
      (0L to 1L).toDF("id"), Seq((0L, 1L), (1L, 0L)).toDF("src", "dst"), maxRounds = 4)
    assert(osc.rounds == 4 && osc.last > 0.0,
      s"oscillator must exhaust maxRounds: ${osc.rounds}, ${osc.last}")
    osc.release()
  }

  test("label propagation: RDD loop == declarative lpRound unroll on random multigraphs (r22 parity)") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(4242)
    (1 to 3).foreach { trial =>
      val n = 30 + rnd.nextInt(30)
      // random directed multigraph: parallel edges kept, some nodes
      // sourceless/sinkless, plus a few self-loops — every structural case
      // the mode rule must tie-break identically on
      val edges = Seq.fill(4 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .toDF("src", "dst")
      val ids = (0L until n.toLong).toDF("id")
      val rounds = 1 + rnd.nextInt(4)
      val viaRdd = LabelProp.labelPropagate(ids, edges, rounds)
        .frame.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val viaPlan = (1 to rounds)
        .foldLeft(ids.select($"id", $"id".as("lbl"))) { (l, _) =>
          LabelProp.lpRound(edges)(l).drop("prev")
        }
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaRdd == viaPlan,
        s"trial $trial (n=$n, rounds=$rounds): RDD loop diverged from the declarative rule")
    }
  }

  test("label propagation: null-endpoint edges are dropped, as under the declarative inner join") {
    val spark0 = spark
    import spark0.implicits._
    val ids = (0L to 3L).toDF("id")
    val clean = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L))
    val nulls = Seq[(Option[Long], Option[Long])]((Some(3L), None), (None, Some(1L)), (None, None))
    val edges = (clean.map { case (a, b) => (Option(a), Option(b)) } ++ nulls).toDF("src", "dst")
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = labels(LabelProp.labelPropagate(ids, clean.toDF("src", "dst"), 3).frame)
    assert(labels(LabelProp.labelPropagate(ids, edges, 3).frame) == expected)
    val viaPlan = (1 to 3).foldLeft(ids.select($"id", $"id".as("lbl"))) { (l, _) =>
      LabelProp.lpRound(edges)(l).drop("prev")
    }
    assert(labels(viaPlan) == expected)
  }

  test("label propagation converge: ONE Spark job per round (scalar rides the materializing action)") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    // AQE off so each action is exactly one job (AQE materializes shuffle
    // stages as their own jobs and would blur the census); restored after
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ids = (0L to 15L).toDF("id")
      val edges = (ids.filter($"id" % 8 >= 1).select(($"id" - 1).as("src"), $"id".as("dst")))
        .union(ids.filter($"id" % 8 >= 2).select(($"id" - 2).as("src"), $"id".as("dst")))
      sc.setJobGroup("lp-census", "lp-census", interruptOnCancel = false)
      val res = LabelProp.labelPropagateConverge(ids, edges, maxRounds = 20)
      sc.clearJobGroup()
      assert(res.rounds == 5 && res.last == 0.0)
      Thread.sleep(1000) // listener bus drains async
      val jobs = sc.statusTracker.getJobIdsForGroup("lp-census").length
      assert(jobs == res.rounds,
        s"each round must launch exactly one job (changed-count folded into " +
          s"the checkpoint materialization): $jobs jobs for ${res.rounds} rounds")
      res.release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("domain cap auto: probe flips the physical plan at the threshold; branches bit-identical") {
    val spark0 = spark
    import spark0.implicits._
    // 1 mega source (60 docs) + 20 modest sources (3 docs each)
    val docs = (0L until 120L).map { i =>
      (i, if (i < 60) "mega.example" else s"s${i % 20}.example")
    }.toDF("doc_id", "source")
    val hot = Corpus.domainCapAuto(docs, 5, hotThreshold = 10L)        // probe trips
    val cold = Corpus.domainCapAuto(docs, 5, hotThreshold = Long.MaxValue) // never trips
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(rows(hot) == rows(cold),
      "two-phase and window branches must produce identical verdicts")
    // plan pins: the cold branch is ONE window, no join; the hot branch is
    // the bucketed two-phase — two windows plus the shuffle-hash verdict
    // join, never a sort-merge fallback
    // AQE prints "== Final Plan ==" then "== Initial Plan ==" — census the
    // final section only or every node double-counts
    def finalPlan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val coldPlan = finalPlan(cold)
    val hotPlan = finalPlan(hot)
    def nWindows(p: String) = "\\bWindow\\b".r.findAllIn(p).length
    assert(nWindows(coldPlan) == 1 && !coldPlan.contains("Join"),
      s"below threshold the auto plan must be the plain window:\n$coldPlan")
    assert(nWindows(hotPlan) == 2 && hotPlan.contains("ShuffledHashJoin"),
      s"above threshold the auto plan must be the bucketed two-phase:\n$hotPlan")
    assert(!hotPlan.contains("SortMergeJoin") && !hotPlan.contains("CartesianProduct"))
    // every source capped at 5 kept
    val kept = rows(hot).filter(_._3).groupBy(_._2).view.mapValues(_.size).toMap
    assert(kept("mega.example") == 5 && kept.values.forall(_ <= 5))
  }

  // ---------------------------------------------------- split leakage

  test("split leakage: source-aware assignment, planted cross-source boilerplate detected") {
    val spark0 = spark
    import spark0.implicits._
    // find three sources whose md5 hash lands in train/val/test buckets
    def bucket(s: String): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 10) match {
        case b if b <= 7 => "train"
        case 8 => "val"
        case _ => "test"
      }
    }
    val names = (1 to 200).map(i => s"site$i")
    val trainSrc = names.find(bucket(_) == "train").get
    val testSrc = names.find(bucket(_) == "test").get
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // one shared 8-gram
    val docs = Seq(
      (trainSrc, s"$boiler ${(1 to 8).map(i => s"t$i").mkString(" ")}"),
      (testSrc, s"$boiler ${(1 to 8).map(i => s"x$i").mkString(" ")}"),
      (testSrc, (1 to 16).map(i => s"y$i").mkString(" ")) // clean doc, same split
    ).toDF("source", "text")
    val got = CorpusQ.splitLeakage(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // exactly the planted gram leaks train↔test; the ppm denominator is the
    // higher-named split (b = 'train'): 9 train occurrences, 1 shared →
    // 1e6/9 = 111111 ppm
    assert(got(("test", "train")) == ((1L, 111111L)), s"got $got")
    assert(!got.contains(("test", "val")) && !got.contains(("train", "val")))
  }

  // --------------------------------------------------------- pipeline

  test("pipeline: every stage bites, offsets tile contiguously under the budget") {
    val spark0 = spark
    import spark0.implicits._
    def uniq(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val chunk = uniq("c", 20)
    val base = Seq(
      (1L, uniq("a", 40), "s1"), // survives everything
      (2L, uniq("a", 40), "s1"), // exact dup of 1 → dropped at stage 1
      (3L, s"$chunk ${uniq("b", 20)}", "s1"), // owns the shared chunk
      (4L, s"$chunk ${uniq("d", 20)}", "s1"), // loses the chunk, keeps 20 toks
      (5L, Seq.fill(40)("x").mkString(" "), "s1") // uniq 1/40 → dropped at stage 3
    )

    // fixture A: 35 short bulk docs — cap bites (35 → 30), budget does NOT
    // (≤ 3.7k tokens), so every stage-1..4 verdict is assertable per doc
    val bulkA = (0 until 35).map(i => (100L + i, uniq(s"e${i}q", 100), "s2"))
    val outA = CorpusQ.pipeline((base ++ bulkA).toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val idsA = outA.map(_._1).toSet
    assert(idsA.contains(1L) && !idsA.contains(2L), "exact dup must drop, keeper must survive")
    assert(!idsA.contains(5L), "repetitive doc must fail the uniqueness screen")
    assert(outA.find(_._1 == 4L).exists(_._3 == 20L),
      "doc 4 must survive with its duplicate chunk scrubbed")
    assert(idsA.contains(3L), "chunk owner must survive intact")
    assert(outA.count(_._2 == "s2") == 30, "domain cap must keep exactly 30 of 35")

    // fixture B: 35 long bulk docs — the 15k budget bites after the cap;
    // offsets must tile the kept set contiguously from 0
    val bulkB = (0 until 35).map(i => (100L + i, uniq(s"e${i}q", 600), "s2"))
    val outB = CorpusQ.pipeline((base ++ bulkB).toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(outB.map(_._3).sum <= 15000L)
    assert(outB.length < 34, "budget must cut below the cap-surviving count")
    val tiled = outB.sortBy(_._4)
    assert(tiled.head._4 == 0L)
    tiled.sliding(2).foreach {
      case Array((_, _, n, o), (_, _, _, o2)) => assert(o + n == o2, "offsets must tile contiguously")
      case _ => ()
    }
  }

  // ---------------------------------------------------- interval join

  test("interval join: bucketed rewrite == naive inequality join incl. boundary cases") {
    val spark0 = spark
    import spark0.implicits._
    val W = 21600000000L // the q84 window (6 h in micros)
    // (user, event_id, type, tus) — planted: exact w_start hit (inclusive),
    // exact w_end miss (exclusive), a click caught by TWO windows (distinct
    // collapses it), a window crossing a bin boundary, other-user isolation
    val ev = Seq(
      (1L, 100L, "error", 1000000L),
      (1L, 101L, "click", 1000000L), // == w_start → in
      (1L, 102L, "click", 1000000L + W), // == w_end → out
      (1L, 103L, "click", 1000000L + W - 1), // last micro → in
      (1L, 110L, "error", 500000L), // overlaps the first window (ends before 102)
      (1L, 104L, "click", 1500000L), // inside both windows → ONE hit
      (2L, 200L, "error", W - 1000L), // window crosses the bin seam
      (2L, 201L, "click", W + 5L), // just past the seam → in
      (2L, 202L, "click", 3 * W), // far away → out
      (3L, 300L, "click", 1000001L), // user with no windows → no row
      (4L, 400L, "error", 50L) // window with no clicks → 0 hits
    ).toDF("user_id", "event_id", "event_type", "tus")

    val got = CorpusQ.intervalJoin(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 3L), (2L, 1L, 1L), (4L, 1L, 0L)))

    // no quadratic operator in the physical plan
    val plan = CorpusQ.intervalJoin(ev).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("interval join: random fixture parity with naive inequality join") {
    val spark0 = spark
    import spark0.implicits._
    val W = 21600000000L
    val rnd = new scala.util.Random(13)
    val rows = (1 to 800).map { i =>
      val u = rnd.nextInt(5).toLong
      val t = if (rnd.nextBoolean()) "error" else "click"
      (u, i.toLong, t, math.abs(rnd.nextLong()) % (10 * W))
    }
    val ev = rows.toDF("user_id", "event_id", "event_type", "tus")
    val got = CorpusQ.intervalJoin(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // naive driver replay
    val wins = rows.filter(_._3 == "error").groupBy(_._1)
      .view.mapValues(_.map(_._4)).toMap
    val clicks = rows.filter(_._3 == "click")
    val expect = wins.toSeq.map { case (u, ws) =>
      val hits = clicks.filter(c => c._1 == u &&
        ws.exists(w => c._4 >= w && c._4 < w + W)).map(_._2).distinct.size
      (u, ws.size.toLong, hits.toLong)
    }.sortBy(_._1)
    assert(got == expect)
  }
}
