package graft

import graft.llm.{Ann, MinHash, Multimodal, Substring}
import graft.queries.{EngineQ, SimQ}
import graft.scale.Salt
import org.apache.spark.graft.BlockCensus

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN + multimodal decode specs. */
class LlmSpec extends AnyFunSuite {

  import SparkFixture._

  private val sf = "/root/testdata/sf0.001"

  private val V = "transform(embedding, x -> cast(x AS double))"
  private val DOT = "aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 AS double), (acc, v) -> acc + v)"

  private def embedded = spark.read.parquet(s"$sf/embeddings.parquet")
    .withColumn("v", expr(V))
    .withColumn("norm", expr(s"sqrt($DOT)"))

  test("IVF with all cells probed == brute-force top-k (exactness when nProbes = nCells)") {
    val e = embedded
    val centroids = e.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select((col("vec_id") - 10).as("cell_id"), col("v").as("cv"), col("norm").as("cnorm"))
    val corpus = Ann.assignCells(e.select(col("vec_id"), col("v"), col("norm")), centroids)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    val ivfAll = Ann.search(corpus, qs, centroids, nProbes = 8, k = 10)
      .select("q_id", "neighbor_id", "cosine", "rank").collect().map(_.toSeq).toSet
    val brute = SimQ.q29AnnTopK(spark, sf)
      .select(col("q_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(ivfAll == brute)
  }

  test("IVF pruning: every vector lands in exactly one cell; probes bound the search") {
    val e = embedded
    val centroids = e.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select((col("vec_id") - 10).as("cell_id"), col("v").as("cv"), col("norm").as("cnorm"))
    val corpus = Ann.assignCells(e.select(col("vec_id"), col("v"), col("norm")), centroids)
    val total = e.count()
    assert(corpus.count() == total)
    assert(corpus.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    val cells = corpus.select("cell_id").distinct().collect().map(_.getLong(0)).sorted
    assert(cells.forall(c => c >= 0 && c < 8))
    // q34 (3 probes) returns a full top-10 per query
    val ivf3 = EngineQ.q34AnnIvf(spark, sf)
    assert(ivf3.groupBy("q_id").count().collect().forall(_.getLong(1) == 10))
  }

  test("trainCentroids: k-means centroids feed the same assign/search path") {
    val e = embedded
    val centroids = Ann.trainCentroids(
      e.select(col("vec_id"), col("v"), col("norm")), k = 8)
    assert(centroids.count() == 8)
    val corpus = Ann.assignCells(e.select(col("vec_id"), col("v"), col("norm")), centroids)
    assert(corpus.count() == e.count())
    val cells = corpus.select("cell_id").distinct().count()
    assert(cells > 1 && cells <= 8) // a real partition of the space
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    val res = Ann.search(corpus, qs, centroids, nProbes = 2, k = 5)
    assert(res.groupBy("q_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("hot-cell guard bounds pair volume under total skew; uniform cells untouched") {
    val spark0 = spark
    import spark0.implicits._
    // pathological input: ALL 120 vectors collapse into one cell
    val skewed = (0L until 120L).map(i => (i, Seq(1.0, 0.0), 1.0, 0L))
      .toDF("vec_id", "v", "norm", "cell_id")
    val unboundedPairs = 120L * 119L / 2
    val capped = Ann.nearDupPairs(skewed, maxCellSize = 10L)
    val got = capped.count()
    // ceil(120/10)=12 sub-cells of ~10 => ≤ 12 * C(~10+slack,2); far below n²/2
    assert(got > 0 && got < unboundedPairs / 4,
      s"guard did not bound the join: $got of $unboundedPairs pairs")
    // per-(cell,sub) group sizes are actually bounded near the cap
    val sub = Ann.capCellSizes(skewed, 10L)
      .groupBy("cell_id", "sub_id").count().agg(max("count")).collect().head.getLong(0)
    assert(sub <= 30, s"a sub-cell still holds $sub rows") // hash-uniform slack
    // uniform input below the cap: identical to the unguarded within-cell join
    val uniform = (0L until 40L).map(i => (i, Seq(1.0, 0.0), 1.0, i % 4))
      .toDF("vec_id", "v", "norm", "cell_id")
    assert(Ann.nearDupPairs(uniform, maxCellSize = 100L).count() == 4 * (10L * 9 / 2))
    // relative (skew-factor) guard: uniform cells untouched, a 10x hot cell split
    assert(Ann.nearDupPairsBySkew(uniform, 4.0).count() == 4 * (10L * 9 / 2))
    val hot = ((0L until 100L).map(i => (i, Seq(1.0, 0.0), 1.0, 0L)) ++
      (100L until 110L).map(i => (i, Seq(1.0, 0.0), 1.0, i))) // mean ~ 10
      .toDF("vec_id", "v", "norm", "cell_id")
    val hotPairs = Ann.nearDupPairsBySkew(hot, 2.0).count()
    assert(hotPairs < 100L * 99 / 2 / 2, s"hot cell not split: $hotPairs pairs")
  }

  test("autoCellCount ~ sqrt(n); buildIndex wires it to train+assign") {
    assert(Ann.autoCellCount(0) == 1)
    assert(Ann.autoCellCount(100) == 10)
    assert(Ann.autoCellCount(1000000) == 1000)
    val e = embedded.select(col("vec_id"), col("v"), col("norm"))
    val (centroids, corpus) = Ann.buildIndex(e)
    assert(centroids.count() == Ann.autoCellCount(e.count()))
    assert(corpus.count() == e.count())
    assert(corpus.columns.contains("cell_id"))
  }

  test("multimodal decode: deterministic byte features, empty payload safe") {
    val f = Multimodal.Codec.decode("abc".getBytes("UTF-8"))
    assert(f.n_bytes == 3 && f.head_byte == 'a'.toInt && f.checksum == 97 + 98 + 99)
    assert(f.n_frames == 1)
    val big = Multimodal.Codec.decode(Array.fill[Byte](1000)(1))
    assert(big.n_frames == 4) // ceil(1000/256)
    val empty = Multimodal.Codec.decode(Array.empty[Byte])
    assert(empty.n_bytes == 0 && empty.head_byte == -1 && empty.n_frames == 0)
  }

  test("multimodal pipeline: binary column in, feature rows out, ids preserved") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, "hello", "text/plain"), (2L, "worlds!", "text/plain"))
      .toDF("id", "txt", "mime")
      .select(col("id"), col("txt").cast("binary").as("media"), col("mime"))
    val feats = Multimodal.extractFeaturesDF(spark, df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feats == Map(1L -> 5L, 2L -> 7L))
  }

  /** Raw float corpus + native vec_dot norm — the exact shape q42 uses. */
  private def embeddedF = spark.read.parquet(s"$sf/embeddings.parquet")
    .withColumn("norm", sqrt(graft.functions.vec_dot(col("embedding"), col("embedding"))))
    .withColumnRenamed("embedding", "v")

  private def lshPlanes = embeddedF
    .filter(col("vec_id") >= 20 && col("vec_id") < 28)
    .select(col("vec_id"), col("v")).collect()
    .sortBy(_.getLong(0))
    .map(_.getSeq[Float](1).toArray).toSeq

  test("LSH with bandBits=0 (one universal bucket) == brute-force top-k") {
    val e = embeddedF
    val corpus = Ann.lshTag(e.select(col("vec_id"), col("v"), col("norm")), "v", "sig", lshPlanes)
    val queries = Ann.lshTag(
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn")),
      "qv", "qsig", lshPlanes)
    val lshAll = Ann.lshSearch(corpus, queries, nBits = 8, bandBits = 0, k = 10)
      .select("q_id", "neighbor_id", "cosine", "rank").collect().map(_.toSeq).toSet
    val brute = graft.queries.SimQ.q29AnnTopK(spark, sf)
      .select(col("q_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(lshAll == brute)
  }

  test("LSH banding: every returned neighbor shares at least one signature band") {
    val e = embeddedF
    val corpus = Ann.lshTag(e.select(col("vec_id"), col("v"), col("norm")), "v", "sig", lshPlanes)
    val queries = Ann.lshTag(
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn")),
      "qv", "qsig", lshPlanes)
    val sigs = corpus.select("vec_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Ann.lshSearch(corpus, queries, nBits = 8, bandBits = 4, k = 10)
      .select("q_id", "neighbor_id").collect()
    assert(out.nonEmpty)
    def bandsOf(s: Long) = Seq(s & 15L, (s >> 4) & 15L)
    out.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      val shared = bandsOf(sigs(q)).zip(bandsOf(sigs(n))).exists { case (a, b) => a == b }
      assert(shared, s"neighbor $n of query $q shares no band")
    }
  }

  test("LSH ceil banding: bits past the last full band still produce candidates") {
    val spark0 = spark
    import spark0.implicits._
    // corpus sig 0b11000000 and query sig 0b11111111 share ONLY bits 6-7:
    // with nBits=8, bandBits=3 a floor band count (2) never compares those
    // bits and finds nothing; ceil (3 bands: 0-2, 3-5, 6-7) matches band 2
    val corpus = Seq((1L, Seq(1.0f, 0.0f), 1.0, 192L))
      .toDF("vec_id", "v", "norm", "sig")
    val queries = Seq((99L, Seq(1.0f, 0.0f), 1.0, 255L))
      .toDF("q_id", "qv", "qn", "qsig")
    val out = Ann.lshSearch(corpus, queries, nBits = 8, bandBits = 3, k = 5)
    assert(out.select("neighbor_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  // deterministic pseudo-random 60-bit signatures (no Math.random in specs)
  private def sig60(i: Long): Long = {
    var x = i * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    x ^= x >>> 31; x *= 0x94D049BB133111EBL; x ^= x >>> 29
    x & ((1L << 60) - 1)
  }

  test("hamming near-dup: salted pigeonhole == brute force under a planted mega-cluster") {
    val spark0 = spark
    import spark0.implicits._
    val planted = (0L until 120L).map(i => (i, 0x0123456789ABCDL & ((1L << 60) - 1)))
    val noise = (120L until 600L).map(i => (i, sig60(i)))
    // edge inputs: every block of the 16 all-zero signatures is a bucket of
    // exactly the target (n_sub stays 1), every block of the 17 all-one
    // signatures one of target + 1 (n_sub 2); a null id next to a partner
    // signature and two null signatures pair with nothing
    val ones = (1L << 60) - 1
    val partner = (0 until 4).map(i => 0x555L << (15 * i)).sum // no block 0 or all-ones
    val edges: Seq[(Option[Long], Option[Long])] =
      (1000L until 1016L).map(i => (Option(i), Option(0L))) ++
        (2000L until 2017L).map(i => (Option(i), Option(ones))) ++
        Seq((None, Some(partner)), (Some(3001L), Some(partner)), (Some(3002L), None),
          (Some(3003L), None))
    val inputs = Seq((planted ++ noise).map { case (i, s) => (Option(i), Option(s)) },
      edges, Seq.empty[(Option[Long], Option[Long])])
    inputs.foreach { rows =>
      val sigs = rows.toDF("id", "sig")
      // small target bucket forces the hot 120-row bucket to actually split
      val guarded = graft.llm.Hamming
        .nearDupPairs(sigs, "id", "sig", nBits = 60, maxHamming = 3, targetBucket = 16L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val all = rows.collect { case (Some(i), Some(s)) => (i, s) }
      val brute = (for {
        (a, sa) <- all; (b, sb) <- all if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
      } yield (a, b, h)).toSet
      if (rows.size == 600) // the planted cluster's pairs are all there
        assert(brute.size >= 120 * 119 / 2)
      assert(guarded == brute)
    }
    val nSub = Salt.salt(graft.llm.Hamming.blocks(edges.toDF("id", "sig"), "id", "sig",
        nBits = 60, maxHamming = 3), Seq("block_id", "block_val"), col("id"), Salt.rows(16L))
      .filter(col("sig").isin(0L, ones)).select("sig", "n_sub").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nSub == Map(0L -> 1L, ones -> 2L))
  }

  test("hamming salt guard: hot buckets split, uniform buckets untouched") {
    val spark0 = spark
    import spark0.implicits._
    val planted = (0L until 120L).map(i => (i, 42L))
    val noise = (120L until 200L).map(i => (i, sig60(i)))
    val blocks = Salt.salt(graft.llm.Hamming.blocks(
      (planted ++ noise).toDF("id", "sig"), "id", "sig",
      nBits = 60, maxHamming = 3), Seq("block_id", "block_val"), col("id"), Salt.rows(16L))
    // hot bucket (120 rows sharing every block of sig 42): n_sub = ceil(120/16) = 8
    val hot = blocks.filter(col("sig") === 42L)
    assert(hot.select("n_sub").distinct().collect().map(_.getLong(0)).toSeq == Seq(8L))
    // hash-spread: no (block, salt) group more than 2x the target
    val maxGroup = blocks.groupBy("block_id", "block_val", "salt")
      .count().agg(max("count")).head().getLong(0)
    assert(maxGroup <= 32L, s"a (block, salt) group holds $maxGroup rows")
    // buckets at or under the target never split
    val smallSplit = blocks.withColumn("bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("block_id", "block_val")))
      .filter(col("bn") <= 16 && col("n_sub") > 1)
    assert(smallSplit.count() == 0)
  }

  // ---- MinHash LSH band-join salt guard (graft.scale.Salt) -----------------
  // A band table with a planted mega-band (120 docs sharing one band key —
  // far over the test targetBucket of 16, so the split path actually
  // engages), a cross-band duplicate pair (pins the per-pair distinct), a
  // small shared band, and unique-key noise.
  private def plantedBands(spark0: org.apache.spark.sql.SparkSession) = {
    import spark0.implicits._
    val hot = (0L until 120L).map(i => (i, 1, "HOT"))
    val crossBand = Seq((0L, 2, "X"), (1L, 2, "X")) // 0-1 also meet in band 2
    val small = Seq((300L, 3, "S"), (301L, 3, "S"))
    val noise = (200L until 260L).map(i => (i, 1, s"n$i"))
    (hot ++ crossBand ++ small ++ noise).toDF("doc_id", "band_id", "band_key")
  }

  private val BandKeys = Seq("band_id", "band_key")

  // edge inputs: a band of exactly the target (16 rows: n_sub stays 1), one
  // of target + 1 (17 rows: n_sub 2), a null id in the small band and two
  // rows sharing a null key, none of which may pair
  private def edgeBands(spark0: org.apache.spark.sql.SparkSession) = {
    import spark0.implicits._
    val at = (400L until 416L).map(i => (Option(i), 4, Option("AT")))
    val over = (500L until 517L).map(i => (Option(i), 5, Option("OVER")))
    val nulls = Seq[(Option[Long], Int, Option[String])](
      (None, 3, Some("S")), (Some(600L), 6, None), (Some(601L), 6, None))
    (at ++ over ++ nulls).toDF("doc_id", "band_id", "band_key")
  }

  // the planted table, the planted table with the edge inputs, the empty table
  private def bandInputs(spark0: org.apache.spark.sql.SparkSession) = {
    val bands = plantedBands(spark0)
    Seq(bands, bands.union(edgeBands(spark0)), bands.limit(0))
  }

  private def assertEdgeSizing(spark0: org.apache.spark.sql.SparkSession): Unit = {
    val nSub = Salt.salt(edgeBands(spark0), BandKeys, col("doc_id"), Salt.rows(16L))
      .filter(col("band_key").isin("AT", "OVER")).select("band_key", "n_sub").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nSub == Map("AT" -> 1L, "OVER" -> 2L))
  }

  // band rows as the reference sees them: null ids and keys never pair
  private def bandRows(bands: org.apache.spark.sql.DataFrame): Seq[(Long, Int, String)] =
    bands.collect().toSeq.filter(r => !r.isNullAt(0) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))

  // unguarded reference semantics, computed row-at-a-time on the driver
  private def brutePairs(rows: Seq[(Long, Int, String)],
                         isNew: Long => Boolean): Set[(Long, Long)] = {
    val byBand = rows.groupBy(r => (r._2, r._3)).values
    byBand.flatMap { b =>
      for {
        a <- b; c <- b
        if a._1 < c._1 && (isNew(a._1) || isNew(c._1))
      } yield (a._1, c._1)
    }.toSet
  }

  test("minhash salt guard: batch candidates == unguarded join under a planted mega-band") {
    val spark0 = spark
    bandInputs(spark0).zipWithIndex.foreach { case (bands, i) =>
      val expected = brutePairs(bandRows(bands), _ => true)
      if (i < 2) assert(expected.size >= 120 * 119 / 2) // the mega-band's pairs are all there
      val got = Salt.candidates(bands, BandKeys, "doc_id", lit(true), targetBucket = 16L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
    assertEdgeSizing(spark0)
  }

  test("minhash salt guard: keeping each pair's first shared band == the distinct; carried columns follow their ids") {
    val spark0 = spark
    import spark0.implicits._
    // 150 docs, three bands each: band 1 is one mega-band for docs < 120
    // (split by the test target of 16), band 2 is shared by every tenth doc
    // and band 3 by every seventh, so pairs share one, two or all three
    // bands; doc 999 has null keys (a null signature) and never pairs
    val keyed = (0L until 150L).map { i =>
      (i, Seq(if (i < 120) "HOT" else s"a$i", if (i % 10 == 0) "X" else s"b$i",
        if (i % 7 == 0) "Y" else s"c$i"), s"p$i")
    } :+ ((999L, Seq[String](null, null, null), "p999"))
    val bands = keyed.toDF("doc_id", "ks", "s")
      .select(col("doc_id"), col("ks"), col("s"), posexplode(col("ks")).as(Seq("b", "band_key")))
      .select(col("doc_id"), col("ks"), col("s"), (col("b") + 1).as("band_id"), col("band_key"))
    val distinct = Salt.candidates(bands, BandKeys, "doc_id", lit(true), targetBucket = 16L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(distinct.size > 120 * 119 / 2)
    val once = Salt.candidates(bands, BandKeys, "doc_id", lit(true), targetBucket = 16L,
      carry = Seq("s", "ks"), once = Some(col("band_id") === MinHash.firstSharedBand))
      .select("id_a", "id_b", "s_a", "s_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(once.size == distinct.size, "a pair kept at more than one band")
    assert(once.map(r => (r._1, r._2)).toSet == distinct)
    assert(once.forall { case (a, b, sa, sb) => sa == s"p$a" && sb == s"p$b" })
  }

  test("minhash salt guard: incremental flag == new x (old ∪ new), hot band split across old/new") {
    val spark0 = spark
    // arrivals are doc_id >= 60: the mega-band holds BOTH old and new rows,
    // so new-new meetings exercise the ida < idb dedup and new-old meetings
    // exercise the !left_b branch of the meeting filter
    bandInputs(spark0).zipWithIndex.foreach { case (bands, i) =>
      val tagged = bands.withColumn("is_new", col("doc_id") >= 60L)
      val rows = bandRows(tagged)
      val expected = brutePairs(rows, _ >= 60L)
      val onlyOld = brutePairs(rows, _ => true) -- expected
      if (i < 2) assert(onlyOld.nonEmpty) // old-old pairs exist and must be excluded
      val got = Salt.candidates(tagged, BandKeys, "doc_id", col("is_new"), targetBucket = 16L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
    assertEdgeSizing(spark0)
  }

  test("minhash salt guard: hot buckets split with bounded fan-out, small buckets untouched") {
    val spark0 = spark
    val salted = Salt.salt(plantedBands(spark0), BandKeys, col("doc_id"), Salt.rows(16L))
    // hot bucket: 120 rows / 16 target => n_sub = 8 on every row of the band
    val hot = salted.filter(col("band_key") === "HOT")
    assert(hot.select("n_sub").distinct().collect().map(_.getLong(0)).toSeq == Seq(8L))
    // hash-spread: no (band, salt) group more than 2x the target
    val maxGroup = salted.groupBy("band_id", "band_key", "salt")
      .count().agg(max("count")).head().getLong(0)
    assert(maxGroup <= 32L, s"a (band, salt) group holds $maxGroup rows")
    // buckets at or under the target never split
    assert(salted.filter(col("band_key") =!= "HOT" && col("n_sub") > 1L).count() == 0)
  }

  test("PQ: codes well-formed, centroids encode to themselves, ADC self-distance 0") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
    val cent = e.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select((col("vec_id") - 20).cast("int").as("k"), col("v"))
    val codes = Ann.pqEncode(e.withColumnRenamed("vec_id", "id"), "id", cent)
    val collected = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // every vector gets exactly 8 codes, each a valid codebook index
    assert(collected.values.forall(c => c.length == 8 && c.forall(k => k >= 0 && k < 8)))
    // a vector that IS centroid k has subspace distance 0 to itself, so its
    // code in EVERY subspace is k (ties broken toward the lower index can
    // only replace it if another centroid matches exactly — not in this data)
    for (k <- 0 until 8)
      assert(collected(20L + k).forall(_ == k), s"centroid $k did not encode to itself")
    // ADC of a centroid query against its own code row is exactly 0 => rank 1
    val queries = e.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .withColumnRenamed("vec_id", "q_id")
    val top = Ann.pqSearch(codes, queries, "q_id", cent, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for ((qId, vecId, adc) <- top) {
      assert(vecId == qId, s"query $qId's rank-1 should be itself (got $vecId)")
      assert(adc == 0.0, s"self ADC distance must be exactly 0 (got $adc)")
    }
  }

  test("IVFADC: all cells probed == plain PQ ADC ranking (pruning-only difference)") {
    val s = spark
    import s.implicits._
    import graft.functions.vec_dot
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
    val pqCent = e.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select((col("vec_id") - 20).cast("int").as("k"), col("v"))
    val codes = Ann.pqEncode(e.withColumnRenamed("vec_id", "id"), "id", pqCent)
    val cellCent = e.filter(col("vec_id") >= 10 && col("vec_id") < 18)
      .select((col("vec_id") - 10).as("cell_id"),
        expr("transform(v, x -> CAST(x AS DOUBLE))").as("cv"))
      .withColumn("cnorm", sqrt(vec_dot(col("cv"), col("cv"))))
    val tagged = Ann.assignCells(
      e.select(col("vec_id"), expr("transform(v, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("norm", sqrt(vec_dot(col("v"), col("v")))),
      cellCent)
    val corpus = codes.join(tagged.select(col("vec_id").as("id"), col("cell_id")), Seq("id"))
    val queries = e.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivfadc = Ann.ivfAdcSearch(corpus, queries, "q_id", cellCent, pqCent,
      nProbes = 8, topK = 10)
    val pq = Ann.pqSearch(codes, queries, "q_id", pqCent, topK = 10)
    assert(rows(ivfadc) == rows(pq), "probing every cell must reduce IVFADC to PQ")
    // pruning really prunes: with 1 probe, every result of a query lives in
    // exactly ONE cell (the probed one)
    val pruned = Ann.ivfAdcSearch(corpus, queries, "q_id", cellCent, pqCent,
      nProbes = 1, topK = 10)
    val cellOf = tagged.select(col("vec_id"), col("cell_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byQuery = rows(pruned).groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(r => cellOf(r._2)).size >= 1 &&
        rs.map(r => cellOf(r._2)).toSet.size == 1,
        s"query $q's 1-probe results span multiple cells")
    }
  }

  test("q27/q45 signatures: null-text docs contribute NO row (oracle row-set parity)") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("nulltext")
    Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]), (3L, "gamma delta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ids = SimQ.q27Simhash(s, dir).select("doc_id").collect().map(_.getLong(0)).toSeq
    // the exploded formulation (and DuckDB's unnest) drops null-text docs;
    // the native expression must not resurrect them as (doc_id, null) rows
    assert(ids == Seq(1L, 3L), s"got $ids")
  }

  test("pqTrainCodebooks: trained codebooks beat the fixed corpus-vector codebook on distortion") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
    val fixed = e.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select((col("vec_id") - 20).cast("int").as("k"), col("v"))
    val trained = Ann.pqTrainCodebooks(e)
    assert(trained.count() == 8 &&
      trained.select(size(col("v"))).collect().forall(_.getInt(0) == 64))

    // mean reconstruction distortion = avg over (vector, subspace) of the
    // min squared distance to any centroid of that subspace's codebook
    def distortion(cent: org.apache.spark.sql.DataFrame): Double = {
      val cs = Ann.pqSubspaces(cent, "k", 8, 8).withColumnRenamed("sub", "csub")
      Ann.pqSubspaces(e.withColumnRenamed("vec_id", "id"), "id", 8, 8)
        .join(broadcast(cs), Seq("m"))
        .withColumn("d2", expr(
          "aggregate(zip_with(sub, csub, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)"))
        .groupBy(col("id"), col("m")).agg(min(col("d2")).as("best"))
        .agg(avg(col("best"))).collect().head.getDouble(0)
    }
    val (dTrained, dFixed) = (distortion(trained), distortion(fixed))
    assert(dTrained <= dFixed,
      s"k-means codebooks must not be worse than arbitrary corpus rows: $dTrained > $dFixed")
    // and the trained codebook drops straight into the search path
    val codes = Ann.pqEncode(e.withColumnRenamed("vec_id", "id"), "id", trained)
    val queries = e.filter(col("vec_id") < 2).withColumnRenamed("vec_id", "q_id")
    assert(Ann.pqSearch(codes, queries, "q_id", trained, topK = 5).count() == 10L)
  }

  test("pqSearch excludeSelf matches IVF search's self-filtering convention") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
    val pqCent = e.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select((col("vec_id") - 20).cast("int").as("k"), col("v"))
    val codes = Ann.pqEncode(e.withColumnRenamed("vec_id", "id"), "id", pqCent)
    val queries = e.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "q_id")
    val withSelf = Ann.pqSearch(codes, queries, "q_id", pqCent, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noSelf = Ann.pqSearch(codes, queries, "q_id", pqCent, topK = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 3L).forall(q => withSelf.contains((q, q))), "default keeps self at rank 1")
    assert(noSelf.forall { case (q, v) => q != v }, "excludeSelf must drop self-matches")
    assert(noSelf.size == withSelf.size, "both return topK rows per query")
  }

  test("incrementalNearDupPairs: batch pairs ∪ old pairs == full recompute; old docs never re-signatured") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(s, dir).select("doc_id", "text")
    val oldDocs = all.filter(col("doc_id") % 4 =!= 0)
    val newDocs = all.filter(col("doc_id") % 4 === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // "full recompute" oracle: run the incremental path with everything new
    val (_, fullPairs) = MinHash.incrementalNearDupPairs(all, MinHash.bandIndex(all.limit(0)), all)
    // old corpus assigned first, then the arrival batch folds in
    val oldBands = MinHash.bandIndex(oldDocs).localCheckpoint()
    val (_, oldPairs) =
      MinHash.incrementalNearDupPairs(oldDocs, MinHash.bandIndex(oldDocs.limit(0)), oldDocs)
    val (newBands, incPairs) = MinHash.incrementalNearDupPairs(all, oldBands, newDocs)
    assert(pairSet(oldPairs) ++ pairSet(incPairs) == pairSet(fullPairs),
      "incremental + old-only pairs must reconstruct the full pair set")
    // every incremental pair touches an arrival; the appended band rows are
    // exactly the arrivals' (3 per doc)
    assert(pairSet(incPairs).forall(p => p._1 % 4 == 0 || p._2 % 4 == 0))
    assert(newBands.count() == newDocs.count() * 3)
    // and the full-corpus memoized stage agrees with the all-new formulation
    assert(pairSet(fullPairs) == pairSet(SimQ.nearDupPairs(s, dir)
      .select("id_a", "id_b", "jaccard")))
  }

  test("nearDupPairs: a rewritten table is seen by the next call") {
    val spark0 = spark
    import spark0.implicits._
    val dir = scratchDir("pairtable")
    def write(docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // two byte-identical docs: one verified pair
    write(Seq((1L, "alpha beta gamma delta epsilon"),
              (2L, "alpha beta gamma delta epsilon"),
              (3L, "zeta eta theta iota kappa")))
    val before = BlockCensus.rddBlocks()
    val first = SimQ.nearDupPairs(spark, dir)
    val left = BlockCensus.leftSince(before, first)
    assert(left.isEmpty, s"${left.size} RDD blocks left beyond the output checkpoint's: $left")
    assert(first.count() == 1)
    // REWRITE the table in place within the session: no dups anymore, and
    // the next call reads the new table
    write(Seq((1L, "one two three four five"),
              (2L, "six seven eight nine ten")))
    assert(SimQ.nearDupPairs(spark, dir).count() == 0)
  }

  test("minhash band keys: null text never pairs") {
    val spark0 = spark
    import spark0.implicits._
    val m = 6L
    val nulls = (1L to m).map(i => (i, null: String)).toDF("doc_id", "text")
    val docs = nulls.union(Seq((101L, ""), (102L, "")).toDF("doc_id", "text"))
    val keys = MinHash.bandIndex(docs).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2)))
    assert(keys.count(_._1 <= m) == 3 * m)
    assert(keys.filter(_._1 <= m).forall(_._2.isEmpty), "a null text must get null band keys")
    val emptyKeys = keys.filter(_._1 > 100L).groupBy(_._1)
      .map { case (id, ks) => id -> ks.map(_._2).toSet }
    assert(emptyKeys(101L) == emptyKeys(102L) && emptyKeys(101L).forall(_.exists(_.nonEmpty)))
    val cand = Salt.candidates(MinHash.bandIndex(nulls), Seq("band_id", "band_key"),
      "doc_id", lit(true))
    assert(cand.count() == 0, "null-text docs must yield no candidate pairs")
    val pairs = MinHash.nearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((101L, 102L, 1.0)))
  }

  test("extraction functions: css/json column DSL") {
    val spark0 = spark
    import spark0.implicits._
    import graft.functions._
    val df = Seq(
      """<html><head><title>T1</title></head><body><a href="x.html">l</a></body></html>""")
      .toDF("html")
    val row = df.select(
      css_text(col("html"), lit("title")).as("t"),
      css_attr(col("html"), lit("a"), lit("href")).as("h"),
      css_hrefs(col("html"), lit("a"), lit("file:/base/page.html")).as("abs")
    ).collect().head
    assert(row.getString(0) == "T1")
    assert(row.getString(1) == "x.html")
    assert(row.getSeq[String](2) == Seq("file:/base/x.html"))

    val jdf = Seq("""{"a":{"name":"n1"},"items":[{"name":"n2"}]}""").toDF("js")
    val names = jdf.select(json_texts(col("js"), lit("name")).as("n")).collect()
      .head.getSeq[String](0)
    assert(names == Seq("n1", "n2"))
  }

  test("near-dup entry points: a second run is identical and leaves only its outputs' blocks") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val oldDocs = docs.filter(col("doc_id") % 4 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 4 === 0)
    val oldBands = MinHash.bandIndex(oldDocs).localCheckpoint()
    val oldAnchors = Substring.anchorIndex(oldDocs).localCheckpoint()
    val runs: Seq[(String, () => Seq[org.apache.spark.sql.DataFrame])] = Seq(
      "fuzzyNearDupPairs" -> (() => Seq(MinHash.fuzzyNearDupPairs(docs))),
      "incrementalNearDupPairs" -> (() => {
        val (bands, pairs) = MinHash.incrementalNearDupPairs(docs, oldBands, newDocs)
        Seq(bands, pairs)
      }),
      "incrementalSubstringPairs" -> (() => {
        val (anchors, pairs) = Substring.incrementalSubstringPairs(docs, oldAnchors, newDocs)
        Seq(anchors, pairs)
      }))
    runs.foreach { case (name, run) =>
      val outs = (1 to 2).map { _ =>
        val before = BlockCensus.rddBlocks()
        val out = run()
        val left = BlockCensus.leftSince(before, out: _*)
        assert(left.isEmpty, s"$name: ${left.size} RDD blocks left beyond its outputs' own: $left")
        out.map(_.collect().map(_.toString).sorted.toSeq)
      }
      assert(outs(0) == outs(1), s"$name: second run differs")
      assert(outs(0).last.nonEmpty, s"$name: the fixture corpus must yield pairs")
    }
  }

  // ---- Fuzzy (edit-distance) near-dup (MinHash.fuzzyNearDupPairs) ----

  /** Textbook DP Levenshtein — the spec's independent reference. */
  private def levRef(a: String, b: String): Long = {
    val prev = Array.tabulate(b.length + 1)(_.toLong)
    val cur = new Array[Long](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i.toLong
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  test("fuzzy dedup: planted single-typo pair found with exact distance; unrelated pair absent") {
    val spark0 = spark
    import spark0.implicits._
    val words = (0 until 50).map(i => f"tok$i%02d")
    val a = words.mkString(" ")
    val b = words.updated(25, "tokXX").mkString(" ")     // one in-word corruption
    val far = (0 until 50).map(i => f"zzz$i%02d").mkString(" ")
    val docs = Seq((0L, a), (1L, b), (2L, far)).toDF("doc_id", "text")
    val out = MinHash.fuzzyNearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 1L, levRef(a.take(256), b.take(256)))))
  }

  test("fuzzy dedup verify stage == driver replay over the same candidates (sf0.001)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // candidates from the operator's own (spec-pinned-elsewhere) band stage;
    // this test independently replays the VERIFY arithmetic
    val got = MinHash.fuzzyNearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.nonEmpty, "fixture corpus must contain fuzzy pairs")
    got.foreach { case (ia, ib, lev, rel) =>
      val sa = texts(ia).get.take(256); val sb = texts(ib).get.take(256)
      val expect = levRef(sa, sb)
      val mx = math.max(sa.length, sb.length).toLong
      assert(lev == expect, s"pair ($ia,$ib)")
      assert(lev * 5 <= mx && mx > 0)
      assert(math.abs(rel - lev.toDouble / mx) < 1e-3)
    }
  }

  // ---- SemDeDup (llm/SemDedup.scala) ----

  test("semdedup: planted exact twins collapse to the lowest-id member; empty init cluster survives") {
    val spark0 = spark
    import spark0.implicits._
    // ids 0,1,4 identical; 2,3 identical and orthogonal to them. k=2 init =
    // vectors 0 and 1 — IDENTICAL, so every vector ties to cluster 0 and
    // cluster 1 goes empty (exercising the keep-previous-centroid path).
    // Within the one populated cluster: equal cdist → lowest id survives.
    val e1 = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val e2 = Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f)
    val vecs = Seq(
      (0L, e1.toSeq), (1L, e1.toSeq), (2L, e2.toSeq), (3L, e2.toSeq), (4L, e1.toSeq))
      .toDF("vec_id", "embedding")
    val out = graft.llm.SemDedup
      .semDedup(vecs, "vec_id", "embedding", k = 2, iters = 1, tauNum = 9, tauDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    // After the update, the empty cluster still carries the exact e1
    // centroid, so the e1 twins snap back to it: {0,1,4} and {2,3} must
    // land in two distinct clusters, and within each the lowest id wins.
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(Set(byId(0L), byId(1L), byId(4L)).size == 1)
    assert(Set(byId(2L), byId(3L)).size == 1)
    assert(byId(0L) != byId(2L))
    assert(out.filter(_._3).map(_._1).toSeq == Seq(1L, 3L, 4L))
  }

  test("semdedup: cluster ids and dup verdicts match an independent driver-side replay (sf0.001, k=4)") {
    val S = 100000L; val CQ = 1000L; val k = 4; val tauN = 2L; val tauD = 5L
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val qv = raw.map { case (id, v) =>
      id -> v.map(x => Math.round(x.toDouble * S))
    }.toMap
    val d = qv.head._2.length
    var cen: Map[Long, Array[Long]] =
      raw.take(k).zipWithIndex.map { case ((id, _), i) => i.toLong -> qv(id).map(_ * CQ) }.toMap
    def assignAll(): Map[Long, (Long, Long)] = qv.map { case (id, v) =>
      val scored = (0L until k.toLong).map { c =>
        val cv = cen(c)
        var s = 0L; var i = 0
        while (i < d) { val t = v(i) * CQ - cv(i); s += t * t; i += 1 }
        (s, c)
      }
      id -> scored.min.swap
    }
    val a1 = assignAll()
    cen = cen.map { case (c, prev) =>
      val members = qv.keys.filter(a1(_)._1 == c).toSeq
      if (members.isEmpty) c -> prev
      else c -> Array.tabulate(d) { i =>
        Math.floorDiv(members.map(qv(_)(i)).sum * CQ, members.size.toLong)
      }
    }
    val a2 = assignAll()
    def n2(v: Array[Long]) = v.map(x => x * x).sum
    val expected = qv.keys.toSeq.sorted.map { id =>
      val (ca, da) = a2(id)
      val isDup = qv.keys.exists { ob =>
        ob != id && a2(ob)._1 == ca && {
          val (_, db) = a2(ob)
          (db < da || (db == da && ob < id)) && {
            val dot = qv(id).zip(qv(ob)).map { case (x, y) => x * y }.sum
            dot > 0 &&
              BigInt(tauD * tauD) * BigInt(dot) * BigInt(dot) >
                BigInt(tauN * tauN) * BigInt(n2(qv(id))) * BigInt(n2(qv(ob)))
          }
        }
      }
      (id, ca, isDup)
    }
    assert(expected.count(_._3) > 0, "fixture must plant real semantic dups")
    val got = graft.llm.SemDedup
      .semDedup(spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding",
        k = k, iters = 1, tauNum = tauN, tauDen = tauD)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("semdedup: distributed-centroid regime is bit-identical to the packed regime") {
    val S = graft.llm.SemDedup
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = S.quantize(raw, "embedding").select(col("vec_id"), col("qv"))

    // fit parity: the DataFrame-resident centroids equal the driver ones,
    // component for component, across TWO Lloyd iterations (so the
    // update-join path feeds the next assign at least once)
    val driverCen = S.fit(q, "vec_id", k = 8, iters = 2)
    val qP = q.repartition(col("vec_id"))
    val dfCen = S.fitDF(qP, "vec_id", k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1).toSeq
    assert(dfCen.map(_._1) == driverCen.map(_._1))
    dfCen.zip(driverCen).foreach { case ((_, a), (_, b)) =>
      assert(a.toSeq == b.toSeq)
    }

    // full-operator parity: force each regime explicitly on the same input
    def runWith(pin: Long) = S
      .semDedup(raw, "vec_id", "embedding", k = 8, iters = 2,
        tauNum = 2, tauDen = 5, packedMaxKd = pin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(runWith(0L) == runWith(Long.MaxValue),
      "distributed and packed regimes must agree bit-for-bit")
  }

  test("semdedup: fitDF's second run is identical and leaves only its output's blocks") {
    val S = graft.llm.SemDedup
    val qP = S.quantize(spark.read.parquet(s"$sf/embeddings.parquet"), "embedding")
      .select(col("vec_id"), col("qv")).repartition(col("vec_id"))
    val outs = (1 to 2).map { _ =>
      val before = org.apache.spark.graft.BlockCensus.rddBlocks()
      val cen = S.fitDF(qP, "vec_id", k = 8, iters = 6)
      val left = org.apache.spark.graft.BlockCensus.leftSince(before, cen)
      assert(left.isEmpty, s"${left.size} RDD blocks left beyond the centroids' own: $left")
      cen.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    }
    assert(outs(0) == outs(1) && outs(0).size == 8)
  }

  test("semdedup: distributed assign reuses the corpus partitioning (no per-iteration exchange)") {
    val S = graft.llm.SemDedup
    val q0 = S.quantize(spark.read.parquet(s"$sf/embeddings.parquet"), "embedding")
      .select(col("vec_id"), col("qv"))
    // centroids off the UN-partitioned frame so the exchange count below
    // isolates the corpus path (the broadcast side is k-row work anyway)
    val cen = S.initCentroidsDF(q0, "vec_id", 8)
    val plan = S.assignDF(q0.repartition(col("vec_id")), "vec_id", cen)
      .queryExecution.executedPlan.toString
    // exactly ONE corpus shuffle — the up-front repartition; the per-id
    // argmin aggregate must ride it, not add a second hashpartitioning
    val exchanges = "Exchange hashpartitioning\\(vec_id".r.findAllIn(plan).length
    assert(exchanges == 1, s"argmin aggregate re-shuffled the corpus:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed centroid broadcast missing:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"))
  }

  test("semdedup: coarse-routed assign — exact on separated data, monotone recall, no fine broadcast") {
    val spark0 = spark
    import spark0.implicits._
    val S = graft.llm.SemDedup
    // separated geometry: 16 orthogonal axis clusters (d = 16), members =
    // the axis vector with a tiny same-axis wobble — every fine centroid
    // is its cluster's axis, coarse routing can never misroute at
    // nProbe = 1, so coarse == flat BIT-IDENTICALLY
    val vecs = (0L until 160L).map { i =>
      val axis = (i % 16).toInt
      val v = Array.tabulate(16)(j => if (j == axis) 1.0f + 0.001f * (i % 3) else 0.0f)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val q = S.quantize(vecs, "embedding").select(col("vec_id"), col("qv"))
    val cen = S.initCentroidsDF(q.filter(col("vec_id") < 16), "vec_id", 16)
      .localCheckpoint()
    def collectA(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cluster", "cdist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val flat = collectA(S.assignDF(q, "vec_id", cen))
    val coarse1 = collectA(S.assignCoarseDF(q, "vec_id", cen, coarseEvery = 4, nProbe = 1))
    assert(coarse1 == flat, "separated data must route exactly at nProbe = 1")

    // real embeddings: recall monotone in nProbe, 1.0 when probing all cells
    val e = S.quantize(spark.read.parquet(s"$sf/embeddings.parquet"), "embedding")
      .select(col("vec_id"), col("qv"))
    val cen2 = S.initCentroidsDF(e, "vec_id", 32).localCheckpoint()
    val exact = collectA(S.assignDF(e, "vec_id", cen2)).map(r => r._1 -> r._2).toMap
    val recalls = Seq(1, 2, 8).map { p =>
      val got = collectA(S.assignCoarseDF(e, "vec_id", cen2, coarseEvery = 4, nProbe = p))
      got.count(r => exact(r._1) == r._2).toDouble / got.size
    }
    assert(recalls == recalls.sorted, s"recall must be monotone in nProbe: $recalls")
    assert(recalls.last == 1.0, s"probing every coarse cell must be exact: $recalls")
    // absolute recall on UNSTRUCTURED embeddings (uniform vectors, coarse
    // cells with no geometric meaning) is the adversarial floor — the
    // contract is monotone + exact-at-full-probe; on clustered data (the
    // operator's domain) routing is near-exact, pinned above
    assert(recalls.head > 0.25, s"nProbe=1 must beat the 1/8 random-cell floor: $recalls")

    // plan pin: the FINE centroid table must NOT broadcast — it joins
    // shuffle-hash on the coarse cell id; the √k coarse table rides the
    // plan as a literal, so NO broadcast node of any kind appears
    val plan = S.assignCoarseDF(e, "vec_id", cen2, 4, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"fine join must be shuffle-hash:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"fine table must never broadcast:\n$plan")
  }

  test("semdedup: coarse-routed Lloyd TRAINING at full probe is bit-identical to the exact fit") {
    val S = graft.llm.SemDedup
    val q = S.quantize(spark.read.parquet(s"$sf/embeddings.parquet"), "embedding")
      .select(col("vec_id"), col("qv"))
    val qP = q.repartition(col("vec_id")).persist()
    try {
      def collectCen(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
      // k = 16 → coarseEvery = √16 = 4 → 4 coarse cells; nProbe = 4 probes
      // every cell, so routing recall is 1 and each iteration's assignment
      // (hence each Lloyd update, hence the fit) must equal the exact route
      // component for component — across TWO iterations, so the re-derived
      // routing of iteration 2 runs against iteration 1's centroids
      val exact = collectCen(S.fitDF(qP, "vec_id", k = 16, iters = 2))
      val coarseFull = collectCen(
        S.fitDF(qP, "vec_id", k = 16, iters = 2, coarseMaxKd = 0L, nProbe = 4))
      assert(coarseFull == exact,
        "full-probe coarse-routed training must be bit-identical to the exact fit")
      // honest-approximation shape at partial probe: still k centroid rows,
      // every component finite — the fit is usable, just approximate
      val coarsePartial = collectCen(
        S.fitDF(qP, "vec_id", k = 16, iters = 2, coarseMaxKd = 0L, nProbe = 1))
      assert(coarsePartial.map(_._1) == exact.map(_._1))
      // operator-level threading: semDedup past BOTH pins still produces a
      // verdict row per vector with the full cluster-id range shape
      val dedup = S.semDedup(spark.read.parquet(s"$sf/embeddings.parquet"),
        "vec_id", "embedding", k = 16, iters = 1, tauNum = 2, tauDen = 5,
        packedMaxKd = 0L, coarseMaxKd = 0L)
      assert(dedup.count() == q.count())
    } finally qP.unpersist(false)
  }

  test("semdedup: hot-cluster guard — honest cap is bit-identical; mega-cluster pairs bounded") {
    val spark0 = spark
    import spark0.implicits._
    val S = graft.llm.SemDedup
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
    def runWith(cap: Long) = S
      .semDedup(raw, "vec_id", "embedding", k = 4, iters = 1,
        tauNum = 2, tauDen = 5, maxClusterSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    // cap above every cluster size: n_sub = 1 everywhere → identical output
    assert(runWith(1L << 40) == runWith(0L),
      "an unarmed-in-practice cap must not change verdicts")

    // planted mega-cluster: 64 exact copies + 4 spread vectors, k = 2.
    // Guarded at cap = 8 the blob still collapses to its lowest id (the
    // champion seam pass judges every member against the most central —
    // here lowest-id — copy) and the pair volume is bounded.
    val blob = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f).toSeq
    val other = Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f).toSeq
    val vecs = ((0L until 64L).map(i => (i, blob)) ++
      (64L until 68L).map(i => (i, other))).toDF("vec_id", "embedding")
    val out = S.semDedup(vecs, "vec_id", "embedding", k = 2, iters = 1,
      tauNum = 9, tauDen = 10, maxClusterSize = 8L)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1)
    val blobSurvivors = out.filter(r => r._1 < 64L && !r._2).map(_._1)
    assert(blobSurvivors.toSeq == Seq(0L),
      s"guarded blob must keep exactly its most central member: ${blobSurvivors.toSeq}")

    // pair volume: guarded sub-cells bound the quadratic term — Σ m(m−1)
    // over (cluster, sub) must sit far below the unguarded cluster² blowup
    val q = S.quantize(vecs, "embedding").select(col("vec_id"), col("qv"))
    val m = S.assign(q, S.fit(q, "vec_id", 2, 1))
    val unguarded = m.groupBy(col("cluster")).count()
      .agg(sum(col("count") * (col("count") - 1))).collect().head.getLong(0)
    val guarded = Salt.salt(m, Seq("cluster"), col("vec_id"), Salt.rows(8L))
      .groupBy(col("cluster"), col("salt")).count()
      .agg(sum(col("count") * (col("count") - 1))).collect().head.getLong(0)
    assert(unguarded >= 64L * 63L, s"blob must be quadratic unguarded: $unguarded")
    assert(guarded * 3 < unguarded,
      s"guarded pair volume must be bounded: $guarded vs $unguarded")
  }

  test("semdedup sizing rule: fixed k quadruples the pair volume as n doubles; k scaled with n keeps cells bounded") {
    val S = graft.llm.SemDedup
    // formula vectors: a group center from id % g plus per-id jitter
    def vectors(n: Long, g: Int) = spark.range(n).select(col("id").as("vec_id"), expr(
      s"""transform(sequence(0, 15), j ->
         |  (pmod(xxhash64((id % $g) * 131 + j), 1000) / 1000.0 - 0.5)
         |  + (pmod(xxhash64(id * 31 + j), 1000) / 1000.0 - 0.5) * 1.4)""".stripMargin)
      .as("embedding"))
    def cellSizes(n: Long, k: Int): Seq[Long] = {
      val q = S.quantize(vectors(n, k), "embedding").select(col("vec_id"), col("qv"))
      S.assign(q, S.fit(q, "vec_id", k, 1)).groupBy(col("cluster")).count()
        .collect().map(_.getLong(1)).toSeq
    }
    def pairs(cells: Seq[Long]): Long = cells.map(m => m * (m - 1)).sum
    val pairRatio = pairs(cellSizes(2000, 8)).toDouble / pairs(cellSizes(1000, 8))
    assert(pairRatio > 3.0 && pairRatio < 5.0, s"fixed-k pair volume must ~quadruple: $pairRatio")
    val (cellHalf, cellFull) = (cellSizes(1000, 8).max, cellSizes(2000, 16).max)
    assert(cellFull <= cellHalf * 2, s"scaled-k cells must stay bounded: $cellHalf -> $cellFull")
  }

  test("semdedup: a Lloyd iteration never increases total within-cluster distance (exact ints)") {
    val q = graft.llm.SemDedup.quantize(
      spark.read.parquet(s"$sf/embeddings.parquet"), "embedding")
      .select(col("vec_id"), col("qv"))
    val init = graft.llm.SemDedup.initCentroids(q, "vec_id", 8)
    val before = graft.llm.SemDedup.assign(q, init)
      .agg(sum(col("cdist"))).collect().head.getLong(0)
    val cen1 = graft.llm.SemDedup.lloydUpdate(graft.llm.SemDedup.assign(q, init), init)
    val after = graft.llm.SemDedup.assign(q, cen1)
      .agg(sum(col("cdist"))).collect().head.getLong(0)
    assert(after <= before)
  }
}
