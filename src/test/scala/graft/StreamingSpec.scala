package graft

import graft.streaming.EventStreams

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Structured-Streaming analogs: the streaming result over a MemoryStream
  * must equal the batch result of the same transform on the same rows
  * (Spark's unified API makes this an exact cross-check).
  */
class StreamingSpec extends AnyFunSuite {

  import SparkFixture._

  private def mkRows: Seq[(Timestamp, String, Double, Long)] = {
    val base = 1700000000000L // fixed epoch millis
    (0 until 300).map { i =>
      val user = (i % 7).toLong
      val etype = Seq("view", "click", "purchase")(i % 3)
      // bursts with >30min gaps every 20 events to exercise sessionization
      val ts = new Timestamp(base + (i / 20) * 3600L * 1000 + (i % 20) * 60L * 1000)
      (ts, etype, (i % 10) * 1.5, user)
    }
  }

  private def runStream(name: String,
                        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double, Long)]
    val rows = mkRows
    input.addData(rows: _*)
    val streamDf = f(input.toDF.toDF("ts", "event_type", "value", "user_id"))
    val q = streamDf.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table(name)
    val batch = f(rows.toDF("ts", "event_type", "value", "user_id"))
    (got, batch)
  }

  test("streaming hourlyCounts == batch hourlyCounts") {
    val (got, batch) = runStream("hc", df => EventStreams.hourlyCounts(df))
    val g = got.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(g == b)
    assert(g.nonEmpty)
  }

  test("mapGroupsWithState running stats: streamed final state == batch aggregate") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double, Long)]
    val rows = mkRows
    val ds = input.toDF.toDF("ts", "event_type", "value", "user_id")
      .selectExpr("ts", "event_type AS eventType", "value", "user_id AS userId")
      .as[EventStreams.Event]
    val q = EventStreams.userRunningStats(ds)
      .writeStream.format("memory").queryName("urs").outputMode("update").start()
    try {
      // two micro-batches: state must carry across them
      input.addData(rows.take(150): _*)
      q.processAllAvailable()
      input.addData(rows.drop(150): _*)
      q.processAllAvailable()
    } finally q.stop()
    // last update per user (nEvents is monotone) == batch totals
    val finalPerUser = spark.table("urs").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_._1) }
    val batch = rows.groupBy(_._4).map { case (u, es) =>
      u -> (es.size.toLong, es.map(_._3).sum)
    }
    assert(finalPerUser.keySet == batch.keySet)
    batch.foreach { case (u, (n, total)) =>
      val (gn, gt) = finalPerUser(u)
      assert(gn == n, s"user $u count")
      assert(math.abs(gt - total) < 1e-9, s"user $u total")
    }
  }

  test("transforms run on the real events table (nanosecond parquet -> timestamp)") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", timestamp_micros(expr("ts div 1000"))) // canonical nanos -> micros ts
    val total = ev.count()
    val hourly = EventStreams.hourlyCounts(ev)
    assert(hourly.agg(sum("n")).collect().head.getLong(0) == total) // partition of all events
    val sessions = EventStreams.sessionValues(ev)
    assert(sessions.count() > 0)
    assert(sessions.agg(sum("n_events")).collect().head.getLong(0) == total)
  }

  test("streaming dedup drops cross-batch re-crawls; keep-first per fingerprint") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF.toDF("ts", "doc_id", "fingerprint")
    val q = EventStreams.dedupWithinWatermark(df)
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      // batch 1: 3 distinct fingerprints, one duplicated within the batch
      input.addData(
        (new Timestamp(base), 1L, "fpA"), (new Timestamp(base + 1000), 2L, "fpB"),
        (new Timestamp(base + 2000), 3L, "fpA"), (new Timestamp(base + 3000), 4L, "fpC"))
      q.processAllAvailable()
      // batch 2: re-crawls of fpA/fpB at later times + one new fingerprint
      input.addData(
        (new Timestamp(base + 60000), 5L, "fpA"), (new Timestamp(base + 61000), 6L, "fpB"),
        (new Timestamp(base + 62000), 7L, "fpD"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dd").collect().map(r => r.getString(2)).sorted.toSeq
    assert(got == Seq("fpA", "fpB", "fpC", "fpD")) // exactly one survivor per fingerprint
    // batch mode: plain distinct-by-key
    val batch = EventStreams.dedupWithinWatermark(
      Seq((new Timestamp(base), 1L, "x"), (new Timestamp(base + 1), 2L, "x"))
        .toDF("ts", "doc_id", "fingerprint"))
    assert(batch.count() == 1)
  }

  test("streaming DSIR scoring over frozen bucket stats == batch dsirScores (append mode, stateless)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val vocabA = (0 until 30).map(i => s"tok$i")
    val vocabB = (0 until 30).map(i => s"rot$i")
    def doc(v: Seq[String]) = Seq.fill(20)(v(rnd.nextInt(v.size))).mkString(" ")
    val corpus = ((0 until 30).map(i => (i.toLong, "en", doc(vocabA))) ++
      (100 until 130).map(i => (i.toLong, "xx", doc(vocabB)))).toDF("doc_id", "lang", "text")

    // freeze bucket stats offline (ALL 1024 buckets present — totality)
    val bucketRows = graft.llm.Corpus.dsirBucketScores(corpus).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(bucketRows.size == 1024)
    val scores = Array.tabulate(1024)(bucketRows)

    // the parity anchor: batch weights over the SAME frozen stats' corpus
    val batch = graft.llm.Corpus.dsirScores(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet

    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.dsirScoreIngest(input.toDF.toDF("doc_id", "lang", "text"), scores)
      .selectExpr("doc_id", "n_toks", "weight")
      .writeStream.format("memory").queryName("dsir").outputMode("append").start()
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    try {
      input.addData(rows.take(20).toIndexedSeq); q.processAllAvailable()
      input.addData(rows.drop(20).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dsir").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, "stream-scored arrivals must equal batch weights exactly")
    // a NEVER-seen token still scores: its bucket is defined (totality)
    val unseen = EventStreams.dsirScoreIngest(
      Seq((999L, "xx", "zzz-completely-new")).toDF("doc_id", "lang", "text"), scores)
      .selectExpr("weight").collect().head.getLong(0)
    assert(unseen > 0L)
  }

  test("streaming semantic-cluster assignment over frozen centroids == batch assign (append, stateless)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    // freeze centroids offline (one batch Lloyd pass, k = 4)
    val q0 = graft.llm.SemDedup.quantize(corpus, "embedding").select("vec_id", "qv")
    val cen = graft.llm.SemDedup.fit(q0, "vec_id", k = 4, iters = 1)
    val batch = graft.llm.SemDedup.assign(q0, cen).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet

    val rows = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.semClusterIngest(
        input.toDF.toDF("vec_id", "embedding"), cen)
      .selectExpr("vec_id", "cluster", "cdist")
      .writeStream.format("memory").queryName("semclu").outputMode("append").start()
    try {
      input.addData(rows.take(100).toIndexedSeq); q.processAllAvailable()
      input.addData(rows.drop(100).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("semclu").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, "stream-assigned arrivals must equal batch clusters exactly")
  }

  test("streaming coarse-routed assignment (stream-static shuffle join) == batch assignCoarseDF") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = graft.llm.SemDedup
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val q0 = S.quantize(corpus, "embedding").select("vec_id", "qv")
    val cen = S.initCentroidsDF(q0, "vec_id", 32).localCheckpoint()
    val batch = S.assignCoarseDF(q0, "vec_id", cen, coarseEvery = 4, nProbe = 2)
      .select("vec_id", "cluster", "cdist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // frozen index halves: the coarse literal + the routed fine frame
    val coarse = S.coarseOf(cen, 4)
    val routed = S.routeCentroids(cen, coarse).localCheckpoint()

    val rows = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.semCoarseIngest(
        input.toDF.toDF("vec_id", "embedding"), coarse, routed, nProbe = 2)
      .selectExpr("vec_id", "cluster", "cdist")
      .writeStream.format("memory").queryName("semcoarse").outputMode("update").start()
    try {
      input.addData(rows.take(100).toIndexedSeq); q.processAllAvailable()
      input.addData(rows.drop(100).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("semcoarse").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      "stream-assigned arrivals must equal the batch coarse route exactly")
  }

  test("streaming KMV sketch (stateful aggregate through the state store) == batch sketch") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the custom TypedImperativeAggregate must survive state-store
    // serialize/deserialize across micro-batches and merge correctly
    val rows = (0 until 3000).map(i => (s"g${i % 3}", s"tok ${i % 800}"))
    val batch = rows.toDF("g", "s").groupBy("g")
      .agg(graft.functions.kmv_sketch(org.apache.spark.sql.functions.col("s"), 16).as("kmv"))
      .collect().map(r => r.getString(0) -> r.getStruct(1).getSeq[Long](1)).toMap
    val input = MemoryStream[(String, String)]
    val q = input.toDF.toDF("g", "s").groupBy("g")
      .agg(graft.functions.kmv_sketch(org.apache.spark.sql.functions.col("s"), 16).as("kmv"))
      .writeStream.format("memory").queryName("kmvs").outputMode("complete").start()
    try {
      input.addData(rows.take(1000): _*); q.processAllAvailable()
      input.addData(rows.drop(1000): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("kmvs").collect()
      .map(r => r.getString(0) -> r.getStruct(1).getSeq[Long](1)).toMap
    assert(streamed == batch,
      "cross-micro-batch sketch state must equal the batch sketch exactly")
    assert(batch.values.forall(v => v.length == 16 && v == v.sorted))
  }

  test("streaming KMV sketch ROLLUP (kmv_merge through the state store) == direct batch sketch") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // arriving rows are STORED per-shard sketches (the persisted-sketch
    // stream a rollup pipeline consumes); kmv_merge's state must survive
    // the state store and land on the direct sketch of the raw union
    val raw = (0 until 3000).map(i => (i % 7, s"g${i % 3}", s"tok ${i % 800}"))
    val direct = raw.toDF("shard", "g", "s").groupBy("g")
      .agg(graft.functions.kmv_sketch(org.apache.spark.sql.functions.col("s"), 16).as("kmv"))
      .collect().map(r => r.getString(0) -> r.getStruct(1).getSeq[Long](1)).toMap
    val shardSketches = raw.toDF("shard", "g", "s").groupBy("shard", "g")
      .agg(graft.functions.kmv_sketch(org.apache.spark.sql.functions.col("s"), 16).as("kmv"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getStruct(2).getSeq[Long](1)))
    val input = MemoryStream[(Int, String, Seq[Long])]
    // arriving rows carry the stored hashes as plain columns (the shape a
    // persisted sketch table has); the struct is rebuilt with its stored k
    val q = input.toDF.toDF("shard", "g", "hs").groupBy("g")
      .agg(graft.functions.kmv_merge(org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit(16).as("k"),
        org.apache.spark.sql.functions.col("hs").as("hs")), 16).as("kmv"))
      .writeStream.format("memory").queryName("kmvm").outputMode("complete").start()
    try {
      input.addData(shardSketches.take(10).toIndexedSeq); q.processAllAvailable()
      input.addData(shardSketches.drop(10).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("kmvm").collect()
      .map(r => r.getString(0) -> r.getStruct(1).getSeq[Long](1)).toMap
    assert(streamed == direct,
      "cross-micro-batch sketch rollup must equal the direct batch sketch exactly")
  }

  test("streaming CM sketch + vec_sum_long rollup (state store) == direct batch grid") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // cm_sketch's counter grid must survive state-store serialize across
    // micro-batches; and a stream of STORED per-shard grids must roll up
    // through vec_sum_long to the direct sketch (counter addition == merge)
    val raw = (0 until 3000).map(i => (i % 5, s"g${i % 3}", s"tok${i % 97}"))
    val direct = raw.toDF("shard", "g", "s").groupBy("g")
      .agg(graft.functions.cm_sketch(org.apache.spark.sql.functions.col("s"), 4, 32).as("cm"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val input = MemoryStream[(Int, String, String)]
    val q = input.toDF.toDF("shard", "g", "s").groupBy("g")
      .agg(graft.functions.cm_sketch(org.apache.spark.sql.functions.col("s"), 4, 32).as("cm"))
      .writeStream.format("memory").queryName("cms").outputMode("complete").start()
    try {
      input.addData(raw.take(1200): _*); q.processAllAvailable()
      input.addData(raw.drop(1200): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cms").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == direct,
      "cross-micro-batch CM state must equal the batch grid exactly")
    val shardGrids = raw.toDF("shard", "g", "s").groupBy("shard", "g")
      .agg(graft.functions.cm_sketch(org.apache.spark.sql.functions.col("s"), 4, 32).as("cm"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getSeq[Long](2)))
    val input2 = MemoryStream[(Int, String, Seq[Long])]
    val q2 = input2.toDF.toDF("shard", "g", "cm").groupBy("g")
      .agg(graft.functions.vec_sum_long(org.apache.spark.sql.functions.col("cm")).as("cm"))
      .writeStream.format("memory").queryName("cmm").outputMode("complete").start()
    try {
      input2.addData(shardGrids.take(7).toIndexedSeq); q2.processAllAvailable()
      input2.addData(shardGrids.drop(7).toIndexedSeq); q2.processAllAvailable()
    } finally q2.stop()
    val rolled = spark.table("cmm").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rolled == direct,
      "streamed grid rollup must equal the direct batch sketch exactly")
  }

  test("streaming bottomk_pairs sample (state store) == batch sample") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the sample aggregate's heap buffer must survive state-store
    // serialize/deserialize across micro-batches and merge to the same
    // k-smallest multiset the batch path computes
    val fn = org.apache.spark.sql.functions
    val rows = (0 until 3000).map(i =>
      (s"g${i % 3}", (i.toLong * 37) % 911, i.toLong % 13))
    def pairs(rowSeq: Seq[org.apache.spark.sql.Row]): Map[String, Seq[(Long, Long)]] =
      rowSeq.map { r =>
        r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getLong(0), p.getLong(1)))
      }.toMap
    val batch = pairs(rows.toDF("g", "h", "v").groupBy("g")
      .agg(graft.functions.bottomk_pairs(fn.col("h"), fn.col("v"), 16).as("s"))
      .collect().toIndexedSeq)
    val input = MemoryStream[(String, Long, Long)]
    val q = input.toDF.toDF("g", "h", "v").groupBy("g")
      .agg(graft.functions.bottomk_pairs(fn.col("h"), fn.col("v"), 16).as("s"))
      .writeStream.format("memory").queryName("bkps").outputMode("complete").start()
    try {
      input.addData(rows.take(1000): _*); q.processAllAvailable()
      input.addData(rows.drop(1000): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = pairs(spark.table("bkps").collect().toIndexedSeq)
    assert(streamed == batch,
      "cross-micro-batch sample state must equal the batch sample exactly")
    assert(batch.values.forall(v => v.length == 16 && v == v.sorted))
  }

  test("streaming MinHash signature maintenance == batch overlapSignatures (complete mode)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("source", "text")
    val batch = graft.llm.Corpus.overlapSignatures(corpus).collect()
      .map(r => r.getString(0) -> (1 until 33).map(r.getLong).toSeq).toMap

    val rows = corpus.collect().map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val q = EventStreams.overlapSignatureIngest(input.toDF.toDF("source", "text"))
      .writeStream.format("memory").queryName("sigmaint").outputMode("complete").start()
    try {
      input.addData(rows.take(12).toIndexedSeq); q.processAllAvailable()
      input.addData(rows.drop(12).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sigmaint").collect()
      .map(r => r.getString(0) -> (1 until 33).map(r.getLong).toSeq).toMap
    assert(streamed == batch, "streamed signature state must equal the batch signatures")
  }

  test("stream-stream interval join == batch bucketed interval join (watermarked state)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val W = 21600000000L
    // the CorpusSpec boundary fixture: inclusive start, exclusive end,
    // multi-window click, bin-seam window, isolated users
    val rows = Seq(
      (1L, 100L, "error", 1000000L),
      (1L, 101L, "click", 1000000L),
      (1L, 102L, "click", 1000000L + W),
      (1L, 103L, "click", 1000000L + W - 1),
      (1L, 110L, "error", 500000L),
      (1L, 104L, "click", 1500000L),
      (2L, 200L, "error", W - 1000L),
      (2L, 201L, "click", W + 5L),
      (2L, 202L, "click", 3 * W),
      (3L, 300L, "click", 1000001L),
      (4L, 400L, "error", 50L))
    val ev = rows.toDF("user_id", "event_id", "event_type", "tus")
    val batchHits = graft.queries.CorpusQ.intervalJoin(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap

    val errIn = MemoryStream[(Long, Long)] // (user_id, tus)
    val clkIn = MemoryStream[(Long, Long, Long)] // (user_id, event_id, tus)
    val joined = EventStreams.incidentClickJoin(
      errIn.toDF.toDF("user_id", "tus"),
      clkIn.toDF.toDF("user_id", "event_id", "tus"))
    val q = joined.writeStream.format("memory").queryName("ivljoin")
      .outputMode("append").start()
    try {
      // errors first, clicks in a later micro-batch — the join state must
      // carry the windows across batches
      errIn.addData(rows.filter(_._3 == "error").map(r => (r._1, r._4)).toIndexedSeq)
      q.processAllAvailable()
      clkIn.addData(rows.filter(_._3 == "click").map(r => (r._1, r._2, r._4)).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamedHits = spark.table("ivljoin")
      .select("user_id", "click_id").distinct()
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every batch user with hits matches; zero-hit users simply emit no rows
    assert(streamedHits == batchHits.filter(_._2 > 0),
      "distinct streamed matches must equal the batch interval join")
  }

  test("streaming Bloom probe over a frozen mask == batch decontaminate (append, stateless)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")

    // batch anchor: full q83 semantics (build over doc_id % 50 == 0, probe
    // the rest)
    val batch = graft.queries.CorpusQ.bloomDecontaminate(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

    // freeze the mask offline from the same eval split
    val grams5 = org.apache.spark.sql.functions.expr(
      """array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 4, 1)),
        |  i -> array_join(slice(split(text, ' '), i, 5), ' ')))""".stripMargin)
    val evalG = corpus.filter($"doc_id" % 50 === 0)
      .select(org.apache.spark.sql.functions.explode(grams5).as("gram"))
    val Seq(b0, b1, b2) = graft.llm.Bloom.positions($"gram")
    val pos = evalG.select(org.apache.spark.sql.functions
      .explode(org.apache.spark.sql.functions.array(b0, b1, b2)).as("p"))
    val mask = graft.llm.Bloom.build(pos, "p")

    val rows = corpus.filter($"doc_id" % 50 =!= 0).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.bloomProbeIngest(input.toDF.toDF("doc_id", "text"), mask)
      .selectExpr("doc_id", "n_grams", "n_hits", "flagged")
      .writeStream.format("memory").queryName("bloomp").outputMode("append").start()
    try {
      input.addData(rows.take(30).toIndexedSeq); q.processAllAvailable()
      input.addData(rows.drop(30).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("bloomp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(streamed == batch, "stream-probed arrivals must equal the batch probe exactly")
  }

  test("incremental group maintenance across micro-batches == full CC (foreachBatch)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val handle = new graft.llm.IncrementalComponents
    val q = input.toDF.toDF("src", "dst").writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { handle.update(b); () })
      .start()
    try {
      input.addData((1L, 2L), (3L, 4L)); q.processAllAvailable()
      input.addData((2L, 3L), (10L, 11L)); q.processAllAvailable() // bridges {1,2}+{3,4}
      input.addData((4L, 10L), (20L, 21L)); q.processAllAvailable() // merges into one + new pair
    } finally q.stop()
    val got = handle.assignment.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full CC over all six edges: {1,2,3,4,10,11} -> 1, {20,21} -> 20
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("dedupByFingerprint drops re-crawls with NEW event times (fingerprint-only key)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF.toDF("ts", "doc_id", "fingerprint")
    val q = EventStreams.dedupByFingerprint(df)
      .writeStream.format("memory").queryName("ddf").outputMode("append").start()
    try {
      input.addData((new Timestamp(base), 1L, "fpX"))
      q.processAllAvailable()
      // the ADVICE r4 case: SAME fingerprint, DIFFERENT ts — must be dropped
      input.addData((new Timestamp(base + 30000), 2L, "fpX"),
        (new Timestamp(base + 31000), 3L, "fpY"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ddf").collect().map(r => r.getString(2)).sorted.toSeq
    assert(got == Seq("fpX", "fpY"), s"re-crawl with a new ts was not dropped: $got")
  }

  test("cleanIngest: quality-gates + fingerprint-dedups documents as they arrive") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    // "the of to in" stuffing => high stop_ratio => passes quality; the short
    // no-stopword doc fails (stop_ratio 0, n_tokens 3 => quality 0.03)
    val good = "the quick brown fox of the east runs to the river in the morning"
    val junk = "xyzzy foo bar"
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF.toDF("ts", "doc_id", "text")
    val q = EventStreams.cleanIngest(df)
      .writeStream.format("memory").queryName("ci").outputMode("append").start()
    try {
      input.addData(
        (new Timestamp(base), 1L, good),
        (new Timestamp(base + 1000), 2L, junk))
      q.processAllAvailable()
      // a re-crawl of the SAME text at a later ts, punctuation-only change
      // (normalization makes the fingerprint identical), plus a fresh doc
      input.addData(
        (new Timestamp(base + 60000), 3L, good + "!"),
        (new Timestamp(base + 61000), 4L, "the second document of the corpus going to the archive in full"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ci").select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 4L),
      s"expected quality gate to drop 2 and fingerprint dedup to drop 3, got $got")
    // batch mode: same transform, state-free
    val batch = EventStreams.cleanIngest(Seq(
      (new Timestamp(base), 1L, good), (new Timestamp(base + 1), 2L, junk),
      (new Timestamp(base + 2), 3L, good + "!")).toDF("ts", "doc_id", "text"))
    assert(batch.count() == 1)
    // the streamed fingerprint equals q44's batch fingerprint arithmetic
    val fp = spark.table("ci").filter($"doc_id" === 1L).select("fingerprint").as[Long].head()
    val expected = Seq(good).toDF("text")
      .selectExpr("regexp_replace(lower(text), '[^a-z0-9 ]', '') AS norm")
      .select(graft.llm.Corpus.rollingFingerprint.as("fp")).as[Long].head()
    assert(fp == expected)
  }

  test("cleanIngest(scrubPii): streaming redacts before fingerprinting, parity with batch") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    // identical after redaction: the email is the only difference — the
    // streaming dedup must drop the second arrival, same as batch
    val a = "the of to in report ready, mail alice@example.com for the data of today"
    val b = "the of to in report ready, mail bob@other.org for the data of today"
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.cleanIngest(
        input.toDF.toDF("ts", "doc_id", "text"), scrubPii = true)
      .writeStream.format("memory").queryName("cis").outputMode("append").start()
    try {
      input.addData((new Timestamp(base), 1L, a))
      q.processAllAvailable()
      input.addData((new Timestamp(base + 1000), 2L, b))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("cis").collect()
    assert(rows.map(_.getLong(rows.head.fieldIndex("doc_id"))).toSeq == Seq(1L))
    val kept = rows.head
    assert(kept.getString(kept.fieldIndex("text")).contains("<EMAIL>"))
    assert(kept.getLong(kept.fieldIndex("n_pii")) == 1L)
    // batch path: same inputs, same single survivor with the same fingerprint
    val batch = EventStreams.cleanIngest(Seq(
        (new Timestamp(base), 1L, a), (new Timestamp(base + 1000), 2L, b))
      .toDF("ts", "doc_id", "text"), scrubPii = true).collect()
    assert(batch.length == 1)
    assert(batch.head.getLong(batch.head.fieldIndex("fingerprint")) ==
      kept.getLong(kept.fieldIndex("fingerprint")))
  }

  test("rollingFingerprint of an empty norm is the bare seed (sequence(1,0) guard)") {
    val spark0 = spark
    import spark0.implicits._
    // "!!!" normalizes to "" — Spark's sequence(1,0) = [1,0] would otherwise
    // fold two phantom zero chars into 6727; the oracle folds nothing -> 7
    val fps = Seq("!!!", "abc").toDF("text")
      .selectExpr("regexp_replace(lower(text), '[^a-z0-9 ]', '') AS norm")
      .select(graft.llm.Corpus.rollingFingerprint.as("fp")).as[Long].collect()
    assert(fps(0) == 7L)
    assert(fps(1) == ((7L * 31 + 'a') * 31 + 'b') * 31 + 'c')
  }

  test("streaming frontier compliance: canonical-key dedup + robots verdicts + repetition stats == batch") {
    val spark0 = spark
    import spark0.implicits._
    import graft.functions.{ngram_rep_stats, robots_allowed, url_normalize}
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val robots = "User-agent: *\nDisallow: /private\n"
    def pipeline(df: org.apache.spark.sql.DataFrame) = df
      .select(url_normalize(col("url_raw")).as("url"),
        robots_allowed(lit(robots), lit("bot"), col("url_raw")).as("ok"),
        ngram_rep_stats(col("text"), 2).getField("top_count").as("top2"))
      .dropDuplicates("url") // frontier dedup keys on the CANONICAL form
    val input = MemoryStream[(String, String)]
    val q = pipeline(input.toDF.toDF("url_raw", "text"))
      .writeStream.format("memory").queryName("fc").outputMode("append").start()
    val rows = Seq(
      ("HTTP://Ex.COM:80/a?utm_s=1&k=v", "a a a"),
      ("http://ex.com/a?k=v", "b b c"),            // same canonical url as row 1
      ("https://Ex.com/private/x#frag", "x y z"))
    try {
      input.addData(rows.take(2))
      q.processAllAvailable()
      input.addData(rows.drop(2)) // dedup must hold ACROSS micro-batches
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fc").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("http://ex.com/a?k=v", true, 2L),          // first spelling won; "a a" x2
      ("https://ex.com/private/x", false, 1L)))   // robots verdict rode along
    // batch parity on the same rows
    val batch = pipeline(rows.toDF("url_raw", "text")).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).sortBy(_._1)
    assert(batch.toSeq == got.toSeq)
  }

  test("streaming sessionValues == batch sessionValues (session_window)") {
    val (got, batch) = runStream("sv", df => EventStreams.sessionValues(df))
    val g = got.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(g == b)
    assert(g.nonEmpty)
    // bursts are 19min-spans spaced 41min apart => multiple sessions per user
    assert(got.groupBy("user_id").count().collect().forall(_.getLong(1) > 1))
  }

  test("streaming removal-interval ingest == batch incremental over the same arrivals (foreachBatch)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    type IvMap = Map[Long, Seq[(Int, Int)]]
    def ivMap(df: org.apache.spark.sql.DataFrame): IvMap =
      df.collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getInt(1)))).toMap
    def idxSet(df: org.apache.spark.sql.DataFrame) =
      df.select("gh", "kkey", "n_occ").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // three arrival batches: a 30-token span planted in batch 1 (doc 1)
    // recurs cross-batch (docs 10, 20) — those removals must come from the
    // index threaded through foreachBatch, not a corpus rescan
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 150).map(i => s"w$i")
    def soup(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val span = (0 until 30).map(i => s"dup$i")
    val b1 = Seq((1L, (soup(8) ++ span ++ soup(6)).mkString(" ")),
                 (2L, soup(25).mkString(" ")))
    val b2 = Seq((10L, (soup(5) ++ span ++ soup(4)).mkString(" ")),
                 (11L, soup(30).mkString(" ")))
    val b3 = Seq((20L, (span ++ soup(7)).mkString(" ")))
    // batch reference: the incremental API composed over the same splits
    var refIdx: org.apache.spark.sql.DataFrame = null
    val expect = scala.collection.mutable.Map.empty[Long, Seq[(Int, Int)]]
    Seq(b1, b2, b3).foreach { b =>
      val (ni, iv) = graft.llm.Substring.incrementalRemovalIntervals(
        refIdx, b.toDF("doc_id", "text"), k = 12, p = 1)
      refIdx = ni
      expect ++= ivMap(iv)
    }
    // streaming: same arrivals as micro-batches through the ingest surface
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Seq[(Int, Int)]]
    var lastIdx: org.apache.spark.sql.DataFrame = null
    val q = EventStreams.removalIntervalIngest(
      input.toDF.toDF("doc_id", "text"), k = 12, p = 1) { (ni, iv, _) =>
        lastIdx = ni
        got ++= ivMap(iv)
      }
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == expect.toMap, s"stream ${got.toMap} != batch ${expect.toMap}")
    // the cross-batch copies lost the full span; the keeper never appears
    // in ANY emission (monotone — nothing retracted, nothing gained)
    assert(!got.contains(1L))
    assert(got(10L).map(x => x._2 - x._1).sum == 30)
    assert(got(20L).map(x => x._2 - x._1).sum == 30)
    // the threaded index ends identical to the batch-composed one
    assert(idxSet(lastIdx) == idxSet(refIdx))
  }
}
