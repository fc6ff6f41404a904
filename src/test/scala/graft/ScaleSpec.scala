package graft

import graft.scale.{Layout, Salt}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-layout utilities: bucketed joins must be exchange-free; salted
  * joins must equal plain joins while spreading hot keys.
  */
class ScaleSpec extends AnyFunSuite {

  import SparkFixture._

  test("bucketed-bucketed equi-join runs with ZERO exchanges") {
    val spark0 = spark
    import spark0.implicits._
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    // the fixture tables are tiny — suppress auto-broadcast so the planner
    // exercises the bucketed path it would pick at real fact×fact scale
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = (1L to 1000L).map(i => (i, s"o$i")).toDF("k", "o")
      val items = (1L to 3000L).map(i => (i % 1000 + 1, s"i$i")).toDF("k", "item")
      Layout.bucketize(orders, "t_orders_b", 8, "k")
      Layout.bucketize(items, "t_items_b", 8, "k")
      val joined = Layout.bucketedJoin(spark, "t_orders_b", "t_items_b", Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must be bucketed:\n$plan")
      assert(joined.count() == 3000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
  }

  test("toLocalIterator streams partition-at-a-time with bounded prefetch") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = new graft.api.GraftContext(spark, graft.conf.GraftConf())
    val acc = spark.sparkContext.longAccumulator("parts-computed")
    val v = ctx.create((1 to 800).toSeq, numSlices = 8)
      .map { x => if (x % 100 == 1) acc.add(1); x } // once per 100-row partition
    val it = v.toLocalIterator(prefetchPartitions = 1)
    // consume only the first partition's worth of rows
    val first = it.take(100).toVector
    assert(first.size == 100)
    Thread.sleep(500) // let the prefetcher run as far as the buffer allows
    // cap=1 bounds look-ahead to: 1 buffered + 1 in-flight + 1 the consumer's
    // trailing hasNext already pulled + 1 freed by that pull = 4 of 8
    assert(acc.value <= 4, s"prefetch not bounded: ${acc.value} of 8 partitions computed")
    // draining the rest yields every row exactly once, each partition computed once
    val rest = it.toVector
    assert((first ++ rest).sorted == (1 to 800).toVector)
    assert(acc.value == 8)
  }

  test("FallbackIterator: mid-stream failure, construction failure, drained-primary continuation") {
    import graft.scale.FallbackIterator
    def failingAt(n: Int): Iterator[Int] = (1 to 10).iterator.map { i =>
      if (i == n) throw new IllegalStateException(s"broken at $i") else i
    }
    // primary breaks at 4 => backup takes over past the 3 emitted elements
    val mid = FallbackIterator(() => failingAt(4), () => (1 to 10).iterator)
    assert(mid.toVector == (1 to 10).toVector)
    // primary cannot be constructed => backup serves from the start
    val cons = FallbackIterator[Int](() => throw new IllegalStateException("no primary"),
      () => (1 to 5).iterator)
    assert(cons.toVector == (1 to 5).toVector)
    // primary drains early (partial cache) => backup continues from its offset
    val drained = FallbackIterator(() => (1 to 3).iterator, () => (1 to 8).iterator)
    assert(drained.toVector == (1 to 8).toVector)
    // healthy primary is never abandoned
    val healthy = FallbackIterator(() => (1 to 4).iterator,
      () => Iterator.empty[Int])
    assert(healthy.toVector == (1 to 4).toVector)
  }

  test("salted join == plain join; hot key spreads over all salts") {
    val spark0 = spark
    import spark0.implicits._
    val T = Salt.TargetBucket.toInt
    // pathological skew: 90% of fact rows share key 1
    val fact = ((1 to 9000).map(_ => 1L) ++ (1L to 1000L)).zipWithIndex
      .map { case (k, i) => (Option(k), i.toLong) }.toDF("key", "payload")
    val dim = (1L to 1000L).map(i => (Option(i), s"d$i")).toDF("key", "attr")
    // edge inputs: key 2 grows to exactly the target (n_sub stays 1), key 3
    // to target + 1 (n_sub 2), and null keys on both sides join nothing
    val edges = (Seq.fill(T - 1)(Option(2L)) ++ Seq.fill(T)(Option(3L)) ++ Seq(None, None))
      .zipWithIndex.map { case (k, i) => (k, 20000L + i) }.toDF("key", "payload")
    val dimEdges = dim.union(Seq((Option.empty[Long], "null")).toDF("key", "attr"))
    def saltOf(f: org.apache.spark.sql.DataFrame) =
      Salt.salt(f, Seq("key"), struct(f.columns.map(col).toIndexedSeq: _*),
        Salt.rows(Salt.TargetBucket))
    Seq((fact, dim), (fact.union(edges), dimEdges), (fact.limit(0), dim)).foreach {
      case (f, d) =>
        val salted = Salt.saltedJoin(f, d, "key")
        val plain = f.join(d, "key")
        assert(salted.count() == plain.count())
        assert(salted.agg(sum("payload")).collect().head.get(0) ==
          plain.agg(sum("payload")).collect().head.get(0))
    }
    val nSub = saltOf(fact.union(edges)).filter(col("key").isin(2L, 3L))
      .select("key", "n_sub").distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nSub == Map(2L -> 1L, 3L -> 2L))
    // the 9,001-row hot key gets ceil(9001 / target) salts and uses every one
    val hot = saltOf(fact).filter(col("key") === 1)
    val n = hot.select("n_sub").distinct().collect().map(_.getLong(0)).toSeq
    assert(n == Seq(math.ceil(9001.0 / T).toLong))
    val saltsUsed = hot.select("salt").distinct().count()
    assert(saltsUsed == n.head)
  }

  test("NarrowDisperseRDD: factor x partitions, balanced, shuffle-free, element-preserving") {
    import graft.scale.NarrowDisperseRDD
    val sc = spark.sparkContext
    val parent = sc.parallelize(1 to 1000, 2)
    val factor = 8
    val d = NarrowDisperseRDD(parent, factor)
    assert(d.getNumPartitions == 2 * factor)
    // narrow: the ONLY dependency is a NarrowDependency straight to parent
    assert(d.dependencies.forall(_.isInstanceOf[org.apache.spark.NarrowDependency[_]]))
    // no shuffle anywhere in the job it runs
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffled.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    sc.addSparkListener(listener)
    try {
      val collected = d.collect()
      assert(collected.sorted.toSeq == (1 to 1000))
      // balanced round-robin slices: each child partition within 1 row of even
      val sizes = d.mapPartitions(it => Iterator.single(it.size)).collect()
      assert(sizes.length == 16 && sizes.forall(s => s >= 62 && s <= 63), sizes.toSeq.toString)
      // listener bus is async; settle like the FetchExecSpec shuffle specs do
      var last = -1L
      var spins = 0
      while (spins < 50 && (stages.get() < 1 || shuffled.get() != last)) {
        last = shuffled.get(); Thread.sleep(200); spins += 1
      }
      assert(stages.get() >= 1 && shuffled.get() == 0,
        s"disperse must not shuffle (wrote ${shuffled.get()} bytes)")
    } finally sc.removeSparkListener(listener)
  }

  test("sketch/sample/histogram aggregates ship bounded exchanges: shuffle write constant in input rows") {
    // the 100 TB argument as a CI invariant (measured at 5M/50M rows in
    // NOTES_bench_mains.md; this pins it every run): the KMV sketch, the bottom-k
    // sample, the CM grid, and the one-hot histogram all collapse
    // map-side to fixed-size partial state, so the aggregation exchange
    // is groups x state — CONSTANT in corpus size. 10x the rows must not
    // move the shuffled bytes (tolerance covers task-overhead jitter).
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    def shuffleOf(n: Long): Long = {
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val shuffled = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          shuffled.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      }
      sc.addSparkListener(listener)
      try {
        // 8 native range slices — no repartition (that exchange WOULD
        // scale with n and is not part of the aggregate's contract)
        spark.range(0L, n, 1L, 8)
          .select(pmod(col("id"), lit(8L)).as("g"),
            xxhash64(col("id")).as("h"), (col("id") % 97L).as("v"),
            col("id").cast("string").as("s"))
          .withColumn("onehot",
            expr("transform(sequence(0, 11), i -> IF(i = pmod(v, 12L), 1L, 0L))"))
          .groupBy(col("g"))
          .agg(
            graft.functions.kmv_sketch(col("s"), 64).as("kmv"),
            graft.functions.bottomk_pairs(col("h"), col("v"), 64).as("samp"),
            graft.functions.cm_sketch(col("s"), 4, 32).as("cm"),
            graft.functions.vec_sum_long(col("onehot")).as("hist"),
            graft.functions.qhist_sketch(col("v"), 6).as("qh"))
          .collect()
        // listener bus is async; settle like the disperse spec above
        var last = -1L
        var spins = 0
        while (spins < 50 && (stages.get() < 1 || shuffled.get() != last)) {
          last = shuffled.get(); Thread.sleep(200); spins += 1
        }
        shuffled.get()
      } finally sc.removeSparkListener(listener)
    }
    val small = shuffleOf(20000L)
    val big = shuffleOf(200000L)
    assert(small > 0L, "the aggregation exchange should exist (partial -> final)")
    assert(big <= small * 3 / 2,
      s"bounded-state aggregates must not scale the exchange with rows: " +
        s"20k rows -> $small bytes, 200k rows -> $big bytes")
  }

  test("PrefixSum.runningSum == global-window oracle; no single-partition sort in the plan") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(321)
    val rows = (0L until 400L).map { id =>
      (id, Seq("en", "de", "fr")(rnd.nextInt(3)), rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("doc_id", "g", "v")
      .withColumn("hkey", md5(col("doc_id").cast("string")))
    val got = graft.scale.PrefixSum.runningSum(df, "g", "v")
      .select(col("doc_id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle: the single-partition global-window form the helper replaces
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("hkey"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val oracle = df.withColumn("cum", sum(col("v")).over(w))
      .select(col("doc_id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == oracle)
    // the whole point: the helper's window partitions by (group, bucket) —
    // with a constant group the oracle form would be ONE partition; the
    // helper's plan must never contain a partition-less global Sort+Window
    val one = df.withColumn("g", lit("_"))
    val plan = graft.scale.PrefixSum.runningSum(one, "g", "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("bucket"), "window must be bucket-partitioned")
  }

  test("Locality.cogroupKeepLeft == cogroup; left rows stay on their original partition") {
    import graft.scale.Locality
    val sc = spark.sparkContext
    val left = sc.parallelize((1 to 100).map(k => (k, s"L$k")), 4)
    // right: two rows per shared key, plus keys absent from left
    val right = sc.parallelize(
      (1 to 100).flatMap(k => Seq((k, s"Ra$k"), (k, s"Rb$k"))) ++
        Seq((500, "orphan1"), (501, "orphan2")), 3)
    val got = Locality.cogroupKeepLeft(left, right)
    assert(got.getNumPartitions == left.getNumPartitions)
    // the cogroup step itself is narrow on BOTH sides (the only shuffle in
    // the lineage is right.partitionBy, upstream of the zip)
    assert(got.dependencies.forall(_.isInstanceOf[org.apache.spark.NarrowDependency[_]]))
    val expect = left.cogroup(right)
      .mapValues { case (vs, ws) => (vs.toSet, ws.toSet) }.collect().toMap
    val actual = got.mapValues { case (vs, ws) => (vs.toSet, ws.toSet) }.collect().toMap
    assert(actual == expect)
    // co-location: each left key's output partition == its input partition
    val leftPlacement = left
      .mapPartitionsWithIndex((i, it) => it.map { case (k, _) => (k, i) }).collect().toMap
    val outPlacement = got
      .mapPartitionsWithIndex((i, it) => it.map { case (k, _) => (k, i) }).collect().toMap
    leftPlacement.foreach { case (k, p) =>
      assert(outPlacement(k) == p, s"key $k moved from partition $p to ${outPlacement(k)}")
    }
  }
}
