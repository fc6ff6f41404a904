package graft
import java.nio.file.{Files, Paths}

/** Benchmark harness: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * One warm-up pass (untimed) amortizes session/JIT/parquet-footer warm-up so
  * per-query timings are attributable; the JSON line is printed to stdout AND
  * written to bench_out.json so the driver can parse it out of sbt log noise.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    val cpus = spark.sparkContext.defaultParallelism
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Warm-up: run the full suite once untimed (JIT, codegen cache, parquet
    // footers, broadcast thread pools).
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // Timed: FIVE passes, report the per-query MEDIAN (sandbox noise was
    // measured at a ±10-25% band run-to-run — the median keeps slow
    // environmental outliers from reading as code regressions) plus the
    // interquartile range, a noise-floor stat a single outlier can't
    // dominate the way max-min spread could.
    // Each pass starts from a cleared cross-query pair cache so q26 is
    // charged the real signature cost every pass, while q39/q40 legitimately
    // measure the composed-pipeline reuse within the pass.
    val passes = 5
    // Environment canary: a fixed synthetic workload that touches NO graft
    // code and NO storage — 200M-row codegen'd hash reduction plus a 20M-row
    // 1000-key shuffle. Its cost can only move when the SANDBOX moves
    // (CPU contention, JIT, shuffle-spill disk), so cross-round bench
    // ratios divide by the canary median to cancel ambient drift (the r10
    // verdict measured a ±15-25% band that otherwise swamps real effects).
    // Sampled once per timed pass so it sees the same environment window
    // the queries do.
    def canaryOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      // % bounds the addends so the 200M-term sum can't overflow ANSI long
      spark.range(0L, 200000000L, 1, cpus)
        .agg(sum(xxhash64(col("id")) % 1000000)).collect()
      spark.range(0L, 20000000L, 1, cpus)
        .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)))
        .agg(sum("count(1)")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Median-of-3 per pass: the gate below compares the canary's IQR
    // across passes, and with single samples that IQR conflates CROSS-PASS
    // drift (what the flag exists to catch — the queries of a drifted pass
    // move with it) with the canary's own within-pass flutter (which the
    // per-query medians already absorb). Three samples per window keep the
    // drift signal and cut the estimator variance; the 5% threshold and
    // the rel-noisy query clause are unchanged.
    def canary(): Double = {
      val xs = Seq.fill(3)(canaryOnce()).sorted
      xs(1)
    }
    canary() // untimed warm-up (JIT parity with the query warm-up pass)
    val canaries = new scala.collection.mutable.ArrayBuffer[Double](passes)
    // per pass: name -> (wall_sec, fixture_sec) — the FixtureClock ledger
    // splits synthesized-input generation (q31/q56/q71-class gates write
    // their own PDFs/WARCs/codec tars before the read path runs) from the
    // query itself, so a regression in either half is visible. A run that
    // throws records no sample: its wall timed the exception path, not the
    // query. Its query is listed under "failed" instead.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    val samples: Seq[Map[String, (Double, Double)]] = (1 to passes).map { _ =>
      graft.queries.SimQ.clearNearDupPairCache()
      canaries += canary()
      names.flatMap { name =>
        graft.queries.FixtureClock.drain() // clear any prior accrual
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          Some(name -> ((System.nanoTime() - t0) / 1e9, graft.queries.FixtureClock.drain()))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failed += name
          None
        }
      }.toMap
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // IQR over 5 sorted samples: s(3) - s(1) (the middle three's envelope)
    def iqr(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.size - 1 - s.size / 4) - s(s.size / 4)
    }
    // medians over the successful runs; a query with none has no timing
    val timed = names.filter(n => samples.exists(_.contains(n)))
    def ok(n: String): Seq[(Double, Double)] = samples.flatMap(_.get(n))
    val med = timed.map(n => n -> median(ok(n).map(_._1)))
    val iqrs = timed.map(n => n -> iqr(ok(n).map(_._1)))
    // fixture/query split: "queries" stays the WALL median (cross-round
    // comparable); fixture_sec/query_sec are its decomposition, emitted
    // only for queries that build fixtures. query_sec is the median of the
    // PER-PASS difference wall−fixture — taking median(wall)−median(fixture)
    // could pair components from different passes and need not correspond
    // to any actual run.
    val fixMed = timed.map(n => n -> median(ok(n).map(_._2)))
      .filter(_._2 > 0.005)
    val qs = med.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sp = iqrs.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val fixMap = fixMed.toMap
    val fx = fixMed.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val qonly = fixMed.map { case (k, _) =>
      val diffMed = median(ok(k).map { case (wall, fix) => wall - fix })
      s"\"" + k + "\":" + f"${math.max(0.0, diffMed)}%.3f"
    }.mkString("{", ",", "}")
    val total = med.map(_._2).sum
    val fixtureTotal = fixMap.values.sum
    val canMedV = median(canaries.toSeq)
    val canIqrV = iqr(canaries.toSeq)
    val canMed = f"$canMedV%.3f"
    val canIqr = f"$canIqrV%.3f"
    // noisy flag (r11 verdict #8, tightened per r14 verdict #1): the r14
    // committed run had canary IQR 8.7% and ELEVEN queries above 50%
    // relative IQR yet read noisy:false under the old 15% canary-only
    // rule — useless as a regression baseline. Now trips when EITHER
    // (a) the canary's IQR exceeds 5% of its median, or (b) more than two
    // queries (of >=0.2 s median, where relative IQR is measurable) show
    // IQR above 50% of their median. A noisy:true baseline should be
    // re-run on a quieter session before anchoring cross-round deltas.
    val relNoisyCount = med.count { case (n, m) =>
      m >= 0.2 && iqrs.toMap.apply(n) > 0.5 * m
    }
    val noisy = canIqrV > 0.05 * canMedV || relNoisyCount > 2
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""runs":$passes,"iqr":$sp,""" +
        f""""fixture_total_sec":$fixtureTotal%.3f,"fixture_sec":$fx,"query_sec":$qonly,""" +
        s""""canary_sec":$canMed,"canary_iqr":$canIqr,"noisy":$noisy,""" +
        s""""rel_noisy_queries":$relNoisyCount,""" +
        s""""failed":${failed.map(n => s""""$n"""").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_out.json"), json)
    // stop() BEFORE printing so the JSON is the final stdout line (no
    // shutdown log lines after it) — the driver parses the last line.
    spark.stop()
    println(json)
  }
}
