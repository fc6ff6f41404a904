package graft

import graft.exec.JobCensus

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness on the shared session: the JSON it assembles from the
  * samples (with a stand-in canary, not the 200M-row one), and the
  * listener's job attribution against the status tracker's.
  */
class BenchSpec extends AnyFunSuite {

  import SparkFixture._

  test("bench JSON: timings, counters and a failing query under failed") {
    val sf = "/root/testdata/sf0.001"
    val throws: Bench.Query = (_, _) => throw new IllegalStateException("stand-in failure")
    val queries = Seq("q01_scan_filter", "q02_agg_summary").map(n => n -> SparkEntry.queries(n)) :+
      ("bench_spec_throws" -> throws)
    val json = Bench.json(Bench.measure(spark, sf, queries, () => 1.0), sf)
    val root = new ObjectMapper().readTree(json)
    Seq("metric", "value", "queries", "runs", "iqr", "fixture_total_sec", "fixture_sec",
      "query_sec", "canary_sec", "canary_iqr", "noisy", "rel_noisy_queries", "failed", "sf",
      "jobs", "stages", "tasks", "task_s", "shuffle_read_mb", "shuffle_write_mb",
      "spill_mb", "compiles", "compile_ms", "first_compiles", "unattributed")
      .foreach(f => assert(root.has(f), s"missing field $f in $json"))
    assert(root.get("runs").asInt == Bench.Passes)
    assert(root.get("failed").size == 1 && root.get("failed").get(0).asText == "bench_spec_throws")
    assert(!root.get("queries").has("bench_spec_throws"))
    assert(root.get("unattributed").asLong == 0)
    Seq("q01_scan_filter", "q02_agg_summary").foreach { q =>
      assert(root.get("queries").get(q).asDouble > 0)
      assert(root.get("jobs").get(q).asInt > 0, s"$q: no jobs in $json")
      assert(root.get("stages").get(q).asInt > 0 && root.get("tasks").get(q).asInt > 0)
      Seq("task_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "compiles", "compile_ms",
        "first_compiles").foreach(f => assert(root.get(f).get(q).asDouble >= 0, s"$q: $f"))
    }
  }

  test("census jobs agree with the status tracker for the pinned corpus operators") {
    val sc = spark.sparkContext
    val census = new Bench.Census(sc)
    sc.addSparkListener(census)
    val tallies = try {
      DedupSpec.corpusOps(spark).foreach { case (name, op) =>
        Bench.grouped(sc, s"bench-census-$name")(op().collect())
      }
      census.take()
    } finally sc.removeSparkListener(census)
    DedupSpec.corpusOps(spark).foreach { case (name, _) =>
      val group = s"bench-census-$name"
      val jobs = tallies.get(group).map(_.jobs).getOrElse(0)
      assert(jobs > 0 && jobs == JobCensus.settledJobCount(sc, group), s"$name: $jobs jobs")
    }
  }
}
