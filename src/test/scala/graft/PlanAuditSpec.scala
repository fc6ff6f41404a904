package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan red-flag audit as a TEST, not just a tool: every
  * declarative query's executed plan must be free of the shapes that kill a
  * 100x scale-up (accidental cartesian products, unpushed filters, scans
  * that read columns the query never touches). The side-effecting engine
  * queries (q31-q38: fetch/explore/fixture writes) are audited by the
  * `runMain graft.Explain` tool instead — building their DataFrames runs
  * jobs, which doesn't belong in a unit spec. (q39/q40 DO run their small
  * connected-components loop during construction — intentional: the loop is
  * milliseconds at sf0.001 and the audited final plan still pins the
  * join/aggregate shapes downstream of the checkpointed loop output.)
  */
class PlanAuditSpec extends AnyFunSuite {

  import SparkFixture._

  private val dir = "/root/testdata/sf0.001"

  private def declarative: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] =
    graft.queries.Relational.all ++ graft.queries.EventsQ.all ++
      graft.queries.TextQ.all ++ graft.queries.SimQ.all ++
      // q83 runs its Bloom build (one treeAggregate over ~200 eval grams at
      // sf0.001 — milliseconds) during construction; the audited plan pins
      // the map-side probe shape
      graft.queries.CorpusQ.all -
      // q97/q132/q139 run a whole Structured Streaming job during
      // construction and their returned frames are memory-sink scans —
      // nothing joins to audit; their plan shapes are pinned by
      // StreamingSpec/QhistSpec
      "q97_stream_sessionize" - "q132_stream_quantiles" -
      "q139_stream_decontaminate"

  test("no accidental CartesianProduct and no SortMergeJoin in any declarative plan") {
    declarative.foreach { case (name, f) =>
      val plan = f(spark, dir).queryExecution.executedPlan.toString
      // q13 is the cartesian-product OPERATOR itself — everything else that
      // goes cartesian is a missing join condition
      if (name != "q13_cross_join")
        assert(!plan.contains("CartesianProduct"), s"$name went cartesian:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name sort-merge-joins where broadcast/hash was expected:\n$plan")
    }
  }

  test("filter pushdown and column pruning reach the parquet scan") {
    val q01 = graft.queries.Relational.all("q01_scan_filter")(spark, dir)
    val s01 = q01.queryExecution.executedPlan.toString
    assert(s01.contains("PushedFilters: [") && !s01.contains("PushedFilters: []"),
      s"q01 filter not pushed to parquet:\n$s01")

    val q20 = graft.queries.TextQ.all("q20_token_stats")(spark, dir)
    val s20 = q20.queryExecution.executedPlan.toString
    val readSchema = s20.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // token stats touch doc_id + text; reading lang/url/etc. would be a
    // pruning failure that multiplies scan bytes at corpus scale
    assert(readSchema.nonEmpty && !readSchema.contains("lang") && !readSchema.contains("url"),
      s"q20 reads more columns than it uses: $readSchema")
  }

  test("q72/q73 join regimes pinned: unbounded n-gram tables never broadcast, bounded bucket table always does") {
    // q72's count tables grow with corpus vocab — a BroadcastHashJoin there
    // OOMs the driver at 100 TB. All five scoring joins must stay shuffled.
    val s72 = graft.queries.TextQ.all("q72_lm_quality")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!s72.contains("BroadcastHashJoin"),
      s"q72 broadcasts an unbounded count table:\n$s72")
    assert(s72.contains("ShuffledHashJoin"), "q72 lost its shuffle-hash scoring joins")
    // q73's bucket table is B=1024 rows by construction — shuffling the
    // full token stream against it would be the opposite mistake.
    val s73 = graft.queries.TextQ.all("q73_dsir_resample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(s73.contains("BroadcastHashJoin"),
      s"q73 stopped broadcasting the bounded bucket table:\n$s73")
  }

  test("a Held frame keeps the plan it cut: the exchanges below a checkpoint stay visible") {
    Seq("q36_embed_neardup", "q45_simhash_neardup").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val below = graft.scale.Held.cutPlans(df)
      assert(below.size == 1, s"$q: ${below.size} cut plans")
      assert(below.head.linesIterator.exists(_.contains("Exchange ")),
        s"$q: no exchange below its checkpoint:\n${below.head}")
    }
  }
}
