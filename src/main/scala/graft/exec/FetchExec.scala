package graft.exec

import graft.actions.Trace
import graft.agent.{Agent, Env}
import graft.doc.Trajectory

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** One logical row after fetch: payload + its trace + the observations the
  * trace produced (reference row/AgentRow.scala:54-59 — data, locality group,
  * trajectory). `traceKey` is the canonical dryRun hash — the dedup/cache/
  * co-location key (reference LocalityGroup).
  */
final case class FetchedRow[D](
    data: D,
    traceKey: String,
    trace: Trace,
    trajectory: Trajectory
) extends Serializable

/** Shuffle strategy for fetch dedup (reference dsl/DataLocality.scala:19-110). */
sealed trait Locality extends Serializable
object Locality {

  /** No dedup at all: every row executes its own trace. */
  case object Passthrough extends Locality

  /** Partition-local dedup — no shuffle; duplicates across partitions fetch
    * again (reference Narrow: per-partition groupBy).
    */
  case object Narrow extends Locality

  /** Global dedup: shuffle on traceKey, exactly one execution per distinct
    * canonical trace (reference Wide: reduceByKey partitioner). The default.
    */
  case object Wide extends Locality
}

/** PLACEMENT of Wide fetch groups — orthogonal to the dedup key (which
  * stays the canonical trace key either way; dedup semantics never change).
  */
sealed trait FetchLayout extends Serializable
object FetchLayout {

  /** Default: hash-partition by the dedup key (any group anywhere). */
  case object ByKey extends FetchLayout

  /** Host-keyed frontier layout — the cluster-global politeness story
    * ([[graft.agent.HostPoliteness]] is per-JVM by design): ALL traces
    * against one host land in at most `salt` partitions (task slots), so
    * the per-JVM limiter's min-interval guarantee holds globally at ≤
    * salt× the configured per-host rate. salt = 1 is strict global
    * politeness; raise it for a dominant host that would otherwise
    * serialize the whole crawl behind one task (the documented skew trade:
    * k× that host's rate for k× its throughput). Hostless traces (file:,
    * Mock) place by their dedup key as usual.
    *
    * The guarantee is START spacing. Each fetch task keeps up to
    * [[graft.agent.Agent.InFlight]] requests in flight
    * ([[graft.agent.Agent.executeAll]]), so one host sees at most
    * `InFlight × salt` requests in flight per JVM; with a min interval
    * set, starts stay that interval apart however many are in flight.
    */
  final case class ByHost(salt: Int = 1) extends FetchLayout {
    require(salt >= 1, s"salt must be >= 1, got $salt")
  }

  /** Partition index for one (dedup key, trace) pair under a layout — the
    * ONE place placement is derived, shared by [[FetchExec.fetch]] and the
    * explore frontier ([[ExploreExec]], r11 verdict #1: the crawl is the
    * politeness consumer). ByKey hashes the dedup key (any group anywhere);
    * ByHost hashes (host, key-salt) — two rows of one trace always share a
    * salt index, so a key's group still lands whole in one partition, while
    * one host spreads over at most `salt` partitions. Hostless traces
    * (file:, Mock) place by their dedup key as usual.
    */
  private[graft] def partitionOf(layout: FetchLayout, k: String, t: Trace, parts: Int): Int =
    layout match {
      case ByKey => math.floorMod(k.hashCode, parts)
      case ByHost(salt) =>
        val host = t.primaryUri.flatMap(graft.agent.HostPoliteness.hostOf).getOrElse(k)
        val saltIdx = if (salt <= 1) 0 else math.floorMod(k.hashCode, salt)
        math.floorMod((host, saltIdx).hashCode, parts)
    }
}

/** Routes pre-computed partition indices verbatim: keys are either the bare
  * index (`Int`) or an (index, sortKey) pair whose first element is the
  * index (the [[FetchExec]] Wide shape, where the String half makes equal
  * dedup keys consecutive under repartitionAndSortWithinPartitions).
  */
private[graft] final class IndexPartitioner(parts: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = parts
  override def getPartition(key: Any): Int = key match {
    case i: Int         => i
    case (i: Int, _)    => i
    case other          => throw new IllegalArgumentException(s"not an index key: $other")
  }
}

/** The engine's one genuinely novel physical operator: common-subexpression
  * elimination on SIDE EFFECTS (reference execution/FetchPlan.scala:25-60,
  * SURVEY §4 #2). Rows are keyed by the canonical hash of their trace and
  * grouped so each distinct trace executes ONCE; results fan back to every
  * origin row.
  *
  * Scale shape: the shuffle key is a 64-char hash string; the shuffled
  * payload is (trace, D) — no fetched content moves (fetching happens after
  * the shuffle, inside the group). Co-location is free: all rows wanting one
  * trace land in one task, which also maximizes doc-cache locality on
  * repeated runs (reference DocCacheAware).
  *
  * Inside a task, Wide and Passthrough fetch through
  * [[graft.agent.Agent.executeAll]]: up to [[graft.agent.Agent.InFlight]]
  * distinct idempotent traces execute ahead of the consumer, so a task
  * slot overlaps its fetch waits; row order, and so every result, is that
  * of the serial loop. Narrow stays serial: its LRU and pinned memo decide
  * per row whether a trace executes at all.
  */
object FetchExec {

  /** `keyed`: one input row per (trace, payload) pair — upstream fan-out
    * (CanFetch) already applied.
    *
    * @param keyBy override of the dedup/co-location key (reference
    *              `LocalityGroup.sameBy`): rows whose `keyBy(trace)` agree
    *              execute the FIRST row's trace once and share its result.
    *              Defaults to the canonical cache key.
    */
  def fetch[D](keyed: Dataset[(Trace, D)], env: Env,
               locality: Locality = Locality.Wide,
               keyBy: Trace => String = _.cacheKey,
               layout: FetchLayout = FetchLayout.ByKey): Dataset[FetchedRow[D]] = {
    implicit val rowEnc: Encoder[FetchedRow[D]] = Encoders.kryo[FetchedRow[D]]
    implicit val keyedEnc: Encoder[(String, (Trace, D))] =
      Encoders.tuple(Encoders.STRING, Encoders.kryo[(Trace, D)])

    locality match {
      case Locality.Passthrough =>
        keyed.mapPartitions { it =>
          // a null key never joins a run: every row executes its own trace
          Agent.executeAll(it, env)(_ => null, _._1).map { case ((t, d), traj) =>
            FetchedRow(d, keyBy(t), t, traj)
          }
        }

      case Locality.Narrow =>
        keyed.mapPartitions { it =>
          // Bounded access-order LRU: Narrow is best-effort per-partition
          // dedup, and trajectories hold fetched content — a partition
          // streaming millions of DISTINCT traces must not accumulate them
          // all on the heap. Eviction never changes results; it only costs
          // a re-execution if an evicted key recurs after `cap` distinct
          // others (sorted/clustered inputs — the Narrow use case — never
          // hit that). EXCEPT for non-idempotent traces (Wpost / browser
          // state-changes): re-executing those repeats the remote side
          // effect, so their entries are PINNED in a separate map that the
          // LRU never evicts — exactly-once per partition is restored at
          // the price of holding those (typically rare) trajectories; use
          // Wide for unbounded POST streams (global dedup, one execution
          // per key, period).
          val cap = 4096
          val local = new java.util.LinkedHashMap[String, Trajectory](64, 0.75f, true) {
            override def removeEldestEntry(e: java.util.Map.Entry[String, Trajectory]): Boolean =
              size() > cap
          }
          val pinned = new java.util.HashMap[String, Trajectory]()
          it.map { case (t, d) =>
            val k = keyBy(t)
            var traj = pinned.get(k)
            if (traj == null) traj = local.get(k)
            if (traj == null) {
              traj = Trajectory(Agent.execute(t, env))
              if (t.nonIdempotent) pinned.put(k, traj) else local.put(k, traj)
            }
            FetchedRow(d, k, t, traj)
          }
        }

      case Locality.Wide =>
        // BOTH layouts run at the RDD layer, deliberately: a fetch stage's
        // cost is per ROW (a network round-trip), not per byte, so AQE's
        // size-based partition coalescing — which sees a few KB of (trace,
        // payload) rows and folds the whole shuffle into one task — would
        // serialize every fetch behind one thread (measured 16x slower on
        // a 1200-url crawl). RDD shuffles are invisible to AQE: the fetch
        // stage's parallelism is exactly spark.sql.shuffle.partitions.
        //
        // Placement: ByKey partitions by the dedup key's hash (any group
        // anywhere — the default); ByHost derives the partition from
        // (host, traceHash % salt) — two rows of one trace always share a
        // salt index, so a key's group still lands whole in one partition,
        // while one host spreads over at most `salt` partitions.
        // repartitionAndSortWithinPartitions makes equal keys CONSECUTIVE,
        // so Agent.executeAll executes once per key run, up to InFlight runs
        // ahead of the consumer, and streams: it buffers a bounded number of
        // rows, never whole groups.
        val spark = keyed.sparkSession
        val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val prepared = keyed.rdd.map { case (t, d) =>
          val k = keyBy(t)
          ((FetchLayout.partitionOf(layout, k, t, parts), k), (t, d))
        }
        implicit val keyOrd: Ordering[(Int, String)] =
          Ordering.Tuple2(Ordering.Int, Ordering.String)
        val sorted = prepared.repartitionAndSortWithinPartitions(new IndexPartitioner(parts))
        val rows = sorted.mapPartitions { it =>
          Agent.executeAll(it, env)(_._1._2, _._2._1).map { case (((_, k), (t, d)), traj) =>
            FetchedRow(d, k, t, traj)
          }
        }
        spark.createDataset(rows)(rowEnc)
    }
  }
}
