package graft.actions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.HexFormat

/** An ordered, replayable program of [[Action]]s (reference
  * actions/Trace.scala:127-305). Pure data — composition, canonicalization
  * and cache keys are all driver/executor-side pure functions; execution
  * lives in [[graft.agent.Agent]].
  */
final case class Trace(actions: Seq[Action]) extends Serializable {

  /** Sequence two traces (reference HasTrace.scala:43-52 `+>`). */
  def +>(other: Trace): Trace = Trace(actions ++ other.actions)
  def +>(a: Action): Trace = Trace(actions :+ a)

  def isEmpty: Boolean = actions.isEmpty

  def exports: Seq[Export] = actions.collect { case e: Export => e }

  def hasExport: Boolean = exports.nonEmpty

  /** Canonical trace: every action reduced to its [[Action.skeleton]], pure
    * no-ops dropped.
    */
  def skeleton: Trace =
    Trace(actions.map(_.skeleton).filter(_ != NoOp))

  /** Only the state-changing steps (reference Trace.scala:293-305
    * `stateChangeOnly`) — what an export's observation depends on.
    */
  def stateChangeOnly: Trace =
    Trace(actions.collect { case s: StateChange => s })

  /** Minimal backtrace per export: the state-changing prefix + the export
    * itself, both canonicalized (reference Trace.scala:275-292 `dryRun`).
    * This is the identity of each observation — the basis of cache keys and
    * fetch dedup.
    *
    * Driverless exports (Wget/Wpost/OAuth/Mock) depend on no browser state, so
    * their backtrace is the action ALONE (reference dryRun:
    * `case _: Action.Driverless => child :: Nil`) — identical Wgets behind
    * different interaction prefixes share one cache entry and one fetch.
    */
  def dryRun: Seq[Trace] = {
    val backtraces = Seq.newBuilder[Trace]
    var stateChanges = Vector.empty[Action]
    actions.foreach {
      case s: StateChange => stateChanges :+= s.skeleton
      case e: Export =>
        backtraces += (e match {
          case _: Driverless => Trace(Seq(e.skeleton))
          case _             => Trace(stateChanges :+ e.skeleton)
        })
      case _ => () // delays, waits: not part of observation identity
    }
    backtraces.result()
  }

  /** The first uri-bearing action's uri (Loop/LocalRetry bodies included) —
    * what host-keyed placement ([[graft.exec.FetchLayout.ByHost]]) and
    * politeness derive the host from.
    */
  def primaryUri: Option[String] = actions.collectFirst(Function.unlift[Action, String] {
    case Wget(u, _, _, _)       => Some(u)
    case Wpost(u, _, _, _, _)   => Some(u)
    case o: OAuthV2             => Some(o.delegate.uri)
    case Visit(u, _)            => Some(u)
    case Loop(b, _)             => b.primaryUri
    case LocalRetry(b, _)       => b.primaryUri
    case _                      => None
  })

  /** True when re-executing this trace could REPEAT a remote side effect —
    * an HTTP POST or any browser state-change, anywhere in the action list
    * including Loop/LocalRetry bodies. The fetch layer's best-effort memo
    * ([[graft.exec.Locality.Narrow]]) must never silently re-run such a
    * trace for a key it already executed (a bounded-LRU eviction would
    * otherwise re-POST and double-count pagesFetched); idempotent traces
    * may always be re-fetched for a result that is equal by definition.
    */
  def nonIdempotent: Boolean = actions.exists {
    case _: Wpost        => true
    case _: StateChange  => true
    case Loop(b, _)      => b.nonIdempotent
    case LocalRetry(b, _) => b.nonIdempotent
    case _               => false
  }

  /** Stable canonical cache key: SHA-256 over the rendered dryRun. Two traces
    * with equal dryRun MUST yield equal keys (ScalaCheck property in
    * TraceSpec); names/timeouts/delays never affect it. Memoized — the fetch
    * hot path keys every row by it (transient: recomputed after
    * deserialization, so executors pay it once per instance, not per use).
    */
  @transient lazy val cacheKey: String =
    Trace.digest(dryRun.map(Trace.render).mkString("\n"))
}

object Trace {

  val empty: Trace = Trace(Nil)

  def of(actions: Action*): Trace = Trace(actions.toVector)

  /** Deterministic INJECTIVE structural rendering. Case-class toString is not
    * injective for string fields — TextInput("x,y","z") and TextInput("x","y,z")
    * both print TextInput(x,y,z) and would collide to one cache key. Strings
    * are therefore netstring-encoded (length-prefixed): the result is uniquely
    * decodable, so distinct traces never share a key.
    */
  private[actions] def render(t: Trace): String = t.actions.map(renderValue).mkString(";")

  private def renderValue(v: Any): String = v match {
    case null         => "null"
    case s: String    => s"#${s.length}:$s" // netstring: injective despite delimiters
    case t: Trace     => s"T[${t.actions.map(renderValue).mkString(";")}]"
    case o: Option[_] => o.fold("None")(x => s"Some(${renderValue(x)})")
    case b: Array[Byte] => s"bytes:${digestBytes(b)}"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => renderValue(k) + "->" + renderValue(x) }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(renderValue).mkString("[", ",", "]")
    case p: Product      => p.productPrefix + p.productIterator.map(renderValue).mkString("(", ",", ")")
    case other           => String.valueOf(other)
  }

  private[graft] def digest(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8)))

  private[graft] def digestBytes(b: Array[Byte]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(b))

  /** Lowercase hex through the JDK's table encoder: keys name the DFS
    * cache directories, so this must stay byte-identical to `%02x`.
    */
  private[graft] def hex(bytes: Array[Byte]): String = HexFormat.of().formatHex(bytes)
}

/** A set of alternative traces — the fan-out unit that `fetch`/`explore`
  * functions return (reference actions/Foundation.scala:11-21).
  */
final case class TraceSet(traces: Seq[Trace]) extends Serializable {

  /** Cartesian composition: every left trace continued by every right trace
    * (reference Foundation.scala:11-19 `*>`) — e.g. pagination fan-out.
    */
  def *>(other: TraceSet): TraceSet =
    TraceSet(for { a <- traces; b <- other.traces } yield a +> b)

  def *>(a: Action): TraceSet = TraceSet(traces.map(_ +> a))

  /** Union of alternatives (reference Foundation.scala:21 `||`). */
  def ||(other: TraceSet): TraceSet = TraceSet(traces ++ other.traces)

  def distinct: TraceSet = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Trace]
    traces.foreach(t => seen.getOrElseUpdate(t.cacheKey, t))
    TraceSet(seen.values.toSeq)
  }
}

object TraceSet {
  val empty: TraceSet = TraceSet(Nil)
  def of(traces: Trace*): TraceSet = TraceSet(traces.toVector)
  def one(actions: Action*): TraceSet = TraceSet(Seq(Trace(actions.toVector)))
}
