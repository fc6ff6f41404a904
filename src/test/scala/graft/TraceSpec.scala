package graft

import graft.actions._
import graft.doc.{Doc, DocUID}

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Trace canonicalization semantics (reference actions/Trace.scala:127-305):
  * dryRun backtraces, cache keys invariant under names/timeouts/delays.
  */
class TraceSpec extends AnyFunSuite {

  test("+> sequences actions; *> is cartesian; || is union") {
    val t = Trace.of(Visit("a")) +> Trace.of(Click("b"))
    assert(t.actions == Seq(Visit("a"), Click("b")))

    val s = TraceSet.one(Visit("a")) *> TraceSet.of(Trace.of(Click("x")), Trace.of(Click("y")))
    assert(s.traces.map(_.actions) ==
      Seq(Seq(Visit("a"), Click("x")), Seq(Visit("a"), Click("y"))))

    val u = TraceSet.one(Wget("u1")) || TraceSet.one(Wget("u2"))
    assert(u.traces.size == 2)
  }

  test("dryRun keeps only state-changing prefix + export, canonicalized") {
    val t = Trace.of(
      Delay(100), Visit("page1"), WaitFor("div", 5000), Snapshot(as = Some("s1")),
      Click("next"), RandomDelay(1, 2), Snapshot())
    val bts = t.dryRun
    assert(bts.size == 2)
    assert(bts(0).actions == Seq(Visit("page1", 0L), Snapshot(None)))
    assert(bts(1).actions == Seq(Visit("page1", 0L), Click("next"), Snapshot(None)))
  }

  test("cacheKey ignores timeouts, aliases and delays; respects uri and state changes") {
    val a = Trace.of(Wget("file:/x", timeoutMillis = 1000, as = Some("n1")))
    val b = Trace.of(Delay(999), Wget("file:/x", timeoutMillis = 9999, as = Some("other")))
    val c = Trace.of(Wget("file:/y"))
    assert(a.cacheKey == b.cacheKey)
    assert(a.cacheKey != c.cacheKey)

    val d = Trace.of(Visit("u"), Snapshot())
    val e = Trace.of(Visit("u"), Click("x"), Snapshot())
    assert(d.cacheKey != e.cacheKey)
  }

  test("golden keys: a fixed Wget trace and a byte digest keep their hex") {
    // keys name the DFS cache directories: an encoder change must not move them
    assert(Trace.of(Wget("https://example.com/golden")).cacheKey ==
      "7c0cf3be3b0af5c101e9306d716875639a10dd259d8eb092eafbc5d39447e226")
    assert(Trace.digestBytes((0 until 256).map(_.toByte).toArray) ==
      "40aff2e9d2d8922e47afd4648e6967497158785fbd1da870e7110266bf944880")
  }

  test("Loop and LocalRetry canonicalize their bodies; retry count is not identity") {
    val l1 = Trace.of(LocalRetry(Trace.of(Wget("file:/x", 100)), retries = 1))
    val l2 = Trace.of(LocalRetry(Trace.of(Wget("file:/x", 999)), retries = 7))
    assert(l1.cacheKey == l2.cacheKey)
  }

  test("cache-key rendering is injective: field boundaries cannot be forged") {
    // case-class toString would render both of these as TextInput(x,y,z)
    val a = Trace.of(Visit("u"), TextInput("x,y", "z"), Snapshot())
    val b = Trace.of(Visit("u"), TextInput("x", "y,z"), Snapshot())
    assert(a.cacheKey != b.cacheKey)
    // same for the ')'-ish and ';' delimiters and empty-vs-missing fields
    val c = Trace.of(Wget("file:/a;Wget(file:/b"))
    val d = Trace.of(Wget("file:/a"), Wget("file:/b"))
    assert(c.cacheKey != d.cacheKey)
  }

  test("Driverless exports are keyed on the action alone (backtrace rule)") {
    // identical Wgets behind different browser prefixes share one cache key
    val plain = Trace.of(Wget("file:/x"))
    val behindA = Trace.of(Visit("a"), Click("go"), Wget("file:/x"))
    val behindB = Trace.of(Visit("b"), Wget("file:/x"))
    assert(behindA.dryRun == plain.dryRun)
    assert(behindA.cacheKey == plain.cacheKey)
    assert(behindB.cacheKey == plain.cacheKey)
    // browser exports DO keep their state-change prefix
    val snapA = Trace.of(Visit("a"), Snapshot())
    val snapB = Trace.of(Visit("b"), Snapshot())
    assert(snapA.cacheKey != snapB.cacheKey)
  }

  test("Mock identity comes from its observations") {
    val d1 = Doc(DocUID("k"), "u1", "hello".getBytes("UTF-8"))
    val d2 = Doc(DocUID("k"), "u1", "other".getBytes("UTF-8"))
    assert(Trace.of(Mock(Seq(d1))).cacheKey != Trace.of(Mock(Seq(d2))).cacheKey)
    assert(Trace.of(Mock(Seq(d1))).cacheKey ==
      Trace.of(Mock(Seq(d1.copy())) ).cacheKey)
  }

  // -- ScalaCheck: equal dryRun => equal cacheKey (SURVEY §5 plan item 4)

  private val genAction: Gen[Action] = Gen.oneOf(
    Gen.alphaNumStr.map(s => Wget(s"file:/$s")),
    for { s <- Gen.alphaNumStr; t <- Gen.chooseNum(1L, 99999L); n <- Gen.option(Gen.alphaStr) }
      yield Wget(s"file:/$s", t, n),
    Gen.alphaNumStr.map(Visit(_)),
    Gen.alphaNumStr.map(Click(_)),
    Gen.chooseNum(1L, 1000L).map(Delay(_)),
    Gen.const(Snapshot()),
    Gen.const(NoOp)
  )
  private val genTrace: Gen[Trace] =
    Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, genAction).map(Trace(_)))

  private def samples(n: Int): Seq[Trace] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => genTrace(params, org.scalacheck.rng.Seed(i.toLong)))
  }

  test("property: equal dryRun <=> equal cacheKey (500 sampled pairs)") {
    val ts = samples(500)
    ts.zip(ts.reverse).foreach { case (a, b) =>
      assert((a.dryRun == b.dryRun) == (a.cacheKey == b.cacheKey),
        s"dryRun/cacheKey disagree for\n  $a\n  $b")
    }
  }

  test("property: politeness knobs never change the key (500 samples)") {
    samples(500).foreach { t =>
      val noisy = Trace(t.actions.flatMap(a => Seq(Delay(123), a)))
      assert(noisy.cacheKey == t.cacheKey, s"delay changed key of $t")
    }
  }
}
