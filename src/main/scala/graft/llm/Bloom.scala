package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Bloom filter over string keys — the approximate-membership
  * scale path for decontamination-style probes (reference semantics:
  * module/core corpus-clean's eval-set exclusion; q50 is the exact
  * broadcast-join flavor). When the reference set is too big to broadcast
  * as exact strings (billions of eval n-grams at 100 TB), a bits-only
  * filter keeps the probe map-side: ~128 KiB here (m = 2^20) vs the gram
  * strings themselves, and the probe never shuffles the corpus.
  *
  * The hash schedule is deliberately oracle-replicable: h1/h2 are the
  * first/second 15 hex chars of md5(key) (both engines print identical
  * md5 hex; 15 hex chars < 2^60 so `h1 + 2*h2` stays far inside int64),
  * h2 is forced odd, and the k=3 probe positions are the classic
  * Kirsch–Mitzenmacher double hash `(h1 + i*h2) mod m`. A DuckDB oracle
  * recomputes the positions with the same arithmetic and tests
  * position-subset membership — so even FALSE POSITIVES reproduce
  * bit-for-bit across engines, making the filter itself gateable, not
  * just its lossless subset.
  *
  * Scale shape: the build is one map-side pass over the reference keys —
  * each partition folds its positions into a local 128 KiB byte mask,
  * `treeAggregate` ORs them up the tree (no row ever leaves its
  * partition), and only the mask travels. The probe side is pure
  * whole-stage codegen: md5/conv position columns feed the native
  * [[graft.sql.BloomContains]] expression, with the mask riding the plan
  * as ONE foldable binary literal — no ScalaUDF boundary, no per-row
  * boxing, zero shuffle, zero driver loop.
  */
object Bloom {

  /** Filter size in bits (2^20) — sized so the build-side position count
    * at test SF (~thousands) keeps the false-positive rate negligible
    * while still exercising the full build/probe machinery. At real scale
    * pick m ≈ 10–15 bits per key (1 GiB mask ≈ 7e8 keys at 1% FP) — the
    * plumbing below is size-agnostic.
    */
  val M_BITS: Long = 1L << 20

  /** The three probe positions of a string key column, as plain Catalyst
    * columns (md5/conv/substring are all codegen'd builtins — the hash
    * runs inside whole-stage codegen on both the build and probe side).
    */
  def positions(key: Column): Seq[Column] = positions(key, M_BITS)

  /** Positions from an ALREADY-COMPUTED md5 hex column — callers that md5
    * inside a higher-order transform (so only 32-hex keys explode, never
    * gram text) skip the second hash here.
    */
  def positionsFromHex(hex: Column): Seq[Column] = positionsFromHex(hex, M_BITS)

  /** Sized [[positionsFromHex]] — probes of a mask built with the sized
    * [[build]] MUST pass the same mBits (callers holding only the mask
    * derive it as `8L * mask.length`); a mismatched modulus probes wrong
    * bit positions.
    */
  def positionsFromHex(hex: Column, mBits: Long): Seq[Column] = {
    val h1 = conv(substring(hex, 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(hex, 17, 15), 16, 10).cast("long").bitwiseOR(lit(1L))
    (0 until 3).map(i => (h1 + lit(i.toLong) * h2) % lit(mBits))
  }

  /** Sized variant — scale the mask with the key count (the bits/key
    * rule); mBits must be a multiple of 8.
    */
  def positions(key: Column, mBits: Long): Seq[Column] = {
    val h1 = conv(substring(md5(key), 1, 15), 16, 10).cast("long")
    // force odd so the double-hash stride never degenerates to 0
    val h2 = conv(substring(md5(key), 17, 15), 16, 10).cast("long").bitwiseOR(lit(1L))
    (0 until 3).map(i => (h1 + lit(i.toLong) * h2) % lit(mBits))
  }

  /** Fold a position column (bigint in [0, M_BITS)) into a byte mask,
    * map-side per partition + tree-OR merge. Bit layout: byte `p >>> 3`,
    * bit `p & 7` — the same convention [[graft.sql.BloomContains]] reads.
    */
  def build(positions: DataFrame, posCol: String): Array[Byte] =
    build(positions, posCol, M_BITS)

  def build(positions: DataFrame, posCol: String, mBits: Long): Array[Byte] = {
    val bytes = (mBits / 8).toInt
    positions
      .select(col(posCol).cast("long"))
      .rdd
      .map(_.getLong(0))
      .treeAggregate(new Array[Byte](bytes))(
        (bs, p) => {
          bs((p >>> 3).toInt) = (bs((p >>> 3).toInt) | (1 << (p & 7).toInt)).toByte; bs
        },
        (a, b) => {
          var i = 0
          while (i < bytes) { a(i) = (a(i) | b(i)).toByte; i += 1 }; a
        })
  }

  /** Probe column: true iff all three positions are set in the mask —
    * the native codegen [[graft.sql.BloomContains]] over the mask as a
    * foldable binary literal.
    */
  def mightContain(mask: Array[Byte])(p0: Column, p1: Column, p2: Column): Column =
    graft.functions.bloom_contains(lit(mask), array(p0, p1, p2))

  /** Hard ceiling on the total mask size (256 MiB ≈ 2^31 bits ≈ 1.4e8 keys
    * at 15 bits/key): the probe ships the mask as ONE plan literal /
    * broadcast, and past this size that distribution model itself is the
    * bottleneck — so the build REFUSES LOUDLY instead of degrading.
    * A benchmark suite that genuinely overflows it should fall back to the
    * exact broadcast-semi-join (q50) per partition-of-eval-set, or raise
    * the FP rate (fewer bits/key) — both are semantics decisions the
    * caller must make, not ones a silent truncation may make for them.
    */
  val MAX_MASK_BYTES: Long = 256L << 20

  /** Per-reducer bank width for [[buildBanked]] (16 MiB): bounds any single
    * task's mask allocation regardless of total mask size.
    */
  val BANK_BYTES: Int = 16 << 20

  /** BANKED build — [[build]]'s scale path for masks too big to fold whole.
    *
    * The treeAggregate build allocates the FULL mask in every map task:
    * fine at 128 KiB, but a 1000×-larger eval suite needs ~2^30 bits and
    * 32 tasks × 128 MiB = 4 GiB of zero-init per executor before a single
    * bit is set. Here each position routes to bank `byteIndex / bankBytes`
    * (a hash-partitioned shuffle of raw (bank, position) longs — map-side
    * combine deliberately OFF, since combining map-side would re-create
    * the all-banks-per-task allocation this exists to avoid), each REDUCER
    * folds only its own banks (≈ 1 bank ≈ bankBytes live per task), and
    * the driver stitches the collected banks — whose total is bounded by
    * [[MAX_MASK_BYTES]], checked up front with a loud refusal.
    *
    * Bit-for-bit equal to [[build]] on the same positions (spec-pinned:
    * bank dispatch, stitch order, sub-bank masks), so gated callers (q83)
    * route through it unchanged.
    */
  def buildBanked(positions: DataFrame, posCol: String, mBits: Long = M_BITS,
                  bankBytes: Int = BANK_BYTES,
                  maxMaskBytes: Long = MAX_MASK_BYTES): Array[Byte] = {
    require(mBits % 8 == 0, s"mBits must be a multiple of 8: $mBits")
    require(bankBytes > 0, s"bankBytes must be positive: $bankBytes")
    val totalBytes = mBits / 8
    if (totalBytes > maxMaskBytes) throw new IllegalArgumentException(
      s"Bloom.buildBanked: mask of $totalBytes bytes (m = $mBits bits) exceeds the " +
        s"$maxMaskBytes-byte single-literal distribution cap — a mask this large " +
        "should not ride the plan as one broadcast blob. Fall back to the exact " +
        "broadcast-semi-join per eval-set partition (the q50 path), or lower " +
        "bits/key; refusing rather than silently degrading.")
    val nBanks = ((totalBytes + bankBytes - 1) / bankBytes).toInt
    if (nBanks <= 1) return build(positions, posCol, mBits) // one bank IS the mask
    val bankOf = (p: Long) => ((p >>> 3) / bankBytes).toInt
    val banks = positions
      .select(col(posCol).cast("long"))
      .rdd
      .map(r => { val p = r.getLong(0); (bankOf(p), p) })
      .combineByKeyWithClassTag[Array[Byte]](
        createCombiner = (p: Long) => {
          val bs = new Array[Byte](bankBytes)
          val off = (p >>> 3) - bankOf(p).toLong * bankBytes
          bs(off.toInt) = (bs(off.toInt) | (1 << (p & 7).toInt)).toByte
          bs
        },
        mergeValue = (bs: Array[Byte], p: Long) => {
          val off = (p >>> 3) - bankOf(p).toLong * bankBytes
          bs(off.toInt) = (bs(off.toInt) | (1 << (p & 7).toInt)).toByte
          bs
        },
        mergeCombiners = (a: Array[Byte], b: Array[Byte]) => {
          var i = 0
          while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
          a
        },
        partitioner = new org.apache.spark.HashPartitioner(nBanks),
        mapSideCombine = false)
      .collect()
    val mask = new Array[Byte](totalBytes.toInt)
    banks.foreach { case (bank, bs) =>
      val start = bank.toLong * bankBytes
      val len = math.min(bankBytes.toLong, totalBytes - start).toInt
      System.arraycopy(bs, 0, mask, start.toInt, len)
    }
    mask
  }
}
