package graft.llm

import graft.scale.Salt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hamming-distance near-duplicate pairs over bit signatures (SimHash,
  * image perceptual hashes, any <=64-bit code) WITHOUT an all-pairs scan —
  * the Manku/Jain/Das Sarma construction (WWW'07): hamming(a,b) <= h over a
  * signature split into h+1 blocks forces at least one block equal
  * (pigeonhole), so candidates come from a bucket self-join on
  * (block_id, block_val) and only candidates pay the exact
  * `bit_count(xor)` verify.
  *
  * == Hot-bucket guard (semantics-preserving) ==
  *
  * One block value shared by a mega-cluster of m signatures makes the
  * self-join emit its m²/2 pairs FROM A SINGLE REDUCER — correct but a
  * straggler that stalls the stage at scale. The block join runs through
  * the shared hot-key salt ([[graft.scale.Salt]]): buckets over
  * `targetBucket` rows split over `ceil(n/targetBucket)` reducers, and each
  * (a,b) pair still meets exactly once, so the result set is exactly the
  * unguarded one (the q45 gate is byte-identical). The signature rides
  * through the join next to the id, so the verify needs no second lookup.
  *
  * Exact-dedup-first still applies (see the q45 notes):
  * byte-identical documents should be collapsed by hash-groupBy (q24)
  * before any signature pass, so mega-buckets only arise from genuine
  * near-dup clusters — the salt bounds the damage of the residual ones.
  */
object Hamming {

  /** All pairs with hamming(sig_a, sig_b) <= maxHamming.
    *
    * @param sigs         one row per item: an id column + a <=64-bit LONG
    *                     signature column
    * @param nBits        significant signature width (block widths derive
    *                     from it; bits >= nBits must be zero)
    * @param maxHamming   inclusive distance threshold; block count is
    *                     maxHamming + 1 (pigeonhole-tight)
    * @param targetBucket salt buckets so no join group exceeds ~this many
    *                     rows per (block, salt) key
    * @return (id_a, id_b, hamming) with id_a < id_b, exact and complete
    */
  def nearDupPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   nBits: Int, maxHamming: Int,
                   targetBucket: Long = Salt.TargetBucket): DataFrame = {
    val keys = Seq("block_id", "block_val")
    val b = Salt.salt(blocks(sigs, idCol, sigCol, nBits, maxHamming), keys, col("id"),
      Salt.rows(targetBucket))
    Salt.join(b.select(col("block_id"), col("block_val"), col("salt"),
        col("id").as("id_a"), col("sig").as("sig_a")), b, keys)(
        col("id").as("id_b"), col("sig").as("sig_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct() // a close pair shares several blocks; count it once
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The pigeonhole block table backing [[nearDupPairs]]: one
    * (id, sig, block_id, block_val) row per signature and block.
    */
  private[graft] def blocks(sigs: DataFrame, idCol: String, sigCol: String,
                            nBits: Int, maxHamming: Int): DataFrame = {
    require(nBits > 0 && nBits <= 64, s"nBits=$nBits out of (0, 64]")
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(maxHamming < nBits, "maxHamming >= nBits matches everything")
    val nBlocks = maxHamming + 1
    // block widths base/base+1 so every bit is covered (60/4 -> 15,15,15,15;
    // 64/3 -> 22,21,21); unequal widths keep the pigeonhole guarantee
    val base = nBits / nBlocks
    val rem = nBits % nBlocks
    val specs = (0 until nBlocks).map { i =>
      val width = base + (if (i < rem) 1 else 0)
      val offset = i * base + math.min(i, rem)
      (i, offset, width)
    }
    val blockStructs = specs.map { case (i, offset, width) =>
      // width can be up to 64 when maxHamming = 0: build the mask shift-safe
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(i).as("block_id"),
        shiftright(col(sigCol), offset).bitwiseAND(lit(mask)).as("block_val"))
    }
    sigs.select(col(idCol).as("id"), col(sigCol).as("sig"),
        explode(array(blockStructs: _*)).as("b"))
      .select(col("id"), col("sig"), col("b.block_id"), col("b.block_val"))
  }
}
