package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one hot-key salt under every near-dup family (MinHash bands, the
  * substring anchors, Hamming blocks, Ann cells, SemDedup clusters) and the
  * fact/dim [[saltedJoin]]. One key shared by m rows makes an equi-join on
  * it emit its m²/2 matches from a single reducer, correct but a straggler
  * that stalls the stage at scale. The Manku, Jain and Das Sarma hot-block
  * construction (WWW'07) spreads it instead, in three steps:
  *
  *  - '''Sizing.''' A key's `n_sub` is `ceil(n / target)` for keys over the
  *    target and 1 otherwise. It comes from a groupBy of ONLY the
  *    over-target keys, joined back. The groupBy's map-side partial
  *    aggregation shuffles per-partition (key, count) partials, a vanishing
  *    fraction of the rows, where a window count would re-shuffle every row
  *    a second time just to count it. The hot table holds at most
  *    rows/target keys and is empty or near-empty in the designed pipeline
  *    (exact dedup first), so AQE broadcasts it at runtime; in the
  *    adversarial case (every key hot) the join degrades to the shuffle
  *    class the salted join pays anyway. No driver collect either way.
  *  - '''Salt.''' `salt = pmod(xxhash64(id), n_sub)`: deterministic, so a
  *    rerun or a retried task salts alike.
  *  - '''Salted equi-join.''' Left rows key on their own salt; right rows
  *    replicate to every salt of their key, so each (left, right) match
  *    meets on exactly one reducer and the result set is the plain join's.
  *    Replication costs n·n_sub narrow rows per hot key, negligible next to
  *    the n²/2 output it spreads.
  *
  * Ann and SemDedup use only the sizing and salt: they join within one salt
  * and drop the cross-salt pairs, a documented recall trade. Rows with a
  * null key or a null id never pair.
  */
object Salt {

  /** No (key, salt) join group exceeds ~this many rows. */
  val TargetBucket = 4096L

  /** The target as a column over the size aggregate `(keys…, bn)`. */
  type Target = DataFrame => Column

  /** An absolute target of `n` rows per (key, salt) group. */
  def rows(n: Long): Target = {
    require(n > 0, "the salt target must be positive")
    _ => lit(n)
  }

  /** `df` with its key's `n_sub` and its own `salt` in [0, n_sub). */
  def salt(df: DataFrame, keys: Seq[String], id: Column, target: Target): DataFrame =
    saltBy(sized(df, hot(df, keys, target), keys), id)

  /** The salted equi-join of `left`, which carries `salt`, with `right`,
    * which carries `n_sub`: each right row replicates to every salt of its
    * key and is projected to `keys`, `salt` and `rightCols`.
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String])(rightCols: Column*): DataFrame =
    left.join(right.select(keys.map(col) ++
      (explode(sequence(lit(0L), col("n_sub") - 1)).as("salt") +: rightCols): _*),
      keys :+ "salt")

  /** Candidate pairs `(id_a < id_b)` of rows sharing a key, salted with the
    * target `targetBucket`. `isLeft` picks the rows that DRIVE the join:
    * `lit(true)` for a self-join, the arrivals flag for an incremental one
    * (every candidate then touches >= 1 left row). A pair sharing several
    * keys counts once: a `distinct` drops its other meetings, unless the
    * caller names the one meeting to keep with `once`, a predicate over the
    * keys and the two rows' carried columns that holds for exactly one of a
    * pair's shared keys. Each `carry` column c, a function of the id, rides
    * along as `c_x` and `c_y` (the two rows of a meeting) and leaves as
    * `c_a` and `c_b`, so a verify step needs no join back to the rows.
    */
  def candidates(df: DataFrame, keys: Seq[String], id: String, isLeft: Column,
                 targetBucket: Long = TargetBucket, carry: Seq[String] = Nil,
                 once: Option[Column] = None): DataFrame = {
    val b = salt(df.withColumn("is_left", isLeft), keys, col(id), rows(targetBucket))
    val x = b.filter(col("is_left"))
      .select(keys.map(col) ++ Seq(col("salt"), col(id).as("ida")) ++
        carry.map(c => col(c).as(s"${c}_x")): _*)
    val swap = col("ida") > col("idb")
    // when BOTH rows are left, keep only the meeting driven by the smaller
    // id: exactly one surviving row per (pair, key)
    val pairs = join(x, b, keys)(Seq(col(id).as("idb"), col("is_left").as("left_b")) ++
        carry.map(c => col(c).as(s"${c}_y")): _*)
      .filter(col("ida") =!= col("idb") && (col("ida") < col("idb") || !col("left_b")) &&
        once.getOrElse(lit(true)))
      .select(Seq(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b")) ++ carry.flatMap(c => Seq(
          when(swap, col(s"${c}_y")).otherwise(col(s"${c}_x")).as(s"${c}_a"),
          when(swap, col(s"${c}_x")).otherwise(col(s"${c}_y")).as(s"${c}_b"))): _*)
    if (once.isEmpty) pairs.distinct() else pairs
  }

  /** Equi-join a skewed `fact` with a small `dim` on `key`: fact rows salt
    * by their own content, sized from the fact side's key counts; dim rows
    * replicate to every salt of their key. Result == plain join.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String): DataFrame = {
    val keys = Seq(key)
    val h = hot(fact, keys, rows(TargetBucket))
    join(saltBy(sized(fact, h, keys), struct(fact.columns.map(col).toIndexedSeq: _*)),
      sized(dim, h, keys), keys)(dim.columns.filter(_ != key).map(col).toIndexedSeq: _*)
      .drop("salt", "n_sub")
  }

  /** `(keys…, hot_n_sub)` for the keys over the target only. */
  private def hot(df: DataFrame, keys: Seq[String], target: Target): DataFrame = {
    val sizes = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bn"))
    val t = target(sizes)
    sizes.filter(col("bn") > t)
      .select(keys.map(col) :+ ceil(col("bn") / t).cast("long").as("hot_n_sub"): _*)
  }

  private def sized(df: DataFrame, hot: DataFrame, keys: Seq[String]): DataFrame =
    df.join(hot, keys, "left")
      .withColumn("n_sub", coalesce(col("hot_n_sub"), lit(1L)))
      .drop("hot_n_sub")

  private def saltBy(sized: DataFrame, id: Column): DataFrame =
    sized.withColumn("salt", pmod(xxhash64(id), col("n_sub")))
}
