package graft.llm

import graft.scale.Held

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic (embedding-space) deduplication: cluster the corpus
  * with k-means, then within each cluster drop every point that has a more
  * central near-twin above a cosine threshold (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", arXiv:2303.09540). The reference engine has no
  * embedding-space operators at all (its dedup surface is fetched-trace
  * keys, module/core doc/Observation.scala); this is part of the
  * training-data extension layer next to MinHash (q26) / SimHash (q27) /
  * IVF ANN (q34).
  *
  * Numeric contract — EXACT, engine-replicable arithmetic, the q72/q73
  * integer-quantization pattern: embedding components quantize to integer
  * hundred-thousandths once at entry; every distance, every centroid update
  * and every cosine-threshold decision after that is integer math (long on
  * the Spark side, HUGEINT in the DuckDB oracle), so the clustering and the
  * dedup verdicts hash-match across engines bit-for-bit — no float
  * accumulation order, no sqrt, no epsilon. Centroids carry an extra
  * [[CENTROID_SCALE]] precision factor and update by exact floor division;
  * the cosine test `cos(a,b) > tauNum/tauDen` runs cross-multiplied as
  * `tauDen² · dot² > tauNum² · |a|²·|b|²` (with `dot > 0`) in decimal(38,0)
  * — dot ≤ d·(maxComp·SCALE)² stays far below the 38-digit cap for
  * unit-scale embeddings.
  *
  * Shape at 100 TB — TWO regimes, selected on k·d (the q72/q73 dual-regime
  * doctrine: a table that is bounded by construction may ride the driver /
  * a broadcast; one that grows with the corpus must not — and SemDeDup's
  * own sizing rule says k GROWS with the corpus, ~100k clusters at web
  * scale, the [[Ann.autoCellCount]] IVF rule):
  *
  *   - **Packed regime** (k·d ≤ [[PACKED_MAX_KD]]): Lloyd iterations are
  *     map-side — the k×d centroid table rides one broadcast row,
  *     assignment is a single `aggregate` fold per vector (the
  *     [[Ann.assignCells]] plan), and the update is ONE map-side-combined
  *     vector-sum aggregate (d longs of state per (task, cluster)) + a
  *     k-row driver collect per iteration — bounded, documented driver
  *     state. Zero corpus shuffles.
  *   - **Distributed regime** (k·d above the pin): centroids stay a
  *     DataFrame end-to-end — no per-iteration driver collect, no single
  *     packed row. The corpus hash-partitions on the id ONCE up front;
  *     each iteration's assignment cross-joins the corpus against the
  *     centroid table bucketed into [[ASSIGN_BUCKET]]-centroid broadcast
  *     rows (bounded row size — no 2 GB single-object ceiling) and folds
  *     per bucket, and the per-id argmin aggregate REUSES the corpus
  *     partitioning (no exchange — vectors never re-shuffle, iteration
  *     after iteration). The Lloyd update is the same vector-sum
  *     aggregate JOINED back to the previous centroids (k-row frames on
  *     both sides; `coalesce` keeps emptied clusters) — the driver never
  *     materializes centroids. The irreducible cost of
  *     EXACT assignment is k·d bytes visible to every task (every vector
  *     needs its distance to every centroid); when even that exceeds
  *     executor broadcast budgets, exactness itself is the thing to drop —
  *     [[Ann.buildIndex]]'s IVF route is the approximate path.
  *
  * The pairwise stage joins only WITHIN clusters (shuffle-hash on cluster
  * id); cluster population is corpus/k. Against a degenerate mega-cluster
  * (near-duplicate-saturated corpora are exactly where SemDeDup gets
  * deployed) `maxClusterSize` arms the hot-cluster guard — the
  * [[Ann.capCellSizes]] sub-bucket split plus a champion seam pass; see
  * [[semDedup]]. Vectors are the only payload shuffled; documents/text
  * never move.
  *
  * [[Ann.trainCentroids]] remains the MLlib path for production index
  * builds; this one exists so the CLUSTERING ITSELF can be oracle-gated
  * (an oracle must be engine-replicable — MLlib's float k-means is not).
  */
object SemDedup {

  /** Component quantization: integer hundred-thousandths. */
  val COMPONENT_SCALE = 100000L

  /** Extra centroid precision carried through floor-division updates. */
  val CENTROID_SCALE = 1000L

  /** Regime pin: above this many k·d centroid longs (4 MiB packed — well
    * inside a single broadcast row / driver collect; d = 64 → k ≤ 8192)
    * the packed regime's per-iteration driver materialization stops being
    * "bounded by construction" and [[semDedup]] switches to the
    * distributed-centroid regime. The spec pins both plans.
    */
  val PACKED_MAX_KD: Long = 1L << 19

  /** Centroids per packed broadcast row in the distributed regime's
    * assignment — bounds single-row size (256·d longs ≈ 128 KiB at d = 64)
    * while keeping the per-bucket fold long enough to amortize row setup.
    */
  val ASSIGN_BUCKET: Int = 256

  /** SECOND regime pin, above [[PACKED_MAX_KD]]: past this many k·d
    * centroid longs (2²² = 32 MiB packed) even the distributed regime's
    * bucketed broadcast stops being safe — every [[assignDF]] task still
    * materializes ALL k·d longs across its bucket rows, ×32 concurrent
    * tasks per executor. Above it, [[fitDF]] routes every Lloyd
    * iteration through [[assignCoarseDF]] (two-level IVF routing derived
    * fresh from the PREVIOUS iteration's centroids), trading exact
    * assignment for a per-task footprint of one coarse cell's centroids —
    * the same exactness-is-the-price doctrine as final assignment (q102).
    * At nProbe ≥ the coarse-cell count routing recall is 1 and the fit is
    * bit-identical to the exact route (spec-pinned).
    */
  val COARSE_MAX_KD: Long = 1L << 22

  /** Centroid id + components in COMPONENT_SCALE·CENTROID_SCALE units. */
  type Centroids = Seq[(Long, Array[Long])]

  /** Adds `qv: array<bigint>` — the quantized embedding. `round` is
    * ties-away-from-zero in both Spark and DuckDB and the float→double
    * widening is exact, so qv is engine-identical.
    */
  def quantize(vectors: DataFrame, vecCol: String): DataFrame =
    vectors.withColumn("qv", expr(
      s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $COMPONENT_SCALE) AS BIGINT))"))

  /** Deterministic init: the k lowest-id vectors, scaled to centroid units.
    * A k-row bounded collect (the oracle replays it as `WHERE id < k` over
    * dense ids).
    */
  def initCentroids(q: DataFrame, idCol: String, k: Int): Centroids =
    q.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), col("qv"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Long](1).map(_ * CENTROID_SCALE).toArray))
      .sortBy(_._1)
      .zipWithIndex.map { case ((_, cv), i) => (i.toLong, cv) }

  /** Squared integer distance from `qv` (component units) to lambda-bound
    * centroid struct `c` (centroid units), via the exact expansion
    * Σ(qvᵢ·CQ − cvᵢ)² = CQ²·Σqvᵢ² + Σcvᵢ² − 2·CQ·Σ(qvᵢ·cvᵢ): the row term
    * `n2q` is computed once per row, `c.n2` once per centroid, and the
    * cross term is ONE native codegen dot ([[graft.sql.VecDotLong]]) —
    * identical int64 value to the naive fold (every term exact), k× less
    * work and no interpreted lambda. Fits long for |component| ≤ ~9·10⁴ at
    * d = 64.
    */
  private val DIST =
    s"n2q * CAST(${CENTROID_SCALE * CENTROID_SCALE} AS BIGINT) + c.n2" +
      s" - CAST(${2 * CENTROID_SCALE} AS BIGINT) * vec_dot_long(qv, c.cv)"

  /** The argmin fold over a `cells` column (sorted array of (cid, cv)
    * structs): strict `<` keeps the earliest best, so ties resolve to the
    * lowest centroid id. Shared by the batch [[assign]] (broadcast-packed
    * cells) and the streaming frozen-snapshot path
    * ([[graft.streaming.EventStreams.semClusterIngest]]'s literal cells)
    * so the two can never diverge.
    */
  private[graft] val bestCellFold: String =
    s"""aggregate(cells,
       |  struct(CAST(-1 AS BIGINT) AS id, CAST(${Long.MaxValue} AS BIGINT) AS d),
       |  (acc, c) -> CASE WHEN $DIST < acc.d
       |                   THEN struct(c.cid AS id, $DIST AS d)
       |                   ELSE acc END)""".stripMargin

  /** A frozen-centroid `cells` literal in the [[bestCellFold]] shape — the
    * streaming/broadcast-free alternative to [[assign]]'s packed row.
    * Bounded by construction (k·d longs in the plan); use [[assign]] when
    * k is index-build-sized. Each cell carries its precomputed Σcv² so the
    * fold's distance is one native dot.
    */
  def cellsLiteral(centroids: Centroids): Column =
    typedLit(centroids.sortBy(_._1).map { case (cid, cv) =>
      (cid, cv.toSeq, cv.map(x => x * x).sum)
    }).cast("array<struct<cid:bigint,cv:array<bigint>,n2:bigint>>")

  /** Tags every vector with `cluster` (argmin distance, ties to the lowest
    * centroid id) and `cdist` (the winning squared distance). Entirely
    * map-side: centroids pack into ONE broadcast row, the argmin is an
    * `aggregate` fold per vector — the corpus is never shuffled (the
    * [[Ann.assignCells]] contract).
    */
  def assign(q: DataFrame, centroids: Centroids): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val packed = centroids.map { case (cid, cv) =>
      (cid, cv.toSeq, cv.map(x => x * x).sum)
    }.toDF("cid", "cv", "n2")
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("n2"))))
        .as("cells"))
    q.withColumn("n2q", graft.functions.vec_dot_long(col("qv"), col("qv")))
      .crossJoin(broadcast(packed))
      .withColumn("best", expr(bestCellFold))
      .withColumn("cluster", col("best.id"))
      .withColumn("cdist", col("best.d"))
      .drop("cells", "best", "n2q")
  }

  /** One Lloyd update: per-cluster exact component sums — ONE map-side-
    * combined [[graft.sql.VecSumLong]] aggregate with d longs of state per
    * (task, cluster), NOT a corpus×d posexplode (integer addition is
    * associative/commutative, so the packed sum is bit-identical to the
    * per-position one) — then floor-divided centroids on the driver (k
    * rows of k·d longs total, the bounded collect). Clusters that lost
    * every member keep their previous centroid.
    */
  def lloydUpdate(assigned: DataFrame, prev: Centroids): Centroids = {
    org.apache.spark.sql.graft.GraftFunctions.register(assigned.sparkSession)
    val sums = assigned
      .groupBy(col("cluster"))
      .agg(graft.functions.vec_sum_long(col("qv")).as("sv"), count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val sv = r.getSeq[Long](1)
        val n = r.getLong(2)
        r.getLong(0) -> sv.map(s => Math.floorDiv(s * CENTROID_SCALE, n)).toArray
      }.toMap
    prev.map { case (cid, cv) => (cid, sums.getOrElse(cid, cv)) }
  }

  /** `iters` full Lloyd iterations (assign + update) from the deterministic
    * init. Returns the final centroids; callers [[assign]] once more for
    * the final clustering.
    */
  def fit(q: DataFrame, idCol: String, k: Int, iters: Int): Centroids = {
    var cen = initCentroids(q, idCol, k)
    var i = 0
    while (i < iters) { cen = lloydUpdate(assign(q, cen), cen); i += 1 }
    cen
  }

  // ------------------------------------------------- distributed regime

  /** [[initCentroids]] with the centroids left DISTRIBUTED: (cid, cv, n2),
    * cid = rank of the k lowest-id vectors. The rank window runs over the
    * already-limited k rows — bounded by construction, never corpus-sized.
    */
  def initCentroidsDF(q: DataFrame, idCol: String, k: Int): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(q.sparkSession)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
    q.orderBy(col(idCol)).limit(k)
      .withColumn("cid", row_number().over(w).cast("long") - 1)
      .select(col("cid"),
        expr(s"transform(qv, x -> x * CAST($CENTROID_SCALE AS BIGINT))").as("cv"))
      .withColumn("n2", graft.functions.vec_dot_long(col("cv"), col("cv")))
  }

  /** [[assign]] against a DISTRIBUTED (cid, cv, n2) centroid frame: the
    * centroids bucket into [[ASSIGN_BUCKET]]-centroid packed rows (sorted
    * within each bucket — the fold's strict `<` keeps the lowest cid on
    * ties, and the cross-bucket struct-min below breaks ties the same
    * way, so the result is bit-identical to the packed regime), broadcast,
    * and every vector folds [[bestCellFold]] per bucket; the per-id argmin
    * is `min(struct(d, cid))`. When `q` is hash-partitioned on `idCol`
    * (see [[fitDF]]) the argmin aggregate reuses that partitioning — the
    * corpus crosses the network ZERO times per iteration.
    *
    * Output: (idCol, qv, cluster, cdist) — the [[assign]] columns.
    */
  def assignDF(q: DataFrame, idCol: String, cen: DataFrame,
               bucketSize: Int = ASSIGN_BUCKET): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(q.sparkSession)
    val buckets = cen
      .groupBy(expr(s"cid div $bucketSize").as("bk"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("n2"))))
        .as("cells"))
      .select(col("cells"))
    q.withColumn("n2q", graft.functions.vec_dot_long(col("qv"), col("qv")))
      .crossJoin(broadcast(buckets))
      .withColumn("best", expr(bestCellFold))
      .groupBy(col(idCol))
      .agg(min(struct(col("best.d").as("d"), col("best.id").as("id"))).as("bst"),
        first(col("qv")).as("qv")) // every bucket copy carries the same qv
      .select(col(idCol), col("qv"),
        col("bst.id").as("cluster"), col("bst.d").as("cdist"))
  }

  /** Coarse-ROUTED assignment — the regime PAST even the distributed
    * regime's reach, where k·d is too big to broadcast at all (the
    * [[assignDF]] bucket rows still materialize k·d longs on every task):
    * the fine-centroid table is NEVER broadcast. Classic two-level IVF:
    *
    *   1. a coarse table of every `coarseEvery`-th fine centroid
    *      (deterministic; at production scale a k-means over the centroid
    *      table — ANY coarse set works, it only moves routing recall),
    *      k/coarseEvery · d longs — the √k-sized thing that CAN ride the
    *      plan as a [[cellsLiteral]];
    *   2. every fine centroid routes (exactly, literal fold) to its
    *      nearest coarse cell; every vector routes to its `nProbe` nearest
    *      coarse cells (multi-probe, same fold keeping a top-n array);
    *   3. vectors ⋈ fine centroids as a SHUFFLE-HASH EQUI-JOIN on the
    *      coarse cell id, argmin per vector — the corpus shuffles once
    *      (×nProbe), the centroid table shuffles once, and no task ever
    *      holds more than its coarse cells' centroids.
    *
    * APPROXIMATE by construction: a vector finds its true nearest fine
    * centroid iff that centroid lives in one of its nProbe coarse cells —
    * on well-separated clusterings routing is exact (spec-pinned
    * bit-identical to [[assignDF]] at nProbe = 1); on adversarial
    * geometry recall rises with nProbe and reaches 1 when nProbe covers
    * all coarse cells (spec-pinned monotone). This is the honest trade at
    * the k where exact assignment stops fitting: exactness itself is what
    * you pay with (same doctrine as [[Ann.buildIndex]]'s IVF).
    *
    * Output: (idCol, qv, cluster, cdist) — the [[assign]] columns.
    */
  def assignCoarseDF(q: DataFrame, idCol: String, cen: DataFrame,
                     coarseEvery: Int, nProbe: Int = 2): DataFrame = {
    val coarse = coarseOf(cen, coarseEvery)
    argminOverProbed(probeCoarse(q, idCol, coarse, nProbe), idCol,
      routeCentroids(cen, coarse))
  }

  /** The coarse table as driver-side [[Centroids]]: every `coarseEvery`-th
    * fine centroid, densely re-numbered. Bounded by construction — it
    * exists precisely to be the √k-sized thing that CAN live in a plan
    * literal (the [[cellsLiteral]] shape both the batch and streaming
    * probe share).
    */
  def coarseOf(cen: DataFrame, coarseEvery: Int): Centroids = {
    require(coarseEvery >= 1, s"coarseEvery must be >= 1: $coarseEvery")
    cen.filter(col("cid") % coarseEvery === 0)
      .select(expr(s"cid div $coarseEvery").as("ccid"), col("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq
  }

  /** Exact fine→coarse routing: each fine centroid tagged with its nearest
    * coarse cell (both sides in CENTROID units → scale factor 1 in the
    * squared-distance expansion; ties to the lowest cell, the
    * [[bestCellFold]] rule). Output (cid, cv, n2, ccid) — built ONCE, read
    * per assign (and per micro-batch on the streaming path).
    */
  def routeCentroids(cen: DataFrame, coarse: Centroids): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(cen.sparkSession)
    val cenDist = "n2q + c.n2 - CAST(2 AS BIGINT) * vec_dot_long(qv, c.cv)"
    val cenFold =
      s"""aggregate(cells,
         |  struct(CAST(-1 AS BIGINT) AS id, CAST(${Long.MaxValue} AS BIGINT) AS d),
         |  (acc, c) -> CASE WHEN $cenDist < acc.d
         |                   THEN struct(c.cid AS id, $cenDist AS d)
         |                   ELSE acc END)""".stripMargin
    cen
      .withColumn("qv", col("cv"))
      .withColumn("n2q", col("n2"))
      .withColumn("cells", cellsLiteral(coarse))
      .withColumn("ccid", expr(cenFold).getField("id"))
      .select(col("cid"), col("cv"), col("n2"), col("ccid"))
  }

  /** Vector→coarse multi-probe: each row tagged with its `nProbe` nearest
    * coarse cells (vector-side CENTROID_SCALE distance, (d, cell)
    * tie-break, kept as a sorted bounded array then exploded). Map-side
    * over a √k-sized literal — works identically on a streaming frame.
    * Output: (idCol, qv, n2q, ccid) × nProbe rows per input.
    */
  def probeCoarse(q: DataFrame, idCol: String, coarse: Centroids,
                  nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    org.apache.spark.sql.graft.GraftFunctions.register(q.sparkSession)
    val probeFold =
      s"""slice(array_sort(transform(cells,
         |  c -> struct(($DIST) AS d, c.cid AS cid))), 1, $nProbe)""".stripMargin
    // explode_outer, deliberately (r21): plain explode makes
    // InferFiltersFromGenerate prepend `size(probe) > 0 AND isnotnull(probe)`
    // and predicate pushdown then inlines the ENTIRE probe fold — with `qv`
    // re-derived as transform(embedding) inside every distance term — into
    // the scan filter: the probe ran twice per row and the quantization
    // O(nCoarse·d) times (read from the executed plan; the measured 1.5 s
    // single-task stage at sf0.1). The probe array is never empty (a slice
    // of the non-empty coarse literal) and a null qv yields null ccid rows
    // the inner equi-join downstream drops exactly like explode did — so
    // outer-generate semantics are result-identical and the inferred-filter
    // duplication is gone.
    q.withColumn("n2q", graft.functions.vec_dot_long(col("qv"), col("qv")))
      .withColumn("cells", cellsLiteral(coarse))
      .withColumn("probe", expr(probeFold))
      .select(col(idCol), col("qv"), col("n2q"), explode_outer(col("probe.cid")).as("ccid"))
  }

  /** The shuffle-hash centroid join + per-id argmin over probed rows —
    * the stage where the fine table is touched WITHOUT ever broadcasting.
    * Each coarse cell's fine centroids pack into ONE sorted (ccid, cells)
    * row (cell-bounded — ~k/coarseEvery · d longs, the per-task footprint
    * the whole route exists to bound), the equi-join on the coarse cell
    * id streams each probe row ONCE, and [[bestCellFold]] folds the
    * cell's centroids in place — no |probes|×|cell| row materialization
    * with the d-long vector replicated per candidate (the unpacked join
    * measured ~3× slower wall at the bench shape from exactly that
    * blowup). Per-cell fold then `min(struct(d, cid))` across the nProbe
    * winners — ties to the lower centroid, bit-identical to a flat
    * argmin over all candidates (the [[assignDF]] rule; spec-pinned).
    */
  def argminOverProbed(probed: DataFrame, idCol: String,
                       routedCen: DataFrame): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(probed.sparkSession)
    val packedCells = routedCen
      .groupBy(col("ccid"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("n2"))))
        .as("cells"))
    probed.hint("shuffle_hash").join(packedCells, Seq("ccid"))
      .withColumn("best", expr(bestCellFold))
      .groupBy(col(idCol))
      .agg(min(struct(col("best.d").as("d"), col("best.id").as("id"))).as("bst"),
        first(col("qv")).as("qv"))
      .select(col(idCol), col("qv"),
        col("bst.id").as("cluster"), col("bst.d").as("cdist"))
  }

  /** [[lloydUpdate]] with the centroid sums left DISTRIBUTED: one
    * map-side-combined [[graft.sql.VecSumLong]] aggregate (d longs of
    * state per (task, cluster) — NOT a corpus×d posexplode; the packed
    * integer sum is bit-identical to the per-position one), floor-divided
    * as an element-wise transform (exact `Math.floorDiv` semantics:
    * truncated `div` stepped down when the remainder is negative — counts
    * are always positive), and LEFT-joined back to the previous centroids
    * so emptied clusters keep theirs. k-row frames on both join sides;
    * the driver never sees a centroid.
    */
  def lloydUpdateDF(assigned: DataFrame, prev: DataFrame): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(assigned.sparkSession)
    val upd = assigned
      .groupBy(col("cluster"))
      .agg(graft.functions.vec_sum_long(col("qv")).as("sv"), count(lit(1)).as("n"))
      .select(col("cluster"), expr(
        s"""transform(sv, s ->
           |  (s * $CENTROID_SCALE) div n -
           |  (CASE WHEN (s * $CENTROID_SCALE) % n != 0 AND s < 0
           |        THEN 1 ELSE 0 END))""".stripMargin).as("cv2"))
    prev.select(col("cid"), col("cv"))
      .join(upd.hint("shuffle_hash"), col("cid") === col("cluster"), "left")
      .select(col("cid"), coalesce(col("cv2"), col("cv")).as("cv"))
      .withColumn("n2", graft.functions.vec_dot_long(col("cv"), col("cv")))
  }

  /** [[fit]] in the distributed regime: centroids are a (cid, cv, n2)
    * frame throughout, one [[graft.scale.Held.frame]] per iteration (k rows
    * — truncates the nested-broadcast lineage; each iteration's checkpoint
    * releases the previous one, so only the returned frame's stays).
    * Callers pass a corpus ALREADY hash-partitioned on `idCol` (and
    * persisted) so every iteration is exchange-free for the vectors.
    *
    * Above `coarseMaxKd` ([[COARSE_MAX_KD]]) the bucketed-broadcast
    * assignment itself stops fitting the per-task budget, and each
    * iteration routes through [[assignCoarseDF]] instead: coarse table =
    * every √k-th of the PREVIOUS iteration's centroids (re-derived every
    * iteration — routing always reflects the centroids being assigned
    * against), `nProbe` multi-probe. The trade is explicit: assignment
    * within an iteration becomes approximate (Lloyd still descends — a
    * mis-routed vector just joins a near-best cluster for that round) and
    * the corpus shuffles twice per iteration (probe-join + argmin) instead
    * of zero; what is bought is that no task ever holds more than one
    * coarse cell's centroids. At nProbe ≥ ceil(k/coarseEvery) routing
    * recall is 1 and the fit is BIT-IDENTICAL to the exact route
    * (spec-pinned), so the pin is a memory-shape decision exactly like
    * [[PACKED_MAX_KD]] — up to the recall trade documented on
    * [[assignCoarseDF]].
    */
  def fitDF(q: DataFrame, idCol: String, k: Int, iters: Int,
            bucketSize: Int = ASSIGN_BUCKET,
            coarseMaxKd: Long = COARSE_MAX_KD,
            nProbe: Int = 2): DataFrame =
    fitHeld(q, idCol, k, iters, bucketSize, k.toLong * dim(q) > coarseMaxKd, nProbe,
      new Held(q.sparkSession.sparkContext))

  /** The d probe that decides a regime: one bounded row of `qv`. */
  private def dim(q: DataFrame): Int =
    q.select(size(col("qv"))).limit(1).collect().headOption.map(_.getInt(0)).getOrElse(0)

  /** [[fitDF]] with the regime decided, whose centroid checkpoints `held`
    * holds: the returned frame reads the held one until it is released.
    */
  private def fitHeld(q: DataFrame, idCol: String, k: Int, iters: Int, bucketSize: Int,
                      useCoarse: Boolean, nProbe: Int, held: Held): DataFrame = {
    val coarseEvery = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    (1 to iters).foldLeft(held.frame(initCentroidsDF(q, idCol, k))) { (cen, _) =>
      val assigned =
        if (useCoarse) assignCoarseDF(q, idCol, cen, coarseEvery, nProbe)
        else assignDF(q, idCol, cen, bucketSize)
      held.frame(lloydUpdateDF(assigned, cen))
    }
  }

  /** Exact integer dot product of two quantized vectors (native codegen —
    * the pairwise stage's O(within-cluster pairs) loop).
    */
  private def qdot(a: String, b: String): Column =
    graft.functions.vec_dot_long(col(a), col(b))

  /** The hot-cluster guard's split: tag every member with a deterministic
    * `sub` cell (`pmod(xxhash64(id), ceil(size/cap))` — [[Ann.capCellSizes]]'s
    * formula), the split factor coming off the k-row cluster-size aggregate
    * (the [[Ann]] `subBucket` shape: a join, never a driver collect).
    * Clusters at-or-under the cap get n_sub = 1 / sub = 0. Package-visible
    * so the bench can measure guarded pair volume without re-deriving the
    * split.
    */
  private[graft] def hotSplit(m: DataFrame, idCol: String,
                              maxClusterSize: Long): DataFrame = {
    val nsub = m.groupBy(col("cluster")).agg(count(lit(1)).as("cn"))
      .select(col("cluster"), greatest(lit(1L),
        ceil(col("cn") / lit(maxClusterSize.toDouble)).cast("long")).as("n_sub"))
    m.join(nsub.hint("shuffle_hash"), Seq("cluster"))
      .withColumn("sub", pmod(xxhash64(col(idCol)), col("n_sub")))
      .drop("n_sub")
  }

  /** Domination + cosine verdict over candidate pairs carrying
    * (id_a, qa, da, n2a) × (id_b, qb, db, n2b): keeps `id_a` rows dominated
    * by a strictly-more-central (ties to the lower id) near-twin above
    * `tauNum/tauDen` cosine — exact cross-multiplied integer arithmetic,
    * shared by the full within-cluster join and the guard's two passes so
    * the verdict rule can never fork.
    */
  private def dominated(pairs: DataFrame, idCol: String,
                        tauNum: Long, tauDen: Long): DataFrame = {
    val dec = "decimal(19,0)"
    pairs
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("db") < col("da") ||
        (col("db") === col("da") && col("id_b") < col("id_a")))
      .withColumn("dotv", qdot("qa", "qb"))
      .filter(col("dotv") > 0)
      .filter(
        lit(tauDen * tauDen).cast(dec) * col("dotv").cast(dec) * col("dotv").cast(dec) >
          lit(tauNum * tauNum).cast(dec) * col("n2a").cast(dec) * col("n2b").cast(dec))
      .select(col("id_a").as(idCol))
  }

  /** The full operator: quantize → k-means (`iters` Lloyd iterations) →
    * within-cluster domination dedup. A vector is a duplicate iff some
    * OTHER member of its cluster (a) has cosine similarity strictly above
    * `tauNum/tauDen` with it and (b) is closer to the centroid (ties to the
    * lower id) — so every dup group keeps exactly its most central member,
    * the decision is order-independent, and survivors = `NOT is_dup`.
    *
    * `packedMaxKd` picks the k-means regime (packed-broadcast vs
    * distributed centroids — see the object doc); the two are bit-identical
    * (spec-pinned), so the pin is purely a memory-shape decision.
    *
    * `maxClusterSize > 0` arms the HOT-CLUSTER GUARD on the pairwise
    * stage, whose unguarded join is O(Σ cluster²) — one degenerate
    * mega-cluster (near-duplicate-saturated corpora are SemDeDup's target
    * deployment) turns it quadratic. Guarded, clusters above the cap split
    * into `ceil(size/cap)` deterministic sub-cells ([[Ann.capCellSizes]]'s
    * split) and domination runs (a) within sub-cell — pair volume bounded
    * by ~size·cap per cluster — plus (b) a CHAMPION SEAM PASS: every
    * member is also judged against its cluster's single most-central
    * member (a partial-aggregable struct-min, one row per cluster), which
    * recovers the dominant mega-cluster failure mode (one near-identical
    * blob whose champion dominates everyone) without quadratic work.
    * Missed, documented: a dominator that is neither in the member's
    * sub-cell nor the cluster champion — the [[Ann.capCellSizes]] recall
    * trade-off verbatim. Clusters at-or-under the cap get n_sub = 1, where
    * the guarded result is BIT-IDENTICAL to unguarded (sub-cell pass = the
    * full join; the seam pass adds only already-generated pairs before the
    * distinct) — spec-pinned, so arming the guard with an honest cap never
    * changes verdicts on healthy clusterings.
    *
    * Output: (idCol, cluster, is_dup) — one row per vector.
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, tauNum: Long, tauDen: Long,
               packedMaxKd: Long = PACKED_MAX_KD,
               maxClusterSize: Long = 0L,
               coarseMaxKd: Long = COARSE_MAX_KD): DataFrame = {
    val q0 = quantize(vectors, vecCol).select(col(idCol), col("qv"))
    val d = dim(q0) // for the k·d regime pin
    val held = new Held(vectors.sparkSession.sparkContext)
    val (assigned, qPinned) =
      if (k.toLong * d <= packedMaxKd) {
        (assign(q0, fit(q0, idCol, k, iters)), None)
      } else {
        // the corpus' ONLY shuffle of the whole fit: hash-partition on id
        // once, reused exchange-free by every iteration's argmin aggregate
        // (exact route; the coarse route past coarseMaxKd shuffles per
        // iteration — the documented memory-vs-exchange trade)
        val qP = q0.repartition(col(idCol)).persist()
        val coarse = k.toLong * d > coarseMaxKd
        val cen = fitHeld(qP, idCol, k, iters, ASSIGN_BUCKET, coarse, 2, held)
        // final assignment rides the same regime the fit did: past the
        // coarse pin, assignDF's bucket rows would re-materialize the
        // very k·d the fit just refused to
        val a =
          if (coarse)
            assignCoarseDF(qP, idCol, cen,
              math.max(1, math.round(math.sqrt(k.toDouble)).toInt))
          else assignDF(qP, idCol, cen)
        (a, Some(qP))
      }
    val m = assigned
      .withColumn("n2", qdot("qv", "qv"))
      .select(col(idCol), col("qv"), col("cluster"), col("cdist"), col("n2"))
      .persist()
    qPinned.foreach { qP => m.count(); qP.unpersist(false); held.release() }
    val dups =
      if (maxClusterSize <= 0L) {
        val a = m.select(col(idCol).as("id_a"), col("qv").as("qa"),
          col("cluster"), col("cdist").as("da"), col("n2").as("n2a"))
        val b = m.select(col(idCol).as("id_b"), col("qv").as("qb"),
          col("cluster"), col("cdist").as("db"), col("n2").as("n2b"))
        dominated(a.hint("shuffle_hash").join(b, Seq("cluster")),
          idCol, tauNum, tauDen).distinct()
      } else {
        val g = hotSplit(m, idCol, maxClusterSize)
        val a = g.select(col(idCol).as("id_a"), col("qv").as("qa"),
          col("cluster"), col("sub"), col("cdist").as("da"), col("n2").as("n2a"))
        val b = g.select(col(idCol).as("id_b"), col("qv").as("qb"),
          col("cluster"), col("sub"), col("cdist").as("db"), col("n2").as("n2b"))
        val within = a.hint("shuffle_hash").join(b, Seq("cluster", "sub"))
        // (cdist, id) is unique per member, so the struct-min never
        // compares the trailing payload fields — deterministic champion
        val champ = m.groupBy(col("cluster"))
          .agg(min(struct(col("cdist").as("db"), col(idCol).as("id_b"),
            col("qv").as("qb"), col("n2").as("n2b"))).as("ch"))
          .select(col("cluster"), col("ch.id_b").as("id_b"), col("ch.qb").as("qb"),
            col("ch.db").as("db"), col("ch.n2b").as("n2b"))
        val seam = m.select(col(idCol).as("id_a"), col("qv").as("qa"),
            col("cluster"), col("cdist").as("da"), col("n2").as("n2a"))
          .hint("shuffle_hash").join(champ, Seq("cluster"))
        dominated(within, idCol, tauNum, tauDen)
          .union(dominated(seam, idCol, tauNum, tauDen))
          .distinct()
      }
    m.select(col(idCol), col("cluster"))
      .join(dups.withColumn("is_dup", lit(true)).hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
  }
}
