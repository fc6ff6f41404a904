package graft.llm

import graft.scale.Salt
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor over an embedding column
  * — the scale path next to the brute-force oracle (q29).
  *
  * Shape at 100 TB: centroids are a tiny broadcast table; cell assignment is
  * a map-side broadcast join + argmax (no shuffle of the corpus beyond its
  * one-time cell tag); a query probes only its `nProbes` nearest cells, so
  * the ranking shuffle carries ~nProbes/nCells of the corpus instead of
  * corpus × queries. Centroid choice here is deterministic (first-k vectors)
  * — recall depends on centroid quality, correctness of the plumbing does
  * not, and the driver oracle replicates the exact same algorithm.
  */
object Ann {

  // native codegen dot product (graft.sql.VecDot) — accepts float32 or
  // float64 arrays, double accumulation, same value as the HOF formulation
  private def dot(a: String, b: String): Column =
    graft.functions.vec_dot(col(a), col(b))

  /** IVF cell count for a corpus of `n` vectors: k ≈ √n (the standard IVF
    * sizing — keeps both the centroid broadcast (k) and the expected cell
    * size (n/k ≈ √n) sub-linear; a FIXED k makes within-cell work O(n²/k),
    * quadratic again at scale).
    */
  def autoCellCount(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Build a production IVF index: k-means with k ≈ √n unless overridden.
    * Returns (centroids, cell-tagged corpus). One `count()` job to size k —
    * fine for an index build.
    */
  def buildIndex(vectors: DataFrame, k: Int = 0, seed: Long = 42L): (DataFrame, DataFrame) = {
    val kk = if (k > 0) k else autoCellCount(vectors.count())
    val centroids = trainCentroids(vectors, kk, seed)
    (centroids, assignCells(vectors, centroids))
  }

  /** Hot-cell guard: split cells larger than `maxCellSize` into deterministic
    * sub-cells (`sub_id` = hash(vec_id) mod ceil(size/max)), so any
    * within-cell O(|cell|²) work is bounded by ~maxCellSize² per sub-cell
    * regardless of skew (one mega-cluster cannot produce an unbounded pair
    * join). The sizing and salt are the shared hot-key salt's
    * ([[graft.scale.Salt]]), but not its replicating join: pairs BETWEEN
    * sub-cells of a split cell are not generated. That is a recall trade,
    * documented: on a skewed corpus it bounds cost at a recall loss inside
    * mega-clusters (re-cluster hot cells with more centroids to recover it).
    */
  def capCellSizes(corpus: DataFrame, maxCellSize: Long): DataFrame =
    subBucket(corpus, Salt.rows(maxCellSize))

  /** [[capCellSizes]] with a RELATIVE cap: cells above `skewFactor` × the
    * mean cell size split. Needs no absolute threshold — the mean comes from
    * the same tiny cell-size aggregate, as a scalar subquery (no driver
    * collect).
    */
  def capCellSkew(corpus: DataFrame, skewFactor: Double = 4.0): DataFrame = {
    require(skewFactor > 0, "skewFactor must be positive")
    subBucket(corpus, sizes => sizes.agg(avg(col("bn"))).scalar() * lit(skewFactor))
  }

  private def subBucket(corpus: DataFrame, target: Salt.Target): DataFrame =
    Salt.salt(corpus, Seq("cell_id"), col("vec_id"), target)
      .withColumnRenamed("salt", "sub_id").drop("n_sub")

  /** Within-cell near-duplicate candidate pairs with the hot-cell guard
    * applied: pair volume is bounded by ~n·maxCellSize/2 total instead of
    * O(Σ|cell|²) (which one skewed cell turns quadratic).
    * Input: (vec_id, v, norm, cell_id). Output: (id_a, id_b, cosine).
    */
  def nearDupPairs(corpus: DataFrame, maxCellSize: Long): DataFrame =
    pairsOf(capCellSizes(corpus, maxCellSize))

  /** [[nearDupPairs]] with the relative (skew-factor) guard — no absolute
    * threshold or extra count job needed.
    */
  def nearDupPairsBySkew(corpus: DataFrame, skewFactor: Double = 4.0): DataFrame =
    pairsOf(capCellSkew(corpus, skewFactor))

  private def pairsOf(guarded: DataFrame): DataFrame = {
    val a = guarded.select(col("cell_id"), col("sub_id"), col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = guarded.select(col("cell_id"), col("sub_id"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("cell_id", "sub_id")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot("va", "vb") / (col("na") * col("nb")), 4).as("cosine"))
  }

  /** Train `k` real centroids with MLlib k-means (deterministic seed) and
    * return them in the (cell_id, cv, cnorm) shape [[assignCells]] expects.
    * The q34 oracle path uses fixed first-k vectors instead (an oracle must
    * be engine-replicable); production index builds use this.
    */
  def trainCentroids(vectors: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    val spark = vectors.sparkSession
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val assembled = vectors
      .select(array_to_vector(col("v").cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(20).fit(assembled)
    val rows = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.toSeq)
    }
    import spark.implicits._
    rows.toSeq.toDF("cell_id", "cv")
      .withColumn("cnorm", sqrt(dot("cv", "cv")))
  }

  /** Tag every vector with its nearest centroid id (cosine, ties to the
    * lowest centroid id). `centroids` must be small (broadcast).
    *
    * Entirely MAP-SIDE: all centroids are packed into one broadcast array
    * row and the argmax runs as a single `aggregate` expression per corpus
    * row — the corpus is never shuffled for assignment (a window/groupBy
    * formulation would hash-partition the full corpus by vec_id first).
    */
  def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    // the argmax fold references vec_dot by name inside a lambda — make sure
    // the native expression is visible to this session's SQL parser
    org.apache.spark.sql.graft.GraftFunctions.register(vectors.sparkSession)
    // one row: sorted array of (cell_id, cv, cnorm); sort => ties resolve to
    // the lowest cell_id (strict > keeps the earliest best)
    val packed = centroids
      .agg(sort_array(collect_list(struct(col("cell_id"), col("cv"), col("cnorm"))))
        .as("cells"))
    val score = "vec_dot(v, c.cv) / (norm * c.cnorm)"
    vectors.crossJoin(broadcast(packed))
      .withColumn("cell_id", expr(
        s"""aggregate(cells,
           |  struct(cast(-1 AS bigint) AS id, cast('-Infinity' AS double) AS sc),
           |  (acc, c) -> CASE WHEN $score > acc.sc
           |                   THEN struct(c.cell_id AS id, $score AS sc)
           |                   ELSE acc END).id""".stripMargin))
      .drop("cells")
  }

  /** Per query: its `nProbes` nearest cells. */
  def probeCells(queries: DataFrame, centroids: DataFrame, nProbes: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(centroids))
      .withColumn("cell_score", dot("qv", "cv") / (col("qn") * col("cnorm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cell_score").desc, col("cell_id"))
    scored.withColumn("probe_rank", row_number().over(w))
      .filter(col("probe_rank") <= nProbes)
      .select(col("q_id"), col("cell_id"))
  }

  /** Top-k cosine neighbors per query, searching only probed cells.
    *
    * @param corpus  (vec_id, v: array<double>, norm, cell_id) — pre-assigned
    * @param queries (q_id, qv, qn) — small, broadcast
    */
  def search(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             nProbes: Int, k: Int): DataFrame = {
    val probes = probeCells(queries, centroids, nProbes)
    // queries ⨝ probes is tiny — broadcast it; the corpus only flows where
    // its cell is probed (the IVF pruning).
    val probedQueries = queries.join(probes, "q_id")
    val scored = corpus.join(broadcast(probedQueries), "cell_id")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round(dot("qv", "v") / (col("qn") * col("norm")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
  }

  // -------------------------------------------------------------------
  // Random-hyperplane LSH — the bucketed ANN alternative to IVF
  // -------------------------------------------------------------------

  /** Tag vectors with an n-bit random-hyperplane signature: bit j =
    * [dot(v, plane_j) > 0] (the SimHash construction over real vectors).
    * The planes ARE the index definition — a handful of driver-held
    * vectors, the same class as IVF's broadcast centroid table — so
    * tagging is a PURE MAP-SIDE projection over native `vec_dot`: the
    * corpus never shuffles to acquire its signature, at any scale.
    */
  def lshTag(vectors: DataFrame, vecCol: String, sigCol: String,
             planes: Seq[Array[Float]]): DataFrame = {
    require(planes.size <= 63,
      s"${planes.size} planes exceed one long signature (1L << j wraps at 64); " +
        "split into multiple signature columns for wider codes")
    val sig = planes.zipWithIndex.map { case (p, j) =>
      when(graft.functions.vec_dot(col(vecCol), typedLit(p.toSeq)) > 0d,
        lit(1L << j)).otherwise(lit(0L))
    }.reduceOption(_ + _).getOrElse(lit(0L))
    vectors.withColumn(sigCol, sig)
  }

  /** Banded LSH top-k search: candidates are corpus vectors sharing at
    * least one of the `nBits / bandBits` signature bands with a query;
    * only candidates are ranked by exact cosine. `bandBits = 0` degrades
    * to one universal bucket — exact brute force — which anchors the spec
    * to the q29 oracle. At 100 TB the shape matches MinHash-LSH (q26):
    * band keys are a few bytes, the band join shuffles ids only, and the
    * exact-rank join touches candidates, never corpus × queries.
    *
    * @param corpus  (vec_id, v, norm, sig)  — tagged by [[lshTag]]
    * @param queries (q_id, qv, qn, qsig)    — small, broadcast
    */
  /** Product quantization (Jégou, Douze, Schmid — "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): split each vector into `m`
    * subspaces, quantize every subvector to its nearest sub-codebook
    * centroid, and search with asymmetric distance computation (ADC) — the
    * query's exact per-(subspace, centroid) distance table is built once
    * (m x k doubles per query), then every corpus vector's distance is m
    * table lookups over its CODES. This is the memory path of billion-scale
    * ANN: a 64-dim float32 vector (256 B) compresses to m=8 single-byte
    * codes, so the search scan reads 32x fewer bytes and never touches the
    * raw embeddings. Compose with IVF cells ([[assignCells]]) for IVFADC.
    *
    * Arithmetic is deliberately a LEFT FOLD of (x-y)^2 in double on both
    * the encode and ADC sides — the same sequential order the DuckDB
    * oracle's `list_reduce` computes, so code assignment (an exact-compare
    * argmin) is engine-independent.
    */
  def pqSubspaces(vectors: DataFrame, idCol: String, m: Int, subDim: Int): DataFrame =
    vectors.select(col(idCol),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), mi -> transform(slice(v, mi * $subDim + 1, $subDim), x -> CAST(x AS DOUBLE)))"))
        .as(Seq("m", "sub")))

  private val subD2 =
    expr("aggregate(zip_with(sub, csub, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")

  /** PQ encode: (id, codes array<int> ordered by subspace). `vectors` and
    * `centroids` need columns (idCol, v) / (k, v) with `v` float or double
    * arrays; the codebook (k x m subvectors) broadcasts, the corpus only
    * shuffles its codes.
    */
  def pqEncode(vectors: DataFrame, idCol: String, centroids: DataFrame,
               m: Int = 8, subDim: Int = 8): DataFrame = {
    val cs = pqSubspaces(centroids, "k", m, subDim).withColumnRenamed("sub", "csub")
    pqSubspaces(vectors, idCol, m, subDim)
      .join(broadcast(cs), Seq("m"))
      .withColumn("d2", subD2)
      .groupBy(col(idCol), col("m"))
      // argmin with deterministic tie-break: lexicographic min of (d2, k)
      .agg(min(struct(col("d2"), col("k"))).as("best"))
      .select(col(idCol), col("m"), col("best.k").as("code"))
      .groupBy(col(idCol))
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), s -> s.code)")
        .as("codes"))
  }

  /** Per-query ADC distance tables: (qIdCol, dists array<array<double>>
    * indexed [m][k]) — the asymmetric half of PQ search, built once per
    * query against the broadcast codebook.
    */
  private def pqDistTables(queries: DataFrame, qIdCol: String, centroids: DataFrame,
                           m: Int, subDim: Int): DataFrame = {
    val cs = pqSubspaces(centroids, "k", m, subDim).withColumnRenamed("sub", "csub")
    pqSubspaces(queries, qIdCol, m, subDim)
      .join(broadcast(cs), Seq("m"))
      .withColumn("d2", subD2)
      .groupBy(col(qIdCol), col("m"))
      .agg(expr("transform(array_sort(collect_list(struct(k, d2))), s -> s.d2)").as("dk"))
      .groupBy(col(qIdCol))
      .agg(expr("transform(array_sort(collect_list(struct(m, dk))), s -> s.dk)").as("dists"))
  }

  private def adcFold(m: Int) =
    expr(s"aggregate(sequence(0, ${m - 1}), 0D, (a, mi) -> a + dists[mi][codes[mi]])")

  /** Train per-subspace PQ codebooks with k-means — the PRODUCTION
    * codebook path (q51's fixed corpus-vector codebook exists so the
    * DuckDB oracle can replicate the assignment; a trained codebook cuts
    * quantization distortion, which is what PQ recall lives on). Each of
    * the `m` subspaces gets its own independent k-means fit; the result is
    * assembled as `k` FULL-width rows (subspace mi of row ki = centroid ki
    * of codebook mi), which is exactly the shape [[pqEncode]]/[[pqSearch]]
    * slice back apart — PQ's product structure is what makes the
    * concatenated storage lossless.
    *
    * Spec contract (LlmSpec): trained codebooks achieve mean reconstruction
    * (self-ADC) distortion <= the fixed corpus-vector codebook's on the
    * same corpus.
    */
  def pqTrainCodebooks(vectors: DataFrame, k: Int = 8, m: Int = 8, subDim: Int = 8,
                       seed: Long = 42L): DataFrame = {
    val spark = vectors.sparkSession
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val perSub: Seq[Array[Array[Double]]] = (0 until m).map { mi =>
      val sub = vectors.select(expr(
        s"transform(slice(v, ${mi * subDim + 1}, $subDim), x -> CAST(x AS DOUBLE))").as("arr"))
        .select(array_to_vector(col("arr")).as("features"))
      new KMeans().setK(k).setSeed(seed + mi).setMaxIter(20).fit(sub)
        .clusterCenters.map(_.toArray)
    }
    val rows = (0 until k).map { ki =>
      (ki, (0 until m).flatMap(mi => perSub(mi)(ki).toSeq))
    }
    import spark.implicits._
    rows.toDF("k", "v")
  }

  /** ADC top-k: every query's m x k distance table rides one broadcast;
    * corpus-side work is a fold of m array lookups per vector. Output:
    * (q_id, vec_id, rn, adc) — rn the 1-based rank by (adc, vec_id).
    *
    * @param excludeSelf drop rows where the ranked vector IS the query
    *                    (matching [[search]]'s IVF behavior — relevant when
    *                    queries are drawn from the corpus); default keeps
    *                    them, so a corpus query's rank-1 is itself at adc 0
    */
  def pqSearch(codes: DataFrame, queries: DataFrame, qIdCol: String,
               centroids: DataFrame, topK: Int,
               m: Int = 8, subDim: Int = 8,
               excludeSelf: Boolean = false): DataFrame = {
    val qarr = pqDistTables(queries, qIdCol, centroids, m, subDim)
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("adc"), col("vec_id"))
    val joined = codes.crossJoin(broadcast(qarr))
    val kept = if (excludeSelf) joined.filter(col("id") =!= col(qIdCol)) else joined
    kept
      .withColumn("adc", adcFold(m))
      .select(col(qIdCol), col("id").as("vec_id"), col("adc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
  }

  /** IVFADC (ibid. §V): IVF cell pruning composed with PQ ADC ranking —
    * the standard billion-scale layout. Corpus search state is inverted
    * lists of (id, cell_id, codes): a cell tag plus m small ints per
    * vector; the raw embeddings are needed only at index-build time. A
    * query probes its `nProbes` nearest cells (cosine, the same
    * [[probeCells]] as plain IVF) and ADC-ranks ONLY vectors whose cell is
    * probed — so scan bytes shrink by the PQ compression AND scan rows by
    * the probe fraction.
    *
    * @param corpus  (id, cell_id, codes) — [[pqEncode]] output joined with
    *                its [[assignCells]] tag
    * @param queries (qIdCol, v float/double array, qv/qn for probing built
    *                internally)
    */
  def ivfAdcSearch(corpus: DataFrame, queries: DataFrame, qIdCol: String,
                   cellCentroids: DataFrame, pqCentroids: DataFrame,
                   nProbes: Int, topK: Int,
                   m: Int = 8, subDim: Int = 8,
                   excludeSelf: Boolean = false): DataFrame = {
    val q2 = queries.select(col(qIdCol).as("q_id"),
        expr("transform(v, x -> CAST(x AS DOUBLE))").as("qv"))
      .withColumn("qn", sqrt(dot("qv", "qv")))
    val probes = probeCells(q2, cellCentroids, nProbes) // (q_id, cell_id)
    val qarr = pqDistTables(queries, qIdCol, pqCentroids, m, subDim)
      .withColumnRenamed(qIdCol, "q_id")
    val probedQ = qarr.join(probes, Seq("q_id")) // nQueries x nProbes rows
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("adc"), col("vec_id"))
    val joined = corpus.join(broadcast(probedQ), Seq("cell_id"))
    val kept = if (excludeSelf) joined.filter(col("id") =!= col("q_id")) else joined
    kept
      .withColumn("adc", adcFold(m))
      .select(col("q_id").as(qIdCol), col("id").as("vec_id"), col("adc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
  }

  def lshSearch(corpus: DataFrame, queries: DataFrame,
                nBits: Int, bandBits: Int, k: Int): DataFrame = {
    // ceil so EVERY signature bit lands in a band (nBits=8, bandBits=3 →
    // bands at bits 0-2, 3-5, 6-7): a floor here would silently drop the
    // high bits from banding and degrade recall with no signal. The last
    // band may be narrower; the shift+mask below handles that for free
    // (bits past nBits are always zero).
    val nBands = if (bandBits <= 0) 1
    else math.max(1, math.ceil(nBits.toDouble / bandBits).toInt)
    def bands(sigc: Column): Column = array((0 until nBands).map { b =>
      val key = if (bandBits <= 0) lit(0L)
      else shiftright(sigc, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
      struct(lit(b).as("band_id"), key.as("band_key"))
    }: _*)
    val cb = corpus
      .select(col("vec_id"), explode(bands(col("sig"))).as("b"))
      .select(col("vec_id"), col("b.band_id"), col("b.band_key"))
    val qb = queries
      .select(col("q_id"), explode(bands(col("qsig"))).as("b"))
      .select(col("q_id"), col("b.band_id"), col("b.band_key"))
    val cand = cb.join(broadcast(qb),
        cb("band_id") === qb("band_id") && cb("band_key") === qb("band_key") &&
          cb("vec_id") =!= qb("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val scored = cand
      .join(corpus.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("qv"), col("qn"))), "q_id")
      .withColumn("cosine", round(dot("qv", "v") / (col("qn") * col("norm")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
  }
}
