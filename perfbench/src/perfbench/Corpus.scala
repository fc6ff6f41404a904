package perfbench

import graft.llm.Dedup
import graft.queries.{CorpusQ, SimQ}
import graft.scale.{PageRank, PrefixSum}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

import scala.collection.mutable

/** A seeded corpus with planted structure:
  *  - exact duplicates: verbatim copies of base docs under larger ids;
  *  - near-duplicate clusters: a base doc plus variants that prepend 1..3
  *    words, so every 20-token paragraph shifts and survives paragraph
  *    dedup while the word-bigram sets stay ≥ 0.97 Jaccard;
  *  - repeated paragraphs: chunk-aligned boilerplate opening a quarter of
  *    the base docs;
  *  - low-quality docs made of three repeated words;
  *  - Zipf-skewed domain sizes;
  *  - an inter-doc link graph in which a share of the docs are dangling.
  */
final class CorpusGen(seed: Long) {
  import CorpusBuild._

  val docs = mutable.ArrayBuffer.empty[(Long, String, String)]
  val links = mutable.ArrayBuffer.empty[(Long, Long)]
  val exactDupIds = mutable.ArrayBuffer.empty[Long]
  val clusters = mutable.ArrayBuffer.empty[Seq[Long]]

  private val rnd = new java.util.Random(seed * 1000003L + 11)
  private def word(): String = Words.bank(rnd.nextInt(Words.bank.length))
  private val boiler = Seq.fill(8)(Seq.fill(20)(word()).mkString(" "))
  private val zipf: Array[Double] = {
    val w = (1 to Domains).map(r => 1.0 / r)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def domain(): String = {
    val u = rnd.nextDouble()
    val i = zipf.indexWhere(_ >= u)
    s"site${if (i < 0) Domains - 1 else i}.example"
  }

  private val kind = Array.fill(BaseDocs) {
    val u = rnd.nextDouble()
    if (u < 0.05) 'l' else if (u < 0.30) 'b' else 'n' // low quality, boilerplate, normal
  }
  for (i <- 0 until BaseDocs) {
    val len = 80 + rnd.nextInt(121)
    val text = kind(i) match {
      case 'l' => val ws = Seq.fill(3)(word()); Seq.fill(len)(ws(rnd.nextInt(3))).mkString(" ")
      case 'b' => boiler(rnd.nextInt(boiler.size)) + " " + Seq.fill(len - 20)(word()).mkString(" ")
      case _   => Seq.fill(len)(word()).mkString(" ")
    }
    docs += ((i.toLong, text, domain()))
  }
  private var next = BaseDocs.toLong
  private val normal = (0 until BaseDocs).filter(kind(_) == 'n').toArray
  // cluster bases and exact-dup sources are disjoint sets of normal docs
  private val picks = {
    val a = normal.clone()
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  for (c <- 0 until Clusters) {
    val b = picks(c)
    val size = 2 + rnd.nextInt(3)
    val members = (1 until size).map { shift =>
      val id = next; next += 1
      docs += ((id, (Seq.fill(shift)(word()) :+ docs(b)._2).mkString(" "), domain()))
      id
    }
    clusters += (b.toLong +: members)
  }
  for (e <- 0 until ExactDups) {
    val src = picks(Clusters + e % (picks.length - Clusters))
    exactDupIds += next
    docs += ((next, docs(src)._2, domain()))
    next += 1
  }
  for ((id, _, _) <- docs) {
    if (rnd.nextDouble() >= DanglingShare)
      (1 to 1 + rnd.nextInt(6)).foreach(_ => links += ((id, rnd.nextInt(docs.size).toLong)))
  }
  links.filterInPlace { case (a, b) => a != b }

  def tokens: Long = docs.iterator.map(_._2.count(_ == ' ') + 1L).sum
}

/** The corpus build as the ROADMAP orders it: exact dedup → paragraph
  * dedup → quality → near-dup pairs → connected components → domain cap →
  * PageRank → token budget, composed from the engine's public operators.
  * The survivor frames with two consumers are checkpointed, as a user
  * would; a traced repetition also materializes every stage boundary so
  * each stage gets its own time. The checks read the near-dup pairs, the
  * components and the quality survivors back after the timed run.
  */
final class CorpusInstance(spark: SparkSession, seed: Long, dir: Path) extends Instance {
  import CorpusBuild._

  private val gen = new CorpusGen(seed)
  private val docsPath = dir.resolve("docs.parquet").toString
  private val linksPath = dir.resolve("links.parquet").toString
  locally {
    import spark.implicits._
    gen.docs.toSeq.toDF("doc_id", "text", "source").repartition(4).write.parquet(docsPath)
    gen.links.toSeq.toDF("src", "dst").repartition(4).write.parquet(linksPath)
  }

  private var out: Array[Row] = Array.empty
  private var digest0: Option[String] = None
  private val stageS = mutable.LinkedHashMap.empty[String, Double]
  private val stageWindow = mutable.Map.empty[String, (Long, Long)]
  private var pairs = 0L
  private var prIters = 0
  // frames of the repetition just run, read back by the untimed checks
  private var nearDupDf: DataFrame = _
  private var compsDf: DataFrame = _
  private var survivorsDf: DataFrame = _
  private var traced = false

  override def items: Long = gen.docs.size
  override def itemName: String = "docs"

  override def inputs: Map[String, Any] = Map(
    "docs" -> gen.docs.size, "tokens" -> gen.tokens, "base_docs" -> BaseDocs,
    "exact_dups" -> gen.exactDupIds.size, "near_dup_clusters" -> gen.clusters.size,
    "near_dup_members" -> gen.clusters.map(_.size).sum,
    "boilerplate_share" -> 0.25, "low_quality_share" -> 0.05, "domains" -> Domains,
    "domain_sizes" -> "Zipf s=1", "domain_cap" -> Cap, "links" -> gen.links.size,
    "dangling_share" -> DanglingShare, "token_budget" -> Budget, "pagerank_iters" -> PrIters)

  override def prepare(rep: Int, traced: Boolean): Unit = {
    SimQ.clearNearDupPairCache()
    spark.catalog.clearCache()
    stageS.clear(); stageWindow.clear()
    this.traced = traced
  }

  private def stage(name: String)(f: => DataFrame): DataFrame =
    if (!traced) f
    else Spans.driver("corpus", name) {
      val t0 = System.nanoTime(); val e0 = System.currentTimeMillis()
      val d = f.localCheckpoint()
      stageS(name) = (System.nanoTime() - t0) / 1e9
      stageWindow(name) = (e0, System.currentTimeMillis())
      d
    }

  override def run(rep: Int): Unit = {
    val (docs, links) = Spans.driver("call", "build: read") {
      (spark.read.parquet(docsPath), spark.read.parquet(linksPath))
    }
    val s1 = stage("exact_dedup") {
      val keepers = docs.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("keeper"))
      docs.withColumn("h", md5(col("text"))).join(keepers, Seq("h"))
        .filter(col("doc_id") === col("keeper")).select("doc_id", "text", "source")
    }
    val s2 = stage("paragraph_dedup") {
      CorpusQ.paragraphDedup(s1.select("doc_id", "text")).filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(s1.select("doc_id", "source"), "doc_id")
    }
    val s3 = stage("quality") {
      s2.withColumn("ts", split(col("text"), " "))
        .filter(expr("(1000000L * size(array_distinct(ts))) div size(ts)") >= 330000)
        .select(col("doc_id"), col("text"), col("source"), size(col("ts")).cast("long").as("n_toks"))
    }
    val s3c = if (traced) s3 else s3.localCheckpoint()
    val nearDup = stage("near_dup") {
      SimQ.fuzzyNearDupPairs(s3c.select("doc_id", "text")).select("id_a", "id_b")
    }
    val s5 = stage("components") {
      val comps = Dedup.connectedComponents(nearDup, "id_a", "id_b")
      compsDf = comps
      s3c.join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(col("comp").isNull || col("comp") === col("doc_id")).drop("comp")
    }
    val s6 = {
      val capped = stage("domain_cap") {
        val kept = CorpusQ.domainCap(s5.select("doc_id", "source"), Cap)
          .filter(col("kept")).select("doc_id")
        s5.join(kept, "doc_id")
      }
      if (traced) capped else capped.localCheckpoint()
    }
    var pr: PageRank.Result = null
    val ranks = stage("pagerank") {
      val nodes = s6.select(col("doc_id").as("id"))
      val edges = links.join(nodes.withColumnRenamed("id", "src"), "src")
        .join(nodes.withColumnRenamed("id", "dst"), "dst").select("src", "dst")
      pr = PageRank.run(nodes, edges, maxIter = PrIters)
      pr.ranks
    }
    val manifest = stage("token_budget") {
      val keyed = s6.withColumn("hkey", md5(col("doc_id").cast("string"))).withColumn("g", lit("all"))
      PrefixSum.runningSum(keyed, "g", "n_toks").filter(col("cum") <= Budget)
        .select(col("doc_id"), col("source"), col("n_toks"),
          (col("cum") - col("n_toks")).as("offset"), md5(col("text")).as("th"))
        .join(ranks.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
    }
    out = Spans.driver("call", "action: collect") {
      manifest.orderBy("doc_id").collect()
    }
    prIters = pr.iterations
    nearDupDf = nearDup
    survivorsDf = s3c
    pr.release()
  }

  override def check(rep: Int): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val ids = out.map(_.getLong(0))
    val kept = ids.toSet
    if (kept.size != ids.length) bad += "duplicate doc ids in the manifest"
    gen.exactDupIds.filter(kept).take(3).foreach(i => bad += s"planted exact duplicate $i kept")
    val hashes = out.map(_.getString(4))
    if (hashes.distinct.length != hashes.length) bad += "two kept docs share text"
    val toks = out.map(_.getLong(2)).sum
    val end = if (out.isEmpty) 0L else out.map(r => r.getLong(3) + r.getLong(2)).max
    if (toks > Budget || end != toks) bad += s"token budget: $toks tokens, manifest ends at $end"
    if (toks < Budget / 2) bad += s"token budget barely used: $toks of $Budget"
    val compOf = compsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = survivorsDf.select("doc_id").collect().map(_.getLong(0)).toSet
    pairs = if (traced) nearDupDf.count() else 0L
    nearDupDf = null; compsDf = null; survivorsDf = null
    gen.clusters.foreach { c =>
      val k = c.filter(kept)
      if (k.size > 1) bad += s"near-dup cluster ${c.head} kept ${k.size} members"
      val comps = c.filter(survivors).map(i => compOf.getOrElse(i, i)).distinct
      if (comps.size > 1) bad += s"near-dup cluster ${c.head} split over components $comps"
    }
    if (out.exists(r => r.isNullAt(5))) bad += "kept doc without a PageRank score"
    val d = digest(out)
    digest0 match {
      case None => digest0 = Some(d)
      case Some(d0) => if (d != d0) bad += s"result digest $d differs from the first repetition's $d0"
    }
    bad.result()
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}|${r.getLong(3)}|${r.getString(4)}|${"%.9f".format(r.getDouble(5))}\n"
        .getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  override def census: Map[String, Long] = Map("kept_docs" -> out.length.toLong,
    "pagerank_iterations" -> prIters.toLong)

  override def layers(rep: Int, traced: Boolean, wallS: Double, bucket: Bucket): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val prShuffles = stageWindow.get("pagerank").map { case (a, b) =>
      bucket.stages.asScala.count(s => s.shuffleMap && s.submitMs >= a && s.submitMs <= b)
    }.getOrElse(0)
    stageS.map { case (k, v) => s"corpus.${k}_s" -> v }.toMap ++ Map(
      "corpus.kept_ratio" -> out.length.toDouble / gen.docs.size,
      "corpus.near_dup_pairs" -> pairs.toDouble,
      "corpus.pagerank_iterations" -> prIters.toDouble,
      "corpus.pagerank_shuffles_per_iter" -> (if (prIters > 0) prShuffles.toDouble / prIters else 0.0))
  }

  override def close(): Unit = {
    SimQ.clearNearDupPairCache()
    spark.catalog.clearCache()
  }
}

object CorpusBuild extends Workload {
  val name = "corpus_build"
  val BaseDocs = 1500
  val Clusters = 80
  val ExactDups = 150
  val Domains = 120
  val Cap = 40
  val DanglingShare = 0.15
  val Budget = 100000L
  val PrIters = 4

  def setup(spark: SparkSession, seed: Long, dir: Path): Instance =
    new CorpusInstance(spark, seed, dir)
}
