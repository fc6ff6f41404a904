package graft

import graft.api.GraftContext
import graft.conf.GraftConf
import graft.llm.{Dedup, MinHash}
import graft.queries.SimQ

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end composition IT: a directory of HTML files goes through bulk
  * ingestion ([[GraftContext.readFiles]]) → Node-seam text extraction →
  * exact dedup → near-dup grouping (shared-shingle pairs → connected
  * components) → keeper selection. This is the ingest-to-clean-corpus path a
  * pretraining pipeline runs, stitched from the engine's own operators —
  * every stage is the same code the oracle-gated queries exercise.
  */
class CorpusPipelineIT extends AnyFunSuite {

  import SparkFixture._

  test("incremental loop: per-batch band index + pairs + contraction merge == full recompute") {
    val s = spark
    import s.implicits._
    val all = graft.Tables.documents(s, "/root/testdata/sf0.001").select("doc_id", "text")
    // three ingest batches by doc_id residue; the loop state between
    // batches is exactly what production persists: the band index and the
    // component assignment
    val batches = (0 until 3).map(b => all.filter(col("doc_id") % 3 === b))
    var bandIdx = MinHash.bandIndex(all.limit(0)).localCheckpoint()
    var ingested = all.limit(0)
    val groups = new graft.llm.IncrementalComponents
    for (batch <- batches) {
      ingested = ingested.union(batch).localCheckpoint()
      val (newBands, pairs) = MinHash.incrementalNearDupPairs(ingested, bandIdx, batch)
      bandIdx = bandIdx.union(newBands).localCheckpoint()
      if (pairs.head(1).nonEmpty) groups.update(pairs, "id_a", "id_b")
    }
    // the loop's final assignment must equal full CC over the full-corpus
    // pair stage (both label groups by minimum doc_id)
    val fullPairs = SimQ.nearDupPairs(s, "/root/testdata/sf0.001")
    val full = Dedup.connectedComponents(fullPairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incremental = groups.assignment
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)
    assert(incremental == full,
      s"incremental loop diverged: ${incremental.size} vs ${full.size} assignments")
    assert(full.nonEmpty, "vacuous test: the corpus must contain near-dup pairs")
  }

  test("ingest -> extract -> dedup -> group -> keep") {
    val s = spark
    import s.implicits._

    // corpus: 3 exact copies of A; B and B' differing by one word (near-dup);
    // C unique. Expect: exact dedup keeps one A; near-dup grouping collapses
    // {B, B'}; survivors = A, B, C.
    val d = Files.createTempDirectory("graft-corpus").toAbsolutePath
    val bodyA = "alpha beta gamma delta epsilon zeta eta theta"
    val bodyB = "one two three four five six seven eight nine ten"
    val bodyB2 = "one two three four five six seven eight nine eleven"
    val bodyC = "completely different text with no overlap whatsoever at all"
    Seq("a1" -> bodyA, "a2" -> bodyA, "a3" -> bodyA,
      "b1" -> bodyB, "b2" -> bodyB2, "c1" -> bodyC).foreach { case (n, t) =>
      Files.writeString(d.resolve(s"$n.html"),
        s"<html><head><title>$n</title></head><body><p>$t</p></body></html>")
    }

    val ctx = new GraftContext(spark, GraftConf())
    val texts = ctx.readFiles(d.toString, glob = Some("*.html"))
      .select { r =>
        val doc = r.trajectory.doc.get
        val body = doc.root.findAll("p").headOption.map(_.text).getOrElse("")
        (r.data.split('/').last.stripSuffix(".html"), body)
      }
      .asDataset.toDF("name", "body")
      .withColumn("id", xxhash64(col("name")).bitwiseAND(lit(Long.MaxValue)))

    // exact dedup (q24 shape): one keeper per byte-identical body
    val exact = texts.groupBy(col("body"))
      .agg(min(col("id")).as("id"), expr("min_by(name, id)").as("name"),
        count(lit(1)).as("copies"))
    assert(exact.count() == 4) // A collapsed, B/B2/C distinct

    // near-dup pairs: word-bigram shingle overlap >= 0.5 (q25/q26 shape)
    val grams = exact.select(col("id"), col("body"))
      .withColumn("toks", split(col("body"), " "))
      .withColumn("grams", expr(
        """array_distinct(transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))""".stripMargin))
      .select(col("id"), col("grams"))
    val pairs = grams.as("x").join(grams.as("y"), $"x.id" < $"y.id")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"),
        (size(array_intersect($"x.grams", $"y.grams")).cast("double") /
          size(array_union($"x.grams", $"y.grams"))).as("jac"))
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b")

    // pairs -> groups -> keepers (q39/q40 shape)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val kept = exact.join(comp.withColumnRenamed("id", "cid"),
        exact("id") === col("cid"), "left_outer")
      .filter(col("comp").isNull || col("comp") === col("id"))
      .select("name")
      .as[String].collect().toSet

    // B and B' share 9-of-11 bigrams -> one group, keeper = min id; A and C
    // are singletons after exact dedup
    assert(kept.size == 3)
    assert(kept.contains("c1"))
    assert(kept.exists(_.startsWith("a")) && kept.exists(_.startsWith("b")))
  }

  test("archived crawl (WARC) -> extract -> scrub -> dedup: the offline variant of the same pipeline") {
    val s = spark
    import s.implicits._
    import graft.sources.Warc

    // the directory IT's corpus as an archived crawl: 2 exact copies of A
    // (one of them planted with an email — equal AFTER redaction), a
    // near-dup pair B/B', unique C with a gzip Content-Encoding body
    val bodyA = "alpha beta gamma delta epsilon zeta eta theta"
    val bodyB = "one two three four five six seven eight nine ten"
    val bodyB2 = "one two three four five six seven eight nine eleven"
    val bodyC = "completely different text with no overlap whatsoever at all"
    def html(t: String) = s"<html><body><p>$t</p></body></html>".getBytes("UTF-8")
    def gzBytes(b: Array[Byte]) = {
      val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o); g.write(b); g.close()
      o.toByteArray
    }
    val records = Seq(
      "a1" -> Warc.httpResponse(200, "text/html", html(bodyA)),
      "a2" -> Warc.httpResponse(200, "text/html",
        html(bodyA + " spam@trap.example")),
      "b1" -> Warc.httpResponse(200, "text/html", html(bodyB)),
      "b2" -> Warc.httpResponse(200, "text/html", html(bodyB2)),
      "c1" -> Warc.httpResponse(200, "text/html", gzBytes(html(bodyC))))
    val seg = records.map { case (n, http) =>
      Warc.gzMember(Warc.writeRecord("response",
        Seq("WARC-Target-URI" -> s"http://corpus.test/$n",
          "Content-Type" -> "application/http; msgtype=response"), http))
    }.reduce(_ ++ _)
    val dir = SparkFixture.scratchDir("warc-corpus")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "crawl.warc.gz"), seg)

    val texts = Warc.read(s, dir)
      .map { r =>
        val doc = Warc.toDoc(r) // gzip bodies inflate through the Doc seam
        (r.url.split('/').last,
          doc.root.findAll("p").headOption.map(_.text).getOrElse(""))
      }
      .toDF("name", "body")
    // PII scrub BEFORE dedup so a1/a2 collapse (the cleanIngest ordering)
    val scrubbed = graft.llm.Pii.withPiiColumns(texts.withColumnRenamed("body", "text"))
      .select(col("name"), col("clean_text").as("body"))
      .withColumn("id", xxhash64(col("name")).bitwiseAND(lit(Long.MaxValue)))
    val exact = scrubbed
      .withColumn("norm", regexp_replace(col("body"), "<EMAIL>|\\s+", " "))
      .groupBy(trim(col("norm")).as("k"))
      .agg(min(col("id")).as("id"), expr("min_by(name, id)").as("name"))
    assert(exact.count() == 4, "a1/a2 must collapse after redaction")

    val grams = exact.select(col("id"), col("k").as("body"))
      .withColumn("toks", split(col("body"), " "))
      .withColumn("grams", expr(
        """array_distinct(transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))""".stripMargin))
      .select(col("id"), col("grams"))
    val pairs = grams.as("x").join(grams.as("y"), $"x.id" < $"y.id")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"),
        (size(array_intersect($"x.grams", $"y.grams")).cast("double") /
          size(array_union($"x.grams", $"y.grams"))).as("jac"))
      .filter(col("jac") >= 0.5).select("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val kept = exact.join(comp.withColumnRenamed("id", "cid"),
        exact("id") === col("cid"), "left_outer")
      .filter(col("comp").isNull || col("comp") === col("id"))
      .select("name").as[String].collect().toSet
    assert(kept.size == 3)
    assert(kept.contains("c1"), "gzip-bodied page must survive extraction")
    assert(kept.exists(_.startsWith("a")) && kept.exists(_.startsWith("b")))
  }
}
