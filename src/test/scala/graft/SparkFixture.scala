package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Shared local SparkSession + on-disk fixtures for engine specs (reference
  * SpookyBaseSpec / FileDocsFixture roles).
  */
object SparkFixture {

  lazy val spark: SparkSession = SparkEntry.localSession(cpus = 4)

  val fixtureRoot: Path = Paths.get("target", "test-fixtures").toAbsolutePath

  def writeFixture(rel: String, content: String): String = {
    val p = fixtureRoot.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    p.toString
  }

  /** A fresh scratch dir per test run. */
  def scratchDir(name: String): String = {
    val p = fixtureRoot.resolve(s"scratch-$name-${System.nanoTime()}")
    Files.createDirectories(p)
    p.toString
  }

  /** Diamond link graph A→{B,C}, B→D, C→D (the dedup case flagged at
    * reference dsl/package.scala:167-168) as file:// HTML pages.
    */
  def diamondSite(dir: String): Map[String, String] = {
    def page(name: String, links: Seq[String]): String =
      s"""<html><head><title>$name</title></head><body>
         |<h1>$name</h1>
         |${links.map(l => s"""<a href="$l.html">$l</a>""").mkString("\n")}
         |</body></html>""".stripMargin
    Map(
      "A" -> Seq("B", "C"), "B" -> Seq("D"), "C" -> Seq("D"), "D" -> Seq.empty
    ).map { case (name, links) =>
      name -> writeFixture(s"$dir/$name.html", page(name, links))
    }
  }
}
