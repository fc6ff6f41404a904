package graft.doc

import com.fasterxml.jackson.databind.{JsonNode => JacksonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** JSON as a selector-queryable [[Node]] tree (reference doc/JsonNode.scala:
  * 10-60 — json4s there; Jackson here, which ships with Spark).
  *
  * Selector semantics mirror the reference's recursive field select:
  *   - `findAll("name")` — every field called `name` at any depth; array
  *     values are exploded into one node per element.
  *   - `children("name")` — direct fields only (arrays exploded).
  *   - paths: `findAll("a.b")` — recursive descent to `a`, then `b` under it.
  *   - `text` — scalar rendering for value nodes, compact JSON otherwise.
  *   - `attr(name)` — direct scalar field as string.
  */
final case class JsonNode(underlying: JacksonNode, fieldName: String = "")
    extends Node {

  import JsonNode._

  override def findAll(selector: String): Seq[Node] = {
    val path = selector.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
    if (path.isEmpty) Seq.empty
    else path.foldLeft(Seq(this): Seq[Node]) { (nodes, name) =>
      nodes.flatMap {
        case j: JsonNode => j.recursiveSelect(name)
        case _           => Seq.empty
      }
    }
  }

  private def recursiveSelect(name: String): Seq[Node] = {
    val out = Seq.newBuilder[Node]
    def walk(n: JacksonNode): Unit = {
      if (n.isObject) {
        n.properties().asScala.foreach { e =>
          if (e.getKey == name) out ++= explode(e.getValue, name)
          walk(e.getValue)
        }
      } else if (n.isArray) n.elements().asScala.foreach(walk)
    }
    walk(underlying)
    out.result()
  }

  override def children(selector: String): Seq[Node] =
    if (underlying.isObject && underlying.has(selector))
      explode(underlying.get(selector), selector)
    else Seq.empty

  override def childNodes: Seq[Node] =
    if (underlying.isObject)
      underlying.properties().asScala.toSeq.flatMap(e => explode(e.getValue, e.getKey))
    else if (underlying.isArray)
      underlying.elements().asScala.toSeq.map(JsonNode(_, fieldName))
    else Seq.empty

  override def text: String =
    if (underlying.isTextual) underlying.asText()
    else if (underlying.isValueNode) underlying.asText()
    else underlying.toString

  override def code: String = underlying.toString

  override def formattedCode: String = underlying.toPrettyString

  override def attr(name: String, noEmpty: Boolean = true): Option[String] =
    Option(underlying.get(name)).filter(_.isValueNode).map(_.asText())
      .filter(v => !noEmpty || v.trim.nonEmpty)

  override def allAttr: Map[String, String] =
    if (!underlying.isObject) Map.empty
    else underlying.properties().asScala
      .filter(_.getValue.isValueNode)
      .map(e => e.getKey -> e.getValue.asText()).toMap

  override def href: Option[String] = attr("href").orElse(attr("url")).orElse(attr("uri"))

  override def breadcrumb: Seq[String] = if (fieldName.isEmpty) Nil else Seq(fieldName)
}

object JsonNode {
  private val mapper = new ObjectMapper()

  def parse(json: String): Node = JsonNode(mapper.readTree(json))

  /** `s` as a JSON string literal: quote and backslash escaped, every
    * control char as a unicode escape — the one quoter behind the synthetic
    * JSON documents (archive, image-metadata, subtitle and directory
    * listings).
    */
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Arrays become one node per element (reference: "arrays exploded"). */
  private def explode(n: JacksonNode, name: String): Seq[Node] =
    if (n.isArray) n.elements().asScala.toSeq.map(JsonNode(_, name))
    else Seq(JsonNode(n, name))
}
