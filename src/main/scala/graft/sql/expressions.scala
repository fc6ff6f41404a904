package graft.sql

import graft.doc.{HtmlNode, JsonNode, Node}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, TernaryExpression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the scalar doc-extraction functions
  * (SURVEY §2.11 / §7.2 "custom Expression"): unlike the Scala-UDF wrappers
  * in [[graft.functions]], these participate in whole-stage codegen (the
  * generated code calls the static evaluators below directly — no
  * encoder/boxing round-trip per row) and keep Catalyst's null semantics.
  *
  * A per-thread single-entry parse cache makes multi-extraction projections
  * (`css_text(html, 't'), css_attr(html, 'a', 'href'), ...` over the same
  * row) parse the document ONCE instead of once per function call — the
  * parse is the dominant cost of extraction at scale.
  */
object NodeFunctions {

  private val lastHtml = new ThreadLocal[(UTF8String, Node)]
  private val lastJson = new ThreadLocal[(UTF8String, Node)]

  private def cached(tl: ThreadLocal[(UTF8String, Node)], s: UTF8String)(
      parse: String => Node): Node = {
    val c = tl.get()
    if (c != null && c._1.equals(s)) c._2
    else {
      val n = try parse(s.toString)
      catch { case scala.util.control.NonFatal(_) => Node.Unrecognisable }
      tl.set((s.clone(), n)) // clone: the incoming buffer may be reused
      n
    }
  }

  def cssText(html: UTF8String, css: UTF8String): UTF8String = {
    val r = cached(lastHtml, html)(HtmlNode.parse(_)).findFirst(css.toString)
    if (r.isEmpty) null else UTF8String.fromString(r.get.text)
  }

  def cssAttr(html: UTF8String, css: UTF8String, attr: UTF8String): UTF8String = {
    val r = cached(lastHtml, html)(HtmlNode.parse(_))
      .findFirst(css.toString).flatMap(_.attr(attr.toString))
    if (r.isEmpty) null else UTF8String.fromString(r.get)
  }

  def jsonText(json: UTF8String, path: UTF8String): UTF8String = {
    val r = cached(lastJson, json)(JsonNode.parse).findAll(path.toString).headOption
    if (r.isEmpty) null else UTF8String.fromString(r.get.text)
  }

  def boilerPipe(html: UTF8String): UTF8String =
    UTF8String.fromString(cached(lastHtml, html)(HtmlNode.parse(_)).boilerPipe)
}

/** First matching node's text for a CSS selector, null when absent. */
final case class CssText(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "css_text"

  protected override def nullSafeEval(html: Any, css: Any): Any =
    NodeFunctions.cssText(html.asInstanceOf[UTF8String], css.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, c) =>
      s"""${ev.value} = graft.sql.NodeFunctions.cssText($h, $c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CssText =
    copy(left = newLeft, right = newRight)
}

/** First matching node's attribute value, null when absent/empty. */
final case class CssAttr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "css_attr"

  protected override def nullSafeEval(html: Any, css: Any, attr: Any): Any =
    NodeFunctions.cssAttr(html.asInstanceOf[UTF8String], css.asInstanceOf[UTF8String],
      attr.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, c, a) =>
      s"""${ev.value} = graft.sql.NodeFunctions.cssAttr($h, $c, $a);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CssAttr = copy(f, s, t)
}

/** Boilerpipe-style article extraction (the WSDM'10 NumWordsRules decision
  * tree over shallow block features — see [[graft.doc.HtmlNode.boilerPipe]])
  * as a native codegen column function: block segmentation + word/link-word
  * counting + the published classifier run per row inside whole-stage
  * codegen, with the same per-thread parse cache as [[CssText]]. Null html
  * → null; a page with no content-classified block falls back to its full
  * text (the Node-method contract, q134-gated).
  */
final case class BoilerPipeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "boilerpipe"

  protected override def nullSafeEval(html: Any): Any =
    NodeFunctions.boilerPipe(html.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.sql.NodeFunctions.boilerPipe($h);")

  override protected def withNewChildInternal(c: Expression): BoilerPipeText =
    copy(child = c)
}

/** First JSON node text on a recursive-descent path, null when absent. */
final case class JsonText(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_text"

  protected override def nullSafeEval(json: Any, path: Any): Any =
    NodeFunctions.jsonText(json.asInstanceOf[UTF8String], path.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (j, p) =>
      s"""${ev.value} = graft.sql.NodeFunctions.jsonText($j, $p);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JsonText =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two numeric arrays (float32 or float64, mixed allowed),
  * accumulated left-to-right in double — numerically identical to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0d, (acc,v) -> acc+v)` but
  * WITHOUT the zipped intermediate array, per-element boxing, or interpreted
  * lambda dispatch, and with real whole-stage codegen. This is the hot inner
  * loop of every embedding query (norms, cosine ranking, near-dup pair
  * scoring): at 100 TB the pair join evaluates it O(pairs) times, so it must
  * be a tight primitive loop, and accepting float32 input directly lets the
  * corpus shuffle half the bytes (no up-front cast-to-double column).
  *
  * Null semantics match the HOF formulation: null array, length mismatch
  * (zip_with pads with null), or any null element → null.
  */
final case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> or array<float> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = isFloat(left)
    val rf = isFloat(right)
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getL = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getR = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $getL * $getR;
         |  }
         |  ${ev.value} = $acc;
         |}""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two array<bigint> columns, long accumulation —
  * the exact-arithmetic twin of [[VecDot]] for the quantized-integer
  * embedding paths (SemDeDup's distances and cosine tests), where every
  * value must stay a bit-exact int64 so verdicts hash-match the DuckDB
  * oracle. Numerically identical to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)` but a
  * primitive codegen loop with no zipped intermediate or boxed lambda
  * dispatch — the SemDeDup pairwise stage runs it O(within-cluster pairs)
  * times and the assignment fold O(k) times per row. Null semantics match
  * the HOF: null array, length mismatch, or null element → null. Callers
  * own overflow bounds (documented per call site; quantized components keep
  * every product far inside int64).
  */
final case class VecDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot_long"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotLong =
    copy(left = newLeft, right = newRight)
}

/** Z-order (Morton) interleave of the low 16 bits of two non-negative
  * bigint dimensions — the multi-dimensional data-layout key: sorting or
  * range-bucketing by `zorder2(x, y)` co-locates rows that are close in
  * BOTH dimensions, so per-bucket min/max column stats become tight and a
  * scan with predicates on either dimension can prune most buckets (the
  * clustering trick behind Delta/Iceberg Z-ORDER, public since Morton
  * 1966). Pure bit-twiddle (4 spread steps per dimension + merge), fully
  * inside whole-stage codegen; the same arithmetic unrolls to `& | <<` in
  * ANSI SQL, so layouts are oracle-replicable bit-for-bit. Inputs beyond
  * 16 bits are masked (callers bucket their dimensions first); null in →
  * null out.
  */
final case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")

  protected override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("zx")
      val y = ctx.freshName("zy")
      def spread(v: String): String =
        s"""$v = ($v | ($v << 8)) & 0x00FF00FFL;
           |$v = ($v | ($v << 4)) & 0x0F0F0F0FL;
           |$v = ($v | ($v << 2)) & 0x33333333L;
           |$v = ($v | ($v << 1)) & 0x55555555L;""".stripMargin
      s"""long $x = $a & 0xFFFFL;
         |long $y = $b & 0xFFFFL;
         |${spread(x)}
         |${spread(y)}
         |${ev.value} = $x | ($y << 1);""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

object ZOrder2 {
  private def spread(v0: Long): Long = {
    var v = v0
    v = (v | (v << 8)) & 0x00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0FL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }
  def interleave(x: Long, y: Long): Long =
    spread(x & 0xFFFFL) | (spread(y & 0xFFFFL) << 1)
}

/** Bloom-filter membership test against a BINARY mask: true iff every
  * bit position in the array<bigint> argument is set in the mask (byte
  * `p >>> 3`, bit `p & 7`). The mask rides as a foldable binary literal
  * (~128 KiB at the q83 sizing — one object reference in the generated
  * class, NOT per-row state), so the probe side of
  * [[graft.llm.Bloom]] stays inside whole-stage codegen end-to-end: md5
  * position columns feed straight into three array reads per row with no
  * ScalaUDF boxing boundary. Null mask/array/element → null; a position
  * outside [0, 8·mask_len) yields FALSE (a bit that was never set cannot
  * be a member) — the in-repo callers compute positions `mod 8·mask_len`
  * so they never hit the guard, but `bloom_contains` is SQL-registered
  * and ad-hoc positions must not be able to crash generated code.
  */
final case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  // nullable even over non-null children: a null ELEMENT inside the
  // positions array yields null (and guarantees ev.isNull is a real
  // variable in generated code, never the false-literal)
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, array<bigint>), " +
          s"got ${l.catalogString} and ${r.catalogString}")
    }

  protected override def nullSafeEval(m: Any, ps: Any): Any = {
    val mask = m.asInstanceOf[Array[Byte]]
    val arr = ps.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var i = 0
    val bits = 8L * mask.length
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val p = arr.getLong(i)
      if (p < 0L || p >= bits) return false
      if ((mask((p >>> 3).toInt) & (1 << (p & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, ps) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val hit = ctx.freshName("hit")
      s"""int $n = $ps.numElements();
         |boolean $hit = true;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($ps.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $p = $ps.getLong($i);
         |  if ($p < 0L || $p >= 8L * $m.length) { $hit = false; break; }
         |  if (($m[(int)($p >>> 3)] & (1 << (int)($p & 7))) == 0) { $hit = false; break; }
         |}
         |${ev.value} = $hit;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

/** Intersection cardinality of two SORTED (ascending, distinct) long
  * arrays, by linear two-pointer merge — the exact-verify primitive of
  * set-similarity dedup. `size(array_intersect(a, b))` over string shingles
  * builds a hash set of UTF8Strings per row-pair; hashing each shingle set
  * ONCE to sorted int64 (injective w.h.p.) turns every candidate-pair verify
  * into a primitive merge with zero allocation, and
  * |A∪B| = |A|+|B|−|A∩B| means Jaccard needs no union at all. At 100 TB the
  * verify join runs this O(candidate-pairs) times — it is the constant that
  * matters. Inputs are trusted sorted; null array → null, null element →
  * null.
  */
final case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < nx && j < ny) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { n += 1L; i += 1; j += 1 }
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $n = 0L;
         |while ($i < $nx && $j < $ny) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $n++; $i++; $j++; }
         |}
         |${ev.value} = $n;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** The whole per-document MinHash/set-similarity signature in ONE pass over
  * the text: word-bigram shingles (distinct), 6 one-permutation minhash
  * slices (md5 computed once per shingle, six 5-hex-digit slices, min per
  * slice), the sorted-xxhash64 image of the shingle set for exact-Jaccard
  * verification, and the shingle count.
  *
  * Value-identical to the composable-HOF formulation (split → transform →
  * array_distinct → per-slice array_min(transform(substring(md5))) →
  * sort_array(transform(xxhash64))) — pinned by an equivalence spec — but a
  * single primitive loop instead of ~10 interpreted higher-order passes
  * that each re-materialize an intermediate array per row. At corpus scale
  * the signature pass IS the near-dup pipeline's map-side cost.
  * CodegenFallback is deliberate: the body is one tight JVM loop per row,
  * so codegen would only inline the call site.
  *
  * Output: struct(hset array<bigint> sorted asc, n_grams bigint,
  * s1..s6 string).
  */
final case class ShingleSignature(child: Expression)
    extends UnaryExpression with CodegenFallback {

  import ShingleSignature._

  override def dataType: DataType = SCHEMA
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_signature"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    // split(text, ' ') semantics (limit -1: trailing empties kept)
    val toks = text.split(" ", -1)
    val grams: Array[String] =
      if (toks.length < 2) Array(text)
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i < toks.length - 1) {
          seen.add(toks(i) + " " + toks(i + 1))
          i += 1
        }
        seen.toArray(new Array[String](seen.size()))
      }
    val mins = new Array[String](NUM_SLICES)
    val hashes = new Array[Long](grams.length)
    var g = 0
    while (g < grams.length) {
      val gram = grams(g)
      val hex = Md5.hex(Md5(gram))
      var s = 0
      while (s < NUM_SLICES) {
        val slice = hex.substring(s * SLICE_LEN, s * SLICE_LEN + SLICE_LEN)
        if (mins(s) == null || slice.compareTo(mins(s)) < 0) mins(s) = slice
        s += 1
      }
      hashes(g) = XxHash64Function.hash(UTF8String.fromString(gram), StringType, 42L)
      g += 1
    }
    java.util.Arrays.sort(hashes)
    val out = new Array[Any](2 + NUM_SLICES)
    out(0) = new GenericArrayData(hashes)
    out(1) = grams.length.toLong
    var s = 0
    while (s < NUM_SLICES) { out(2 + s) = UTF8String.fromString(mins(s)); s += 1 }
    new GenericInternalRow(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSignature =
    copy(child = newChild)
}

object ShingleSignature {

  val NUM_SLICES = 6
  val SLICE_LEN = 5

  val SCHEMA: StructType = StructType(
    Seq(StructField("hset", ArrayType(LongType, containsNull = false)),
      StructField("n_grams", LongType)) ++
      (1 to NUM_SLICES).map(i => StructField(s"s$i", StringType)))
}

/** The whole n-bit SimHash document fingerprint in ONE codegen'd pass over
  * the text — value-identical to the composable formulation (explode distinct
  * whitespace tokens → per-bit `sum(when(substring(md5(token), b, 1) in
  * 8..f, 1, -1))` → recombine `1L << (b-1)` weights), pinned by an
  * equivalence spec — but md5 runs once per distinct token instead of the
  * aggregate evaluating n conditional sums per exploded row, and the doc
  * never explodes at all: no shuffle of (doc_id, token) pairs, no n-column
  * aggregation state. At corpus scale the signature pass is the map-side
  * cost of bit-signature dedup (q27/q45), exactly like [[ShingleSignature]]
  * is for set-similarity dedup.
  *
  * Bit b (1-indexed, weight `1L << (b-1)`): sign of the sum over DISTINCT
  * tokens of ±1 by the high bit of hex digit b of md5(token) for b <= 32,
  * and of md5('x' || token) for b in 33..64 (the second hash extends the
  * digit supply past md5's 32 hex digits).
  *
  * @param bits signature width, 1..64 (60 keeps `1L << 59` in signed BIGINT
  *             range on engines whose bit ops are signed-only, e.g. the
  *             DuckDB oracle)
  */
final case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression {

  require(bits >= 1 && bits <= 64, s"simhash bits must be in 1..64, got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sim_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any =
    SimHashFunction.simhash(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.sql.SimHashFunction.simhash($t, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHashFunction {

  /** Static entry point for generated code: primitive long out, no boxing. */
  def simhash(text: UTF8String, bits: Int): Long = {
    // split(text, ' ') semantics (regex limit -1: trailing empties kept;
    // array_distinct keeps one of each, "" included — md5("") is defined)
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](bits)
    val n1 = math.min(bits, 32)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val d1 = Md5(t)
        var b = 0
        while (b < n1) { counts(b) += nibbleSign(d1, b); b += 1 }
        if (bits > 32) {
          val d2 = Md5("x" + t)
          b = 32
          while (b < bits) { counts(b) += nibbleSign(d2, b - 32); b += 1 }
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) sim |= 1L << b; b += 1 }
    sim
  }

  /** +1 when hex digit `idx` (0-based) of the digest has its high bit set
    * (hex chars 8..f), else -1. Byte-shift form of `substring(hex, idx+1, 1)
    * IN ('8'..'f')`.
    */
  @inline private def nibbleSign(digest: Array[Byte], idx: Int): Int = {
    val nib = (digest(idx >> 1) >> (if ((idx & 1) == 0) 4 else 0)) & 0xF
    if (nib >= 8) 1 else -1
  }
}

/** Rabin polynomial rolling hash `h = (h*31 + codepoint) mod (2^31-1)`,
  * seed 7, folded left-to-right over the string's code points — the
  * document fingerprint of q44 and the streaming `cleanIngest` path, as ONE
  * codegen'd pass instead of the interpreted
  * `aggregate(transform(sequence(...), i -> ascii(substr(norm, i, 1))), ...)`
  * HOF chain (which materializes a per-row index array and a per-char
  * single-char substring). Value-identical including the empty-string case
  * (bare seed — the HOF needed an explicit guard because Spark's
  * `sequence(1, 0)` is the DESCENDING [1, 0]) and code-point semantics
  * (`ascii(substr(s, i, 1))` reads the i-th code point, not UTF-16 unit) —
  * pinned by an equivalence spec.
  */
final case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any =
    RollingHashFunction.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.sql.RollingHashFunction.hash($t);")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** KMV (k-minimum-values) distinct-count sketch — the CUSTOM AGGREGATION
  * surface (SURVEY §2.13) as a Catalyst `TypedImperativeAggregate`: the
  * buffer is the set of the k smallest 60-bit md5 hashes seen, so state is
  * BOUNDED at k longs per group regardless of input size, partial
  * aggregation collapses map-side, and merge is a set-union-then-trim —
  * the mergeable-sketch contract (Bar-Yossef et al. 2002) that makes
  * COUNT(DISTINCT) estimable at 100 TB in one pass with k·8 bytes of
  * state per group (exact distinct needs a full shuffle of the keys).
  *
  * Deliberately ORACLE-REPLICABLE, unlike HLL±: the hash is the first 15
  * hex chars of md5 (the [[graft.llm.Bloom]] convention — identical on
  * both engines), the sketch VALUE is a `struct(k, hs)` carrying the k it
  * was built with alongside the sorted hash array, and the estimate
  * `(k−1)·2⁶⁰ / h_k` is computed declaratively downstream in exact
  * decimal arithmetic — so even the estimation ERROR reproduces
  * bit-for-bit (the q74/q102 doctrine: approximate algorithms, exact
  * semantics). Null inputs are ignored (COUNT DISTINCT semantics).
  *
  * Why the struct: a bare hash array can't be validated on re-aggregation
  * — a SATURATED sketch stored with k' < merge-k has irreversibly dropped
  * hashes that a k-merge would need, yet looks identical to a low-
  * cardinality exact sketch. Carrying k makes [[KmvMerge]] able to DETECT
  * that unsound rollup instead of silently under-merging.
  */
abstract class KmvAggregate
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  def child: Expression
  def k: Int

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = KmvAggregate.sketchType

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  protected final def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    // skip adds that cannot enter the k smallest — O(log k) either way,
    // but avoids churn on the common (large) hash
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) { buf.add(h); if (buf.size > k) { buf.pollLast(); () } }
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
                     b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    val row = new GenericInternalRow(2)
    row.update(0, k)
    row.update(1, new GenericArrayData(arr)) // ascending — TreeSet iteration order
    row
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
}

object KmvAggregate {
  /** The sketch wire shape: `k` (the trim parameter the sketch was built
    * with — the merge-soundness witness) + `hs` (the ascending k-minimum
    * 60-bit hashes). Both non-null by construction.
    */
  val sketchType: StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("hs", ArrayType(LongType, containsNull = false), nullable = false)))
}

final case class KmvSketch(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvAggregate {

  override def prettyName: String = "kmv_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
    else if (k < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires k >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, KmvFunction.hash60(v.asInstanceOf[UTF8String]))
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)
}

/** KMV sketch RE-AGGREGATION — the scale win of a mergeable sketch made
  * first-class: input rows are STORED sketches (the `struct(k, hs)` the
  * [[KmvSketch]] aggregate emits, e.g. one per partition / day / shard,
  * persisted between pipeline runs), and the aggregate unions them under
  * the same k-smallest trim, so `kmv_merge(kmv_sketch(...))` over any
  * grouping refinement is IDENTICAL to `kmv_sketch` over the raw union —
  * the sketch-algebra contract (spec-pinned) that lets 100 TB roll up
  * from per-shard sketches without ever re-scanning raw data. Null rows
  * are ignored; element order inside a stored sketch is irrelevant (set
  * union). Streaming-safe through the state store like its parent.
  *
  * Soundness checks (r16 verdict #1/#3): a SATURATED input sketch stored
  * with k' < merge-k fails loudly — its dropped hashes might belong in a
  * k-minimum, so the merge==union contract is unrecoverable (an UNSATURATED
  * one is the exhaustive hash set and merges soundly at any k); and a null
  * hash slot (reachable only through hand-built SQL structs — stored
  * sketches are containsNull=false) fails loudly instead of being read as
  * hash 0, which would poison the global minimum forever.
  */
final case class KmvMerge(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvAggregate {

  override def prettyName: String = "kmv_merge"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(
        StructField("k", IntegerType, _, _),
        StructField("hs", ArrayType(LongType, _), _, _))) =>
      if (k >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a struct<k:int, hs:array<bigint>> sketch column " +
        s"(the kmv_sketch output shape), got ${other.catalogString}")
  }

  // only hand-built SQL structs can carry nullable slots; the fast path
  // (stored sketches) skips the per-element isNullAt probe entirely
  @transient private lazy val mayContainNull: Boolean = child.dataType match {
    case StructType(Array(_, StructField(_, ArrayType(_, cn), _, _))) => cn
    case _ => false
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      val storedK = row.getInt(0)
      val a = row.getArray(1)
      val n = a.numElements()
      if (storedK < k && n >= storedK) throw new IllegalArgumentException(
        s"$prettyName(k=$k): input sketch is saturated at stored k=$storedK < $k — " +
          "its k-minima cannot reconstruct the merged sketch (merge-k must be " +
          "<= the smallest stored k)")
      var i = 0
      while (i < n) {
        if (mayContainNull && a.isNullAt(i)) throw new IllegalArgumentException(
          s"$prettyName: null hash at sketch slot $i — a stored sketch is never " +
            "null-slotted; refusing to read it as hash 0 (the global minimum)")
        add(buf, a.getLong(i)); i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvMerge =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvMerge =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMerge =
    copy(child = newChildren.head)
}

/** Element-wise sum of `array<bigint>` vectors per group — the aggregate
  * that keeps k-means' Lloyd update from exploding the corpus into
  * corpus×d (cluster, pos) rows: state is ONE d-length long array per
  * (task, group), partially aggregated map-side, merged element-wise —
  * exactly the bounded-mergeable-state shape [[KmvSketch]] establishes,
  * applied to centroid sums (integer addition is associative and
  * commutative, so the result is partition-order independent and EXACT).
  * All arrays in a group must share one length (the embedding-dimension
  * contract); a mismatched row fails loudly rather than mis-summing, and a
  * null ELEMENT (reachable only through hand-built SQL arrays — framework
  * vectors are containsNull=false) also fails loudly instead of silently
  * summing as 0 (r16 verdict #1). Null rows and ZERO-LENGTH vectors are
  * ignored — uniformly, regardless of what the buffer has seen, so the
  * same group can never succeed or throw depending on row order (r16
  * verdict #2; this also keeps update consistent with merge, where an
  * empty partial buffer is already the identity). An all-null/all-empty
  * group yields an empty array.
  */
final case class VecSumLong(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_sum_long"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> column, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  // n == 0 callers are filtered out before addInto (empty == identity)
  private def addInto(buf: Array[Long], get: Int => Long, n: Int): Array[Long] =
    if (buf.length == 0) Array.tabulate(n)(get)
    else {
      require(buf.length == n,
        s"$prettyName: vector length $n != group's ${buf.length}")
      var i = 0
      while (i < n) { buf(i) += get(i); i += 1 }
      buf
    }

  // only hand-built SQL arrays can carry nullable slots; framework vectors
  // (cm_sketch grids, Lloyd qv encodings) skip the per-element probe
  @transient private lazy val mayContainNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n == 0) buf // empty == identity, independent of buffer state
      else {
        if (mayContainNull) {
          var i = 0
          while (i < n) {
            if (a.isNullAt(i)) throw new IllegalArgumentException(
              s"$prettyName: null element at vector slot $i — refusing to sum " +
                "it as 0 (the fails-loudly contract)")
            i += 1
          }
        }
        addInto(buf, a.getLong, n)
      }
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    if (b2.length == 0) b1 else addInto(b1, b2.apply, b2.length)

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(n: Int): VecSumLong =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): VecSumLong =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumLong =
    copy(child = newChildren.head)
}

/** Count-min sketch (Cormode & Muthukrishnan '05) over a string column —
  * the frequency-estimation twin of [[KmvSketch]]'s distinct-count: state
  * is a FIXED depth×width counter grid (row-major `array<bigint>`),
  * partially aggregated map-side, merged by element-wise sum — which
  * means STORED sketches re-aggregate with plain [[VecSumLong]] (counter
  * addition IS the sketch merge; no dedicated merge aggregate needed).
  * Point estimates never undercount: `min` over each row's counter at
  * the item's bucket bounds the true frequency from above.
  *
  * Deliberately ORACLE-REPLICABLE like KMV: bucket r of item x is the
  * 60-bit md5 prefix of the string `"r:x"` mod width (the
  * [[graft.llm.Bloom]] hex-parse convention, identical in DuckDB), the
  * sketch VALUE is the raw counter array, and estimates are declarative
  * `array_min(transform(...))` downstream — the estimation ERROR itself
  * reproduces bit-for-bit. Null inputs are ignored; counters are exact
  * longs (no saturation — 2⁶³ occurrences is beyond any corpus).
  */
final case class CmSketch(
    child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cm_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
    else if (depth < 1 || width < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires depth >= 1 and width >= 1, got ($depth, $width)")
    else if (depth.toLong * width > (1L << 24)) TypeCheckResult.TypeCheckFailure(
      s"$prettyName grid $depth x $width exceeds the 2^24-counter state budget")
    else TypeCheckResult.TypeCheckSuccess

  // per-row hash prefixes "r:" — built once per task, not per input row
  @transient private lazy val prefixes: Array[UTF8String] =
    Array.tabulate(depth)(r => UTF8String.fromString(r + ":"))

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      var r = 0
      while (r < depth) {
        val h = KmvFunction.hash60(UTF8String.concat(prefixes(r), s))
        buf(r * width + (h % width).toInt) += 1
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(n: Int): CmSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CmSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmSketch =
    copy(child = newChildren.head)
}

/** Bounded per-group SAMPLE aggregate — the k pairs with the SMALLEST
  * `(key, value)` in lexicographic order, emitted ascending as
  * `array<struct<key:bigint, val:bigint>>`. With `key = hash(id)` this is
  * the KMV idea applied to SAMPLING: a deterministic uniform sample whose
  * state is bounded at k pairs per group, collapses map-side in partial
  * aggregation, and merges by union-then-trim — so per-shard samples roll
  * up to EXACTLY the sample of the union (the [[KmvSketch]] algebra with a
  * payload column riding along). Against the window formulation
  * `row_number() <= k`: Spark 3.5+ bounds the window's exchange too
  * (`WindowGroupLimit` pushes the rank limit below the shuffle), but the
  * window still fully SORTS every map partition below the partial limit —
  * O(n log n) per task vs this aggregate's O(n log k) heap with no sort
  * (measured 4.2× faster at 50M rows, NOTES_bench_mains.md) — and a window
  * result cannot re-aggregate: only the mergeable aggregate rolls STORED
  * per-shard samples up to the sample of the union without rescanning.
  * Downstream, the sampled payloads feed any statistic
  * — quantiles, means, histograms: one archived sample, many stats.
  *
  * Determinism: the result is the multiset of the k lexicographically
  * smallest pairs — partition- and order-independent, so oracle-gateable
  * (with an md5-derived key, DuckDB replays it as a `row_number` over the
  * same (key, value) order). Exact duplicate pairs are KEPT up to
  * multiplicity (they are distinct sample members; a set-trim would
  * silently shrink the sample). A row enters the sample iff key AND value
  * are both non-null (a null key cannot rank; a null payload cannot feed a
  * statistic — COUNT-semantics skip, like [[KmvSketch]]'s null skip).
  */
final case class BottomKPairs(
    keyChild: Expression, valChild: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.PriorityQueue[Array[Long]]] {

  override def children: Seq[Expression] = Seq(keyChild, valChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(BottomKPairs.pairType, containsNull = false)
  override def prettyName: String = "bottomk_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    if (keyChild.dataType != LongType || valChild.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint key, bigint value) columns, got " +
          s"(${keyChild.dataType.catalogString}, ${valChild.dataType.catalogString})")
    else if (k < 1 || k > (1 << 20)) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 1 <= k <= 2^20 (the per-group state budget), got $k")
    else TypeCheckResult.TypeCheckSuccess

  // max-heap on (key, value): head = the largest retained pair, the one a
  // smaller candidate evicts. O(log k) per accepted row, O(1) reject.
  override def createAggregationBuffer(): java.util.PriorityQueue[Array[Long]] =
    new java.util.PriorityQueue[Array[Long]](11, BottomKPairs.descending)

  private def add(buf: java.util.PriorityQueue[Array[Long]], key: Long, v: Long): Unit =
    if (buf.size < k) { buf.add(Array(key, v)); () }
    else {
      val top = buf.peek()
      if (key < top(0) || (key == top(0) && v < top(1))) {
        buf.poll(); buf.add(Array(key, v)); ()
      }
    }

  override def update(buf: java.util.PriorityQueue[Array[Long]],
                      input: InternalRow): java.util.PriorityQueue[Array[Long]] = {
    val kv = keyChild.eval(input)
    val vv = valChild.eval(input)
    if (kv != null && vv != null)
      add(buf, kv.asInstanceOf[Long], vv.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.PriorityQueue[Array[Long]],
                     b2: java.util.PriorityQueue[Array[Long]]): java.util.PriorityQueue[Array[Long]] = {
    val it = b2.iterator()
    while (it.hasNext) { val p = it.next(); add(b1, p(0), p(1)) }
    b1
  }

  override def eval(buf: java.util.PriorityQueue[Array[Long]]): Any = {
    val arr = buf.toArray(new Array[Array[Long]](buf.size))
    java.util.Arrays.sort(arr, BottomKPairs.ascending)
    val out = new Array[Any](arr.length)
    var i = 0
    while (i < arr.length) {
      val row = new GenericInternalRow(2)
      row.update(0, arr(i)(0))
      row.update(1, arr(i)(1))
      out(i) = row
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.PriorityQueue[Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val p = it.next(); bb.putLong(p(0)); bb.putLong(p(1)) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Array[Long]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(Array(bb.getLong, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): BottomKPairs =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BottomKPairs =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKPairs =
    copy(keyChild = newChildren(0), valChild = newChildren(1))
}

object BottomKPairs {
  val pairType: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("val", LongType, nullable = false)))

  val ascending: java.util.Comparator[Array[Long]] =
    new java.util.Comparator[Array[Long]] {
      override def compare(a: Array[Long], b: Array[Long]): Int = {
        val c = java.lang.Long.compare(a(0), b(0))
        if (c != 0) c else java.lang.Long.compare(a(1), b(1))
      }
    }

  val descending: java.util.Comparator[Array[Long]] =
    java.util.Collections.reverseOrder(ascending)
}

/** Mergeable ε-guaranteed QUANTILE sketch — the fifth
  * `TypedImperativeAggregate` of the sketch algebra (KMV / CM / bottom-k /
  * vec-sum), closing the archival-rollup family's quantile gap: per-shard
  * sketches stored as parquet re-aggregate with [[QhistMerge]] into exactly
  * the sketch of the union, without re-scanning raw data.
  *
  * Design: integer-logarithmic value buckets (the DDSketch construction —
  * Masson/Rim/Lee, VLDB'19 "DDSketch: a fast and fully-mergeable quantile
  * sketch with relative-error guarantees" — with HdrHistogram's
  * power-of-two sub-bucket grid so every boundary is INTEGER arithmetic,
  * never a float log). For v ≥ 0 with `m` sub-bucket bits:
  * `shift = max(0, bitlength(v) − m)`, `bucket = shift·2^(m−1) + (v >> shift)`
  * — buckets are contiguous, monotone in v, EXACT below 2^m, and one
  * bucket spans ≤ 2^−(m−1) relative width above, so the midpoint
  * representative carries deterministic relative error ≤ 2^−m (m = 6 →
  * 1.5625%). State is bucket → exact count: CANONICAL (a pure function of
  * the value multiset — partition- and merge-order independent, unlike
  * GK/KLL whose compaction state is arrival-order dependent), mergeable by
  * counter addition, and BOUNDED at (63−m)·2^(m−1) + 2^m counters (m = 6:
  * 1888 longs ≈ 15 KiB) for the full non-negative long domain regardless
  * of input size.
  *
  * Deliberately ORACLE-REPLICABLE (the KMV doctrine — approximate
  * algorithm, exact semantics): bitlength is `length(bin(v))` in DuckDB,
  * the rank walk is integer (`rank = permille·(n−1) div 1000`, first
  * bucket with cumulative count > rank), and the dequantized
  * representative is pure shifts — so estimates, including their ERROR,
  * reproduce bit-for-bit across engines (q129/q130). Negative inputs fail
  * loudly (the grid is defined on v ≥ 0 — offset signed domains first);
  * null inputs are ignored. Wire shape: `struct(m, ids, counts)` with
  * ascending ids, m traveling as the merge-compatibility witness.
  */
abstract class QhistAggregate
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  def child: Expression

  /** Sub-bucket bits: relative error of the midpoint representative is
    * ≤ 2^−m; state is ≤ (63−m)·2^(m−1) + 2^m counters.
    */
  def m: Int

  final protected def half: Int = 1 << (m - 1)
  final protected def nBuckets: Int = (63 - m) * half + (1 << m)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = QhistAggregate.sketchType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBuckets)

  final protected def bucketOf(v: Long): Int = {
    val b = 64 - java.lang.Long.numberOfLeadingZeros(v) // bitlength; v=0 → 0
    val shift = if (b > m) b - m else 0
    (shift * half + (v >>> shift)).toInt
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    var nnz = 0
    var i = 0
    while (i < buf.length) { if (buf(i) != 0L) nnz += 1; i += 1 }
    val ids = new Array[Int](nnz)
    val counts = new Array[Long](nnz)
    var j = 0
    i = 0
    while (i < buf.length) {
      if (buf(i) != 0L) { ids(j) = i; counts(j) = buf(i); j += 1 }
      i += 1
    }
    val row = new GenericInternalRow(3)
    row.update(0, m)
    row.update(1, new GenericArrayData(ids)) // ascending — dense-scan order
    row.update(2, new GenericArrayData(counts))
    row
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    var nnz = 0
    var i = 0
    while (i < buf.length) { if (buf(i) != 0L) nnz += 1; i += 1 }
    val bb = java.nio.ByteBuffer.allocate(4 + 12 * nnz)
    bb.putInt(nnz)
    i = 0
    while (i < buf.length) {
      if (buf(i) != 0L) { bb.putInt(i); bb.putLong(buf(i)) }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Array[Long](nBuckets)
    var i = 0
    while (i < n) { buf(bb.getInt) += bb.getLong; i += 1 }
    buf
  }
}

object QhistAggregate {
  /** The sketch wire shape: `m` (sub-bucket bits — the grid the sketch was
    * quantized on, the merge-compatibility witness) + ascending bucket
    * `ids` + their exact `counts`. All non-null by construction.
    */
  val sketchType: StructType = StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("ids", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("counts", ArrayType(LongType, containsNull = false), nullable = false)))
}

final case class QhistSketch(
    child: Expression, m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends QhistAggregate {

  override def prettyName: String = "qhist_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType && child.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an integral column, got ${child.dataType.catalogString}")
    else if (m < 2 || m > 16) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 2 <= m <= 16, got $m")
    else TypeCheckResult.TypeCheckSuccess

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v match {
        case l: java.lang.Long    => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      if (x < 0) throw new IllegalArgumentException(
        s"$prettyName: negative value $x — the bucket grid is defined on v >= 0; " +
          "offset signed domains before sketching")
      buf(bucketOf(x)) += 1L
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): QhistSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): QhistSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QhistSketch =
    copy(child = newChildren.head)
}

/** WEIGHTED [[QhistSketch]]: each row contributes `weight` counts to its
  * value's bucket instead of 1 — the quantile-by-mass surface (e.g. value
  * = doc length, weight = token count answers "the median TOKEN lives in
  * a document of what length", the question a token-budgeted pipeline
  * actually asks; per-row weights are how dedup multiplicities and
  * sampling rates enter a distribution without exploding rows). Exact
  * integer weights keep every property of the unweighted sketch: canonical
  * grid, counter-addition merge ([[QhistMerge]] works unchanged on the
  * output), deterministic ≤ 2^−m relative error on the VALUE axis, exact
  * oracle replay (`sum(weight)` per bucket instead of `count(*)`).
  * Negative values and negative weights fail loudly; zero weights and
  * null rows are no-ops (a zero-mass row cannot move a rank).
  */
final case class QhistSketchW(
    child: Expression, weight: Expression, m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends QhistAggregate {

  override def prettyName: String = "qhist_sketch_weighted"
  override def children: Seq[Expression] = Seq(child, weight)

  override def checkInputDataTypes(): TypeCheckResult =
    if ((child.dataType != LongType && child.dataType != IntegerType) ||
        (weight.dataType != LongType && weight.dataType != IntegerType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires integral (value, weight) columns, got " +
          s"(${child.dataType.catalogString}, ${weight.dataType.catalogString})")
    else if (m < 2 || m > 16) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 2 <= m <= 16, got $m")
    else TypeCheckResult.TypeCheckSuccess

  private def asLong(v: Any): Long = v match {
    case l: java.lang.Long    => l.longValue()
    case i: java.lang.Integer => i.longValue()
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val x = asLong(v)
      val wl = asLong(w)
      if (x < 0) throw new IllegalArgumentException(
        s"$prettyName: negative value $x — the bucket grid is defined on v >= 0")
      if (wl < 0) throw new IllegalArgumentException(
        s"$prettyName: negative weight $wl — a negative mass would corrupt every " +
          "downstream rank; pre-aggregate signed corrections before sketching")
      if (wl > 0) buf(bucketOf(x)) += wl
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): QhistSketchW =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): QhistSketchW =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QhistSketchW =
    copy(child = newChildren(0), weight = newChildren(1))
}

/** Qhist RE-AGGREGATION: input rows are STORED `struct(m, ids, counts)`
  * sketches (one per shard/day/partition, persisted between runs), merged
  * by exact counter addition — `qhist_merge(qhist_sketch(...))` over any
  * grouping refinement is IDENTICAL to `qhist_sketch` over the raw union
  * (counts are exact and the grid is canonical, so the rollup is not just
  * error-preserving but bit-identical — q130 gates it against q129's
  * direct path). A stored m ≠ merge-m fails loudly (different quantization
  * grids are not mergeable — there is no sound cross-grid rebucketing);
  * null slots, out-of-range ids and non-positive counts (reachable only
  * through hand-built SQL structs) also fail loudly rather than silently
  * corrupting every downstream rank.
  */
final case class QhistMerge(
    child: Expression, m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends QhistAggregate {

  override def prettyName: String = "qhist_merge"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(
        StructField("m", IntegerType, _, _),
        StructField("ids", ArrayType(IntegerType, _), _, _),
        StructField("counts", ArrayType(LongType, _), _, _))) =>
      if (m >= 2 && m <= 16) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires 2 <= m <= 16, got $m")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a struct<m:int, ids:array<int>, counts:array<bigint>> " +
        s"sketch column (the qhist_sketch output shape), got ${other.catalogString}")
  }

  // only hand-built SQL structs can carry nullable slots; stored sketches
  // are containsNull=false and skip the per-element probes
  @transient private lazy val mayContainNull: Boolean = child.dataType match {
    case StructType(Array(_,
        StructField(_, ArrayType(_, cn1), _, _),
        StructField(_, ArrayType(_, cn2), _, _))) => cn1 || cn2
    case _ => false
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      val storedM = row.getInt(0)
      if (storedM != m) throw new IllegalArgumentException(
        s"$prettyName(m=$m): input sketch was quantized on m=$storedM — grids of " +
          "different m are not mergeable (no sound cross-grid rebucketing exists); " +
          "re-sketch the raw data on one grid")
      val ids = row.getArray(1)
      val counts = row.getArray(2)
      val n = ids.numElements()
      if (counts.numElements() != n) throw new IllegalArgumentException(
        s"$prettyName: ids/counts length mismatch (${n} vs ${counts.numElements()})")
      var i = 0
      while (i < n) {
        if (mayContainNull && (ids.isNullAt(i) || counts.isNullAt(i)))
          throw new IllegalArgumentException(
            s"$prettyName: null slot at $i — a stored sketch is never null-slotted")
        val id = ids.getInt(i)
        val c = counts.getLong(i)
        if (id < 0 || id >= nBuckets) throw new IllegalArgumentException(
          s"$prettyName(m=$m): bucket id $id outside [0, $nBuckets)")
        if (c <= 0) throw new IllegalArgumentException(
          s"$prettyName: non-positive count $c at bucket $id — a stored sketch " +
            "only carries positive exact counts")
        buf(id) += c
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): QhistMerge =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): QhistMerge =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QhistMerge =
    copy(child = newChildren.head)
}

object KmvFunction {
  /** First 60 bits of md5 as a non-negative long — identical to parsing
    * the digest's first 15 hex chars base 16 (the Bloom hash convention).
    */
  def hash60(s: UTF8String): Long = {
    val dig = Md5(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
    h >>> 4
  }
}

/** Unicode NFC normalization of a string column (java.text.Normalizer —
  * the canonical-composition pass every corpus-cleaning pipeline runs
  * before dedup/hashing: decomposed `e`+U+0301 and precomposed `é` are
  * the SAME text to a tokenizer but different bytes to md5/minhash, so
  * un-normalized corpora under-deduplicate). Codegen'd via a static
  * helper (the [[RollingHash]] shape); already-NFC strings (the common
  * case) short-circuit through `Normalizer.isNormalized` without
  * allocating. Matches DuckDB's `nfc_normalize` value-for-value — the
  * q104 gate pins it cross-engine.
  */
final case class NfcNormalize(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "nfc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any =
    NfcFunction.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.sql.NfcFunction.normalize($t);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcFunction {
  /** Static entry point for generated code. */
  def normalize(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

object RollingHashFunction {

  final val Seed = 7L
  final val Base = 31L
  final val Mod = 2147483647L // 2^31 - 1

  /** Static entry point for generated code: primitive long out. */
  def hash(text: UTF8String): Long = {
    val s = text.toString
    var h = Seed
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * Base + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** Anchor-sampled exact-substring fingerprints (q53, exact-substring dedup
  * à la the suffix-array dedup of Lee et al. ACL'22, re-expressed as a
  * distributed fingerprint join): the DISTINCT k-token grams of `text`
  * whose md5 low nibble ≡ 0 (mod p) — a content-defined 1/p sample, so two
  * documents sharing an exact token span select the SAME anchors inside it
  * regardless of surrounding offsets (the sample rides the content, never
  * the position). `p` ∈ {1,2,4,8,16}: p=1 keeps every gram (exhaustive —
  * detection of any shared span ≥ k tokens is GUARANTEED); p>1 trades a
  * bounded miss chance on short spans for a p× smaller shuffle (a shared
  * span of L tokens carries L−k+1 grams and is missed only when none is an
  * anchor: (1−1/p)^(L−k+1) — ~2% at p=4 for L=2k, vanishing for long
  * spans; [[WinnowGrams]] is the companion selector whose guarantee is
  * absolute at the price of an oracle-inexpressible selection rule).
  *
  * One JVM pass: tokenize once, build each window once, md5 once per
  * DISTINCT window; only selected grams materialize in the output, where
  * the HOF formulation pinned by SqlExprSpec materializes every window
  * first. split(text,' ') semantics (limit −1, trailing empties kept);
  * docs under k tokens contribute their whole text as one gram (slice
  * truncates) — the q50 gram convention. Output order = first occurrence
  * (matches filter∘array_distinct∘transform).
  */
final case class AnchorGrams(child: Expression, k: Int, p: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"k must be >= 1, got $k")
  require(p >= 1 && 16 % p == 0, s"p must divide 16, got $p")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "anchor_grams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = text.split(" ", -1)
    val nGrams = math.max(toks.length - k + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < nGrams) {
      val end = math.min(i + k, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new java.util.ArrayList[AnyRef](seen.size() / p + 1)
    val it = seen.iterator()
    while (it.hasNext) {
      val gram = it.next()
      val digest = Md5(gram)
      if (((digest(15) & 0x0F) % p) == 0) out.add(UTF8String.fromString(gram))
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): AnchorGrams =
    copy(child = newChild)
}

/** Positional companion to [[AnchorGrams]] for SPAN-granular substring
  * dedup (removal lists à la Lee et al. ACL'22 — delete the duplicated
  * bytes, keep the document): every token position whose k-gram is an
  * anchor (same md5-low-nibble mod-p rule, same tokenization and under-k
  * truncation), WITHOUT per-document gram dedup — a gram repeated inside
  * one document yields one entry per occurrence, because each occurrence
  * is a removable span of its own. Output `array<struct<pos:int,
  * gram:string>>`, pos = 0-based token index of the span start; the span
  * covers tokens [pos, min(pos+k, n_tokens)).
  *
  * One JVM pass like [[AnchorGrams]], but the md5 gate is evaluated once
  * per distinct gram and REUSED across repeat occurrences (a tiny per-call
  * map), so the cost stays one digest per distinct window.
  */
final case class AnchorSpans(child: Expression, k: Int, p: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"k must be >= 1, got $k")
  require(p >= 1 && 16 % p == 0, s"p must divide 16, got $p")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "anchor_spans"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = text.split(" ", -1)
    val nGrams = math.max(toks.length - k + 1, 1)
    val verdict = new java.util.HashMap[String, java.lang.Boolean]()
    val out = new java.util.ArrayList[AnyRef](nGrams / p + 1)
    var i = 0
    while (i < nGrams) {
      val end = math.min(i + k, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      val gram = sb.toString
      var sel = verdict.get(gram)
      if (sel == null) {
        val digest = Md5(gram)
        sel = java.lang.Boolean.valueOf(((digest(15) & 0x0F) % p) == 0)
        verdict.put(gram, sel)
      }
      if (sel.booleanValue()) {
        val row = new GenericInternalRow(2)
        row.setInt(0, i)
        row.update(1, UTF8String.fromString(gram))
        out.add(row)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): AnchorSpans =
    copy(child = newChild)
}

/** Winnowing fingerprints (Schleimer et al., SIGMOD'03) — the GUARANTEED
  * companion to [[AnchorGrams]]' mod-p sampling: the distinct k-token
  * grams selected as the minimum-hash position of every w consecutive
  * grams (rightmost on hash ties). Any two documents sharing an exact
  * span of ≥ w+k−1 tokens contain one full common window and therefore
  * select at least one IDENTICAL gram — detection is deterministic, not
  * probabilistic, at density ~2/(w+1). The selection rule reads a window
  * of neighboring hashes, which is exactly why the DuckDB gate replays
  * mod-p (q53) while winnowing is spec-pinned against a brute reference
  * (TextOpsSpec): the trade documented on [[AnchorGrams]], resolved here.
  *
  * One JVM pass: tokenize, hash each distinct window once (md5, compared
  * as hex — content-defined, engine-independent), sliding-window minimum
  * via a monotonic deque (pop-while-≥ gives the rightmost tie). Docs with
  * fewer than w windows select their global minimum (every doc keeps ≥ 1
  * fingerprint). Same tokenization and under-k truncation conventions as
  * [[AnchorGrams]].
  */
final case class WinnowGrams(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"k must be >= 1, got $k")
  require(w >= 1, s"w must be >= 1, got $w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "winnow_grams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = text.split(" ", -1)
    val m = math.max(toks.length - k + 1, 1)
    val grams = new Array[String](m)
    var i = 0
    while (i < m) {
      val end = math.min(i + k, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      grams(i) = sb.toString
      i += 1
    }
    val memo = new java.util.HashMap[String, String]() // identical grams hash once
    val hashes = grams.map { g =>
      var h = memo.get(g)
      if (h == null) {
        h = Md5.hex(Md5(g))
        memo.put(g, h)
      }
      h
    }
    val selected = new java.util.LinkedHashSet[String]()
    if (m <= w) {
      // fewer windows than w: keep the global (rightmost) minimum
      var best = 0
      i = 1
      while (i < m) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
      selected.add(grams(best))
    } else {
      // monotonic deque of indices; pop-while->= keeps the RIGHTMOST min
      val dq = new java.util.ArrayDeque[Integer]()
      i = 0
      while (i < m) {
        while (!dq.isEmpty && hashes(dq.peekLast()) >= hashes(i)) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst() <= i - w) dq.pollFirst()
        if (i >= w - 1) selected.add(grams(dq.peekFirst()))
        i += 1
      }
    }
    val out = new Array[AnyRef](selected.size())
    val it = selected.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowGrams =
    copy(child = newChild)
}

/** Positional companion to [[WinnowGrams]] — the [[AnchorSpans]] of the
  * winnowing family: the SELECTED POSITIONS (each window's rightmost-min
  * gram index, deduped as positions, not as grams — a gram repeated at two
  * selected positions yields two removable spans) as `array<struct<pos,
  * gram>>`. Two documents sharing an exact span of ≥ w+k−1 tokens select
  * at least one identical gram at corresponding positions, so span-
  * granular removal under this selector inherits the SIGMOD'03 guarantee.
  */
final case class WinnowSpans(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"k must be >= 1, got $k")
  require(w >= 1, s"w must be >= 1, got $w")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "winnow_spans"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = text.split(" ", -1)
    val m = math.max(toks.length - k + 1, 1)
    val grams = new Array[String](m)
    var i = 0
    while (i < m) {
      val end = math.min(i + k, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      grams(i) = sb.toString
      i += 1
    }
    val memo = new java.util.HashMap[String, String]()
    val hashes = grams.map { g =>
      var h = memo.get(g)
      if (h == null) {
        h = Md5.hex(Md5(g))
        memo.put(g, h)
      }
      h
    }
    val selected = new java.util.LinkedHashSet[Integer]()
    if (m <= w) {
      var best = 0
      i = 1
      while (i < m) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
      selected.add(best)
    } else {
      val dq = new java.util.ArrayDeque[Integer]()
      i = 0
      while (i < m) {
        while (!dq.isEmpty && hashes(dq.peekLast()) >= hashes(i)) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst() <= i - w) dq.pollFirst()
        if (i >= w - 1) selected.add(dq.peekFirst())
        i += 1
      }
    }
    val sortedSel = new java.util.ArrayList[Integer](selected)
    java.util.Collections.sort(sortedSel)
    val out = new Array[AnyRef](sortedSel.size())
    i = 0
    while (i < sortedSel.size()) {
      val pos = sortedSel.get(i).intValue()
      val row = new GenericInternalRow(2)
      row.setInt(0, pos)
      row.update(1, UTF8String.fromString(grams(pos)))
      out(i) = row
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowSpans =
    copy(child = newChild)
}

/** MD5 for the hashing expressions: one digest per thread (a
  * `MessageDigest` is stateful, and `getInstance` per row would dominate the
  * hot loops) plus lowercase hex, matching Spark's `md5()` string form.
  */
private[graft] object Md5 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def apply(bytes: Array[Byte]): Array[Byte] = {
    val md = digest.get()
    md.reset()
    md.digest(bytes)
  }

  /** MD5 of the string's UTF-8 bytes. */
  def apply(s: String): Array[Byte] = apply(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val HEX = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      out(i * 2) = HEX(b >>> 4)
      out(i * 2 + 1) = HEX(b & 0xF)
      i += 1
    }
    new String(out)
  }
}

/** BPE apply stage ([[graft.llm.Bpe]]): tokenize `text` with a fixed
  * merge table, one JVM pass per row. Per whitespace word: symbols =
  * code points + `</w>`; each merge, in rank order, makes a single
  * left-to-right non-overlapping pass — the exact semantics of a literal
  * `replace()` chain over a symbol-guarded string, which is how the q55
  * DuckDB oracle replays the same table. Output: the doc's full BPE token
  * sequence (words' tokens concatenated in order).
  *
  * The merge table is a constructor parameter (driver-side, bounded at
  * nMerges entries, serialized with the expression — effectively broadcast
  * with the plan), not a child: it shapes the computation, not the data.
  */
final case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val out = new java.util.ArrayList[AnyRef]()
    text.split(" ", -1).foreach { word =>
      var syms: Array[String] = graft.llm.Bpe.symbolsOf(word)
      merges.foreach { case (l, r) =>
        if (syms.length >= 2) {
          val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              next += l + r // consume both; freshly merged symbol never re-matches this pass
              i += 2
            } else {
              next += syms(i)
              i += 1
            }
          }
          syms = next.toArray
        }
      }
      syms.foreach(s => out.add(UTF8String.fromString(s)))
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** Word-n-gram repetition statistics in one pass — the Gopher/C4 family of
  * repetition quality filters (Rae et al. 2021 §A1.1: documents whose
  * duplicate-n-gram or top-n-gram fraction is high are boilerplate/spam and
  * get dropped before training). Returns
  * `struct(n_grams, n_distinct, top_count)`; the filters derive as
  * `1 - n_distinct/n_grams` (duplicate fraction) and `top_count/n_grams`
  * (top-gram concentration). Same `split(' ')` tokenization as the q20
  * token-stats family. One hash map over the doc's grams, no explode, no
  * shuffle — the map-side cost model of [[SimHash]]/[[ShingleSignature]].
  */
final case class NgramRepStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"ngram_rep_stats: n must be >= 1, got $n")

  override def dataType: DataType = NgramRepStats.SCHEMA
  override def nullable: Boolean = true
  override def prettyName: String = "ngram_rep_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val total = words.length - n + 1
    if (total <= 0) new GenericInternalRow(Array[Any](0L, 0L, 0L))
    else {
      val counts = new java.util.HashMap[String, Int](total * 2)
      val sb = new StringBuilder
      var top = 0
      var i = 0
      while (i < total) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        val c = counts.merge(sb.result(), 1, (a, b) => a + b)
        if (c > top) top = c
        i += 1
      }
      new GenericInternalRow(Array[Any](total.toLong, counts.size.toLong, top.toLong))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): NgramRepStats =
    copy(child = newChild)
}

object NgramRepStats {
  val SCHEMA: StructType = StructType(Seq(
    StructField("n_grams", LongType),
    StructField("n_distinct", LongType),
    StructField("top_count", LongType)))
}

/** Static evaluators for the URL/crawl-compliance expressions. */
object UrlFunctions {

  // non-utm_ tracking params dropped during canonicalization
  private val Tracking = Set("fbclid", "gclid", "msclkid", "dclid", "igshid")
  private def isTracking(k: String): Boolean =
    k.startsWith("utm_") || Tracking.contains(k)

  private def unreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** RFC 3986 §6 percent normal form: decode unreserved, uppercase the
    * hex of the rest; malformed triplets pass through literally.
    */
  private def percentNorm(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        val v = (Character.digit(s.charAt(i + 1), 16) << 4) |
          Character.digit(s.charAt(i + 2), 16)
        if (unreserved(v.toChar)) sb.append(v.toChar)
        else sb.append('%').append(s.substring(i + 1, i + 3).toUpperCase)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  /** RFC 3986 §5.2.4 dot-segment removal; empty path → "/". */
  private def normPath(path: String): String = {
    if (path.isEmpty) return "/"
    val trailingSlash = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    path.split("/", -1).foreach {
      case "" | "." => ()
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1)
      case seg      => out += seg
    }
    val p = "/" + out.mkString("/")
    if (trailingSlash && !p.endsWith("/")) p + "/" else p
  }

  /** Drop tracking params + empties, sort the rest (deterministic crawl
    * canonical form; sorting is what makes `?a=1&b=2` and `?b=2&a=1` the
    * same frontier key).
    */
  private def normQuery(q: String): String =
    if (q == null || q.isEmpty) ""
    else q.split("&", -1).iterator
      .filter(_.nonEmpty)
      .map(percentNorm)
      .filterNot(p => isTracking(p.takeWhile(_ != '=')))
      .toArray.sorted.mkString("&")

  /** Canonical crawl form of an absolute URL: fragment dropped, scheme+host
    * lower-cased, default port stripped, dot-segments resolved, percent
    * normal form, query params sorted with tracking params removed, empty
    * path → "/". Non-absolute input passes through (minus fragment) — a
    * total function, never null, so frontier keys never disappear.
    */
  /** Scala-land form for explore/fetch lambdas (e.g. canonicalizing hrefs
    * in a link-expand function so the visited set keys on canonical urls —
    * `?b=2&a=1` and `?a=1&b=2#frag` then dedup to ONE fetch).
    */
  def normalize(u: String): String = normalize(UTF8String.fromString(u)).toString

  def normalize(u: UTF8String): UTF8String = {
    val url0 = u.toString
    val hash = url0.indexOf('#')
    val url = if (hash >= 0) url0.substring(0, hash) else url0
    val schemeEnd = url.indexOf("://")
    if (schemeEnd <= 0) return UTF8String.fromString(url)
    val scheme = url.substring(0, schemeEnd).toLowerCase
    val rest = url.substring(schemeEnd + 3)
    val authEnd = {
      val s = rest.indexOf('/'); val q = rest.indexOf('?')
      val ends = Seq(s, q).filter(_ >= 0)
      if (ends.isEmpty) rest.length else ends.min
    }
    var authority = {
      val a = rest.substring(0, authEnd)
      val at = a.lastIndexOf('@') // lowercase the host, never the userinfo
      if (at >= 0) a.substring(0, at + 1) + a.substring(at + 1).toLowerCase
      else a.toLowerCase
    }
    if ((scheme == "http" && authority.endsWith(":80")) ||
        (scheme == "https" && authority.endsWith(":443")))
      authority = authority.substring(0, authority.lastIndexOf(':'))
    val tail = rest.substring(authEnd)
    val qmark = tail.indexOf('?')
    val path = normPath(percentNorm(if (qmark >= 0) tail.substring(0, qmark) else tail))
    val query = normQuery(if (qmark >= 0) tail.substring(qmark + 1) else null)
    UTF8String.fromString(
      scheme + "://" + authority + path + (if (query.isEmpty) "" else "?" + query))
  }

  private val lastRobots = new ThreadLocal[(UTF8String, graft.agent.Robots.RobotsFile)]

  /** REP matching for a frontier row. The robots text parses once per
    * distinct value per thread (the NodeFunctions memo pattern — bulk
    * filters scan millions of urls against few robots bodies). Absolute
    * urls match on path+query (Google's documented matching scope); bare
    * paths pass through.
    */
  def robotsAllowed(robots: UTF8String, agent: UTF8String, url: UTF8String): Boolean = {
    val c = lastRobots.get()
    val rf =
      if (c != null && c._1.equals(robots)) c._2
      else {
        val parsed = try graft.agent.Robots.parse(robots.toString)
        catch { case scala.util.control.NonFatal(_) => graft.agent.Robots.Empty }
        lastRobots.set((robots.clone(), parsed))
        parsed
      }
    val s = url.toString
    val schemeEnd = s.indexOf("://")
    val path =
      if (schemeEnd <= 0) s
      else {
        val rest = s.substring(schemeEnd + 3)
        val slash = rest.indexOf('/')
        if (slash < 0) "/" else rest.substring(slash)
      }
    rf.allowed(agent.toString, path)
  }
}

/** Canonical crawl form of an absolute URL (see [[UrlFunctions.normalize]]);
  * the frontier-dedup key maker.
  */
final case class UrlNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "url_normalize"

  protected override def nullSafeEval(u: Any): Any =
    UrlFunctions.normalize(u.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.UrlFunctions.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): UrlNormalize =
    copy(child = newChild)
}

/** RFC 9309 allow/deny of (robots_txt, user_agent, url) — bulk frontier
  * filtering against archived robots corpora.
  */
final case class RobotsAllowed(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "robots_allowed"

  protected override def nullSafeEval(robots: Any, agent: Any, url: Any): Any =
    UrlFunctions.robotsAllowed(robots.asInstanceOf[UTF8String],
      agent.asInstanceOf[UTF8String], url.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, a, u) => s"graft.sql.UrlFunctions.robotsAllowed($r, $a, $u)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RobotsAllowed = copy(f, s, t)
}

/** SQL registration seam: `spark.sql.extensions=graft.sql.GraftExtensions`
  * exposes the extraction expressions to pure-SQL users
  * (`SELECT css_text(html, 'title') ...`). Runtime registration on a live
  * session goes through `org.apache.spark.sql.graft.GraftFunctions.register`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  // SQL-path builders coerce inputs to string (the expressions themselves
  // assume string children; the typed wrappers in graft.functions guarantee
  // it, SQL callers get an implicit cast)
  private def s(e: Expression): Expression = Cast(e, StringType)

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("css_text", new ExpressionInfo(classOf[CssText].getName, "css_text"),
      (c: Seq[Expression]) => CssText(s(c(0)), s(c(1)))),
    ("css_attr", new ExpressionInfo(classOf[CssAttr].getName, "css_attr"),
      (c: Seq[Expression]) => CssAttr(s(c(0)), s(c(1)), s(c(2)))),
    ("json_text", new ExpressionInfo(classOf[JsonText].getName, "json_text"),
      (c: Seq[Expression]) => JsonText(s(c(0)), s(c(1)))),
    // arrays pass through un-coerced: these type-check their own inputs
    ("vec_dot", new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (c: Seq[Expression]) => VecDot(c(0), c(1))),
    ("vec_dot_long", new ExpressionInfo(classOf[VecDotLong].getName, "vec_dot_long"),
      (c: Seq[Expression]) => VecDotLong(c(0), c(1))),
    ("zorder2", new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (c: Seq[Expression]) => ZOrder2(Cast(c(0), LongType), Cast(c(1), LongType))),
    ("bloom_contains", new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (c: Seq[Expression]) => BloomContains(c(0), c(1))),
    ("sorted_intersect_count",
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (c: Seq[Expression]) => SortedIntersectCount(c(0), c(1))),
    ("shingle_signature",
      new ExpressionInfo(classOf[ShingleSignature].getName, "shingle_signature"),
      (c: Seq[Expression]) => ShingleSignature(s(c(0)))),
    // bits must be a foldable int literal (it shapes the generated code)
    ("sim_hash", new ExpressionInfo(classOf[SimHash].getName, "sim_hash"),
      (c: Seq[Expression]) => SimHash(s(c(0)),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    ("rolling_hash", new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (c: Seq[Expression]) => RollingHash(s(c(0)))),
    // k and p must be foldable int literals (they shape the per-row loop)
    ("anchor_grams", new ExpressionInfo(classOf[AnchorGrams].getName, "anchor_grams"),
      (c: Seq[Expression]) => AnchorGrams(s(c(0)),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue(),
        c(2).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    ("anchor_spans", new ExpressionInfo(classOf[AnchorSpans].getName, "anchor_spans"),
      (c: Seq[Expression]) => AnchorSpans(s(c(0)),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue(),
        c(2).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    ("winnow_spans", new ExpressionInfo(classOf[WinnowSpans].getName, "winnow_spans"),
      (c: Seq[Expression]) => WinnowSpans(s(c(0)),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue(),
        c(2).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    ("url_normalize", new ExpressionInfo(classOf[UrlNormalize].getName, "url_normalize"),
      (c: Seq[Expression]) => UrlNormalize(s(c(0)))),
    ("nfc", new ExpressionInfo(classOf[NfcNormalize].getName, "nfc"),
      (c: Seq[Expression]) => NfcNormalize(s(c(0)))),
    // k must be a foldable int literal (it bounds the per-group state)
    ("kmv_sketch", new ExpressionInfo(classOf[KmvSketch].getName, "kmv_sketch"),
      (c: Seq[Expression]) => KmvSketch(s(c(0)),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    // child is the stored array<bigint> sketch — no string cast
    ("kmv_merge", new ExpressionInfo(classOf[KmvMerge].getName, "kmv_merge"),
      (c: Seq[Expression]) => KmvMerge(c(0),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    ("vec_sum_long", new ExpressionInfo(classOf[VecSumLong].getName, "vec_sum_long"),
      (c: Seq[Expression]) => VecSumLong(c(0))),
    // k must be a foldable int literal (it bounds the per-group state)
    ("bottomk_pairs", new ExpressionInfo(classOf[BottomKPairs].getName, "bottomk_pairs"),
      (c: Seq[Expression]) => BottomKPairs(c(0), c(1),
        c(2).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    // depth/width must be foldable int literals (they size the state grid)
    ("cm_sketch", new ExpressionInfo(classOf[CmSketch].getName, "cm_sketch"),
      (c: Seq[Expression]) => CmSketch(c(0),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue(),
        c(2).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    // n must be a foldable int literal (it shapes the per-row loop)
    ("ngram_rep_stats", new ExpressionInfo(classOf[NgramRepStats].getName, "ngram_rep_stats"),
      (c: Seq[Expression]) => NgramRepStats(s(c(0)),
        c(1).eval(InternalRow.empty).asInstanceOf[Number].intValue())),
    ("robots_allowed", new ExpressionInfo(classOf[RobotsAllowed].getName, "robots_allowed"),
      (c: Seq[Expression]) => RobotsAllowed(s(c(0)), s(c(1)), s(c(2))))
  )
}
