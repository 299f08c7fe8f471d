package graft.expr

import graft.core.{Iri, UriTemplate, Xsd}
import graft.model.ResolvedColumn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helpers invoked from generated code (kept on reference objects so
  * the expressions stay inside whole-stage codegen as plain method calls).
  */
object ExprRuntime {

  val cellValueType: StructType = StructType(Seq(
    StructField("lex", StringType, nullable = false),
    StructField("ok", BooleanType, nullable = false)))

  val cellType: StructType = StructType(Seq(
    StructField("vals", ArrayType(cellValueType, containsNull = false), nullable = false),
    StructField("errs", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("isNull", BooleanType, nullable = false)))
}

/** Helper bound into codegen for [[CsvwCellExpr]]. */
final class CellEvaluator(val col: ResolvedColumn) extends Serializable {

  // Fast path: a plain string column with no format/facets/separator and the
  // default null list ([""]) — the dominant shape in transcript mappings —
  // maps input verbatim, so the whole pipeline collapses to two shapes.
  private val trivialString: Boolean =
    col.datatypeBase == "string" && col.regexFormat.isEmpty &&
      col.separator.isEmpty && !col.required && col.default.isEmpty &&
      col.nulls == List("") && col.length.isEmpty && col.minLength.isEmpty &&
      col.maxLength.isEmpty && col.minimum.isEmpty && col.maximum.isEmpty &&
      col.minExclusive.isEmpty && col.maxExclusive.isEmpty

  private val emptyStrArray = new GenericArrayData(Array.empty[Any])
  // null-cell result is constant: share one instance (rows are read-only)
  private val nullCellRow = InternalRow(emptyStrArray, emptyStrArray, true)

  def eval(input: UTF8String): InternalRow = {
    if (trivialString) {
      if (input == null || input.numBytes() == 0) return nullCellRow
      return InternalRow(
        new GenericArrayData(Array[Any](InternalRow(input, true))),
        emptyStrArray, false)
    }
    val res = CellRuntime.process(col, if (input == null) null else input.toString)
    val vals = new GenericArrayData(res.values.map { cv =>
      InternalRow(UTF8String.fromString(cv.lex), cv.ok)
    }.asInstanceOf[Array[Any]])
    val errs = new GenericArrayData(res.errors.map(e => UTF8String.fromString(e)).asInstanceOf[Array[Any]])
    InternalRow(vals, errs, res.isNull)
  }
}

/** The per-cell CSVW pipeline as a Catalyst expression:
  * `string → struct(vals: array<struct<lex,ok>>, errs: array<string>, isNull)`.
  * All pattern state is plan-time-compiled inside [[ResolvedColumn]];
  * codegen emits a single virtual call on a reference object, keeping the
  * operator inside WholeStageCodegen.
  */
case class CsvwCellExpr(child: Expression, col: ResolvedColumn) extends UnaryExpression {
  private lazy val evaluator = new CellEvaluator(col)

  override def dataType: DataType = ExprRuntime.cellType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    evaluator.eval(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellEval", evaluator, classOf[CellEvaluator].getName)
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        InternalRow ${ev.value} = $ref.eval(${childGen.isNull} ? null : ${childGen.value});
        boolean ${ev.isNull} = false;
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): CsvwCellExpr =
    copy(child = newChild)
}

/** Helper bound into codegen for [[UriTemplateExpandExpr]]. */
final class TemplateEvaluator(
    val template: UriTemplate.Compiled,
    val base: String,
    val varNames: Array[String]) extends Serializable {

  // plan-time fast path: a template whose literal head already carries a
  // URI scheme expands to an absolute IRI for every row — document-relative
  // resolution (prefix lookup + parse/recompose) can be skipped per row
  private val alwaysAbsolute: Boolean = template.parts.headOption.exists {
    case UriTemplate.Literal(t) =>
      // scheme-shaped AND not a compact-IRI prefix (rdf:, schema:, …)
      Iri.hasScheme(t) && !Iri.Prefixes.contains(t.takeWhile(_ != ':'))
    case _ => false
  }

  /** values: UTF8String | ArrayData(of UTF8String) | null per varNames slot. */
  def eval(values: Array[AnyRef]): UTF8String = {
    val m = scala.collection.mutable.HashMap.empty[String, Any]
    var i = 0
    while (i < varNames.length) {
      values(i) match {
        case null => // undefined
        case s: UTF8String => m.put(varNames(i), s.toString)
        case a: ArrayData =>
          m.put(varNames(i), a.toObjectArray(StringType)
            .map(x => if (x == null) "" else x.toString).toSeq)
        case other => m.put(varNames(i), other.toString)
      }
      i += 1
    }
    val expanded = template.expand(m)
    UTF8String.fromString(
      if (alwaysAbsolute) expanded else Iri.expand(base, expanded))
  }
}

/** RFC 6570 template expansion + document-relative IRI resolution
  * (`/root/reference/lib/rdf/tabular/metadata.rb:1958-1971`) as a codegen'd
  * N-ary expression. Children must be string or array<string> columns, in
  * `varNames` order. Template/base parsed once at plan time.
  */
case class UriTemplateExpandExpr(
    children: Seq[Expression],
    varNames: Seq[String],
    template: UriTemplate.Compiled,
    base: String) extends Expression {

  require(children.length == varNames.length)
  private lazy val evaluator =
    new TemplateEvaluator(template, base, varNames.toArray)

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any =
    evaluator.eval(children.map(_.eval(input).asInstanceOf[AnyRef]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tmplEval", evaluator, classOf[TemplateEvaluator].getName)
    val gens = children.map(_.genCode(ctx))
    val arr = ctx.freshName("tmplArgs")
    val fills = gens.zipWithIndex.map { case (g, i) =>
      s"$arr[$i] = ${g.isNull} ? null : (Object) ${g.value};"
    }.mkString("\n")
    ev.copy(
      code = code"""
        ${gens.map(_.code).reduceOption(_ + _).getOrElse(code"")}
        Object[] $arr = new Object[${children.length}];
        $fills
        UTF8String ${ev.value} = $ref.eval($arr);
        boolean ${ev.isNull} = false;
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): UriTemplateExpandExpr =
    copy(children = newChildren)
}

/** Emission config for one cell-valued part of [[LitTriplesExpr]]: the
  * column's language tag (null for `und`), its expanded datatype IRI (null
  * for `xsd:string`) and, for an ordered list, the column name its cons
  * bnodes carry (null otherwise). The plain-literal carve-out keys on the
  * EXPANDED datatype: a custom `@id` over base "string" emits a typed
  * literal with that IRI (`metadata.rb:2090`, `:2270`).
  */
final case class LitTripleSpec(lang: String, dtypeIri: String, listColumn: String)

object LitTripleSpec {
  private val XsdString = Xsd.expandedIri("string")

  /** `c`'s values as plain literals, or as an rdf:List when `list`. */
  def apply(c: ResolvedColumn, list: Boolean): LitTripleSpec = LitTripleSpec(
    lang = if (c.lang != "und") c.lang else null,
    dtypeIri = if (c.datatypeIri == XsdString) null else c.datatypeIri,
    listColumn = if (list) c.name else null)
}

/** Helper bound into codegen for [[LitTriplesExpr]]: builds the row's whole
  * `array<triple>` of cell-valued triples in one preallocated array fill.
  *
  * This is the one place a cell value becomes a literal
  * (`metadata.rb:2091-2096`, `:2263-2276`): a string keeps the column's
  * language tag and never takes a datatype; any other type carries its
  * datatype when the lexical form validated and falls back to the language
  * tag when it did not. An ordered-list part chains its values as an
  * rdf:List (`reader.rb:332-338`) with deterministic cons bnodes
  * `_:l<skolem>.<column>.<pos>`; an empty list is `rdf:nil`.
  */
final class TripleArrayEvaluator(val specs: Array[LitTripleSpec]) extends Serializable {
  private def utf8(s: String) = if (s == null) null else UTF8String.fromString(s)
  private val langs = specs.map(s => utf8(s.lang))
  private val dtypes = specs.map(s => utf8(s.dtypeIri))
  private val listMids = specs.map(s => utf8(if (s.listColumn == null) null else s".${s.listColumn}."))
  private val bnodePrefix = utf8("_:l")
  private val first = utf8(graft.mapper.Vocab.RdfFirst)
  private val rest = utf8(graft.mapper.Vocab.RdfRest)
  private val nil = utf8(graft.mapper.Vocab.RdfNil)

  private def bnode(skolem: UTF8String, i: Int, pos: Int): UTF8String =
    UTF8String.concat(bnodePrefix, skolem, listMids(i), UTF8String.fromString(pos.toString))

  /** parts: subject, predicate and cell `vals` (`array<struct<lex,ok>>`)
    * per spec, in spec order. */
  def eval(skolem: UTF8String, parts: Array[AnyRef]): ArrayData = {
    var total = 0
    var i = 0
    while (i < specs.length) {
      val n = parts(3 * i + 2).asInstanceOf[ArrayData].numElements()
      total += (if (listMids(i) == null) n else 1 + 2 * n)
      i += 1
    }
    val out = new Array[Any](total)
    var k = 0
    i = 0
    while (i < specs.length) {
      val subj = parts(3 * i).asInstanceOf[UTF8String]
      val pred = parts(3 * i + 1).asInstanceOf[UTF8String]
      val vals = parts(3 * i + 2).asInstanceOf[ArrayData]
      val n = vals.numElements()
      val list = listMids(i) != null
      var node = if (!list) subj else if (n == 0) nil else bnode(skolem, i, 0)
      if (list) { out(k) = InternalRow(subj, pred, node, true, null, null); k += 1 }
      var j = 0
      while (j < n) {
        val v = vals.getStruct(j, 2)
        val ok = v.getBoolean(1)
        val lang = if (dtypes(i) == null || !ok) langs(i) else null
        val dtype = if (ok) dtypes(i) else null
        out(k) = InternalRow(node, if (list) first else pred, v.getUTF8String(0), false, lang, dtype)
        k += 1
        if (list) {
          val next = if (j == n - 1) nil else bnode(skolem, i, j + 1)
          out(k) = InternalRow(node, rest, next, true, null, null)
          k += 1
          node = next
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Every triple of a row whose object is a cell value, as one fused codegen
  * call: plain-literal columns under any `aboutUrl`/`propertyUrl`, ordered
  * lists and standard mode's `csvw:title`. Children: the row's `__skolem`
  * (for list bnodes), then subject, predicate and cell `vals` per spec.
  * Constant predicates reach it as literals once Catalyst has folded their
  * templates.
  */
case class LitTriplesExpr(children: Seq[Expression], specs: Seq[LitTripleSpec])
    extends Expression {

  require(children.length == 1 + 3 * specs.length,
    s"expected 1 skolem + 3 x ${specs.length} parts, got ${children.length}")
  private lazy val evaluator = new TripleArrayEvaluator(specs.toArray)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("subj", StringType), StructField("pred", StringType),
    StructField("obj", StringType), StructField("obj_iri", BooleanType),
    StructField("lang", StringType), StructField("dtype", StringType))),
    containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    evaluator.eval(
      children.head.eval(input).asInstanceOf[UTF8String],
      children.tail.map(_.eval(input).asInstanceOf[AnyRef]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tripleEval", evaluator, classOf[TripleArrayEvaluator].getName)
    val skolemGen = children.head.genCode(ctx)
    val partGens = children.tail.map(_.genCode(ctx))
    val arr = ctx.freshName("parts")
    val fills = partGens.zipWithIndex.map { case (g, i) =>
      s"$arr[$i] = ${g.isNull} ? null : (Object) ${g.value};"
    }.mkString("\n")
    ev.copy(
      code = code"""
        ${skolemGen.code}
        ${partGens.map(_.code).reduceOption(_ + _).getOrElse(code"")}
        Object[] $arr = new Object[${partGens.length}];
        $fills
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $ref.eval(${skolemGen.isNull} ? null : ${skolemGen.value}, $arr);
        boolean ${ev.isNull} = false;
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LitTriplesExpr =
    copy(children = newChildren)
}

/** Helper bound into codegen for [[SimHash64Expr]]: one pass over the token
  * array (each token hashed ONCE) instead of 64 aggregate traversals — the
  * result is bit-for-bit the HOF formulation (bit 63−i = sign of the ±1 sum
  * over tokens' hash-bit i, hash = xxhash64 seed 42).
  */
object SimHashRuntime extends Serializable {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.catalyst.util.ArrayData

  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = XxHash64Function.hash(tokens.getUTF8String(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) { acc = (acc << 1) | (if (counts(b) > 0) 1L else 0L); b += 1 }
    acc
  }

  /** MinHash signature: sig[k] = min over shingles of xxhash64(shingle, k) —
    * the string hashed once per shingle (the HOF form re-hashed it k times),
    * then k cheap int-extension hashes, zero per-step array allocation.
    * Matches Spark's multi-child xxhash64 chaining: seed 42 → string → int.
    */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val acc = Array.fill[Long](numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h1 = XxHash64Function.hash(shingles.getUTF8String(i), StringType, 42L)
      var k = 0
      while (k < numHashes) {
        val hk = XxHash64Function.hash(k, IntegerType, h1)
        if (hk < acc(k)) acc(k) = hk
        k += 1
      }
      i += 1
    }
    new GenericArrayData(acc) // primitive Array[Long] overload
  }
}

/** Helper bound into codegen for [[SignSketchExpr]]: the hyperplane matrix
  * h(i, j) = ±1 from xxhash64 is DATA-INDEPENDENT, so it is computed once
  * per (planes, seed, dim) and cached on the evaluator — per row only
  * dim×planes multiply-adds remain (the HOF form re-hashed every (i, j)
  * pair for every row and traversed the embedding once per plane).
  * Bit-identical to the HOF form: same hash chaining (i → j [→ seed]),
  * same fold order, same sign rule (sum > 0).
  */
final class SignSketchEvaluator(val planes: Int, val seed: Int) extends Serializable {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  @transient @volatile private var signs: Array[Array[Double]] = _ // [plane][dim]

  private def signsFor(dim: Int): Array[Array[Double]] = {
    val cur = signs
    if (cur != null && cur(0).length >= dim) return cur
    synchronized {
      val c2 = signs
      if (c2 != null && c2(0).length >= dim) return c2
      val fresh = Array.tabulate(planes) { j =>
        Array.tabulate(math.max(dim, 64)) { i =>
          val h1 = XxHash64Function.hash(i, IntegerType, 42L)
          val h2 = XxHash64Function.hash(j, IntegerType, h1)
          val h = if (seed == 0) h2 else XxHash64Function.hash(seed, IntegerType, h2)
          ((h & 1L) * 2L - 1L).toDouble
        }
      }
      signs = fresh
      fresh
    }
  }

  /** isFloat: element type of the array (float widens to double per element,
    * matching the HOF form's implicit cast).
    */
  def eval(emb: ArrayData, isFloat: Boolean): Long = {
    val n = emb.numElements()
    var i = 0
    while (i < n) { if (emb.isNullAt(i)) return 0L; i += 1 } // null ⇒ all sums null ⇒ all bits 0
    val m = signsFor(n)
    var acc = 0L
    var j = 0
    while (j < planes) {
      val row = m(j)
      var s = 0.0d
      i = 0
      while (i < n) {
        val v = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
        s += v * row(i)
        i += 1
      }
      acc = (acc << 1) | (if (s > 0) 1L else 0L)
      j += 1
    }
    acc
  }
}

/** Random-hyperplane sign sketch over an embedding array as one fused
  * codegen call with a cached hyperplane matrix.
  */
case class SignSketchExpr(child: Expression, planes: Int, seed: Int)
    extends UnaryExpression {
  private lazy val evaluator = new SignSketchEvaluator(planes, seed)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"signSketch expects array<float|double>, got $other")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    evaluator.eval(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchEval", evaluator, classOf[SignSketchEvaluator].getName)
    defineCodeGen(ctx, ev, c => s"$ref.eval($c, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): SignSketchExpr =
    copy(child = newChild)
}

object ShingleRuntime extends Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val Sep = UTF8String.fromString(" ")

  /** Word n-gram shingles over a token array in ONE pass. Bit-identical to
    * the HOF formulation
    * `when(size(t) < n, array(concat_ws(" ", t)))
    *  .otherwise(transform(sequence(0, size(t)-n), i => concat_ws(" ", slice(t, i+1, n))))`
    * — which re-evaluated the whole token expression (a regex split) once
    * PER SHINGLE, because the lambda body references it outside the lambda
    * variable scope (measured ~1 ms/doc on 300-char texts; this is ~10 µs).
    */
  def shingles(tokens: ArrayData, n: Int): GenericArrayData = {
    val m = tokens.numElements()
    if (m < n) {
      val all = new Array[UTF8String](m)
      var i = 0
      while (i < m) { all(i) = tokens.getUTF8String(i); i += 1 }
      new GenericArrayData(Array[Any](UTF8String.concatWs(Sep, all: _*)))
    } else {
      val out = new Array[Any](m - n + 1)
      val win = new Array[UTF8String](n)
      var i = 0
      while (i <= m - n) {
        var j = 0
        while (j < n) { win(j) = tokens.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Sep, win: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

object TokenRuntime extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String

  // the tokens() splitter — compiled once per JVM, not per row
  private val Splitter = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}']+")

  /** Non-empty split segments, identical to
    * `filter(split(child, "[^\\p{L}\\p{N}']+", -1), t => length(t) > 0)`
    * (Spark's StringSplit delegates to the same java.util.regex split).
    * The HOF `filter` has no codegen, so its presence pushed every
    * downstream text expression out of WholeStageCodegen — fusing it also
    * lets codegen CSE share one tokenization across the several uses a
    * formula like qualityScore makes.
    */
  def tokens(text: UTF8String): GenericArrayData = {
    val parts = Splitter.split(text.toString, -1)
    var cnt = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) cnt += 1; i += 1 }
    val out = new Array[Any](cnt)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(j) = UTF8String.fromString(parts(i)); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Non-empty word tokens of a string as one fused codegen call. */
case class TokensExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    TokenRuntime.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.TokenRuntime$$.MODULE$$.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): TokensExpr =
    copy(child = newChild)
}

object CosineRuntime extends Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Cosine similarity in ONE pass with three scalar accumulators.
    * Bit-identical to the HOF composition
    * `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` with
    * `dot = aggregate(zip_with(a, b, _*_), 0.0, _+_)`: each accumulator sums
    * the same products in the same order, and the final
    * `dot / (sqrt(aa) * sqrt(bb))` matches `norm(a) * norm(b)` exactly. The
    * HOF form walks both arrays three times and allocates a product array
    * per pass — measurable at millions of candidate pairs per partition.
    * Null elements or length mismatch return null, as zip_with's null
    * padding + null-propagating arithmetic did.
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0d; var aa = 0.0d; var bb = 0.0d
    var i = 0
    if (aFloat && bFloat) {
      // float×float products stay FLOAT before the double accumulate,
      // exactly as zip_with's float lambda + aggregate's widening did
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = a.getFloat(i)
        val y = b.getFloat(i)
        dot += x * y; aa += x * x; bb += y * y
        i += 1
      }
    } else {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        dot += x * y; aa += x * x; bb += y * y
        i += 1
      }
    }
    dot / (math.sqrt(aa) * math.sqrt(bb))
  }
}

/** One-pass cosine similarity between two embedding arrays. */
case class CosineExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine expects array<float|double>, got $other")
  }
  private lazy val aFloat = isFloat(left)
  private lazy val bFloat = isFloat(right)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineRuntime.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rt = "graft.expr.CosineRuntime$.MODULE$"
    // fresh local: a raw name would collide when two cosine calls land in
    // the same codegen scope (silent whole-stage fallback, not an error)
    val r = ctx.freshName("cosRes")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""Object $r = $rt.cosine($a, $b, $aFloat, $bFloat);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Double) $r).doubleValue(); }""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
}

/** Word n-gram shingle array as one fused codegen call. */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1: $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    ShingleRuntime.shingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.ShingleRuntime$$.MODULE$$.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** Helper bound into codegen for [[IvfCellsExpr]]: centroid norms are
  * precomputed once, so per row each centroid costs one dot product plus a
  * division — the composed-Column alternative would emit C separate
  * cosine aggregates per row and stop scaling past small codebooks.
  * Ordering matches the exact re-rank: cosine = dot/(‖v‖·‖c‖) descending,
  * ties broken toward the lower centroid index.
  */
final class IvfCellsEvaluator(val centroids: Array[Array[Double]], val nprobe: Int)
    extends Serializable {
  require(centroids.nonEmpty, "IVF codebook is empty")
  require(nprobe >= 1 && nprobe <= centroids.length,
    s"nprobe out of [1,${centroids.length}]: $nprobe")
  private val cNorms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))

  def eval(emb: ArrayData, isFloat: Boolean): GenericArrayData = {
    val n = emb.numElements()
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return new GenericArrayData(Array.empty[Int])
      i += 1
    }
    val v = new Array[Double](n)
    var vv = 0.0d
    i = 0
    while (i < n) {
      val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
      v(i) = x; vv += x * x
      i += 1
    }
    val vNorm = math.sqrt(vv)
    if (vNorm == 0.0d) return new GenericArrayData(Array.empty[Int])
    val m = centroids.length
    val cos = new Array[Double](m)
    var j = 0
    while (j < m) {
      val c = centroids(j)
      val d = math.min(n, c.length)
      var s = 0.0d
      i = 0
      while (i < d) { s += v(i) * c(i); i += 1 }
      cos(j) = s / (vNorm * cNorms(j))
      j += 1
    }
    // partial selection of the nprobe best (cos desc, index asc): nprobe is
    // small (≤ ~32), so selection beats a full sort of the codebook
    val out = new Array[Int](nprobe)
    val taken = new Array[Boolean](m)
    var r = 0
    while (r < nprobe) {
      var best = -1
      j = 0
      while (j < m) {
        if (!taken(j) && (best < 0 || cos(j) > cos(best))) best = j
        j += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** Top-`nprobe` nearest IVF cells (centroid indices) for an embedding, as
  * one fused codegen call over a driver-provided codebook.
  */
case class IvfCellsExpr(child: Expression, evaluator: IvfCellsEvaluator)
    extends UnaryExpression {
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"ivfCells expects array<float|double>, got $other")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    evaluator.eval(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfEval", evaluator, classOf[IvfCellsEvaluator].getName)
    defineCodeGen(ctx, ev, c => s"$ref.eval($c, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCellsExpr =
    copy(child = newChild)
}

/** 64-bit SimHash over a token array as one fused codegen call. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    SimHashRuntime.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.SimHashRuntime$$.MODULE$$.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** MinHash signature over a shingle array as one fused codegen call. */
case class MinHashSigExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    SimHashRuntime.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.SimHashRuntime$$.MODULE$$.minhashSig($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object LineRuntime extends Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private val NL = UTF8String.fromString("\n")

  /** Reassemble kept document lines from `array<struct<pos:int,line:string>>`
    * in position order — the post-aggregation step of line-level dedup. The
    * composed-Column alternative (`array_sort` + `transform` + `array_join`)
    * is CodegenFallback (higher-order functions have no doGenCode), which
    * would knock the final aggregate projection out of whole-stage codegen;
    * this is one fused call. Arrays are per-document (bounded), so an
    * index sort is plenty.
    */
  def assemble(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val pos = new Array[Int](n)
    val lines = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 2)
      pos(i) = r.getInt(0)
      lines(i) = r.getUTF8String(1)
      i += 1
    }
    val order = Array.range(0, n).sortBy(pos)
    val sorted = new Array[UTF8String](n)
    i = 0
    while (i < n) { sorted(i) = lines(order(i)); i += 1 }
    UTF8String.concatWs(NL, sorted: _*)
  }
}

/** Position-ordered line reassembly as one fused codegen call. */
case class AssembleLinesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    LineRuntime.assemble(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.LineRuntime$$.MODULE$$.assemble($c)")

  override protected def withNewChildInternal(newChild: Expression): AssembleLinesExpr =
    copy(child = newChild)
}

/** Column-API entry points for the custom expressions. */
object CsvwFunctions {
  import org.apache.spark.sql.GraftBridge

  def csvwCell(c: Column, col: ResolvedColumn): Column =
    GraftBridge.column(CsvwCellExpr(GraftBridge.expression(c), col))

  def uriTemplate(template: UriTemplate.Compiled, base: String,
                  vars: Seq[(String, Column)]): Column =
    GraftBridge.column(UriTemplateExpandExpr(
      vars.map(v => GraftBridge.expression(v._2)), vars.map(_._1), template, base))

  /** parts: (subject, predicate, cell `vals`) per spec. */
  def litTriples(skolem: Column, parts: Seq[(Column, Column, Column)],
                 specs: Seq[LitTripleSpec]): Column =
    GraftBridge.column(LitTriplesExpr(
      (skolem +: parts.flatMap(p => Seq(p._1, p._2, p._3))).map(GraftBridge.expression), specs))

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64Expr(GraftBridge.expression(tokens)))

  def signSketch(emb: Column, planes: Int, seed: Int): Column =
    GraftBridge.column(SignSketchExpr(GraftBridge.expression(emb), planes, seed))

  def ivfCells(emb: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    GraftBridge.column(IvfCellsExpr(GraftBridge.expression(emb),
      new IvfCellsEvaluator(centroids, nprobe)))

  def minhashSig(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSigExpr(GraftBridge.expression(shingles), numHashes))

  def shingleArr(tokens: Column, n: Int): Column =
    GraftBridge.column(ShinglesExpr(GraftBridge.expression(tokens), n))

  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineExpr(GraftBridge.expression(a), GraftBridge.expression(b)))

  def tokensArr(text: Column): Column =
    GraftBridge.column(TokensExpr(GraftBridge.expression(text)))

  def assembleLines(posLines: Column): Column =
    GraftBridge.column(AssembleLinesExpr(GraftBridge.expression(posLines)))
}
