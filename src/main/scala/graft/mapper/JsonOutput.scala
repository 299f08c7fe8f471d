package graft.mapper

import graft.core.{Iri, Xsd}
import graft.model.ResolvedTable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** CSVW→JSON output (SURVEY.md §2.1 S7 / §2.7 T6), the analog of the
  * reference's `to_hash` (`/root/reference/lib/rdf/tabular/reader.rb:456-637`):
  * cells are grouped by their *expanded* `aboutUrl` into one describes
  * object per distinct subject; a `valueUrl` referenced exactly once whose
  * URL names another of the row's subjects is folded into its parent
  * (`reader.rb:605-614`); `rdf:type` property URLs become `@type` and IRIs
  * compact against the CSVW initial context.
  *
  * Execution shape: cell evaluation and URI-template expansion stay in the
  * codegen'd expression pipeline (one projection over the scan); the
  * per-row object assembly — inherently dynamic per-row JSON — runs as one
  * narrow `mapPartitions` over the staged columns. No shuffle, no driver
  * round-trip; at 100 TB this is a sink-format stage that parallelizes
  * per-partition like any write.
  */
object JsonOutput {

  private val RdfType = Vocab.RdfType

  /** Plan-time column facts shipped into the row builder. */
  private final case class JCol(
      name: String, suppressOutput: Boolean, virtual: Boolean,
      base: String, isList: Boolean,
      hasValueUrl: Boolean, isTitle: Boolean) extends Serializable

  /** Minimal-mode output: one JSON document string per *describes object*
    * (a row with several aboutUrl subjects emits several — `reader.rb:619`).
    */
  def minimalRows(df: DataFrame, table: ResolvedTable,
                  inputs: Map[String, Column],
                  skolem: Column, rownum: Column, sourceNum: Column): DataFrame =
    assembled(df, table, inputs, skolem, rownum, sourceNum)
      .select(explode(col("describes")).as("json"))

  /** Minimal-mode describes objects with their (row, within-row) position,
    * for document assembly in the reference's row order (`reader.rb:618-622`
    * concatenates per-row describes arrays).
    */
  def minimalRowsOrdered(df: DataFrame, table: ResolvedTable,
                         inputs: Map[String, Column],
                         skolem: Column, rownum: Column, sourceNum: Column): DataFrame =
    assembled(df, table, inputs, skolem, rownum, sourceNum)
      .select(col("rn").as("__rn"), posexplode(col("describes")).as(Seq("__pos", "json")))

  /** Standard-mode per-row objects `{"url":…,"rownum":…,"describes":[…]}`
    * plus row metadata for document assembly.
    */
  def describedRows(df: DataFrame, table: ResolvedTable,
                    inputs: Map[String, Column],
                    skolem: Column, rownum: Column, sourceNum: Column): DataFrame =
    assembled(df, table, inputs, skolem, rownum, sourceNum)
      .select(col("json"), col("rn").as("__rn"), col("src").as("__src"))

  // NOT private: a private nested case class makes Janino fail to resolve
  // the serializer's accessor calls ("No applicable constructor/method found
  // ... AssembledRow.json()"), silently dropping the whole output projection
  // to interpreter mode — the sink stage's hot path.
  final case class AssembledRow(
      json: String, describes: Seq[String], rn: Long, src: Long)

  private def assembled(df: DataFrame, table: ResolvedTable,
                        inputs: Map[String, Column],
                        skolem: Column, rownum: Column, sourceNum: Column): DataFrame = {
    val cols = table.columns
    val cells = RowCells(df, table, inputs, skolem, rownum, sourceNum)

    val nullS = lit(null).cast("string")
    val perCol: Seq[Column] = cols.map { c =>
      struct(
        cells.cell(c).as("cell"),
        c.aboutUrl.map(cells.expand(_, c)).getOrElse(nullS).as("about"),
        c.propertyUrl.map(cells.expand(_, c)).getOrElse(nullS).as("prop"),
        c.valueUrl.map(cells.expand(_, c)).getOrElse(nullS).as("value"))
    }
    val jcols = cols.map(c => JCol(Iri.pctDecode(c.name), c.suppressOutput, c.virtual,
      c.datatypeBase, c.separator.isDefined, c.valueUrl.isDefined,
      table.rowTitles.contains(c.name)))
    val tableUrl = table.url

    val narrow = cells.staged.select(
      col("__rownum") +: col("__srcnum") +: perCol: _*)
    narrow.mapPartitions { it =>
      val mapper = new ObjectMapper()
      it.map { row =>
        val rn = row.getLong(0)
        val src = row.getLong(1)
        val (rowNode, describes) =
          buildRow(mapper, tableUrl, jcols, rn, src, i => row.getStruct(2 + i))
        AssembledRow(mapper.writeValueAsString(rowNode),
          describes.map(mapper.writeValueAsString), rn, src)
      }
    }(Encoders.product[AssembledRow]).toDF()
  }

  /** One row's assembly, transcribing `reader.rb:543-620`. */
  private def buildRow(mapper: ObjectMapper, tableUrl: String, jcols: Seq[JCol],
                       rn: Long, src: Long,
                       colData: Int => Row): (ObjectNode, Seq[ObjectNode]) = {
    // subject -> describes object, in first-use order
    val a = new java.util.LinkedHashMap[String, ObjectNode]()
    // valueUrl -> (parent object, property, reference count)
    final case class Ref(co: ObjectNode, prop: String, var count: Int)
    val refs = new java.util.LinkedHashMap[String, Ref]()
    val titles = scala.collection.mutable.ArrayBuffer.empty[String]

    jcols.zipWithIndex.foreach { case (c, i) =>
      val data = colData(i)
      val cell = data.getStruct(data.fieldIndex("cell"))
      val vals = cell.getSeq[Row](cell.fieldIndex("vals"))
      val isNull = cell.getBoolean(cell.fieldIndex("isNull"))
      if (c.isTitle) vals.foreach(v => titles += v.getString(0))
      val about = data.getString(data.fieldIndex("about"))
      val propUrl = data.getString(data.fieldIndex("prop"))
      val valueUrl = data.getString(data.fieldIndex("value"))
      // cell.valueUrl is nil when the cell is null on a non-virtual column
      // (metadata.rb:1960-1961)
      val cellValueUrl = if (c.hasValueUrl && !(isNull && !c.virtual)) valueUrl else null

      val skip = c.suppressOutput ||
        (c.hasValueUrl && cellValueUrl == null) ||
        (!c.hasValueUrl && c.isList && vals.isEmpty) ||
        (!c.hasValueUrl && !c.isList && isNull)
      if (!skip) {
        val subject = if (about == null) "null" else about
        val co = a.computeIfAbsent(subject, s => {
          val n = mapper.createObjectNode()
          if (s != "null") n.put("@id", s)
          n
        })
        val prop =
          if (propUrl == null) c.name
          else if (propUrl == RdfType) "@type"
          else Iri.compactIri(propUrl)
        val valueNodes: Seq[JsonNode] =
          if (prop == "@type")
            Seq(TextNode.valueOf(Iri.compactIri(
              if (cellValueUrl != null) cellValueUrl else vals.head.getString(0))))
          else if (c.hasValueUrl) {
            if (subject != cellValueUrl) {
              val r = refs.computeIfAbsent(cellValueUrl, _ => Ref(co, prop, 0))
              r.count += 1
            }
            Seq(TextNode.valueOf(cellValueUrl))
          } else if (c.isList)
            Seq(listNode(mapper, c, vals))
          else
            Seq(typedNode(c, vals.head.getString(0), vals.head.getBoolean(1)))
        valueNodes.foreach(v => mergeCompacted(mapper, co, prop, v))
      }
    }

    // single-reference nesting (reader.rb:605-614)
    refs.forEach { (valueUrl, ref) =>
      if (ref.count == 1 && a.containsKey(valueUrl)) {
        val existing = ref.co.get(ref.prop)
        val nested = a.remove(valueUrl)
        existing match {
          case arr: ArrayNode =>
            val out = mapper.createArrayNode()
            arr.forEach { e =>
              if (e.isTextual && e.asText() == valueUrl) out.add(nested) else out.add(e)
            }
            if (out.size() == 1) ref.co.set[com.fasterxml.jackson.databind.JsonNode](ref.prop, out.get(0))
            else ref.co.set[com.fasterxml.jackson.databind.JsonNode](ref.prop, out)
          case e if e != null && e.isTextual && e.asText() == valueUrl =>
            ref.co.set[com.fasterxml.jackson.databind.JsonNode](ref.prop, nested)
          case _ => ()
        }
      }
    }

    val describes = scala.collection.mutable.ArrayBuffer.empty[ObjectNode]
    a.values().forEach(n => describes += n)

    val r = mapper.createObjectNode()
    // the row url REPLACES any fragment on the table url (metadata.rb:2134)
    r.put("url", s"${tableUrl.takeWhile(_ != '#')}#row=$src")
    r.put("rownum", rn)
    if (titles.nonEmpty) {
      if (titles.length == 1) r.put("titles", titles.head)
      else {
        val arr = r.putArray("titles"); titles.foreach(arr.add)
      }
    }
    val dArr = r.putArray("describes")
    describes.foreach(dArr.add)
    (r, describes.toSeq)
  }

  private def listNode(mapper: ObjectMapper, c: JCol, vals: Seq[Row]): JsonNode = {
    val arr = mapper.createArrayNode()
    vals.foreach(v => arr.add(typedNode(c, v.getString(0), v.getBoolean(1))))
    arr
  }

  /** Native JSON typing per `reader.rb:585-600`: integer family →
    * arbitrary-precision integer (no Long-overflow nulls), other numerics →
    * double (NaN/INF stay strings, as the reference keeps the literal),
    * boolean → boolean; invalid cells (`ok=false`) degrade to the string
    * lexical, never dropped.
    */
  private def typedNode(c: JCol, lex: String, ok: Boolean): JsonNode = {
    if (!ok) return TextNode.valueOf(lex)
    if (c.base == "boolean")
      com.fasterxml.jackson.databind.node.BooleanNode.valueOf(lex == "true")
    else if (Xsd.IntegerBases.contains(c.base))
      try com.fasterxml.jackson.databind.node.BigIntegerNode.valueOf(new java.math.BigInteger(lex))
      catch { case _: NumberFormatException => TextNode.valueOf(lex) }
    else if (Xsd.NumericBases.contains(c.base)) {
      val d = try lex.toDouble catch { case _: NumberFormatException => Double.NaN }
      if (d.isNaN || d.isInfinite) TextNode.valueOf(lex)
      else com.fasterxml.jackson.databind.node.DoubleNode.valueOf(d)
    } else TextNode.valueOf(lex)
  }

  /** `merge_compacted_value`: absent → scalar; present → array append. */
  private def mergeCompacted(mapper: ObjectMapper, co: ObjectNode,
                             prop: String, v: JsonNode): Unit =
    co.get(prop) match {
      case null => co.set[com.fasterxml.jackson.databind.JsonNode](prop, v)
      case arr: ArrayNode => arr.add(v)
      case prev =>
        val arr = mapper.createArrayNode(); arr.add(prev); arr.add(v)
        co.set[com.fasterxml.jackson.databind.JsonNode](prop, arr)
    }

  /** JSON-friendly common-property value (`metadata.rb:959-980`, the
    * non-block branch of `common_properties`): `@value` objects unwrap to
    * the value, `@id`-only objects flatten to the IRI string, node objects
    * keep `@id`/`@type` and compact members recursively, arrays map,
    * primitives pass through.
    */
  def compactCommon(mapper: ObjectMapper, n: JsonNode): JsonNode = {
    if (n.isArray) {
      val arr = mapper.createArrayNode()
      n.elements().forEachRemaining(e => arr.add(compactCommon(mapper, e)))
      arr
    } else if (n.isObject) {
      if (n.has("@value")) n.get("@value")
      else if (n.size() == 1 && n.has("@id")) n.get("@id")
      else {
        val o = mapper.createObjectNode()
        n.properties().forEach { e =>
          e.getKey match {
            case "@id" | "@type" => o.set[JsonNode](e.getKey, e.getValue)
            case k => o.set[JsonNode](k, compactCommon(mapper, e.getValue))
          }
        }
        o
      }
    } else n
  }

  /** Whole-group JSON document, the `to_hash` analog (`reader.rb:456-637`),
    * written to `w`: minimal mode concatenates every table's describes
    * objects in row order; standard mode nests `{"@id"?, common…,
    * "tables": [{"@id"?, "url", common…, "notes"?, "row": […]}]}`.
    * `parts` carries, per non-suppressed table, the DataFrame from
    * [[minimalRowsOrdered]] (minimal) or [[describedRows]] (standard).
    *
    * Each table's rows go through one range-partitioned sort, then stream
    * to `w` through `toLocalIterator` in order, so the driver holds one row
    * at a time and the document may exceed its heap. In standard mode the
    * headers (`@id`, common properties, table `url`) are serialized through
    * Jackson and the streamed `row` array is spliced in as their last member.
    */
  def writeDocument(group: graft.model.TableGroupMeta,
                    parts: Seq[(graft.model.TableMeta, ResolvedTable, DataFrame)],
                    minimal: Boolean, w: java.io.Writer): Unit = {
    var sep = ""
    def rows(df: DataFrame, order: Column*): Unit = {
      val it = df.orderBy(order: _*).select(col("json")).toLocalIterator()
      while (it.hasNext) {
        w.write(sep)
        sep = ","
        w.write(it.next().getString(0))
      }
    }
    if (minimal) {
      w.write("[")
      parts.foreach { case (_, _, ordered) => rows(ordered, col("__rn"), col("__pos")) }
      w.write("]")
    } else {
      val mapper = new ObjectMapper()
      // notes is always an array (reader.rb:474-475); same rule at group
      // and table level
      def putCommon(node: ObjectNode, common: Seq[(String, String)]): Unit =
        common.foreach { case (k, raw) =>
          val v = compactCommon(mapper, mapper.readTree(raw))
          val wrapped =
            if (k == "notes" && !v.isArray) { val a = mapper.createArrayNode(); a.add(v); a }
            else v
          node.set[JsonNode](k, wrapped)
        }
      // serialize a header object and reopen it so a trailing member can be
      // appended: "{}" -> "{", "{...}" -> "{...,"
      def opened(node: ObjectNode): String = {
        val s = mapper.writeValueAsString(node)
        if (s == "{}") "{" else s.dropRight(1) + ","
      }
      val root = mapper.createObjectNode()
      group.id.foreach(root.put("@id", _))
      putCommon(root, group.common)
      w.write(opened(root))
      w.write("\"tables\":[")
      parts.zipWithIndex.foreach { case ((tm, rt, described), i) =>
        if (i > 0) w.write(",")
        val tNode = mapper.createObjectNode()
        tm.id.foreach(tNode.put("@id", _))
        tNode.put("url", rt.url)
        putCommon(tNode, tm.common)
        w.write(opened(tNode))
        w.write("\"row\":[")
        sep = ""
        rows(described, col("__rn"))
        w.write("]}")
      }
      w.write("]}")
    }
  }
}
