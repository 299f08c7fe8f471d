package graft.model

import graft.core.{Iri, Uax35Date, Uax35Number, Xsd}
import graft.model.CsvwValidate.Report

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

/** The one CSVW metadata JSON(-LD) reader, driver-side, using the Jackson
  * that ships with Spark. One walk over a document builds the model and
  * records each object's warnings and errors (the reference's `validate!`,
  * `metadata.rb:570-830`, which checks the same object tree it parsed) into
  * the [[CsvwValidate.Report]] on the returned [[TableGroupMeta]]; every
  * loader returns that group, so the report reaches the pipeline whatever
  * the input was. Type dispatch follows the reference's `@type` / property
  * fingerprint (`metadata.rb:255-310`): `tables` → TableGroup, `url` →
  * Table, `columns` → Schema. Any other document, and malformed JSON, throws.
  */
object CsvwJson {

  private val mapper = new ObjectMapper()

  /** Accepts a TableGroup, a bare Table, or a bare Schema document and
    * normalizes to a TableGroup (as the reference's `for_input` does).
    */
  def parseTableGroup(json: String): TableGroupMeta = {
    val n = mapper.readTree(json)
    val tpe = optText(n, "@type")
    val ctxLang = contextLanguage(n)
    val isGroup = n.has("tables") || tpe.contains("TableGroup")
    // FK resources name tables of this document, compared as written;
    // a standalone schema's FKs have no table to name
    val tables = if (isGroup) elements(n, "tables") else List(n)
    val urls = tables.flatMap(t => Option(t.get("url")).map(_.asText())).toSet
    val w = new Walk(ctxLang, urls)
    val group =
      if (isGroup) {
        w.check("TableGroup", n)
        if (tables.isEmpty) w.error("TableGroup has invalid property 'tables': must not be empty")
        TableGroupMeta(
          tables = tables.map(w.table),
          dialect = Option(n.get("dialect")).map(w.dialect),
          id = optText(n, "@id"),
          inherited = w.inherited(n),
          common = commonFrom(n),
          transformations = w.transformations(n),
          contextLang = ctxLang)
      } else if (n.has("url") || tpe.contains("Table")) {
        TableGroupMeta(tables = List(w.table(n)), contextLang = ctxLang)
      } else if (n.has("columns") || tpe.contains("Schema")) {
        TableGroupMeta(tables = List(TableMeta(url = "", tableSchema = Some(w.schema(n)))),
          contextLang = ctxLang)
      } else throw new IllegalArgumentException("unrecognized CSVW metadata document")
    group.copy(report = w.report)
  }

  /** Fills each `"tableSchema": "<url>"` indirection (`metadata.rb:553-564`
    * link properties) from the schema document `fetch(url)` returns. The
    * fetched document carries its own JSON-LD context (its `@language` tags
    * the bare titles it declares). Its report joins the group's, and its FK
    * resources are checked against the group's tables, resolved against
    * `base` as the pipeline routes them.
    */
  def withFetchedSchemas(group: TableGroupMeta, base: String)(fetch: String => String): TableGroupMeta = {
    val isTable = (r: String) => group.tables.exists(_.url == Iri.resolve(base, r))
    val fetched = group.tables.map { t =>
      t.schemaRef match {
        case Some(ref) if t.tableSchema.isEmpty =>
          val n = mapper.readTree(fetch(ref))
          val w = new Walk(contextLanguage(n), isTable)
          (t.copy(tableSchema = Some(w.schema(n))), w.report)
        case _ => (t, Report.empty)
      }
    }
    group.copy(tables = fetched.map(_._1), report = fetched.map(_._2).foldLeft(group.report)(_ ++ _))
  }

  /** Appends a table's embedded comment rows to its `rdfs:comment` common
    * property. They merge into a declared value rather than add a second
    * pair: JSON output stores common properties by key, so a duplicate key
    * would overwrite the declared value, while the reference
    * coerces-and-appends (`metadata.rb:1860`
    * `(metadata["rdfs:comment"] ||= []) << value`). RDF emission is
    * unchanged — an array value emits one triple per element.
    */
  def withComments(t: TableMeta, comments: Seq[String]): TableMeta =
    if (comments.isEmpty) t
    else {
      val arr = mapper.createArrayNode()
      t.common.collectFirst { case ("rdfs:comment", raw) => mapper.readTree(raw) }.foreach {
        case a: ArrayNode => arr.addAll(a)
        case other => arr.add(other)
      }
      comments.foreach(arr.add)
      t.copy(common = t.common.filterNot(_._1 == "rdfs:comment") :+
        ("rdfs:comment" -> mapper.writeValueAsString(arr)))
    }

  /** Default language from the JSON-LD context: `"@context":
    * ["http://www.w3.org/ns/csvw", {"@language": "en"}]`
    * (`metadata.rb:1196-1207`). Applies to natural-language and common
    * properties, NOT to cell values (those use the inherited `lang`).
    */
  private def contextLanguage(n: JsonNode): Option[String] =
    Option(n.get("@context")).toList.flatMap { c =>
      val objs = if (c.isArray) c.elements().asScala.toList else List(c)
      objs.filter(_.isObject).flatMap(o => optText(o, "@language"))
    }.headOption

  /** Common properties: any key containing ':' plus `notes`
    * (`metadata.rb:923-981` / `reader.rb:186-192`). */
  private def commonFrom(n: JsonNode): List[(String, String)] =
    n.properties().asScala.toList
      .filter(e => e.getKey.contains(":") || e.getKey == "notes")
      .map(e => e.getKey -> e.getValue.toString)

  /** One document's walk: builds each object and records its warnings and
    * errors. `ctxLang` is the document's context `@language`: the reference's
    * normalize!/set_nl applies it to every natural-language property, so it
    * tags bare (string/array) titles and leads column-name lookup.
    * `isTable` tells whether a FK `resource` names a table of the group.
    */
  private final class Walk(ctxLang: Option[String], isTable: String => Boolean) {
    private val dl = ctxLang.getOrElse("und")
    private val warnings, errors = ListBuffer.empty[String]
    def warn(m: String): Unit = warnings += m
    def error(m: String): Unit = errors += m
    def report: Report = Report(warnings.toList, errors.toList)

    /** Unknown keys (`metadata.rb:585-588`): keys outside the object's
      * vocabulary that are not common properties (`prefix:name`) or JSON-LD
      * keywords warn. Wrong-typed known properties warn and are ignored
      * (`metadata.rb:1211-1223` set_property); the model already ignores them.
      */
    def check(kind: String, n: JsonNode): Unit = {
      val keys = keysOf(n)
      val extra = keys
        .filterNot(k => k == "@id" || k == "@context" || k == "notes")
        .filterNot(k => kind != "Dialect" && k.contains(":"))
        .filterNot(Keys(kind))
      if (extra.nonEmpty) warn(s"$kind has unexpected keys: $extra")
      val spec = TypeSpecs.getOrElse(kind, Map.empty)
      keys.foreach { k =>
        spec.get(k).foreach { case (ok, expected) =>
          if (!ok(n.get(k))) warn(s"$kind has invalid property '$k' (${n.get(k)}): expected $expected")
        }
      }
    }

    def table(n: JsonNode): TableMeta = {
      check("Table", n)
      if (!n.has("url")) error("Table missing required keys: url")
      TableMeta(
        url = optText(n, "url").getOrElse(""),
        tableSchema = Option(n.get("tableSchema")).filter(_.isObject).map(schema),
        schemaRef = optText(n, "tableSchema"),
        suppressOutput = optBool(n, "suppressOutput").getOrElse(false),
        dialect = Option(n.get("dialect")).map(dialect),
        notes = strings(n.get("notes")),
        id = optText(n, "@id"),
        inherited = inherited(n),
        common = commonFrom(n),
        transformations = transformations(n))
    }

    /** `transformations` array → Template metadata objects
      * (`metadata.rb:1663-1693`). Parsed, validated, surfaced — never
      * executed (parity with the reference, which yields them as metadata
      * without running scripts). url/targetFormat/scriptFormat are REQUIRED;
      * scriptFormat/targetFormat must be valid absolute URLs; source, when
      * present, must be json or rdf.
      */
    def transformations(parent: JsonNode): List[TransformationMeta] =
      Option(parent.get("transformations")) match {
        case None => Nil
        case Some(txs) if !txs.isArray =>
          error("transformations must be an array")
          Nil
        case Some(txs) => txs.elements().asScala.toList.map { t =>
          check("Transformation", t)
          val missing = Seq("url", "targetFormat", "scriptFormat").filterNot(k => optText(t, k).isDefined)
          if (missing.nonEmpty)
            error(s"Transformation missing required keys: ${missing.mkString(", ")}")
          val tm = TransformationMeta(
            url = optText(t, "url").getOrElse(""),
            targetFormat = optText(t, "targetFormat"),
            scriptFormat = optText(t, "scriptFormat"),
            source = optText(t, "source"),
            titles = Option(t.get("titles")).map(titleStrings).getOrElse(Nil),
            id = optText(t, "@id"))
          Seq("targetFormat" -> tm.targetFormat, "scriptFormat" -> tm.scriptFormat).foreach {
            case (k, Some(v)) if !scala.util.Try(new java.net.URI(v).isAbsolute).getOrElse(false) =>
              error(s"Transformation has invalid property '$k': must be a valid absolute URL: $v")
            case _ =>
          }
          tm.source.filterNot(s => s == "json" || s == "rdf").foreach { s =>
            error(s"Transformation has invalid property 'source': expected json or rdf, got $s")
          }
          tm
        }
      }

    def schema(n: JsonNode): SchemaMeta = {
      check("Schema", n)
      val cols = elements(n, "columns").map(column)
      // names as resolution makes them, context language first
      val names = cols.zipWithIndex.map { case (c, i) => Resolve.columnName(c, i + 1, contextLang = ctxLang) }
      // unique names (metadata.rb:604-605)
      if (names.distinct != names)
        error(s"Schema has invalid property 'columns': must have unique names: $names")
      // virtual columns must come after all non-virtual ones (tabular-metadata §5.6)
      if (cols.dropWhile(!_.virtual).exists(!_.virtual))
        error("Schema has invalid property 'columns': virtual columns must appear after all non-virtual columns")
      val primaryKey = strings(n.get("primaryKey"))
      val rowTitles = strings(n.get("rowTitles"))
      // primaryKey / rowTitles column references must exist (warn + reference drops them)
      for ((key, refs) <- Seq("primaryKey" -> primaryKey, "rowTitles" -> rowTitles); k <- refs)
        if (!names.contains(k)) warn(s"Schema has invalid property '$key': column reference not found $k")
      SchemaMeta(
        columns = cols,
        primaryKey = primaryKey,
        foreignKeys = elements(n, "foreignKeys").flatMap(foreignKey(_, names)),
        rowTitles = rowTitles,
        inherited = inherited(n))
    }

    /** Foreign keys (`metadata.rb:621-668`). One without a `columnReference`
      * or an object `reference` is an error and is not modelled.
      */
    private def foreignKey(fk: JsonNode, names: List[String]): Option[ForeignKeyMeta] = {
      def fkError(m: String): Unit = error(s"Schema has invalid property 'foreignKeys': $m")
      val colRef = Option(fk.get("columnReference"))
      val ref = Option(fk.get("reference"))
      if (colRef.isEmpty || ref.isEmpty) fkError("missing columnReference and reference")
      if (keysOf(fk).size != 2) fkError(s"has extra entries ${keysOf(fk)}")
      val columns = strings(fk.get("columnReference"))
      columns.filterNot(names.contains).foreach(k => fkError(s"columnReference not found $k"))
      ref.flatMap { rf =>
        if (!rf.isObject) {
          fkError(s"reference must be an object $rf")
          None
        } else {
          val extra = keysOf(rf).filterNot(FkReferenceKeys)
          if (extra.nonEmpty) fkError(s"reference has extra entries $extra")
          if (rf.has("resource") && rf.has("schemaReference"))
            fkError("reference has a schemaReference and a resource")
          val resource = optText(rf, "resource")
          resource.filterNot(isTable).foreach(url => fkError(s"table referenced by $url not found"))
          colRef.map(_ => ForeignKeyMeta(
            columnReference = columns,
            resource = resource.orElse(optText(rf, "schemaReference")).getOrElse(""),
            referencedColumns = strings(rf.get("columnReference"))))
        }
      }
    }

    private def column(n: JsonNode): ColumnMeta = {
      check("Column", n)
      // @id must not be a blank node (metadata.rb:800-803)
      optText(n, "@id").filter(_.startsWith("_:")).foreach { id =>
        error(s"Column has invalid property '@id': $id, must not start with '_:'")
      }
      ColumnMeta(
        name = optText(n, "name"),
        titles = Option(n.get("titles")).map(titleStrings).getOrElse(Nil),
        virtual = optBool(n, "virtual").getOrElse(false),
        suppressOutput = optBool(n, "suppressOutput").getOrElse(false),
        inherited = inherited(n))
    }

    def dialect(n: JsonNode): DialectMeta = {
      if (n.isObject) check("Dialect", n)
      DialectMeta(
        delimiter = optText(n, "delimiter").getOrElse(","),
        quoteChar = optText(n, "quoteChar").getOrElse("\""),
        doubleQuote = optBool(n, "doubleQuote").getOrElse(true),
        encoding = optText(n, "encoding").getOrElse("utf-8"),
        header = optBool(n, "header").getOrElse(true),
        headerRowCount = optInt(n, "headerRowCount"),
        skipRows = optInt(n, "skipRows").getOrElse(0),
        skipColumns = optInt(n, "skipColumns").getOrElse(0),
        skipBlankRows = optBool(n, "skipBlankRows").getOrElse(false),
        skipInitialSpace = optBool(n, "skipInitialSpace").getOrElse(false),
        trim = optText(n, "trim").orElse(optBool(n, "trim").map(_.toString)),
        commentPrefix = optText(n, "commentPrefix"),
        lineTerminators = Option(n.get("lineTerminators")).map(strings)
          .getOrElse(List("\r\n", "\n")))
    }

    def inherited(n: JsonNode): Inherited = Inherited(
      aboutUrl = optText(n, "aboutUrl"),
      datatype = Option(n.get("datatype")).map(datatype),
      default = optText(n, "default"),
      lang = optText(n, "lang"),
      nulls = Option(n.get("null")).map(strings),
      ordered = optBool(n, "ordered"),
      propertyUrl = optText(n, "propertyUrl"),
      required = optBool(n, "required"),
      separator = optText(n, "separator"),
      textDirection = optText(n, "textDirection"),
      valueUrl = optText(n, "valueUrl"))

    private def datatype(d: JsonNode): DatatypeMeta = {
      val dt =
        if (d.isTextual) DatatypeMeta(base = d.asText())
        else DatatypeMeta(
          base = optText(d, "base").getOrElse("string"),
          format = Option(d.get("format")).map { f =>
            if (f.isTextual) FormatSpec(pattern = Some(f.asText()))
            else FormatSpec(
              pattern = optText(f, "pattern"),
              groupChar = optText(f, "groupChar"),
              decimalChar = optText(f, "decimalChar"))
          },
          length = optInt(d, "length"),
          minLength = optInt(d, "minLength"),
          maxLength = optInt(d, "maxLength"),
          minimum = optNumText(d, "minimum"),
          maximum = optNumText(d, "maximum"),
          minInclusive = optNumText(d, "minInclusive"),
          maxInclusive = optNumText(d, "maxInclusive"),
          minExclusive = optNumText(d, "minExclusive"),
          maxExclusive = optNumText(d, "maxExclusive"),
          id = optText(d, "@id"))
      if (!(Xsd.SupportedBases.contains(dt.base) || Xsd.UnsupportedBases.contains(dt.base)))
        error(s"Datatype has invalid base: ${dt.base}")
      if (!d.isTextual) checkDatatype(d, dt)
      dt
    }

    private def checkDatatype(d: JsonNode, dt: DatatypeMeta): Unit = {
      check("Datatype", d)
      val base = dt.base
      // Datatype @id must not name a built-in (metadata.rb:804-807)
      dt.id.foreach { id =>
        if (id.startsWith("_:"))
          error(s"Datatype has invalid property '@id': $id, must not start with '_:'")
        else if (id == Xsd.expandedIri(base) || Xsd.SupportedBases.exists(b => Xsd.expandedIri(b) == id))
          error(s"Datatype has invalid property '@id': $id, must not be the URL of a built-in datatype")
      }

      val canonical = Xsd.canonicalBase(base)
      val isNumeric = Xsd.NumericBases.contains(canonical)
      val isDate = Xsd.DateTimeBases.contains(canonical)

      // format validity (metadata.rb:671-726): invalid formats warn and are ignored
      Option(d.get("format")).foreach { f =>
        val p = dt.format.flatMap(_.pattern)
        if (f.isObject) {
          if (!isNumeric)
            warn("Datatype has invalid property 'format': Object form only allowed on numeric datatypes")
          else p.flatMap(numberPatternError(_, optText(f, "groupChar").getOrElse(","),
              optText(f, "decimalChar").getOrElse(".")))
            .foreach(e => warn(s"Datatype has invalid property 'format' pattern: $e"))
        } else if (f.isTextual) {
          val invalid =
            if (canonical == "boolean")
              p.filter(_.split("\\|", -1).length != 2).map(_ =>
                "annotation provides the true and false values expected, separated by '|'")
            else if (isNumeric) p.flatMap(numberPatternError(_, ",", "."))
            else if (isDate) p.flatMap(patternError(Uax35Date.compile))
            else p.flatMap(patternError(q => java.util.regex.Pattern.compile(q)))
          invalid.foreach(e => warn(s"Datatype has invalid property 'format': $e"))
        }
      }

      // length facets (metadata.rb:727-746)
      for (l <- dt.length; m <- dt.minLength; if l < m)
        error("Datatype has invalid property 'minLength': both length and minLength requires length be greater than or equal to minLength")
      for (l <- dt.length; m <- dt.maxLength; if l > m)
        error("Datatype has invalid property 'maxLength': both length and maxLength requires length be less than or equal to maxLength")
      for (mn <- dt.minLength; mx <- dt.maxLength; if mn > mx)
        error("Datatype has invalid property 'maxLength': both minLength and maxLength requires minLength be less than or equal to maxLength")
      if (Seq(dt.length, dt.minLength, dt.maxLength).exists(_.isDefined) && !StringOrBinary.contains(base))
        error("Datatype has invalid length facets: only allowed on string or binary datatypes")

      // range facets (metadata.rb:747-782)
      val rangeKeys = Seq("minimum", "maximum", "minInclusive", "maxInclusive", "minExclusive", "maxExclusive")
      if (rangeKeys.exists(d.has) &&
          !(isNumeric || isDate || Xsd.DurationBases.contains(canonical)))
        error("Datatype has invalid range facets: only allowed on numeric, date/time or duration datatypes")
      def num(v: Option[String]): Option[BigDecimal] = v.flatMap(s => scala.util.Try(BigDecimal(s)).toOption)
      val minI = num(dt.minimum).orElse(num(dt.minInclusive))
      val maxI = num(dt.maximum).orElse(num(dt.maxInclusive))
      val minE = num(dt.minExclusive)
      val maxE = num(dt.maxExclusive)
      if ((d.has("minimum") || d.has("minInclusive")) && d.has("minExclusive"))
        error("Datatype cannot specify both minInclusive and minExclusive")
      if ((d.has("maximum") || d.has("maxInclusive")) && d.has("maxExclusive"))
        error("Datatype cannot specify both maxInclusive and maxExclusive")
      for (a <- minI; b <- maxI; if b < a) error("Datatype maxInclusive < minInclusive")
      for (a <- minI; b <- maxE; if b <= a) error("Datatype maxExclusive <= minInclusive")
      for (a <- minE; b <- maxE; if b < a) error("Datatype maxExclusive < minExclusive")
      for (a <- minE; b <- maxI; if b <= a) error("Datatype maxInclusive <= minExclusive")
    }

    /** titles may be a string, array, or language map (`metadata.rb:1138-1139`);
      * normalized to ordered (lang, title) pairs. Bare (string / array)
      * titles take the context language, "und" when none; language-map keys
      * are always explicit.
      */
    private def titleStrings(n: JsonNode): List[(String, String)] =
      if (n.isTextual) List(dl -> n.asText())
      else if (n.isArray) n.elements().asScala.filter(_.isTextual).map(dl -> _.asText()).toList
      else if (n.isObject) n.properties().asScala.toList
        .flatMap(e => strings(e.getValue).map(e.getKey -> _))
      else Nil
  }

  private def numberPatternError(p: String, groupChar: String, decimalChar: String): Option[String] =
    patternError(q => Uax35Number.compile(Some(q), groupChar, decimalChar))(p)

  private def patternError(compile: String => Any)(p: String): Option[String] =
    try { compile(p); None }
    catch { case e: IllegalArgumentException => Some(e.getMessage) }

  // expected property sets per object kind (metadata.rb PROPERTIES tables)
  private val InheritedKeys = Set(
    "aboutUrl", "datatype", "default", "lang", "null", "ordered",
    "propertyUrl", "required", "separator", "textDirection", "valueUrl")
  private val Keys: Map[String, Set[String]] = Map(
    "TableGroup" -> (Set("@id", "@context", "@type", "tables", "dialect", "notes",
      "tableDirection", "tableSchema", "transformations") ++ InheritedKeys),
    "Table" -> (Set("@id", "@type", "url", "dialect", "notes", "suppressOutput",
      "tableDirection", "tableSchema", "transformations") ++ InheritedKeys),
    "Schema" -> (Set("@id", "@type", "columns", "foreignKeys", "primaryKey", "rowTitles") ++ InheritedKeys),
    "Column" -> (Set("@id", "@type", "name", "suppressOutput", "titles", "virtual") ++ InheritedKeys),
    "Datatype" -> Set("@id", "@type", "base", "format", "length", "minLength", "maxLength",
      "minimum", "maximum", "minInclusive", "maxInclusive", "minExclusive", "maxExclusive"),
    "Dialect" -> Set("@id", "@type", "commentPrefix", "delimiter", "doubleQuote", "encoding",
      "header", "headerRowCount", "lineTerminators", "quoteChar",
      "skipBlankRows", "skipColumns", "skipInitialSpace", "skipRows", "trim"),
    "Transformation" -> Set("@id", "@type", "source", "targetFormat", "scriptFormat", "titles", "url"))
  private val FkReferenceKeys = Set("resource", "schemaReference", "columnReference")
  private val StringOrBinary = Set("string", "normalizedString", "token", "language",
    "Name", "NMTOKEN", "hexBinary", "base64Binary", "binary")

  private val Bool = (n: JsonNode) => n.isBoolean
  private val NonNegInt = (n: JsonNode) => n.isIntegralNumber && n.asLong() >= 0
  private val Str = (n: JsonNode) => n.isTextual
  private val StrOrArray = (n: JsonNode) => n.isTextual || n.isArray
  private val NaturalLang = (n: JsonNode) => n.isTextual || n.isArray || n.isObject
  private val Direction = (n: JsonNode) => n.isTextual && Set("ltr", "rtl", "auto")(n.asText())
  private val TypeSpecs: Map[String, Map[String, (JsonNode => Boolean, String)]] = Map(
    "TableGroup" -> Map(
      "tableDirection" -> (Direction, "ltr, rtl or auto")),
    "Table" -> Map(
      "url" -> (Str, "a string"),
      "suppressOutput" -> (Bool, "a boolean"),
      "tableDirection" -> (Direction, "ltr, rtl or auto")),
    "Schema" -> Map(
      "primaryKey" -> (StrOrArray, "a column reference"),
      "rowTitles" -> (StrOrArray, "a column reference")),
    "Column" -> Map(
      // proper name format (`metadata.rb:1617` + NAME_SYNTAX `:108`): a
      // syntax-invalid explicit name warns and is ignored — resolution
      // falls back to the encoded title (Resolve.columnName)
      "name" -> (((n: JsonNode) => n.isTextual &&
        Resolve.NameSyntax.matches(n.asText())), "proper name format"),
      "titles" -> (NaturalLang, "a string, array or language map"),
      "virtual" -> (Bool, "a boolean"),
      "suppressOutput" -> (Bool, "a boolean"),
      "required" -> (Bool, "a boolean"),
      "ordered" -> (Bool, "a boolean"),
      "separator" -> (Str, "a string"),
      "default" -> (Str, "a string"),
      "lang" -> (Str, "a language tag"),
      "null" -> (StrOrArray, "a string or array"),
      "aboutUrl" -> (Str, "a URI template"),
      "propertyUrl" -> (Str, "a URI template"),
      "valueUrl" -> (Str, "a URI template")),
    "Dialect" -> Map(
      "delimiter" -> (Str, "a string"),
      "quoteChar" -> ((n: JsonNode) => n.isTextual || n.isNull, "a string or null"),
      "commentPrefix" -> (Str, "a string"),
      "encoding" -> (Str, "a string"),
      "doubleQuote" -> (Bool, "a boolean"),
      "header" -> (Bool, "a boolean"),
      "skipBlankRows" -> (Bool, "a boolean"),
      "skipInitialSpace" -> (Bool, "a boolean"),
      "skipRows" -> (NonNegInt, "a non-negative integer"),
      "skipColumns" -> (NonNegInt, "a non-negative integer"),
      "headerRowCount" -> (NonNegInt, "a non-negative integer"),
      "lineTerminators" -> (StrOrArray, "a string or array"),
      "trim" -> ((n: JsonNode) => n.isBoolean ||
        (n.isTextual && Set("true", "false", "start", "end")(n.asText())), "true, false, start or end")))

  private def keysOf(n: JsonNode): List[String] = n.properties().asScala.toList.map(_.getKey)
  private def elements(n: JsonNode, f: String): List[JsonNode] =
    Option(n.get(f)).toList.flatMap(_.elements().asScala)
  private def optText(n: JsonNode, f: String): Option[String] =
    Option(n).flatMap(x => Option(x.get(f))).filter(_.isTextual).map(_.asText())
  private def optNumText(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filter(v => v.isTextual || v.isNumber).map(_.asText())
  private def optBool(n: JsonNode, f: String): Option[Boolean] =
    Option(n.get(f)).filter(_.isBoolean).map(_.asBoolean())
  private def optInt(n: JsonNode, f: String): Option[Int] =
    Option(n.get(f)).filter(_.isNumber).map(_.asInt())

  /** String or array-of-strings → list. */
  private def strings(n: JsonNode): List[String] =
    if (n == null) Nil
    else if (n.isTextual) List(n.asText())
    else if (n.isArray) n.elements().asScala.filter(_.isTextual).map(_.asText()).toList
    else Nil
}
