package graft.model

import graft.core.{Iri, Uax35Date, Uax35Number, UriTemplate, Xsd}

/** CSVW metadata object model — the plain-Scala ADT equivalent of the
  * reference's Metadata class tree (`/root/reference/lib/rdf/tabular/metadata.rb:1301-1952`),
  * with inheritance resolved eagerly into [[ResolvedColumn]] at plan time
  * (the reference walks the parent chain per property access,
  * `metadata.rb:432-437`).
  */
final case class FormatSpec(
    pattern: Option[String] = None,
    groupChar: Option[String] = None,
    decimalChar: Option[String] = None)

final case class DatatypeMeta(
    base: String = "string",
    format: Option[FormatSpec] = None,
    length: Option[Int] = None,
    minLength: Option[Int] = None,
    maxLength: Option[Int] = None,
    minimum: Option[String] = None,
    maximum: Option[String] = None,
    minInclusive: Option[String] = None,
    maxInclusive: Option[String] = None,
    minExclusive: Option[String] = None,
    maxExclusive: Option[String] = None,
    id: Option[String] = None)

/** The 11 inherited properties (`metadata.rb:29-41`); `None` = inherit. */
final case class Inherited(
    aboutUrl: Option[String] = None,
    datatype: Option[DatatypeMeta] = None,
    default: Option[String] = None,
    lang: Option[String] = None,
    nulls: Option[List[String]] = None,
    ordered: Option[Boolean] = None,
    propertyUrl: Option[String] = None,
    required: Option[Boolean] = None,
    separator: Option[String] = None,
    textDirection: Option[String] = None,
    valueUrl: Option[String] = None) {
  def orElse(parent: Inherited): Inherited = Inherited(
    aboutUrl = aboutUrl.orElse(parent.aboutUrl),
    datatype = datatype.orElse(parent.datatype),
    default = default.orElse(parent.default),
    lang = lang.orElse(parent.lang),
    nulls = nulls.orElse(parent.nulls),
    ordered = ordered.orElse(parent.ordered),
    propertyUrl = propertyUrl.orElse(parent.propertyUrl),
    required = required.orElse(parent.required),
    separator = separator.orElse(parent.separator),
    textDirection = textDirection.orElse(parent.textDirection),
    valueUrl = valueUrl.orElse(parent.valueUrl))
}

/** `titles` is an ordered language map flattened to (lang, title) pairs —
  * untagged titles carry "und" (`metadata.rb:1138-1139` natural-language
  * normalization); languages are needed for embedded-metadata compatibility
  * matching and lang-tagged title output.
  */
final case class ColumnMeta(
    name: Option[String] = None,
    titles: List[(String, String)] = Nil,
    virtual: Boolean = false,
    suppressOutput: Boolean = false,
    inherited: Inherited = Inherited())

final case class ForeignKeyMeta(
    columnReference: List[String],
    resource: String,
    referencedColumns: List[String])

final case class SchemaMeta(
    columns: List[ColumnMeta] = Nil,
    primaryKey: List[String] = Nil,
    foreignKeys: List[ForeignKeyMeta] = Nil,
    rowTitles: List[String] = Nil,
    inherited: Inherited = Inherited())

/** CSV parsing dialect (`metadata.rb:1700-1889`), defaults per `metadata.rb:1702-1716`. */
final case class DialectMeta(
    delimiter: String = ",",
    quoteChar: String = "\"",
    doubleQuote: Boolean = true,
    encoding: String = "utf-8",
    header: Boolean = true,
    headerRowCount: Option[Int] = None,
    skipRows: Int = 0,
    skipColumns: Int = 0,
    skipBlankRows: Boolean = false,
    skipInitialSpace: Boolean = false,
    trim: Option[String] = None,
    commentPrefix: Option[String] = None,
    lineTerminators: List[String] = List("\r\n", "\n")) {
  /** Dynamic default (`metadata.rb:1772-1782`). */
  def effectiveHeaderRowCount: Int = headerRowCount.getOrElse(if (header) 1 else 0)
  /** trim default: true unless skipInitialSpace (`metadata.rb:1778-1782`). */
  def effectiveTrim: String = trim.getOrElse(if (skipInitialSpace) "start" else "true")
}

/** A `transformations` entry (`metadata.rb:1663-1693` class Transformation,
  * JSON-LD `@type: Template`). The reference parses and validates these but
  * never executes the scripts (script execution is out of scope for both
  * engines); they are surfaced so callers can dispatch to their own
  * templating toolchain. `url`/`targetFormat`/`scriptFormat` are REQUIRED
  * (`metadata.rb:1674`); `source` must be "json" or "rdf" when present
  * (`metadata.rb:1691-1692`).
  */
final case class TransformationMeta(
    url: String,
    targetFormat: Option[String] = None,
    scriptFormat: Option[String] = None,
    source: Option[String] = None,
    titles: List[(String, String)] = Nil,
    id: Option[String] = None)

final case class TableMeta(
    url: String,
    tableSchema: Option[SchemaMeta] = None,
    suppressOutput: Boolean = false,
    dialect: Option[DialectMeta] = None,
    notes: List[String] = Nil,
    id: Option[String] = None,
    inherited: Inherited = Inherited(),
    /** common properties: (prefixed key or "notes") -> raw JSON (T4) */
    common: List[(String, String)] = Nil,
    transformations: List[TransformationMeta] = Nil,
    /** `"tableSchema": "<url>"` indirection (`metadata.rb:553-564` link
      * properties): the schema lives in its own document, fetched by the
      * reader entry point ([[graft.mapper.CsvwReader]]). */
    schemaRef: Option[String] = None)

final case class TableGroupMeta(
    tables: List[TableMeta],
    dialect: Option[DialectMeta] = None,
    id: Option[String] = None,
    inherited: Inherited = Inherited(),
    common: List[(String, String)] = Nil,
    transformations: List[TransformationMeta] = Nil,
    /** JSON-LD context default language (`@context: [..., {"@language": …}]`)
      * — scopes natural-language/common properties, not cell values. */
    contextLang: Option[String] = None,
    /** the warnings and errors [[CsvwJson]] recorded while parsing the
      * document(s) this group came from; empty for a synthesized group */
    report: CsvwValidate.Report = CsvwValidate.Report.empty) {

  /** Resolve relative table `url`s and foreign-key `resource`s against the
    * metadata document's base, as the reference normalizes on load
    * (`metadata.rb:393,1425` `@url = context.base.join(value)`;
    * `normalize!` `metadata.rb:1106-1131`). Fragment-only urls
    * (`"#countries"` in `spec/data/countries_embed.html`) resolve to
    * `<doc>#countries`, so FK routing by url keeps working after rebase.
    * Template properties (aboutUrl/valueUrl/propertyUrl) are NOT rebased
    * here — they resolve against the table url at expansion time.
    */
  def rebase(base: String): TableGroupMeta = {
    // `@id` is a link property like url: relative ids resolve against the
    // document base (`metadata.rb:553-564` normalize); blank-node labels
    // pass through untouched
    def rebaseId(id: Option[String]): Option[String] =
      id.map(i => if (i.startsWith("_:")) i else Iri.resolve(base, i))
    copy(
      id = rebaseId(id),
      tables = tables.map(t => t.copy(
        url = Iri.resolve(base, t.url),
        id = rebaseId(t.id),
        tableSchema = t.tableSchema.map(s => s.copy(
          foreignKeys = s.foreignKeys.map(fk =>
            fk.copy(resource = Iri.resolve(base, fk.resource))))))))
  }
}

// ---------------------------------------------------------------------------
// Resolved (plan-time) forms
// ---------------------------------------------------------------------------

/** One column after full inheritance/default resolution and pattern
  * compilation — everything per-row code needs, with no parent-chain walks
  * and no per-row regex compilation.
  */
final case class ResolvedColumn(
    name: String,
    number: Int,                     // logical, 1-based
    sourceNumber: Int,               // physical, 1-based (skipColumns offset)
    datatypeBase: String,            // alias-expanded base
    datatypeIri: String,
    numberFormat: Option[Uax35Number.Compiled],
    dateFormat: Option[Uax35Date.Compiled],
    regexFormat: Option[String],     // format-as-regex for non-numeric/non-date
    booleanFormat: Option[(String, String)], // ("T","F")
    length: Option[Int],
    minLength: Option[Int],
    maxLength: Option[Int],
    minimum: Option[String],
    maximum: Option[String],
    minExclusive: Option[String],
    maxExclusive: Option[String],
    default: String,
    lang: String,
    nulls: List[String],
    ordered: Boolean,
    required: Boolean,
    separator: Option[String],
    virtual: Boolean,
    suppressOutput: Boolean,
    aboutUrl: Option[UriTemplate.Compiled],
    propertyUrl: Option[UriTemplate.Compiled],
    valueUrl: Option[UriTemplate.Compiled]) extends Serializable

final case class ResolvedTable(
    url: String,
    columns: List[ResolvedColumn],
    primaryKey: List[String],
    foreignKeys: List[ForeignKeyMeta],
    rowTitles: List[String],
    suppressOutput: Boolean,
    dialect: DialectMeta) extends Serializable {
  def nonVirtual: List[ResolvedColumn] = columns.filterNot(_.virtual)
}

object Resolve {

  /** Inherited-property defaults (`metadata.rb:42-49`). */
  private val Defaults = Inherited(
    default = Some(""), lang = Some("und"), nulls = Some(List("")),
    ordered = Some(false), required = Some(false), textDirection = Some("ltr"))

  /** The reference's column-name production (`metadata.rb:108`
    * NAME_SYNTAX): leading `_col`, alphanumeric, or a percent-escape; then
    * alphanumerics, `._`, or percent-escapes. An explicit `name` that
    * violates it is INVALID — the reference warns "proper name format"
    * (`metadata.rb:1617`) and ignores the property, so resolution falls
    * back to the percent-encoded title.
    */
  val NameSyntax = "(?:_col|[a-zA-Z0-9]|%[0-9a-fA-F]{2})(?:[a-zA-Z0-9._]|%[0-9a-fA-F]{2})*".r

  /** Column name resolution (`metadata.rb:1619-1636`): explicit name (when
    * syntax-valid), else URI-encoded first title in the column's declared
    * language, else "und", else `_col.N` — the reference checks
    * `titles[context.default_language]` BEFORE `titles['und']`, so a column
    * carrying both resolves to the language-tagged title.
    */
  def columnName(c: ColumnMeta, number: Int, colLang: String = "und",
                 contextLang: Option[String] = None): String =
    c.name.filter(n => NameSyntax.matches(n))
      .orElse {
        // metadata.rb:1630: titles[context.default_language || 'und'] ||
        // titles[self.lang || 'und'] — context bucket first, then the
        // column's declared language, each falling back to the und bucket
        val langs = List(contextLang.getOrElse("und"), colLang).distinct
        langs.iterator
          .map(l => c.titles.collect { case (`l`, t) => t })
          .find(_.nonEmpty).flatMap(_.headOption)
          .map(Iri.encodeColumnName)
      }
      .getOrElse(s"_col.$number")

  def table(tg: TableGroupMeta, t: TableMeta): ResolvedTable = {
    val schema = t.tableSchema.getOrElse(SchemaMeta())
    val dialect = t.dialect.orElse(tg.dialect).getOrElse(DialectMeta())
    val skip = dialect.skipColumns
    val cols = schema.columns.zipWithIndex.map { case (c, idx) =>
      val number = idx + 1
      val inh = c.inherited
        .orElse(schema.inherited)
        .orElse(t.inherited)
        .orElse(tg.inherited)
        .orElse(Defaults)
      val dt = inh.datatype.getOrElse(DatatypeMeta())
      val base = Xsd.canonicalBase(dt.base)
      if (Xsd.UnsupportedBases.contains(dt.base))
        throw new IllegalArgumentException(s"unsupported datatype: ${dt.base}")
      val fmt = dt.format
      val isNumeric = Xsd.NumericBases.contains(base)
      val isDate = Xsd.DateTimeBases.contains(base)
      val numberFormat =
        if (isNumeric)
          Some(Uax35Number.compile(
            fmt.flatMap(_.pattern),
            fmt.flatMap(_.groupChar).getOrElse(","),
            fmt.flatMap(_.decimalChar).getOrElse(".")))
        else None
      val dateFormat =
        if (isDate) fmt.flatMap(_.pattern).map(Uax35Date.compile) else None
      val booleanFormat =
        if (base == "boolean")
          fmt.flatMap(_.pattern).map { p =>
            val parts = p.split("\\|", 2)
            (parts(0), if (parts.length > 1) parts(1) else "")
          }
        else None
      val regexFormat =
        if (!isNumeric && !isDate && base != "boolean") fmt.flatMap(_.pattern) else None
      ResolvedColumn(
        // name lookup checks the context default language (which also tags
        // bare titles at parse time) before the column's declared lang
        name = columnName(c, number, inh.lang.getOrElse("und"), tg.contextLang),
        number = number,
        sourceNumber = number + skip,
        datatypeBase = base,
        datatypeIri = dt.id.getOrElse(Xsd.expandedIri(dt.base)),
        numberFormat = numberFormat,
        dateFormat = dateFormat,
        regexFormat = regexFormat,
        booleanFormat = booleanFormat,
        length = dt.length,
        minLength = dt.minLength,
        maxLength = dt.maxLength,
        // `minimum`/`maximum` are aliases of the inclusive facets (csvw context)
        minimum = dt.minimum.orElse(dt.minInclusive),
        maximum = dt.maximum.orElse(dt.maxInclusive),
        minExclusive = dt.minExclusive,
        maxExclusive = dt.maxExclusive,
        default = inh.default.getOrElse(""),
        lang = inh.lang.getOrElse("und"),
        nulls = inh.nulls.getOrElse(List("")),
        ordered = inh.ordered.getOrElse(false),
        required = inh.required.getOrElse(false),
        separator = inh.separator,
        virtual = c.virtual,
        suppressOutput = c.suppressOutput,
        aboutUrl = inh.aboutUrl.map(UriTemplate.compile),
        propertyUrl = inh.propertyUrl.map(UriTemplate.compile),
        valueUrl = inh.valueUrl.map(UriTemplate.compile))
    }
    ResolvedTable(
      url = t.url,
      columns = cols,
      primaryKey = schema.primaryKey,
      foreignKeys = schema.foreignKeys,
      rowTitles = schema.rowTitles,
      suppressOutput = t.suppressOutput,
      dialect = dialect)
  }

  def group(tg: TableGroupMeta): List[ResolvedTable] = tg.tables.map(t => table(tg, t))
}
