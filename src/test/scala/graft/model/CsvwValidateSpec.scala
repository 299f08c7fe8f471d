package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** Metadata validation + compatibility cases lifted from the reference
  * (`spec/metadata_spec.rb:1651-1843` for `verify_compatible!`;
  * `metadata.rb:570-830` rules for `validate!`, which run in
  * [[CsvwJson.parseTableGroup]]).
  */
class CsvwValidateSpec extends AnyFunSuite {

  private def table(url: String, cols: String): String =
    s"""{"@type": "Table", "url": "$url", "tableSchema": {"columns": [$cols]}}"""

  private def compat(aJson: String, bJson: String, strict: Boolean = true): CsvwValidate.Report = {
    val a = CsvwJson.parseTableGroup(aJson)
    val b = CsvwJson.parseTableGroup(bJson).tables.head
    val bCols = b.tableSchema.map(_.columns).getOrElse(Nil)
    CsvwValidate.verifyCompatible(a, b.url, bCols, strict)
  }

  /** A document's checks run while it is parsed; its report rides on the group. */
  private def validate(json: String): CsvwValidate.Report = CsvwJson.parseTableGroup(json).report

  // ---- verify_compatible! cases (metadata_spec.rb:1652-1831)

  test("two tables with same id are compatible") {
    assert(compat(table("http://example.org/table", ""), table("http://example.org/table", "")).ok)
  }

  test("two tables with different id are incompatible") {
    assert(!compat(table("http://example.org/table1", ""), table("http://example.org/table2", "")).ok)
  }

  test("table-group and table with same url compatible; different url not") {
    val tg = s"""{"@type": "TableGroup", "tables": [${table("http://example.org/table1", "")}]}"""
    assert(compat(tg, table("http://example.org/table1", "")).ok)
    assert(!compat(tg, table("http://example.org/table2", "")).ok)
  }

  test("table-group with two tables matches either url") {
    val tg = s"""{"@type": "TableGroup", "tables": [
      ${table("http://example.org/table1", "")}, ${table("http://example.org/table2", "")}]}"""
    assert(compat(tg, table("http://example.org/table2", "")).ok)
  }

  test("tables with matching columns are compatible") {
    assert(compat(
      table("http://example.org/t", """{"name": "foo"}"""),
      table("http://example.org/t", """{"name": "foo"}""")).ok)
  }

  test("virtual columns don't count toward the column match") {
    assert(compat(
      table("http://example.org/t", """{"name": "foo"}, {"virtual": true, "aboutUrl": "#x", "propertyUrl": "#y", "valueUrl": "#z"}"""),
      table("http://example.org/t", """{"name": "foo"}""")).ok)
  }

  test("tables with differing columns are incompatible") {
    assert(!compat(
      table("http://example.org/t", """{"name": "foo"}"""),
      table("http://example.org/t", """{"name": "bar"}""")).ok)
  }

  test("tables with different column count are incompatible") {
    assert(!compat(
      table("http://example.org/t", """{"name": "foo"}, {"name": "bar"}"""),
      table("http://example.org/t", """{"name": "bar"}""")).ok)
  }

  test("name-vs-titles mismatch errors in strict mode (both directions)") {
    assert(!compat(
      table("http://example.org/t", """{"name": "foo"}"""),
      table("http://example.org/t", """{"titles": "foo"}""")).ok)
    assert(!compat(
      table("http://example.org/t", """{"name": "foo"}"""),
      table("http://example.org/t", """{"titles": "bar"}""")).ok)
  }

  test("non-strict mode degrades title mismatches to warnings") {
    val r = compat(
      table("http://example.org/t", """{"titles": "foo"}"""),
      table("http://example.org/t", """{"titles": "bar"}"""), strict = false)
    assert(r.ok && r.warnings.nonEmpty)
  }

  test("und titles match any language; language-prefix fallback matches") {
    // und vs tagged
    assert(CsvwValidate.titlesMatch(List("und" -> "foo"), List("en" -> "foo")))
    // same language
    assert(CsvwValidate.titlesMatch(List("en" -> "foo"), List("en" -> "foo")))
    // prefix languages: en vs en-US
    assert(CsvwValidate.titlesMatch(List("en" -> "foo"), List("en-US" -> "foo")))
    // different languages, same title: no match
    assert(!CsvwValidate.titlesMatch(List("de" -> "foo"), List("fr" -> "foo")))
    // same language, different titles: no match
    assert(!CsvwValidate.titlesMatch(List("en" -> "foo"), List("en" -> "bar")))
  }

  // ---- validate: document-level checks (metadata.rb:570-830)

  test("unexpected keys warn; common properties don't") {
    val r = validate(
      """{"url": "http://e/t", "bogus": 1, "dc:title": "x",
          "tableSchema": {"columns": [{"name": "a", "wat": true}]}}""")
    assert(r.ok)
    assert(r.warnings.exists(_.contains("bogus")))
    assert(r.warnings.exists(_.contains("wat")))
    assert(!r.warnings.exists(_.contains("dc:title")))
  }

  test("empty table group errors; missing url errors") {
    assert(!validate("""{"@type": "TableGroup", "tables": []}""").ok)
    assert(!validate("""{"@type": "Table", "tableSchema": {"columns": []}}""").ok)
  }

  test("duplicate column names error") {
    val r = validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [{"name": "a"}, {"name": "a"}]}}""")
    assert(r.errors.exists(_.contains("unique names")))
  }

  test("virtual column before a non-virtual one errors") {
    val r = validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [{"virtual": true}, {"name": "a"}]}}""")
    assert(r.errors.exists(_.contains("virtual")))
  }

  test("invalid datatype base errors; invalid formats warn and are ignored") {
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [{"name": "a", "datatype": "nope"}]}}""").ok)
    val r = validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "boolean", "format": "Y"}},
        {"name": "b", "datatype": {"base": "integer", "format": "abc"}},
        {"name": "c", "datatype": {"base": "date", "format": "wxyz"}}]}}""")
    assert(r.ok, r.errors.toString)
    assert(r.warnings.count(_.contains("format")) == 3, r.warnings.toString)
  }

  test("length facet rules (metadata.rb:727-746)") {
    assert(validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "string", "length": 5, "minLength": 2}}]}}""").ok)
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "string", "length": 1, "minLength": 2}}]}}""").ok)
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "string", "minLength": 5, "maxLength": 2}}]}}""").ok)
    // length only on string/binary
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "integer", "length": 5}}]}}""").ok)
  }

  test("range facet rules (metadata.rb:747-782)") {
    // range facets only on numeric/date/duration
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "string", "minimum": 1}}]}}""").ok)
    // both inclusive and exclusive bounds
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "integer", "minimum": 1, "minExclusive": 0}}]}}""").ok)
    // inverted bounds
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "integer", "minimum": 5, "maximum": 1}}]}}""").ok)
    assert(validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "integer", "minimum": 1, "maximum": 5}}]}}""").ok)
  }

  test("foreign key shape rules (metadata.rb:621-668)") {
    // well-formed
    assert(validate(
      """{"tables": [
        {"url": "http://e/a", "tableSchema": {"columns": [{"name": "x"}],
         "foreignKeys": [{"columnReference": "x",
                          "reference": {"resource": "http://e/b", "columnReference": "y"}}]}},
        {"url": "http://e/b", "tableSchema": {"columns": [{"name": "y"}]}}]}""").ok)
    // unknown source column
    assert(!validate(
      """{"tables": [
        {"url": "http://e/a", "tableSchema": {"columns": [{"name": "x"}],
         "foreignKeys": [{"columnReference": "zz",
                          "reference": {"resource": "http://e/b", "columnReference": "y"}}]}},
        {"url": "http://e/b", "tableSchema": {"columns": [{"name": "y"}]}}]}""").ok)
    // missing referenced table
    assert(!validate(
      """{"tables": [
        {"url": "http://e/a", "tableSchema": {"columns": [{"name": "x"}],
         "foreignKeys": [{"columnReference": "x",
                          "reference": {"resource": "http://e/zzz", "columnReference": "y"}}]}},
        {"url": "http://e/b", "tableSchema": {"columns": [{"name": "y"}]}}]}""").ok)
    // extra fk entries
    assert(!validate(
      """{"tables": [
        {"url": "http://e/a", "tableSchema": {"columns": [{"name": "x"}],
         "foreignKeys": [{"columnReference": "x", "bogus": 1,
                          "reference": {"resource": "http://e/a", "columnReference": "x"}}]}}]}""").ok)
  }

  test("primaryKey reference not found warns (and processing continues)") {
    val r = validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [{"name": "a"}], "primaryKey": "zz"}}""")
    assert(r.ok && r.warnings.exists(_.contains("primaryKey")))
  }

  test("@id must not be a blank node; datatype @id must not name a builtin") {
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "integer", "@id": "_:b0"}}]}}""").ok)
    assert(!validate(
      """{"url": "http://e/t", "tableSchema": {"columns": [
        {"name": "a", "datatype": {"base": "integer",
         "@id": "http://www.w3.org/2001/XMLSchema#integer"}}]}}""").ok)
  }

  test("pipeline surfaces metadata report and gates on errors") {
    val spark = graft.mapper.TestSpark.spark
    import org.apache.spark.sql.functions.col
    val metaJson = """{"url": "http://e/t", "bogus": 1,
      "tableSchema": {"columns": [{"name": "a"}, {"name": "a"}]}}"""
    val group = CsvwJson.parseTableGroup(metaJson)
    val df = spark.range(1).selectExpr("CAST(id AS STRING) AS a", "id AS rn")
    val bound = Map("http://e/t" -> graft.mapper.CsvwPipeline.BoundTable(
      df, Map("a" -> col("a")), col("a"), col("rn"), col("rn")))
    val res = graft.mapper.CsvwPipeline.run(spark, group, bound,
      graft.mapper.CsvwPipeline.Options(
        embeddedColumns = Map("http://e/t" ->
          List(ColumnMeta(titles = List("und" -> "mismatch"))))))
    assert(res.metadata.warnings.exists(_.contains("bogus")))
    assert(res.metadata.errors.exists(_.contains("unique names")))
    assert(res.validation.errorCounts("metadata_error") >= 1)
    intercept[graft.validate.GraftValidationException] { res.validation.gate() }
  }

  test("language-mapped titles drive the column name (und first, then column lang)") {
    val meta = """{"url": "http://e/t", "tableSchema": {"columns": [
      {"titles": {"en": ["English Name"], "und": ["plain"]}},
      {"lang": "de", "titles": {"de": ["Deutsch"]}}]}}"""
    val t = Resolve.group(CsvwJson.parseTableGroup(meta)).head
    assert(t.columns(0).name == "plain")
    assert(t.columns(1).name == "Deutsch")
  }

  test("wrong-typed known properties warn and are ignored (metadata.rb:1211-1223)") {
    // cases mirror metadata_spec.rb's per-property warning rows
    val r = validate("""{"url": "http://e/t",
      "suppressOutput": "foo",
      "dialect": {"skipRows": -1, "delimiter": 1, "trim": "sideways"},
      "tableSchema": {"columns": [
        {"name": "a", "virtual": "yes", "titles": 1, "null": true}]}}""")
    assert(r.ok, r) // warnings only — processing continues with defaults
    Seq("'suppressOutput'", "'skipRows'", "'delimiter'", "'trim'",
        "'virtual'", "'titles'", "'null'").foreach { k =>
      assert(r.warnings.exists(w => w.contains("invalid property") && w.contains(k)),
        s"missing warning for $k in ${r.warnings}")
    }
    // correctly-typed values stay silent
    val ok = validate("""{"url": "http://e/t", "suppressOutput": true,
      "dialect": {"skipRows": 1, "delimiter": ";", "trim": "start"},
      "tableSchema": {"columns": [{"name": "a", "titles": {"en": ["A"]}}]}}""")
    assert(ok.ok && ok.warnings.isEmpty, ok)
  }

  test("rebase resolves relative @id like other link properties; bnode labels pass") {
    val meta = """{"@id": "group-1", "tables": [
      {"@id": "my-table", "url": "t.csv"},
      {"@id": "_:b0", "url": "u.csv"}]}"""
    val tg = CsvwJson.parseTableGroup(meta).rebase("http://example.org/meta.json")
    assert(tg.id.contains("http://example.org/group-1"))
    assert(tg.tables.head.id.contains("http://example.org/my-table"))
    assert(tg.tables.head.url == "http://example.org/t.csv")
    assert(tg.tables(1).id.contains("_:b0"))
  }

  // ---- transformations (metadata.rb:1663-1693; metadata_spec.rb:653-657)

  test("transformations parse into the model at group and table level") {
    val meta = """{"@type": "TableGroup",
      "transformations": [{"url": "tmpl.mustache",
        "targetFormat": "http://example.org/html",
        "scriptFormat": "http://example.org/mustache",
        "source": "json", "titles": "simple example"}],
      "tables": [{"url": "http://e/t",
        "transformations": [{"url": "t2.xslt",
          "targetFormat": "http://f", "scriptFormat": "http://g"}]}]}"""
    val tg = CsvwJson.parseTableGroup(meta)
    assert(tg.transformations.map(_.url) == List("tmpl.mustache"))
    assert(tg.transformations.head.source.contains("json"))
    assert(tg.transformations.head.titles == List("und" -> "simple example"))
    assert(tg.tables.head.transformations.map(_.url) == List("t2.xslt"))
  }

  test("transformation validation: valid passes; missing required keys error") {
    val ok = validate("""{"url": "http://e/t",
      "transformations": [{"url": "http://example",
        "targetFormat": "http://example", "scriptFormat": "http://example/"}]}""")
    assert(ok.ok, ok)
    val missing = validate("""{"url": "http://e/t",
      "transformations": [{"url": "http://example"}]}""")
    assert(missing.errors.exists(_.contains("missing required keys: targetFormat, scriptFormat")), missing)
  }

  test("transformation validation: bad source / relative formats / extra keys") {
    val bad = validate("""{"url": "http://e/t",
      "transformations": [{"url": "http://example",
        "targetFormat": "not a url at all %%",
        "scriptFormat": "http://example/",
        "source": "xml", "bogus": 1}]}""")
    assert(bad.errors.exists(_.contains("'source': expected json or rdf")), bad)
    assert(bad.errors.exists(_.contains("'targetFormat'")), bad)
    assert(bad.warnings.exists(_.contains("bogus")), bad)
  }
}
