package graft.mapper

import graft.model.CsvwJson
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end: the countries/country_slice two-table shape of the
  * reference (`/root/reference/spec/data/countries.json`) recast over the
  * transcript schema (FIXTURES.md §2.3): a `conversations` dimension
  * referenced by `transcripts.conv_id`, with valueUrl IRI objects, a virtual
  * column, FK validation, and common properties.
  */
class CsvwPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val groupJson = """{
    "@type": "TableGroup",
    "dc:title": "transcript KG",
    "tables": [
      {"url": "http://example.org/conversations",
       "tableSchema": {
         "aboutUrl": "http://example.org/conv/{conv_id}",
         "propertyUrl": "http://example.org/ns#{_name}",
         "primaryKey": ["conv_id"],
         "columns": [
           {"name": "conv_id", "datatype": "string"},
           {"name": "title", "datatype": "string", "lang": "en"},
           {"name": "type", "virtual": true,
            "propertyUrl": "rdf:type", "valueUrl": "http://example.org/ns#Conversation"}]}},
      {"url": "http://example.org/transcripts",
       "tableSchema": {
         "aboutUrl": "urn:conv:{conv_id}/turn/{turn_idx}",
         "propertyUrl": "http://example.org/ns#{_name}",
         "columns": [
           {"name": "conv_id", "datatype": "string",
            "valueUrl": "http://example.org/conv/{conv_id}"},
           {"name": "turn_idx", "datatype": "integer"},
           {"name": "text", "datatype": "string"}],
         "foreignKeys": [
           {"columnReference": "conv_id",
            "reference": {"resource": "http://example.org/conversations",
                          "columnReference": "conv_id"}}]}}]}"""

  def bind = {
    val convs = Seq(("c1", "First chat"), ("c2", "Second chat"), ("c2", "Dup row"))
      .toDF("conv_id", "title")
      .withColumn("rn", monotonically_increasing_id() + 1)
    val turns = Seq(("c1", 0, "hello"), ("c1", 1, "world"), ("c9", 0, "orphan"))
      .toDF("conv_id", "turn_idx", "text")
    Map(
      "http://example.org/conversations" -> CsvwPipeline.BoundTable(
        convs, Map("conv_id" -> col("conv_id"), "title" -> col("title")),
        skolem = col("conv_id"), rownum = col("rn"), sourceNum = col("rn")),
      "http://example.org/transcripts" -> CsvwPipeline.BoundTable(
        turns, Map("conv_id" -> col("conv_id"), "turn_idx" -> col("turn_idx"),
          "text" -> col("text")),
        skolem = concat(col("conv_id"), lit("-"), col("turn_idx")),
        rownum = col("turn_idx") + 1, sourceNum = col("turn_idx") + 1))
  }

  lazy val group = CsvwJson.parseTableGroup(groupJson)

  test("two-table group, minimal mode: entity triples incl valueUrl IRIs + virtual columns") {
    val res = CsvwPipeline.run(spark, group, bind,
      CsvwPipeline.Options(minimal = true))
    val got = res.triples.as[Triple].collect().toSet
    val NS = "http://example.org/ns#"
    // dimension rows: title with lang + virtual rdf:type with valueUrl
    assert(got.contains(Triple("http://example.org/conv/c1", NS + "title", "First chat",
      obj_iri = false, "en", null)))
    assert(got.contains(Triple("http://example.org/conv/c1",
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", NS + "Conversation",
      obj_iri = true, null, null)))
    // fact rows: conv_id becomes an IRI link into the dimension (valueUrl)
    assert(got.contains(Triple("urn:conv:c1/turn/0", NS + "conv_id",
      "http://example.org/conv/c1", obj_iri = true, null, null)))
    assert(got.contains(Triple("urn:conv:c1/turn/1", NS + "text", "world",
      obj_iri = false, null, null)))
    // minimal mode: no boilerplate, no common properties
    assert(!got.exists(_.pred.contains("csvw#")))
    assert(!got.exists(_.pred == "http://purl.org/dc/terms/title"))
  }

  test("standard mode adds boilerplate + group common properties") {
    val res = CsvwPipeline.run(spark, group, bind, CsvwPipeline.Options(minimal = false))
    val got = res.triples.as[Triple].collect().toSet
    val C = "http://www.w3.org/ns/csvw#"
    assert(got.contains(Triple("_:tg", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
      C + "TableGroup", obj_iri = true, null, null)))
    assert(got.contains(Triple("_:tg", C + "table", "_:table1", obj_iri = true, null, null)))
    assert(got.contains(Triple("_:tg", "http://purl.org/dc/terms/title", "transcript KG",
      obj_iri = false, null, null)))
    assert(got.contains(Triple("_:table2", C + "url", "http://example.org/transcripts",
      obj_iri = true, null, null)))
    assert(got.exists(t => t.pred == C + "rownum"))
  }

  test("PK duplicates and FK violations surface as side outputs") {
    val res = CsvwPipeline.run(spark, group, bind)
    val pk = res.pkViolations("http://example.org/conversations").collect()
    assert(pk.length == 1 && pk(0).getString(0) == "c2")
    val fk = res.fkViolations("http://example.org/transcripts->http://example.org/conversations")
      .collect()
    assert(fk.length == 1 && fk(0).getString(0) == "c9")
  }

  test("provenance triples appear when enabled") {
    val res = CsvwPipeline.run(spark, group, bind,
      CsvwPipeline.Options(withProv = true,
        provStartedAt = "2024-01-01T00:00:00Z", provEndedAt = "2024-01-01T00:00:09Z"))
    val got = res.triples.as[Triple].collect()
    assert(got.exists(_.pred == "http://www.w3.org/ns/prov#startedAtTime"))
  }
}

/** JSON output mode (S7/T6). */
class JsonOutputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("minimal JSON rows: typed values, null omission, @id, lists") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [
          {"name": "name", "datatype": "string"},
          {"name": "n", "datatype": "integer"},
          {"name": "x", "datatype": "double"},
          {"name": "flag", "datatype": {"base": "boolean", "format": "Y|N"}},
          {"name": "tags", "separator": ";", "datatype": "string"},
          {"name": "opt", "datatype": "string", "null": [""]}]}}"""
    val t = graft.model.Resolve.group(CsvwJson.parseTableGroup(json)).head
    val df = Seq(("alice", "42", "1.5", "Y", "a;b", "")).toDF(
      "name", "n", "x", "flag", "tags", "opt").withColumn("rn", lit(1))
    val got = JsonOutput.minimalRows(df, t,
      t.nonVirtual.map(c => c.name -> col(c.name)).toMap,
      col("rn"), col("rn"), col("rn")).as[String].head()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(got)
    assert(node.get("@id").asText() == "urn:row:1")
    assert(node.get("name").asText() == "alice")
    assert(node.get("n").isIntegralNumber && node.get("n").asLong() == 42L)
    assert(node.get("x").isDouble && node.get("x").asDouble() == 1.5)
    assert(node.get("flag").isBoolean && node.get("flag").asBoolean())
    assert(node.get("tags").isArray && node.get("tags").size() == 2)
    assert(!node.has("opt")) // null cell omitted
  }
}

/** Standard-mode JSON document (T6). */
class JsonStandardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("standard document nests tables -> row -> describes") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [{"name": "name", "datatype": "string"}]}}"""
    val group = CsvwJson.parseTableGroup(json)
    val t = graft.model.Resolve.group(group).head
    val df = Seq(("alice", 1), ("bob", 2)).toDF("name", "rn")
    val described = JsonOutput.describedRows(df, t, Map("name" -> col("name")),
      col("rn"), col("rn"), col("rn"))
    val w = new java.io.StringWriter()
    JsonOutput.writeDocument(group, Seq((group.tables.head, t, described)), minimal = false, w)
    val doc = w.toString
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc)
    val tbl = node.get("tables").get(0)
    assert(tbl.get("url").asText() == "http://example.org/t")
    val rows = tbl.get("row")
    assert(rows.size() == 2)
    assert(rows.get(0).get("url").asText() == "http://example.org/t#row=1")
    assert(rows.get(0).get("rownum").asLong() == 1L)
    assert(rows.get(0).get("describes").get(0).get("name").asText() == "alice")
    assert(rows.get(1).get("describes").get(0).get("@id").asText() == "urn:row:2")
  }
}
