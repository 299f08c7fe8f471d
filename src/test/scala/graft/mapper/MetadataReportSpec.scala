package graft.mapper

import graft.validate.GraftValidationException

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** The metadata report reaches validate mode on every entry path of
  * [[CsvwReader.open]]: a metadata document, a discovered
  * `{+url}-metadata.json`, user-supplied metadata, HTML `csvm+json` script
  * metadata and a fetched `"tableSchema": "<url>"` document. Each case opens
  * the same table twice, once with a clean column and once with a column
  * whose `@id` is a blank node (an error, `metadata.rb:800-803`); only the
  * second run's gate raises.
  */
class MetadataReportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Base = "http://example.org/mr/"
  private val BadId = "Column has invalid property '@id': _:c, must not start with '_:'"

  private def columns(bad: Boolean): String = {
    val id = if (bad) """, "@id": "_:c"""" else ""
    s"""[{"name": "a", "titles": "a"$id}, {"name": "b", "titles": "b"}]"""
  }
  private def tableDoc(url: String, bad: Boolean): String =
    s"""{"@context": "http://www.w3.org/ns/csvw", "url": "$url",
       | "tableSchema": {"columns": ${columns(bad)}}}""".stripMargin

  private def dir(): Path = {
    val d = Files.createTempDirectory("metadata-report")
    Files.writeString(d.resolve("t.csv"), "a,b\n1,2\n3,4\n")
    d
  }

  private def gate(path: Path, base: String, userMetadata: Option[String] = None): Unit =
    CsvwReader.open(spark, path.toString, base, minimal = true, validate = true,
      userMetadata = userMetadata).result.validation.gate()

  /** Clean metadata passes the gate; the bad column raises naming
    * `metadata_error` and the validator's message. */
  private def raisesOnlyWhenBad(run: Boolean => Unit): Unit = {
    run(false)
    val ex = intercept[GraftValidationException](run(true))
    assert(ex.getMessage.contains("metadata_error=1"), ex.getMessage)
    assert(ex.getMessage.contains(BadId), ex.getMessage)
  }

  test("a discovered {+url}-metadata.json is validated") {
    raisesOnlyWhenBad { bad =>
      val d = dir()
      Files.writeString(d.resolve("t.csv-metadata.json"), tableDoc("t.csv", bad))
      gate(d.resolve("t.csv"), Base + "t.csv")
    }
  }

  test("user-supplied metadata is validated") {
    raisesOnlyWhenBad { bad =>
      val d = dir()
      val user = Files.writeString(d.resolve("user.json"), tableDoc("t.csv", bad))
      gate(d.resolve("t.csv"), Base + "t.csv", userMetadata = Some(user.toString))
    }
  }

  test("HTML csvm+json script metadata is validated") {
    raisesOnlyWhenBad { bad =>
      val d = dir()
      val html = Files.writeString(d.resolve("doc.html"),
        s"""<html><body>
           |<table id="t"><tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>
           |<script type="application/csvm+json">
           |${tableDoc("#t", bad)}
           |</script>
           |</body></html>""".stripMargin)
      gate(html, Base + "doc.html")
    }
  }

  test("a fetched tableSchema document is validated") {
    raisesOnlyWhenBad { bad =>
      val d = dir()
      Files.writeString(d.resolve("s.json"),
        s"""{"@context": "http://www.w3.org/ns/csvw", "columns": ${columns(bad)}}""")
      val meta = Files.writeString(d.resolve("m.json"),
        """{"@context": "http://www.w3.org/ns/csvw", "url": "t.csv", "tableSchema": "s.json"}""")
      gate(meta, Base + "m.json")
    }
  }

  test("a fetched schema's FK resources are checked against its group") {
    val d = dir()
    Files.writeString(d.resolve("u.csv"), "b\n2\n4\n")
    Files.writeString(d.resolve("s.json"),
      s"""{"columns": ${columns(bad = false)}, "foreignKeys": [
         |  {"columnReference": "b", "reference": {"resource": "u.csv", "columnReference": "b"}}]}""".stripMargin)
    val meta = Files.writeString(d.resolve("m.json"),
      """{"tables": [{"url": "t.csv", "tableSchema": "s.json"},
        |  {"url": "u.csv", "tableSchema": {"columns": [{"name": "b", "titles": "b"}]}}]}""".stripMargin)
    gate(meta, Base + "m.json")
    Files.writeString(d.resolve("s.json"),
      s"""{"columns": ${columns(bad = false)}, "foreignKeys": [
         |  {"columnReference": "b", "reference": {"resource": "v.csv", "columnReference": "b"}}]}""".stripMargin)
    val ex = intercept[GraftValidationException](gate(meta, Base + "m.json"))
    assert(ex.getMessage.contains("table referenced by v.csv not found"), ex.getMessage)
  }

  test("a table group without tables fails the gate, not the parser") {
    val d = dir()
    val meta = Files.writeString(d.resolve("g.json"), """{"@type": "TableGroup"}""")
    val ex = intercept[GraftValidationException](gate(meta, Base + "g.json"))
    assert(ex.getMessage.contains("TableGroup has invalid property 'tables': must not be empty"),
      ex.getMessage)
  }

  test("a foreign key without a reference fails the gate, not the parser") {
    val d = dir()
    val meta = Files.writeString(d.resolve("m.json"),
      """{"url": "t.csv", "tableSchema": {"columns": [{"name": "a", "titles": "a"},
        |  {"name": "b", "titles": "b"}], "foreignKeys": [{"columnReference": "a"}]}}""".stripMargin)
    val ex = intercept[GraftValidationException](gate(meta, Base + "m.json"))
    assert(ex.getMessage.contains(
      "Schema has invalid property 'foreignKeys': missing columnReference and reference"), ex.getMessage)
  }
}
