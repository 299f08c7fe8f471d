package graft.mapper

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Loader + dispatcher for the OFFICIAL W3C csvw-tests manifests
  * (`manifest-{rdf,json,validation}.jsonld`, the files the reference's
  * suite runner consumes — `/root/reference/spec/suite_spec.rb:12-83`,
  * entry shape per `suite_helper.rb:111-180`). The checkout is not
  * available offline, so [[W3cOfficialSuiteSpec]] lights up automatically
  * the day one appears (env `GRAFT_W3C_SUITE_DIR`, or `spec/w3c-csvw` —
  * the reference's own convention) and skips cleanly otherwise; the
  * machinery itself is proven against a mock mini-checkout in
  * [[W3cOfficialSuiteSpec]]'s meta-test.
  */
object W3cOfficialSuite {
  /** The suite's canonical base IRI (suite_helper.rb:19). */
  val Base = "http://www.w3.org/2013/csvw/tests/"

  final case class Entry(id: String, typ: String, name: String,
                         action: String, result: Option[String],
                         minimal: Boolean, metadata: Option[String],
                         httpBound: Boolean, approval: Option[String])

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  val ManifestFiles = Seq("manifest-rdf.jsonld", "manifest-json.jsonld",
    "manifest-validation.jsonld", "manifest-nonnorm.jsonld")

  /** A directory is a usable checkout when at least one official manifest
    * is present.
    */
  def locate(): Option[Path] =
    (sys.env.get("GRAFT_W3C_SUITE_DIR").toSeq :+ "spec/w3c-csvw")
      .map(Paths.get(_))
      .find(p => Files.isDirectory(p) &&
        ManifestFiles.exists(m => Files.exists(p.resolve(m))))

  /** Parse every available manifest's entries (suite_helper.rb:105-180:
    * id/type/action/result plus option.{minimal,metadata} and the
    * http-delivery attributes we document as out of scope).
    */
  def entries(dir: Path): Seq[Entry] =
    ManifestFiles.filter(m => Files.exists(dir.resolve(m))).flatMap { m =>
      val root = mapper.readTree(Files.readString(dir.resolve(m)))
      root.get("entries").elements().asScala.toList.map { e =>
        def str(k: String) = Option(e.get(k)).map(_.asText)
        val opt = Option(e.get("option"))
        Entry(
          id = str("id").getOrElse(""),
          typ = str("type").getOrElse(""),
          name = str("name").getOrElse(""),
          action = str("action").getOrElse(""),
          result = str("result"),
          minimal = opt.flatMap(o => Option(o.get("minimal"))).exists(_.asBoolean),
          metadata = opt.flatMap(o => Option(o.get("metadata")).map(_.asText)),
          // HTTP-delivered metadata (Link headers, content types) is a
          // documented non-goal (SURVEY §7.5) — those entries skip
          httpBound = e.has("httpLink") || e.has("contentType"),
          approval = str("approval"))
      }
    }

  /** Run one entry through the full production entry point with the same
    * dispatch as the reference runner. Throws (ScalaTest assertions) on
    * mismatch; returns normally on pass.
    */
  def run(spark: SparkSession, dir: Path, e: Entry): Unit = {
    import org.scalatest.Assertions._
    // resolve the action like suite_helper.rb:126 (base-joined), then map
    // the base-relative IRI back onto the checkout
    val local = dir.resolve(e.action).toString
    val base = Base + e.action
    val userMeta = e.metadata.map(m => dir.resolve(stripBase(m)).toString)
    def opened(minimal: Boolean, validate: Boolean = false) =
      CsvwReader.open(spark, local, base, minimal = minimal,
        validate = validate, userMetadata = userMeta)
    def triples(minimal: Boolean): Set[Triple] = {
      import spark.implicits._
      opened(minimal).result.triples
        .as[(String, String, String, Boolean, Option[String], Option[String])]
        .collect().toSet
        .map((t: (String, String, String, Boolean, Option[String], Option[String])) =>
          Triple(t._1, t._2, t._3, t._4, t._5.orNull, t._6.orNull))
    }
    val negative = e.typ.contains("Negative")
    val validation = e.typ.contains("Validation")
    val json = e.result.exists(_.endsWith(".json")) || e.typ.contains("Json")
    if (validation) {
      if (negative)
        intercept[Exception] {
          opened(minimal = true, validate = true).result.validation.gate()
        }
      else
        opened(minimal = true, validate = true).result.validation.gate()
    } else if (negative) {
      intercept[Exception] {
        if (json) CsvwReader.jsonDocument(opened(e.minimal), e.minimal)
        else triples(e.minimal)
      }
    } else if (json) {
      val got = mapper.readTree(CsvwReader.jsonDocument(opened(e.minimal), e.minimal))
      val want = mapper.readTree(Files.readString(dir.resolve(stripBase(e.result.get))))
      assert(normJson(got) == normJson(want),
        s"\n=== ${e.id} ===\ngot:  $got\nwant: $want")
    } else {
      val got = triples(e.minimal)
      val want = TurtleLite.parse(
        Files.readString(dir.resolve(stripBase(e.result.get))), base)
      assert(TurtleLite.isomorphic(got, want),
        s"\n=== ${e.id} ===\n" + TurtleLite.diff(got, want))
    }
  }

  private def stripBase(s: String): String =
    if (s.startsWith(Base)) s.substring(Base.length) else s

  /** Jackson trees → Scala structures with numeric canonicalization
    * (IntNode(1) must equal LongNode(1)); mirrors SuiteGoldenSpec. */
  private def normJson(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isObject) n.properties().asScala.map(x => x.getKey -> normJson(x.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(normJson).toList
    else if (n.isNumber) BigDecimal(n.decimalValue()).underlying.stripTrailingZeros
    else if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else null
}

/** The official-suite hook itself: registers one test per manifest entry
  * when a checkout exists; otherwise a single cleanly-canceled placeholder
  * records why nothing ran. The mock-checkout meta-test below proves the
  * loader + dispatcher end-to-end either way, so the hook cannot rot while
  * waiting for fixtures.
  */
class W3cOfficialSuiteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  W3cOfficialSuite.locate() match {
    case None =>
      test("official W3C csvw-tests checkout not present — hook idle") {
        cancel("set GRAFT_W3C_SUITE_DIR or place a checkout at spec/w3c-csvw " +
          "to run the official manifests (reference CI skips them too, " +
          "suite_spec.rb:84)")
      }
    case Some(dir) =>
      W3cOfficialSuite.entries(dir)
        .filterNot(_.approval.exists(_.contains("Rejected"))) // suite_spec.rb:19
        .foreach { e =>
          test(s"${e.id}: ${e.name} [${e.typ}]") {
            assume(!e.httpBound,
              "HTTP-delivered metadata (Link header / content type) is a documented non-goal")
            W3cOfficialSuite.run(spark, dir, e)
          }
        }
  }

  test("hook machinery: mock mini-checkout parses, dispatches, and passes") {
    // a temp dir shaped exactly like the official checkout: two manifests,
    // a ToRdf entry with user metadata, and a NegativeValidation entry —
    // exercising the same loader + runner the real checkout would use
    val dir = Files.createTempDirectory("graft_w3c_mock")
    Files.writeString(dir.resolve("manifest-rdf.jsonld"),
      """{"id": "manifest-rdf", "type": "mf:Manifest", "entries": [
        |  {"id": "manifest-rdf#mock001", "type": "csvt:ToRdfTest",
        |   "name": "simple table", "approval": "rdft:Approved",
        |   "option": {"noProv": true, "minimal": true,
        |              "metadata": "mock001.json"},
        |   "action": "mock001.csv", "result": "mock001.ttl"}
        |]}""".stripMargin)
    Files.writeString(dir.resolve("manifest-validation.jsonld"),
      """{"id": "manifest-validation", "type": "mf:Manifest", "entries": [
        |  {"id": "manifest-validation#mock002", "type": "csvt:NegativeValidationTest",
        |   "name": "pk violation", "approval": "rdft:Approved",
        |   "option": {"metadata": "mock002.json"},
        |   "action": "mock002.csv"},
        |  {"id": "manifest-validation#mock003", "type": "csvt:PositiveValidationTest",
        |   "name": "clean", "approval": "rdft:Approved",
        |   "option": {"metadata": "mock001.json"},
        |   "action": "mock001.csv"}
        |]}""".stripMargin)
    Files.writeString(dir.resolve("mock001.csv"), "id,v\na,1\nb,2\n")
    Files.writeString(dir.resolve("mock001.json"),
      s"""{"url": "${W3cOfficialSuite.Base}mock001.csv",
          "tableSchema": {"aboutUrl": "#r{_row}",
            "columns": [{"name": "id", "titles": "id", "datatype": "string"},
                        {"name": "v", "titles": "v", "datatype": "integer"}]}}""")
    Files.writeString(dir.resolve("mock001.ttl"),
      """@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |<http://www.w3.org/2013/csvw/tests/mock001.csv#r1>
        |  <http://www.w3.org/2013/csvw/tests/mock001.csv#id> "a";
        |  <http://www.w3.org/2013/csvw/tests/mock001.csv#v> "1"^^xsd:integer .
        |<http://www.w3.org/2013/csvw/tests/mock001.csv#r2>
        |  <http://www.w3.org/2013/csvw/tests/mock001.csv#id> "b";
        |  <http://www.w3.org/2013/csvw/tests/mock001.csv#v> "2"^^xsd:integer .
        |""".stripMargin)
    Files.writeString(dir.resolve("mock002.csv"), "id,v\na,1\na,2\n")
    Files.writeString(dir.resolve("mock002.json"),
      s"""{"url": "${W3cOfficialSuite.Base}mock002.csv",
          "tableSchema": {"primaryKey": "id",
            "columns": [{"name": "id", "titles": "id", "datatype": "string"},
                        {"name": "v", "titles": "v", "datatype": "integer"}]}}""")
    val es = W3cOfficialSuite.entries(dir).sortBy(_.id)
    assert(es.map(_.id) == Seq("manifest-rdf#mock001",
      "manifest-validation#mock002", "manifest-validation#mock003"))
    assert(es.head.minimal && es.head.metadata.contains("mock001.json"))
    es.foreach(e => W3cOfficialSuite.run(spark, dir, e))
    // and a broken expectation must FAIL, not silently pass
    Files.writeString(dir.resolve("mock001.ttl"),
      """<http://x/s> <http://x/p> "wrong" .""" + "\n")
    intercept[org.scalatest.exceptions.TestFailedException] {
      W3cOfficialSuite.run(spark, dir, es.head)
    }
  }
}
