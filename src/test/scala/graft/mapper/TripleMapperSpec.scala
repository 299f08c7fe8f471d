package graft.mapper

import graft.model.CsvwJson
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Spark jobs started while `body` runs on this thread. */
  def jobsDuring(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (group, fence) = ("job-pin", "job-pin-fence")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    // listener events arrive in order: once the fence job's start is seen,
    // every job the body started has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job pin")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}

/** FIXTURES.md §2.2 "full mapping" over the transcript shape, checked against
  * hand-computed triples (analog of the reference golden-file tests,
  * `/root/reference/spec/reader_spec.rb:156-265`).
  */
class TripleMapperSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val mappingJson = """{
    "url": "http://example.org/transcripts",
    "tableSchema": {
      "aboutUrl": "urn:conv:{conv_id}/turn/{turn_idx}",
      "propertyUrl": "https://example.org/transcript#{_name}",
      "primaryKey": ["conv_id", "turn_idx"],
      "columns": [
        {"name": "conv_id", "datatype": "string"},
        {"name": "turn_idx", "datatype": "integer"},
        {"name": "role", "datatype": "string"},
        {"name": "text", "datatype": "string"},
        {"name": "tool", "datatype": "string", "null": [""]},
        {"name": "ts", "datatype": {"base": "dateTime"}}
      ]
    }
  }"""

  lazy val table = graft.model.Resolve.group(CsvwJson.parseTableGroup(mappingJson)).head

  def transcripts = Seq(
    ("c1", 0, "user", "hello", "", "2024-01-01T00:00:00"),
    ("c1", 1, "assistant", "hi there", "search", "2024-01-01T00:00:05"),
    ("c2", 0, "user", "  padded  ", "", "2024-01-02T10:00:00"))
    .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  def run(minimal: Boolean) = TripleMapper.triples(
    transcripts, table,
    inputs = table.nonVirtual.map(c => c.name -> col(c.name)).toMap,
    skolem = concat($"conv_id", lit("-"), $"turn_idx"),
    rownum = $"turn_idx" + 1,
    sourceNum = $"turn_idx" + 2,
    minimal = minimal)

  test("minimal mode emits expected entity triples") {
    val got = run(minimal = true).as[Triple].collect().toSet
    val P = "https://example.org/transcript#"
    val X = "http://www.w3.org/2001/XMLSchema#"
    def about(c: String, t: Int) = s"urn:conv:$c/turn/$t"
    val expected = Set(
      Triple(about("c1", 0), P + "conv_id", "c1", obj_iri = false, null, null),
      Triple(about("c1", 0), P + "turn_idx", "0", obj_iri = false, null, X + "integer"),
      Triple(about("c1", 0), P + "role", "user", obj_iri = false, null, null),
      Triple(about("c1", 0), P + "text", "hello", obj_iri = false, null, null),
      Triple(about("c1", 0), P + "ts", "2024-01-01T00:00:00", obj_iri = false, null, X + "dateTime"),
      Triple(about("c1", 1), P + "conv_id", "c1", obj_iri = false, null, null),
      Triple(about("c1", 1), P + "turn_idx", "1", obj_iri = false, null, X + "integer"),
      Triple(about("c1", 1), P + "role", "assistant", obj_iri = false, null, null),
      Triple(about("c1", 1), P + "text", "hi there", obj_iri = false, null, null),
      Triple(about("c1", 1), P + "tool", "search", obj_iri = false, null, null),
      Triple(about("c1", 1), P + "ts", "2024-01-01T00:00:05", obj_iri = false, null, X + "dateTime"),
      Triple(about("c2", 0), P + "conv_id", "c2", obj_iri = false, null, null),
      Triple(about("c2", 0), P + "turn_idx", "0", obj_iri = false, null, X + "integer"),
      Triple(about("c2", 0), P + "role", "user", obj_iri = false, null, null),
      // string datatype keeps raw value unstripped (metadata.rb:2077-2078)
      Triple(about("c2", 0), P + "text", "  padded  ", obj_iri = false, null, null),
      Triple(about("c2", 0), P + "ts", "2024-01-02T10:00:00", obj_iri = false, null, X + "dateTime"))
    assert(got == expected)
  }

  test("standard mode adds row boilerplate + describes") {
    val got = run(minimal = false).as[Triple].collect().toSet
    val C = "http://www.w3.org/ns/csvw#"
    // 16 entity triples + per-row csvw:row/rownum/type/url + 1 describes per
    // row (all cells share the row's aboutUrl, so describes dedupes in a set)
    assert(got.size == 16 + 3 * 4 + 3)
    assert(got.contains(Triple("_:rc1-0", C + "rownum", "1", obj_iri = false, null,
      "http://www.w3.org/2001/XMLSchema#integer")))
    assert(got.contains(Triple("_:table1", C + "row", "_:rc1-0", obj_iri = true, null, null)))
    assert(got.contains(Triple("_:rc1-0", C + "url",
      "http://example.org/transcripts#row=2", obj_iri = true, null, null)))
    assert(got.contains(Triple("_:rc1-0", C + "describes", "urn:conv:c1/turn/0",
      obj_iri = true, null, null)))
  }

  test("list + ordered columns emit rdf:List cons chains") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [
          {"name": "tags", "separator": ";", "ordered": true, "datatype": "string"},
          {"name": "unordered", "separator": ";", "datatype": "integer"}
        ]
      }
    }"""
    val t = graft.model.Resolve.group(CsvwJson.parseTableGroup(json)).head
    val df = Seq(("a;b;c", "1;2"), ("", "")).toDF("tags", "unordered")
      .withColumn("rn", monotonically_increasing_id() + 1)
    val got = TripleMapper.triples(df, t,
      inputs = Map("tags" -> col("tags"), "unordered" -> col("unordered")),
      skolem = col("rn"), rownum = col("rn"), sourceNum = col("rn")).as[Triple].collect().toSet
    val R = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val X = "http://www.w3.org/2001/XMLSchema#"
    assert(got.contains(Triple("urn:row:1", "http://example.org/t#tags", "_:l1.tags.0", obj_iri = true, null, null)))
    assert(got.contains(Triple("_:l1.tags.0", R + "first", "a", obj_iri = false, null, null)))
    assert(got.contains(Triple("_:l1.tags.0", R + "rest", "_:l1.tags.1", obj_iri = true, null, null)))
    assert(got.contains(Triple("_:l1.tags.2", R + "rest", R + "nil", obj_iri = true, null, null)))
    // unordered separator column: one triple per element, typed
    assert(got.contains(Triple("urn:row:1", "http://example.org/t#unordered", "1", obj_iri = false, null, X + "integer")))
    assert(got.contains(Triple("urn:row:1", "http://example.org/t#unordered", "2", obj_iri = false, null, X + "integer")))
    // empty ordered list → rdf:nil object; empty unordered → no triples
    assert(got.contains(Triple("urn:row:2", "http://example.org/t#tags", R + "nil", obj_iri = true, null, null)))
    assert(!got.exists(t2 => t2.subj == "urn:row:2" && t2.pred.endsWith("#unordered")))
  }

  test("valueUrl produces IRI objects and is skipped for null cells") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [
          {"name": "code", "datatype": "string", "null": [""],
           "valueUrl": "http://example.org/code/{code}"}
        ]
      }
    }"""
    val t = graft.model.Resolve.group(CsvwJson.parseTableGroup(json)).head
    val df = Seq("gb", "").toDF("code").withColumn("rn", monotonically_increasing_id() + 1)
    val got = TripleMapper.triples(df, t, Map("code" -> col("code")),
      col("rn"), col("rn"), col("rn")).as[Triple].collect().toSet
    assert(got == Set(Triple("urn:row:1", "http://example.org/t#code",
      "http://example.org/code/gb", obj_iri = true, null, null)))
  }

  test("language-tagged strings carry lang") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [{"name": "title", "datatype": "string", "lang": "en"}]
      }
    }"""
    val t = graft.model.Resolve.group(CsvwJson.parseTableGroup(json)).head
    val df = Seq("hello").toDF("title").withColumn("rn", lit(1))
    val got = TripleMapper.triples(df, t, Map("title" -> col("title")),
      col("rn"), col("rn"), col("rn")).as[Triple].collect().toSet
    assert(got == Set(Triple("urn:row:1", "http://example.org/t#title", "hello",
      obj_iri = false, "en", null)))
  }

  test("invalid typed values degrade to plain literal + error side-channel") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [{"name": "n", "datatype": "integer"}]
      }
    }"""
    val t = graft.model.Resolve.group(CsvwJson.parseTableGroup(json)).head
    val df = Seq("42", "notanumber").toDF("n").withColumn("rn", monotonically_increasing_id() + 1)
    val got = TripleMapper.triples(df, t, Map("n" -> col("n")),
      col("rn"), col("rn"), col("rn")).as[Triple].collect().toSet
    assert(got.contains(Triple("urn:row:1", "http://example.org/t#n", "42",
      obj_iri = false, null, "http://www.w3.org/2001/XMLSchema#integer")))
    assert(got.contains(Triple("urn:row:2", "http://example.org/t#n", "notanumber",
      obj_iri = false, null, null)))
    val errs = TripleMapper.cellErrors(df, t, Map("n" -> col("n")), col("rn")).collect()
    assert(errs.length == 1 && errs(0).getString(1) == "n")
  }

  test("a template over a null cell expands with the variable empty, as in JSON output") {
    // ANSI element_at throws on the null cell's empty value list; the
    // template variable must bind to "" instead, in RDF and JSON alike
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:x:{tool}",
        "columns": [
          {"name": "role", "datatype": "string"},
          {"name": "tool", "datatype": "string", "null": [""]},
          {"name": "uses", "virtual": true, "propertyUrl": "http://example.org/uses",
           "valueUrl": "urn:tool:{tool}"}
        ]
      }
    }"""
    val t = graft.model.Resolve.group(CsvwJson.parseTableGroup(json)).head
    val df = Seq(("user", "", 1), ("assistant", "search", 2)).toDF("role", "tool", "rn")
    val inputs = Map("role" -> col("role"), "tool" -> col("tool"))
    val got = TripleMapper.triples(df, t, inputs, col("rn"), col("rn"), col("rn"))
      .as[Triple].collect().toSet
    val subject = got.find(_.obj == "user").map(_.subj)
    assert(subject.contains("urn:x:"), got.toString)
    assert(got.contains(Triple("urn:x:", "http://example.org/uses", "urn:tool:", obj_iri = true, null, null)))
    val ids = JsonOutput.minimalRows(df, t, inputs, col("rn"), col("rn"), col("rn"))
      .as[String].collect()
      .map(new com.fasterxml.jackson.databind.ObjectMapper().readTree(_))
      .filter(_.get("role").asText() == "user").map(_.get("@id").asText())
    assert(ids.toSeq == subject.toSeq)
  }
  // Parity cases for the shapes whose literal triples are built by the one
  // literal emitter: each pins the exact triple set.
  private val R = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val C = "http://www.w3.org/ns/csvw#"
  private val X = "http://www.w3.org/2001/XMLSchema#"
  private def lit3(s: String, p: String, o: String, lang: String = null, dtype: String = null) =
    Triple(s, p, o, obj_iri = false, lang, dtype)
  private def iri3(s: String, p: String, o: String) = Triple(s, p, o, obj_iri = true, null, null)
  private def mapped(json: String, df: org.apache.spark.sql.DataFrame,
                     minimal: Boolean = true): Set[Triple] = {
    val t = graft.model.Resolve.group(CsvwJson.parseTableGroup(json)).head
    TripleMapper.triples(df, t, t.nonVirtual.map(c => c.name -> col(c.name)).toMap,
      col("rn"), col("rn"), col("rn"), minimal = minimal).as[Triple].collect().toSet
  }

  test("literal columns under a per-column aboutUrl ({#_name})") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "{#_name}",
        "columns": [
          {"name": "label", "datatype": "string", "lang": "en"},
          {"name": "n", "datatype": "integer"}
        ]
      }
    }"""
    val df = Seq(("a", "1", 1), ("b", "x", 2)).toDF("label", "n", "rn")
    val T = "http://example.org/t"
    assert(mapped(json, df) == Set(
      lit3(T + "#label", T + "#label", "a", lang = "en"),
      lit3(T + "#label", T + "#label", "b", lang = "en"),
      lit3(T + "#n", T + "#n", "1", dtype = X + "integer"),
      lit3(T + "#n", T + "#n", "x")))
  }

  test("a literal column under a row-varying propertyUrl") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [
          {"name": "kind", "datatype": "string", "suppressOutput": true},
          {"name": "v", "datatype": "integer", "propertyUrl": "http://example.org/p/{kind}"}
        ]
      }
    }"""
    val df = Seq(("size", "3", 1), ("weight", "4", 2), ("", "5", 3)).toDF("kind", "v", "rn")
    assert(mapped(json, df) == Set(
      lit3("urn:row:1", "http://example.org/p/size", "3", dtype = X + "integer"),
      lit3("urn:row:2", "http://example.org/p/weight", "4", dtype = X + "integer"),
      lit3("urn:row:3", "http://example.org/p/", "5", dtype = X + "integer")))
  }

  test("an ordered integer list with a language: 0, 1 and 3 values, one unparseable") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [
          {"name": "nums", "separator": " ", "ordered": true, "datatype": "integer",
           "lang": "de"}
        ]
      }
    }"""
    val df = Seq(("", 1), ("7", 2), ("1 x 3", 3)).toDF("nums", "rn")
    val P = "http://example.org/t#nums"
    assert(mapped(json, df) == Set(
      iri3("urn:row:1", P, R + "nil"),
      iri3("urn:row:2", P, "_:l2.nums.0"),
      lit3("_:l2.nums.0", R + "first", "7", dtype = X + "integer"),
      iri3("_:l2.nums.0", R + "rest", R + "nil"),
      iri3("urn:row:3", P, "_:l3.nums.0"),
      lit3("_:l3.nums.0", R + "first", "1", dtype = X + "integer"),
      iri3("_:l3.nums.0", R + "rest", "_:l3.nums.1"),
      // unparseable: the language tag stands in for the datatype
      lit3("_:l3.nums.1", R + "first", "x", lang = "de"),
      iri3("_:l3.nums.1", R + "rest", "_:l3.nums.2"),
      lit3("_:l3.nums.2", R + "first", "3", dtype = X + "integer"),
      iri3("_:l3.nums.2", R + "rest", R + "nil")))
  }

  test("rowTitles on a non-string column with an invalid value, standard mode") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "rowTitles": ["n"],
        "columns": [{"name": "n", "datatype": "integer", "lang": "en"}]
      }
    }"""
    val df = Seq(("5", 1), ("bad", 2)).toDF("n", "rn")
    def row(i: Int, cell: Triple): Set[Triple] = Set(
      iri3("_:table1", C + "row", s"_:r$i"),
      lit3(s"_:r$i", C + "rownum", i.toString, dtype = X + "integer"),
      iri3(s"_:r$i", R + "type", C + "Row"),
      iri3(s"_:r$i", C + "url", s"http://example.org/t#row=$i"),
      iri3(s"_:r$i", C + "describes", s"urn:row:$i"),
      cell.copy(subj = s"_:r$i", pred = C + "title"),
      cell)
    val P = "http://example.org/t#n"
    assert(mapped(json, df, minimal = false) ==
      row(1, lit3("urn:row:1", P, "5", dtype = X + "integer")) ++
      row(2, lit3("urn:row:2", P, "bad", lang = "en")))
  }

  test("a list column named in aboutUrl and valueUrl templates expands every value") {
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}{?tags}",
        "columns": [
          {"name": "tags", "separator": ";", "suppressOutput": true},
          {"name": "link", "virtual": true, "propertyUrl": "http://example.org/link",
           "valueUrl": "urn:tag{/tags*}"}
        ]
      }
    }"""
    val df = Seq(("a;b;c", 1), ("x", 2), ("", 3)).toDF("tags", "rn")
    val L = "http://example.org/link"
    assert(mapped(json, df) == Set(
      iri3("urn:row:1?tags=a,b,c", L, "urn:tag/a/b/c"),
      iri3("urn:row:2?tags=x", L, "urn:tag/x"),
      // a null cell binds the empty list
      iri3("urn:row:3", L, "urn:tag")))
  }
}
