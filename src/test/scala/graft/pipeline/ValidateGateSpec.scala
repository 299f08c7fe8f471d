package graft.pipeline

import graft.mapper.TripleMapper
import graft.model.CsvwJson
import graft.model.CsvwValidate.Report
import graft.validate.{GraftValidationException, ValidateGate, Validations}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A5 second half: per-severity accumulators counted during the
  * distributed pass over the cell-error side output, and the validate-mode
  * exit gate that fails the run on errors > 0 (`reader.rb:265-267`).
  */
class ValidateGateSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  private val mappingJson = """{
    "url": "http://example.org/t",
    "tableSchema": {
      "aboutUrl": "urn:r:{rid}",
      "columns": [
        {"name": "rid", "datatype": "string", "required": true},
        {"name": "qty", "datatype": "integer"}
      ]
    }
  }"""
  private lazy val table =
    graft.model.Resolve.group(CsvwJson.parseTableGroup(mappingJson)).head
  private def inputs = table.nonVirtual.map(c => c.name -> col(c.name)).toMap

  private def cellErrors(rows: Seq[(String, String)]) =
    TripleMapper.cellErrors(rows.toDF("rid", "qty"), table, inputs, col("rid"))

  test("accumulators count cell errors per severity and the gate raises") {
    val gate = new ValidateGate(spark)
    // r1: clean; r2: bad integer; r3: bad integer + missing required = 2 errors
    gate.countCellErrors(cellErrors(Seq(
      ("r1", "7"), ("r2", "seven"), ("", "NaNope"))))
    assert(gate.errors == 3, s"errors=${gate.errors}")
    assert(gate.rowAcc.value == 2, s"rowsWithErrors=${gate.rowAcc.value}")
    val ex = intercept[GraftValidationException](gate.gate())
    assert(ex.getMessage.contains("Errors found during processing"))
  }

  test("clean run passes the gate; metadata warnings are counted, non-fatal") {
    val gate = new ValidateGate(spark, Report(List("some warning"), Nil))
    gate.countCellErrors(cellErrors(Seq(("r1", "1"), ("r2", "2"))))
    assert(gate.errors == 0 && gate.warnings == 1)
    gate.gate() // must not throw
  }

  test("metadata errors alone fail the gate") {
    val gate = new ValidateGate(spark, Report(Nil, List("Table missing required keys: url")))
    val ex = intercept[GraftValidationException](gate.gate())
    assert(ex.getMessage.contains("1 errors"))
  }

  test("key violations count as errors, name their kinds and reach the manifest") {
    val people = Seq(("p1", "c1"), ("p1", "c2"), ("p2", "c9")).toDF("pid", "city")
    val cities = Seq("c1", "c2").toDF("cid")
    val gate = new ValidateGate(spark, Report(Nil, List("bad metadata")))
    gate.countCellErrors(cellErrors(Seq(("r1", "1"))))
    // p1 is one duplicated key; c9 is one unresolved reference
    gate.countKeyViolations(
      Seq(Validations.pkDuplicates(people, Seq("pid"))),
      Seq(Validations.fkViolations(people, Seq("city"), cities, Seq("cid"))))
    assert(gate.errors == 3, s"errors=${gate.errors}")
    assert(gate.errorCounts == Map("cell_error" -> 0L, "pk_violation_error" -> 1L,
      "fk_violation_error" -> 1L, "metadata_error" -> 1L))
    val ex = intercept[GraftValidationException](gate.gate())
    Seq("(3 errors, 0 warnings)", "pk_violation_error=1", "fk_violation_error=1",
      "metadata_error=1", "bad metadata").foreach { frag =>
      assert(ex.getMessage.contains(frag), ex.getMessage)
    }
    assert(!ex.getMessage.contains("cell_error"), ex.getMessage)
    assert(gate.manifestMetrics == Map("errors" -> 3L, "warnings" -> 0L,
      "rows_with_errors" -> 0L, "pk_violations" -> 1L, "fk_violations" -> 1L))
  }

  test("stage manifest surfaces the severity counts") {
    val gate = new ValidateGate(spark, Report(List("w"), Nil))
    gate.countCellErrors(cellErrors(Seq(("r1", "oops"))))
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val trip = Seq(("s", "p", "o")).toDF("subj", "pred", "obj")
    graft.materialize.GraphWriter.writeTriples(trip, s"$dir/triples",
      metrics = gate.manifestMetrics)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/_MANIFEST_triples.json"))
    assert(manifest.contains(""""metrics":{"errors":1,"rows_with_errors":1,"warnings":1}"""))
    assert(manifest.contains(""""rows":1"""))
  }
}
