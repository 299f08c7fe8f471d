package graft.validate

import graft.model.CsvwValidate.Report

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.util.LongAccumulator

import scala.collection.immutable.ListMap

/** Validation failed: the run saw errors (`reader.rb:265-267` — the
  * reference raises `RDF::ReaderError, "Errors found during processing"`
  * when validate mode counted any error-severity problem).
  */
final class GraftValidationException(msg: String) extends RuntimeException(msg)

/** The one validate-mode gate (A5 second half): what counts as an error
  * and when the run fails. Cell errors are counted into `LongAccumulator`s
  * in one distributed pass over the error side-output, key violations by
  * one count per frame; both join the metadata [[Report]]. `gate()` fails
  * the run like the reference's validate mode, and [[manifestMetrics]]
  * feeds `GraphWriter.writeTriples(..., metrics = gate.manifestMetrics)`.
  */
final class ValidateGate(spark: SparkSession,
                         metadataReport: Report = Report.empty) {

  val cellErrorAcc: LongAccumulator =
    spark.sparkContext.longAccumulator("graft.validate.cellErrors")
  val rowAcc: LongAccumulator =
    spark.sparkContext.longAccumulator("graft.validate.rowsWithErrors")

  /** Count the `TripleMapper.cellErrors` side output: one accumulator add
    * per partition (errors), plus distinct row keys per partition (an upper
    * bound on affected rows — exact when a row's errors land in one
    * partition, which holds because the side output is not re-shuffled).
    */
  def countCellErrors(cellErrors: DataFrame): Unit = {
    val errs = cellErrorAcc
    val rows = rowAcc
    cellErrors.foreachPartition { it: Iterator[Row] =>
      var n = 0L
      val keys = scala.collection.mutable.HashSet.empty[String]
      it.foreach { r => n += 1; keys += r.getString(0) }
      if (n > 0) { errs.add(n); rows.add(keys.size.toLong) }
    }
  }

  // (pk, fk) violation rows; None until countKeyViolations runs, so a gate
  // that never counts keys writes the manifest it always wrote
  private var keyViolations: Option[(Long, Long)] = None

  /** One error per row of a `Validations.pkDuplicates` frame (a duplicated
    * key) and of a `Validations.fkViolations` frame (an unresolved
    * reference); one count job per frame.
    */
  def countKeyViolations(pk: Iterable[DataFrame], fk: Iterable[DataFrame]): Unit = {
    val (p, f) = keyViolations.getOrElse((0L, 0L))
    keyViolations = Some((p + pk.iterator.map(_.count()).sum, f + fk.iterator.map(_.count()).sum))
  }

  /** Error count per kind, in the order `gate()` names them. */
  def errorCounts: ListMap[String, Long] = ListMap(
    "cell_error" -> cellErrorAcc.value,
    "pk_violation_error" -> keyViolations.fold(0L)(_._1),
    "fk_violation_error" -> keyViolations.fold(0L)(_._2),
    "metadata_error" -> metadataReport.errors.size.toLong)

  def errors: Long = errorCounts.values.sum
  def warnings: Long = metadataReport.warnings.size.toLong

  def manifestMetrics: Map[String, Long] = Map[String, Long](
    "errors" -> errors,
    "warnings" -> warnings,
    "rows_with_errors" -> rowAcc.value) ++ keyViolations.toList.flatMap {
      case (p, f) => List("pk_violations" -> p, "fk_violations" -> f) }

  /** The validate-mode exit gate: no-op when clean; otherwise raise, naming
    * each error kind with its count and every metadata error text.
    */
  def gate(): Unit =
    if (errors > 0) {
      val kinds = errorCounts.collect { case (k, n) if n > 0 => s"$k=$n" }.mkString(", ")
      val meta = metadataReport.errors.map("; metadata error: " + _).mkString
      throw new GraftValidationException(
        s"Errors found during processing ($errors errors, $warnings warnings): $kinds$meta")
    }
}
