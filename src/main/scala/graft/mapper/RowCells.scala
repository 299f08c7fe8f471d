package graft.mapper

import graft.core.{Iri, UriTemplate}
import graft.expr.CsvwFunctions
import graft.model.{ResolvedColumn, ResolvedTable}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One table's source rows with every cell evaluated once, the analog of
  * the reference's `Row` (`metadata.rb:1955-2303`). [[staged]] is the
  * source frame plus `__skolem`, `__rownum`, `__srcnum` and one
  * `__cell_<name>` struct per column; [[expand]] expands a column's URI
  * template over those cells. The triple mapper, the cell-error side
  * output, the JSON row assembly and the foreign-key check all bind cells
  * and template variables here, so RDF and JSON output agree on every value.
  */
private[mapper] final class RowCells private (val staged: DataFrame, table: ResolvedTable) {

  // backticks: unnamed (virtual) columns default to `_col.N` — a bare
  // col() reference would parse the dot as struct-field access
  def cell(c: ResolvedColumn): Column = col(s"`__cell_${c.name}`")
  def vals(c: ResolvedColumn): Column = cell(c).getField("vals")
  def isNull(c: ResolvedColumn): Column = cell(c).getField("isNull")

  // template variable map (metadata.rb:2050, 2120-2126): column name →
  // string (scalar; "" when the cell has no value) or array<string> (list
  // columns), then the row numbers
  private val rowVars: Seq[(String, Column)] =
    table.columns.map { c =>
      c.name -> (if (c.separator.isDefined) vals(c).getField("lex")
                 else coalesce(RowCells.firstLex(vals(c)), lit("")))
    } ++ Seq(
      "_row" -> col("__rownum").cast("string"),
      "_sourceRow" -> col("__srcnum").cast("string"))

  /** `t` expanded for column `c`; only the variables `t` uses are passed,
    * which keeps the expression narrow. */
  def expand(t: UriTemplate.Compiled, c: ResolvedColumn): Column = {
    val used = RowCells.varNames(t)
    val vars = rowVars ++ RowCells.cellVars(c).map { case (k, v) => k -> lit(v) }
    CsvwFunctions.uriTemplate(t, table.url, vars.filter(v => used(v._1)))
  }
}

private[mapper] object RowCells {

  /** Stage `df`'s cells. `inputs` names the source column per non-virtual
    * CSVW column (default: the column of the same name); virtual columns
    * read the empty string. */
  def apply(df: DataFrame, table: ResolvedTable, inputs: Map[String, Column],
            skolem: Column, rownum: Column, sourceNum: Column): RowCells = {
    val keyed = df
      .withColumn("__skolem", skolem.cast("string"))
      .withColumn("__rownum", rownum.cast("long"))
      .withColumn("__srcnum", sourceNum.cast("long"))
    new RowCells(table.columns.foldLeft(keyed) { (d, c) =>
      d.withColumn(s"__cell_${c.name}", cellOf(c, inputs))
    }, table)
  }

  /** Column `c`'s cell struct evaluated from its input, unstaged. */
  def cellOf(c: ResolvedColumn, inputs: Map[String, Column]): Column =
    CsvwFunctions.csvwCell(
      if (c.virtual) lit("") else inputs.getOrElse(c.name, col(c.name)).cast("string"), c)

  /** The first value's lexical form of a cell's `vals`, null when there is
    * none (a null cell, or an empty list). ANSI `element_at` throws on an
    * empty array, so the size guard comes first. */
  def firstLex(vals: Column): Column =
    when(size(vals) >= 1, element_at(vals, 1).getField("lex"))

  /** The per-column variables `_name`, `_column` and `_sourceColumn`. */
  def cellVars(c: ResolvedColumn): Seq[(String, String)] = Seq(
    "_name" -> Iri.pctDecode(c.name),
    "_column" -> c.number.toString,
    "_sourceColumn" -> c.sourceNumber.toString)

  private def varNames(t: UriTemplate.Compiled): Set[String] =
    t.parts.collect { case UriTemplate.Expr(_, vs) => vs.map(_.name) }.flatten.toSet

  private val cellVarNames = Set("_name", "_column", "_sourceColumn")

  /** True when `t` expands alike for every column of a row: it names no
    * per-column variable. */
  def rowConstant(t: UriTemplate.Compiled): Boolean = !varNames(t).exists(cellVarNames)
}
