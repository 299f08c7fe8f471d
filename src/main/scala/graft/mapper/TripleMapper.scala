package graft.mapper

import graft.core.Iri
import graft.expr.{CsvwFunctions, LitTripleSpec}
import graft.model.{ResolvedColumn, ResolvedTable}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One RDF statement. Blank nodes are encoded as `_:`-prefixed strings with
  * `objIsIri = true`; literals carry optional `lang`/`dtype`. A plain literal
  * (RDF 1.1 xsd:string) has both null.
  */
final case class Triple(
    subj: String, pred: String, obj: String,
    obj_iri: Boolean, lang: String, dtype: String)

object Vocab {
  val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val Csvw = "http://www.w3.org/ns/csvw#"
  val Prov = "http://www.w3.org/ns/prov#"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  val RdfType = Rdf + "type"
  val RdfFirst = Rdf + "first"
  val RdfRest = Rdf + "rest"
  val RdfNil = Rdf + "nil"
}

/** Compiles a [[ResolvedTable]] mapping into a Catalyst plan fragment:
  * input rows → `Dataset`-shaped triples DataFrame with columns
  * `(subj, pred, obj, obj_iri, lang, dtype)`.
  *
  * Design (SURVEY.md §2.7): everything stays in expression land —
  * per-column [[graft.expr.CsvwCellExpr]] structs, URI-template expressions,
  * one `flatten` + `explode`. Every triple whose object is a cell value
  * (plain literals under any subject or predicate template, ordered lists,
  * standard mode's `csvw:title`) is built by ONE
  * [[graft.expr.LitTriplesExpr]] call per row, the only place a cell value
  * becomes a literal; a predicate template that names no row variable
  * reaches it as a literal once Catalyst folds it. The IRI-object triples
  * (`valueUrl`, `csvw:describes`, the row triples) are composed Column
  * expressions. Blank nodes are deterministically
  * skolemized from the caller-supplied per-row key (north rule: derived from
  * `(conv_id, turn_idx)` for transcripts), unlike the reference's fresh
  * process-local bnodes (`reader.rb:301-302`), so output is reproducible and
  * graph-isomorphism comparison reduces to set equality.
  */
object TripleMapper {

  val tripleStruct: StructType = StructType(Seq(
    StructField("subj", StringType),
    StructField("pred", StringType),
    StructField("obj", StringType),
    StructField("obj_iri", BooleanType),
    StructField("lang", StringType),
    StructField("dtype", StringType)))
  private val tripleArray = ArrayType(tripleStruct)

  private def tr(subj: Column, pred: Column, obj: Column, objIri: Column,
                 lang: Column, dtype: Column): Column =
    struct(subj.cast("string").as("subj"), pred.cast("string").as("pred"),
      obj.cast("string").as("obj"), objIri.cast("boolean").as("obj_iri"),
      lang.cast("string").as("lang"), dtype.cast("string").as("dtype"))

  private val nullS: Column = lit(null).cast("string")
  private def iriTr(s: Column, p: Column, o: Column): Column =
    tr(s, p, o, lit(true), nullS, nullS)
  private def emptyTriples: Column = array().cast(tripleArray)

  /** @param df      source rows
    * @param table   resolved CSVW mapping
    * @param inputs  source column per non-virtual CSVW column name
    *                (virtual columns receive empty string input)
    * @param skolem  per-row unique string key (drives bnode skolemization)
    * @param rownum  logical row number (`_row`, csvw:rownum)
    * @param sourceNum physical row number (`_sourceRow`, row URL fragment)
    * @param minimal minimal vs standard mode (`reader.rb:90`)
    * @param tableResource subject for table-level triples in standard mode
    */
  def triples(
      df: DataFrame,
      table: ResolvedTable,
      inputs: Map[String, Column],
      skolem: Column,
      rownum: Column,
      sourceNum: Column,
      minimal: Boolean = true,
      tableResource: String = "_:table1",
      carry: Seq[String] = Nil): DataFrame = {

    val base = table.url
    val cols = table.columns

    // stage 1: evaluate every cell once
    val cells = RowCells(df, table, inputs, skolem, rownum, sourceNum)
    var staged = cells.staged
    import cells.vals

    val rowRes = concat(lit("_:r"), col("__skolem"))
    val defaultSubject = concat(lit("_:d"), col("__skolem"))

    // Hoist each distinct aboutUrl template into ONE staged column: the
    // expansion would otherwise be re-evaluated for every column it is the
    // subject of (N copies of uritemplateexpandexpr in the Generate node).
    // only templates without per-cell variables (_name/_column/_sourceColumn)
    // are hoistable — those expand identically for every column
    // staged-column names keyed by position in the deduplicated template
    // list — hashCode-keyed names could collide across distinct templates
    // (second withColumn silently wins → wrong subjects)
    val aboutTemplates: Map[String, String] = cols
      .flatMap(c => c.aboutUrl.filter(RowCells.rowConstant).map(_.template))
      .distinct.zipWithIndex
      .map { case (tmpl, i) => tmpl -> s"__about_$i" }
      .toMap
    aboutTemplates.foreach { case (tmpl, colName) =>
      val c = cols.find(_.aboutUrl.exists(_.template == tmpl)).get
      staged = staged.withColumn(colName, cells.expand(c.aboutUrl.get, c))
    }

    // per-column subject / predicate / valueUrl
    def aboutOf(c: ResolvedColumn): Column =
      c.aboutUrl.map { t =>
        aboutTemplates.get(t.template).map(col).getOrElse(cells.expand(t, c))
      }.getOrElse(defaultSubject)
    def predOf(c: ResolvedColumn): Column =
      c.propertyUrl.map(cells.expand(_, c))
        .getOrElse(lit(Iri.recompose(Iri.parse(base).copy(fragment = Some(c.name)))))

    // valueUrl triples: IRI objects, skipped when the cell is null and the
    // column non-virtual (metadata.rb:1960-1961)
    val valueUrlTriples: Seq[Column] =
      cols.filter(c => !c.suppressOutput && c.valueUrl.isDefined).map { c =>
        val cond = if (c.virtual) lit(true) else !cells.isNull(c)
        when(cond, array(iriTr(aboutOf(c), predOf(c), cells.expand(c.valueUrl.get, c))))
          .otherwise(emptyTriples)
      }

    // standard mode: one csvw:describes per *distinct* cell subject
    // (the reference emits one per cell, reader.rb:328, but RDF graph set
    // semantics collapse them; emitting distinct keeps row output exact)
    val describesTriples: Option[Column] =
      if (minimal) None
      else {
        // row and predicate are constant per row, so distinct triples are
        // distinct subjects; no lambda, which would take the Generate out
        // of whole-stage codegen
        Some(array_distinct(array(cols.filterNot(_.suppressOutput).map(c =>
          iriTr(rowRes, lit(Vocab.Csvw + "describes"), aboutOf(c))): _*)).cast(tripleArray))
      }

    // standard-mode row-level triples (reader.rb:301-311)
    val rowTriples: Option[Column] =
      if (minimal) None
      else {
        // the row url REPLACES any fragment the table url carries
        // (`metadata.rb:2134` `u.fragment = "row=#{sourceNumber}"` — an HTML
        // fragment table's rows live at <doc>#row=N, not <doc>#frag#row=N)
        val rowUrl = concat(lit(base.takeWhile(_ != '#') + "#row="),
          col("__srcnum").cast("string"))
        Some(array(
          iriTr(lit(tableResource), lit(Vocab.Csvw + "row"), rowRes),
          tr(rowRes, lit(Vocab.Csvw + "rownum"), col("__rownum").cast("string"),
            lit(false), nullS, lit(Vocab.XsdInteger)),
          iriTr(rowRes, lit(Vocab.RdfType), lit(Vocab.Csvw + "Row")),
          iriTr(rowRes, lit(Vocab.Csvw + "url"), rowUrl)))
      }

    // every triple whose object is a cell value, in one LitTriplesExpr:
    // standard mode's csvw:title per row title column, then each output
    // column without a valueUrl (an ordered list as an rdf:List)
    val titleParts =
      if (minimal) Nil
      else table.rowTitles.flatMap(tn => cols.find(_.name == tn)).map { c =>
        ((rowRes, lit(Vocab.Csvw + "title"), vals(c)), LitTripleSpec(c, list = false))
      }
    val cellParts = cols.filter(c => !c.suppressOutput && c.valueUrl.isEmpty).map { c =>
      ((aboutOf(c), predOf(c), vals(c)), LitTripleSpec(c, list = c.ordered && c.separator.isDefined))
    }
    val (parts, specs) = (titleParts ++ cellParts).unzip
    val litTriples = CsvwFunctions.litTriples(col("__skolem"), parts, specs).cast(tripleArray)

    val all = flatten(array(rowTriples.toSeq ++ describesTriples.toSeq ++
      (litTriples +: valueUrlTriples): _*))

    // `carry` threads input columns (e.g. an event-time timestamp for
    // streaming-state TTL) through the explode unchanged
    val exploded = staged
      .select(Seq(col("__skolem"), explode(all).as("__t")) ++ carry.map(col): _*)
      .select(Seq(
        col("__t.subj").as("subj"), col("__t.pred").as("pred"),
        col("__t.obj").as("obj"), col("__t.obj_iri").as("obj_iri"),
        col("__t.lang").as("lang"), col("__t.dtype").as("dtype")) ++ carry.map(col): _*)
    exploded
  }

  /** Table/group-level boilerplate triples (standard mode, `reader.rb:183-276`),
    * driver-side constants to be unioned with the row triples.
    */
  def boilerplate(table: ResolvedTable, tableResource: String = "_:table1",
                  groupResource: String = "_:tg"): Seq[Triple] = Seq(
    Triple(groupResource, Vocab.RdfType, Vocab.Csvw + "TableGroup", obj_iri = true, null, null),
    Triple(groupResource, Vocab.Csvw + "table", tableResource, obj_iri = true, null, null),
    Triple(tableResource, Vocab.RdfType, Vocab.Csvw + "Table", obj_iri = true, null, null),
    Triple(tableResource, Vocab.Csvw + "url", table.url, obj_iri = true, null, null))

  /** Per-row cell errors as a side-output DataFrame (A5/error semantics):
    * `(skolem, column, error)`, read from the same staged cells as [[triples]].
    */
  def cellErrors(
      df: DataFrame,
      table: ResolvedTable,
      inputs: Map[String, Column],
      skolem: Column): DataFrame = {
    // error rows are keyed by the skolem alone: no row numbers
    val cells = RowCells(df, table, inputs, skolem, lit(null), lit(null))
    // one (column, errs) struct per column, then one row per error: two
    // codegen'd Generates, no lambda
    val perColumn = array(table.columns.map(c =>
      struct(lit(c.name).as("column"), cells.cell(c).getField("errs").as("errs"))): _*)
    cells.staged
      .select(col("__skolem").as("row_key"), inline(perColumn))
      .select(col("row_key"), col("column"), explode(col("errs")).as("error"))
  }
}
