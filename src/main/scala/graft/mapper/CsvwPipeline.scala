package graft.mapper

import graft.model._
import graft.validate.{ValidateGate, Validations}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-TableGroup pipeline — the distributed equivalent of the reference's
  * `Reader#each_statement` (`/root/reference/lib/rdf/tabular/reader.rb:167-361`):
  * per-table row→triple mapping, group/table boilerplate, common-property and
  * provenance annotation triples, PK-duplicate and FK-integrity validation,
  * unioned into one triples DataFrame plus validation side-outputs.
  */
object CsvwPipeline {

  /** Run options. The metadata document's warnings and errors are not an
    * option: they ride on the group ([[TableGroupMeta.report]]), whichever
    * loader produced it.
    */
  final case class Options(
      minimal: Boolean = false,
      validate: Boolean = true,
      withProv: Boolean = false,
      provStartedAt: String = "1970-01-01T00:00:00Z",
      provEndedAt: String = "1970-01-01T00:00:00Z",
      metadataFiles: Seq[String] = Nil,
      /** embedded (header-derived) columns per table url for the
        * declared↔embedded compatibility check (`verify_compatible!`,
        * `metadata.rb:1004-1087`) */
      embeddedColumns: Map[String, List[ColumnMeta]] = Map.empty)

  /** One table's bound input: rows plus the columns that drive numbering and
    * skolemization. For CSV sources these come from
    * [[graft.sources.CsvDialectSource.readExact]] (`_row`/`_sourceRow`);
    * for transcript tables from `(conv_id, turn_idx)`.
    */
  final case class BoundTable(
      df: DataFrame,
      inputs: Map[String, Column],
      skolem: Column,
      rownum: Column,
      sourceNum: Column)

  final case class Result(
      triples: DataFrame,
      cellErrors: DataFrame,
      pkViolations: Map[String, DataFrame],
      fkViolations: Map[String, DataFrame],
      metadata: CsvwValidate.Report = CsvwValidate.Report.empty) {

    /** Validate-mode gate over the metadata report, cell errors and both
      * violation maps, each counted once — key-integrity failures are errors
      * (reader.rb:287, 665-673, 708-721). Callers run `validation.gate()`.
      */
    lazy val validation: ValidateGate = {
      val gate = new ValidateGate(cellErrors.sparkSession, metadata)
      gate.countCellErrors(cellErrors)
      gate.countKeyViolations(pkViolations.values, fkViolations.values)
      gate
    }
  }

  def run(spark: SparkSession, group: TableGroupMeta,
          bind: Map[String, BoundTable], opts: Options = Options()): Result = {
    import spark.implicits._
    val resolved = Resolve.group(group)
    val groupRes = group.id.getOrElse("_:tg")

    val tableParts: Seq[DataFrame] = resolved.zipWithIndex.flatMap { case (t, i) =>
      if (t.suppressOutput && !opts.validate) None
      else bind.get(t.url).map { b =>
        // a table's `@id` names it in the output graph (tree-ops-ext.json
        // `"@id": "http://example.org/tree-ops-ext"` → IRI-subject Table
        // node); otherwise a deterministic bnode
        val tableRes = group.tables.find(_.url == t.url).flatMap(_.id)
          .getOrElse(s"_:table${i + 1}")
        val rows = TripleMapper.triples(
          b.df, t, b.inputs, b.skolem, b.rownum, b.sourceNum,
          minimal = opts.minimal, tableResource = tableRes)
        if (t.suppressOutput) rows.limit(0)
        else if (opts.minimal) rows
        else {
          val boiler = TripleMapper.boilerplate(t, tableRes, groupRes)
          val tableMeta = group.tables.find(_.url == t.url)
          val common = tableMeta.toSeq.flatMap(_.common).zipWithIndex.flatMap {
            case ((k, v), j) =>
              Annotations.commonProperty(tableRes, k, v, s"t$i.$j", group.contextLang)
          }
          rows.unionByName((boiler ++ common).toDF())
        }
      }
    }

    val groupLevel: Seq[Triple] =
      if (opts.minimal) Nil
      else {
        val common = group.common.zipWithIndex.flatMap { case ((k, v), j) =>
          Annotations.commonProperty(groupRes, k, v, s"g$j", group.contextLang)
        }
        val prov =
          if (opts.withProv)
            Annotations.provenance(groupRes, resolved.map(_.url),
              opts.metadataFiles, opts.provStartedAt, opts.provEndedAt)
          else Nil
        common ++ prov
      }

    val allTriples = (tableParts ++ (if (groupLevel.nonEmpty) Seq(groupLevel.toDF()) else Nil))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[Triple].toDF())

    // validations (reader.rb:348, 230)
    val pkViolations: Map[String, DataFrame] =
      if (!opts.validate) Map.empty
      else resolved.flatMap { t =>
        bind.get(t.url).filter(_ => t.primaryKey.nonEmpty).map { b =>
          val keyed = t.primaryKey.foldLeft(b.df) { (d, k) =>
            d.withColumn(s"__pk_$k", b.inputs.getOrElse(k, col(k)).cast("string"))
          }
          t.url -> Validations.pkDuplicates(keyed, t.primaryKey.map(k => s"__pk_$k"))
        }
      }.toMap

    val fkViolations: Map[String, DataFrame] =
      if (!opts.validate) Map.empty
      else resolved.flatMap { t =>
        t.foreignKeys.flatMap { fk =>
          for {
            src <- bind.get(t.url)
            refTable <- resolved.find(rt => rt.url == fk.resource)
            dst <- bind.get(refTable.url)
          } yield {
            // FK references come from evaluated CELL values, not raw input:
            // a null-substituted cell (e.g. null: "xx") collects no
            // reference in the reference implementation (reader.rb:708-721
            // iterates cell values, and empty cells contribute none)
            val srcDf = fk.columnReference.foldLeft(src.df) { (d, k) =>
              val fkVal = t.columns.find(_.name == k)
                .map(c => RowCells.firstLex(RowCells.cellOf(c, src.inputs).getField("vals")))
                .getOrElse(src.inputs.getOrElse(k, col(k)))
              d.withColumn(s"__fk_$k", fkVal.cast("string"))
            }
            val dstDf = fk.referencedColumns.foldLeft(dst.df) { (d, k) =>
              d.withColumn(s"__ref_$k", dst.inputs.getOrElse(k, col(k)).cast("string"))
            }
            s"${t.url}->${fk.resource}" -> Validations.fkViolations(
              srcDf, fk.columnReference.map(k => s"__fk_$k"),
              dstDf, fk.referencedColumns.map(k => s"__ref_$k"))
          }
        }
      }.toMap

    val errors = resolved.flatMap { t =>
      bind.get(t.url).map(b => TripleMapper.cellErrors(b.df, t, b.inputs, b.skolem))
    }.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame)

    // the metadata document's report (the reference runs validate! before
    // any row flows, reader.rb:465; CsvwJson left it on the group) +
    // declared↔embedded compatibility when embedded headers exist
    // (verify_compatible!, reader.rb:120)
    val metaReport = opts.embeddedColumns.toList.map { case (url, cols) =>
      CsvwValidate.verifyCompatible(group, url, cols, strict = opts.validate)
    }.foldLeft(group.report)(_ ++ _)

    Result(allTriples, errors, pkViolations, fkViolations, metaReport)
  }
}
