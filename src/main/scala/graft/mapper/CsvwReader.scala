package graft.mapper

import graft.model._
import graft.sources.{CsvDialectSource, CsvwDiscover, HtmlTableSource}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** File-driven entry point — the analog of the reference's
  * `RDF::Reader.open(input, format: :tabular, base_uri: …)`
  * (`/root/reference/lib/rdf/tabular/reader.rb:105-165`): dispatch on the
  * input kind (metadata JSON document, HTML document, tabular file), run
  * metadata discovery, read every referenced table through the
  * dialect-exact scan, synthesize embedded metadata where no schema is
  * declared, and run the whole-group pipeline.
  *
  * `baseUrl` plays the reference's `base_uri` role: table urls and FK
  * resources resolve against it for the IRIs that appear in output triples,
  * while the bytes are read from files resolved against the input's own
  * directory (the filesystem analog of the reference's one HTTP origin).
  */
object CsvwReader {

  final case class Opened(group: TableGroupMeta,
                          resolved: List[ResolvedTable],
                          bind: Map[String, CsvwPipeline.BoundTable],
                          result: CsvwPipeline.Result)

  /** `to_json` analog over an opened group (`reader.rb:411-447`): minimal
    * mode is the flat array of describes objects; standard mode the nested
    * table-group document. Reuses the open's table bindings, so the JSON
    * pass stages the same codegen'd cell pipeline. The document is written
    * by [[JsonOutput.writeDocument]] into memory; [[writeMinimalJson]] and
    * [[writeStandardJson]] write the same bytes to a file, so the document
    * may exceed the driver heap.
    */
  def jsonDocument(opened: Opened, minimal: Boolean): String = {
    val w = new java.io.StringWriter()
    writeJson(opened, minimal, w)
    w.toString
  }

  def writeMinimalJson(opened: Opened, out: Path): Unit = writeJsonFile(opened, minimal = true, out)

  def writeStandardJson(opened: Opened, out: Path): Unit = writeJsonFile(opened, minimal = false, out)

  private def writeJsonFile(opened: Opened, minimal: Boolean, out: Path): Unit = {
    val w = Files.newBufferedWriter(out)
    try writeJson(opened, minimal, w) finally w.close()
  }

  private def writeJson(opened: Opened, minimal: Boolean, w: java.io.Writer): Unit =
    JsonOutput.writeDocument(opened.group, jsonParts(opened, minimal), minimal, w)

  private def jsonParts(opened: Opened, minimal: Boolean)
      : Seq[(TableMeta, ResolvedTable, org.apache.spark.sql.DataFrame)] =
    opened.group.tables.zip(opened.resolved)
      .filterNot(_._2.suppressOutput)
      .flatMap { case (tm, rt) =>
        opened.bind.get(rt.url).map { b =>
          val df =
            if (minimal)
              JsonOutput.minimalRowsOrdered(b.df, rt, b.inputs, b.skolem, b.rownum, b.sourceNum)
            else
              JsonOutput.describedRows(b.df, rt, b.inputs, b.skolem, b.rownum, b.sourceNum)
          (tm, rt, df)
        }
      }

  def open(spark: SparkSession, path: String, baseUrl: String,
           minimal: Boolean = false, validate: Boolean = false,
           userMetadata: Option[String] = None): Opened = {
    val p = Paths.get(path)
    // getParent is null for a bare relative filename — resolve from cwd
    val metaDir = Option(p.getParent).getOrElse(Paths.get("."))
    val lower = path.toLowerCase
    if (lower.endsWith(".json")) {
      // entry 1: a metadata document names its tables (reader.rb:127-141)
      val raw = CsvwJson.parseTableGroup(readString(p))
      openGroup(spark, raw.rebase(baseUrl), metaDir, baseUrl, minimal,
        validate, fragments = Map.empty)
    } else if (lower.endsWith(".html") || lower.endsWith(".htm")) {
      // entry 2: an HTML document carries csvm+json script metadata; tables
      // are either fragments of the document or external CSV references
      val doc = HtmlTableSource.readDocument(spark, path, baseUrl)
      openGroup(spark, doc.group, metaDir, baseUrl, minimal,
        validate, fragments = doc.fragmentTables)
    } else {
      // entry 3: a tabular file; metadata found by discovery precedence or
      // synthesized (reader.rb via metadata.rb:180-251 for_input)
      val raw = CsvwDiscover.forInput(path, userMetadata)
      // a synthesized group's table url is the local path — that becomes
      // the caller's base IRI, exactly as the reference derives the table
      // url from the request url
      val grp = raw.copy(tables = raw.tables.map(t =>
        if (t.url == path) t.copy(url = baseUrl) else t))
      // a .tsv input defaults the delimiter to tab (reader.rb:129)
      val dflt =
        if (lower.endsWith(".tsv")) DialectMeta(delimiter = "\t") else DialectMeta()
      openGroup(spark, grp.rebase(baseUrl), metaDir, baseUrl, minimal,
        validate, fragments = Map.empty, defaultDialect = dflt)
    }
  }

  private def readString(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Map a (rebased, absolute) table url back to the local file it is served
    * from: strip the base directory prefix and resolve the remainder under
    * the metadata document's directory.
    */
  private def localFor(metaDir: Path, baseDir: String, tableUrl: String): Path = {
    val noFrag = tableUrl.takeWhile(_ != '#')
    val rel = if (noFrag.startsWith(baseDir)) noFrag.substring(baseDir.length) else noFrag
    // an absolute URL outside the base directory (different origin/prefix)
    // has no local file to serve it — fail with the actual reason instead
    // of a NoSuchFileException on a mangled relative path downstream
    if (rel.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*"))
      throw new IllegalArgumentException(
        s"remote table url outside the metadata base is out of scope: $noFrag (base $baseDir)")
    metaDir.resolve(rel)
  }

  private def openGroup(spark: SparkSession, group0: TableGroupMeta,
                        metaDir: Path, baseUrl: String,
                        minimal: Boolean, validate: Boolean,
                        fragments: Map[String, CsvDialectSource.ExactResult],
                        defaultDialect: DialectMeta = DialectMeta()): Opened = {
    val baseDir = baseUrl.substring(0, baseUrl.lastIndexOf('/') + 1)
    val lang = group0.contextLang.getOrElse("und")

    // `"tableSchema": "<url>"` indirection: fetch the schema document from
    // its sibling file; its relative FK resources resolve like the parent's
    val withSchemas = CsvwJson.withFetchedSchemas(group0, baseUrl)(ref =>
      readString(localFor(metaDir, baseDir, ref)))
      .rebase(baseUrl) // re-resolve FK resources the fetched schemas added

    // read every table; fill schema-less tables from embedded header titles
    val reads: List[(TableMeta, CsvDialectSource.ExactResult, List[ColumnMeta])] =
      withSchemas.tables.map { t =>
        val dialect = t.dialect.orElse(withSchemas.dialect).getOrElse(defaultDialect)
        val exact = fragments.getOrElse(t.url,
          CsvDialectSource.readExact(spark, localFor(metaDir, baseDir, t.url).toString, dialect))
        val embedded = CsvDialectSource.embeddedColumns(exact.headerTitles, lang)
        val declaredCols = t.tableSchema.map(_.columns).getOrElse(Nil)
        val t1 =
          if (declaredCols.nonEmpty) t
          else t.copy(tableSchema =
            Some(t.tableSchema.getOrElse(SchemaMeta()).copy(columns = embedded)))
        // embedded comment rows annotate the TABLE as the rdfs:comment
        // common property (metadata.rb:893 data-region rows, :1860 skipped
        // lines) — they ride the existing common-property machinery into
        // standard-mode RDF and JSON output
        (CsvwJson.withComments(t1, exact.comments), exact, embedded)
      }

    val group = withSchemas.copy(tables = reads.map(_._1))
    val resolved = Resolve.group(group)

    // bind: non-virtual resolved columns map positionally onto the exact
    // scan's _c1.._cN (readExact already applied skipColumns); the skolem is
    // unique per (table, logical row) so default-subject bnodes never
    // collide across tables
    val bind = resolved.zip(reads).zipWithIndex.map { case ((rt, (_, exact, _)), i) =>
      // a declared column beyond the scan's width (headerless empty file,
      // or schema wider than the data) binds as an all-null slot — the
      // row-less/short-row case must flow through as empty cells, not fail
      // analysis on an unresolvable _cK
      val scanCols = exact.rows.columns.toSet
      val inputs = rt.nonVirtual.zipWithIndex.map { case (c, k) =>
        val slot = s"_c${k + 1}"
        c.name -> (if (scanCols.contains(slot)) col(slot)
                   else lit(null).cast("string"))
      }.toMap
      rt.url -> CsvwPipeline.BoundTable(
        exact.rows, inputs,
        skolem = concat(lit(s"${i + 1}."), col("_row")),
        rownum = col("_row"),
        sourceNum = col("_sourceRow"))
    }.toMap

    val embeddedByUrl = reads.collect {
      case (t, _, embedded) if embedded.nonEmpty => t.url -> embedded
    }.toMap
    val result = CsvwPipeline.run(spark, group, bind, CsvwPipeline.Options(
      minimal = minimal, validate = validate,
      embeddedColumns = if (validate) embeddedByUrl else Map.empty))
    Opened(group, resolved, bind, result)
  }
}
