package graft.sources

import graft.model.DialectMeta
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** HTML table scan (SURVEY.md §2.1 S2), the analog of the reference's
  * Nokogiri extraction (`/root/reference/lib/rdf/tabular/metadata.rb:859-881`,
  * `1817-1850`): a `<table>` selected by fragment id, `<th>` rows forming
  * header titles and `<td>` rows forming data, with the fixture-verified
  * numbering (`spec/data/countries_html-standard.ttl`): logical row number
  * counts data rows, source row number is the `<tr>` position.
  *
  * HTML-table inputs are config-scale documents (like metadata-driven CSV),
  * so extraction is a driver-side parse over the fetched document; the
  * resulting rows DataFrame distributes as usual. The parser is a minimal
  * regex extractor adequate for the static-table subset the reference's
  * fixtures exercise — not a general HTML5 tree builder (documented
  * divergence).
  */
object HtmlTableSource {

  private val TableRe = """(?is)<table\b([^>]*)>(.*?)</table>""".r
  private val TrRe = """(?is)<tr\b[^>]*>(.*?)</tr>""".r
  private val CellRe = """(?is)<t([hd])\b[^>]*>(.*?)</t[hd]\s*>""".r
  private val TagRe = """(?s)<[^>]*>""".r
  private val ScriptRe =
    """(?is)<script\b[^>]*type\s*=\s*["']application/csvm\+json["'][^>]*>(.*?)</script>""".r
  private val IdRe = """(?is)\bid\s*=\s*["']([^"']*)["']""".r

  private def unescape(s: String): String = s
    .replace("&lt;", "<").replace("&gt;", ">")
    .replace("&quot;", "\"").replace("&#39;", "'").replace("&apos;", "'")
    .replace("&amp;", "&")

  private def cellText(inner: String): String =
    unescape(TagRe.replaceAllIn(inner, "")).trim

  /** Embedded `<script type="application/csvm+json">` metadata document
    * (`spec/data/tree-ops.html` pattern; discovery for HTML inputs).
    */
  def scriptMetadata(html: String): Option[String] =
    ScriptRe.findFirstMatchIn(html).map(_.group(1).trim)

  /** Extract one table's header titles and numbered data rows.
    * @param fragment select the `<table id=…>`; None takes the first table
    * @return (per-column header titles, rows of (srcTrIndex, cells))
    */
  def extract(html: String, fragment: Option[String] = None)
      : (List[List[String]], List[(Long, List[String])]) = {
    val tables = TableRe.findAllMatchIn(html).toList
    val chosen = fragment match {
      case Some(f) => tables.find(m =>
        IdRe.findFirstMatchIn(m.group(1)).exists(_.group(1) == f))
        .getOrElse(throw new IllegalArgumentException(
          s"Expected to find HTML table identified by fragment identifier #$f"))
      case None => tables.headOption.getOrElse(
        throw new IllegalArgumentException("no <table> found in HTML input"))
    }
    val trs = TrRe.findAllMatchIn(chosen.group(2)).map(_.group(1)).toList
    var headerRows = List.empty[List[String]]
    var dataRows0 = List.empty[List[String]]
    trs.foreach { tr =>
      val cells = CellRe.findAllMatchIn(tr).map(m => (m.group(1).toLowerCase, cellText(m.group(2)))).toList
      // th cells contribute header titles AND td cells contribute a data row
      // independently: the reference collects row.xpath('th') and
      // row.xpath('td') separately (`metadata.rb:876-885`), so a mixed
      // th/td <tr> (row-label tables) produces both
      val (ths, tds) = cells.partition(_._1 == "h")
      if (ths.nonEmpty) headerRows :+= ths.map(_._2)
      if (tds.nonEmpty) dataRows0 :+= tds.map(_._2)
    }
    // Row numbering matches the reference's HTML leg (`metadata.rb:876-885`):
    // its pre-scan advances `number` once per <tr> — header or not (the
    // `if row.xpath('th')` guard is always truthy) — and the shared emit
    // loop then increments per data row, so the FIRST data row is numbered
    // (total tr count) + 1 and source numbers equal row numbers. The
    // committed goldens (`countries_embed-standard.ttl` rownum 5,6,7 for a
    // 4-tr table) pin this as observable behavior, so it is reproduced, not
    // "fixed".
    val dataRows = dataRows0.zipWithIndex.map { case (cells, j) =>
      ((trs.length + j + 1).toLong, cells)
    }
    val width = (headerRows.map(_.length) ++ dataRows.map(_._2.length)).maxOption.getOrElse(0)
    val titles = (0 until width).toList.map(c => headerRows.flatMap(_.lift(c)).filter(_.nonEmpty))
    (titles, dataRows.map { case (src, cells) => (src, cells.padTo(width, "")) })
  }

  /** Driver-parsed HTML table → the same `ExactResult` shape as
    * [[CsvDialectSource.readExact]] (`_row`, `_sourceRow`, `_c1..`), so the
    * CSVW pipeline binds HTML sources identically to CSV ones.
    */
  def readTable(spark: SparkSession, path: String,
                fragment: Option[String] = None,
                dialect: DialectMeta = DialectMeta()): CsvDialectSource.ExactResult = {
    val html = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    fromHtml(spark, html, fragment, dialect)
  }

  /** Same extraction over an already-fetched document string. */
  def fromHtml(spark: SparkSession, html: String,
               fragment: Option[String] = None,
               dialect: DialectMeta = DialectMeta()): CsvDialectSource.ExactResult = {
    val (titles, data) = extract(html, fragment)
    val skipCols = dialect.skipColumns
    val width = math.max((titles.length - skipCols).max(0),
      data.map(_._2.length - skipCols).maxOption.getOrElse(0))
    // HTML logical row numbers equal source numbers (metadata.rb:876-885:
    // `number` and `number + skipped` coincide — skipped stays 0 on the
    // HTML leg), so both columns carry the tr-based numbering from extract
    val rows = data.map { case (src, cells) =>
      Row.fromSeq(src +: src +: cells.drop(skipCols).padTo(width, ""))
    }
    val schema = StructType(
      StructField("_row", LongType) :: StructField("_sourceRow", LongType) ::
      (1 to width).map(i => StructField(s"_c$i", StringType)).toList)
    CsvDialectSource.ExactResult(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema),
      titles.drop(skipCols), comments = Nil)
  }

  /** A parsed HTML document: its `csvm+json` metadata (rebased against the
    * document url) plus extracted rows for every table whose url is a
    * fragment of the document itself.
    */
  final case class HtmlDocument(
      group: graft.model.TableGroupMeta,
      fragmentTables: Map[String, CsvDialectSource.ExactResult])

  /** End-to-end HTML document read — the analog of handing the reference an
    * `.html` input (`/root/reference/lib/rdf/tabular/metadata.rb:203-208`
    * HTML dispatch + `:859-881` table extraction): pull the
    * `application/csvm+json` script metadata, rebase its relative urls
    * against `docUrl`, and extract rows for each fragment-addressed table
    * (`"url": "#countries"` in `spec/data/countries_embed.html`). Tables
    * whose url resolves outside the document (external CSVs, as in
    * `spec/data/countries.html`) are left to the caller to bind from their
    * own source.
    */
  def readDocument(spark: SparkSession, path: String, docUrl: String,
                   dialect: DialectMeta = DialectMeta()): HtmlDocument = {
    val html = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val metaJson = scriptMetadata(html).getOrElse(throw new IllegalArgumentException(
      s"no <script type=\"application/csvm+json\"> metadata found in $path"))
    val group = graft.model.CsvwJson.parseTableGroup(metaJson).rebase(docUrl)
    val fragPrefix = docUrl + "#"
    val frags = group.tables.collect {
      case t if t.url.startsWith(fragPrefix) =>
        t.url -> fromHtml(spark, html, Some(t.url.substring(fragPrefix.length)),
          t.dialect.getOrElse(dialect))
    }.toMap
    HtmlDocument(group, frags)
  }
}
