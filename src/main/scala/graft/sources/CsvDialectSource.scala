package graft.sources

import graft.model.{ColumnMeta, DialectMeta}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** CSVW-dialect-aware CSV scan (SURVEY.md §2.1 S1/S5), re-expressing the
  * reference's `each_row` (`/root/reference/lib/rdf/tabular/metadata.rb:856-906`)
  * with full dialect semantics: skipRows, multi-row headers, comment
  * collection, skipColumns, trim, blank-row skipping and logical vs source
  * row numbers ([[readExact]]).
  */
object CsvDialectSource extends Serializable {

  final case class ExactResult(
      rows: DataFrame,         // _row, _sourceRow, _c1.._cN (post-skipColumns)
      headerTitles: List[List[String]], // per physical column, one per header row
      comments: List[String])

  /** How one dialect classifies a record; shipped into the scan's tasks. */
  private final class Layout(d: DialectMeta) extends Serializable {
    val skip: Long = d.skipRows
    /** records 1..headerEnd are the skipRows + header region */
    val headerEnd: Long = d.skipRows + d.effectiveHeaderRowCount
    private val delim = d.delimiter
    private val quote = d.quoteChar.headOption.getOrElse('"')
    private val doubleQuote = d.doubleQuote
    private val commentPfx = d.commentPrefix
    private val trim = d.effectiveTrim
    private val skipCols = d.skipColumns
    private val skipBlank = d.skipBlankRows

    def open(l: String): Boolean = quoteOpenAtEnd(l, delim.head, quote, doubleQuote)
    def assemble(physical: Seq[String]): Seq[String] =
      assembleRecords(physical, delim.head, quote, doubleQuote)
    def isComment(l: String): Boolean = commentPfx.exists(l.startsWith)
    def trimmed(s: String): String = trim match {
      case "true" => s.trim
      case "start" => s.replaceAll("^\\s+", "")
      case "end" => s.replaceAll("\\s+$", "")
      case _ => s
    }
    /** Dialect trim, then EXACTLY ONE leading character dropped and the rest
      * stripped (metadata.rb:1859 and :891 do value[1..-1].strip regardless
      * of the declared prefix length); in the skipRows region EVERY
      * non-empty line is a comment annotation, prefixed or not.
      */
    def commentOf(l0: String): Option[String] = {
      val l = trimmed(l0)
      val v = commentPfx.filter(l.startsWith).map(_ => l.drop(1).trim).getOrElse(l)
      Some(v).filter(_.nonEmpty)
    }
    def cells(l: String): Array[String] =
      parseCsvLine(l, delim, quote, doubleQuote).drop(skipCols).map(trimmed)
    /** A data-region record's cells; None for a comment or skipped blank row. */
    def dataCells(l: String): Option[Array[String]] =
      if (isComment(l)) None
      else Some(cells(l)).filter(c => !skipBlank || c.exists(_.nonEmpty))
  }

  /** Surviving rows, widest row and comments (metadata.rb:890-893) of a run
    * of data-region records, in record order.
    */
  private final class DataTally(layout: Layout) {
    var rows = 0L
    var width = 0
    val comments = ArrayBuffer.empty[String]
    def add(l: String): Unit =
      if (layout.isComment(l)) comments ++= layout.commentOf(l)
      else layout.dataCells(l).foreach { c => rows += 1; width = math.max(width, c.length) }
  }

  /** One partition of the records: how many, whether one leaves a quote
    * open, its first `headerEnd` records raw (the only ones that can fall
    * in the header region; which do depends on the records before the
    * partition) and the tally of the records after them, all data region.
    */
  private final case class Split(records: Long, open: Boolean, head: Array[String],
                                 rows: Long, width: Int, comments: Array[String])

  private def summarize(records: RDD[String], layout: Layout): Array[Split] =
    records.mapPartitions { it =>
      var n = 0L
      var open = false
      val head = ArrayBuffer.empty[String]
      val tally = new DataTally(layout)
      it.foreach { l =>
        n += 1
        open ||= layout.open(l)
        if (n <= layout.headerEnd) head += l else tally.add(l)
      }
      Iterator.single(Split(n, open, head.toArray, tally.rows, tally.width, tally.comments.toArray))
    }.collect()

  /** Exact `each_row` semantics with logical/source row numbering and
    * embedded-metadata header extraction (`metadata.rb:1794-1888`), in one
    * Spark job per table.
    *
    * The default framing (UTF-8, `\n` or `\r\n` terminators) scans the file
    * with `textFile` split over every core (`defaultParallelism`). One
    * summary pass returns each partition's record count, open-quote flag,
    * leading raw records and data-region tally ([[Split]]); the driver
    * derives from them the record and row offsets, the header titles, the
    * comments and the row width. `rows` then numbers each partition from
    * its offsets, so building it runs no job. Source numbers are record
    * numbers, as in the reference's Ruby CSV (`metadata.rb:887-902`:
    * `number + skipped` advance per `csv.shift`).
    *
    * Two fallbacks assemble records on the driver, parallelize them over
    * the same cores and run the same summary and numbering:
    *  - a record that leaves a quote open anywhere (a quoted field holding
    *    a line terminator) re-reads the lines and merges them with
    *    [[assembleRecords]];
    *  - a non-default `encoding` or `lineTerminators` decodes and splits
    *    the file on the driver first.
    * CSVW metadata-driven files are config-scale inputs (the 100 TB path is
    * parquet/Iceberg), so a sequential fold is affordable there.
    */
  def readExact(spark: SparkSession, path: String, dialect: DialectMeta): ExactResult = {
    val sc = spark.sparkContext
    val layout = new Layout(dialect)
    def assembled(physical: Seq[String]): RDD[String] =
      sc.parallelize(layout.assemble(physical), sc.defaultParallelism)
    val defaultFraming =
      dialect.encoding.equalsIgnoreCase("utf-8") &&
        (dialect.lineTerminators == List("\r\n", "\n") || dialect.lineTerminators == List("\n"))
    val records =
      if (defaultFraming) sc.textFile(path, sc.defaultParallelism)
      else {
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
        val text = new String(bytes, java.nio.charset.Charset.forName(dialect.encoding))
        val terms = dialect.lineTerminators.sortBy(-_.length)
        val out = ArrayBuffer.empty[String]
        var start = 0
        var i = 0
        while (i < text.length) {
          terms.find(t => text.startsWith(t, i)) match {
            case Some(t) => out += text.substring(start, i); i += t.length; start = i
            case None => i += 1
          }
        }
        if (start < text.length) out += text.substring(start)
        assembled(out.toSeq)
      }
    val first = summarize(records, layout)
    // a line-based scan with a quote left open splits records: reassemble
    val (recs, splits) =
      if (defaultFraming && first.exists(_.open)) {
        val merged = assembled(records.collect().toSeq)
        (merged, summarize(merged, layout))
      } else (records, first)

    // place each partition's leading records in the header region or the
    // data; visiting partitions in order keeps comments in record order
    val recOffsets = splits.scanLeft(0L)(_ + _.records)
    val comments = ArrayBuffer.empty[String]
    val headerLines = ArrayBuffer.empty[String]
    var dataWidth = 0
    val rowCounts = splits.indices.map { p =>
      val s = splits(p)
      val tally = new DataTally(layout)
      s.head.indices.foreach { i =>
        val n = recOffsets(p) + i + 1
        val l = s.head(i)
        if (n > layout.headerEnd) tally.add(l)
        else if (n <= layout.skip || layout.isComment(l)) comments ++= layout.commentOf(l)
        else headerLines += l
      }
      comments ++= tally.comments
      comments ++= s.comments
      dataWidth = math.max(dataWidth, math.max(tally.width, s.width))
      tally.rows + s.rows
    }
    val rowOffsets = rowCounts.scanLeft(0L)(_ + _).toArray
    val headerTitles: List[List[String]] =
      if (headerLines.isEmpty) Nil
      else {
        val parsed = headerLines.toList.map(layout.cells)
        val width = parsed.map(_.length).max
        (0 until width).toList.map(i => parsed.flatMap(r => r.lift(i)).filter(_.nonEmpty))
      }
    // a header-only table is valid CSVW (zero row triples, clean
    // validation): it must still expose one _c slot per header column, or
    // downstream cell binding fails ANALYSIS instead of yielding zero rows
    val width = math.max(dataWidth, headerTitles.length)

    // logical row number: 1-based among surviving rows, continued from the
    // rows of the partitions before (textFile and parallelize partitions
    // are in record order)
    val rows = recs.mapPartitionsWithIndex { (p, it) =>
      var n = recOffsets(p)
      var row = rowOffsets(p)
      it.flatMap { l =>
        n += 1
        if (n <= layout.headerEnd) None
        else layout.dataCells(l).map { c =>
          row += 1
          Row.fromSeq(row +: n +: c.padTo(width, "").toSeq)
        }
      }
    }
    val schema = StructType(
      StructField("_row", LongType) :: StructField("_sourceRow", LongType) ::
      (1 to width).map(i => StructField(s"_c$i", StringType)).toList)
    ExactResult(spark.createDataFrame(rows, schema), headerTitles, comments.toList)
  }

  /** Embedded metadata: header titles → ColumnMeta list (`metadata.rb:1794-1888`);
    * titles carry the content language when declared (`metadata.rb:1812`).
    */
  def embeddedColumns(headerTitles: List[List[String]], lang: String = "und"): List[ColumnMeta] =
    headerTitles.map(ts => ColumnMeta(titles = ts.map(lang -> _)))

  /** True when `text` ends inside an open quoted region (same state machine
    * as [[parseCsvLine]]: a quote opens a region only at field start).
    */
  def quoteOpenAtEnd(text: String, delim: Char, quote: Char, doubleQuote: Boolean): Boolean = {
    var i = 0
    var inQ = false
    var fieldLen = 0
    while (i < text.length) {
      val c = text(i)
      if (inQ) {
        if (!doubleQuote && c == '\\' && i + 1 < text.length) { i += 1; fieldLen += 1 }
        else if (c == quote) {
          if (doubleQuote && i + 1 < text.length && text(i + 1) == quote) { i += 1; fieldLen += 1 }
          else inQ = false
        } else fieldLen += 1
      } else {
        if (c == quote && fieldLen == 0) inQ = true
        else if (c == delim) fieldLen = 0
        else fieldLen += 1
      }
      i += 1
    }
    inQ
  }

  /** Merge physical lines into CSV records: while a line leaves a quote
    * open, the next line continues the record (the swallowed terminator is
    * reinstated as "\n", matching Ruby CSV's row value for quoted embedded
    * newlines). An unterminated final quote emits the partial record as-is.
    */
  def assembleRecords(lines: Seq[String], delim: Char, quote: Char,
                      doubleQuote: Boolean): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var cur: StringBuilder = null
    lines.foreach { l =>
      if (cur == null) cur = new StringBuilder(l)
      else { cur += '\n'; cur ++= l }
      if (!quoteOpenAtEnd(cur.toString, delim, quote, doubleQuote)) {
        out += cur.toString; cur = null
      }
    }
    if (cur != null) out += cur.toString
    out.toSeq
  }

  /** Minimal RFC 4180 line parser honoring quoteChar/doubleQuote. With
    * `doubleQuote = false` the escape character is backslash instead of a
    * doubled quote (CSVW tabular-data-model dialect `doubleQuote`; the
    * reference defines the same mapping, `metadata.rb:1766-1770`
    * `escape_character = doubleQuote ? '"' : '\\'`) — inside a quoted
    * region `\x` yields `x` literally.
    */
  def parseCsvLine(line: String, delim: String, quote: Char, doubleQuote: Boolean): Array[String] = {
    val out = ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    val d = delim.head
    while (i < line.length) {
      val c = line(i)
      if (inQ) {
        if (!doubleQuote && c == '\\' && i + 1 < line.length) { sb += line(i + 1); i += 1 }
        else if (c == quote) {
          if (doubleQuote && i + 1 < line.length && line(i + 1) == quote) { sb += quote; i += 1 }
          else inQ = false
        } else sb += c
      } else {
        if (c == quote && sb.isEmpty) inQ = true
        else if (c == d) { out += sb.toString; sb.clear() }
        else sb += c
      }
      i += 1
    }
    out += sb.toString
    out.toArray
  }
}
