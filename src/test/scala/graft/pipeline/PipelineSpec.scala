package graft.pipeline

import graft.functions.{AnnFunctions, DedupFunctions, Multimodal, Packing, TextFunctions}
import graft.link.{ConnectedComponents, EntityLink}
import graft.materialize.GraphWriter
import graft.sources.CsvDialectSource
import graft.validate.Validations
import graft.model.DialectMeta

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class ValidationsSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  test("pkDuplicates finds only duplicated keys") {
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val dups = Validations.pkDuplicates(df, Seq("k")).collect()
    assert(dups.length == 1 && dups(0).getString(0) == "a" && dups(0).getLong(1) == 2)
  }

  test("fkViolations anti-join; nulls not violations") {
    val src = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val dst = Seq(1L, 2L, 3L).toDF("pk")
    val v = Validations.fkViolations(src, Seq("fk"), dst, Seq("pk")).collect()
    assert(v.map(_.getLong(0)).toSet == Set(99L))
  }

  test("turnTextConsistency flags conflicting text per (conv, turn)") {
    val df = Seq(("c1", 0, "x"), ("c1", 0, "y"), ("c1", 1, "z"), ("c1", 1, "z"))
      .toDF("conv_id", "turn_idx", "text")
    val bad = Validations.turnTextConsistency(df).collect()
    assert(bad.length == 1 && bad(0).getInt(1) == 0)
  }
}

class EntityLinkSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  test("mentions via broadcast dictionary") {
    val corpus = Seq((1L, "The Spark engine joins tables"), (2L, "no matches here!"))
      .toDF("doc_id", "text")
    val dict = Seq(("e1", "spark"), ("e2", "tables")).toDF("entity_id", "surface")
    val m = EntityLink.mentions(corpus, dict, "doc_id", "text")
      .select("doc_id", "entity_id").as[(Long, String)].collect().toSet
    assert(m == Set((1L, "e1"), (1L, "e2")))
  }

  test("connected components: two components, deterministic min labels") {
    val edges = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val cc = ConnectedComponents.run(spark, edges)
      .as[(String, String)].collect().toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("connected components: chain needs multiple iterations") {
    val edges = (1 to 9).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val cc = ConnectedComponents.run(spark, edges).as[(String, String)].collect().toMap
    assert(cc.values.toSet == Set("n1"))
  }

  test("starEdges: linear edge count, same components as all-pairs edges") {
    // entity A spans {n1,n2,n3}, entity B spans {n3,n4}: n3 bridges them,
    // so the all-pairs edges (4, Σk²/2) make ONE component labelled n1;
    // the star form must give the same with 3 edges (Σk)
    val m = Seq(("A", "n1"), ("A", "n2"), ("A", "n3"), ("B", "n3"), ("B", "n4"))
      .toDF("entity_id", "k")
    val star = EntityLink.starEdges(m, "k")
    assert(star.as[(String, String)].collect().toSet ==
      Set(("n1", "n2"), ("n1", "n3"), ("n3", "n4")))
    val cc = ConnectedComponents.run(spark, star).as[(String, String)].collect().toMap
    assert(cc == Map("n1" -> "n1", "n2" -> "n1", "n3" -> "n1", "n4" -> "n1"), cc)
  }

  test("canonicalizeSubjects: linked subjects merge onto the canonical, shared legs dedup") {
    val triples = Seq(
      ("s1", "p:role", "user", false, null.asInstanceOf[String], null.asInstanceOf[String]),
      ("s2", "p:role", "user", false, null.asInstanceOf[String], null.asInstanceOf[String]),
      ("s2", "p:text", "hi", false, null.asInstanceOf[String], null.asInstanceOf[String]),
      ("s9", "p:role", "tool", false, null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("subj", "pred", "obj", "obj_iri", "lang", "dtype")
    val comp = Seq(("s1", "s1"), ("s2", "s1")).toDF("id", "component")
    val canon = EntityLink.canonicalizeSubjects(triples, comp)
    // the rewrite alone keeps every row: s2's role leg now repeats s1's
    assert(canon.count() == 4)
    val got = GraphWriter.sink(canon)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSeq
    // through the sink rule s2's role leg collapses into s1's identical
    // leg; s9 passes through
    assert(got.sorted == Seq(
      ("s1", "p:role", "user"), ("s1", "p:text", "hi"), ("s9", "p:role", "tool")))
  }
}

class GraphWriterSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  def triples = Seq(
    graft.mapper.Triple("s1", "p", "o1", obj_iri = true, null, null),
    graft.mapper.Triple("s1", "p", "o1", obj_iri = true, null, null), // dup
    graft.mapper.Triple("s0", "p", "lit", obj_iri = false, "en", null)).toDF()

  /** Runs `body` with `n` shuffle partitions and AQE partition coalescing
    * off, so the sink writes one part file per non-empty dedup partition;
    * the session's settings are restored afterwards. */
  private def withPartitions[T](n: Int)(body: => T): T = {
    val conf = Map("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("writeTriples dedups, sorts within partitions, writes lineage + manifest") {
    val dir = java.nio.file.Files.createTempDirectory("gw").toString
    val path = s"$dir/graph"
    withPartitions(2)(GraphWriter.writeTriples(triples, path))
    val back = spark.read.parquet(path)
    assert(back.count() == 2)
    assert(spark.read.parquet(s"$path.lineage").count() >= 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_MANIFEST_graph.json")))
  }

  /** 600 triples over 200 subjects, 7 copies of one duplicate. */
  private def manyTriples = ((0 until 600).map(i =>
      graft.mapper.Triple(f"urn:s:${(i * 37) % 200}%04d", s"p${i % 3}", s"o$i", obj_iri = false, null, null)) ++
    Seq.fill(7)(graft.mapper.Triple("urn:s:dup", "p", "o", obj_iri = true, null, null))).toDF()

  private def manifestRows(dir: String, name: String): Long = {
    val m = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/_MANIFEST_$name.json"))
    """"rows":(\d+)""".r.findFirstMatchIn(m).get.group(1).toLong
  }

  /** Per part file of `path`: (part number, rows, min subj, max subj), by
    * reading the data itself. */
  private def fileAggregates(path: String) =
    spark.read.parquet(path)
      .groupBy(regexp_extract(input_file_name(), "part-(\\d+)", 1).cast("int").as("partition_id"))
      .agg(count(lit(1)).as("rows"), min("subj").as("min_subj"), max("subj").as("max_subj"))
      .as[(Int, Long, String, String)].collect().sortBy(_._1).toSeq

  private def lineage(path: String) =
    spark.read.parquet(s"$path.lineage").select("partition_id", "rows", "min_subj", "max_subj")
      .as[(Int, Long, String, String)].collect().sortBy(_._1).toSeq

  test("lineage rows and subj bounds match each part file; manifest rows == their sum") {
    val dir = java.nio.file.Files.createTempDirectory("gw3").toString
    val path = s"$dir/graph"
    withPartitions(3)(GraphWriter.writeTriples(manyTriples, path))
    val files = fileAggregates(path)
    assert(files.length == 3)
    assert(lineage(path) == files)
    val back = spark.read.parquet(path).count()
    assert(back == 601)
    assert(manifestRows(dir, "graph") == back)
    assert(lineage(path).map(_._2).sum == back)
  }

  test("a subject past parquet's statistics size limit gets exact rows and null bounds") {
    val dir = java.nio.file.Files.createTempDirectory("gw5").toString
    val path = s"$dir/graph"
    val long = "urn:s:" + "x" * 5000 // over MAX_STATS_SIZE (4096 bytes): no min/max in the footer
    val df = manyTriples.union(Seq(
      graft.mapper.Triple(long, "p", "o", obj_iri = true, null, null)).toDF())
    withPartitions(2)(GraphWriter.writeTriples(df, path))
    val withLong = spark.read.parquet(path).filter(length(col("subj")) > 4096)
      .select(regexp_extract(input_file_name(), "part-(\\d+)", 1).cast("int")).as[Int].collect().toSet
    assert(withLong.size == 1)
    val files = fileAggregates(path).map(f => f._1 -> f).toMap
    val lin = lineage(path)
    assert(lin.map(_._1).toSet == files.keySet)
    lin.foreach { case l @ (part, rows, lo, hi) =>
      assert(rows == files(part)._2, l.toString.take(200))
      if (withLong(part)) assert(lo == null && hi == null)
      else assert((lo, hi) == (files(part)._3, files(part)._4))
    }
    assert(manifestRows(dir, "graph") == 602)
  }

  test("manifest is valid JSON when the path holds a quote or a backslash") {
    val dir = java.nio.file.Files.createTempDirectory("gw\"q\\b").toString
    val path = s"$dir/graph"
    GraphWriter.writeTriples(triples, path, metrics = Map("errors" -> 0L))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/_MANIFEST_graph.json")))
    assert(m.get("path").asText == path)
    assert(m.get("rows").asLong == 2)
    assert(m.get("stage_complete").asBoolean && m.get("metrics").get("errors").asLong == 0)
  }

  test("identical triples write identical bytes; the manifest differs only in its path") {
    // it9 -> it10 lengthens the path by one byte, as a benchmark's
    // numbered iteration directories do
    val root = java.nio.file.Files.createTempDirectory("gw6")
    val paths = Seq("it9", "it10").map(it => s"$root/$it/triples")
    paths.foreach(p => GraphWriter.writeTriples(manyTriples, p))
    def bytes(dir: String): Long = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try files.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally files.close()
    }
    val Seq(a, b) = paths
    assert(bytes(a) > 0 && bytes(a) == bytes(b), "part files")
    assert(bytes(s"$a.lineage") == bytes(s"$b.lineage"), "lineage files")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifests = paths.map(p => json.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(p).resolveSibling("_MANIFEST_triples.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    assert(manifests.map(_.get("path").asText) == paths)
    manifests.foreach(_.remove("path"))
    assert(manifests(0) == manifests(1))
  }

  test("every column chunk of the part files and the lineage file is zstd") {
    val dir = java.nio.file.Files.createTempDirectory("gw7").toString
    val path = s"$dir/graph"
    withPartitions(3)(GraphWriter.writeTriples(manyTriples, path))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Seq(path, s"$path.lineage").map { p =>
      val out = new org.apache.hadoop.fs.Path(p)
      out.getFileSystem(conf).listStatus(out).filter(_.getPath.getName.endsWith(".parquet")).toSeq
    }
    assert(files.map(_.length) == Seq(3, 1))
    val codecs = files.flatten.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
      finally reader.close()
    }
    // six triple columns per part file, four lineage columns
    assert(codecs.length == 3 * 6 + 4)
    assert(codecs.toSet == Set(CompressionCodecName.ZSTD))
  }

  test("writeTriples runs no more Spark jobs than the sink's own write") {
    val dir = java.nio.file.Files.createTempDirectory("gw8").toString
    val Seq(sinkOnly, written) = withPartitions(3)(Seq(
      graft.mapper.TestSpark.jobsDuring(GraphWriter.sink(manyTriples).write.parquet(s"$dir/sink")),
      graft.mapper.TestSpark.jobsDuring(GraphWriter.writeTriples(manyTriples, s"$dir/graph"))))
    assert(sinkOnly >= 1)
    assert(written <= sinkOnly, s"writeTriples ran $written jobs, the sink's write $sinkOnly")
  }

  /** Render triples as canonical N-Triples lines, for golden-file diffs.
    * Escapes the full N-Triples string-literal set: backslash, quote, LF,
    * CR and TAB. */
  private def toNTriples(triples: org.apache.spark.sql.DataFrame) = {
    def esc(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
        lit("\\\\"), lit("\\\\\\\\")), lit("\""), lit("\\\\\"")), lit("\n"), lit("\\\\n")),
        lit("\r"), lit("\\\\r")), lit("\t"), lit("\\\\t"))
    val term = (c: org.apache.spark.sql.Column) =>
      when(c.startsWith("_:"), c).otherwise(concat(lit("<"), c, lit(">")))
    val objTerm =
      when(col("obj_iri"), term(col("obj")))
        .otherwise(concat(
          lit("\""), esc(col("obj")), lit("\""),
          when(col("lang").isNotNull, concat(lit("@"), col("lang")))
            .when(col("dtype").isNotNull, concat(lit("^^<"), col("dtype"), lit(">")))
            .otherwise(lit(""))))
    triples.select(concat(
      term(col("subj")), lit(" "), term(col("pred")), lit(" "), objTerm, lit(" .")).as("ntriple"))
  }

  test("N-Triples rendering") {
    val nt = toNTriples(Seq(
      graft.mapper.Triple("http://s", "http://p", "http://o", obj_iri = true, null, null),
      graft.mapper.Triple("_:b0", "http://p", "hi \"x\"", obj_iri = false, "en", null),
      graft.mapper.Triple("http://s", "http://p", "42", obj_iri = false, null,
        "http://www.w3.org/2001/XMLSchema#integer")).toDF())
      .as[String].collect().toSet
    assert(nt == Set(
      "<http://s> <http://p> <http://o> .",
      "_:b0 <http://p> \"hi \\\"x\\\"\"@en .",
      "<http://s> <http://p> \"42\"^^<http://www.w3.org/2001/XMLSchema#integer> ."))
  }
}

class CsvDialectSourceSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark

  test("readExact: skipRows, multi-row header, comments, blank rows, numbering") {
    val csv = Seq(
      "# top comment",
      "junk to skip",
      "h1a;h1b",
      "h2a;h2b",
      "r1a;r1b",
      "",
      "# mid comment",
      "r2a; r2b ").mkString("\n")
    val f = java.nio.file.Files.createTempFile("dialect", ".csv")
    java.nio.file.Files.writeString(f, csv)
    val dialect = DialectMeta(delimiter = ";", skipRows = 2, headerRowCount = Some(2),
      commentPrefix = Some("#"), skipBlankRows = true)
    val res = CsvDialectSource.readExact(spark, f.toString, dialect)
    assert(res.headerTitles == List(List("h1a", "h2a"), List("h1b", "h2b")))
    // comments: every non-empty skipRows line (prefixed or not,
    // metadata.rb:1855-61, prefix dropped + stripped) plus comment-prefixed
    // data rows (metadata.rb:890-93), in source order
    assert(res.comments == List("top comment", "junk to skip", "mid comment"))
    val rows = res.rows.collect().sortBy(_.getLong(0))
    assert(rows.length == 2)
    // logical numbering 1..2; source numbers are physical line numbers
    assert(rows(0).getLong(0) == 1 && rows(0).getLong(1) == 5)
    assert(rows(1).getLong(0) == 2 && rows(1).getLong(1) == 8)
    // trim default "true"
    assert(rows(1).getString(3) == "r2b")
    assert(CsvDialectSource.embeddedColumns(res.headerTitles).head.titles ==
      List("und" -> "h1a", "und" -> "h2a"))
  }

  test("readExact assembles multiline quoted cells; numbering is record-based") {
    // the reference's Ruby CSV counts records (csv.shift), not physical
    // lines: the quoted cell spanning lines 2-3 is ONE record, so the second
    // data row is record 3 (metadata.rb:887-902)
    val csv = "name;note\nr1;\"line one\nline two\"\nr2;\"say \"\"hi\"\"\"\n"
    val f = java.nio.file.Files.createTempFile("dialect_ml", ".csv")
    java.nio.file.Files.writeString(f, csv)
    val res = CsvDialectSource.readExact(spark, f.toString, DialectMeta(delimiter = ";"))
    assert(res.headerTitles == List(List("name"), List("note")))
    val rows = res.rows.collect().sortBy(_.getLong(0))
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1 && rows(0).getLong(1) == 2)
    assert(rows(0).getString(2) == "r1" && rows(0).getString(3) == "line one\nline two")
    assert(rows(1).getLong(0) == 2 && rows(1).getLong(1) == 3)
    assert(rows(1).getString(3) == "say \"hi\"")
  }

  test("assembleRecords: open-quote state tracks doubled quotes across lines") {
    val recs = CsvDialectSource.assembleRecords(
      Seq("a;\"x\"\"", "still open\"", "b;done"), ';', '"', doubleQuote = true)
    assert(recs == Seq("a;\"x\"\"\nstill open\"", "b;done"))
    // unterminated final quote: partial record emitted as-is
    assert(CsvDialectSource.assembleRecords(Seq("a;\"oops"), ';', '"', doubleQuote = true)
      == Seq("a;\"oops"))
  }

  test("quoted fields with doubled quotes") {
    val parsed = CsvDialectSource.parseCsvLine("\"a;b\";\"say \"\"hi\"\"\";c", ";", '"', doubleQuote = true)
    assert(parsed.toSeq == Seq("a;b", "say \"hi\"", "c"))
  }

  test("readExact honors dialect encoding and custom line terminators") {
    // ISO-8859-1 content with a non-UTF-8 byte (0xE9 = é) and '|' framing
    val content = "héader|r1é|r2"
    val f = java.nio.file.Files.createTempFile("dialect_enc", ".csv")
    java.nio.file.Files.write(f, content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val dialect = DialectMeta(delimiter = ";", encoding = "ISO-8859-1",
      lineTerminators = List("|"))
    val res = CsvDialectSource.readExact(spark, f.toString, dialect)
    assert(res.headerTitles == List(List("héader")))
    val rows = res.rows.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getString(2)).toSeq == Seq("r1é", "r2"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(2L, 3L))
  }

  private def tempCsv(name: String, lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempFile(name, ".csv")
    java.nio.file.Files.writeString(f, lines.mkString("\n") + "\n")
    f.toString
  }

  /** Records per partition of the line scan readExact runs over `path`. */
  private def splitSizes(path: String): Seq[Int] =
    spark.sparkContext.textFile(path, spark.sparkContext.defaultParallelism)
      .glom().collect().map(_.length).toSeq

  /** Rows as (_row, _sourceRow, cells), in logical order. */
  private def rowsOf(res: CsvDialectSource.ExactResult): Seq[(Long, Long, Seq[String])] =
    res.rows.collect().sortBy(_.getLong(0)).toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.toSeq.drop(2).map(_.asInstanceOf[String])))

  /** `each_row` over `;`-separated, quote-free lines, one record per line,
    * with default trim and `#` as the only comment prefix: (rows, header
    * titles, comments), numbered sequentially.
    */
  private def sequentialExpectation(lines: Seq[String], skipRows: Int, headerRows: Int,
      skipColumns: Int, skipBlank: Boolean) = {
    val rows = Seq.newBuilder[(Long, Long, Seq[String])]
    val headers = Seq.newBuilder[Seq[String]]
    val comments = Seq.newBuilder[String]
    var row = 0L
    for ((l, i) <- lines.zipWithIndex) {
      val n = i + 1L
      def cells = l.split(";", -1).toSeq.drop(skipColumns).map(_.trim)
      if (n <= skipRows || l.startsWith("#")) {
        val t = l.trim
        val v = if (t.startsWith("#")) t.drop(1).trim else t
        if (v.nonEmpty) comments += v
      } else if (n <= skipRows + headerRows) headers += cells
      else if (!skipBlank || cells.exists(_.nonEmpty)) { row += 1; rows += ((row, n, cells)) }
    }
    val hs = headers.result()
    val titles = (0 until hs.map(_.length).maxOption.getOrElse(0)).toList
      .map(c => hs.flatMap(_.lift(c)).filter(_.nonEmpty).toList)
    val rs = rows.result()
    val width = (titles.length +: rs.map(_._3.length)).max
    (rs.map { case (r, n, c) => (r, n, c.padTo(width, "")) }, titles, comments.result().toList)
  }

  test("readExact over a split scan equals a sequential each_row") {
    val rnd = new scala.util.Random(5)
    def dataLine(i: Int): String = rnd.nextInt(12) match {
      case 0 => s"# data note $i"
      case 1 => ""
      case 2 => " ; ;"
      case 3 => s"  # not a comment $i;x"
      case _ => (0 until 2 + rnd.nextInt(6)).map(c => if (rnd.nextInt(5) == 0) " " else s" v${i}_$c ")
        .mkString(";")
    }
    val lines = Seq("# skipped note", "plain skipped line", "",
      "skip;id; name ;extra", "#  header-region note", "skip;ID;;EXTRA;more") ++
      (1 to 2000).map(dataLine)
    val path = tempCsv("dialect_split", lines)
    assert(splitSizes(path).length >= 4, "the scan must be split across every core")
    for ((skip, headers) <- Seq((3, 3), (0, 2), (2, 0))) {
      val dialect = DialectMeta(delimiter = ";", skipRows = skip, headerRowCount = Some(headers),
        commentPrefix = Some("#"), skipBlankRows = true, skipColumns = 1)
      val res = CsvDialectSource.readExact(spark, path, dialect)
      val (rows, titles, comments) = sequentialExpectation(lines, skip, headers, 1, skipBlank = true)
      assert(rows.length > 1000)
      assert(rowsOf(res) == rows, s"skipRows=$skip headerRowCount=$headers")
      assert(res.headerTitles == titles)
      assert(res.comments == comments)
      assert(res.rows.columns.length == 2 + rows.head._3.length)
    }
  }

  test("readExact: a header region spread over one-record splits") {
    // line lengths 12/10/10/8 put one record in each of the 4 byte splits
    val lines = Seq("# top notes", "id;name;x", "ID;NAME;X", "1;ann;x")
    val path = tempCsv("dialect_tiny", lines)
    assert(splitSizes(path) == Seq(1, 1, 1, 1))
    val res = CsvDialectSource.readExact(spark, path,
      DialectMeta(delimiter = ";", skipRows = 1, headerRowCount = Some(2), commentPrefix = Some("#")))
    assert(res.headerTitles == List(List("id", "ID"), List("name", "NAME"), List("x", "X")))
    assert(res.comments == List("top notes"))
    assert(rowsOf(res) == Seq((1L, 4L, Seq("1", "ann", "x"))))
  }

  test("readExact: an open quote in the last split still numbers records") {
    val lines = Seq("id;note") ++ (1 to 1000).map(i => s"r$i;plain") ++
      Seq("q;\"first half", "second half\"", "last;row")
    val path = tempCsv("dialect_late", lines)
    val sizes = splitSizes(path)
    assert(sizes.length >= 4 && sizes.last >= 3, sizes.toString)
    val rows = rowsOf(CsvDialectSource.readExact(spark, path, DialectMeta(delimiter = ";")))
    assert(rows.length == 1002)
    assert(rows(1000) == ((1001L, 1002L, Seq("q", "first half\nsecond half"))))
    // the record after the two-line one is record 1003, on line 1004
    assert(rows(1001) == ((1002L, 1003L, Seq("last", "row"))))
  }

  test("readExact on a default-framing file runs one job; rows runs none until used") {
    val lines = Seq("# note", "id;name") ++ (1 to 500).map(i => s"$i;n$i") ++ Seq("", "# tail note")
    val path = tempCsv("dialect_jobs", lines)
    val dialect = DialectMeta(delimiter = ";", commentPrefix = Some("#"), skipRows = 1)
    import graft.mapper.TestSpark.jobsDuring
    var res: CsvDialectSource.ExactResult = null
    assert(jobsDuring { res = CsvDialectSource.readExact(spark, path, dialect) } == 1)
    assert(jobsDuring(res.rows.schema) == 0)
    assert(res.comments == List("note", "tail note"))
    assert(jobsDuring(assert(res.rows.collect().length == 501)) == 1)
  }
}

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  test("text stats deterministic") {
    val df = Seq((1L, "The quick brown fox"), (2L, "the  QUICK  brown fox "))
      .toDF("id", "text")
    val toks = df.select(TextFunctions.tokenCountWs(col("text"))).as[Int].collect()
    assert(toks.toSeq == Seq(4, 4))
  }

  test("langId picks stopword-majority language") {
    val df = Seq(
      (1L, "the cat and the dog are in the house"),
      (2L, "der Hund ist nicht mit der Katze"),
      (3L, "zzz qqq www")).toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.langId(col("text"))).as[(Long, String)]
      .collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("langId single-pass sentinel form == the two-reference round-8 form") {
    import org.apache.spark.sql.Column
    // the round-8 formulation, kept as the semantic reference: evaluates
    // array_max twice (hits test + lang pick); round 9 folds the 'und'
    // fallback into the one array_max via a sentinel element
    def langIdRef(text: Column, minHits: Int = 2): Column = {
      val toks = TextFunctions.tokens(text)
      val scored = TextFunctions.stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
        struct(size(array_intersect(array_distinct(toks),
          array(words.map(lit): _*))).as("hits"), lit(lang).as("lang"))
      }
      val best = array_max(array(scored: _*))
      when(best.getField("hits") >= minHits, best.getField("lang")).otherwise(lit("und"))
    }
    val df = Seq(
      (1L, "the cat and the dog are in the house"), // clear en
      (2L, "der hund ist nicht mit der katze"),     // clear de
      (3L, "zzz qqq www"),                          // zero hits -> und
      (4L, "the zebra"),                            // exactly minHits-1 -> the sentinel tie boundary
      (5L, "la un une avec"),                       // fr beats es on hits
      (6L, "la un"),                                // fr/es tie at the threshold -> lang tie-break
      (7L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.langId(col("text")).as("l"),
      langIdRef(col("text")).as("r")).collect()
    got.foreach(r => assert(r.get(1) == r.get(2), r.toString))
    assert(got.find(_.getLong(0) == 4L).get.getString(1) == "und")
    assert(got.find(_.getLong(0) == 6L).get.getString(1) == "fr")
  }

  test("contamination: distinct shared n-grams counted, short and clean docs absent") {
    val evalTxt = "alpha beta gamma delta"                     // one 3-gram pair
    val docs = Seq(
      (1L, "x y alpha beta gamma q alpha beta gamma"),         // shares "alpha beta gamma" (once, distinct)
      (2L, "beta gamma delta z beta gamma delta"),             // shares "beta gamma delta"
      (3L, "alpha beta gamma delta w"),                        // shares both
      (4L, "totally clean text with no overlap at all"),       // clean
      (5L, "alpha beta"),                                      // too short for a 3-gram
      (6L, "pp qq")                                            // identical to the short eval doc
    ).toDF("doc_id", "text")
    // a sub-n eval doc contributes NO shingles (lead()-window semantics):
    // it must not flag itself or an identical short corpus doc
    val ev = Seq(Tuple1(evalTxt), Tuple1("pp qq")).toDF("text")
    val got = TextFunctions.contamination(docs, "doc_id", "text", ev, "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("pii: counts overlapping categories on original text, redacts in order") {
    val df = Seq(
      (1L, "mail me at bob.smith+x@sub.example.co.uk thanks"),
      (2L, "server 192.168.0.1 and admin@10.0.0.7 reachable"),  // email w/ IP domain
      (3L, "call +44 020 7946 today"),
      (4L, "nothing sensitive here")).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.piiCount(col("text"), TextFunctions.EmailPattern).as("e"),
        TextFunctions.piiCount(col("text"), TextFunctions.Ipv4Pattern).as("i"),
        TextFunctions.piiCount(col("text"), TextFunctions.PhonePattern).as("p"),
        TextFunctions.piiRedact(col("text")).as("r"))
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 1, 0, 0, "mail me at <EMAIL> thanks")))
    // an IP-only domain is NOT an email (the TLD must be letters), so the
    // local-part survives and the address redacts as admin@<IP>
    assert(got(1) == ((2L, 0, 2, 0, "server <IP> and admin@<IP> reachable")))
    assert(got(2) == ((3L, 0, 0, 1, "call <PHONE> today")))
    assert(got(3) == ((4L, 0, 0, 0, "nothing sensitive here")))
  }

  test("pii redaction is idempotent over seeded random documents") {
    val rnd = new scala.util.Random(11)
    val frags = Seq("plain text", "a@b.co", "10.0.0.1", "+1 555 0100",
      "x.y", "@", "%", "dot.", "42", "bob.smith+t@ex.org")
    val docs = (1 to 300).map(_ =>
      (1 to rnd.nextInt(8) + 1).map(_ => frags(rnd.nextInt(frags.length))).mkString(" "))
    val df = docs.toDF("text")
    val once = df.select(TextFunctions.piiRedact(col("text")).as("r"))
    val pairs = once.select(col("r"),
        TextFunctions.piiRedact(col("r")).as("r2"))
      .as[(String, String)].collect()
    pairs.foreach { case (r, r2) => assert(r == r2, s"not idempotent: '$r'") }
    // and a redacted doc carries no residual matches
    val residual = once.filter(
      TextFunctions.piiCount(col("r"), TextFunctions.EmailPattern) +
      TextFunctions.piiCount(col("r"), TextFunctions.Ipv4Pattern) +
      TextFunctions.piiCount(col("r"), TextFunctions.PhonePattern) > 0).count()
    assert(residual == 0L)
  }

  test("url filter: count, first domain, blocklist domain boundary") {
    val df = Seq(
      (1L, "go to https://Site0.example/path and http://a.b/x"),
      (2L, "bare https://site0.example"),
      (3L, "prefix trap https://site00.example/x"),
      (4L, "no links here")).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.urlCount(col("text")).as("n"),
        TextFunctions.firstUrlDomain(col("text")).as("d"),
        TextFunctions.urlBlocked(col("text"), Seq("site0.example")).as("b"))
      .as[(Long, Int, String, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 2, "site0.example", true)))   // case-insensitive, / boundary
    assert(got(1) == ((2L, 1, "site0.example", true)))   // end-of-string boundary
    assert(got(2) == ((3L, 1, "site00.example", false))) // longer domain must not match
    assert(got(3) == ((4L, 0, "", false)))
  }

  test("url blocklist: \\z boundary and full metachar escaping match RE2 semantics") {
    // U+2028 is a java.util.regex line terminator (so `$` would match before
    // it) but is NOT \s in either engine — with \z both engines say false
    val df = Seq(
      (1L, "see https://site0.example "),
      (2L, "see https://site0.example\n"),     // \n IS [/\s] — true in both
      (3L, "see https://si+e.example/x"),      // literal '+' in the domain
      (4L, "see https://siiie.example/x")      // what an unescaped 'si+e' regex would match
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.urlBlocked(col("text"), Seq("site0.example")).as("b0"),
        TextFunctions.urlBlocked(col("text"), Seq("si+e.example")).as("bp"))
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, false, false)))
    assert(got(1) == ((2L, true, false)))
    assert(got(2) == ((3L, false, true)))
    assert(got(3) == ((4L, false, false)))
  }

  test("word rarity: common-word docs score high, empty docs score 0") {
    val df = Seq(
      (1L, "go go go"),        // cf(go)=4 (3 here + 1 in doc 3): mean 4.0
      (2L, "unique words only"),
      (3L, "go north"),        // (4 + 1) / 2 = 2.5
      (4L, "")
    ).toDF("id", "text")
    val got = TextFunctions.wordRarity(df, "id", "text")
      .as[(Long, Int, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 3, 12L, 4.0)))
    assert(got(1) == ((2L, 3, 3L, 1.0)))
    assert(got(2) == ((3L, 2, 5L, 2.5)))
    assert(got(3) == ((4L, 0, 0L, 0.0)))
  }

  test("dup n-gram fraction: repeated phrase scores high, short doc scores 0") {
    val df = Seq(
      (1L, "spam spam spam spam"),              // 4 words, 1 distinct -> 0.75
      (2L, "all words here are unique tokens"), // no dups
      (3L, "go go north go go north"),          // 2-grams: 5 total, 3 distinct
      (4L, "one"),                              // too short for a 2-gram
      (5L, null.asInstanceOf[String])           // NULL text scores 0.0, not NULL
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.dupNgramFraction(col("text"), 1).as("w"),
        TextFunctions.dupNgramFraction(col("text"), 2).as("b"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 0.75, 0.6667)))      // 1-1/4; "spam spam" x3 -> 1-1/3
    assert(got(1) == ((2L, 0.0, 0.0)))
    assert(got(2)._2 == 0.6667 && got(2)._3 == 0.4)
    assert(got(3) == ((4L, 0.0, 0.0)))
    assert(got(4) == ((5L, 0.0, 0.0)))          // size(NULL)=NULL must not leak through
  }

  test("shingles windows") {
    val s = Seq("a b c d").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(s == Seq("a b c", "b c d"))
  }

  test("minhash pairs: exact dup found, unrelated not; near-dup via high overlap") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val near = base + "omega"                                 // ~95% shingle overlap
    val far = "one two three four five six seven eight nine ten " * 3
    val df = Seq((1L, base), (2L, near), (3L, base), (4L, far)).toDF("id", "text")
    val pairs = DedupFunctions.minhashDupPairs(df, "id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))                          // exact dup: est 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))      // unrelated excluded
  }

  test("dupClusters: transitive chain merges, canonical = min id, singleton absent") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val near = base + "omega"
    val far = "one two three four five six seven eight nine ten " * 3
    val lone = "solitary document with wholly disjoint vocabulary tokens only here"
    val df = Seq((1L, base), (2L, near), (3L, base), (4L, far), (5L, far), (6L, lone))
      .toDF("id", "text")
    val rows = DedupFunctions.dupClusters(spark, df, "id", "text", threshold = 0.3)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(rows == Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 2L, true), (5L, 4L, 2L, false)))
  }

  test("dupClusters: negative ids fail loudly, not silently mis-cluster") {
    // a negative id zero-pads to "000…0-5", which would break the
    // lexicographic-min == numeric-min invariant — the edge projection must
    // raise instead of emitting a wrong cluster_id
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val df = Seq((-1L, base), (2L, base)).toDF("id", "text")
    val ex = intercept[Exception] {
      DedupFunctions.dupClusters(spark, df, "id", "text", threshold = 0.3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("non-negative")), msgs(ex).mkString(" | "))
  }

  test("semanticDupFlags: larger-id near-dup in its cell drops; cross-threshold mates keep") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(
      (1L, Seq(1.0, 0.01)),   // cell 0
      (2L, Seq(1.0, 0.012)),  // cell 0, cosine ~0.99999 with id 1 -> drops
      (3L, Seq(0.01, 1.0)),   // cell 1
      (4L, Seq(0.6, 0.8))     // cell 1, cosine(3,4) ~0.806 < 0.95 -> keeps
    ).toDF("vec_id", "embedding")
    val got = DedupFunctions.semanticDupFlags(df, "vec_id", "embedding",
        cents, threshold = 0.95)
      .as[(Long, Int, Boolean)].collect().toSet
    assert(got == Set((1L, 0, true), (2L, 0, false), (3L, 1, true), (4L, 1, true)))
  }

  test("domainWeights: alpha=1 reproduces shares; alpha<1 lifts the tail; nulls drop") {
    val df = (Seq.fill(8)("big.example") ++ Seq("tail.example") ++ Seq(null))
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "domain")
    val natural = graft.functions.Mixing.domainWeights(df, "domain", alpha = 1.0)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(natural("big.example")._2 == 8L && natural("tail.example")._2 == 1L)
    assert(natural.size == 2, "null domain must not form a stratum")
    assert(math.abs(natural("big.example")._4 - 8.0 / 9) < 1e-6)
    val tempered = graft.functions.Mixing.domainWeights(df, "domain", alpha = 0.5)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r._4).toMap
    // sqrt(8/9) : sqrt(1/9) normalized — the tail domain's weight rises
    // from 1/9 to 1/(1+sqrt(8)) ≈ 0.261
    assert(math.abs(tempered("tail.example") - 1.0 / (1 + math.sqrt(8.0))) < 1e-6)
    assert(math.abs(tempered.values.sum - 1.0) < 1e-5, "weights renormalize")
  }

  test("lossMaskStats: integer mask accounting over crafted turns") {
    val tr = Seq(
      ("c1", "user", "ask me one"),         // 3 tokens, masked
      ("c1", "assistant", "two toks"),      // 2 tokens, trainable
      ("c1", "assistant", "and three more"),// 4 tokens ("three" -> thre|e), trainable
      ("c2", "user", "only context here")   // 4 tokens ("context" -> cont|ext), masked
    ).toDF("conv_id", "role", "text")
    val got = graft.functions.Mixing.lossMaskStats(tr, Seq("assistant"))
      .as[(String, Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("c1") == (("c1", 3L, 2L, 9L, 6L, 0.666667)))
    assert(got("c2") == (("c2", 1L, 0L, 4L, 0L, 0.0)))
  }

  test("semanticDupFlags nprobe=2 catches the cell-boundary straddler nprobe=1 misses") {
    // two near-identical vectors (1° apart, cosine ~0.9998) straddling the
    // 22.5° bisector between the two centroids: primary cells differ, so
    // nprobe=1 never pairs them — the d7 miss mode. nprobe=2 widens the
    // PROBE side only: id 2 probes both cells, finds lower-id 1 owned by
    // cell 0, and drops; its reported cell stays the primary.
    val cents = Array(Array(1.0, 0.0),
      Array(0.7071067811865476, 0.7071067811865476))
    val ra = math.toRadians(22.0)
    val rb = math.toRadians(23.0)
    val df = Seq(
      (1L, Seq(math.cos(ra), math.sin(ra))),
      (2L, Seq(math.cos(rb), math.sin(rb)))).toDF("vec_id", "embedding")
    val miss = DedupFunctions.semanticDupFlags(df, "vec_id", "embedding",
        cents, threshold = 0.95)
      .as[(Long, Int, Boolean)].collect().toSet
    assert(miss == Set((1L, 0, true), (2L, 1, true)), "straddle: both keep at nprobe=1")
    val hit = DedupFunctions.semanticDupFlags(df, "vec_id", "embedding",
        cents, threshold = 0.95, nprobe = 2)
      .as[(Long, Int, Boolean)].collect().toSet
    assert(hit == Set((1L, 0, true), (2L, 1, false)))
  }

  test("lineDedup: corpus-frequent lines drop, order preserved, all-dropped doc -> ''") {
    val df = Seq(
      (1L, "unique one\nBOILER\nkeep tail"),
      (2L, "BOILER\nanother unique"),
      (3L, "BOILER"),                       // every line dropped
      (4L, "solo\n\nBOILER")                // empty line survives (never counted as dup)
    ).toDF("id", "text")
    val got = DedupFunctions.lineDedup(df, "id", "text", minDf = 3L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 3L, 1L, "unique one\nkeep tail")))
    assert(got(1) == ((2L, 2L, 1L, "another unique")))
    assert(got(2) == ((3L, 1L, 1L, "")))
    assert(got(3) == ((4L, 3L, 1L, "solo\n")))
  }

  test("assembleLines restores position order in one fused call") {
    val got = Seq(Tuple1(1)).toDF("x").select(
      graft.expr.CsvwFunctions.assembleLines(
        array(struct(lit(2).as("pos"), lit("c").as("line")),
              struct(lit(0).as("pos"), lit("a").as("line")),
              struct(lit(1).as("pos"), lit("b").as("line"))))).as[String].head()
    assert(got == "a\nb\nc")
  }

  test("packSequences: block-decomposed prefix sum == naive global cumsum") {
    // "tok" is one BPE token (<=4 letters), so n_tok = (id % 7) + 1 exactly
    val df = (0L until 50L).map(i => (i, ("tok " * ((i % 7) + 1).toInt).trim))
      .toDF("id", "text")
    val got = Packing.packSequences(df, "id", "text", budget = 10L, blockSize = 8L)
      .as[(Long, Int, Long, Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    got.foreach { case (id, n, before, pid, off) =>
      assert(n == (id % 7) + 1, s"doc $id")
      assert(before == cum, s"doc $id cum_before")
      assert(pid == cum / 10 && off == cum % 10, s"doc $id pack")
      cum += n
    }
    assert(got.length == 50)
  }

  test("packSequences: negative ids and over-ceiling block indices raise") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the block math is integer floor division — a negative id would
    // silently land in the wrong block, so it raises (same contract as
    // dupClusters)
    val neg = Seq((-3L, "tok"), (1L, "tok")).toDF("id", "text")
    val ex = intercept[Exception] {
      Packing.packSequences(neg, "id", "text").collect()
    }
    assert(msgs(ex).exists(_.contains("non-negative")), msgs(ex).mkString(" | "))
    // the block-offsets table feeds a single-partition window + broadcast,
    // so it is bounded by maxBlocks: a sparse huge id must fail loudly
    // instead of silently growing the "metadata" tier to data scale
    val sparse = Seq((0L, "tok"), (1L << 40, "tok")).toDF("id", "text")
    val ex2 = intercept[Exception] {
      Packing.packSequences(sparse, "id", "text",
        budget = 10L, blockSize = 8L, maxBlocks = 1024L).collect()
    }
    assert(msgs(ex2).exists(_.contains("block index")), msgs(ex2).mkString(" | "))
  }

  test("packSequences block math stays exact beyond 2^53 (no double floor path)") {
    // floor(id / blockSize) through Double mis-buckets ids above 2^53;
    // `div` on longs is exact — ids near 2^60 must still order and bucket
    val base = 1L << 60
    val df = Seq((base, "tok"), (base + 1L, "tok tok"), (base + 9L, "tok"))
      .toDF("id", "text")
    val got = Packing.packSequences(df, "id", "text", budget = 2L,
        blockSize = 4L, maxBlocks = Long.MaxValue)
      .as[(Long, Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(g => (g._2.toLong, g._3, g._4, g._5)).toSeq ==
      Seq((1L, 0L, 0L, 0L), (2L, 1L, 0L, 1L), (1L, 3L, 1L, 1L)))
  }

  test("packChunks: slices tile the token stream; straddlers split at pack boundaries") {
    val df = (0L until 20L).map(i => (i, ("tok " * ((i % 7) + 1).toInt).trim))
      .toDF("id", "text") union Seq((20L, "")).toDF("id", "text")
    val chunks = Packing.packChunks(df, "id", "text", budget = 10L, blockSize = 8L)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    val byDoc = chunks.groupBy(_._1)
    assert(!byDoc.contains(20L), "zero-token doc occupies no chunk")
    var cum = 0L
    (0L until 20L).foreach { id =>
      val n = (id % 7) + 1
      val cs = byDoc(id).sortBy(_._2)
      // slices start at 0, are consecutive in both token and pack space,
      // and cover the whole document
      assert(cs.head._3 == 0L && cs.map(_._4).sum == n, s"doc $id coverage")
      cs.sliding(2).foreach {
        case Array(x, y) =>
          assert(x._3 + x._4 == y._3 && y._2 == x._2 + 1, s"doc $id contiguity")
        case _ =>
      }
      cs.foreach { case (_, pid, s, len, off, txt) =>
        assert(off == cum + s - pid * 10L, s"doc $id pack offset")
        assert(off + len <= 10L, s"doc $id overflows its pack")
        assert(txt == ("tok " * len.toInt).trim, s"doc $id slice text")
      }
      cum += n
    }
    // every pack except the last is filled to exactly the budget
    val packTotals = chunks.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    val lastPack = packTotals.keys.max
    packTotals.foreach { case (p, tot) =>
      if (p != lastPack) assert(tot == 10L, s"pack $p holds $tot")
    }
  }

  test("simhash: exact dup at hamming 0, unrelated excluded") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val far = "completely different words entirely unrelated content here now truly disjoint"
    val df = Seq((1L, base), (2L, base), (3L, far)).toDF("id", "text")
    val rows = DedupFunctions.simhashDupPairs(df, "id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(rows.toSeq == Seq((1L, 2L, 0)))
  }

  test("ngram jaccard exact values") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("id", "text")
    // 3-gram shingles: {abc,bcd} vs {abc,bce}: jaccard = 1/3
    val pairs = DedupFunctions.ngramJaccardPairs(df, "id", "text", 3, 0.1)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 1 && pairs(0)._1 == 1 && pairs(0)._2 == 2)
    assert(math.abs(pairs(0)._3 - 1.0 / 3) < 1e-6)
  }

  test("brute-force ANN top-k exact on crafted vectors") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(0.0, 1.0)), (3L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "emb")
    val top = AnnFunctions.bruteForceTopK(
        vecs.filter($"vec_id" === 0), vecs, "vec_id", "vec_id", "emb", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    assert(top == Set((1L, 1), (2L, 2)))
  }

  test("multimodal decode: real PNG/WAV/AVI headers round-trip") {
    val df = Seq((0L, "png"), (1L, "wav"), (2L, "avi")).toDF("doc_id", "t")
    val out = Multimodal.decodePipeline(spark, df, "doc_id")
      .select("doc_id", "media_type", "width", "height", "n_frames")
      .as[(Long, String, Int, Int, Int)].collect().sortBy(_._1)
    // header fields are integer functions of doc_id (see withSyntheticPayload)
    assert(out(0) == ((0L, "image", 16, 16, 1)))
    assert(out(1) == ((1L, "audio", 16000, 2, 2)))
    assert(out(2) == ((2L, "video", 30, 42, 3)))
  }

  test("sampleFrames: uniform stride over decoded video headers, bounded fan-out") {
    val df = (0 until 30).map(_.toLong).toDF("doc_id")
    val out = Multimodal.sampleFrames(
        Multimodal.decode(Multimodal.withSyntheticPayload(df, "doc_id")), k = 8)
      .as[(Long, Int, Int)].collect().groupBy(_._1)
    // only video rows (doc_id % 3 == 2) sample
    assert(out.keySet == (0 until 30).filter(_ % 3 == 2).map(_.toLong).toSet)
    out.foreach { case (id, rows) =>
      val n = (id % 240 + 1).toInt
      val idx = rows.sortBy(_._3).map(_._3).toSeq
      assert(rows.forall(_._2 == n))
      assert(idx.size == math.min(8, n))       // fan-out bounded by k
      assert(idx == (0 until math.min(8, n)).map(j => j * n / 8)) // ⌊j·n/k⌋
      assert(idx.head == 0 && idx.last < n)
    }
  }

  test("decodeHeader sniffs by magic, not by labels; unknown bytes degrade") {
    assert(Multimodal.decodeHeader(Multimodal.pngBytes(640, 480)) == (("image", 640, 480, 1)))
    assert(Multimodal.decodeHeader(Multimodal.wavBytes(44100, 2, 1000)) == (("audio", 44100, 2, 1000)))
    assert(Multimodal.decodeHeader(Multimodal.aviBytes(1920, 1080, 240)) == (("video", 1920, 1080, 240)))
    assert(Multimodal.decodeHeader("not media".getBytes)._1 == "unknown")
  }

  test("resizePlan: aspect-preserving floor scale, small images pass through") {
    val df = (0 until 90).map(_.toLong).toDF("doc_id")
    val out = Multimodal.resizePlan(
        Multimodal.decode(Multimodal.withSyntheticPayload(df, "doc_id")), maxSide = 256)
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
    // only image rows (doc_id % 3 == 0)
    assert(out.map(_._1).toSeq == (0 until 90).filter(_ % 3 == 0).map(_.toLong))
    out.foreach { case (id, w, h, ow, oh) =>
      assert(w == (id * 7 % 512 + 16).toInt && h == (id * 13 % 512 + 16).toInt)
      val ls = math.max(w, h)
      if (ls <= 256) assert(ow == w && oh == h)         // pass-through
      else {
        assert(ow == math.max(w.toLong * 256 / ls, 1).toInt)
        assert(oh == math.max(h.toLong * 256 / ls, 1).toInt)
        assert(math.max(ow, oh) == 256)                 // long side hits the cap
        // aspect preserved within the 1px floor error
        assert(math.abs(ow.toDouble / oh - w.toDouble / h) < 0.08)
      }
    }
  }

  test("resizeImages: REAL pixels resample through the JDK codec end-to-end") {
    import javax.imageio.ImageIO
    // complete decodable PNGs (x/y gradient rasters), one over and one
    // under the cap, distributed through the full Spark byte leg
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.pngBytesReal(96, 48, seed = 7)),
      Multimodal.MediaRow(2L, "image", Multimodal.pngBytesReal(20, 10, seed = 9)),
      Multimodal.MediaRow(3L, "audio", Multimodal.wavBytes(8000, 1, 10))).toDS()
    val rows = Multimodal.resizeImages(media, maxSide = 32)
      .collect().sortBy(_.doc_id)
    assert(rows.map(_.doc_id).toSeq == Seq(1L, 2L)) // audio filtered out
    val big = rows(0)
    assert((big.out_width, big.out_height) == ((32, 16)))
    // the payload is a REAL raster at the target dims, not a bare header
    val img = ImageIO.read(new java.io.ByteArrayInputStream(big.payload))
    assert(img != null && img.getWidth == 32 && img.getHeight == 16)
    // bilinear downsample of an x-gradient keeps the gradient: red channel
    // rises left->right, green rises top->bottom (order is preserved even
    // though exact values are interpolated)
    def rgb(x: Int, y: Int) = {
      val p = img.getRGB(x, y); ((p >> 16) & 0xff, (p >> 8) & 0xff)
    }
    assert(rgb(0, 0)._1 < rgb(16, 0)._1 && rgb(16, 0)._1 < rgb(31, 0)._1,
      s"red gradient lost: ${rgb(0, 0)} ${rgb(16, 0)} ${rgb(31, 0)}")
    assert(rgb(0, 0)._2 < rgb(0, 8)._2 && rgb(0, 8)._2 < rgb(0, 15)._2,
      s"green gradient lost: ${rgb(0, 0)} ${rgb(0, 8)} ${rgb(0, 15)}")
    // pass-through image keeps its dims and decodes losslessly to the
    // SAME pixels (PNG is lossless; resample to identical dims is bilinear
    // identity at the grid points)
    val small = rows(1)
    assert((small.out_width, small.out_height) == ((20, 10)))
    val simg = ImageIO.read(new java.io.ByteArrayInputStream(small.payload))
    val orig = ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.pngBytesReal(20, 10, seed = 9)))
    val same = (0 until 10).forall(y => (0 until 20).forall(x =>
      (simg.getRGB(x, y) & 0xffffff) == (orig.getRGB(x, y) & 0xffffff)))
    assert(same, "identity resample must preserve pixels exactly")
    // determinism: the whole leg is byte-stable run to run
    val again = Multimodal.resizeImages(media, maxSide = 32)
      .collect().sortBy(_.doc_id)
    assert(again(0).payload.sameElements(big.payload))
  }

  test("resamplePng leaves ImageIO's JVM-global stream cache setting alone") {
    val png = Multimodal.resamplePng(Multimodal.pngBytesReal(20, 10, seed = 1), 8, 4)
    assert(png.exists(p => Multimodal.decodeHeader(p) == (("image", 8, 4, 1))))
    assert(javax.imageio.ImageIO.getUseCache)
  }

  test("pixel-leg fallback accumulator: real pixels report 0, header-only reports N") {
    // a 100 TB run must be able to tell "all real pixels" from "all fell
    // back" in its stage metrics (round-5 verdict nit): the counter is the
    // same accumulator pattern the cell-error gate uses
    val realAcc = spark.sparkContext.longAccumulator("pixel_fallbacks_real")
    val real = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.pngBytesReal(40, 20, seed = 1)),
      Multimodal.MediaRow(2L, "image", Multimodal.pngBytesReal(96, 48, seed = 2))).toDS()
    assert(Multimodal.resizeImages(real, maxSide = 32, Some(realAcc)).collect().length == 2)
    assert(realAcc.value == 0L, s"real-pixel input must not fall back: ${realAcc.value}")
    val hdrAcc = spark.sparkContext.longAccumulator("pixel_fallbacks_hdr")
    val hdr = Seq(
      Multimodal.MediaRow(3L, "image", Multimodal.pngBytes(40, 20)),
      Multimodal.MediaRow(4L, "image", Multimodal.pngBytes(96, 48)),
      Multimodal.MediaRow(5L, "image", Multimodal.pngBytes(8, 8))).toDS()
    val hdrRows = Multimodal.resizeImages(hdr, maxSide = 32, Some(hdrAcc)).collect()
    assert(hdrRows.length == 3)
    assert(hdrAcc.value == 3L, s"every header-only payload falls back: ${hdrAcc.value}")
    // a fallback still emits a container-level PNG at the target dims
    hdrRows.foreach { r =>
      assert(Multimodal.decodeHeader(r.payload) == (("image", r.out_width, r.out_height, 1)))
    }
  }

  test("wavBytesReal -> JDK codec decode round-trips the planted PCM16 samples") {
    // single-payload exactness: decode through javax.sound.sampled and
    // compare against the formula sample(i,c) = ((seed·31+i·7+c·13)%2003)−1001
    val b = Multimodal.wavBytesReal(16000, 2, 50, seed = 11L)
    val s = Multimodal.decodeWavSamples(b).get
    assert(s.sampleRate == 16000 && s.channels == 2 && s.nFrames == 50)
    val expected = for (i <- 0 until 50; c <- 0 until 2)
      yield ((11L * 31 + i * 7 + c * 13) % 2003 - 1001).toInt
    assert(s.peak == expected.map(math.abs).max)
    assert(s.sum == expected.map(_.toLong).sum)
    // a header-only WAV decodes as zero samples (declared-but-absent data)
    val hdr = Multimodal.decodeWavSamples(Multimodal.wavBytes(8000, 1, 10)).get
    assert(hdr.nFrames == 0 && hdr.peak == 0 && hdr.sum == 0L)
    // non-WAV bytes are a counted fallback, not a crash
    assert(Multimodal.decodeWavSamples("junk".getBytes).isEmpty)
  }

  test("audioStats: distributed decode matches the formula; junk counts as fallback") {
    val acc = spark.sparkContext.longAccumulator("audio_fallbacks")
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.wavBytesReal(8000, 1, 7, seed = 1L)),
      Multimodal.MediaRow(4L, "audio", Multimodal.wavBytesReal(12000, 2, 9, seed = 4L)),
      Multimodal.MediaRow(7L, "audio", "not a wav".getBytes),
      Multimodal.MediaRow(9L, "image", Multimodal.pngBytesReal(8, 8, seed = 9))).toDS()
    val rows = Multimodal.audioStats(media, Some(acc)).collect().sortBy(_.doc_id)
    assert(rows.map(_.doc_id).toSeq == Seq(1L, 4L)) // image filtered, junk dropped
    assert(acc.value == 1L)
    rows.foreach { r =>
      val expected = for (i <- 0 until r.n_samples; c <- 0 until r.channels)
        yield ((r.doc_id * 31 + i * 7 + c * 13) % 2003 - 1001).toInt
      assert(r.peak == expected.map(math.abs).max, s"doc ${r.doc_id}")
      assert(r.sum_samples == expected.map(_.toLong).sum, s"doc ${r.doc_id}")
    }
  }

  test("resampleAudio: stride 1 is identity; stride 2 matches the planted formula") {
    // doc 7 is in the audio slice (7 % 3 == 1): ch = 2, n = 8 frames, rate 24000
    val df = Seq((7L, "x")).toDF("doc_id", "text")
    val media = Multimodal.withSyntheticPayload(df, "doc_id", realSamples = true)
    val orig = Multimodal.audioStats(media).collect().head
    val id1 = Multimodal.resampleAudio(media, stride = 1).collect().head
    assert(id1.out_frames == orig.n_samples && id1.out_rate == orig.sample_rate)
    assert(id1.out_peak == orig.peak && id1.out_sum == orig.sum_samples)
    val st2 = Multimodal.resampleAudio(media, stride = 2).collect().head
    val samples = for (j <- 0 until 4; c <- 0 until 2)
      yield ((7L * 31 + (j * 2) * 7 + c * 13) % 2003 - 1001).toInt
    assert(st2.in_frames == 8 && st2.out_frames == 4 && st2.out_rate == 12000)
    assert(st2.out_sum == samples.map(_.toLong).sum, samples.toString)
    assert(st2.out_peak == samples.map(math.abs).max)
    assert(st2.out_bytes == 44 + 4 * 2 * 2)
  }

  test("resampleAudio lowpass: boxcar means match the formula, incl. a short tail window") {
    // doc 13 (13 % 3 == 1): ch = 2, n = 14 frames, rate 32000; stride 4
    // gives 4 output frames — the last window holds only 2 frames, so the
    // mean divisor shrinks to the actual window size
    val df = Seq((13L, "x")).toDF("doc_id", "text")
    val media = Multimodal.withSyntheticPayload(df, "doc_id", realSamples = true)
    val got = Multimodal.resampleAudio(media, stride = 4, lowpass = true)
      .collect().head
    def in(i: Int, c: Int): Int = ((13L * 31 + i * 7 + c * 13) % 2003 - 1001).toInt
    val filtered = for (j <- 0 until 4; c <- 0 until 2) yield {
      val wn = math.min(4 * j + 4, 14) - 4 * j
      val sum = (0 until wn).map(i => in(4 * j + i, c).toLong).sum
      (sum / wn).toInt // Java truncation toward zero — the oracle's trunc()
    }
    assert(got.in_frames == 14 && got.out_frames == 4 && got.out_rate == 8000)
    assert(got.out_sum == filtered.map(_.toLong).sum, filtered.toString)
    assert(got.out_peak == filtered.map(math.abs).max)
    // filtering really happened: bare decimation gives a different sum
    val bare = Multimodal.resampleAudio(media, stride = 4).collect().head
    assert(bare.out_sum != got.out_sum, "boxcar left samples untouched")
  }

  test("m6 driver query reports zero decode fallbacks on the synthetic corpus") {
    // the stage-metric surface a 100 TB run checks: every synthetic audio
    // payload is a complete PCM16 WAV, so the named fallback accumulator
    // the m6 query registers must read 0 after the action — a nonzero
    // count is the "silently all fell back" failure mode made visible
    val n = graft.SparkEntry.queries("m6_audio_resample")(
      spark, "/root/testdata/sf0.001").count()
    assert(n > 0)
    val acc = graft.SparkEntry.stageMetrics.get("m6_audio_fallbacks")
    assert(acc != null, "m6 query must register its fallback accumulator")
    assert(acc.value == 0L, s"unexpected decode fallbacks: ${acc.value}")
  }

  test("resizeImages: identity rows carry the emitted corner pixel") {
    val media = Seq(
      // identity: 20x10 fits maxSide 32 -> corner_b = (9*31) & 0xff
      Multimodal.MediaRow(2L, "image", Multimodal.pngBytesReal(20, 10, seed = 9)),
      // scaled: interpolated corners aren't oracle-replicable -> null
      Multimodal.MediaRow(1L, "image", Multimodal.pngBytesReal(96, 48, seed = 7))).toDS()
    val rows = Multimodal.resizeImages(media, maxSide = 32)
      .collect().sortBy(_.doc_id)
    assert(rows(0).corner_b.isEmpty, "scaled row must emit null corner")
    assert(rows(1).corner_b.contains((9 * 31) & 0xff),
      s"identity corner: ${rows(1).corner_b}")
  }
}

class CsvwDiscoverSpec extends AnyFunSuite {
  import graft.sources.CsvwDiscover
  import java.nio.file.{Files, Paths}

  test("discovery precedence: user metadata > {+url}-metadata.json > csv-metadata.json > synthesized") {
    val dir = Files.createTempDirectory("disc")
    val csv = dir.resolve("data.csv")
    Files.writeString(csv, "a,b\n1,2\n")
    // nothing found -> synthesized
    val tg0 = CsvwDiscover.forInput(csv.toString)
    assert(tg0.tables.head.url == csv.toString && tg0.tables.head.tableSchema.isEmpty)
    // csv-metadata.json found
    Files.writeString(dir.resolve("csv-metadata.json"),
      s"""{"url": "${csv.toString}", "tableSchema": {"columns": [{"name": "a"}, {"name": "b"}]}}""")
    val tg1 = CsvwDiscover.forInput(csv.toString)
    assert(tg1.tables.head.tableSchema.exists(_.columns.length == 2))
    // {+url}-metadata.json takes precedence
    Files.writeString(Paths.get(csv.toString + "-metadata.json"),
      s"""{"url": "${csv.toString}", "tableSchema": {"columns": [{"name": "only"}]}}""")
    val tg2 = CsvwDiscover.forInput(csv.toString)
    assert(tg2.tables.head.tableSchema.exists(_.columns.length == 1))
    // user-supplied wins over everything
    val user = dir.resolve("user.json")
    Files.writeString(user,
      s"""{"url": "${csv.toString}", "tableSchema": {"columns": [{"name": "x"}, {"name": "y"}, {"name": "z"}]}}""")
    val tg3 = CsvwDiscover.forInput(csv.toString, Some(user.toString))
    assert(tg3.tables.head.tableSchema.exists(_.columns.length == 3))
  }

  test("site-wide config overrides template list") {
    val dir = Files.createTempDirectory("disc2")
    Files.createDirectories(dir.resolve(".well-known"))
    Files.writeString(dir.resolve(".well-known").resolve("csvm"), "custom-meta.json\n")
    val csv = dir.resolve("t.csv")
    Files.writeString(csv, "a\n1\n")
    Files.writeString(dir.resolve("custom-meta.json"),
      s"""{"url": "${csv.toString}", "tableSchema": {"columns": [{"name": "fromcustom"}]}}""")
    val tg = CsvwDiscover.forInput(csv.toString)
    assert(tg.tables.head.tableSchema.exists(_.columns.head.name.contains("fromcustom")))
  }
}
