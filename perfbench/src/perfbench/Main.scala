package perfbench

import graft.link.{ConnectedComponents, EntityLink}
import graft.mapper.{CsvwReader, TripleMapper}
import graft.materialize.GraphWriter
import graft.model.{CsvwJson, Resolve, ResolvedTable}
import graft.streaming.TranscriptStream
import graft.validate.{GraftValidationException, ValidateGate, Validations}

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point: composes the library's public functions into each
  * workload's pipeline, sets it up once in this fresh JVM (cold), runs it
  * for the requested time and writes one raw JSON record per run. The
  * outputs are checked against the generator's ground truth by `run.py`,
  * not here.
  *
  * Usage: Main <workload> <input dir> <warm-up input dir> <work dir>
  *             <seconds> <trace 0|1> <result json>
  */
object Main {

  final case class Conf(workload: String, input: String, warm: String, work: String,
                        seconds: Double, trace: Boolean, result: String)

  /** Untimed warm-up passes after the set-up's own, so the measured
    * iterations run on compiled code. */
  val ExtraWarmUps = 1

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv(0), argv(1), argv(2), argv(3), argv(4).toDouble, argv(5) == "1", argv(6))
    val w: Workload = c.workload match {
      case "kg_full" => new KgFull(c)
      case "csvw_wide" => new CsvwWide(c)
      case "stream_ingest" => new StreamIngest(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, cold: session start, metadata parse/resolve, one warm-up
    val t0 = System.nanoTime()
    val spark = newSession(c.work)
    val r0 = System.nanoTime()
    w.resolve(spark)
    val resolveS = (System.nanoTime() - r0) / 1e9
    def warmUp(k: Int): Unit = {
      val warm = w.iteration(spark, c.warm, s"${c.work}/warm$k", new Tracer(spark, -k, on = false))
      if (!warm.ok) throw new IllegalStateException(s"warm-up failed: ${warm.error}")
    }
    warmUp(1)
    val setupS = (System.nanoTime() - t0) / 1e9
    (2 to 1 + ExtraWarmUps).foreach(warmUp)
    val bindingsOk = w.bindingsMatch(spark, c.warm)

    // ---- measurement: untraced iterations; a traced run adds traced ones.
    // Each starts from a collected heap, so its memory samples are its own.
    val iters = mutable.ArrayBuffer.empty[Iter]
    Memory.watch()
    def measured(tr: Tracer): Iter = {
      Memory.reset()
      val it = w.iteration(spark, c.input, s"${c.work}/out/it${iters.size}", tr)
      it.copy(memMb = Memory.samplesMb)
    }
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val untracedUntil = if (c.trace) c.seconds / 3 else c.seconds
    val minUntraced = if (c.trace || w.oneShot) 1 else 2
    while (iters.size < minUntraced || (!w.oneShot && elapsed < untracedUntil))
      iters += measured(new Tracer(spark, iters.size, on = false))
    if (c.trace) {
      val listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      var traced = 0
      while (traced < (if (w.oneShot) 1 else 2) || (!w.oneShot && elapsed < c.seconds)) {
        val tr = new Tracer(spark, iters.size, on = true)
        val it = measured(tr)
        iters += it.copy(trace = Some(tr.layerMetrics(listener)))
        tr.release()
        traced += 1
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    stopSession(spark)

    val out = Map(
      "workload" -> c.workload,
      "setup_s" -> setupS,
      "resolve_s" -> resolveS,
      "bindings_match" -> bindingsOk,
      "iterations" -> iters.map(_.toJson).toSeq,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "nproc" -> Runtime.getRuntime.availableProcessors())
    Files.writeString(Paths.get(c.result), json.writeValueAsString(out))
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def newSession(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def resolveTable(metadataPath: String): ResolvedTable =
    Resolve.group(CsvwJson.parseTableGroup(Files.readString(Paths.get(metadataPath)))).head

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
}

/** One measured pipeline run. `out` is what a check reads back. */
final case class Iter(wallS: Double, ok: Boolean, error: String, out: String,
                      counts: Map[String, Any] = Map.empty,
                      trace: Option[TraceSummary] = None, memMb: Seq[Double] = Nil) {
  def toJson: Map[String, Any] = Map(
    "wall_s" -> wallS, "ok" -> ok, "error" -> error, "out" -> out, "counts" -> counts,
    "mem_mb" -> memMb,
    "trace" -> trace.map(t => Map("layers" -> t.layers, "wall_s" -> t.wallS, "glue_s" -> t.glueS)))
}

trait Workload {
  /** One iteration fills the measured time by itself. */
  def oneShot: Boolean = false
  /** Parse and resolve the workload's metadata (part of set-up). */
  def resolve(spark: SparkSession): Unit
  def iteration(spark: SparkSession, input: String, out: String, tr: Tracer): Iter
  /** Whether the benchmark's own copies of library bindings still give the
    * library's output on `input` (untimed; see [[Transcript]]). */
  def bindingsMatch(spark: SparkSession, input: String): Boolean = true

  /** Time `body` under a root span; a throw is a failed iteration. */
  protected def timed(tr: Tracer, out: String)(body: => Map[String, Any]): Iter = {
    Main.deleteTree(Paths.get(out))
    Files.createDirectories(Paths.get(out))
    val t0 = System.nanoTime()
    try {
      val counts = tr("iteration")(body)
      Iter((System.nanoTime() - t0) / 1e9, ok = true, error = "", out = out, counts = counts)
    } catch {
      case e: Exception =>
        Iter((System.nanoTime() - t0) / 1e9, ok = false, error = e.toString, out = out)
    }
  }
}

/** The transcript input map and row keys `TranscriptStream.triples` uses;
  * the cell-error side output needs the same bindings. They are a copy of
  * private code, so `KgFull.bindingsMatch` checks on every run that mapping
  * through them still gives `TranscriptStream.triples`' triples. */
object Transcript {
  val inputs: Map[String, Column] = Map(
    "conv_id" -> col("conv_id"), "turn_idx" -> col("turn_idx"),
    "role" -> col("role"), "text" -> col("text"), "tool" -> col("tool"),
    "ts" -> col("ts_lex"))
  val skolem: Column = concat(col("conv_id"), lit("-"), col("turn_idx"))
  def withTsLex(df: DataFrame): DataFrame =
    df.withColumn("ts_lex", date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
  val subjKey: Column =
    concat(lit("urn:conv:"), col("conv_id"), lit("/turn/"), col("turn_idx").cast("string"))
}

/** kg_full: parquet scan → transcript mapping → PK check + cell-error gate →
  * mentions → star edges → connected components → canonical rewrite →
  * sorted, deduplicated write with lineage and manifest. */
final class KgFull(c: Main.Conf) extends Workload {
  private var table: ResolvedTable = _

  def resolve(spark: SparkSession): Unit = table = Main.resolveTable(s"${c.input}/metadata.json")

  override def bindingsMatch(spark: SparkSession, input: String): Boolean = {
    val turns = spark.read.schema(TranscriptStream.transcriptSchema).parquet(s"$input/turns")
    val lib = TranscriptStream.triples(turns, table)
    val ours = TripleMapper.triples(Transcript.withTsLex(turns), table, Transcript.inputs,
      Transcript.skolem, rownum = col("turn_idx") + 1, sourceNum = col("turn_idx") + 1)
    lib.exceptAll(ours).isEmpty && ours.exceptAll(lib).isEmpty
  }

  def iteration(spark: SparkSession, input: String, out: String, tr: Tracer): Iter = timed(tr, out) {
    val tbl = if (tr.on) tr("model")(Main.resolveTable(s"$input/metadata.json")) else table
    val turns = tr("sources") {
      val df = tr.force(spark.read.schema(TranscriptStream.transcriptSchema).parquet(s"$input/turns"))
      tr.rowsIn(tr.lastRows("sources"))
      df
    }
    val nTurns = tr.lastRows("sources")
    val triples = tr("mapper") { tr.rowsIn(nTurns); tr.force(TranscriptStream.triples(turns, tbl)) }
    val (gate, pk) = tr("validate") {
      tr.rowsIn(nTurns)
      val pk = Validations.pkDuplicates(turns, Seq("conv_id", "turn_idx")).count()
      val gate = new ValidateGate(spark)
      gate.countCellErrors(TripleMapper.cellErrors(
        Transcript.withTsLex(turns), tbl, Transcript.inputs, Transcript.skolem))
      tr.rowsOut(pk + gate.cellErrorAcc.value)
      gate.gate()
      (gate, pk)
    }
    val mentions = tr("link.mentions") {
      tr.rowsIn(nTurns)
      val dict = spark.read.parquet(s"$input/dict")
      tr.force(EntityLink.mentions(turns.withColumn("subj_key", Transcript.subjKey), dict, "subj_key", "text"))
    }
    val edges = tr("link.star_edges") {
      tr.rowsIn(tr.lastRows("link.mentions"))
      tr.force(EntityLink.starEdges(mentions, "subj_key"))
    }
    val comp = tr("link.cc") {
      tr.rowsIn(tr.lastRows("link.star_edges"))
      tr.force(ConnectedComponents.run(spark, edges))
    }
    val canon = tr("link.canonicalize") {
      tr.rowsIn(tr.lastRows("mapper"))
      tr.force(EntityLink.canonicalizeSubjects(triples, comp))
    }
    val rewritten =
      if (!tr.on) -1L
      else tr("trace.stats") {
        comp.filter(col("id") =!= col("component")).select(col("id").as("subj"))
          .join(triples, "subj").count()
      }
    tr("materialize") {
      tr.rowsIn(tr.lastRows("link.canonicalize"))
      GraphWriter.writeTriples(canon, s"$out/triples",
        metrics = gate.manifestMetrics + ("pk_violations" -> pk))
      tr.rowsOut(Manifest.rows(out))
    }
    Map("cell_errors" -> gate.cellErrorAcc.value, "pk_violations" -> pk, "fk_violations" -> 0L,
      "gate_raised" -> false, "rewritten_triples" -> rewritten)
  }
}

/** csvw_wide: the reference's own flow — `CsvwReader.open` on a metadata
  * document naming two tables, standard mode, validate = true — then the
  * validation counts and a write through `GraphWriter.writeTriples`; the
  * gate runs last and must raise on the planted faults. */
final class CsvwWide(c: Main.Conf) extends Workload {
  val BaseUrl = "https://example.org/csvw/metadata.json"

  def resolve(spark: SparkSession): Unit = parseResolve(c.input)

  private def parseResolve(input: String) =
    Resolve.group(CsvwJson.parseTableGroup(Files.readString(Paths.get(s"$input/metadata.json")))
      .rebase(BaseUrl))

  def iteration(spark: SparkSession, input: String, out: String, tr: Tracer): Iter = timed(tr, out) {
    if (tr.on) tr("model")(parseResolve(input))
    val opened = tr("sources") {
      val o = CsvwReader.open(spark, s"$input/metadata.json", BaseUrl, minimal = false, validate = true)
      if (tr.on) {
        val n = o.bind.values.toSeq.map { b => tr.force(b.df); tr.current.get.rowsOut }.sum
        tr.rowsIn(n)
        tr.rowsOut(n)
      }
      o
    }
    val nRows = tr.lastRows("sources")
    val r = opened.result
    val triples = tr("mapper") { tr.rowsIn(nRows); tr.force(r.triples) }
    val (gate, pk, fk) = tr("validate") {
      tr.rowsIn(nRows)
      val gate = new ValidateGate(spark, r.metadata)
      gate.countCellErrors(r.cellErrors)
      val pk = r.pkViolations.values.map(_.count()).sum
      val fk = r.fkViolations.values.map(_.count()).sum
      tr.rowsOut(gate.cellErrorAcc.value + pk + fk)
      (gate, pk, fk)
    }
    tr("materialize") {
      tr.rowsIn(tr.lastRows("mapper"))
      GraphWriter.writeTriples(triples, s"$out/triples",
        metrics = gate.manifestMetrics + ("pk_violations" -> pk) + ("fk_violations" -> fk))
      tr.rowsOut(Manifest.rows(out))
    }
    val raised = try { gate.gate(); false } catch { case _: GraftValidationException => true }
    Map("cell_errors" -> gate.cellErrorAcc.value, "metadata_errors" -> r.metadata.errors.size,
      "pk_violations" -> pk, "fk_violations" -> fk, "gate_raised" -> raised)
  }
}

object Manifest {
  def rows(out: String): Long =
    Main.json.readTree(Files.readString(Paths.get(s"$out/_MANIFEST_triples.json"))).get("rows").asLong
}

/** stream_ingest: `TranscriptStream.triples` + `dedupedTriplesNative` over a
  * parquet file source, committed by the file sink. One benchmark thread
  * moves the pre-generated files into the watched directory on a fixed
  * schedule (open loop): a slow batch delays commits, never the drops. One
  * iteration is one whole schedule. */
final class StreamIngest(c: Main.Conf) extends Workload {
  override def oneShot: Boolean = true
  /** Micro-batch cadence. A fixed cadence longer than a batch keeps the
    * files per batch, and so the batch time, from feeding back on itself. */
  val TriggerMs = 1500L
  private var table: ResolvedTable = _

  def resolve(spark: SparkSession): Unit = table = Main.resolveTable(s"${c.input}/metadata.json")

  /** Commit time (epoch ms) and shape of each finished micro-batch. */
  final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(batches += e.progress)
  }

  def iteration(spark: SparkSession, input: String, out: String, tr: Tracer): Iter = {
    val files = Files.list(Paths.get(s"$input/files")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    // the drops run over three quarters of the measured time; the warm-up
    // input drops over 2.5 s, long enough for a few micro-batches
    val spanMs = if (input == c.input) c.seconds * 750 else 2500.0
    val staged = Paths.get(s"$out.staged")
    Main.deleteTree(staged)
    Files.createDirectories(staged)
    files.foreach(f => Files.copy(Paths.get(s"$input/files/$f"), staged.resolve(f)))
    val progress = new Progress
    spark.streams.addListener(progress)
    var sched = Array.empty[Long]
    var actual = Array.empty[Long]
    val it = timed(tr, out) {
      val inDir = Paths.get(s"$out/in")
      Files.createDirectories(inDir)
      tr("streaming") {
        val q = TranscriptStream.dedupedTriplesNative(
            TranscriptStream.triples(TranscriptStream.readStream(spark, inDir.toString), table,
              carryEventTime = true))
          .writeStream.format("parquet").outputMode("append")
          .trigger(Trigger.ProcessingTime(TriggerMs))
          .option("path", s"$out/triples")
          .option("checkpointLocation", s"$out/checkpoint")
          .start()
        tr.current.foreach(_.extraGroups = List(q.runId.toString))
        try {
          val interval = spanMs / files.size
          val t0 = System.currentTimeMillis() + 100
          sched = files.indices.map(i => t0 + (i * interval).toLong).toArray
          actual = new Array[Long](files.size)
          files.zipWithIndex.foreach { case (f, i) =>
            val wait = sched(i) - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            Files.move(staged.resolve(f), inDir.resolve(f), StandardCopyOption.ATOMIC_MOVE)
            actual(i) = System.currentTimeMillis()
          }
          q.processAllAvailable()
        } finally q.stop()
      }
      PerfbenchBridge.drainListeners(spark.sparkContext)
      Map.empty[String, Any]
    }
    spark.streams.removeListener(progress)
    Main.deleteTree(staged)
    if (!it.ok) return it

    // which batch committed each file: the file source's log in the checkpoint
    val batchOf = mutable.Map.empty[String, Long]
    val logDir = Paths.get(s"$out/checkpoint/sources/0")
    Files.list(logDir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .foreach { p =>
        Files.readAllLines(p).asScala.filter(_.startsWith("{")).foreach { line =>
          val e = Main.json.readTree(line)
          batchOf(Paths.get(new java.net.URI(e.get("path").asText)).getFileName.toString) =
            e.get("batchId").asLong
        }
      }
    val bs = progress.batches.toSeq
    val commitMs = bs.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)).toMap
    val lags = files.indices.map(i => batchOf.get(files(i)).flatMap(commitMs.get).map(cm => (cm - sched(i)) / 1e3))
    val dataBatches = bs.filter(_.numInputRows > 0)
    val busyS = dataBatches.map(_.durationMs.get("triggerExecution").longValue).sum / 1e3
    val lastCommit = if (commitMs.isEmpty) 0L else commitMs.values.max
    val state = bs.flatMap(_.stateOperators.headOption)
    val counts = Map[String, Any](
      "lags_s" -> lags,
      "late_s" -> files.indices.map(i => (actual(i) - sched(i)) / 1e3).max,
      "busy_s" -> busyS,
      "wall_s" -> (if (sched.isEmpty) 0.0 else (lastCommit - sched.head) / 1e3),
      "batch_s" -> dataBatches.map(_.durationMs.get("triggerExecution").longValue / 1e3),
      "state_rows" -> (if (state.isEmpty) 0L else state.map(_.numRowsTotal).max),
      "state_mb" -> (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1e6))
    // the file sink reports no output row count; read back what it committed
    tr.spans.find(_.name == "streaming").foreach { s =>
      s.rowsIn = dataBatches.map(_.numInputRows).sum
      s.rowsOut = spark.read.parquet(s"$out/triples").count()
    }
    it.copy(counts = counts)
  }
}
