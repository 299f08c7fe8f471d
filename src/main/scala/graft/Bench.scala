package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{IntNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

/** Benchmark main. Two parts:
  *
  * 1. Headline per-query timings on `SPARK_GRAFT_SF_DIR` at
  *    `local[SPARK_GRAFT_CPUS]` (driver contract: one JSON line).
  * 2. Scaling run: the flagship transcript→triples→dedup pipeline over a
  *    deterministic synthetic corpus, executed at N and 4N cores on the
  *    *same* materialized input in interleaved lo/hi pairs; reports every
  *    pair's walls and efficiency = (tp_4N / tp_N) / 4, plus their median
  *    and quartiles. It needs a host with at least 4N cores: on a smaller
  *    host the 4N leg is oversubscribed, so the block only records
  *    `measurable: false` with the host's core count.
  *
  * Each run writes its own document to `BENCH/RESULT.json` and never reads
  * an earlier `RESULT.json` or `HISTORY.jsonl`; a measured scaling run also
  * appends its block to `BENCH/HISTORY.jsonl`.
  *
  * The whole main runs under a wall-clock budget (`GRAFT_BENCH_BUDGET_SECS`,
  * default 900): headline reps degrade to 1 and then stop when the budget
  * tightens, the scaling block runs only as many interleaved pairs as fit,
  * and a watchdog thread guarantees the contract JSON line (with whatever
  * completed) is printed and the process exits 0 even if a query hangs —
  * a partial result beats a timeout with no result.
  */
object Bench {

  /** Flagship corpus size: per-run compute must dominate fixed overhead
    * and host noise (observed efficiency 0.3 at 1M turns vs 0.73 at 12M). */
  private val Turns = 12000000L
  private val LoCores = 4
  private val HiCores = 16
  private val ScalingPairs = 6
  private val HeadlineReps = 2

  /** Corpus cache key: the persistent scaling corpus is reused only while
    * this stamp and [[Turns]] match. BUMP THIS whenever
    * [[graft.sources.TranscriptGen]] changes the corpus it writes.
    */
  private val pipelineVersion = "r4"

  private val json = new ObjectMapper()

  /** JDK 17 module opens Spark needs outside spark-submit (build.sbt's
    * list), for the worker JVMs and their executors. */
  private[graft] val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** tmpfs shuffle dir when available: local-mode shuffles are disk-bound
    * otherwise and the timings measure the disk, not the engine. */
  private[graft] def tmpfsLocalDir(name: String): Option[String] = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) Some(Files.createDirectories(shm.resolve(name)).toString)
    else None
  }

  private[graft] def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    tmpfsLocalDir("graft_spark_local").foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run one isolated scaling measurement in a fresh child JVM (same-JVM
    * back-to-back sessions showed >2× order effects from GC/code-cache
    * state; separate processes mirror separate cluster applications).
    */
  private def spawnWorker(cores: Int, corpus: String): (Long, Double) = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(java, "-Xmx8g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC") ++ addOpens ++
      Seq("-cp", cp, "graft.BenchWorker", cores.toString, corpus, "full")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    // local-cluster executors are launched through the standalone Worker,
    // which resolves the Spark distribution from SPARK_HOME
    pb.environment().put("SPARK_HOME",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_LOCAL_IP", "127.0.0.1")
    // the executor command builder needs the Scala suffix when not launched
    // through the distribution's env scripts
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    proc.waitFor()
    val line = out.linesIterator.find(_.startsWith("WORKER_RESULT"))
      .getOrElse(sys.error(s"worker($cores) produced no result; output tail: ${out.takeRight(500)}"))
    val parts = line.split("\\s+")
    (parts(1).toLong, parts(2).toDouble)
  }

  private def dec(v: Double, scale: Int = 3): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP)

  /** Quantile `p` of a non-empty sample, linearly interpolated between
    * order statistics (numpy's default). */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * p
    val i = h.toInt
    if (i + 1 < s.size) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
  }

  /** The scaling block for a host that cannot run the 4N leg unshared, or
    * a run whose budget left no room for a pair. */
  private[graft] def unmeasurable(nproc: Int): ObjectNode = {
    val b = json.createObjectNode()
    b.put("measurable", false)
    b.put("nproc", nproc)
    b.put("cores_needed", HiCores)
    b
  }

  /** The scaling block of this run's interleaved `(sec_lo, sec_hi)` pairs,
    * all of which counted `triples`: each pair's walls and efficiency, and
    * the efficiency median and quartiles. `sec_*`/`triples_per_sec_*` use
    * the median wall per configuration.
    */
  private[graft] def scalingBlock(nproc: Int, triples: Long,
                                  pairs: Seq[(Double, Double)]): ObjectNode = {
    val ratio = HiCores.toDouble / LoCores
    val effs = pairs.map { case (lo, hi) => (lo / hi) / ratio }
    val secLo = quantile(pairs.map(_._1), 0.5)
    val secHi = quantile(pairs.map(_._2), 0.5)
    val b = json.createObjectNode()
    b.put("measurable", true)
    b.put("nproc", nproc)
    b.put("triples", triples)
    b.put("turns", Turns)
    b.put("cores_lo", LoCores)
    b.put("cores_hi", HiCores)
    b.put("sec_lo", dec(secLo, 2))
    b.put("sec_hi", dec(secHi, 2))
    b.put("triples_per_sec_lo", dec(triples / secLo, 0))
    b.put("triples_per_sec_hi", dec(triples / secHi, 0))
    b.put("efficiency", dec(quantile(effs, 0.5)))
    b.put("efficiency_q1", dec(quantile(effs, 0.25)))
    b.put("efficiency_q3", dec(quantile(effs, 0.75)))
    val arr = b.putArray("pairs")
    pairs.zip(effs).foreach { case ((lo, hi), e) =>
      arr.addObject().put("sec_lo", dec(lo, 2)).put("sec_hi", dec(hi, 2))
        .put("efficiency", dec(e))
    }
    b
  }

  /** Compact truncation-proof contract line (< ~400 bytes): the full
    * document with 60 queries is ~3.3 KB and a stdout tail capture
    * truncated it mid-key two rounds running. Derived from the full
    * document so the watchdog path needs no extra state.
    */
  private[graft] def compactLine(doc: JsonNode): String = {
    val line = json.createObjectNode()
    line.put("metric", "total")
    val value = doc.path("value")
    line.set[JsonNode]("value", if (value.isNumber) value else IntNode.valueOf(0))
    line.put("unit", "sec")
    line.put("n_queries", doc.path("queries").size)
    line.put("sf", doc.path("sf").asText("?"))
    line.put("watchdog_fired", doc.path("watchdog_fired").asBoolean(false))
    val scaling = doc.path("scaling")
    if (scaling.path("measurable").asBoolean(false))
      line.set[JsonNode]("scaling_efficiency", scaling.get("efficiency"))
    line.put("full", "BENCH/RESULT.json")
    json.writeValueAsString(line)
  }

  /** Owns one run's files under `dir`: every snapshot overwrites
    * `RESULT.json`, `emit` prints the latest snapshot and then the compact
    * line exactly once, and `history` appends a measured scaling block to
    * `HISTORY.jsonl`. Neither file is ever read.
    */
  private[graft] final class Report(dir: Path, sfDir: String) {
    private val latest = new AtomicReference[ObjectNode]({
      val d = json.createObjectNode()
      d.put("metric", "total").put("value", 0.0).put("unit", "sec")
      d.putObject("queries")
      d.put("sf", sfDir)
      d
    })
    private val printed = new AtomicBoolean(false)

    private def write(doc: JsonNode): Unit = {
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("RESULT.json"), json.writeValueAsString(doc) + "\n")
    }

    def snapshot(doc: ObjectNode): Unit = { latest.set(doc); write(doc) }

    /** Watchdog truncation is machine-readable: a consumer of RESULT.json
      * must be able to tell a clean run from one the watchdog cut short. */
    def emit(watchdogFired: Boolean): Unit = if (printed.compareAndSet(false, true)) {
      val doc =
        if (!watchdogFired) latest.get
        else json.createObjectNode().put("watchdog_fired", true).setAll[ObjectNode](latest.get)
      write(doc)
      println(json.writeValueAsString(doc))
      // compact line LAST: the full document is ~3.3 KB and tail-capture
      // truncation made it unparseable two rounds running
      println(compactLine(doc))
      System.out.flush()
    }

    def history(scaling: ObjectNode): Unit = {
      val line = json.createObjectNode().put("ts_ms", System.currentTimeMillis())
        .setAll[ObjectNode](scaling)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("HISTORY.jsonl"), json.writeValueAsString(line) + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // ambient load sampled FIRST — after the headline suite or the corpus
    // burst the 1-min average would report our own CPU burn
    val loadBefore =
      try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Exception => -1.0 }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val budget = math.max(120,
      sys.env.getOrElse("GRAFT_BENCH_BUDGET_SECS", "900").toInt)
    def remaining: Double = budget - elapsed
    val report = new Report(Paths.get("BENCH"), sfDir)

    // Watchdog: if anything hangs past budget + grace, print what we have
    // and hard-exit 0 — the round-3 driver run timed out (rc 124) with a
    // fully-computed headline that was never printed. halt() skips Spark's
    // shutdown hooks deliberately: a wedged streaming query would block a
    // clean stop() and we are exiting anyway.
    val grace = 60
    val watchdog = new Thread(() => {
      try Thread.sleep((budget + grace) * 1000L)
      catch { case _: InterruptedException => return }
      System.err.println(
        f"[bench] watchdog: budget ${budget}s + ${grace}s grace exceeded " +
          f"(elapsed $elapsed%.0fs) — emitting partial result")
      report.emit(watchdogFired = true)
      Runtime.getRuntime.halt(0)
    }, "bench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    // ---- part 1: headline queries --------------------------------------
    var results = Vector.empty[(String, Double, Double)]
    var skippedForBudget = Vector.empty[String]
    // queries the budget degraded to ONE (cold) rep: recorded so a reader
    // can tell a cold single-rep number from a true warm regression
    var singleRepQs = Vector.empty[String]

    def document(scaling: Option[ObjectNode]): ObjectNode = {
      val d = json.createObjectNode()
      d.put("metric", "total")
      d.put("value", dec(results.map(_._2).filter(_ >= 0).sum))
      d.put("unit", "sec")
      val qs = d.putObject("queries")
      val cold = d.putObject("queries_cold")
      results.foreach { case (k, best, first) => qs.put(k, dec(best)); cold.put(k, dec(first)) }
      d.put("reps", HeadlineReps)
      val single = d.putArray("single_rep")
      singleRepQs.foreach(single.add(_))
      d.put("budget_secs", budget)
      d.put("elapsed_secs", dec(elapsed, 1))
      d.put("ambient_load_before", dec(loadBefore, 2))
      if (skippedForBudget.nonEmpty) {
        val a = d.putArray("skipped_for_budget")
        skippedForBudget.foreach(a.add(_))
      }
      d.put("sf", sfDir)
      scaling.foreach(d.set[JsonNode]("scaling", _))
      d
    }

    var spark = session(cpus)
    // pre-materialize the streaming fixture so str1 times the stream,
    // not the one-off input rewrite
    SparkEntry.streamFixture(spark, sfDir)
    // registry order puts the cheap tail last for the budget to trim
    SparkEntry.registry.foreach { q =>
      // budget gates: don't start a query with <30s left (the watchdog
      // still guarantees emission if one hangs); rep 2+ only while
      // comfortably inside budget
      if (remaining < 30) {
        skippedForBudget :+= q.name
      } else {
        val reps = if (remaining < 90) 1 else HeadlineReps
        if (reps < HeadlineReps) singleRepQs :+= q.name
        // per-query MIN over reps: the VM host's noise is one-sided
        // (steal/IO-wait spikes only ever slow a query down), so the min
        // is the engine's time; the COLD first rep is reported alongside
        // for cross-round comparability
        val times = (1 to reps).map { _ =>
          val s0 = System.nanoTime()
          val ok = try { q.build(spark, sfDir).count(); true }
                   catch { case _: Throwable => false }
          if (ok) (System.nanoTime() - s0) / 1e9 else -1.0
        }
        val best = if (times.contains(-1.0)) -1.0 else times.min
        results :+= ((q.name, best, times.head))
        report.snapshot(document(None))
      }
    }
    if (skippedForBudget.nonEmpty)
      System.err.println(s"[bench] budget trimmed ${skippedForBudget.size} " +
        s"headline queries: ${skippedForBudget.mkString(", ")}")
    report.snapshot(document(None))

    // ---- part 2: scaling evidence (N vs 4N cores, same input) ----------
    val nproc = Runtime.getRuntime.availableProcessors
    // The deterministic corpus write is a ~180 s burn; a complete earlier
    // write (Spark's _SUCCESS marker) of the same corpus key is reused.
    val corpus = s"/tmp/graft_corpus/turns_${Turns}_$pipelineVersion"
    val corpusReusable = Files.exists(Paths.get(corpus, "_SUCCESS"))
    // estimated costs (measured round 3): corpus write ~180 s, one
    // interleaved lo+hi pair ~300 s; the first pair's measured cost
    // replaces the estimate for the rest
    var pairEstimate = 300.0
    val scalingNeed = (if (corpusReusable) 5.0 else 180.0) + pairEstimate * 1.25 + 30
    val scaling =
      if (nproc < HiCores) {
        System.err.println(s"[bench] scaling not measurable: the ${HiCores}-core " +
          s"leg needs $HiCores cores, this host has $nproc")
        unmeasurable(nproc)
      } else if (remaining <= scalingNeed) {
        System.err.println(f"[bench] budget too tight for scaling " +
          f"($remaining%.0fs left, need ~$scalingNeed%.0f)")
        unmeasurable(nproc)
      } else {
        if (corpusReusable) System.err.println(s"[bench] reusing corpus at $corpus")
        else {
          // 256 output files: parquet splits can't go below a row group, so
          // the file count caps scan parallelism
          graft.sources.TranscriptGen.transcripts(spark, Turns)
            .repartition(256)
            .write.mode("overwrite").parquet(corpus)
        }
        spark.stop(); spark = null
        // 1 executor × 4 cores vs 4 executors × 4 cores (BenchWorker), each
        // executor its own JVM and heap; lo/hi interleaved so each pair
        // shares one host-noise window
        var pairs = Vector.empty[(Double, Double)]
        var counts = Vector.empty[Long]
        while (pairs.size < ScalingPairs && remaining > pairEstimate * 1.25 + 30) {
          val p0 = elapsed
          val (nLo, lo) = spawnWorker(LoCores, corpus)
          val (nHi, hi) = spawnWorker(HiCores, corpus)
          counts ++= Seq(nLo, nHi)
          pairs :+= ((lo, hi))
          pairEstimate = math.max(elapsed - p0, 60.0)
        }
        if (pairs.size < ScalingPairs)
          System.err.println(s"[bench] budget trimmed scaling to ${pairs.size}/$ScalingPairs pairs")
        if (pairs.isEmpty) unmeasurable(nproc)
        else {
          require(counts.distinct.size == 1,
            s"scaling runs disagree on the triple count: ${counts.mkString(", ")}")
          val block = scalingBlock(nproc, counts.head, pairs)
          report.history(block)
          block
        }
      }
    report.snapshot(document(Some(scaling)))

    if (spark != null) spark.stop()
    report.emit(watchdogFired = false)
  }
}
