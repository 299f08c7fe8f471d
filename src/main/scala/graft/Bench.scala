package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.util.control.NonFatal

/** The query tool. Usage:
  *
  *   sbt "runMain graft.Bench time [query...]"
  *   sbt "runMain graft.Bench explain <dir> <tag> <query...>"
  *   sbt "runMain graft.Bench explain - <query...>"
  *   sbt "runMain graft.Bench scaling"
  *
  * `time` runs each named query (all when none named) twice against the
  * noop sink — every column of every row computed, no sink cost — and
  * prints one `name cold=… min=…` line per query, or `name FAILED message`
  * for a query whose build or write throws; the rest still run and the
  * main exits 1. `explain` writes `<dir>/<name>_<tag>.txt` per query, or
  * prints the formatted plans when the dir is `-`. Building a streaming
  * (str*) query runs its stream, so explaining one also executes it.
  *
  * `scaling` runs the flagship transcript→triples→sink pipeline over a
  * deterministic synthetic corpus at N and 4N cores on the *same*
  * materialized input, in interleaved lo/hi pairs, and reports every
  * pair's walls and efficiency = (tp_4N / tp_N) / 4 plus their median and
  * quartiles. It needs a host with at least 4N cores: on a smaller host
  * the 4N leg is oversubscribed, so the block only records
  * `measurable: false` with the host's core count. The block is printed;
  * a measured one is also appended to `BENCH/HISTORY.jsonl`, which is
  * never read back.
  *
  * Reads `SPARK_GRAFT_SF_DIR` (the query data), `SPARK_GRAFT_CPUS` (the
  * `local[n]` session) and, for the scaling workers, `SPARK_HOME`.
  */
object Bench {

  /** Flagship corpus size: per-run compute must dominate fixed overhead
    * and host noise (observed efficiency 0.3 at 1M turns vs 0.73 at 12M). */
  private val Turns = 12000000L
  private val LoCores = 4
  private val HiCores = 16
  private val ScalingPairs = 6
  private val Reps = 2

  /** Corpus cache key: the persistent scaling corpus is reused only while
    * this stamp and [[Turns]] match. BUMP THIS whenever
    * [[graft.sources.TranscriptGen]] changes the corpus it writes.
    */
  private val pipelineVersion = "r4"

  private val json = new ObjectMapper()

  private val usage =
    "usage: graft.Bench time [query...] | explain <dir> <tag> <query...> | " +
      "explain - <query...> | scaling"

  private[graft] sealed trait Command
  private[graft] final case class Time(queries: Seq[SparkEntry.QueryDef]) extends Command
  /** `dir` is `-` for stdout, where `tag` is unused. */
  private[graft] final case class Explain(dir: String, tag: String,
                                          queries: Seq[SparkEntry.QueryDef]) extends Command
  private[graft] case object Scaling extends Command

  /** The command `args` name, or a usage error. `known` is the query list
    * names resolve against, in the order `time` with no names runs it. */
  private[graft] def command(args: Seq[String],
                             known: Seq[SparkEntry.QueryDef]): Either[String, Command] = {
    def resolve(names: Seq[String]): Either[String, Seq[SparkEntry.QueryDef]] = {
      val unknown = names.filterNot(n => known.exists(_.name == n))
      if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(", ")}")
      else Right(names.flatMap(n => known.find(_.name == n)))
    }
    args match {
      case Seq("time") => Right(Time(known))
      case "time" +: names => resolve(names).map(Time)
      case "explain" +: "-" +: names if names.nonEmpty => resolve(names).map(Explain("-", "", _))
      case "explain" +: dir +: tag +: names if dir != "-" && names.nonEmpty =>
        resolve(names).map(Explain(dir, tag, _))
      case "explain" +: _ => Left("explain needs a target and at least one query")
      case Seq("scaling") => Right(Scaling)
      case Seq() => Left("no mode given")
      case mode +: _ => Left(s"unknown mode $mode")
    }
  }

  /** The session every tool measures on: `master` with AQE on, UTC, no UI,
    * 2×`cores` shuffle partitions and a tmpfs `spark.local.dir`, plus
    * `extra` settings (the scaling worker's). */
  private[graft] def session(cores: Int, master: String,
                             extra: (String, String)*): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(master)
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // tmpfs shuffle dir when available: local-mode shuffles are disk-bound
    // otherwise and the timings measure the disk, not the engine
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm))
      b.config("spark.local.dir", Files.createDirectories(shm.resolve("graft_spark_local")).toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Times each query's noop write [[Reps]] times and prints one line per
    * query; returns how many failed. The cold first rep is printed beside
    * the min: host noise is one-sided, so the min is the engine's time. */
  private[graft] def time(spark: SparkSession, sfDir: String,
                          queries: Seq[SparkEntry.QueryDef]): Int =
    queries.count { q =>
      try {
        val times = (1 to Reps).map { i =>
          spark.sparkContext.setJobDescription(s"bench:${q.name} rep$i")
          val s0 = System.nanoTime()
          q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - s0) / 1e9
        }
        println(f"${q.name}%-28s cold=${times.head}%8.3f min=${times.min}%8.3f")
        false
      } catch { case NonFatal(e) =>
        println(s"${q.name} FAILED ${e.getMessage}")
        true
      } finally spark.sparkContext.setJobDescription(null)
    }

  private def explain(spark: SparkSession, sfDir: String, cmd: Explain): Unit = {
    if (cmd.dir != "-") Files.createDirectories(Paths.get(cmd.dir))
    cmd.queries.foreach { q =>
      val plan = q.build(spark, sfDir).queryExecution.explainString(FormattedMode)
      if (cmd.dir == "-") println(s"\n========== ${q.name} ==========\n$plan")
      else {
        val file = Paths.get(cmd.dir, s"${q.name}_${cmd.tag}.txt")
        Files.writeString(file, plan)
        println(s"EXPLAIN wrote $file")
      }
    }
  }

  /** Run one isolated scaling measurement in a fresh child JVM (same-JVM
    * back-to-back sessions showed >2× order effects from GC/code-cache
    * state; separate processes mirror separate cluster applications). The
    * child takes Spark's own module options, the list `spark-submit`
    * injects; its executors get the same list from `SparkContext`.
    */
  private def spawnWorker(cores: Int, corpus: String): (Long, Double) = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(java, "-Xmx8g") ++ JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-cp", cp, "graft.BenchWorker", cores.toString, corpus)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    // local-cluster executors are launched through the standalone Worker,
    // which resolves the Spark distribution from SPARK_HOME
    pb.environment().put("SPARK_HOME",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_LOCAL_IP", "127.0.0.1")
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

  /** The scaling block for a host that cannot run the 4N leg unshared. */
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

  /** The scaling block of this host: measured in [[ScalingPairs]] lo/hi
    * worker pairs over the cached corpus, written first with a
    * `local[cpus]` session when no complete copy exists. */
  private def scaling(cpus: Int): ObjectNode = {
    val nproc = Runtime.getRuntime.availableProcessors
    if (nproc < HiCores) {
      System.err.println(s"[bench] scaling not measurable: the $HiCores-core " +
        s"leg needs $HiCores cores, this host has $nproc")
      return unmeasurable(nproc)
    }
    // the deterministic corpus write is a ~180 s burn; a complete earlier
    // write (Spark's _SUCCESS marker) of the same corpus key is reused
    val corpus = s"/tmp/graft_corpus/turns_${Turns}_$pipelineVersion"
    if (Files.exists(Paths.get(corpus, "_SUCCESS")))
      System.err.println(s"[bench] reusing corpus at $corpus")
    else {
      val spark = session(cpus, s"local[$cpus]")
      // 256 output files: parquet splits can't go below a row group, so
      // the file count caps scan parallelism
      try graft.sources.TranscriptGen.transcripts(spark, Turns)
        .repartition(256)
        .write.mode("overwrite").parquet(corpus)
      finally spark.stop()
    }
    // 1 executor × 4 cores vs 4 executors × 4 cores (BenchWorker), each
    // executor its own JVM and heap; lo/hi interleaved so each pair shares
    // one host-noise window
    val runs = (1 to ScalingPairs).map(_ => (spawnWorker(LoCores, corpus), spawnWorker(HiCores, corpus)))
    val counts = runs.flatMap { case ((nLo, _), (nHi, _)) => Seq(nLo, nHi) }.distinct
    require(counts.size == 1, s"scaling runs disagree on the triple count: ${counts.mkString(", ")}")
    val block = scalingBlock(nproc, counts.head, runs.map { case ((_, lo), (_, hi)) => (lo, hi) })
    val line = json.createObjectNode().put("ts_ms", System.currentTimeMillis())
      .setAll[ObjectNode](block)
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH", "HISTORY.jsonl"), json.writeValueAsString(line) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    block
  }

  def main(args: Array[String]): Unit = {
    val cmd = command(args.toSeq, SparkEntry.registry) match {
      case Right(c) => c
      case Left(err) =>
        System.err.println(err)
        System.err.println(usage)
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    cmd match {
      case Scaling => println(json.writeValueAsString(scaling(cpus)))
      case Time(queries) =>
        val spark = session(cpus, s"local[$cpus]")
        val failed =
          try {
            // pre-materialize the streaming fixture so str* time the
            // stream, not the one-off input rewrite
            SparkEntry.streamFixture(spark, sfDir)
            time(spark, sfDir, queries)
          } finally spark.stop()
        if (failed > 0) sys.exit(1)
      case e: Explain =>
        val spark = session(cpus, s"local[$cpus]")
        try explain(spark, sfDir, e) finally spark.stop()
    }
  }
}
