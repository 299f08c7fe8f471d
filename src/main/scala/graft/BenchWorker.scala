package graft

import org.apache.spark.sql.SparkSession

/** One isolated scaling measurement: fresh JVM per (cores) configuration so
  * successive runs don't inherit GC/code-cache state from each other —
  * measured order effects in a shared JVM distorted same-input runs by >2×.
  * Spawned by [[Bench]] as `BenchWorker <cores> <corpus> [full|map]`;
  * prints one `WORKER_RESULT <triples> <seconds>` line.
  */
object BenchWorker {

  private val CoresPerExecutor = 4
  private val ExecMemMb = 4096

  /** A LOCAL CLUSTER of cores/4 real executor JVMs with 4 cores and their
    * own heap each — the faithful N vs 4N proxy (a real cluster scales
    * memory and GC capacity with executor count; a single fixed-heap JVM
    * starves per-core memory at the high end and under-reports scaling
    * efficiency).
    */
  def session(cores: Int): SparkSession = {
    val executors = math.max(cores / CoresPerExecutor, 1)
    val b = SparkSession.builder()
      .master(s"local-cluster[$executors,$CoresPerExecutor,$ExecMemMb]")
      .appName(s"graft-bench-worker-$cores")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the bench corpus compresses to ~70 MB: the 128 MB default split size
      // puts the ENTIRE scan in one task for every thread count, making the
      // scaling comparison measure the split planner, not the engine. Small
      // splits give both configs enough scan tasks (a real warehouse table
      // has millions of splits; config identical for both runs).
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      // executor JVMs need the library classes (custom Catalyst expressions)
      // and the JDK17 module opens the driver gets from build.sbt
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", Bench.addOpens.mkString(" "))
    // executors inherit spark.local.dir through the worker
    Bench.tmpfsLocalDir("graft_spark_worker").foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Flagship pipeline: transcripts → CSVW triple mapper → two-stage dedup.
    * The dedup is a group-only hash aggregate over the projected key: the
    * partial (map-side) aggregate dedups before the exchange, so the
    * shuffle carries ~distinct rows, not every duplicate (round 1 forced an
    * explicit repartition first, which shipped every duplicate across the
    * wire and blocked the partial).
    */
  def kgPipelineCount(spark: SparkSession, inputPath: String): Long = {
    val tr = spark.read.parquet(inputPath)
    val triples = graft.streaming.TranscriptStream.triples(tr, SparkEntry.transcriptTable)
    triples
      .select("subj", "pred", "obj")
      .dropDuplicates()
      .count()
  }

  /** Map-only variant (no dedup shuffle) for bottleneck attribution. */
  def mapOnlyCount(spark: SparkSession, inputPath: String): Long = {
    val tr = spark.read.parquet(inputPath)
    graft.streaming.TranscriptStream.triples(tr, SparkEntry.transcriptTable).count()
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val corpus = args(1)
    val run: SparkSession => Long = (if (args.length > 2) args(2) else "full") match {
      case "full" => kgPipelineCount(_, corpus)
      case "map" => mapOnlyCount(_, corpus)
      case other => sys.error(s"unknown mode $other (full|map)")
    }
    val spark = session(cores)
    // warm JIT/codegen on identical work, then report the best of two
    // measurements — the steady state a long job amortizes to; host noise
    // is one-sided, so in-worker best-of-2 tightens the estimator
    // (single measurements drifted the efficiency estimate by ±0.15
    // across windows)
    run(spark)
    val (n, dt) = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val n = run(spark)
      (n, (System.nanoTime() - t0) / 1e9)
    }.minBy(_._2)
    println(f"WORKER_RESULT $n $dt%.3f")
    spark.stop()
  }
}
