package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.count

/** One isolated scaling measurement: fresh JVM per (cores) configuration so
  * successive runs don't inherit GC/code-cache state from each other —
  * measured order effects in a shared JVM distorted same-input runs by >2×.
  * Spawned by `Bench scaling` as `BenchWorker <cores> <corpus>`;
  * prints one `WORKER_RESULT <triples> <seconds>` line.
  */
object BenchWorker {

  private val CoresPerExecutor = 4
  private val ExecMemMb = 4096

  /** A LOCAL CLUSTER of cores/4 real executor JVMs with 4 cores and their
    * own heap each — the faithful N vs 4N proxy (a real cluster scales
    * memory and GC capacity with executor count; a single fixed-heap JVM
    * starves per-core memory at the high end and under-reports scaling
    * efficiency). `SparkContext` gives the executors Spark's module options.
    */
  def session(cores: Int): SparkSession = {
    val executors = math.max(cores / CoresPerExecutor, 1)
    Bench.session(cores, s"local-cluster[$executors,$CoresPerExecutor,$ExecMemMb]",
      // the bench corpus compresses to ~70 MB: the 128 MB default split size
      // puts the ENTIRE scan in one task for every thread count, making the
      // scaling comparison measure the split planner, not the engine. Small
      // splits give both configs enough scan tasks (a real warehouse table
      // has millions of splits; config identical for both runs).
      "spark.sql.files.maxPartitionBytes" -> (1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (1024 * 1024).toString,
      // the local-cluster triple sizes each worker; an executor's heap
      // stays at spark.executor.memory (default 1g) unless set
      "spark.executor.memory" -> s"${ExecMemMb}m",
      // executor JVMs need the library classes (custom Catalyst expressions)
      "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
      // the executor command builder needs the Scala suffix when not
      // launched through the distribution's env scripts
      "spark.executorEnv.SPARK_SCALA_VERSION" -> "2.13")
  }

  /** Writes the graph sink's output over `triples`
    * ([[graft.materialize.GraphWriter.sink]]'s dedup and sort) to the noop
    * sink and returns its row count, observed on that write: no extra job,
    * and the sort stays in the plan, which a `count()` would let the
    * optimizer drop.
    */
  private[graft] def sinkCount(triples: DataFrame): Long = {
    val rows = Observation()
    graft.materialize.GraphWriter.sink(triples).observe(rows, count("*").as("rows"))
      .write.format("noop").mode("overwrite").save()
    rows.get("rows").asInstanceOf[Long]
  }

  /** Flagship pipeline: transcripts → CSVW triple mapper → the graph sink. */
  def kgPipelineCount(spark: SparkSession, inputPath: String): Long =
    sinkCount(graft.streaming.TranscriptStream.triples(
      spark.read.parquet(inputPath), SparkEntry.transcriptTable))

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val corpus = args(1)
    val spark = session(cores)
    // warm JIT/codegen on identical work, then report the best of two
    // measurements — the steady state a long job amortizes to; host noise
    // is one-sided, so in-worker best-of-2 tightens the estimator
    // (single measurements drifted the efficiency estimate by ±0.15
    // across windows)
    kgPipelineCount(spark, corpus)
    val (n, dt) = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val n = kgPipelineCount(spark, corpus)
      (n, (System.nanoTime() - t0) / 1e9)
    }.minBy(_._2)
    println(f"WORKER_RESULT $n $dt%.3f")
    spark.stop()
  }
}
