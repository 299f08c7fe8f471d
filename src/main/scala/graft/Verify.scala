package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.Verify <sfDir> <outDir> [query1,query2,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query subset for fast iteration
    // (the driver always runs the full set; oracle_sql.json stays complete)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a query that throws is reported and the rest still run, but the exit
    // status says so: a failed query is a failure, never "not checked"
    val failed = SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
      .flatMap { q =>
        try {
          q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
          Some(q.name)
        }
      }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    def write(file: String, m: Map[String, Any]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), json.writeValueAsString(m.asJava))
    write("oracle_sql.json", SparkEntry.oracleSql)
    // stage-metric accumulators registered by the queries that ran (m6/m7
    // decode-fallback counts): the run manifest a 100 TB job would check
    // to distinguish "all real samples" from "silent mass fallback"
    write("stage_metrics.json",
      SparkEntry.stageMetrics.asScala.map { case (k, acc) => k -> acc.value }.toMap)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
