package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
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
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // stage-metric accumulators registered by the queries that ran (m6/m7
    // decode-fallback counts): the run manifest a 100 TB job would check
    // to distinguish "all real samples" from "silent mass fallback"
    import scala.jdk.CollectionConverters._
    val metrics = SparkEntry.stageMetrics.asScala.toSeq.sortBy(_._1)
      .map { case (k, acc) => s"${q(k)}: ${acc.value}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/stage_metrics.json"), metrics)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
