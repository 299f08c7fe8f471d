package graft

/** Per-query harness: noop-sink isolation timings plus
  * `.explain("formatted")` dumps, separate from the [[Bench]] main. Usage:
  *
  *   sbt "runMain graft.BenchExtra time q1_agg g2_graph_canonicalize"
  *   sbt "runMain graft.BenchExtra explain target/plans before g2_graph_canonicalize"
  *   sbt "runMain graft.BenchExtra explain - q1_agg"
  *
  * `time` runs each named query (all when none named) twice against the
  * noop sink — every column of every row computed, no sink cost — and
  * prints one `name cold_s min_s` line per query. `explain` writes `<dir>/<name>_<tag>.txt` per query, or prints
  * the plans to stdout when the dir is `-`. Building a streaming (str*)
  * query runs its stream, so explaining one also executes it. The session
  * is [[Bench]]'s (local[$SPARK_GRAFT_CPUS], AQE on, shuffle partitions =
  * 2×cores, tmpfs local dir) so timings are comparable.
  */
object BenchExtra {
  private val Reps = 2
  private val usage =
    "usage: graft.BenchExtra time [query...] | explain <dir> <tag> <query...> | explain - <query...>"

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    System.err.println(usage)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "time"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] = mode match {
      case "time" => args.drop(1).toSeq
      case "explain" if args.length >= 3 && args(1) == "-" => args.drop(2).toSeq
      case "explain" if args.length >= 4 => args.drop(3).toSeq
      case "explain" => fail("explain needs a target and at least one query")
      case other => fail(s"unknown mode $other")
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.mkString(", ")}")
    val queries = if (names.isEmpty) SparkEntry.registry
                  else names.flatMap(n => SparkEntry.registry.find(_.name == n))

    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    mode match {
      case "time" =>
        SparkEntry.streamFixture(spark, sfDir)
        queries.foreach { q =>
          val times = (1 to Reps).map { i =>
            spark.sparkContext.setJobDescription(s"extra:${q.name} rep$i")
            val s0 = System.nanoTime()
            q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - s0) / 1e9
          }
          println(f"EXTRA ${q.name}%-28s cold=${times.head}%8.3f min=${times.min}%8.3f")
        }
      case "explain" =>
        val dir = args(1)
        if (dir != "-") java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        queries.foreach { q =>
          val plan = q.build(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          if (dir == "-") println(s"\n========== ${q.name} ==========\n$plan")
          else {
            val file = java.nio.file.Paths.get(dir, s"${q.name}_${args(2)}.txt")
            java.nio.file.Files.writeString(file, plan)
            println(s"EXPLAIN wrote $file")
          }
        }
    }
    spark.stop()
  }
}
