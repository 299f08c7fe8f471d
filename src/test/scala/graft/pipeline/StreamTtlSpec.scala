package graft.pipeline

import graft.streaming.TranscriptStream

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Bounded-state streaming dedup (`dedupedTriplesTtl`): event-time TTL
  * evicts triple state once the watermark passes last-seen + ttl, and an
  * evicted triple re-emits on its next sighting (the documented
  * past-horizon re-emission contract); within the horizon emission stays
  * exactly-once. File drops + processAllAvailable give one deterministic
  * micro-batch per drop.
  */
class StreamTtlSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("subj", StringType), StructField("pred", StringType),
    StructField("obj", StringType), StructField("ts", TimestampType)))

  test("event-time TTL: eviction past horizon re-emits; within horizon exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    def drop(rows: Seq[(String, String, String, String)]): Unit =
      rows.toDF("subj", "pred", "obj", "ts_s")
        .select($"subj", $"pred", $"obj", to_timestamp($"ts_s").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)

    val x = ("s:x", "p", "o")
    val y = ("s:y", "p", "o")
    val w = ("s:w", "p", "o")

    // first drop must exist before the stream starts (schema inference aside,
    // the first processAllAvailable forms batch 1 from it); X appears twice
    // in the same batch to pin within-batch dedup
    drop(Seq((x._1, x._2, x._3, "2024-01-01 00:00:00"),
             (x._1, x._2, x._3, "2024-01-01 00:00:05")))

    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = TranscriptStream.dedupedTriplesTtl(stream,
      eventTimeCol = "ts", watermarkDelay = "0 seconds",
      ttl = java.time.Duration.ofHours(1))
    val q = out.toDF("subj", "pred", "obj")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_ttl_test").start()
    try {
      q.processAllAvailable() // batch 1: X emitted once; watermark → Jan 1
      drop(Seq((y._1, y._2, y._3, "2024-01-02 00:00:00")))
      q.processAllAvailable() // batch 2: Y emitted; watermark → Jan 2 (past X's ttl)
      drop(Seq((w._1, w._2, w._3, "2024-01-03 00:00:00")))
      q.processAllAvailable() // batch 3: X evicted (timed out), W emitted
      // batch 4: X re-sent past its horizon → re-emitted; W re-sent 30 min
      // after its last sighting (inside ttl) → suppressed
      drop(Seq((x._1, x._2, x._3, "2024-01-04 00:00:00"),
               (w._1, w._2, w._3, "2024-01-03 00:30:00")))
      q.processAllAvailable()
    } finally {
      q.stop()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }

    val counts = spark.table("graft_ttl_test")
      .groupBy("subj").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(counts("s:x") == 2, s"X must re-emit after eviction: $counts")
    assert(counts("s:y") == 1, s"Y seen once, emitted once: $counts")
    assert(counts("s:w") == 1, s"W re-sent within ttl must stay deduped: $counts")
  }
}
