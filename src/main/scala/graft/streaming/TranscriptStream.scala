package graft.streaming

import graft.link.EntityLink
import graft.model.ResolvedTable
import graft.mapper.TripleMapper
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming ingest for the transcript→triple pipeline: new
  * transcript files/partitions stream through the same expression-compiled
  * mapper (the mapper is stateless per row, so it lifts onto a streaming
  * DataFrame unchanged). Windowed per-conversation counts demonstrate
  * watermarked stateful aggregation for pipeline monitoring.
  *
  * The reference is batch-only (SURVEY.md §2.9) — this is the incremental
  * path the north rule's snapshot-resume implies.
  */
object TranscriptStream {

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** File-source streaming read of transcript parquet drops. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(transcriptSchema).parquet(dir)

  /** Source column per transcript CSVW column; `ts` reads the lexical
    * `ts_lex` that [[withTsLex]] adds. */
  val inputs: Map[String, Column] = Map(
    "conv_id" -> col("conv_id"), "turn_idx" -> col("turn_idx"),
    "role" -> col("role"), "text" -> col("text"), "tool" -> col("tool"),
    "ts" -> col("ts_lex"))

  /** Per-row bnode key: (conv_id, turn_idx) is the transcript primary key. */
  val skolem: Column = concat(col("conv_id"), lit("-"), col("turn_idx"))

  /** Adds `ts_lex`, the xsd:dateTime lexical form of `ts`. */
  def withTsLex(df: DataFrame): DataFrame =
    df.withColumn("ts_lex", date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))

  /** Map a (streaming or batch) transcript frame to triples. Row numbering
    * in streaming mode uses turn_idx directly (no window over unbounded
    * input); skolemization is already (conv_id, turn_idx)-deterministic.
    */
  def triples(stream: DataFrame, table: ResolvedTable,
              carryEventTime: Boolean = false,
              minimal: Boolean = true): DataFrame =
    TripleMapper.triples(withTsLex(stream), table, inputs, skolem,
      rownum = col("turn_idx") + 1,
      sourceNum = col("turn_idx") + 1,
      minimal = minimal,
      carry = if (carryEventTime) Seq("ts") else Nil)

  /** Watermarked per-conversation turn counts in 1-minute windows. */
  def turnCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("conv_id"))
      .agg(count(lit(1)).as("turns"))

  /** Streaming mention detection + per-entity windowed counts: the batch
    * entity-link plan ([[EntityLink.mentions]]) lifts onto the
    * stream unchanged — a stateless broadcast-dictionary hash join
    * composes with the watermark and a windowed aggregate, so the only
    * streaming state is the window aggregate's (bounded by the watermark
    * horizon × live entities, never by the corpus). The dictionary hint
    * is a true dictionary — bounded by construction, not by corpus size.
    */
  def mentionCounts(stream: DataFrame, dictionary: DataFrame): DataFrame =
    EntityLink.mentions(stream.withWatermark("ts", "10 minutes"), dictionary, "ts", "text")
      .groupBy(window(col("ts"), "1 minute"), col("entity_id"))
      .agg(count(lit(1)).as("mentions"))

  /** Native bounded-state streaming dedup via Spark's
    * `dropDuplicatesWithinWatermark` — the built-in counterpart of
    * [[dedupedTriplesTtl]], preferred when the horizon you need IS the
    * watermark delay: state for a triple is dropped once the watermark
    * passes its event time + delay, entirely inside the native streaming
    * aggregation (no typed serde, no user state function). Use
    * [[dedupedTriplesTtl]] when the dedup horizon must exceed the lateness
    * bound (TTL and watermark decoupled) or when re-sightings must extend
    * the horizon; use this one otherwise — it is the more
    * whole-stage-friendly plan. Same re-emission contract past the horizon:
    * downstream sinks merge idempotently.
    */
  def dedupedTriplesNative(triples: DataFrame,
                           eventTimeCol: String = "ts",
                           watermarkDelay: String = "10 minutes"): DataFrame =
    triples
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("subj", "pred", "obj")
      .select(col("subj"), col("pred"), col("obj"))

  /** Bounded-state streaming dedup: each distinct (subj, pred, obj) is
    * emitted once, and each triple's state carries an event-time TTL
    * (`EventTimeTimeout`), so the state store holds only triples seen within
    * `ttl` of the watermark — the 100 TB-safe variant.
    *
    * Input must carry an event-time column `eventTimeCol` (use
    * `triples(..., carryEventTime = true)`); `watermarkDelay` is the
    * allowed event-time lateness.
    *
    * Re-emission contract: a triple is emitted once per *horizon window* —
    * if it reappears after the watermark passed its last-seen time + ttl,
    * its state was evicted and it is emitted again. Downstream sinks that
    * need lifetime-exact distinct must merge idempotently (the batch
    * GraphWriter sink dedups on merge, so re-emission is absorbed there);
    * within the horizon, emission is exactly-once.
    */
  def dedupedTriplesTtl(triples: DataFrame,
                        eventTimeCol: String = "ts",
                        watermarkDelay: String = "10 minutes",
                        ttl: java.time.Duration = java.time.Duration.ofDays(7))
      : Dataset[(String, String, String)] = {
    import triples.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ttlMs = ttl.toMillis
    // the watermarked attribute must reach the typed conversion untouched —
    // an alias or cast drops the event-time metadata and the analyzer then
    // rejects EventTimeTimeout
    triples
      .withWatermark(eventTimeCol, watermarkDelay)
      .select(col("subj"), col("pred"), col("obj"), col(eventTimeCol))
      .as[(String, String, String, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2, r._3))
      // NOTE: a `.mapValues(_._4)` here would halve the shuffle payload
      // (the full tuple repeats the key strings), but mapValues rewrites
      // the watermarked attribute and strips its event-time metadata — the
      // analyzer then rejects EventTimeTimeout. The duplicated key strings
      // are the price of the typed TTL API; `dedupedTriplesNative` is the
      // payload-lean variant.
      .flatMapGroupsWithState[Long, (String, String, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, String, String),
         rows: Iterator[(String, String, String, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val firstSeen = !state.exists
            // state = max event time seen for this triple; TTL extends on
            // every re-sight, so "hot" triples stay deduped indefinitely
            val maxEv = rows.map(_._4.getTime)
              .foldLeft(state.getOption.getOrElse(Long.MinValue))(math.max)
            state.update(maxEv)
            // setTimeoutTimestamp must stay ahead of the current watermark
            state.setTimeoutTimestamp(
              math.max(maxEv + ttlMs, state.getCurrentWatermarkMs() + 1))
            if (firstSeen) Iterator.single(key) else Iterator.empty
          }
      }
  }
}
