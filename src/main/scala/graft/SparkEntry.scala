package graft

import graft.functions.{AnnFunctions, DedupFunctions, Mixing, Multimodal, Packing, Sampling, TextFunctions}
import graft.link.{ConnectedComponents, EntityLink}
import graft.materialize.GraphWriter
import graft.mapper.{TripleMapper, Vocab}
import graft.model.{CsvwJson, Resolve, ResolvedTable}
import graft.sources.TranscriptGen
import graft.streaming.TranscriptStream
import graft.validate.Validations

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query suite: one [[SparkEntry.QueryDef]] in `registry` per
  * implemented operator from SURVEY.md §2 (+ the training-data-pipeline
  * operators), each with its DuckDB oracle SQL. Names reference SURVEY §2
  * operator ids.
  */
object SparkEntry {

  // ---------------------------------------------------------------- plumbing

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Named stage-metric accumulators created by driver queries in this
    * JVM (e.g. the m6/m7 audio-decode fallback counts), keyed by metric
    * name. [[Verify]] dumps them to `stage_metrics.json` after the run —
    * the same lineage/metrics surface [[materialize.GraphWriter]]'s stage
    * manifest gives the g1 pipeline — so a 100 TB run can tell "all real
    * samples decoded" from "everything fell back" without re-reading data.
    */
  val stageMetrics = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.util.LongAccumulator]

  private def metricAcc(s: SparkSession, name: String) = {
    val acc = s.sparkContext.longAccumulator(name)
    stageMetrics.put(name, acc)
    acc
  }

  /** The FIXTURES.md §2.2 "full mapping" over the transcript shape. */
  private val transcriptMappingJson = """{
    "url": "http://example.org/transcripts",
    "tableSchema": {
      "aboutUrl": "urn:conv:{conv_id}/turn/{turn_idx}",
      "propertyUrl": "https://example.org/transcript#{_name}",
      "primaryKey": ["conv_id", "turn_idx"],
      "rowTitles": ["text"],
      "columns": [
        {"name": "conv_id", "datatype": "string"},
        {"name": "turn_idx", "datatype": "integer"},
        {"name": "role", "datatype": "string"},
        {"name": "text", "datatype": "string"},
        {"name": "tool", "datatype": "string", "null": [""]},
        {"name": "ts", "datatype": {"base": "dateTime"}}
      ]
    }
  }"""
  lazy val transcriptTable: ResolvedTable =
    Resolve.group(CsvwJson.parseTableGroup(transcriptMappingJson)).head

  /** Transcript-shaped rows derived deterministically from `events`
    * (SQL-replicable in the oracle — [[TranscriptGen.fromEventsSql]]).
    */
  private def transcripts(s: SparkSession, dir: String): DataFrame =
    TranscriptGen.fromEvents(s, dir)

  // ---- planted-pair fixtures (judge r1: recall-verifiable dedup oracles).
  // Copies are planted at id + PlantOffset with deterministic,
  // SQL-replicable mutations, so DuckDB can reconstruct either the planted
  // list (text dedup) or the exact brute-force answer (embeddings).

  private val PlantOffset = 100000L

  private def plantedBaseDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))

  /** planted pairs × whether the detector surfaced them. */
  private def plantedRecall(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + PlantOffset).as("id_b"))
      .join(pairs.select(col("id_a"), col("id_b"), lit(true).as("found")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("found"), lit(false)).as("found"))

  // native array cast, NOT transform(x => x.cast(...)): the HOF lambda has
  // no codegen and collapses into the same Project as the downstream sketch
  // expressions, silently interpreting the whole projection
  private def embeddingsDouble(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))

  /** Near-copy with a deterministic per-dimension perturbation
    * (±0.006 max on unit vectors → cosine ≥ 0.999); the arithmetic is
    * bit-replicable in DuckDB (`list_transform` with the same double ops).
    */
  private def perturbedCopies(base: DataFrame): DataFrame =
    base
      // perturb first, re-key second: in one select the analyzer's lateral
      // column alias resolution binds the lambda's vec_id to the *new*
      // (offset) alias, silently changing the perturbation
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + ((col("vec_id") * 31 + i.cast("long")) % 7 - 3).cast("double") * lit(0.002))
          .as("embedding"))
      .select((col("vec_id") + PlantOffset).as("vec_id"), col("embedding"))

  /** A streaming query's state-partition count is frozen into its first
    * checkpoint by `spark.sql.shuffle.partitions` at start — so it must be
    * sized to the PLANNED key cardinality, not inherited from the batch
    * default. These config-scale fixtures carry ~thousands of keys: 8
    * partitions cuts per-microbatch store-commit overhead ~25% vs 32; a
    * 100 TB deployment sizes UP instead (and cannot change it without a new
    * checkpoint). Batch conf restored on exit; queries run sequentially.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val old = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n)
    try body finally s.conf.set("spark.sql.shuffle.partitions", old)
  }

  /** Disable no-data microbatches for the driver's finite streaming legs
    * (round 9): after the single data batch drains, Spark schedules one
    * more empty batch purely to advance the watermark and evict state —
    * for these queries that is a full state-store iteration + commit (str2:
    * ~0.5M keys) and, in complete mode, a full re-emit of the unchanged
    * result table, all immediately before the query stops. Every output
    * row of all four streaming queries is emitted in the data batch
    * (append-mode dedup emits first-sightings in-batch; complete mode
    * re-emits the whole table each batch), so the sink contents are
    * byte-identical with the cleanup batch skipped. A long-running ingest
    * keeps the default: there the no-data batch IS the eviction mechanism
    * between lulls (`StreamTtlSpec` proves that machinery with the default
    * conf). Conf restored on exit; queries run sequentially.
    */
  private def withNoDataBatchesOff[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Streaming state checkpoints go to tmpfs when available: the HDFS-backed
    * state store fsyncs a delta file per partition per microbatch, so on a
    * slow/contended VM disk the checkpoint — not the stream — dominates the
    * measurement. Production guidance is the same: state checkpoints belong
    * on fast storage. The dir is deleted when the query finishes.
    */
  private def withStreamCheckpoint[T](body: String => T): T = {
    val base =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(base, "graft_ckpt")
    try body(dir.toString) finally FileUtils.deleteDirectory(dir.toFile)
  }

  /** A temp dir that a returned (lazy) DataFrame still reads from: it lives
    * until the JVM exits. */
  private def tempDirUntilExit(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** Runs a suite query's finite `stream` to completion into the memory sink
    * `name` — no-data batches off, `statePartitions` state partitions,
    * tmpfs checkpoint — and returns that sink's table.
    */
  private def drainToMemory(s: SparkSession, name: String, outputMode: String,
                            statePartitions: Int)(stream: => DataFrame): DataFrame = {
    withNoDataBatchesOff(s) { withStatePartitions(s, statePartitions) {
      withStreamCheckpoint { ckpt =>
        val q = stream.writeStream.outputMode(outputMode).format("memory")
          .option("checkpointLocation", ckpt)
          .queryName(name).start()
        // finally: a failure mid-stream must still stop the query BEFORE
        // withStreamCheckpoint deletes the live checkpoint dir under it
        try q.processAllAvailable() finally {
          q.stop()
          // the StateStore maintenance thread outlives the query and logs
          // a stack trace against a stopped SparkEnv in shared-JVM
          // harnesses
          org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        }
      }
    } }
    s.table(name)
  }

  private val streamFixtureCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Parquet snapshot of the transcript corpus for the streaming query,
    * memoized per sf dir so the (timed) query lambda doesn't pay the write —
    * benchmarks call this ahead of timing.
    */
  def streamFixture(s: SparkSession, d: String): String =
    streamFixtureCache.getOrElseUpdate(d, {
      val tmp = tempDirUntilExit("graft_stream").toString
      transcripts(s, d).write.mode("overwrite").parquet(tmp)
      tmp
    })

  /** Minimal-mode transcript triples (T1/F9/F2 pipeline). */
  def transcriptTriples(s: SparkSession, dir: String, minimal: Boolean): DataFrame = {
    val rows = TranscriptStream.triples(transcripts(s, dir), transcriptTable,
      minimal = minimal)
    if (minimal) rows
    else {
      import s.implicits._
      rows.unionByName(TripleMapper.boilerplate(transcriptTable).toDF(
        "subj", "pred", "obj", "obj_iri", "lang", "dtype"))
    }
  }

  private val P = "https://example.org/transcript#"
  private val X = "http://www.w3.org/2001/XMLSchema#"

  /** Oracle CTE prefix shared by transcript queries. */
  private def trCte = s"WITH ${TranscriptGen.fromEventsSql}"

  /** Oracle SQL equivalent of the minimal-mode transcript triples. */
  private val minimalTriplesSelect: String = {
    def sel(pred: String, obj: String, dtype: String, extra: String = "") =
      s"""SELECT 'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
         |  '$P$pred' AS pred, $obj AS obj, FALSE AS obj_iri,
         |  CAST(NULL AS VARCHAR) AS lang, $dtype AS dtype FROM transcripts $extra""".stripMargin
    Seq(
      sel("conv_id", "conv_id", "CAST(NULL AS VARCHAR)"),
      sel("turn_idx", "CAST(turn_idx AS VARCHAR)", s"'${X}integer'"),
      sel("role", "role", "CAST(NULL AS VARCHAR)"),
      sel("text", "text", "CAST(NULL AS VARCHAR)"),
      sel("tool", "tool", "CAST(NULL AS VARCHAR)", "WHERE tool <> ''"),
      sel("ts", "strftime(ts, '%Y-%m-%dT%H:%M:%S')", s"'${X}dateTime'")
    ).mkString("\n UNION ALL \n")
  }

  // -------------------------------------------------------------- oracle SQL

  /** Shared PQ oracle chain (s4/s5): subspace-partitioned Lloyd training,
    * corpus encoding, query LUT, and per-(query, neighbor) ADC scores. */
  private val pqChainCtes: String =
        """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |cp AS (SELECT vec_id + 100000 AS cvid,
          |         list_transform(v, (x, i) ->
          |           x + ((vec_id * 31 + (i - 1)) % 7 - 3) * CAST(0.002 AS DOUBLE)) AS v
          |       FROM base),
          |corpus AS (SELECT vec_id, v FROM base UNION ALL SELECT cvid AS vec_id, v FROM cp),
          |subsp(s) AS (VALUES (0), (1)),
          |bsub AS (SELECT s, vec_id, v[s*32+1 : s*32+32] AS sv FROM base CROSS JOIN subsp),
          |csub AS (SELECT s, vec_id, v[s*32+1 : s*32+32] AS sv FROM corpus CROSS JOIN subsp),
          |cent0 AS (
          |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cell, sv AS cv
          |  FROM bsub WHERE vec_id IN (SELECT vec_id FROM base ORDER BY vec_id LIMIT 16)),
          |asg1 AS (
          |  SELECT s, vec_id, sv, cell FROM (
          |    SELECT b.s, b.vec_id, b.sv, c.cell,
          |      row_number() OVER (PARTITION BY b.s, b.vec_id
          |        ORDER BY list_cosine_similarity(b.sv, c.cv) DESC, c.cell) AS rn
          |    FROM bsub b JOIN cent0 c ON b.s = c.s) WHERE rn = 1),
          |m1 AS (
          |  SELECT s, cell, list(m ORDER BY dim) AS cv FROM (
          |    SELECT s, cell, dim, avg(x) AS m FROM (
          |      SELECT s, cell, unnest(sv) AS x, generate_subscripts(sv, 1) AS dim
          |      FROM asg1) GROUP BY s, cell, dim) GROUP BY s, cell),
          |cent1 AS (SELECT c0.s, c0.cell, coalesce(m1.cv, c0.cv) AS cv
          |          FROM cent0 c0 LEFT JOIN m1 ON c0.s = m1.s AND c0.cell = m1.cell),
          |asg2 AS (
          |  SELECT s, vec_id, sv, cell FROM (
          |    SELECT b.s, b.vec_id, b.sv, c.cell,
          |      row_number() OVER (PARTITION BY b.s, b.vec_id
          |        ORDER BY list_cosine_similarity(b.sv, c.cv) DESC, c.cell) AS rn
          |    FROM bsub b JOIN cent1 c ON b.s = c.s) WHERE rn = 1),
          |m2 AS (
          |  SELECT s, cell, list(m ORDER BY dim) AS cv FROM (
          |    SELECT s, cell, dim, avg(x) AS m FROM (
          |      SELECT s, cell, unnest(sv) AS x, generate_subscripts(sv, 1) AS dim
          |      FROM asg2) GROUP BY s, cell, dim) GROUP BY s, cell),
          |cent AS (SELECT c1.s, c1.cell, coalesce(m2.cv, c1.cv) AS cv
          |         FROM cent1 c1 LEFT JOIN m2 ON c1.s = m2.s AND c1.cell = m2.cell),
          |codes AS (
          |  SELECT s, vec_id, cell FROM (
          |    SELECT cs.s, cs.vec_id, ct.cell,
          |      row_number() OVER (PARTITION BY cs.s, cs.vec_id
          |        ORDER BY list_cosine_similarity(cs.sv, ct.cv) DESC, ct.cell) AS rn
          |    FROM csub cs JOIN cent ct ON cs.s = ct.s) WHERE rn = 1),
          |lut AS (
          |  SELECT q.vec_id AS query_id, ct.s, ct.cell,
          |    list_cosine_similarity(q.sv, ct.cv) AS sim
          |  FROM (SELECT * FROM bsub WHERE vec_id < 10) q JOIN cent ct ON q.s = ct.s),
          |score AS (
          |  SELECT l.query_id, c.vec_id AS neighbor_id, round(sum(l.sim), 4) AS adc
          |  FROM codes c JOIN lut l ON c.s = l.s AND c.cell = l.cell
          |  WHERE l.query_id <> c.vec_id
          |  GROUP BY l.query_id, c.vec_id)""".stripMargin

  // ------------------------------------------------------------------ entry

  /** Flagship: the full KG construction slice on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    transcriptTriples(spark, "/root/testdata/sf0.001", minimal = true)

  // ---------------------------------------------------------------- queries

  /** One suite query: its name, its Spark build over an sf dir, and the
    * DuckDB SQL whose result it must equal (the oracle the checker runs
    * against `Verify`'s parquet dump). */
  final case class QueryDef(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracleSql: String)

  /** Every suite query, slowest/most-important families first and the
    * (window-sensitive, slowest) streaming queries last. Lazy:
    * the oracle strings read `trCte`, `minimalTriplesSelect` and
    * `pqChainCtes`.
    */
  lazy val registry: Seq[QueryDef] = unique(Seq(
    // ---- KG construction (T1-T3, F2, F9, W1)
    QueryDef("t1_triples_minimal", (s, d) => transcriptTriples(s, d, minimal = true),
      s"$trCte\n$minimalTriplesSelect"),

    QueryDef("t2_rdf_list", (s, d) => {
      // ordered list over first-3-token tags of documents (T2)
      val json = """{
        "url": "http://example.org/docs",
        "tableSchema": {
          "aboutUrl": "urn:doc:{doc_id}",
          "columns": [
            {"name": "doc_id", "datatype": "string", "suppressOutput": true},
            {"name": "tags", "separator": ";", "ordered": true, "datatype": "string"}
          ]
        }
      }"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      val docs = t(s, d, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        concat_ws(";", slice(split(col("text"), " "), 1, 3)).as("tags"))
      TripleMapper.triples(docs, tbl,
        Map("doc_id" -> col("doc_id"), "tags" -> col("tags")),
        skolem = col("doc_id"), rownum = col("doc_id"), sourceNum = col("doc_id"))
    }, {
      val R = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      s"""WITH toks AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS id,
         |    list_slice(string_split(text, ' '), 1, 3) AS tags
         |  FROM documents)
         |SELECT 'urn:doc:' || id AS subj, 'http://example.org/docs#tags' AS pred,
         |  '_:l' || id || '.tags.0' AS obj, TRUE AS obj_iri,
         |  CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype FROM toks
         | UNION ALL
         |SELECT '_:l' || id || '.tags.' || CAST(i - 1 AS VARCHAR), '${R}first',
         |  tags[i], FALSE, NULL, NULL
         |FROM toks, generate_series(1, 3) AS g(i)
         | UNION ALL
         |SELECT '_:l' || id || '.tags.' || CAST(i - 1 AS VARCHAR), '${R}rest',
         |  CASE WHEN i = 3 THEN '${R}nil' ELSE '_:l' || id || '.tags.' || CAST(i AS VARCHAR) END,
         |  TRUE, NULL, NULL
         |FROM toks, generate_series(1, 3) AS g(i)""".stripMargin
    }),

    QueryDef("t3_triples_standard", (s, d) => transcriptTriples(s, d, minimal = false), {
      val C = "http://www.w3.org/ns/csvw#"
      val R = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      s"""$trCte, rowres AS (
         |  SELECT conv_id, turn_idx, text,
         |    '_:r' || conv_id || '-' || CAST(turn_idx AS VARCHAR) AS rr,
         |    'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS about
         |  FROM transcripts)
         |$minimalTriplesSelect
         | UNION ALL
         |SELECT '_:table1', '${C}row', rr, TRUE, NULL, NULL FROM rowres
         | UNION ALL
         |SELECT rr, '${C}title', text, FALSE, NULL, NULL FROM rowres
         | UNION ALL
         |SELECT rr, '${C}rownum', CAST(turn_idx + 1 AS VARCHAR), FALSE, NULL, '${X}integer' FROM rowres
         | UNION ALL
         |SELECT rr, '${R}type', '${C}Row', TRUE, NULL, NULL FROM rowres
         | UNION ALL
         |SELECT rr, '${C}url', 'http://example.org/transcripts#row=' || CAST(turn_idx + 1 AS VARCHAR), TRUE, NULL, NULL FROM rowres
         | UNION ALL
         |SELECT rr, '${C}describes', about, TRUE, NULL, NULL FROM rowres
         | UNION ALL
         |SELECT '_:tg', '${R}type', '${C}TableGroup', TRUE, NULL, NULL
         | UNION ALL
         |SELECT '_:tg', '${C}table', '_:table1', TRUE, NULL, NULL
         | UNION ALL
         |SELECT '_:table1', '${R}type', '${C}Table', TRUE, NULL, NULL
         | UNION ALL
         |SELECT '_:table1', '${C}url', 'http://example.org/transcripts', TRUE, NULL, NULL""".stripMargin
    }),

    // ---- graph stages (materialize, canonicalize), both through the sink rule
    QueryDef("g1_graph_materialize", (s, d) =>
      GraphWriter.sink(transcriptTriples(s, d, minimal = true)),
      s"$trCte SELECT DISTINCT * FROM (\n$minimalTriplesSelect\n)"),

    // the north-star composition end-to-end: transcript triples → mention
    // detection (broadcast dict) → STAR candidate edges (Σk, not Σk² — hot
    // entities stay linear) → connected components → subjects
    // rewritten to their component's canonical (lexicographic-min) URN →
    // the sink's one dedup. Each transcript text '{"k": N}' holds exactly
    // ONE number token, so a turn links to at most one entity and the
    // components are exactly the per-surface mention groups — which is what
    // lets the oracle state the canonical map in closed form (min URN per
    // surface) while the Spark side still runs the generic ConnectedComponents
    QueryDef("g2_graph_canonicalize", (s, d) => {
      import s.implicits._
      val dict = Seq(("e_13", "13"), ("e_42", "42"), ("e_87", "87"),
        ("e_55", "55"), ("e_29", "29")).toDF("entity_id", "surface")
      val tr = transcripts(s, d).withColumn("subj_key",
        concat(lit("urn:conv:"), col("conv_id"), lit("/turn/"),
          col("turn_idx").cast("string")))
      val m = EntityLink.mentions(tr, dict, "subj_key", "text")
      val edges = EntityLink.starEdges(m, "subj_key")
      val comp = withStatePartitions(s, 8) { ConnectedComponents.run(s, edges) }
      GraphWriter.sink(
        EntityLink.canonicalizeSubjects(transcriptTriples(s, d, minimal = true), comp))
    },
      // closed-form canonical map: each transcript text '{"k": N}' holds one
      // number token, so a turn mentions at most one dict surface and the
      // generic CC result equals "lexicographic-min URN per surface" — the
      // same min the Spark side's component labels carry. Both engines
      // compare URN strings binary/ASCII, so min() agrees.
      s"""$trCte,
         |t AS (
         |$minimalTriplesSelect
         |),
         |m AS (
         |  SELECT DISTINCT
         |    'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj_key,
         |    tok
         |  FROM (SELECT conv_id, turn_idx,
         |          unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |        FROM transcripts)
         |  WHERE length(tok) > 1 AND tok IN ('13','42','87','55','29')),
         |canon AS (
         |  SELECT subj_key, min(subj_key) OVER (PARTITION BY tok) AS canon
         |  FROM m)
         |SELECT DISTINCT coalesce(c.canon, t.subj) AS subj, t.pred, t.obj,
         |  t.obj_iri, t.lang, t.dtype
         |FROM t LEFT JOIN canon c ON t.subj = c.subj_key""".stripMargin),

    // ---- generic relational coverage (S1 scan, A*, J*, W1, sorts)
    // sums stay double and are rounded to a scale coarse enough (2) that the
    // engines' summation-order ulp noise (~1e-9 relative) can't cross a
    // rounding boundary — cast-to-decimal rounded differently at the ulp
    // between Spark and DuckDB and broke hash-exactness in round 1
    QueryDef("q1_agg", (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    QueryDef("q2_join_broadcast", (s, d) => t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
           count(lit(1)).as("n_orders")),
      """SELECT c_mktsegment,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    QueryDef("q3_window", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // RANGE frame: (l_orderkey, l_linenumber) is not unique in the
      // synthetic data, so a ROWS frame would be tie-order-ambiguous
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy((col("l_orderkey") * 10 + col("l_linenumber")).as("ok"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
    },
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_orderkey * 10 + l_linenumber
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM lineitem""".stripMargin),

    QueryDef("q4_sort_limit", (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20),
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin),

    // ---- salted aggregation over the skewed conversation key (skew control)
    QueryDef("k1_salted_agg", (s, d) =>
      graft.materialize.Salting.saltedCount(
        transcripts(s, d), col("conv_id"), concat(col("conv_id"), col("turn_idx")), 8),
      s"""$trCte
         |SELECT conv_id AS key, count(*) AS cnt FROM transcripts GROUP BY conv_id""".stripMargin),

    // ---- entity linking (J3, J4)
    QueryDef("j3_entity_link", (s, d) => {
      import s.implicits._
      val dict = Seq(
        ("e_customer", "customer"), ("e_order", "order"), ("e_part", "part"),
        ("e_line", "line"), ("e_spark", "spark")).toDF("entity_id", "surface")
      EntityLink.mentions(t(s, d, "documents"), dict, "doc_id", "text")
        .select(col("doc_id"), col("mention"), col("entity_id")).dropDuplicates()
    },
      """WITH dict(entity_id, surface) AS (VALUES
        |  ('e_customer','customer'),('e_order','order'),('e_part','part'),
        |  ('e_line','line'),('e_spark','spark')),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents)
        |SELECT DISTINCT doc_id, tok AS mention, entity_id
        |FROM toks JOIN dict ON tok = surface WHERE length(tok) > 1""".stripMargin),

    QueryDef("j4_connected_components", (s, d) => {
      import s.implicits._
      val dict = Seq(("e_vector", "vector"), ("e_stream", "stream"), ("e_merge", "merge"))
        .toDF("entity_id", "surface")
      val docs = t(s, d, "documents").filter(col("doc_id") < 60)
      val m = EntityLink.mentions(docs, dict, "doc_id", "text")
        .select(col("doc_id").cast("string").as("doc_id"), col("entity_id"))
      // the oracle links every pair of co-mentioning docs, so it checks
      // that star edges give the same components as all pairs
      val edges = EntityLink.starEdges(m, "doc_id")
      // tiny graph: size CC's shuffles (the edge dedup, and the rounds of
      // a graph too big for the driver) to the component count, not the
      // batch default (same sizing note as the streaming state partitions)
      withStatePartitions(s, 8) { ConnectedComponents.run(s, edges) }
    },
      """WITH RECURSIVE dict(entity_id, surface) AS (VALUES
        |  ('e_vector','vector'),('e_stream','stream'),('e_merge','merge')),
        |toks AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents WHERE doc_id < 60),
        |m AS (SELECT DISTINCT id, entity_id FROM toks JOIN dict ON tok = surface WHERE length(tok) > 1),
        |e0 AS (SELECT a.id AS src, b.id AS dst FROM m a JOIN m b USING (entity_id) WHERE a.id < b.id),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT src AS a, dst AS b FROM edges
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        |)
        |SELECT id, least(id, min(b)) AS component
        |FROM nodes LEFT JOIN reach r ON r.a = id
        |GROUP BY id""".stripMargin),

    // ---- dedup suite (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding)
    QueryDef("d1_dedup_exact", (s, d) =>
      t(s, d, "events")
        .select(col("event_id"), md5(regexp_replace(lower(trim(col("props"))), "\\s+", " ")).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("dup_count"), min("event_id").as("keeper_id"))
        .filter(col("dup_count") > 1),
      """SELECT md5(regexp_replace(lower(trim(props)), '\s+', ' ', 'g')) AS fp,
        |  count(*) AS dup_count, min(event_id) AS keeper_id
        |FROM events GROUP BY 1 HAVING count(*) > 1""".stripMargin),

    // planted-pair recall oracle (round 1): copies of every 5th document are
    // planted at doc_id + PLANT_OFFSET with a one-token append — 3-gram
    // Jaccard (n−2)/(n−1) ≥ 0.88 at the shortest docs, so every planted pair
    // must surface through the band join. Output = planted pairs × found.
    QueryDef("d2_minhash_lsh", (s, d) => {
      val docs = plantedBaseDocs(s, d)
      val copies = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"),
                concat(col("text"), lit(" zq")).as("text"))
      val pairs = DedupFunctions.minhashDupPairs(docs.unionByName(copies),
        "doc_id", "text", bands = 8, rowsPerBand = 4, threshold = 0.5)
      plantedRecall(docs, pairs)
    },
      // planted-pair recall oracles (d2/d3): the mutation is SQL-invisible —
      // the oracle asserts every planted copy is detected
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        |  CAST(doc_id + 100000 AS BIGINT) AS id_b, TRUE AS found
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin),

    // normalization-only mutation (case/whitespace/punctuation): tokens() is
    // invariant to it, so the copy's simhash is bit-identical — recall at the
    // requested radius is *guaranteed* by the pigeonhole blocking (the
    // radius-8 chunk bug from round 1 is exercised and spec-proven against
    // brute force in DedupFunctionsSpec).
    QueryDef("d3_simhash", (s, d) => {
      val docs = plantedBaseDocs(s, d)
      val copies = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"),
                concat(lit("  "), upper(col("text")), lit(" !?")).as("text"))
      val pairs = DedupFunctions.simhashDupPairs(docs.unionByName(copies),
        "doc_id", "text", maxHamming = 8)
      plantedRecall(docs, pairs)
    },
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        |  CAST(doc_id + 100000 AS BIGINT) AS id_b, TRUE AS found
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin),

    QueryDef("d4_ngram_jaccard", (s, d) =>
      DedupFunctions.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.12),
      """WITH toks AS (
        |  SELECT doc_id, t.tok, t.pos FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS tok,
        |      generate_subscripts(string_split_regex(lower(text), '[^a-z0-9'']+'), 1) AS pos
        |    FROM documents) t(doc_id, tok, pos) WHERE length(tok) > 0),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |              JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        |WHERE i / (na.n + nb.n - i) >= 0.12""".stripMargin),

    // the 100 TB configuration for low-threshold Jaccard: candidate
    // generation only over shingles with document frequency ≤ 32 (bucket
    // joins bounded at cap² pairs per shingle — no stop-shingle k²), exact
    // verify over full shingle sets. Deterministic: the DuckDB oracle
    // replicates the cap rule exactly, so this drives the capped PLAN, not
    // just the capped API
    QueryDef("d4_jaccard_capped", (s, d) =>
      DedupFunctions.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.12, dfCap = Some(32L)),
      // same shingling; candidates restricted to pairs sharing a shingle with
      // document frequency <= 32 (the exact rule the capped Spark plan uses),
      // then exact Jaccard over full shingle sets of the candidates. The
      // length filter inside the Spark join is recall-lossless (J >= t forces
      // min >= t*max), so the oracle needs only the cap rule + final filter.
      """WITH toks AS (
        |  SELECT doc_id, t.tok, t.pos FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS tok,
        |      generate_subscripts(string_split_regex(lower(text), '[^a-z0-9'']+'), 1) AS pos
        |    FROM documents) t(doc_id, tok, pos) WHERE length(tok) > 0),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |              JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  JOIN dfreq f ON f.shingle = x.shingle
        |  WHERE f.df <= 32),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS i
        |  FROM cand c
        |  JOIN sh x ON x.doc_id = c.id_a
        |  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        |WHERE i / (na.n + nb.n - i) >= 0.12""".stripMargin),

    // exact DuckDB oracle: the corpus (originals + SQL-replicable perturbed
    // copies) is brute-forced all-pairs in DuckDB, so the LSH blocking must
    // achieve 100% recall on it — organic pairs max out at cosine ~0.51, so
    // the detected set is exactly the planted copies (cosine ≥ 0.999)
    QueryDef("d5_embedding_dup", (s, d) => {
      val base = embeddingsDouble(s, d)
      val copies = perturbedCopies(base.filter(col("vec_id") % 5 === 0))
      // tables=2 OR-amplifies blocking recall to ~0.996 at the 0.93
      // threshold (AnnFunctions.sketchRecall(0.93, 8, 2, 2))
      DedupFunctions.embeddingDupPairs(base.unionByName(copies),
        "vec_id", "embedding", threshold = 0.93, tables = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    },
      // exact brute-force oracle over originals + SQL-reconstructed copies
      // (NB DuckDB lambda index is 1-based; Spark transform's is 0-based)
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cp AS (SELECT vec_id + 100000 AS cvid,
        |         list_transform(v, (x, i) ->
        |           x + ((vec_id * 31 + (i - 1)) % 7 - 3) * CAST(0.002 AS DOUBLE)) AS v
        |       FROM base WHERE vec_id % 5 = 0),
        |corpus AS (SELECT vec_id, v FROM base UNION ALL SELECT cvid AS vec_id, v FROM cp)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.93""".stripMargin),

    // fuzzy-dedup clustering (keep-one-per-cluster): every 7th document gets
    // TWO one-token-suffix copies, so each planted chain {id, id+OFF, id+2·OFF}
    // must collapse into ONE component with the original as canonical
    // (min id). The corpus is originals + copies only, so the oracle can
    // state the exact cluster table; both copy pairs carry the same
    // (n−2)/(n−1) ≥ 0.88 Jaccard guarantee as d2's planted pairs.
    QueryDef("d6_dup_clusters", (s, d) => {
      val originals = plantedBaseDocs(s, d).filter(col("doc_id") % 7 === 0)
      val c1 = originals.select((col("doc_id") + PlantOffset).as("doc_id"),
        concat(col("text"), lit(" zq")).as("text"))
      val c2 = originals.select((col("doc_id") + 2 * PlantOffset).as("doc_id"),
        concat(col("text"), lit(" zr")).as("text"))
      DedupFunctions.dupClusters(s, originals.unionByName(c1).unionByName(c2),
        "doc_id", "text", bands = 8, rowsPerBand = 4, threshold = 0.5)
    },
      // the corpus is originals (%7) + two planted copies each, so the exact
      // cluster table is: one 3-member cluster per original, canonical = the
      // original, copies kept = false
      """WITH orig AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id % 7 = 0),
        |mem AS (
        |  SELECT id AS member, id AS cluster_id FROM orig
        |  UNION ALL SELECT id + 100000 AS member, id AS cluster_id FROM orig
        |  UNION ALL SELECT id + 200000 AS member, id AS cluster_id FROM orig)
        |SELECT member, cluster_id, CAST(3 AS BIGINT) AS cluster_size,
        |  (member = cluster_id) AS keep
        |FROM mem""".stripMargin),

    // SemDeDup-style semantic dedup: k-means cells from the SAME trained
    // codebook contract as s3 (k=16, 2 Lloyd rounds, lowest-id init over
    // the base table), corpus = originals + planted %5 near-copies; a
    // vector drops when a lower-id >= 0.95-cosine mate is OWNED by any of
    // its top-2 probe cells (nprobe=2 closes the cell-boundary-straddler
    // miss mode — measured 0.9775 → 1.0 drop rate, OrganicRecallSpec). The
    // DuckDB oracle replays training, top-2 probe assignment, the pair
    // sweep, and the keep flags — full algorithm parity
    QueryDef("d7_semantic_dedup", (s, d) => {
      val base = embeddingsDouble(s, d)
      val corpus = base.unionByName(perturbedCopies(base.filter(col("vec_id") % 5 === 0)))
      val centroids = AnnFunctions.trainCodebook(base, "vec_id", "embedding",
        k = 16, iters = 2)
      DedupFunctions.semanticDupFlags(corpus, "vec_id", "embedding",
        centroids, threshold = 0.95, nprobe = 2)
    },
      // full SemDeDup parity: the same two unrolled Lloyd rounds as the s3
      // oracle (trained on base, lowest-16-id init via ORDER BY/LIMIT — the
      // same "k lowest ids" definition trainCodebook uses, robust to id
      // gaps), corpus = base + %5 perturbed copies, primary ownership +
      // top-2 probe assignment, pair sweep at cosine >= 0.95, keep = no
      // lower-id owner above threshold in any probe cell
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cp AS (SELECT vec_id + 100000 AS cvid,
        |         list_transform(v, (x, i) ->
        |           x + ((vec_id * 31 + (i - 1)) % 7 - 3) * CAST(0.002 AS DOUBLE)) AS v
        |       FROM base WHERE vec_id % 5 = 0),
        |corpus AS (SELECT vec_id, v FROM base UNION ALL SELECT cvid AS vec_id, v FROM cp),
        |cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        |          FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT 16)),
        |asg1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT b.vec_id, b.v, c.cell,
        |      row_number() OVER (PARTITION BY b.vec_id
        |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cell) AS rn
        |    FROM base b CROSS JOIN cent0 c) WHERE rn = 1),
        |m1 AS (
        |  SELECT cell, list(m ORDER BY dim) AS cv FROM (
        |    SELECT cell, dim, avg(x) AS m FROM (
        |      SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim
        |      FROM asg1) GROUP BY cell, dim) GROUP BY cell),
        |cent1 AS (SELECT c0.cell, coalesce(m1.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN m1 USING (cell)),
        |asg2 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT b.vec_id, b.v, c.cell,
        |      row_number() OVER (PARTITION BY b.vec_id
        |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cell) AS rn
        |    FROM base b CROSS JOIN cent1 c) WHERE rn = 1),
        |m2 AS (
        |  SELECT cell, list(m ORDER BY dim) AS cv FROM (
        |    SELECT cell, dim, avg(x) AS m FROM (
        |      SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim
        |      FROM asg2) GROUP BY cell, dim) GROUP BY cell),
        |cent AS (SELECT c1.cell, coalesce(m2.cv, c1.cv) AS cv
        |         FROM cent1 c1 LEFT JOIN m2 USING (cell)),
        |ranked AS (
        |  SELECT c.vec_id, c.v, ct.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |  FROM corpus c CROSS JOIN cent ct),
        |ccell AS (SELECT vec_id, v, cell FROM ranked WHERE rn = 1),
        |probe AS (SELECT vec_id, v, cell FROM ranked WHERE rn <= 2),
        |drops AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM ccell a JOIN probe b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.95)
        |SELECT c.vec_id, CAST(c.cell AS INT) AS cell, (d.vec_id IS NULL) AS keep
        |FROM ccell c LEFT JOIN drops d ON c.vec_id = d.vec_id""".stripMargin),

    // ---- similarity search (brute-force + LSH)
    QueryDef("s1_ann_topk", (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      AnnFunctions.bruteForceTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
    },
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |scored AS (
        |  SELECT q.query_id, c.neighbor_id,
        |    list_cosine_similarity(q.e, c.e) AS cos
        |  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
        |FROM ranked WHERE rank <= 5""".stripMargin),

    // exact DuckDB oracle: every query's true nearest neighbor over the
    // (originals + planted near-copies) corpus is its own copy at cosine
    // ≥ 0.999 (next-best organic ≤ 0.52), DuckDB brute-forces the true
    // top-1, and the LSH path must find it through the bucket probes
    QueryDef("s2_ann_lsh", (s, d) => {
      val base = embeddingsDouble(s, d)
      val corpus = base.unionByName(perturbedCopies(base))
      AnnFunctions.lshTopK(base.filter(col("vec_id") < 10), corpus,
          "vec_id", "vec_id", "embedding", k = 5, tables = 2)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
    },
      // exact brute-force top-1 over originals + copies: LSH must find it
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cp AS (SELECT vec_id + 100000 AS cvid,
        |         list_transform(v, (x, i) ->
        |           x + ((vec_id * 31 + (i - 1)) % 7 - 3) * CAST(0.002 AS DOUBLE)) AS v
        |       FROM base),
        |corpus AS (SELECT vec_id, v FROM base UNION ALL SELECT cvid AS vec_id, v FROM cp),
        |q AS (SELECT vec_id AS query_id, v FROM base WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM q CROSS JOIN corpus c WHERE q.query_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cosine
        |FROM ranked WHERE rn = 1""".stripMargin),

    // IVF ANN with a TRAINED codebook: deterministic Lloyd k-means (k=16,
    // 2 rounds, init = the 16 lowest-id base vectors — all part of the
    // query contract) over the base table, then corpus assigned to nearest
    // cells map-side and queries probing their 3 nearest cells. The DuckDB
    // oracle replicates the FULL pipeline — both unrolled training rounds
    // (assignment + per-dimension mean) AND the probe/re-rank — so this
    // checks exact algorithm parity, not just rows; IvfSpec separately
    // asserts planted-pair recall vs brute force.
    QueryDef("s3_ann_ivf", (s, d) => {
      val base = embeddingsDouble(s, d)
      val corpus = base.unionByName(perturbedCopies(base))
      val centroids = AnnFunctions.trainCodebook(base, "vec_id", "embedding",
        k = 16, iters = 2)
      AnnFunctions.ivfTopK(base.filter(col("vec_id") < 10), corpus,
          "vec_id", "vec_id", "embedding", k = 5, centroids, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    },
      // full IVF replica INCLUDING the trained codebook: init = 16 lowest-id
      // base vectors, two unrolled Lloyd rounds (nearest-centroid assignment
      // with cosine-desc/index-asc tie-break, then per-dimension mean; empty
      // cells keep the previous centroid), then the same 3-cell probes and
      // in-cell top-5 re-rank the Spark plan runs
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cp AS (SELECT vec_id + 100000 AS cvid,
        |         list_transform(v, (x, i) ->
        |           x + ((vec_id * 31 + (i - 1)) % 7 - 3) * CAST(0.002 AS DOUBLE)) AS v
        |       FROM base),
        |corpus AS (SELECT vec_id, v FROM base UNION ALL SELECT cvid AS vec_id, v FROM cp),
        |cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        |          FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT 16)),
        |asg1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT b.vec_id, b.v, c.cell,
        |      row_number() OVER (PARTITION BY b.vec_id
        |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cell) AS rn
        |    FROM base b CROSS JOIN cent0 c) WHERE rn = 1),
        |m1 AS (
        |  SELECT cell, list(m ORDER BY dim) AS cv FROM (
        |    SELECT cell, dim, avg(x) AS m FROM (
        |      SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim
        |      FROM asg1) GROUP BY cell, dim) GROUP BY cell),
        |cent1 AS (SELECT c0.cell, coalesce(m1.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN m1 USING (cell)),
        |asg2 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT b.vec_id, b.v, c.cell,
        |      row_number() OVER (PARTITION BY b.vec_id
        |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cell) AS rn
        |    FROM base b CROSS JOIN cent1 c) WHERE rn = 1),
        |m2 AS (
        |  SELECT cell, list(m ORDER BY dim) AS cv FROM (
        |    SELECT cell, dim, avg(x) AS m FROM (
        |      SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim
        |      FROM asg2) GROUP BY cell, dim) GROUP BY cell),
        |cent AS (SELECT c1.cell, coalesce(m2.cv, c1.cv) AS cv
        |         FROM cent1 c1 LEFT JOIN m2 USING (cell)),
        |ccell AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT c.vec_id, c.v, ct.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v FROM base WHERE vec_id < 10),
        |qprobe AS (
        |  SELECT query_id, v, cell FROM (
        |    SELECT q.query_id, q.v, ct.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell) AS rn
        |    FROM q CROSS JOIN cent ct) WHERE rn <= 3),
        |scored AS (
        |  SELECT qp.query_id, cc.vec_id AS neighbor_id,
        |    list_cosine_similarity(qp.v, cc.v) AS cos
        |  FROM qprobe qp JOIN ccell cc ON cc.cell = qp.cell
        |  WHERE qp.query_id <> cc.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rnk AS rank
        |FROM ranked WHERE rnk <= 5""".stripMargin),

    // product-quantization ANN (the memory scale path: m-byte codes vs
    // dim*8-byte vectors): m=2 subspace codebooks trained with the SAME
    // deterministic Lloyd contract as s3 (k=16, 2 rounds, lowest-id init,
    // per subvector), corpus PQ-encoded map-side, ADC scores assembled
    // from a broadcast |Q|*m*k lookup table, top-1 by (rounded score, id).
    // The DuckDB oracle replays BOTH subspace trainings through one chain
    // partitioned by subspace, the encoding, the LUT, and the rank
    QueryDef("s4_ann_pq", (s, d) => {
      val base = embeddingsDouble(s, d)
      val corpus = base.unionByName(perturbedCopies(base))
      val cbs = AnnFunctions.trainPqCodebooks(base, "vec_id", "embedding",
        m = 2, k = 16, iters = 2)
      AnnFunctions.pqTopK(base.filter(col("vec_id") < 10), corpus,
          "vec_id", "vec_id", "embedding", k = 1, cbs)
        .select(col("query_id"), col("neighbor_id"), col("adc"))
    },
      // full PQ replica: BOTH 32-dim subspace codebooks train through one
      // Lloyd chain partitioned by subspace s (same init/tie-break contract
      // as s3), the corpus PQ-encodes against the trained centroids, the
      // query-side LUT holds sim(query subvector, centroid), and the ADC
      // score is the per-(query, neighbor) sum joined on (s, cell) —
      // rounded to 4 decimals BEFORE the id-tie-broken rank, as Spark does
      s"""$pqChainCtes
        |SELECT query_id, neighbor_id, adc FROM (
        |  SELECT query_id, neighbor_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rn
        |  FROM score) WHERE rn = 1""".stripMargin),

    // the deployed two-stage shape: ADC candidates (32 per query, codes
    // only) -> exact cosine re-rank of just those rows. Restores exact
    // order on the bounded set — each query's top-1 is its >=0.999-cosine
    // planted copy, which coarse ADC alone tie-hid behind lower ids
    QueryDef("s5_ann_pq_rerank", (s, d) => {
      val base = embeddingsDouble(s, d)
      val corpus = base.unionByName(perturbedCopies(base))
      val cbs = AnnFunctions.trainPqCodebooks(base, "vec_id", "embedding",
        m = 2, k = 16, iters = 2)
      AnnFunctions.pqRerankTopK(base.filter(col("vec_id") < 10), corpus,
          "vec_id", "vec_id", "embedding", k = 1, cbs, candidates = 32)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
    },
      // two-stage replica: the same chain down to ADC scores, candidates =
      // the 32 best (adc desc, id) per query, then EXACT cosine re-rank of
      // only those rows against the raw vectors — top-1 per query
      s"""$pqChainCtes,
        |cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rn
        |    FROM score) WHERE rn <= 32),
        |rr AS (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM cand cd
        |  JOIN corpus c ON c.vec_id = cd.neighbor_id
        |  JOIN base q ON q.vec_id = cd.query_id)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM rr) WHERE rn = 1""".stripMargin),

    // ---- JSON output mode (S7/T6): the emitted JSON document strings are
    // parsed back field-by-field, so the oracle checks every typed value,
    // the @id expansion, and null-cell omission without depending on
    // engine-specific key order
    QueryDef("s7_json_minimal", (s, d) => {
      val js = graft.mapper.JsonOutput.minimalRows(
        TranscriptStream.withTsLex(transcripts(s, d)), transcriptTable,
        TranscriptStream.inputs, TranscriptStream.skolem,
        rownum = col("turn_idx") + 1, sourceNum = col("turn_idx") + 1)
      // keys are the expanded property IRIs (the mapping declares a
      // propertyUrl template, so reference to_hash compacts — here they
      // stay absolute)
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("@id", org.apache.spark.sql.types.StringType) +:
        Seq("conv_id" -> "string", "turn_idx" -> "bigint", "role" -> "string",
            "text" -> "string", "tool" -> "string", "ts" -> "string").map { case (n, t) =>
          org.apache.spark.sql.types.StructField(s"$P$n",
            org.apache.spark.sql.types.DataType.fromDDL(t))
        })
      js.select(from_json(col("json"), schema).as("r"))
        .select(col("r.`@id`").as("id"), col(s"r.`${P}conv_id`").as("conv_id"),
          col(s"r.`${P}turn_idx`").as("turn_idx"), col(s"r.`${P}role`").as("role"),
          col(s"r.`${P}text`").as("text"), col(s"r.`${P}tool`").as("tool"),
          col(s"r.`${P}ts`").as("ts"))
    },
      // JSON minimal-mode round-trip: typed values, @id expansion, null-cell
      // omission, canonical dateTime lexical form
      s"""$trCte
         |SELECT 'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS id,
         |  conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text,
         |  NULLIF(tool, '') AS tool,
         |  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts
         |FROM transcripts""".stripMargin),

    // BPE-ish token budgeting next to the whitespace count — both counts a
    // data-mixing pipeline needs per document
    QueryDef("x5_token_bpe", (s, d) => t(s, d, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCountWs(col("text")).as("n_ws"),
      TextFunctions.tokenCountBpe(col("text")).as("n_bpe")),
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), t -> length(t) > 0)) AS n_ws,
        |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin),

    // ---- multimodal plumbing (real PNG/WAV/AVI header codec)
    // frame sampling over the DECODED video headers (n_frames from the real
    // AVI byte parse) — the oracle recomputes the uniform-stride indices
    // from the planted header formula
    QueryDef("m2_frame_sample", (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.decode(Multimodal.withSyntheticPayload(t(s, d, "documents"), "doc_id")),
        k = 8),
      """SELECT doc_id, CAST(n AS INT) AS n_frames,
        |  CAST(floor(j * n / 8) AS INT) AS frame_idx
        |FROM (SELECT doc_id, doc_id % 240 + 1 AS n FROM documents WHERE doc_id % 3 = 2),
        |  UNNEST(range(least(8, n))) AS u(j)""".stripMargin),

    // aspect-preserving thumbnail dims over the DECODED image headers; the
    // oracle replicates the floor-scaled rational from the planted formula
    QueryDef("m3_image_resize", (s, d) =>
      Multimodal.resizePlan(
        Multimodal.decode(Multimodal.withSyntheticPayload(t(s, d, "documents"), "doc_id")),
        maxSide = 256),
      """SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(CASE WHEN greatest(w, h) <= 256 THEN w
        |    ELSE greatest(floor(w * 256 / greatest(w, h)), 1) END AS INT) AS out_width,
        |  CAST(CASE WHEN greatest(w, h) <= 256 THEN h
        |    ELSE greatest(floor(h * 256 / greatest(w, h)), 1) END AS INT) AS out_height
        |FROM (SELECT doc_id, (doc_id * 7) % 512 + 16 AS w, (doc_id * 13) % 512 + 16 AS h
        |      FROM documents WHERE doc_id % 3 = 0)""".stripMargin),

    // REAL pixel leg driven end-to-end: complete decodable PNGs (bounded
    // slice — rasters are expensive to synthesize) → header dims → bilinear
    // resample through the JDK codec → PNG re-encode, one map stage. The
    // oracle predicts the emitted dims from the planted formula, and for
    // identity resamples (pixel-exact, spec-pinned) also the EMITTED
    // payload's (0,0) blue channel — a value that exists only if real
    // pixels round-tripped the codec
    QueryDef("m4_resize_reencode", (s, d) =>
      Multimodal.resizeImages(
        Multimodal.withSyntheticPayload(
          t(s, d, "documents").filter(col("doc_id") < 300), "doc_id",
          realPixels = true),
        maxSide = 64)
        .toDF().select(col("doc_id"), col("out_width"), col("out_height"),
          col("corner_b")),
      """SELECT doc_id,
        |  CAST(CASE WHEN greatest(w, h) <= 64 THEN w
        |    ELSE greatest(floor(w * 64 / greatest(w, h)), 1) END AS INT) AS out_width,
        |  CAST(CASE WHEN greatest(w, h) <= 64 THEN h
        |    ELSE greatest(floor(h * 64 / greatest(w, h)), 1) END AS INT) AS out_height,
        |  CAST(CASE WHEN greatest(w, h) <= 64 THEN (doc_id * 31) % 256
        |    ELSE NULL END AS INT) AS corner_b
        |FROM (SELECT doc_id, (doc_id * 7) % 512 + 16 AS w, (doc_id * 13) % 512 + 16 AS h
        |      FROM documents WHERE doc_id % 3 = 0 AND doc_id < 300)""".stripMargin),

    // REAL audio-sample leg: complete PCM16 WAVs (planted sample formula)
    // → JDK codec decode (javax.sound.sampled) → exact integer stats in
    // one map stage; the oracle recomputes peak and sum from the formula
    QueryDef("m5_audio_decode", (s, d) =>
      Multimodal.audioStats(
        Multimodal.withSyntheticPayload(t(s, d, "documents"), "doc_id",
          realSamples = true))
        .toDF().select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("peak"), col("sum_samples")),
      // sample (frame i, channel c) = ((doc_id*31 + i*7 + c*13) % 2003) - 1001
      // planted by wavBytesReal; peak/sum recomputed here over the exact same
      // integer series, so the hash verifies the JDK-codec decode end-to-end
      """SELECT doc_id, CAST(rate AS INT) AS sample_rate, CAST(ch AS INT) AS channels,
        |  CAST(n AS INT) AS n_samples,
        |  CAST(max(abs(s)) AS INT) AS peak,
        |  CAST(sum(s) AS BIGINT) AS sum_samples
        |FROM (
        |  SELECT doc_id, rate, ch, n,
        |    ((doc_id * 31 + (k // ch) * 7 + (k % ch) * 13) % 2003) - 1001 AS s
        |  FROM (SELECT doc_id, 8000 + (doc_id % 5) * 8000 AS rate,
        |          doc_id % 2 + 1 AS ch, doc_id % 1000 + 1 AS n
        |        FROM documents WHERE doc_id % 3 = 1),
        |    UNNEST(range(n * ch)) AS u(k))
        |GROUP BY doc_id, rate, ch, n""".stripMargin),

    // REAL audio resample leg (the audio twin of m4): decode PCM16, keep
    // every 4th frame, re-encode a complete WAV at the decimated rate, then
    // decode the EMITTED payload and report its stats — the oracle predicts
    // them from the planted formula at the strided frame indices, values
    // that exist only if real samples round-tripped the codec
    QueryDef("m6_audio_resample", (s, d) =>
      Multimodal.resampleAudio(
        Multimodal.withSyntheticPayload(t(s, d, "documents"), "doc_id",
          realSamples = true),
        stride = 4, fallbacks = Some(metricAcc(s, "m6_audio_fallbacks")))
        .toDF().select(col("doc_id"), col("in_frames"), col("out_rate"),
          col("out_frames"), col("out_peak"), col("out_sum"), col("out_bytes")),
      // same planted formula sampled at frame indices j*4 (stride
      // decimation), out_frames = ceil(n/4), decimated rate, and the exact
      // RIFF container size 44 + data bytes — all integer-replicable
      """SELECT doc_id,
        |  CAST(n AS INT) AS in_frames,
        |  CAST(rate // 4 AS INT) AS out_rate,
        |  CAST(nout AS INT) AS out_frames,
        |  CAST(max(abs(s)) AS INT) AS out_peak,
        |  CAST(sum(s) AS BIGINT) AS out_sum,
        |  CAST(44 + nout * ch * 2 AS INT) AS out_bytes
        |FROM (
        |  SELECT doc_id, rate, ch, n, nout,
        |    ((doc_id * 31 + ((k // ch) * 4) * 7 + (k % ch) * 13) % 2003) - 1001 AS s
        |  FROM (SELECT doc_id, 8000 + (doc_id % 5) * 8000 AS rate,
        |          doc_id % 2 + 1 AS ch, doc_id % 1000 + 1 AS n,
        |          (doc_id % 1000 + 1 + 3) // 4 AS nout
        |        FROM documents WHERE doc_id % 3 = 1),
        |    UNNEST(range(nout * ch)) AS u(k))
        |GROUP BY doc_id, rate, ch, n, nout""".stripMargin),

    // the anti-aliased variant of m6: integer boxcar (moving average over
    // each stride-4 window, truncated toward zero) applied before
    // decimation in the same single map stage; the oracle recomputes every
    // filtered sample from the planted formula — integer-exact end to end
    QueryDef("m7_audio_lowpass", (s, d) =>
      Multimodal.resampleAudio(
        Multimodal.withSyntheticPayload(t(s, d, "documents"), "doc_id",
          realSamples = true),
        stride = 4, fallbacks = Some(metricAcc(s, "m7_audio_fallbacks")),
        lowpass = true)
        .toDF().select(col("doc_id"), col("in_frames"), col("out_rate"),
          col("out_frames"), col("out_peak"), col("out_sum"), col("out_bytes")),
      // the boxcar-filtered variant: every INPUT sample from the planted
      // formula, grouped into (output frame j = i // 4, channel) windows,
      // filtered value = trunc(mean) — trunc (toward zero), NOT floor,
      // matching Java integer division on possibly-negative sums; doc-level
      // stats then aggregate over the filtered samples
      """WITH p AS (SELECT doc_id, 8000 + (doc_id % 5) * 8000 AS rate,
        |             doc_id % 2 + 1 AS ch, doc_id % 1000 + 1 AS n,
        |             (doc_id % 1000 + 1 + 3) // 4 AS nout
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        |  SELECT doc_id, rate, ch, n, nout, (k // ch) // 4 AS j, k % ch AS c,
        |    ((doc_id * 31 + (k // ch) * 7 + (k % ch) * 13) % 2003) - 1001 AS s
        |  FROM p, UNNEST(range(n * ch)) AS u(k)),
        |w AS (
        |  SELECT doc_id, rate, ch, n, nout, j, c,
        |    CAST(trunc(CAST(sum(s) AS DOUBLE) / count(*)) AS INT) AS f
        |  FROM s GROUP BY doc_id, rate, ch, n, nout, j, c)
        |SELECT doc_id,
        |  CAST(n AS INT) AS in_frames,
        |  CAST(rate // 4 AS INT) AS out_rate,
        |  CAST(nout AS INT) AS out_frames,
        |  CAST(max(abs(f)) AS INT) AS out_peak,
        |  CAST(sum(f) AS BIGINT) AS out_sum,
        |  CAST(44 + nout * ch * 2 AS INT) AS out_bytes
        |FROM w GROUP BY doc_id, rate, ch, n, nout""".stripMargin),

    // ---- text analysis
    QueryDef("x1_lang_id", (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred")), {
      val langs = TextFunctions.stopwords
      val hitExprs = langs.toSeq.sortBy(_._1).map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"count(DISTINCT tok) FILTER (tok IN ($inList)) AS hits_$l"
      }.mkString(",\n    ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS tok
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id,
         |    $hitExprs
         |  FROM toks WHERE length(tok) > 0 GROUP BY doc_id),
         |unp AS (
         |  SELECT doc_id, lang, hits FROM hits
         |  UNPIVOT (hits FOR lang IN (hits_de AS 'de', hits_en AS 'en', hits_es AS 'es', hits_fr AS 'fr'))),
         |best AS (
         |  SELECT doc_id, lang, hits,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
         |  FROM unp),
         |pred AS (
         |  SELECT doc_id, CASE WHEN hits >= 2 THEN lang ELSE 'und' END AS lang_pred
         |  FROM best WHERE rn = 1)
         |SELECT d.doc_id, coalesce(p.lang_pred, 'und') AS lang_pred
         |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id""".stripMargin
    }),

    QueryDef("x2_text_stats", (s, d) => t(s, d, "documents").select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextFunctions.tokenCountWs(col("text")).as("n_tok"),
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).as("alpha_chars")),
      """SELECT doc_id, length(text) AS n_chars,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), t -> length(t) > 0)) AS n_tok,
        |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
        |FROM documents""".stripMargin),

    QueryDef("x3_quality_score", (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality")), {
      // deterministic-formula oracle: the quality score ported term-by-term to
      // DuckDB with every literal forced to DOUBLE (DuckDB would otherwise do
      // DECIMAL arithmetic and diverge from Spark's doubles at the ulp)
      val allStops = TextFunctions.stopwords.values.flatten.toSeq.distinct.sorted
        .map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}'']+'), t -> length(t) > 0) AS tk,
         |    CAST(length(text) AS DOUBLE) AS len,
         |    CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len, alpha,
         |    greatest(CAST(len(tk) AS DOUBLE), CAST(1.0 AS DOUBLE)) AS ntok,
         |    CAST(len(list_filter(list_distinct(tk), t -> list_contains([$allStops], t))) AS DOUBLE) AS stophits,
         |    CAST(len(list_distinct(tk)) AS DOUBLE) AS ndistinct
         |  FROM toks)
         |SELECT doc_id,
         |  round(
         |    (CASE WHEN len BETWEEN 20 AND 20000 THEN CAST(1.0 AS DOUBLE)
         |          WHEN len BETWEEN 5 AND 100000 THEN CAST(0.5 AS DOUBLE)
         |          ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.25 AS DOUBLE)
         |    + least(alpha / greatest(len, CAST(1.0 AS DOUBLE)) * CAST(1.25 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.25 AS DOUBLE)
         |    + least(stophits / ntok * 4, CAST(1.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE)
         |    + (CASE WHEN len / ntok BETWEEN 3 AND 12 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END) * CAST(0.15 AS DOUBLE)
         |    + ndistinct / ntok * CAST(0.15 AS DOUBLE), 4) AS quality
         |FROM m""".stripMargin
    }),

    QueryDef("x4_fingerprint", (s, d) => t(s, d, "documents").select(
      col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp")),
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin),

    // ---- deterministic stratified sampling (pretraining-mix construction):
    // per-language keep rates, membership a pure function of doc_id — the
    // integer hash replays exactly in the DuckDB oracle
    QueryDef("x6_stratified_sample", (s, d) => Sampling.stratifiedSample(
        t(s, d, "documents").select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred")),
        "doc_id", col("lang_pred"),
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1), {
      // same lang derivation as x1, then the exact integer sampling hash:
      // (doc_id · 2654435761) mod 2^31 / 2^31 < rate(lang)
      val langs = TextFunctions.stopwords
      val hitExprs = langs.toSeq.sortBy(_._1).map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"count(DISTINCT tok) FILTER (tok IN ($inList)) AS hits_$l"
      }.mkString(",\n    ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS tok
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id,
         |    $hitExprs
         |  FROM toks WHERE length(tok) > 0 GROUP BY doc_id),
         |unp AS (
         |  SELECT doc_id, lang, hits FROM hits
         |  UNPIVOT (hits FOR lang IN (hits_de AS 'de', hits_en AS 'en', hits_es AS 'es', hits_fr AS 'fr'))),
         |best AS (
         |  SELECT doc_id, lang, hits,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
         |  FROM unp),
         |pred AS (
         |  SELECT doc_id, CASE WHEN hits >= 2 THEN lang ELSE 'und' END AS lang_pred
         |  FROM best WHERE rn = 1)
         |SELECT d.doc_id,
         |  coalesce(p.lang_pred, 'und') AS lang_pred
         |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
         |WHERE CAST((((d.doc_id % 2147483648 + 2147483648) % 2147483648)
         |    * 2654435761) % 2147483648 AS DOUBLE) / 2147483648.0
         |  < CASE coalesce(p.lang_pred, 'und')
         |      WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END""".stripMargin
    }),

    // eval-set decontamination: the "benchmark" is the %13 slice of the
    // corpus itself, so every ≥8-token eval doc must flag itself, plus any
    // organic 8-gram leakage across documents; the DuckDB oracle replicates
    // the shingle definition exactly (lead() window over the d4 token split)
    QueryDef("x7_decontaminate", (s, d) => {
      val docs = plantedBaseDocs(s, d)
      TextFunctions.contamination(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 13 === 0), "text", n = 8)
    },
      // same token split as d4's oracle; 8-grams via lead() window, distinct
      // per doc; eval set = %13 docs; count of a doc's distinct shingles that
      // appear anywhere in the eval set
      """WITH toks AS (
        |  SELECT doc_id, t.tok, t.pos FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS tok,
        |      generate_subscripts(string_split_regex(lower(text), '[^a-z0-9'']+'), 1) AS pos
        |    FROM documents) t(doc_id, tok, pos) WHERE length(tok) > 0),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |      || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
        |      || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w
        |      || ' ' || lead(tok, 7) OVER w AS shingle
        |  FROM toks
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 7) OVER w IS NOT NULL),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0)
        |SELECT s.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS matched_shingles
        |FROM sh s JOIN ev ON s.shingle = ev.shingle
        |GROUP BY 1""".stripMargin),

    // PII scrub: the synthetic corpus carries no organic PII, so each doc
    // gets a deterministic PII-bearing suffix (email + IPv4 + phone, a
    // second email on every third doc) planted identically by the oracle,
    // then counted and redacted. Counts are over the original text,
    // redaction is the ordered regexp_replace chain — all codegen'd, zero
    // exchanges.
    QueryDef("x8_pii_redact", (s, d) => {
      val withPii = t(s, d, "documents").select(col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org from 10."),
          (col("doc_id") % 200).cast("string"),
          lit(".0.7 call +1 555 01"),
          ((col("doc_id") % 90) + 10).cast("string"),
          when(col("doc_id") % 3 === 0, lit(" cc admin@corp.io"))
            .otherwise(lit(""))).as("txt"))
      withPii.select(col("doc_id"),
        TextFunctions.piiCount(col("txt"), TextFunctions.EmailPattern).as("n_emails"),
        TextFunctions.piiCount(col("txt"), TextFunctions.Ipv4Pattern).as("n_ipv4"),
        TextFunctions.piiCount(col("txt"), TextFunctions.PhonePattern).as("n_phones"),
        TextFunctions.piiRedact(col("txt")).as("redacted"))
    },
      // same planted-PII construction, same patterns, same redaction order;
      // DuckDB's regexp_replace needs the explicit 'g' flag to match Spark's
      // replace-all semantics
      s"""WITH pii AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@mail.example.org from 10.'
         |      || (doc_id % 200) || '.0.7 call +1 555 01' || (doc_id % 90 + 10)
         |      || (CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END) AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(txt, '${TextFunctions.EmailPattern}')) AS n_emails,
         |  len(regexp_extract_all(txt, '${TextFunctions.Ipv4Pattern}')) AS n_ipv4,
         |  len(regexp_extract_all(txt, '${TextFunctions.PhonePattern}')) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(txt,
         |    '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextFunctions.Ipv4Pattern}', '<IP>', 'g'),
         |    '${TextFunctions.PhonePattern}', '<PHONE>', 'g') AS redacted
         |FROM pii""".stripMargin),

    // Gopher-style repetition signals: duplicate word/2-gram/3-gram
    // fractions per document — map-only, fused tokenize + array_distinct
    QueryDef("x9_repetition", (s, d) => t(s, d, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCountWs(col("text")).as("n_tok"),
      TextFunctions.dupNgramFraction(col("text"), 1).as("dup_word_frac"),
      TextFunctions.dupNgramFraction(col("text"), 2).as("dup_2gram_frac"),
      TextFunctions.dupNgramFraction(col("text"), 3).as("dup_3gram_frac")),
      // same token split as d4/x7's oracle; n-grams via lead() windows;
      // docs too short for an n-gram get 0.0 via the left-join coalesce
      """WITH toks AS (
        |  SELECT doc_id, t.tok, t.pos FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS tok,
        |      generate_subscripts(string_split_regex(lower(text), '[^a-z0-9'']+'), 1) AS pos
        |    FROM documents) t(doc_id, tok, pos) WHERE length(tok) > 0),
        |g1 AS (SELECT doc_id, count(*) AS n, count(DISTINCT tok) AS nd
        |       FROM toks GROUP BY 1),
        |s2 AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS g
        |       FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |       QUALIFY lead(tok, 1) OVER w IS NOT NULL),
        |g2 AS (SELECT doc_id, count(*) AS n, count(DISTINCT g) AS nd
        |       FROM s2 GROUP BY 1),
        |s3 AS (SELECT doc_id,
        |         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g
        |       FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |       QUALIFY lead(tok, 2) OVER w IS NOT NULL),
        |g3 AS (SELECT doc_id, count(*) AS n, count(DISTINCT g) AS nd
        |       FROM s3 GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(g1.n, 0) AS INT) AS n_tok,
        |  coalesce(round(1 - CAST(g1.nd AS DOUBLE) / g1.n, 4), 0.0) AS dup_word_frac,
        |  coalesce(round(1 - CAST(g2.nd AS DOUBLE) / g2.n, 4), 0.0) AS dup_2gram_frac,
        |  coalesce(round(1 - CAST(g3.nd AS DOUBLE) / g3.n, 4), 0.0) AS dup_3gram_frac
        |FROM documents d
        |LEFT JOIN g1 ON d.doc_id = g1.doc_id
        |LEFT JOIN g2 ON d.doc_id = g2.doc_id
        |LEFT JOIN g3 ON d.doc_id = g3.doc_id""".stripMargin),

    // CCNet-lite quality: per-doc mean corpus frequency of its tokens —
    // vocabulary built from the corpus itself, integer-exact until one
    // final division (no cross-engine log hazard)
    QueryDef("x10_word_rarity", (s, d) =>
      TextFunctions.wordRarity(t(s, d, "documents"), "doc_id", "text"),
      // same token split; vocabulary = the corpus's own unigram counts;
      // integers until the single final division
      """WITH toks AS (
        |  SELECT doc_id, t.tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS tok
        |    FROM documents) t(doc_id, tok) WHERE length(tok) > 0),
        |vocab AS (SELECT tok, count(*) AS cf FROM toks GROUP BY 1),
        |agg AS (
        |  SELECT t.doc_id, count(*) AS n, sum(v.cf) AS cfs
        |  FROM toks t JOIN vocab v ON t.tok = v.tok GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(agg.n, 0) AS INT) AS n_tok,
        |  CAST(coalesce(agg.cfs, 0) AS BIGINT) AS cf_sum,
        |  coalesce(round(CAST(agg.cfs AS DOUBLE) / agg.n, 4), 0.0) AS mean_cf
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin),

    // URL filtering: planted deterministic links (the synthetic corpus has
    // none), then count + first-domain + blocklist flag — one codegen'd
    // regex stage, 0 exchanges
    QueryDef("x11_url_filter", (s, d) => {
      val withUrls = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" and http://cdn"), (col("doc_id") % 3).cast("string"),
              lit(".example/img")))
            .otherwise(lit(""))).as("txt"))
      withUrls.select(col("doc_id"),
        TextFunctions.urlCount(col("txt")).as("n_urls"),
        TextFunctions.firstUrlDomain(col("txt")).as("first_domain"),
        TextFunctions.urlBlocked(col("txt"),
          Seq("site0.example", "site3.example", "cdn1.example")).as("blocked"))
    },
      // same planted URLs; blocklist flag via the same alternation regex
      """WITH u AS (
        |  SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 7) || '.example/p/' || doc_id
        |      || (CASE WHEN doc_id % 5 = 0
        |          THEN ' and http://cdn' || (doc_id % 3) || '.example/img'
        |          ELSE '' END) AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(txt, 'https?://[^\s]+')) AS n_urls,
        |  lower(regexp_extract(txt, 'https?://([^/\s]+)', 1)) AS first_domain,
        |  regexp_matches(lower(txt),
        |    'https?://(?:site0\.example|site3\.example|cdn1\.example)(?:[/\s]|\z)') AS blocked
        |FROM u""".stripMargin),

    // line-level dedup (boilerplate removal): the synthetic corpus is
    // single-line, so each doc gets planted lines — one universal footer,
    // one %3 banner (both cross the minDf=10 bar and must drop), and a
    // unique "ref N" tail that must survive; the doc's own text line lives
    // or dies by its organic corpus frequency, identically on both sides
    QueryDef("x12_line_dedup", (s, d) => {
      val withLines = t(s, d, "documents").select(col("doc_id"),
        concat(
          col("text"), lit("\nsubscribe to our newsletter\n"),
          when(col("doc_id") % 3 === 0, lit("copyright 2026 example corp\n"))
            .otherwise(lit("")),
          lit("ref "), col("doc_id").cast("string")).as("txt"))
      DedupFunctions.lineDedup(withLines, "doc_id", "txt", minDf = 10L)
    },
      // same planted lines; boilerplate = non-empty lines with >= 10
      // occurrences corpus-wide; clean_text reassembles survivors in order
      // (string_agg skips the NULLed dup lines; empty-survivor docs coalesce
      // to '' to match Spark's array_join of an empty array)
      """WITH u AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'subscribe to our newsletter' || chr(10)
        |      || (CASE WHEN doc_id % 3 = 0
        |          THEN 'copyright 2026 example corp' || chr(10) ELSE '' END)
        |      || 'ref ' || doc_id AS txt
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, t.line, t.pos FROM (
        |    SELECT doc_id, unnest(string_split(txt, chr(10))) AS line,
        |      generate_subscripts(string_split(txt, chr(10)), 1) AS pos
        |    FROM u) t(doc_id, line, pos)),
        |d AS (SELECT line FROM l WHERE length(line) > 0
        |      GROUP BY 1 HAVING count(*) >= 10)
        |SELECT l.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(d.line) AS BIGINT) AS n_dup_lines,
        |  coalesce(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
        |    chr(10) ORDER BY l.pos), '') AS clean_text
        |FROM l LEFT JOIN d ON l.line = d.line
        |GROUP BY 1""".stripMargin),

    // sequence packing (concat-and-chunk): deterministic (pack, offset)
    // assignment from a two-level distributed prefix sum over BPE token
    // counts — budget/blockSize sized so sf0.01 spans many packs and blocks
    QueryDef("x13_seq_pack", (s, d) =>
      Packing.packSequences(t(s, d, "documents"), "doc_id", "text",
        budget = 512L, blockSize = 64L),
      // same BPE token regex as x5; global exclusive prefix sum in doc_id
      // order, chunked at budget 512 (the Spark side computes the identical
      // cumsum via the two-level block decomposition)
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id,
        |  CAST(n_tok AS INT) AS n_tok,
        |  CAST(cum_before AS BIGINT) AS cum_before,
        |  CAST(cum_before // 512 AS BIGINT) AS pack_id,
        |  CAST(cum_before % 512 AS BIGINT) AS pack_offset
        |FROM c""".stripMargin),

    // x13 completed to the trainer-facing output: every document explodes
    // into its (pack_id, token_slice) rows at chunk boundaries — straddlers
    // split across packs, slice text reassembled from the same RE2 BPE
    // tokenizer the prefix sum counts with, so the oracle replays the
    // slices exactly; bounded explode, no exchange beyond x13's three
    QueryDef("x14_pack_chunks", (s, d) =>
      Packing.packChunks(t(s, d, "documents"), "doc_id", "text",
        budget = 512L, blockSize = 64L),
      // same tokenizer + global cumsum as x13, then one row per pack each
      // document overlaps: slice bounds clamped to [0, n_tok), chunk_text =
      // the 1-based inclusive list slice joined on ' ' (DuckDB list_slice ==
      // Spark slice(start+1, len)); zero-token docs emit nothing
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n_tok,
        |    coalesce(sum(len(toks)) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t),
        |e AS (
        |  SELECT doc_id, toks, n_tok, cum_before,
        |    unnest(range(CAST(cum_before // 512 AS BIGINT),
        |                 CAST((cum_before + n_tok - 1) // 512 + 1 AS BIGINT))) AS pack_id
        |  FROM c WHERE n_tok > 0)
        |SELECT doc_id,
        |  CAST(pack_id AS BIGINT) AS pack_id,
        |  CAST(greatest(pack_id * 512 - cum_before, 0) AS BIGINT) AS slice_start,
        |  CAST(least(n_tok, (pack_id + 1) * 512 - cum_before)
        |       - greatest(pack_id * 512 - cum_before, 0) AS BIGINT) AS slice_len,
        |  CAST(greatest(cum_before - pack_id * 512, 0) AS BIGINT) AS pack_offset,
        |  array_to_string(list_slice(toks,
        |    greatest(pack_id * 512 - cum_before, 0) + 1,
        |    least(n_tok, (pack_id + 1) * 512 - cum_before)), ' ') AS chunk_text
        |FROM e""".stripMargin),

    // temperature-scaled domain mixing over x11's planted-URL domains:
    // one domain-count aggregate, then metadata-tier windows (ordered, so
    // the double sums are bit-stable) produce share^0.3 renormalized
    // sampling weights — the oracle replays count, share, pow, and both
    // ordered whole-frame sums
    QueryDef("x15_domain_weights", (s, d) => {
      val withUrls = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("txt"))
      Mixing.domainWeights(withUrls.select(col("doc_id"),
        TextFunctions.firstUrlDomain(col("txt")).as("domain")), "domain", alpha = 0.3)
    },
      // same planted single-URL construction; share and weight replayed with
      // the SAME ordered whole-frame window sums the Spark plan pins, both
      // rounded to 6 decimals
      """WITH u AS (
        |  SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 7) || '.example/p/' || doc_id AS txt
        |  FROM documents),
        |c AS (
        |  SELECT lower(regexp_extract(txt, 'https?://([^/\s]+)', 1)) AS domain,
        |    count(*) AS n_docs
        |  FROM u GROUP BY 1),
        |t AS (
        |  SELECT domain, n_docs,
        |    CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (ORDER BY domain
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS share
        |  FROM c),
        |w AS (SELECT domain, n_docs, share, pow(share, 0.3) AS wraw FROM t)
        |SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
        |  round(share, 6) AS share,
        |  round(wraw / sum(wraw) OVER (ORDER BY domain
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6) AS weight
        |FROM w""".stripMargin),

    // SFT loss-mask accounting per conversation: trainable = the
    // 'click'/'view' roles (stand-ins for assistant turns in the synthetic
    // role alphabet), token counts from the same BPE regex as x13/x14
    QueryDef("x16_loss_mask", (s, d) =>
      Mixing.lossMaskStats(transcripts(s, d), Seq("click", "view")),
      // same BPE token regex as x13; trainable roles = click/view; every
      // counter integer, the fraction a single double division
      s"""$trCte
         |SELECT conv_id,
         |  CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(sum(CASE WHEN role IN ('click','view') THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_trainable_turns,
         |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN role IN ('click','view') THEN ntok ELSE 0 END) AS BIGINT)
         |    AS trainable_tokens,
         |  round(CAST(sum(CASE WHEN role IN ('click','view') THEN ntok ELSE 0 END) AS DOUBLE)
         |    / greatest(CAST(sum(ntok) AS DOUBLE), 1.0), 6) AS trainable_fraction
         |FROM (SELECT conv_id, role,
         |        len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\\s]')) AS ntok
         |      FROM transcripts)
         |GROUP BY conv_id""".stripMargin),

    QueryDef("w1_turn_order", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      transcripts(s, d).select(col("conv_id"), col("turn_idx"),
        row_number().over(Window.partitionBy(col("conv_id"))
          .orderBy(col("turn_idx"))).as("rn"))
    },
      s"""$trCte
         |SELECT conv_id, turn_idx,
         |  row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
         |FROM transcripts""".stripMargin),

    QueryDef("m1_multimodal_decode", (s, d) =>
      Multimodal.decodePipeline(s, t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("media_type"), col("width"), col("height"), col("n_frames")),
      // the planted container-header fields are integer functions of doc_id,
      // so the oracle verifies the PNG/WAV/AVI byte-level encode→sniff→parse
      // round trip exactly
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |  CAST(CASE doc_id % 3
        |    WHEN 1 THEN 8000 + (doc_id % 5) * 8000
        |    ELSE (doc_id * 7) % 512 + 16 END AS INT) AS width,
        |  CAST(CASE doc_id % 3
        |    WHEN 1 THEN doc_id % 2 + 1
        |    ELSE (doc_id * 13) % 512 + 16 END AS INT) AS height,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 1
        |    WHEN 1 THEN doc_id % 1000 + 1
        |    ELSE doc_id % 240 + 1 END AS INT) AS n_frames
        |FROM documents""".stripMargin),

    // ---- validations (A1, A2, J1) + per-turn invariant
    QueryDef("a1_pk_duplicates", (s, d) =>
      Validations.pkDuplicates(t(s, d, "lineitem"), Seq("l_orderkey")),
      """SELECT l_orderkey, count(*) AS dup_count FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) > 1""".stripMargin),

    QueryDef("a2_fk_dup_targets", (s, d) =>
      Validations.fkDuplicateTargets(t(s, d, "supplier"), Seq("s_nationkey")),
      """SELECT s_nationkey, count(*) AS dup_count FROM supplier
        |GROUP BY s_nationkey HAVING count(*) > 1""".stripMargin),

    // ---- comment aggregation (A3): prefix-stripped header-region comments
    // with their order preserved
    QueryDef("a3_comment_rows", (s, d) => {
      import s.implicits._
      val rows = t(s, d, "region").select(col("r_regionkey").cast("long"), col("r_name"))
        .collect().sortBy(_.getLong(0)).map(r => s"${r.getLong(0)},${r.getString(1)}")
      val csv = "# top comment\n# second comment\nkey,name\n" + rows.mkString("\n") + "\n"
      val f = tempDirUntilExit("graft_a3").resolve("a3.csv")
      java.nio.file.Files.writeString(f, csv)
      val ex = graft.sources.CsvDialectSource.readExact(s, f.toString,
        graft.model.DialectMeta(commentPrefix = Some("#"), skipRows = 2))
      ex.comments.zipWithIndex.map { case (c, i) => (i + 1, c) }.toDF("n", "comment")
    },
      // prefix-dropped AND stripped, per metadata.rb:1859 value[1..-1].strip
      """SELECT * FROM (VALUES
        |  (1, 'top comment'), (2, 'second comment')
        |) AS t(n, comment)""".stripMargin),

    QueryDef("j1_fk_violations", (s, d) =>
      Validations.fkViolations(
        transcripts(s, d).select((regexp_replace(col("conv_id"), "^c", "")).cast("long").as("user_id")),
        Seq("user_id"),
        t(s, d, "customer"), Seq("c_custkey")).dropDuplicates(),
      s"""$trCte
         |SELECT DISTINCT CAST(regexp_replace(conv_id, '^c', '') AS BIGINT) AS user_id
         |FROM transcripts
         |WHERE NOT EXISTS (SELECT 1 FROM customer
         |                  WHERE c_custkey = CAST(regexp_replace(conv_id, '^c', '') AS BIGINT))""".stripMargin),

    // ---- FK → table routing (J2): violations keyed by source→referenced
    // table url, values from the evaluated referencing cells
    QueryDef("j2_fk_routing", (s, d) => {
      import s.implicits._
      val group = CsvwJson.parseTableGroup("""{
        "tables": [
          {"url": "http://example.org/items.csv",
           "tableSchema": {"columns": [{"name": "id"}], "primaryKey": "id"}},
          {"url": "http://example.org/orders.csv",
           "tableSchema": {
             "columns": [{"name": "item_ref"}],
             "foreignKeys": [{
               "columnReference": "item_ref",
               "reference": {"resource": "http://example.org/items.csv",
                             "columnReference": "id"}}]}}
        ]
      }""")
      val items = Seq(("i1", 1), ("i2", 2)).toDF("id", "rn")
      val orders = Seq(("i1", 1), ("MISSING", 2), ("i2", 3)).toDF("item_ref", "rn")
      val bind = Map(
        "http://example.org/items.csv" -> mapper.CsvwPipeline.BoundTable(
          items, Map.empty, col("rn"), col("rn"), col("rn")),
        "http://example.org/orders.csv" -> mapper.CsvwPipeline.BoundTable(
          orders, Map.empty, col("rn"), col("rn"), col("rn")))
      val res = mapper.CsvwPipeline.run(s, group, bind)
      res.fkViolations.toSeq.sortBy(_._1).flatMap { case (route, df) =>
        df.collect().map(r => (route, r.getString(0)))
      }.toDF("route", "bad_ref")
    },
      """SELECT * FROM (VALUES
        |  ('http://example.org/orders.csv->http://example.org/items.csv', 'MISSING')
        |) AS t(route, bad_ref)""".stripMargin),

    // ---- per-cell scalar functions (F2-F4, F9)
    QueryDef("f2_datatype_facets", (s, d) => {
      val json = """{"url":"http://e/t","tableSchema":{"columns":[
        {"name":"v","datatype":{"base":"integer","minimum":1000}}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      val df = t(s, d, "lineitem").select(col("l_orderkey").cast("string").as("v")).dropDuplicates()
      df.withColumn("__c", graft.expr.CsvwFunctions.csvwCell(col("v"), tbl.columns.head))
        .select(col("v"),
          element_at(col("__c.vals"), 1).getField("ok").as("ok"),
          (size(col("__c.errs")) > 0).as("has_error"))
    },
      """SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS v,
        |  l_orderkey >= 1000 AS ok,
        |  l_orderkey < 1000 AS has_error
        |FROM lineitem""".stripMargin),

    QueryDef("f3_uax35_number", (s, d) => {
      // '%'-suffixed integers through the default numeric pattern: decimal shift
      val json = """{"url":"http://e/t","tableSchema":{"columns":[
        {"name":"v","datatype":"number"}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      val df = t(s, d, "lineitem")
        .select(concat(round(col("l_discount") * 100).cast("int").cast("string"), lit("%")).as("v"))
        .dropDuplicates()
      df.withColumn("__c", graft.expr.CsvwFunctions.csvwCell(col("v"), tbl.columns.head))
        .select(col("v"), element_at(col("__c.vals"), 1).getField("lex").as("canonical"))
    },
      """SELECT DISTINCT CAST(CAST(round(l_discount * 100) AS INT) AS VARCHAR) || '%' AS v,
        |  CASE length(CAST(CAST(round(l_discount * 100) AS INT) AS VARCHAR))
        |    WHEN 1 THEN '0.0' || CAST(CAST(round(l_discount * 100) AS INT) AS VARCHAR)
        |    WHEN 2 THEN '0.' || CAST(CAST(round(l_discount * 100) AS INT) AS VARCHAR)
        |    ELSE NULL END AS canonical
        |FROM lineitem""".stripMargin),

    QueryDef("f4_uax35_date", (s, d) => {
      val json = """{"url":"http://e/t","tableSchema":{"columns":[
        {"name":"v","datatype":{"base":"date","format":"d/M/yyyy"}}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      val df = t(s, d, "lineitem")
        .select(date_format(col("l_shipdate"), "d/M/yyyy").as("v")).dropDuplicates()
      df.withColumn("__c", graft.expr.CsvwFunctions.csvwCell(col("v"), tbl.columns.head))
        .select(col("v"), element_at(col("__c.vals"), 1).getField("lex").as("canonical"))
    },
      """SELECT DISTINCT strftime(l_shipdate, '%-d/%-m/%Y') AS v,
        |  strftime(l_shipdate, '%Y-%m-%d') AS canonical
        |FROM lineitem""".stripMargin),

    // ---- boolean format (F5): "Y|N" through the cell pipeline
    QueryDef("f5_boolean_format", (s, d) => {
      val json = """{"url":"http://e/t","tableSchema":{"columns":[
        {"name":"v","datatype":{"base":"boolean","format":"Y|N"}}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      t(s, d, "region")
        .select(when(col("r_regionkey") % 2 === 0, "Y").otherwise("N").as("v"))
        .withColumn("__c", graft.expr.CsvwFunctions.csvwCell(col("v"), tbl.columns.head))
        .select(col("v"),
          element_at(col("__c.vals"), 1).getField("lex").as("lex"),
          element_at(col("__c.vals"), 1).getField("ok").as("ok"))
    },
      """SELECT CASE WHEN r_regionkey % 2 = 0 THEN 'Y' ELSE 'N' END AS v,
        |  CASE WHEN r_regionkey % 2 = 0 THEN 'true' ELSE 'false' END AS lex,
        |  TRUE AS ok
        |FROM region""".stripMargin),

    // ---- regex format on non-core types (F6): failures degrade ok=false
    QueryDef("f6_regex_format", (s, d) => {
      val json = """{"url":"http://e/t","tableSchema":{"columns":[
        {"name":"v","datatype":{"base":"string","format":"^[A-Z]+$"}}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      t(s, d, "region").select(col("r_name").as("v"))
        .withColumn("__c", graft.expr.CsvwFunctions.csvwCell(col("v"), tbl.columns.head))
        .select(col("v"), element_at(col("__c.vals"), 1).getField("ok").as("ok"))
    },
      """SELECT r_name AS v, regexp_matches(r_name, '^[A-Z]+$') AS ok FROM region"""),

    // ---- string length facets (F7)
    QueryDef("f7_length_facets", (s, d) => {
      val json = """{"url":"http://e/t","tableSchema":{"columns":[
        {"name":"v","datatype":{"base":"string","minLength":5,"maxLength":6}}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      t(s, d, "region").select(col("r_name").as("v"))
        .withColumn("__c", graft.expr.CsvwFunctions.csvwCell(col("v"), tbl.columns.head))
        .select(col("v"), element_at(col("__c.vals"), 1).getField("ok").as("ok"))
    },
      """SELECT r_name AS v, length(r_name) BETWEEN 5 AND 6 AS ok FROM region"""),

    QueryDef("f9_uri_template", (s, d) => {
      val tmpl = graft.core.UriTemplate.compile("http://example.org/region/{r_name}{?id}")
      t(s, d, "region").select(col("r_name"),
        graft.expr.CsvwFunctions.uriTemplate(tmpl, "http://example.org/",
          Seq("r_name" -> col("r_name"), "id" -> col("r_regionkey").cast("string"))).as("iri"))
    },
      """SELECT r_name,
        |  'http://example.org/region/' || replace(r_name, ' ', '%20')
        |    || '?id=' || CAST(r_regionkey AS VARCHAR) AS iri
        |FROM region""".stripMargin),

    // ---- column-name URI encoding from titles (F10; metadata.rb:1629-1636)
    QueryDef("f10_column_name_encode", (s, d) => {
      import s.implicits._
      t(s, d, "region").select(col("r_name")).collect().map(_.getString(0))
        .map { title =>
          val cm = graft.model.ColumnMeta(titles = List("und" -> title))
          (title, Resolve.columnName(cm, 1))
        }.toSeq.toDF("title", "name")
    },
      """SELECT r_name AS title, replace(r_name, ' ', '%20') AS name FROM region"""),

    // ---- csvw:JSON literal passthrough (F11)
    QueryDef("f11_json_literal", (s, d) => {
      val json = """{"url":"http://e/t","tableSchema":{"columns":[
        {"name":"v","datatype":"json"}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      t(s, d, "region")
        .select(concat(lit("""{"key": """), col("r_regionkey"), lit("}")).as("v"))
        .withColumn("__c", graft.expr.CsvwFunctions.csvwCell(col("v"), tbl.columns.head))
        .select(col("v"),
          element_at(col("__c.vals"), 1).getField("lex").as("lex"),
          lit(tbl.columns.head.datatypeIri).as("dtype"))
    },
      """SELECT '{"key": ' || CAST(r_regionkey AS VARCHAR) || '}' AS v,
        |  '{"key": ' || CAST(r_regionkey AS VARCHAR) || '}' AS lex,
        |  'http://www.w3.org/ns/csvw#JSON' AS dtype
        |FROM region""".stripMargin),

    // ---- skipColumns (P1): physical column dropped, numbering intact
    QueryDef("p1_skip_columns", (s, d) => {
      val tmp = tempDirUntilExit("graft_skipcols").resolve("skipcols.csv")
      val rows = t(s, d, "region").select(col("r_regionkey").cast("long"), col("r_name"))
        .collect().sortBy(_.getLong(0))
        .map(r => s"pad;${r.getLong(0)};${r.getString(1)}")
      java.nio.file.Files.writeString(tmp, "skip;key;name\n" + rows.mkString("\n"))
      val dialect = graft.model.DialectMeta(delimiter = ";", skipColumns = 1)
      graft.sources.CsvDialectSource.readExact(s, tmp.toString, dialect).rows
    },
      """SELECT CAST(row_number() OVER (ORDER BY r_regionkey) AS BIGINT) AS _row,
        |  CAST(row_number() OVER (ORDER BY r_regionkey) + 1 AS BIGINT) AS _sourceRow,
        |  CAST(r_regionkey AS VARCHAR) AS _c1, r_name AS _c2
        |FROM region""".stripMargin),

    // ---- table-level suppressOutput (P3): the suppressed table binds and
    // validates but emits no triples
    QueryDef("p3_suppress_table", (s, d) => {
      import s.implicits._
      val group = CsvwJson.parseTableGroup("""{
        "tables": [
          {"url": "http://example.org/keep.csv",
           "tableSchema": {"columns": [{"name": "name"}]}},
          {"url": "http://example.org/hide.csv", "suppressOutput": true,
           "tableSchema": {"columns": [{"name": "secret"}]}}
        ]
      }""")
      val keep = Seq(("alice", 1), ("bob", 2)).toDF("name", "rn")
      val hide = Seq(("s1", 1), ("s2", 2)).toDF("secret", "rn")
      val bind = Map(
        "http://example.org/keep.csv" -> mapper.CsvwPipeline.BoundTable(
          keep, Map.empty, col("rn"), col("rn"), col("rn")),
        "http://example.org/hide.csv" -> mapper.CsvwPipeline.BoundTable(
          hide, Map.empty, col("rn"), col("rn"), col("rn")))
      mapper.CsvwPipeline.run(s, group, bind,
        mapper.CsvwPipeline.Options(minimal = true)).triples
    },
      """SELECT * FROM (VALUES
        |  ('_:d1', 'http://example.org/keep.csv#name', 'alice', FALSE,
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  ('_:d2', 'http://example.org/keep.csv#name', 'bob', FALSE, NULL, NULL)
        |) AS t(subj, pred, obj, obj_iri, lang, dtype)""".stripMargin),

    // ---- column numbering with skipColumns offset (W2)
    QueryDef("w2_column_numbering", (s, d) => {
      import s.implicits._
      val json = """{"url":"http://e/t",
        "dialect": {"skipColumns": 2},
        "tableSchema":{"columns":[
          {"name":"a"},{"name":"b"},{"name":"c"}]}}"""
      val tbl = Resolve.group(CsvwJson.parseTableGroup(json)).head
      tbl.columns.map(c => (c.name, c.number, c.sourceNumber)).toDF("name", "number", "source_number")
    },
      """SELECT * FROM (VALUES
        |  ('a', 1, 3), ('b', 2, 4), ('c', 3, 5)
        |) AS t(name, number, source_number)""".stripMargin),

    // ---- HTML table scan (S2): fragment-selected table, th header row,
    // fixture-verified numbering (logical over data rows, source = tr index)
    QueryDef("s2_html_table", (s, d) => {
      val tmp = tempDirUntilExit("graft_html").resolve("regions.html")
      val rows = t(s, d, "region").select(col("r_regionkey").cast("long"), col("r_name"))
        .collect().sortBy(_.getLong(0))
        .map(r => s"<tr><td>${r.getLong(0)}</td><td>${r.getString(1)}</td></tr>")
      val content =
        s"""<html><body>
           |<table id="other"><tr><th>x</th></tr><tr><td>ignored</td></tr></table>
           |<table id="regions"><caption>Regions</caption>
           |<tr><th>key</th><th>name</th></tr>
           |${rows.mkString("\n")}
           |</table></body></html>""".stripMargin
      java.nio.file.Files.writeString(tmp, content)
      graft.sources.HtmlTableSource.readTable(s, tmp.toString, Some("regions")).rows
    },
      // HTML rows number from (total tr count) + 1 — the regions table has a
      // header tr plus one tr per region, so the first data row is
      // (1 + count(*)) + 1; logical and source numbers coincide on the HTML
      // leg (metadata.rb:876-885; countries_embed-standard.ttl rownum 5..7)
      """SELECT CAST(row_number() OVER (ORDER BY r_regionkey)
        |       + (SELECT count(*) FROM region) + 1 AS BIGINT) AS _row,
        |  CAST(row_number() OVER (ORDER BY r_regionkey)
        |       + (SELECT count(*) FROM region) + 1 AS BIGINT) AS _sourceRow,
        |  CAST(r_regionkey AS VARCHAR) AS _c1, r_name AS _c2
        |FROM region""".stripMargin),

    // ---- CSV dialect scan (S1 exact semantics): comment line consumed by
    // skipRows (physical-count semantics per reference each_row
    // metadata.rb:884-886), header row consumed, 5 data rows with
    // logical/source numbering — the expectation is region itself, so the
    // oracle reconstructs it in SQL
    QueryDef("s3_csv_dialect", (s, d) => {
      val tmp = tempDirUntilExit("graft_dialect").resolve("dialect.csv")
      val rows = t(s, d, "region").select(col("r_regionkey").cast("long"), col("r_name"))
        .collect().sortBy(_.getLong(0))
        .map(r => s"${r.getLong(0)};${r.getString(1)}")
      val content = "# generated\nkey;name\n" + rows.mkString("\n")
      java.nio.file.Files.writeString(tmp, content)
      val dialect = graft.model.DialectMeta(delimiter = ";", commentPrefix = Some("#"),
        skipRows = 1)
      graft.sources.CsvDialectSource.readExact(s, tmp.toString, dialect).rows
    },
      // readExact over the region-derived CSV: 1 skipped comment line + 1
      // header line, then the 5 regions with logical/source row numbers
      """SELECT CAST(row_number() OVER (ORDER BY r_regionkey) AS BIGINT) AS _row,
        |  CAST(row_number() OVER (ORDER BY r_regionkey) + 2 AS BIGINT) AS _sourceRow,
        |  CAST(r_regionkey AS VARCHAR) AS _c1, r_name AS _c2
        |FROM region""".stripMargin),

    // ---- metadata discovery precedence (S4): user-supplied beats
    // {+url}-metadata.json beats .well-known/csvm templates beats synthesis
    QueryDef("s4_discovery", (s, d) => {
      import s.implicits._
      import java.nio.file.Files
      def mkCsv(dir: java.nio.file.Path): java.nio.file.Path = {
        val f = dir.resolve("f.csv"); Files.writeString(f, "a\n1\n"); f
      }
      def meta(url: String) = s"""{"url": "$url", "tableSchema": {"columns": [{"name": "a"}]}}"""
      // scenario 1: {+url}-metadata.json default template
      val d1 = tempDirUntilExit("graft_disc1"); val c1 = mkCsv(d1)
      Files.writeString(java.nio.file.Paths.get(c1.toString + "-metadata.json"),
        meta("http://example.org/disc_default"))
      // scenario 2: .well-known/csvm custom template
      val d2 = tempDirUntilExit("graft_disc2"); val c2 = mkCsv(d2)
      Files.createDirectories(d2.resolve(".well-known"))
      Files.writeString(d2.resolve(".well-known").resolve("csvm"), "custom.json\n")
      Files.writeString(d2.resolve("custom.json"), meta("http://example.org/disc_wellknown"))
      // scenario 3: user-supplied metadata wins over defaults
      val d3 = tempDirUntilExit("graft_disc3"); val c3 = mkCsv(d3)
      Files.writeString(java.nio.file.Paths.get(c3.toString + "-metadata.json"),
        meta("http://example.org/ignored"))
      val user = d3.resolve("user.json")
      Files.writeString(user, meta("http://example.org/disc_user"))
      // scenario 4: nothing found → synthesized TableGroup from the file
      val d4 = tempDirUntilExit("graft_disc4"); val c4 = mkCsv(d4)
      Seq(
        ("default_template",
          graft.sources.CsvwDiscover.forInput(c1.toString).tables.head.url),
        ("wellknown_template",
          graft.sources.CsvwDiscover.forInput(c2.toString).tables.head.url),
        ("user_supplied",
          graft.sources.CsvwDiscover.forInput(c3.toString, Some(user.toString)).tables.head.url),
        ("synthesized",
          // temp path is run-specific — report the stable basename
          graft.sources.CsvwDiscover.forInput(c4.toString).tables.head.url.split('/').last)
      ).toDF("scenario", "url")
    },
      """SELECT * FROM (VALUES
        |  ('default_template', 'http://example.org/disc_default'),
        |  ('wellknown_template', 'http://example.org/disc_wellknown'),
        |  ('user_supplied', 'http://example.org/disc_user'),
        |  ('synthesized', 'f.csv')
        |) AS t(scenario, url)""".stripMargin),

    // ---- metadata file source → full inheritance resolution (S3/S5): a
    // JSON document read from disk, parsed and resolved plan-time —
    // schema-level inherited datatype/lang, titles-derived (pct-encoded)
    // names, virtual columns, skipColumns source numbering
    QueryDef("s5_metadata_resolve", (s, d) => {
      import s.implicits._
      val meta = """{
        "tables": [{
          "url": "http://example.org/t1.csv",
          "dialect": {"skipColumns": 1},
          "tableSchema": {
            "columns": [
              {"name": "id", "datatype": "integer"},
              {"titles": "Pretty Title"},
              {"name": "amount"},
              {"name": "link", "virtual": true,
               "aboutUrl": "http://example.org/{id}",
               "valueUrl": "http://example.org/v"}
            ],
            "lang": "en",
            "datatype": "number"
          }
        }]
      }"""
      val f = tempDirUntilExit("graft_meta").resolve("metadata.json")
      java.nio.file.Files.writeString(f, meta)
      val group = CsvwJson.parseTableGroup(java.nio.file.Files.readString(f))
      Resolve.group(group).flatMap(t => t.columns.map(c =>
          (t.url, c.name, c.number, c.sourceNumber, c.datatypeIri, c.virtual, c.lang)))
        .toDF("table_url", "col_name", "col_number", "source_number",
          "datatype_iri", "virtual", "lang")
    },
      """SELECT * FROM (VALUES
        |  ('http://example.org/t1.csv', 'id', 1, 2,
        |   'http://www.w3.org/2001/XMLSchema#integer', FALSE, 'en'),
        |  ('http://example.org/t1.csv', 'Pretty%20Title', 2, 3,
        |   'http://www.w3.org/2001/XMLSchema#double', FALSE, 'en'),
        |  ('http://example.org/t1.csv', 'amount', 3, 4,
        |   'http://www.w3.org/2001/XMLSchema#double', FALSE, 'en'),
        |  ('http://example.org/t1.csv', 'link', 4, 5,
        |   'http://www.w3.org/2001/XMLSchema#double', TRUE, 'en')
        |) AS t(table_url, col_name, col_number, source_number, datatype_iri, virtual, lang)""".stripMargin),

    // ---- declared↔embedded compatibility report (S5,
    // metadata.rb:1004-1087): title mismatch degrades to a warning
    // non-strict and an error strict
    QueryDef("s5_compat_report", (s, d) => {
      import s.implicits._
      val declared = CsvwJson.parseTableGroup("""{
        "url": "http://example.org/t.csv",
        "tableSchema": {"columns": [
          {"name": "alpha", "titles": "alpha"},
          {"name": "beta", "titles": "beta"}]}
      }""")
      val embedded = List(
        graft.model.ColumnMeta(titles = List(("und", "alpha"))),
        graft.model.ColumnMeta(titles = List(("und", "GAMMA"))))
      Seq(false, true).flatMap { strict =>
        val r = graft.model.CsvwValidate.verifyCompatible(
          declared, "http://example.org/t.csv", embedded, strict)
        r.warnings.map(w => (strict, "warning", w)) ++
          r.errors.map(e => (strict, "error", e))
      }.toDF("strict", "severity", "message")
    },
      """SELECT * FROM (VALUES
        |  (FALSE, 'warning', 'Column 2 doesn''t match on titles: List(beta) vs List(GAMMA)'),
        |  (TRUE, 'error', 'Column 2 doesn''t match on titles: List(beta) vs List(GAMMA)')
        |) AS t(strict, severity, message)""".stripMargin),

    // ---- common properties → triples (T4; metadata.rb:923-981)
    QueryDef("t4_common_properties", (s, d) => {
      import s.implicits._
      val trs =
        graft.mapper.Annotations.commonProperty("_:tg", "dc:title",
          """{"@value": "Tree Operations", "@language": "en"}""", "a") ++
        graft.mapper.Annotations.commonProperty("_:tg", "dcat:keyword",
          """["tree", "street"]""", "b") ++
        graft.mapper.Annotations.commonProperty("_:tg", "dc:license",
          """{"@id": "http://opendefinition.org/licenses/cc-by/"}""", "c") ++
        graft.mapper.Annotations.commonProperty("_:tg", "notes",
          """"plain note"""", "d")
      trs.toDF()
    },
      """SELECT * FROM (VALUES
        |  ('_:tg', 'http://purl.org/dc/terms/title', 'Tree Operations', FALSE, 'en', CAST(NULL AS VARCHAR)),
        |  ('_:tg', 'http://www.w3.org/ns/dcat#keyword', 'tree', FALSE, NULL, NULL),
        |  ('_:tg', 'http://www.w3.org/ns/dcat#keyword', 'street', FALSE, NULL, NULL),
        |  ('_:tg', 'http://purl.org/dc/terms/license', 'http://opendefinition.org/licenses/cc-by/', TRUE, NULL, NULL),
        |  ('_:tg', 'http://www.w3.org/ns/csvw#note', 'plain note', FALSE, NULL, NULL)
        |) AS t(subj, pred, obj, obj_iri, lang, dtype)""".stripMargin),

    // ---- provenance activity (T5; reader.rb:234-261, injected timestamps)
    QueryDef("t5_provenance", (s, d) => {
      import s.implicits._
      graft.mapper.Annotations.provenance("_:tg",
        tableUrls = Seq("http://example.org/transcripts"),
        metadataFiles = Seq("http://example.org/transcripts-metadata.json"),
        startedAt = "2026-01-01T00:00:00Z", endedAt = "2026-01-01T00:00:01Z").toDF()
    }, {
      val P = "http://www.w3.org/ns/prov#"
      val R = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
      val C = "http://www.w3.org/ns/csvw#"
      s"""SELECT * FROM (VALUES
         |  ('_:tg', '${P}wasGeneratedBy', '_:prov_activity', TRUE, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
         |  ('_:prov_activity', '$R', '${P}Activity', TRUE, NULL, NULL),
         |  ('_:prov_activity', '${P}wasAssociatedWith', 'https://example.org/graft-spark', TRUE, NULL, NULL),
         |  ('_:prov_activity', '${P}startedAtTime', '2026-01-01T00:00:00Z', FALSE, NULL, '${X}dateTime'),
         |  ('_:prov_activity', '${P}endedAtTime', '2026-01-01T00:00:01Z', FALSE, NULL, '${X}dateTime'),
         |  ('_:prov_activity', '${P}qualifiedUsage', '_:prov_usage1', TRUE, NULL, NULL),
         |  ('_:prov_usage1', '$R', '${P}Usage', TRUE, NULL, NULL),
         |  ('_:prov_usage1', '${P}hadRole', '${C}csvEncodedTabularData', TRUE, NULL, NULL),
         |  ('_:prov_usage1', '${P}entity', 'http://example.org/transcripts', TRUE, NULL, NULL),
         |  ('_:prov_activity', '${P}qualifiedUsage', '_:prov_usage2', TRUE, NULL, NULL),
         |  ('_:prov_usage2', '$R', '${P}Usage', TRUE, NULL, NULL),
         |  ('_:prov_usage2', '${P}hadRole', '${C}tabularMetadata', TRUE, NULL, NULL),
         |  ('_:prov_usage2', '${P}entity', 'http://example.org/transcripts-metadata.json', TRUE, NULL, NULL)
         |) AS t(subj, pred, obj, obj_iri, lang, dtype)""".stripMargin
    }),

    // ---- file-driven reader entry point (Reader.open analog): CSV +
    // discovered {+url}-metadata.json → dialect scan → pipeline, end-to-end
    QueryDef("r1_reader_open", (s, d) => {
      val dir = tempDirUntilExit("graft_reader")
      val rows = t(s, d, "region").select(col("r_regionkey").cast("long"), col("r_name"))
        .collect().sortBy(_.getLong(0))
        .map(r => s"${r.getLong(0)},${r.getString(1)}")
      val csv = dir.resolve("regions.csv")
      java.nio.file.Files.writeString(csv, "key,name\n" + rows.mkString("\n") + "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(csv.toString + "-metadata.json"),
        """{"url": "regions.csv", "tableSchema": {
            "aboutUrl": "#r{key}",
            "columns": [
              {"name": "key", "titles": "key", "datatype": "integer"},
              {"name": "name", "titles": "name", "datatype": "string"}]}}""")
      mapper.CsvwReader.open(s, csv.toString, "http://example.org/regions.csv",
        minimal = true).result.triples
    },
      // header tr is source row 1; data rows follow (countries_html fixture
      // numbering)
      """WITH r AS (SELECT r_regionkey AS k, r_name AS n FROM region)
        |SELECT 'http://example.org/regions.csv#r' || CAST(k AS VARCHAR) AS subj,
        |  'http://example.org/regions.csv#key' AS pred, CAST(k AS VARCHAR) AS obj,
        |  FALSE AS obj_iri, CAST(NULL AS VARCHAR) AS lang,
        |  'http://www.w3.org/2001/XMLSchema#integer' AS dtype FROM r
        |UNION ALL
        |SELECT 'http://example.org/regions.csv#r' || CAST(k AS VARCHAR) AS subj,
        |  'http://example.org/regions.csv#name' AS pred, n AS obj,
        |  FALSE AS obj_iri, CAST(NULL AS VARCHAR) AS lang,
        |  CAST(NULL AS VARCHAR) AS dtype FROM r""".stripMargin),

    QueryDef("v1_turn_invariant", (s, d) =>
      Validations.turnTextConsistency(transcripts(s, d)),
      s"""$trCte
         |SELECT conv_id, turn_idx, count(DISTINCT text) AS n_texts FROM transcripts
         |GROUP BY conv_id, turn_idx HAVING count(DISTINCT text) > 1""".stripMargin),

    // ---- streaming ingest (file source → watermark window agg → memory sink)
    QueryDef("str1_stream_counts", (s, d) => {
      val tmp = streamFixture(s, d)
      drainToMemory(s, "graft_stream_counts", "complete", 8) {
        TranscriptStream.turnCounts(TranscriptStream.readStream(s, tmp))
      }.select(
        date_format(col("window.start"), "yyyy-MM-dd'T'HH:mm:ss").as("window_start"),
        col("conv_id"), col("turns"))
    },
      s"""$trCte
         |SELECT strftime(date_trunc('minute', ts), '%Y-%m-%dT%H:%M:%S') AS window_start,
         |  conv_id, count(*) AS turns
         |FROM transcripts GROUP BY 1, 2""".stripMargin),

    // streaming entity linking: the batch mention plan (broadcast dict
    // join) composed with watermark + windowed counts — state bounded by
    // watermark horizon x live entities, never corpus-sized; the oracle is
    // the batch equivalent over the same transcripts
    QueryDef("str4_stream_mentions", (s, d) => {
      import s.implicits._
      val tmp = streamFixture(s, d)
      val dict = Seq(("e_13", "13"), ("e_42", "42"), ("e_87", "87"))
        .toDF("entity_id", "surface")
      drainToMemory(s, "graft_stream_mentions", "complete", 8) {
        TranscriptStream.mentionCounts(TranscriptStream.readStream(s, tmp), dict)
      }.select(
        date_format(col("window.start"), "yyyy-MM-dd'T'HH:mm:ss").as("window_start"),
        col("entity_id"), col("mentions"))
    },
      // batch equivalent of the streaming mention counts: same tokenizer,
      // dictionary, and 1-minute event-time window
      s"""$trCte,
         |dict(entity_id, surface) AS (VALUES
         |  ('e_13','13'),('e_42','42'),('e_87','87')),
         |toks AS (
         |  SELECT ts, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |  FROM transcripts)
         |SELECT strftime(date_trunc('minute', ts), '%Y-%m-%dT%H:%M:%S') AS window_start,
         |  entity_id, count(*) AS mentions
         |FROM toks JOIN dict ON tok = surface
         |WHERE length(tok) > 1
         |GROUP BY 1, 2""".stripMargin),

    // ---- streaming stateful dedup (flatMapGroupsWithState with event-time
    // TTL state): each distinct triple emitted exactly once within the
    // horizon — the fixture's event-time span sits inside the 365-day TTL,
    // so the output equals batch DISTINCT and the state stays bounded
    QueryDef("str2_stream_dedup", (s, d) => {
      val tmp = streamFixture(s, d)
      // state keys here are DISTINCT TRIPLES (~0.5M at sf0.1, not the
      // handful of windows str1 keeps): the per-key typed serde +
      // state-store ops are the batch's CPU, so parallelism should match
      // cores, not be sized down to a small key space
      drainToMemory(s, "graft_stream_dedup", "append", 32) {
        val trip = TranscriptStream.triples(TranscriptStream.readStream(s, tmp),
          transcriptTable, carryEventTime = true)
        TranscriptStream.dedupedTriplesTtl(trip, ttl = java.time.Duration.ofDays(365))
          .toDF("subj", "pred", "obj")
      }
    },
      s"$trCte SELECT DISTINCT subj, pred, obj FROM (\n$minimalTriplesSelect\n)"),

    // native dropDuplicatesWithinWatermark variant: the fixture is one
    // microbatch (watermark only advances between batches), so the output
    // is deterministically the batch DISTINCT — same oracle as str2
    QueryDef("str3_stream_dedup_native", (s, d) => {
      val tmp = streamFixture(s, d)
      // same key cardinality as str2: parallelism matches cores
      drainToMemory(s, "graft_stream_dedup_native", "append", 32) {
        TranscriptStream.dedupedTriplesNative(TranscriptStream.triples(
          TranscriptStream.readStream(s, tmp), transcriptTable, carryEventTime = true))
      }
    },
      s"$trCte SELECT DISTINCT subj, pred, obj FROM (\n$minimalTriplesSelect\n)")))

  private def unique(qs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
}
