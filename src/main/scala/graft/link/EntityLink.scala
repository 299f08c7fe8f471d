package graft.link

import org.apache.spark.sql.{DataFrame, GraftBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Entity linking over emitted text (north_star: "batched mention-detection +
  * entity-link scoring via broadcast-dictionary hash joins"). No analog in
  * the reference (nearest: cross-table `valueUrl` IRIs,
  * `/root/reference/spec/data/countries.json`); designed Spark-first.
  */
object EntityLink {

  /** Detect dictionary mentions in a text column.
    *
    * Scale design: the dictionary is the small side — broadcast hash join, no
    * shuffle of the corpus. Mentions are extracted by tokenizing
    * (`split` + `posexplode`) so the join key is a single token; candidate
    * scoring is exact-match + length-normalized and fully codegen'd.
    *
    * @param corpus  rows with (`keyCol`, `textCol`)
    * @param dictionary rows with (`entity_id`, `surface`) — small
    * @return (keyCol, mention, pos, entity_id, score)
    */
  def mentions(corpus: DataFrame, dictionary: DataFrame,
               keyCol: String, textCol: String): DataFrame = {
    val toks = corpus
      .select(col(keyCol), posexplode(split(lower(col(textCol)), "[^a-z0-9]+")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 1)
    val dict = dictionary
      .select(col("entity_id"), lower(col("surface")).as("tok"))
      .dropDuplicates("tok", "entity_id")
    toks.join(broadcast(dict), Seq("tok"))
      .select(
        col(keyCol), col("tok").as("mention"), col("pos"), col("entity_id"),
        (length(col("tok")) / lit(20.0)).as("score"))
  }

  /** Candidate-match edges between rows that share a linked entity, in
    * star topology — input to [[ConnectedComponents]] for
    * canonicalization. Per entity, every member links to the MIN member
    * (the hub), so the rows of one entity are connected with Σk edges; an
    * all-pairs edge set connects the same nodes into the same components
    * with Σk², and a hot entity with 10⁶ co-mentions would make that a
    * 10¹²-row join output (the job-killer the north-star's "hot entities"
    * clause names). One hash aggregate (map-side combinable min) plus one
    * entity-keyed join; no hints, AQE handles the hot-entity skew on the
    * join key.
    */
  def starEdges(mentionsDf: DataFrame, keyCol: String): DataFrame = {
    val nodes = mentionsDf.select(col("entity_id"), col(keyCol).as("member"))
      .dropDuplicates()
    val hubs = nodes.groupBy("entity_id").agg(min("member").as("hub"))
    nodes.join(hubs, "entity_id")
      .filter(col("member") =!= col("hub"))
      .select(col("hub").as("src"), col("member").as("dst"))
      .dropDuplicates()
  }

  /** Canonicalize a triple table through a component labelling: every
    * subject that belongs to a component is rewritten to the component's
    * canonical id (its lexicographic-min member — [[ConnectedComponents]]'
    * label). Subjects outside any component pass through unchanged (left
    * join + coalesce). This only rewrites: co-referent subjects can carry
    * identical (pred, obj) legs, and the graph sink
    * ([[graft.materialize.GraphWriter.sink]]) removes those duplicates with
    * the rest, in the graph's one dedup.
    *
    * Scale shape: the canonical map is corpus-sized at web scale (one row
    * per linked subject), so the rewrite is a subj-keyed equi-join with NO
    * broadcast hint — AQE broadcasts it at fixture scale and shuffle-joins
    * at data scale.
    */
  def canonicalizeSubjects(triples: DataFrame, components: DataFrame): DataFrame =
    triples.join(
        components.select(col("id").as("subj"), col("component").as("canon")),
        Seq("subj"), "left")
      .select(coalesce(col("canon"), col("subj")).as("subj"), col("pred"),
        col("obj"), col("obj_iri"), col("lang"), col("dtype"))
}

/** Connected components over an edge DataFrame — hand-rolled (no GraphX),
  * deterministic (north_star "canonicalization through iterative
  * connected-components"). Every node is labelled with its component's
  * minimum member id in Spark's string order (binary UTF-8, i.e. Unicode
  * code point order — not `String.compareTo`'s UTF-16 order, which differs
  * once ids hold supplementary-plane characters).
  *
  * Null rule: an edge with a null `src` or `dst` is dropped before anything
  * else, so no null id is labelled and a null never joins two components.
  * A node seen only on such edges gets no label.
  *
  * Two legs, chosen by the size of the symmetric edge set. Its checkpoint
  * observes the UTF-8 byte total of its ids (`Dataset.observe`, no extra
  * job):
  *
  *  - Local leg: when that total is within [[localBound]] (1/32 of the
  *    driver's maximum heap, capped by `spark.driver.maxResultSize`), one
  *    more job collects the edges and a union-find on the driver
  *    labels every node in one pass. At the sizes the pipelines meet (~15 k
  *    edges) CC cost is per-job overhead, not rows, so this replaces every
  *    round of the loop below. The labels come back as a relation over an
  *    RDD with no size estimate — the shape of the loop's last checkpoint —
  *    so downstream joins plan exactly as they do after the loop (an exact
  *    local size would make the planner broadcast the canonical map).
  *  - Distributed leg, for edge sets over the bound: min-label propagation
  *    *plus pointer jumping*, checkpointed every round so the plan lineage
  *    stays bounded. Each round a node takes the minimum of (its label, its
  *    neighbors' labels, its label's label). The pointer-jump term halves
  *    label-chain depth every round when ids increase along a chain, so such
  *    a path of length L converges in O(log L) rounds instead of the O(L)
  *    of plain propagation. Ids in random order along a long path leave
  *    local minima that the jump cannot skip: a 300-node path with shuffled
  *    ids takes 50–180 rounds. Non-convergence within `maxIterations` throws
  *    rather than returning silently wrong labels.
  *
  * Scale notes (distributed leg): each round is ONE join and ONE aggregate
  * on the node-id key. The neighbor leg and the pointer-jump leg both feed
  * the same decomposable `min`, so they share one join, one exchange and
  * one aggregate. The round's only action is its own eager
  * `localCheckpoint`, which truncates lineage and, through
  * `Dataset.observe`, counts the nodes whose label changed — no separate
  * convergence probe. Sharing one join matters because of checkpoint size
  * estimates: a checkpoint inherits its source plan's estimate and a join's
  * estimate is the product of its inputs', so the estimate squares every
  * round (GiBs for ~15 k labels after five rounds). The planner then
  * shuffles both sides of every join over checkpoints, and only AQE, from
  * the shuffles' real sizes, demotes the join to a broadcast — each join
  * costs its own shuffles. Past ~20 rounds the estimate runs to numbers of
  * thousands of digits whose arithmetic alone stalls planning, so every
  * checkpoint here drops its estimate: the planner sees an unknown size (a
  * shuffle join, as before) and AQE still picks the strategy from real
  * sizes. Hot components are skewed keys covered by AQE skew handling.
  */
object ConnectedComponents {

  /** @param edges (src, dst) string columns
    * @return (id, component) where component = min node id in the component
    */
  def run(spark: SparkSession, edges: DataFrame, maxIterations: Int = 50): DataFrame =
    run(spark, edges, maxIterations, localBound(Runtime.getRuntime.maxMemory,
      spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")))

  /** The local leg's bound on the observed id bytes: 1/32 of the driver's
    * maximum heap, and at most 1/4 of `maxResultSize` (0: no limit), past
    * which the collect would abort where the loop succeeds. On kg_full's
    * edge set the collected result (serialized, compressed) is 0.29 of the
    * observed id bytes (345,260 of 1,201,504); the quarter leaves room for
    * ids that compress worse. */
  private[graft] def localBound(maxHeap: Long, maxResultSize: Long): Long =
    if (maxResultSize <= 0) maxHeap / 32 else math.min(maxHeap / 32, maxResultSize / 4)

  /** [[run]] with the local leg's byte bound explicit: 0 forces the loop on
    * any non-empty edge set. */
  private[graft] def run(spark: SparkSession, edges: DataFrame, maxIterations: Int,
                         localBytes: Long): DataFrame = {
    val e = edges.filter(col("src").isNotNull && col("dst").isNotNull)
    val size = new Observation()
    val sym = checkpoint(e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates()
      .observe(size, coalesce(sum(octet_length(col("src")) + octet_length(col("dst"))), lit(0L))
        .as("bytes")))
    if (size.get("bytes").asInstanceOf[Long] <= localBytes) unionFind(spark, sym)
    else propagate(sym, maxIterations)
  }

  /** The local leg: one side of every symmetric edge pair (self-loops kept,
    * so their node is labelled) through a union-find whose roots keep their
    * set's minimum member. */
  private def unionFind(spark: SparkSession, sym: DataFrame): DataFrame = {
    val index = scala.collection.mutable.HashMap.empty[String, Int]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lowest = scala.collection.mutable.ArrayBuffer.empty[String] // read at roots only
    def node(v: String): Int =
      index.getOrElseUpdate(v, { parent += parent.length; lowest += v; parent.length - 1 })
    def find(v: Int): Int = {
      var i = v
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    sym.filter(col("src") <= col("dst")).collect().foreach { r =>
      val (a, b) = (find(node(r.getString(0))), find(node(r.getString(1))))
      if (a != b) {
        parent(b) = a
        if (UTF8String.fromString(lowest(b)).compareTo(UTF8String.fromString(lowest(a))) < 0)
          lowest(a) = lowest(b)
      }
    }
    val rows = index.toSeq.map { case (v, i) => Row(v, lowest(find(i))) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism),
      StructType(Seq(StructField("id", StringType), StructField("component", StringType))))
  }

  /** The distributed leg: the per-round loop over the checkpointed `sym`. */
  private def propagate(sym: DataFrame, maxIterations: Int): DataFrame = {
    // neighbor requests: v asks for label(src) of each neighbor src. The
    // typed-null `old` keeps the union two-legged; max() ignores nulls.
    val neighbors = sym.select(col("src").as("key"), col("dst").as("id"),
      lit(null).cast("string").as("old"))

    // Initial labels fold the FIRST propagation round into the node-set
    // aggregate: label₀(v) = min(v, min neighbor) — one hash aggregate over
    // the symmetric edge set, the same single shuffle the old
    // distinct-then-identity init paid, but one whole join round further
    // along. Star-shaped entity graphs (g2) and near-dup triangles (d6)
    // are already converged here, so the loop runs only the confirming
    // round — measured round 9: g2's CC leg 2.1 s → ~1.3 s at sf0.1.
    // The invariant label(v) ≤ v (labels only ever decrease toward the
    // component minimum, and every label is a member id) holds from the
    // start, exactly as with identity init.
    var labels = checkpoint(sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("component")))

    var iter = 0
    var converged = false
    while (iter < maxIterations && !converged) {
      // pointer-jump request: v asks for label(label(v)), carrying label(v)
      // as `old`. Component ids are node ids, so every key has exactly one
      // labels row, and every node gets exactly one non-null `old`.
      // label(label(v)) ≤ label(v), so the old label never needs to enter
      // the min itself.
      val jumps = labels.select(col("component").as("key"), col("id"),
        col("component").as("old"))
      val changed = new Observation()
      val next = checkpoint(neighbors.union(jumps)
        .join(labels.toDF("key", "component"), "key")
        .groupBy("id").agg(min("component").as("component"), max(col("old")).as("old"))
        .observe(changed, count(when(col("component") =!= col("old"), lit(1))).as("n")))
      labels = next.select(col("id"), col("component"))
      converged = changed.get("n") == 0L
      iter += 1
    }
    require(converged,
      s"connected components did not converge within $maxIterations iterations")
    labels
  }

  /** Eager `localCheckpoint` with no size estimate (see the scale notes). */
  private def checkpoint(df: DataFrame): DataFrame =
    GraftBridge.withoutSizeEstimate(df.localCheckpoint())
}
