package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column. Brute-force cosine top-k is the exact baseline; the scale path is
  * sign-sketch (random-hyperplane LSH) bucketing, with hyperplanes derived
  * from seeded hashes so signatures are deterministic and shippable as pure
  * expressions.
  */
object AnnFunctions {

  /** Cosine similarity. Fused codegen ([[graft.expr.CosineExpr]]): one pass
    * with three scalar accumulators — the HOF composition
    * `dot/(norm*norm)` walked both arrays three times allocating a product
    * array per pass. Bit-identical to the HOF form (spec-pinned).
    */
  def cosine(a: Column, b: Column): Column =
    graft.expr.CsvwFunctions.cosineSim(a, b)

  /** Random-hyperplane sign sketch: bit j = sign(Σ_i e[i]·h(i,j,seed)) with
    * h = ±1 from xxhash64. Deterministic; `planes` bits packed into a long.
    * Distinct `seed`s give independent hyperplane sets — the basis for
    * OR-amplification across sketch tables. Fused codegen
    * ([[graft.expr.SignSketchExpr]]): the data-independent hyperplane matrix
    * is hashed once per (planes, seed, dim) and cached, so each row costs
    * dim×planes multiply-adds — the HOF form re-hashed every (i, j) pair per
    * row. Bit-identical to the HOF form (spec-pinned); seed 0 keeps the
    * two-arg hash chain so table 0's buckets stay stable across versions.
    */
  def signSketch(emb: Column, planes: Int, seed: Int = 0): Column =
    graft.expr.CsvwFunctions.signSketch(emb, planes, seed)

  /** Analytic recall of the multi-probe, OR-amplified sign-sketch blocking
    * for a pair at the given cosine: each plane disagrees with probability
    * q = acos(cosine)/π (Goemans-Williamson), a single table finds the pair
    * iff the sketches differ in ≤ probeBits planes, so
    * P₁ = Σ_{j≤probeBits} C(planes,j)·qʲ·(1−q)^(planes−j), and L independent
    * tables give recall 1 − (1 − P₁)^L. Use it to size `tables` for a
    * recall target at the threshold — e.g. planes=8, probeBits=2 at
    * cosine 0.93 gives P₁ ≈ 0.94, so tables=2 ⇒ ≈ 0.996.
    */
  def sketchRecall(cosine: Double, planes: Int, probeBits: Int, tables: Int): Double = {
    val q = math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi
    def choose(n: Int, k: Int): Double =
      (0 until k).map(i => (n - i).toDouble / (i + 1)).product
    val p1 = (0 to probeBits).map(j =>
      choose(planes, j) * math.pow(q, j) * math.pow(1 - q, planes - j)).sum
    1.0 - math.pow(1.0 - p1, tables)
  }

  /** Multi-probe bucket set: the sketch plus every variant within
    * `probeBits` flipped planes (masks enumerated at plan time — the probe
    * array is a constant-size projection, no per-row blowup beyond the
    * Σ C(planes,j) factor).
    */
  def probeBuckets(bucket: Column, planes: Int, probeBits: Int): Column = {
    // enumerate flip-combinations directly (Σ C(planes, j) masks) rather
    // than scanning 2^planes — plan-time cost stays polynomial in planes,
    // and planes = 64 no longer wraps 1L << 64 into a single zero mask
    require(planes >= 1 && planes <= 63, s"planes out of [1,63]: $planes")
    require(probeBits >= 0 && probeBits <= planes,
      s"probeBits out of [0,$planes]: $probeBits")
    def combos(start: Int, remaining: Int, acc: Long): Seq[Long] =
      acc +: (if (remaining == 0) Seq.empty[Long]
              else (start until planes).flatMap(b =>
                combos(b + 1, remaining - 1, acc | (1L << b))))
    val masks = combos(0, probeBits, 0L)
    array(masks.map(m => bucket.bitwiseXOR(lit(m))): _*)
  }

  /** Exact brute-force cosine top-k: queries × corpus join + window top-k.
    * Correctness baseline — O(|Q|·|C|); broadcast the smaller side.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, cId: String, embCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(qId).as("query_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("c_emb"))
    val scored = q.crossJoin(broadcast(c))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Top-`nprobe` nearest IVF cells (centroid indices, cosine-desc with
    * index tie-break) for an embedding. Fused codegen
    * ([[graft.expr.IvfCellsExpr]]): centroid norms precompute once, each row
    * costs |codebook|×dim multiply-adds in one pass.
    */
  def ivfCells(emb: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    graft.expr.CsvwFunctions.ivfCells(emb, centroids, nprobe)

  /** The `k` lowest-id embeddings in id order: the init of a Lloyd
    * training. The same job guards the whole corpus (the top-k sort reads
    * every row) with an observation, checked before any init row is read:
    * no null embedding and one length. [[trainRound]]'s per-cell mean
    * divides primitive `sum(element_at(emb, i))` columns by `count(*)`, so a
    * null or short embedding would count without summing and silently
    * deflate centroids; it fails with an `IllegalArgumentException` instead.
    */
  private def initRows(df: DataFrame, idCol: String, embCol: String,
                       k: Int): Array[Array[Double]] = {
    val guard = new Observation()
    val emb = col(embCol)
    val rows = df.observe(guard, count_if(emb.isNull).as("nulls"),
        min(size(emb)).as("min_len"), max(size(emb)).as("max_len"))
      .orderBy(col(idCol)).limit(k).select(emb).collect()
    val g = guard.get
    val (nulls, lo, hi) = (g("nulls"), g("min_len"), g("max_len"))
    require(nulls == 0L && lo == hi, s"embeddings must be non-null and of one length: " +
      s"$nulls null, lengths $lo to $hi — clean the corpus before training")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** One Lloyd round's aggregate plan: (cell, n, s0..s(dim-1)) — exposed so
    * the spec can pin the physical shape (no Generate, one exchange of
    * ~k×partitions partial rows).
    */
  private[graft] def trainRound(df: DataFrame, embCol: String,
                                centroids: Array[Array[Double]]): DataFrame = {
    val dim = centroids(0).length
    val sums = (0 until dim).map(i =>
      sum(element_at(col("x"), i + 1)).as(s"s$i"))
    df.select(element_at(ivfCells(col(embCol), centroids, 1), 1).as("cell"),
        col(embCol).as("x"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sums: _*)
  }

  /** Deterministic Lloyd (k-means) training for the IVF codebook, as the
    * batch job the 100 TB deployment runs offline. Everything is part of
    * the query contract so an oracle can replicate it: init = the `k`
    * lowest-id vectors in id order; each of the `iters` rounds assigns
    * every vector to its nearest centroid (cosine desc, index tie-break —
    * the SAME rule `ivfCells` applies at query time) and replaces each
    * centroid with the element-wise mean of its members (an empty cell
    * keeps its previous centroid). Assignment is a map-only pass with the
    * codebook as a plan reference object; the mean is ONE k-row hash
    * aggregate per round — `dim` primitive `sum(element_at(emb, i))`
    * columns plus a count, so the buffer stays all-primitive (whole-stage
    * HashAggregate fast path), the map side never inflates rows (the
    * earlier `posexplode` shape multiplied the map side by dim× per
    * round), and the exchange carries ~k×partitions partial rows instead
    * of N×dim. Only k×(dim+1) values reach the driver.
    *
    * Floating-point caveat: the mean's summation order is partition-order
    * dependent, so centroids can differ across runs in the last ulps;
    * assignments are stable as long as centroid margins exceed ~1e-12,
    * which holds for any non-degenerate corpus.
    */
  def trainCodebook(df: DataFrame, idCol: String, embCol: String,
                    k: Int, iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = initRows(df, idCol, embCol, k)
    require(centroids.length == k, s"corpus smaller than codebook: ${centroids.length} < $k")
    val dim = centroids(0).length
    for (_ <- 0 until iters) {
      val next = centroids.map(_.clone())
      trainRound(df, embCol, centroids).collect()
        .foreach { r =>
          val cell = r.getInt(0)
          val n = r.getLong(1).toDouble
          (0 until dim).foreach(i => next(cell)(i) = r.getDouble(2 + i) / n)
        }
      centroids = next
    }
    centroids
  }

  /** IVF (inverted-file) ANN top-k: every corpus vector is assigned to its
    * nearest-centroid cell in a map-only pass (the codebook ships as a
    * plan-reference object — zero shuffle for assignment), queries probe
    * their `nprobe` nearest cells, and candidates meet on a cell equi-join
    * before the exact cosine re-rank.
    *
    * The codebook stands in for an offline-trained quantizer (k-means at
    * 100 TB runs as its own batch job); any deterministic
    * `Array[Array[Double]]` works — the driver query samples corpus vectors.
    * Scale shape: the corpus side carries each embedding exactly once (one
    * cell per vector), only the small query side fans out ×nprobe; the one
    * shuffle is the cell join, whose volume is bucket occupancy, and AQE
    * broadcast-picks the probe side when |Q| is small. Recall is explicit:
    * a neighbor is found iff it lives in one of the query's `nprobe` cells —
    * raise `nprobe` (or the codebook size) to trade candidates for recall.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, cId: String, embCol: String, k: Int,
              centroids: Array[Array[Double]], nprobe: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cS = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("c_emb"),
      element_at(ivfCells(col(embCol), centroids, 1), 1).as("cell"))
    val qS = queries.select(col(qId).as("query_id"), col(embCol).as("q_emb"),
      explode(ivfCells(col(embCol), centroids, nprobe)).as("cell"))
    qS.join(cS, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed ANN top-k: candidates restricted to sign-sketch buckets
    * (multi-probe on the query side: exact bucket plus ≤ `probeBits` plane
    * flips), then exact re-rank. At 100 TB this replaces the cross join with
    * a bucket equi-join whose shuffle is proportional to bucket occupancy.
    * The sketch is computed once per row and staged as a column — round 1
    * re-evaluated the full 64-term sketch aggregate inside each probe's
    * lambda.
    *
    * `tables` > 1 OR-amplifies recall with independent hyperplane sets
    * (join key = (table_idx, bucket)); see [[sketchRecall]] for the formula
    * that sizes it against a recall target.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, cId: String, embCol: String, k: Int,
              planes: Int = 8, probeBits: Int = 2, tables: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tables >= 1, s"tables must be >= 1: $tables")
    val sketches = (0 until tables).map(t => signSketch(col(embCol), planes, t))
    // candidate generation carries IDS ONLY (see embeddingDupPairs: the
    // probe explode would otherwise ship every embedding ~37× per table);
    // vectors re-attach to the deduped candidate pairs for the exact re-rank
    val cS = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("c_emb"))
    val qS = queries.select(col(qId).as("query_id"), col(embCol).as("q_emb"))
    val cK = corpus.select(col(cId).as("neighbor_id"),
      posexplode(array(sketches: _*)).as(Seq("tbl", "bucket")))
    val qK = queries
      .select(col(qId).as("query_id"), posexplode(array(sketches: _*)).as(Seq("tbl", "sk")))
      .select(col("query_id"), col("tbl"),
        explode(probeBuckets(col("sk"), planes, probeBits)).as("bucket"))
    qK.join(cK, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).dropDuplicates()
      .join(qS, "query_id")
      .join(cS, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Product-quantization codebooks (Jégou et al., TPAMI 2011): the
    * embedding splits into `m` contiguous subvectors and each subspace
    * trains its own [[trainCodebook]] independently — same deterministic
    * Lloyd contract (lowest-id init, cosine-desc/index tie-break), so an
    * external oracle replays all `m` trainings with the shared chain.
    * Returns `codebooks(j)(c)` = centroid c of subspace j.
    *
    * This is the ANN MEMORY scale path: a PQ code is `m` small ints (m
    * bytes at k ≤ 256) versus dim×8 bytes for the raw vector — ×256
    * compression at dim=64/m=2, which is what lets a 10¹⁰-vector index
    * stay executor-resident at 100 TB corpus scale.
    *
    * Single-pass training (round 9): each Lloyd round is ONE corpus scan
    * producing every subspace's per-cell sums at once ([[trainPqRound]] —
    * one FileScan in the plan), where the round-8 form re-scanned the
    * corpus per subspace (m scans per round plus m dimension/validity
    * probes — at dim=768/m=96 that is 96× the training IO). The init
    * collect doubles as the dimension probe and the ragged/null guard, run
    * once instead of once per subspace. Codebooks are bit-identical
    * to independent per-slice [[trainCodebook]] runs (`IvfSpec` pins it):
    * per-(subspace, cell) sums accumulate over the same rows in the same
    * partition order either way — so only while the input partitioning
    * stays stable ([[trainCodebook]]'s floating-point caveat).
    */
  def trainPqCodebooks(df: DataFrame, idCol: String, embCol: String,
                       m: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    // init = the k lowest-id vectors (full-dim — each subspace slices its
    // window), ONE guarded collect that also yields the dimension
    val init = initRows(df, idCol, embCol, k)
    require(init.nonEmpty, "trainPqCodebooks: empty input — nothing to train on")
    require(init.length == k,
      s"corpus smaller than codebook: ${init.length} < $k")
    val dim = init(0).length
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    var codebooks: Array[Array[Array[Double]]] =
      (0 until m).toArray.map(j => init.map(_.slice(j * sub, (j + 1) * sub)))
    for (_ <- 0 until iters) {
      val next = codebooks.map(_.map(_.clone()))
      trainPqRound(df, embCol, codebooks).collect().foreach { r =>
        val j = r.getInt(0)
        val cell = r.getInt(1)
        val n = r.getLong(2).toDouble
        (0 until sub).foreach(i => next(j)(cell)(i) = r.getDouble(3 + i) / n)
      }
      codebooks = next
    }
    codebooks
  }

  /** One single-pass PQ Lloyd round: ONE corpus scan feeding a
    * (subspace, cell)-grouped hash aggregate — rows
    * `(s, cell, n, s0..s(sub-1))`, the PQ analog of [[trainRound]]'s
    * k-row shape. Each input row explodes into its `m` subspace entries
    * (bounded ×m, each carrying only the `dim/m`-wide subvector — the
    * total exploded payload equals the input payload), and map-side
    * partial aggregation collapses them to ~m·k rows per partition before
    * the one tiny exchange. Replaces the round-8 per-subspace re-scan (m
    * FileScans per Lloyd round); an m·k·(dim/m+1)-column flat aggregate
    * was also tried and rejected — Catalyst planning + codegen of ~1000
    * aggregate buffers cost more per round than the scan it saved
    * (measured: s4 1.5 s → 7.4 s). Sums accumulate the same slice values
    * in the same partition order as the per-slice form, so codebooks stay
    * bit-identical on stable input partitioning (`IvfSpec` pins parity);
    * an empty cell emits no row and keeps its previous centroid, as [[trainRound]].
    */
  private[graft] def trainPqRound(df: DataFrame, embCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val subEntries = array((0 until m).map { j =>
      val sv = slice(col(embCol), j * sub + 1, sub)
      struct(lit(j).as("s"),
        element_at(ivfCells(sv, codebooks(j), 1), 1).as("cell"),
        sv.as("sv"))
    }: _*)
    val sums = (0 until sub).map(i =>
      sum(element_at(col("sv"), i + 1)).as(s"s$i"))
    df.select(explode(subEntries).as("e"))
      .select(col("e.s").as("s"), col("e.cell").as("cell"), col("e.sv").as("sv"))
      .groupBy("s", "cell")
      .agg(count(lit(1)).as("n"), sums: _*)
  }

  /** PQ encode: `array(m)` of nearest-subspace-centroid indices — the same
    * fused zero-shuffle assignment expression as IVF, once per subspace.
    * Map-only; the corpus is read exactly once.
    */
  def pqCodes(emb: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val sub = codebooks(0)(0).length
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      element_at(ivfCells(slice(emb, j * sub + 1, sub), cb, 1), 1)
    }: _*)
  }

  /** The full two-stage PQ pipeline: ADC candidate generation
    * ([[pqTopK]], `candidates` per query — cheap, codes only) followed by
    * an EXACT cosine re-rank of just those candidates against the raw
    * vectors. This is the published deployment shape (coarse ADC recall,
    * exact order restored on a bounded set): the re-rank joins the
    * candidate ids back to the corpus — |Q|·candidates rows, a droplet
    * against the corpus — so the expensive dim-length dot products run
    * O(|Q|·candidates) times instead of O(|Q|·|C|). Both re-rank joins are
    * hint-free (round 9 — the round-8 hard `broadcast(qv)` shipped
    * |Q|·dim·8 raw bytes with no |Q| bound, ~6 GB at 10⁶ queries × 768d):
    * AQE broadcasts the candidate list and the query vectors while their
    * runtime size allows and falls back to a keyed shuffle join past that,
    * so an unbounded query set degrades to an extra exchange instead of a
    * driver OOM.
    *
    * The ADC stage caps the pool at `candidates` rows per query, so
    * asking for more than `candidates` neighbors (`k > candidates`) throws
    * `IllegalArgumentException` rather than return a short list.
    */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame,
                   qId: String, cId: String, embCol: String, k: Int,
                   codebooks: Array[Array[Array[Double]]],
                   candidates: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k <= candidates,
      s"k=$k exceeds the ADC candidate pool ($candidates) — raise candidates")
    val cand = pqTopK(queries, corpus, qId, cId, embCol, candidates, codebooks)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(qId).as("query_id"), col(embCol).as("q_emb"))
    val cv = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("c_emb"))
    cand.join(cv, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes via the published
    * lookup-table plan: each query precomputes its similarity to every
    * subspace centroid (a |Q|×m×k LUT), the corpus contributes only its
    * m-int codes (exploded to one row per subspace, map-only — the raw
    * embeddings never ship), and the approximate score is
    * `Σ_j sim(q_subj, centroid[code_j])`, assembled by joining codes to
    * the LUT on (subspace, cell) and summing per (query, neighbor).
    *
    * 100 TB shape: the one corpus-sized exchange is the (query, neighbor)
    * partial-sum aggregate (map-side combinable; m rows in, 1 out), plus
    * the top-k window keyed by query — both on compressed codes, never on
    * vectors. Scoring is a hash join against the LUT: per corpus row it
    * costs a hash probe, not a dim-length dot product — the bandwidth win
    * that makes brute ADC over 10¹⁰ codes feasible where brute cosine is
    * not. The LUT join carries NO hard hint (round 9 — the round-8
    * `broadcast(lut)` force-shipped a |Q|·m·k set with no bound on |Q|):
    * AQE broadcasts it at any sane query-batch size and degrades to a
    * (s, code)-keyed shuffle join for unbounded query sets, the same
    * de-hinting contract as d7/x12. Rounding to 4 decimals before the
    * rank (with the id tie-break) keeps the result hash-stable: the
    * per-pair sum has only m commutative terms (m=2 here), so
    * partial-aggregation order cannot move the rounded score.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             qId: String, cId: String, embCol: String, k: Int,
             codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = codebooks(0)(0).length
    val codes = corpus.select(col(cId).as("neighbor_id"),
        posexplode(pqCodes(col(embCol), codebooks)).as(Seq("s", "code")))
    // the codebook as a literal struct array: explode is map-only on the
    // small query side — a tiny-table join here would plan a cartesian
    val entries = array(codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cent, c) =>
        struct(lit(j).as("s"), lit(c).as("cell"),
          array(cent.map(lit): _*).as("centroid"))
      }
    }: _*)
    val lut = queries.select(col(qId).as("query_id"), col(embCol).as("q"))
      .select(col("query_id"), col("q"), explode(entries).as("e"))
      .select(col("query_id"), col("e.s").as("ls"), col("e.cell").as("cell"),
        cosine(slice(col("q"), col("e.s") * sub + 1, lit(sub)),
          col("e.centroid")).as("sim"))
    codes.join(lut,
        col("s") === col("ls") && col("code") === col("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum("sim"), 4).as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }
}
