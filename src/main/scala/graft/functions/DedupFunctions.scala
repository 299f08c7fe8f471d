package graft.functions

import graft.link.ConnectedComponents

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup. Signatures are pure
  * Catalyst expressions (deterministic seeded hashes — no RNG state to ship);
  * candidate generation is bucket-join (band hash / shared shingle), never
  * an all-pairs cross join, so the shuffles stay proportional to bucket
  * sizes at 100 TB.
  */
object DedupFunctions {

  /** MinHash signature: k independent permutations approximated by seeded
    * xxhash64; sig[k] = min over shingles of hash(shingle, k). Fused codegen
    * ([[graft.expr.MinHashSigExpr]]): each shingle's string hashes once and
    * extends with k cheap int hashes — the round-2 HOF formulation re-hashed
    * the string k times and rebuilt the k-slot accumulator array per shingle.
    * Bit-identical to `xxhash64(shingle, k)` (spec-pinned).
    */
  def minhashSignature(text: Column, numHashes: Int, shingleSize: Int = 3): Column =
    graft.expr.CsvwFunctions.minhashSig(
      array_distinct(TextFunctions.shingles(text, shingleSize)), numHashes)

  /** MinHash-LSH near-duplicate candidate pairs with estimated Jaccard from
    * full signatures. Join is per-bucket (band_idx, band_hash) — skew-safe
    * under AQE; pairs deduped across bands.
    */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      bands: Int = 8, rowsPerBand: Int = 4,
                      shingleSize: Int = 3, threshold: Double = 0.7): DataFrame = {
    // materialize signatures before the self-join: otherwise both join sides
    // re-derive the (large) signature expression tree, which blows up
    // codegen and recomputes shingling twice. At warehouse scale this is a
    // signatures table write; locally localCheckpoint is the same cut.
    val withSig = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), bands * rowsPerBand, shingleSize).as("sig"))
      .localCheckpoint()
    // candidate generation carries IDS ONLY: the band explode would
    // otherwise ship every (bands*rowsPerBand)-long signature `bands` times
    // per join side; the estimate depends only on the signature PAIR (it is
    // identical for every shared band — the old per-band estimate + max was
    // pure dedup), so signatures re-attach once to the deduped pairs
    val banded = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b)))
        .as(Seq("band_idx", "band_hash")))
    val a = banded.select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("id").as("id_b"))
    val est = size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), x => x))
      .cast("double") / lit(bands * rowsPerBand)
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).dropDuplicates()
      .join(withSig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(withSig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** 64-bit SimHash over tokens: per bit, sum ±1 weighted by the token-hash
    * bit, then pack the sign bits. Fused codegen
    * ([[graft.expr.SimHash64Expr]]): one pass over the tokens with each
    * token hashed once — the round-2 HOF formulation traversed the token
    * array 64 times (once per bit) and re-hashed the token each time.
    * Bit-identical to the HOF form (spec-pinned).
    */
  def simhash(text: Column): Column =
    graft.expr.CsvwFunctions.simhash64(TextFunctions.tokens(text))

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Split a 64-bit column into `n` disjoint chunks; chunk i covers bits
    * [i·64/n, (i+1)·64/n).
    */
  private def chunksOf(sim: Column, n: Int): IndexedSeq[Column] = {
    val bounds = (0 to n).map(i => i * 64 / n)
    (0 until n).map { i =>
      val start = bounds(i)
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      call_function("shiftrightunsigned", sim, lit(start)).bitwiseAND(lit(mask))
    }
  }

  /** SimHash near-dup pairs, recall-complete for the requested radius
    * (round 1 hard-coded 4 chunks, silently losing pairs at distance 4-8):
    *
    *  - small radii (chunk width ≥ 8 bits): the 64 bits split into
    *    `maxHamming + 1` disjoint chunks — by pigeonhole any pair within
    *    the radius shares at least one chunk exactly.
    *  - large radii: single chunks get too narrow (radius 8 → 9 chunks of
    *    ~7 bits → ~128 buckets, n²/128 bucket joins at scale), so blocking
    *    switches to HmSearch-style *pair* keys: `maxHamming + 2` sub-chunks
    *    and one key per unordered sub-chunk pair. At most `maxHamming`
    *    sub-chunks are touched by differing bits, so at least two are clean
    *    and some pair key matches exactly — recall stays complete while key
    *    width roughly doubles (radius 8 → 45 keys of ~12.8 bits).
    *
    * Verification is an exact `bit_count` filter either way; a spec proves
    * blocked == brute force at radii on both paths.
    */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    val withSim = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sim"))
      .localCheckpoint()
    val keyed =
      if (64 / (maxHamming + 1) >= 8) {
        val chunkExprs = chunksOf(col("sim"), maxHamming + 1)
        withSim.select(col("id"), col("sim"),
          posexplode(array(chunkExprs: _*)).as(Seq("chunk_idx", "chunk")))
      } else {
        val m = maxHamming + 2
        val sub = chunksOf(col("sim"), m)
        val pairKeys = for {
          i <- 0 until m; j <- (i + 1) until m
        } yield call_function("shiftleft", sub(i), lit(32)).bitwiseOR(sub(j))
        withSim.select(col("id"), col("sim"),
          posexplode(array(pairKeys: _*)).as(Seq("chunk_idx", "chunk")))
      }
    val a = keyed.select(col("chunk_idx"), col("chunk"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = keyed.select(col("chunk_idx"), col("chunk"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hammingDist(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** Exact n-gram Jaccard pairs with PPJoin-style filtering (round 2 ran
    * the low-threshold branch with NO pruning at all — an unbounded-skew
    * co-shingle self-join; every branch now carries exact filters).
    * All three filters are exact — no recall loss at any threshold:
    *
    *  - **Prefix filter**: shingles rank by ascending global document
    *    frequency (ties by hash) and each document contributes only its
    *    n − ⌈t·n⌉ + 1 *rarest* shingles to candidate generation. Any pair
    *    with J ≥ t shares ≥ ⌈t·n⌉ shingles per side, so by pigeonhole it
    *    shares a prefix shingle on both sides. The bound is computed as
    *    n − ⌈t·n − ε⌉ + 1 in integer space: the round-2 form ⌊(1−t)·n⌋+1
    *    under-counted by one when 1−t is not exactly representable
    *    (t = 0.9 → 1−t = 0.0999…), silently dropping boundary pairs.
    *  - **Length filter** (inside the candidate join): J ≥ t forces
    *    min(n_a,n_b) ≥ t·max(n_a,n_b) — size-mismatched pairs never leave
    *    the join.
    *  - **Positional filter**: a qualifying pair's globally *rarest* common
    *    shingle w is provably inside both prefixes (every common shingle
    *    sits at or after w in both orderings, so pos(w) ≤ n − i + 1 ≤
    *    n − ⌈t·n⌉ + 1), and at w the true overlap is exactly bounded:
    *    i ≤ 1 + min(n_a − pos_a, n_b − pos_b). Candidate pairs aggregate to
    *    their min-(df, sh) shared row and are pruned when that bound falls
    *    below the required overlap ⌈t·(n_a+n_b)/(1+t)⌉ — exact, cheap at
    *    high t, and the main defense at low t where prefixes are long.
    *
    * Hot-shingle skew: a stop-shingle enters a prefix only when it is among
    * a document's rarest, and AQE splits residual hot candidate buckets.
    * `dfCap` (off by default) additionally drops shingles with document
    * frequency > cap from candidate generation ONLY (never from
    * verification). Recall bound with the cap on: a pair is missed only if
    * EVERY common shingle in both prefixes is hotter than the cap — any
    * single sub-cap common prefix shingle still surfaces the pair.
    *
    * Plan selection by threshold — both uncapped branches prune exactly:
    *
    *  - **t ≥ 0.5**: candidate generation over prefixes with all three
    *    filters (plus the df cap when set), then verification computes the
    *    exact intersection over full shingle sets of surviving candidates
    *    (per-doc sizes ride along from one window over the id exchange).
    *  - **t < 0.5 without a cap**: prefixes keep > (1−t) ≈ 88% of shingles
    *    at t = 0.12, so the candidate join enumerates nearly every
    *    co-shingle pair anyway and the separate verify pass just re-walks
    *    them — measured 2.3× slower than one pass at sf0.1. The plan is a
    *    single co-shingle self-join whose ONE aggregate computes the exact
    *    intersection, with the length filter inside the join condition
    *    (pairs with min < t·max never reach the shuffle).
    *  - **t < 0.5 with `dfCap` set** — the 100 TB configuration for
    *    low-threshold mining: candidate generation joins only on shingles
    *    with document frequency ≤ cap (every bucket ≤ cap rows ⇒ ≤ cap²
    *    candidate pairs per shingle, no k² stop-shingle blowup), then the
    *    exact-intersection verify pass re-joins the FULL shingle sets of
    *    the surviving id pairs. Deterministic and hash-independent: a true
    *    pair is missed iff every one of its shared shingles is hotter than
    *    the cap, so the emitted set is a pure function of (corpus, t, cap)
    *    — replicable in the DuckDB oracle — and recall degrades only for
    *    pairs whose entire overlap is stop-shingles.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        dfCap: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0, s"threshold out of (0,1]: $threshold")
    val byId = Window.partitionBy(col("id"))
    // NOTE (round 9, measured): computing the per-doc shingle count
    // map-side (size of the distinct array pre-explode) instead of this
    // window looks like a saved exchange, but it regressed d4 1.2 s → 9.3 s
    // — the window's id-keyed exchange is what the localCheckpoint
    // preserves as the table's physical partitioning, which the prefix
    // branch's row_number window then consumes exchange-free. Kept as-is.
    val sh = df.select(col(idCol).as("id"),
      explode(array_distinct(TextFunctions.shingles(col(textCol), shingleSize))).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("sh"))
      .withColumn("n", count(lit(1)).over(byId))
      .localCheckpoint()

    // exact pair-level length filter: J ≥ t ⟹ min(n_a,n_b) ≥ t·max(n_a,n_b)
    val lengthOk =
      least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9)

    val inter =
      if (threshold < 0.5 && dfCap.isDefined) {
        // low-t capped path: bucket-capped candidate generation + exact
        // verify. No prefix/positional pruning — at low t prefixes barely
        // prune, and keeping the candidate rule hash-free makes the
        // emitted set exactly replicable by the oracle. The exact
        // intersection splits in two: the capped self-join counts the
        // sub-cap shared shingles DIRECTLY (one aggregate, no re-walk of
        // full shingle sets, no dropDuplicates shuffle), and only the
        // over-cap sliver — at most a handful of distinct hot shingles by
        // construction — re-joins to add the hot shared count.
        val cap = dfCap.get
        val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        val withDf = sh.join(dfreq, "sh")
        val sub = withDf.filter(col("df") <= cap)
        val hot = withDf.filter(col("df") > cap)
        val interSub = sub.select(col("sh"), col("id").as("id_a"), col("n").as("n_a"))
          .join(sub.select(col("sh").as("sh2"), col("id").as("id_b"), col("n").as("n_b")),
            col("sh") === col("sh2") && col("id_a") < col("id_b") && lengthOk)
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("inter_sub"),
               first("n_a").as("n_a"), first("n_b").as("n_b"))
        val interHot = interSub.select(col("id_a"), col("id_b"))
          .join(hot.select(col("id").as("id_a"), col("sh").as("sha")), "id_a")
          .join(hot.select(col("id").as("idb2"), col("sh").as("shb")),
            col("id_b") === col("idb2") && col("sha") === col("shb"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter_hot"))
        interSub
          .join(interHot, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"),
            (col("inter_sub") + coalesce(col("inter_hot"), lit(0L))).as("inter"),
            col("n_a"), col("n_b"))
      } else if (threshold >= 0.5 || dfCap.isDefined) {
        val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        // ε keeps ⌈t·n⌉ from rounding UP a product that is an exact integer
        // held inexactly (0.9·10 = 9.000000…1) — erring toward a longer prefix
        val prefLen = col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + lit(1L)
        val prefix0 = sh.join(dfreq, "sh")
          .withColumn("pos", row_number().over(byId.orderBy(col("df"), col("sh"))))
          .filter(col("pos") <= prefLen)
        val prefix = dfCap.fold(prefix0)(cap => prefix0.filter(col("df") <= cap))
          .select(col("id"), col("sh"), col("df"), col("pos"), col("n"))

        val aP = prefix.select(col("sh"), col("df"),
          col("id").as("id_a"), col("pos").as("pos_a"), col("n").as("n_a"))
        val bP = prefix.select(col("sh").as("sh2"),
          col("id").as("id_b"), col("pos").as("pos_b"), col("n").as("n_b"))
        val minOverlap = // i ≥ t·(n_a+n_b)/(1+t), integer-safe
          ceil(lit(threshold) * (col("m.n_a") + col("m.n_b")) / lit(1.0 + threshold) - lit(1e-9))
        val cand = aP.join(bP,
            col("sh") === col("sh2") && col("id_a") < col("id_b") && lengthOk)
          // the pair's rarest shared prefix shingle carries the exact
          // positional bound; min(struct) orders by (df, sh) = global order
          .groupBy("id_a", "id_b")
          .agg(min(struct(col("df"), col("sh"), col("pos_a"), col("pos_b"),
                          col("n_a"), col("n_b"))).as("m"))
          .filter(lit(1L) + least(col("m.n_a") - col("m.pos_a"), col("m.n_b") - col("m.pos_b"))
            >= minOverlap)
          .select(col("id_a"), col("id_b"))

        cand
          .join(sh.toDF("id_a", "sha", "n_a"), "id_a")
          .join(sh.toDF("idb2", "shb", "n_b"),
            col("id_b") === col("idb2") && col("sha") === col("shb"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("inter"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      } else {
        sh.toDF("id_a", "sh", "n_a")
          .join(sh.toDF("id_b", "sh2", "n_b"),
            col("sh") === col("sh2") && col("id_a") < col("id_b") && lengthOk)
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("inter"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      }

    inter
      .select(col("id_a"), col("id_b"),
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding cosine near-dup pairs above a similarity threshold, blocked by
    * sign-sketch buckets (random-hyperplane LSH via seeded hashes) to avoid
    * the full cross join. One side multi-probes nearby buckets (all sketch
    * values within `probeBits` bit flips) — round 1 used a single exact
    * bucket per item, so pairs whose sketches differed in even one plane
    * were silently dropped (d5 returned 0 rows with nothing to catch it).
    *
    * Recall: multi-probe alone structurally misses borderline pairs — at
    * cosine ≈ 0.93 each of 8 planes flips w.p. ≈ 0.12, so P(> 2 planes
    * differ) ≈ 6%. `tables` > 1 OR-amplifies with independent hyperplane
    * sets (join key = (table_idx, bucket)): recall = 1 − (1 − P₁)^L per
    * [[AnnFunctions.sketchRecall]] — tables=2 lifts 0.94 → ≈ 0.996 at
    * cosine 0.93. Shuffle scales linearly in `tables`; size it with the
    * formula against the threshold's recall target.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, embCol: String,
                        threshold: Double = 0.95, planes: Int = 8,
                        probeBits: Int = 2, tables: Int = 1): DataFrame = {
    require(tables >= 1, s"tables must be >= 1: $tables")
    val sketches = (0 until tables).map(t => AnnFunctions.signSketch(col(embCol), planes, t))
    val withS = df.select(col(idCol).as("id"), col(embCol).as("e"),
        array(sketches: _*).as("sketches"))
      .localCheckpoint()
    // candidate generation carries IDS ONLY — the probe explode multiplies
    // rows ~37× per table, so shipping the embedding array through it would
    // make the vectors (not the candidates) the shuffle payload; embeddings
    // re-attach to the deduped pairs from the checkpointed table afterwards
    val keyed = withS.select(col("id"), posexplode(col("sketches")).as(Seq("tbl", "sk")))
    val a = keyed.select(col("id").as("id_a"), col("tbl"),
      explode(AnnFunctions.probeBuckets(col("sk"), planes, probeBits)).as("bucket"))
    val b = keyed.select(col("id").as("id_b"), col("tbl"), col("sk").as("bucket"))
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).dropDuplicates()
    cand
      .join(withS.select(col("id").as("id_a"), col("e").as("e_a")), "id_a")
      .join(withS.select(col("id").as("id_b"), col("e").as("e_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        AnnFunctions.cosine(col("e_a"), col("e_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Fuzzy-dedup cluster assignment — the keep-one-per-near-dup-cluster
    * shape every large-scale training-corpus pipeline runs after candidate
    * generation (CCNet/RefinedWeb style): [[minhashDupPairs]] candidate
    * pairs → connected components over the pair graph → one canonical
    * document (the minimum id) per cluster.
    *
    * Returns `(member, cluster_id, cluster_size, keep)` — one row per
    * document that appears in at least one near-dup pair, `cluster_id` =
    * the cluster's minimum member id, `keep` = true exactly on the
    * canonical member. Documents with no near-dup partner never enter the
    * component computation at all, which is what makes this shape viable at
    * 100 TB: the edge set (ids only) is proportional to the near-dup
    * fraction, not the corpus, and the final corpus-wide filter is the
    * caller's anti-join of the corpus against the `keep = false` rows.
    * The cluster-size join shuffles only cluster members.
    *
    * Ids must be non-negative (ENFORCED — a negative id raises at execution
    * time): components run on zero-padded decimal strings
    * ([[graft.link.ConnectedComponents]] is string-keyed for the
    * entity-graph use) so lexicographic min == numeric min.
    */
  def dupClusters(spark: SparkSession, df: DataFrame, idCol: String,
                  textCol: String, bands: Int = 8, rowsPerBand: Int = 4,
                  shingleSize: Int = 3, threshold: Double = 0.7): DataFrame = {
    val pairs = minhashDupPairs(df, idCol, textCol, bands, rowsPerBand,
      shingleSize, threshold)
    // enforce the documented non-negative-id contract at execution time: a
    // negative id would zero-pad to e.g. "000…0-5", breaking the
    // lexicographic-min == numeric-min invariant silently — fail loudly
    // instead (raise_error is codegen'd; the check rides the edge
    // projection, no extra action or shuffle)
    def nonNegKey(c: Column): Column = lpad(
      when(c >= 0, c).otherwise(raise_error(concat(
        lit("dupClusters: ids must be non-negative, got "), c.cast("string"))))
        .cast("string"), 20, "0")
    val edges = pairs.select(
      nonNegKey(col("id_a")).as("src"),
      nonNegKey(col("id_b")).as("dst"))
    val members = ConnectedComponents.run(spark, edges)
      .select(col("id").cast("long").as("member"),
        col("component").cast("long").as("cluster_id"))
    val sizes = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    members.join(sizes, "cluster_id")
      .select(col("member"), col("cluster_id"), col("cluster_size"),
        (col("member") === col("cluster_id")).as("keep"))
  }

  /** Semantic dedup (SemDeDup-style, Abbas et al. 2023): cluster embeddings
    * with a trained k-means codebook, then within each cluster drop every
    * document that has a lower-id cluster-mate above the cosine threshold —
    * one representative (the minimum id) survives per ε-ball.
    *
    * Returns `(vec_id, cell, keep)` — one row per input vector, `cell` the
    * PRIMARY (nearest-centroid) cell. `centroids` come from
    * [[AnnFunctions.trainCodebook]] (deterministic Lloyd rounds,
    * oracle-replicable); assignment is the same zero-shuffle fused
    * expression the IVF index uses, so cluster membership is bit-identical
    * to the s3 path.
    *
    * `nprobe` widens the PROBE side only (the side being tested for drop):
    * a vector is compared against lower-id vectors OWNED by any of its
    * `nprobe` nearest cells, which closes the boundary-straddler miss mode
    * — a near-dup pair split across two adjacent cells is still found,
    * because near-identical vectors rank cells near-identically, so the
    * mate's primary cell is in the probe set with high probability
    * (measured: 0.9775 drop rate at nprobe=1 → 1.0 at nprobe=2 on the
    * sf0.1 planted corpus, OrganicRecallSpec). Ownership stays top-1, so
    * the candidate volume grows only ×nprobe on the probe side, never
    * quadratically.
    *
    * 100 TB shape and the k-scaling playbook: the pairwise leg is
    * WITHIN-cell only — published SemDeDup accepts the Σ|cluster|² term by
    * scaling k with the corpus so clusters stay bounded; **k ≈ √n** keeps
    * the expected cell size at √n, making the per-cell pair work O(n)
    * total. Costs that scale with k: assignment is O(k·dim) multiply-adds
    * per row (map-only, codebook is a plan-reference object), and the
    * codebook ships to every task — k·dim·8 bytes. Worked 100 TB sizing:
    * n = 10¹⁰ docs → k ≈ 10⁵ cells of ~10⁵ members; at dim = 768 the
    * codebook is 10⁵·768·8 ≈ 0.6 GB — near the task-broadcast comfort
    * limit, so at that scale split assignment into a coarse/fine two-level
    * codebook (assign to √k coarse cells, then √k fine cells within) to
    * keep the shipped object at √k·dim·8 ≈ 2 MB per level. A hot cell
    * (skew) = salt the PROBE side only: explode probes ×s salts and tag
    * owners with `id % s`, which splits a cell's pair matrix into s column
    * strips without duplicating ownership. The plan has NO hard hints:
    * the probe→owner join is cell-keyed (AQE broadcasts the owner side at
    * small scale, shuffle-hash/SMJ at data scale — both sides carry each
    * embedding once), and the keep flag is a map-side-combinable
    * `count == 0` aggregate keyed by vec_id, so nothing driver-sized or
    * broadcast-sized grows with the duplicate fraction (the round-7
    * drop-set broadcast did, and is gone).
    */
  def semanticDupFlags(df: DataFrame, idCol: String, embCol: String,
                       centroids: Array[Array[Double]],
                       threshold: Double, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe out of [1, ${centroids.length}]: $nprobe")
    val assigned = df.select(col(idCol).as("vec_id"), col(embCol).as("v"),
      AnnFunctions.ivfCells(col(embCol), centroids, nprobe).as("probes"))
      .select(col("vec_id"), col("v"),
        element_at(col("probes"), 1).as("cell"), col("probes"))
    val owners = assigned.select(col("cell").as("cell_a"),
      col("vec_id").as("id_a"), col("v").as("va"))
    val probes = assigned.select(col("vec_id"), col("v"), col("cell"),
      explode(col("probes")).as("probe_cell"))
    probes.join(owners,
        col("probe_cell") === col("cell_a") && col("id_a") < col("vec_id") &&
          AnnFunctions.cosine(col("va"), col("v")) >= threshold, "left")
      .groupBy("vec_id", "cell")
      .agg((count(col("id_a")) === 0).as("keep"))
      .select(col("vec_id"), col("cell"), col("keep"))
  }

  /** Line-level dedup (CCNet/RefinedWeb-style boilerplate removal): drop
    * every non-empty line that occurs at least `minDf` times across the
    * corpus — navigation chrome, cookie banners, copyright footers — and
    * reassemble each document from its surviving lines in original order.
    *
    * Returns `(doc_id, n_lines, n_dup_lines, clean_text)`. Occurrence
    * counts (not distinct-document counts) are the contract, matching the
    * published paragraph-hash formulation; within-document repetition is
    * x9's signal, not this one's.
    *
    * 100 TB shape: the line-frequency aggregate is ONE hash shuffle with
    * map-side partials (duplicate lines collapse before the exchange —
    * boilerplate by definition), and only lines with `df >= minDf` survive
    * the filter. The surviving dup-line table is usually small, but its
    * size is corpus-dependent (the number of distinct lines crossing a
    * FIXED `minDf` grows with corpus size — at web scale raise `minDf`
    * proportionally, CCNet uses a per-shard fraction), so the flag join
    * carries NO hard broadcast hint: AQE broadcasts it when its runtime
    * size allows and falls back to a line-keyed shuffle join otherwise —
    * the lines side is already line-partitioned nowhere, so the fallback
    * costs one extra corpus exchange instead of a driver OOM. The
    * reassembly aggregate is the other
    * corpus-sized exchange (one row per line, ids + text, keyed by doc).
    * Reassembly sorts per-doc line arrays inside one fused codegen call
    * ([[graft.expr.AssembleLinesExpr]]); the `array_sort`+`transform` HOF
    * alternative is CodegenFallback.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDf: Long = 10L): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val boiler = lines
      .filter(length(col("line")) > 0)
      .groupBy("line").agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select(col("line"), lit(true).as("is_dup"))
    lines.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_dup"), lit(1L)).otherwise(lit(0L))).as("n_dup_lines"),
        graft.expr.CsvwFunctions.assembleLines(
          collect_list(when(col("is_dup").isNull,
            struct(col("pos"), col("line"))))).as("clean_text"))
  }
}
