package graft.pipeline

import graft.functions.{AnnFunctions, DedupFunctions}
import graft.link.ConnectedComponents

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-behavior guarantees added in round 2: pigeonhole recall of the
  * SimHash blocking at any radius, prefix-filter recall of the n-gram
  * Jaccard join, pointer-jump convergence of connected components on long
  * paths, and multi-probe structure of the sign-sketch LSH.
  */
class DedupScaleSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  /** 150 synthetic docs of 30 tokens over a 50-word vocabulary — dense
    * enough that pairs exist at many Hamming distances / Jaccard levels.
    */
  private def corpus = (0 until 150).map { i =>
    (i.toLong, (0 until 30).map(j => s"w${(i * 31 + j * 7) % 50}").mkString(" "))
  }.toDF("doc_id", "text")

  test("simhash blocking is recall-complete at radius 8 (== brute force)") {
    val blocked = DedupFunctions.simhashDupPairs(corpus, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sims = corpus.select(col("doc_id"),
      DedupFunctions.simhash(col("text")).as("sim"))
    val brute = sims.toDF("id_a", "sim_a")
      .crossJoin(sims.toDF("id_b", "sim_b"))
      .filter(col("id_a") < col("id_b"))
      .filter(DedupFunctions.hammingDist(col("sim_a"), col("sim_b")) <= 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture must contain pairs within radius 8")
    assert(blocked == brute)
  }

  test("simhash blocking recall-complete at radius 3 (16-bit chunks path)") {
    val blocked = DedupFunctions.simhashDupPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sims = corpus.select(col("doc_id"), DedupFunctions.simhash(col("text")).as("sim"))
    val brute = sims.toDF("id_a", "sim_a").crossJoin(sims.toDF("id_b", "sim_b"))
      .filter(col("id_a") < col("id_b"))
      .filter(DedupFunctions.hammingDist(col("sim_a"), col("sim_b")) <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked == brute)
  }

  /** naive exact reference: full shingle-set self-join + size joins. */
  private def bruteJaccard(t: Double): Set[(Long, Long, Double)] = {
    val sh = corpus.select(col("doc_id").as("id"),
      explode(array_distinct(graft.functions.TextFunctions.shingles(col("text"), 3))).as("s"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    sh.toDF("id_a", "s").join(sh.toDF("id_b", "s2"),
        col("s") === col("s2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("i") / (col("n_a") + col("n_b") - col("i")), 6).as("j"))
      .filter(col("j") >= t)
      .as[(Long, Long, Double)].collect().toSet
  }

  test("ngram Jaccard prefix-filter path (t>=0.5) loses no pairs vs naive join") {
    val t = 0.5
    val fast = DedupFunctions.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleSize = 3, threshold = t)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val brute = bruteJaccard(t)
    assert(brute.nonEmpty, "fixture must contain pairs above threshold")
    assert(fast == brute)
  }

  test("ngram Jaccard PPJoin filters lose no pairs vs naive join at t=0.3") {
    val t = 0.3
    val fast = DedupFunctions.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleSize = 3, threshold = t)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val brute = bruteJaccard(t)
    assert(brute.nonEmpty, "fixture must contain pairs above threshold")
    assert(fast == brute)
  }

  test("ngram Jaccard low-threshold branch loses no pairs at the driver's t=0.12") {
    // the round-2 plan bypassed all pruning below t=0.5; the low-t branch
    // now carries the exact length filter inside the join condition — this
    // pins it to the naive join at the driver's own threshold
    val t = 0.12
    val fast = DedupFunctions.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleSize = 3, threshold = t)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val brute = bruteJaccard(t)
    assert(brute.nonEmpty, "fixture must contain pairs above threshold")
    assert(fast == brute)
  }

  /** Exact-boundary pair at threshold t: doc A = `nShared` shared tokens +
    * `nUniq` unique rare tokens, doc B = the shared tokens only, so
    * J = nShared/(nShared+nUniq) == t exactly and A's unique tokens (df=1)
    * outrank every shared token (df=2) in the prefix ordering. The rarest
    * COMMON token then sits at A-position nUniq+1 — exactly the last slot of
    * the correct prefix n − ⌈t·n⌉ + 1. The round-2 float form ⌊(1−t)·n⌋+1
    * under-counted that prefix by one at t=0.9/0.8 (1−t not representable)
    * and silently dropped the pair.
    */
  private def boundaryPair(t: Double, nShared: Int, nUniq: Int): Set[(Long, Long, Double)] = {
    val shared = (0 until nShared).map(i => s"s$i")
    val docA = (0 until nUniq).map(i => s"uniq$i") ++ shared
    val decoys = (0 until 20).map(i => (10L + i, (0 until 12).map(j => s"z${i}x$j").mkString(" ")))
    val df = (Seq((1L, docA.mkString(" ")), (2L, shared.mkString(" "))) ++ decoys)
      .toDF("doc_id", "text")
    DedupFunctions.ngramJaccardPairs(df, "doc_id", "text", shingleSize = 1, threshold = t)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
  }

  test("prefix length is integer-safe at t=0.9 (exact-boundary pair survives)") {
    assert(boundaryPair(0.9, nShared = 18, nUniq = 2) == Set((1L, 2L, 0.9)))
  }

  test("prefix length is integer-safe at t=0.8 (exact-boundary pair survives)") {
    assert(boundaryPair(0.8, nShared = 12, nUniq = 3) == Set((1L, 2L, 0.8)))
  }

  test("dfCap: sub-cap common shingles still surface pairs; over-cap-only pairs miss") {
    val t = 0.3
    val uncapped = DedupFunctions.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleSize = 3, threshold = t)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // a cap above the max document frequency changes nothing — and setting
    // it routes low t through the prefix+positional candidate/verify plan,
    // so this also pins THAT plan to the naive join below t=0.5
    val generous = DedupFunctions.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleSize = 3, threshold = t, dfCap = Some(1000000L))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(generous == uncapped && uncapped == bruteJaccard(t))
    // cap=1 excludes every SHARED shingle (df>=2 by definition) from
    // candidate generation — the documented recall bound degenerates to
    // zero pairs, never to wrong pairs
    val starved = DedupFunctions.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleSize = 3, threshold = t, dfCap = Some(1L))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(uncapped.nonEmpty && starved.isEmpty)
  }

  test("capped low-t set == brute force filtered by the cap rule (exact semantics)") {
    // the driver's 100 TB configuration (t=0.12, mid cap): the emitted set
    // must be EXACTLY the brute-force pairs that share at least one
    // sub-cap shingle — deterministic, hash-free, and what the DuckDB
    // oracle replicates for d4_jaccard_capped
    val t = 0.12
    val cap = 4L
    // 20 docs whose ONLY overlap is a 10-token hot phrase (its internal
    // shingles have df=20 — over the cap) + one pair sharing a rare
    // 10-token phrase (df=2 — under the cap). The cap must drop all 190
    // hot pairs and keep the rare pair, exactly.
    val hot = (0 until 10).map(i => s"hot$i").mkString(" ")
    val rare = (0 until 10).map(i => s"rare$i").mkString(" ")
    val fixture = ((0 until 20).map(i => (100L + i, s"$hot u${i}a u${i}b u${i}c")) ++
      Seq((200L, s"$rare x1 x2 x3"), (201L, s"$rare y1 y2 y3")))
      .toDF("doc_id", "text")
    def pairs(dfCap: Option[Long]) =
      DedupFunctions.ngramJaccardPairs(fixture, "doc_id", "text",
        shingleSize = 3, threshold = t, dfCap = dfCap)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val uncapped = pairs(None)
    assert(uncapped.size == 191, // C(20,2) hot pairs + the rare pair
      s"fixture drifted: ${uncapped.size} uncapped pairs")
    val capped = pairs(Some(cap))
    // the rule keeps exactly the pairs sharing a sub-cap shingle, at the
    // UNCAPPED pair's exact jaccard (verify runs over full shingle sets)
    assert(capped == uncapped.filter(p => p._1 == 200L && p._2 == 201L))
    assert(capped.size == 1)
  }

  /** CC labels on each leg: the default bound (every graph here is small,
    * so the driver-side union-find) and a bound of 0 (the per-round loop). */
  private def ccLegs(edges: DataFrame, maxIterations: Int = 50): Seq[(String, Array[(String, String)])] =
    Seq("local" -> ConnectedComponents.run(spark, edges, maxIterations),
      "loop" -> ConnectedComponents.run(spark, edges, maxIterations, localBytes = 0L))
      .map { case (leg, cc) => leg -> cc.as[(String, String)].collect() }

  test("connected components: the local leg's bound respects spark.driver.maxResultSize") {
    val (gib, mib) = (1L << 30, 1L << 20)
    // a 2 GiB heap under the default 1 GiB result limit: 1/32 of the heap
    assert(ConnectedComponents.localBound(2 * gib, gib) == 64 * mib)
    // a 64 GiB heap: 2 GiB of ids would overrun the limit, so 1/4 of it
    assert(ConnectedComponents.localBound(64 * gib, gib) == 256 * mib)
    // maxResultSize = 0 means no limit
    assert(ConnectedComponents.localBound(64 * gib, 0L) == 2 * gib)
  }

  test("connected components: 120-node path converges via pointer jumping") {
    // plain min-label propagation needs 119 rounds; the loop's 50-iteration
    // budget is only enough because label chains halve each round
    val edges = (0 until 119).map(i => (f"n$i%04d", f"n${i + 1}%04d")).toDF("src", "dst")
    ccLegs(edges).foreach { case (leg, cc) =>
      assert(cc.length == 120 && cc.forall(_._2 == "n0000"), leg)
    }
  }

  test("connected components: star graph converges within ONE iteration (init folds round one)") {
    // round 9: label0 = min(id, min neighbor) is computed inside the init
    // aggregate, so a star (the g2 entity shape) is fully labelled before
    // the loop starts and the single allowed iteration is just the
    // convergence confirmation — the round-8 identity init needed two
    val edges = (1 to 50).map(i => ("hub000", f"m$i%03d")).toDF("src", "dst")
    ccLegs(edges, maxIterations = 1).foreach { case (leg, cc) =>
      assert(cc.length == 51 && cc.forall(_._2 == "hub000"), s"$leg: ${cc.take(5).mkString(",")}")
    }
  }

  test("connected components fails loudly when the iteration budget is too small") {
    val edges = (0 until 40).map(i => (f"n$i%04d", f"n${i + 1}%04d")).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.run(spark, edges, maxIterations = 2, localBytes = 0L)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  /** Component minimum of every node, by a plain-Scala union-find. */
  private def unionFindMin(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(v: String): String = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    // the root of every set is its minimum member
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  /** Disjoint components of the shapes CC meets: long paths, stars,
    * cliques, isolated pairs and kg_full-like chains of entity stars joined
    * by bridge nodes. Node names are random, so a component's minimum sits
    * anywhere in it; edge direction is random and some edges repeat.
    */
  private def randomGraph(seed: Long): Seq[(String, String)] = {
    val rng = new scala.util.Random(seed)
    val used = scala.collection.mutable.Set.empty[String]
    def node(): String = {
      var n = f"v${rng.nextInt(10000000)}%07d"
      while (used(n)) n = f"v${rng.nextInt(10000000)}%07d"
      used += n
      n
    }
    def nodes(k: Int) = Seq.fill(k)(node())
    def star(hub: String, leaves: Seq[String]) = leaves.map(hub -> _)
    val paths = Seq.fill(3)(nodes(2 + rng.nextInt(299))).flatMap(p => p.zip(p.tail))
    val stars = Seq.fill(4)(star(node(), nodes(1 + rng.nextInt(40)))).flatten
    val cliques = Seq.fill(3)(nodes(2 + rng.nextInt(7))).flatMap(c => c.combinations(2).map(p => p(0) -> p(1)))
    val pairs = Seq.fill(20)(node() -> node())
    val bridged = Seq.fill(5) {
      val hubs = nodes(2 + rng.nextInt(4))
      val leaves = hubs.map(h => star(h, nodes(1 + rng.nextInt(12))))
      val bridges = hubs.zip(hubs.tail).flatMap { case (a, b) => val x = node(); Seq(a -> x, b -> x) }
      leaves.flatten ++ bridges
    }.flatten
    val all = paths ++ stars ++ cliques ++ pairs ++ bridged
    rng.shuffle(all.map { case (a, b) => if (rng.nextBoolean()) (a, b) else (b, a) } ++ all.take(25))
  }

  test("connected components: labels equal each component's minimum on seeded random graphs") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val edges = randomGraph(seed)
      val want = unionFindMin(edges)
      // shuffled ids along a path defeat pointer jumping (see the
      // ConnectedComponents scaladoc), so the loop's budget is the plain
      // propagation bound: one round per hop of the longest path, plus one
      ccLegs(edges.toDF("src", "dst"), maxIterations = 300).foreach { case (leg, got) =>
        assert(got.length == want.size, s"seed $seed, $leg: one label per node")
        assert(got.toMap == want, s"seed $seed, $leg")
      }
    }
  }

  test("connected components of an empty edge set is empty") {
    // the leg is chosen and convergence read from the checkpoints' observed
    // metrics, which must arrive even when no task sees a row
    ccLegs(Seq.empty[(String, String)].toDF("src", "dst")).foreach { case (leg, cc) =>
      assert(cc.isEmpty, leg)
    }
  }

  test("connected components: labels are minimal in binary UTF-8 order") {
    // U+FFFD sorts after the surrogate pair of U+1F600 in UTF-16
    // (String.compareTo) but before it in UTF-8 bytes, Spark's string order
    val (bmp, astral) = ("\uFFFDx", "\uD83D\uDE00y")
    val edges = Seq((astral, bmp), (astral, "\uFFFEz")).toDF("src", "dst")
    ccLegs(edges).foreach { case (leg, cc) =>
      assert(cc.toMap == Map(bmp -> bmp, astral -> bmp, "\uFFFEz" -> bmp), leg)
    }
  }

  test("connected components drop edges with a null endpoint") {
    // a null touching a and z must neither merge them nor get a label
    val edges = Seq(("a", null), (null, "z"), ("a", "b"), ("p1", "p2"), ("p3", "p2"))
      .toDF("src", "dst")
    ccLegs(edges).foreach { case (leg, cc) =>
      assert(cc.toMap == Map("a" -> "a", "b" -> "a", "p1" -> "p1", "p2" -> "p1", "p3" -> "p1"),
        s"$leg: ${cc.mkString(",")}")
    }
  }

  test("connected components: job count on the 120-node path is pinned") {
    // the loop (bound 0): 44 = 2 checkpoints before the loop (a shuffle
    // stage + the checkpoint each) + 8 rounds × 5 (the join's two shuffle
    // stages, the broadcast AQE turns the small side into, the aggregate's
    // shuffle stage, the checkpoint). A per-round probe action or a second
    // join would move it.
    val edges = (0 until 119).map(i => (f"n$i%04d", f"n${i + 1}%04d")).toDF("src", "dst")
    val jobs = graft.mapper.TestSpark.jobsDuring(
      ConnectedComponents.run(spark, edges, maxIterations = 50, localBytes = 0L))
    assert(jobs == 44, s"$jobs jobs")
  }

  test("connected components: local-leg job count on the 120-node path is pinned") {
    // 3 = the symmetric edge checkpoint (a shuffle stage + the checkpoint,
    // which also observes the byte total) + the collect; the labels are a
    // lazy relation over the driver's rows
    val edges = (0 until 119).map(i => (f"n$i%04d", f"n${i + 1}%04d")).toDF("src", "dst")
    val jobs = graft.mapper.TestSpark.jobsDuring(ConnectedComponents.run(spark, edges))
    assert(jobs == 3, s"$jobs jobs")
  }

  test("fused SimHash64Expr is bit-identical to the HOF formulation") {
    import graft.functions.TextFunctions
    // the round-2 expression form, kept as the semantic reference
    def legacySimhash(text: org.apache.spark.sql.Column) = {
      val toks = TextFunctions.tokens(text)
      val bits = transform(sequence(lit(0), lit(63)), i =>
        when(aggregate(toks, lit(0L),
          (acc, t) => acc + (call_function("shiftright", xxhash64(t), i.cast("int"))
            .bitwiseAND(1L) * 2L - 1L)) > 0, 1L).otherwise(0L))
      aggregate(bits, lit(0L),
        (acc, b) => call_function("shiftleft", acc, lit(1)).bitwiseOR(b))
    }
    val rows = corpus.select(
      DedupFunctions.simhash(col("text")).as("fused"),
      legacySimhash(col("text")).as("legacy"))
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (f, l) => f == l })
  }

  // the round-2 HOF shingle formulation, kept verbatim as the semantic
  // reference for the fused ShinglesExpr (and the legacy minhash below)
  private def legacyShingles(text: org.apache.spark.sql.Column, n: Int) = {
    val toks = graft.functions.TextFunctions.tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  test("fused TokensExpr is bit-identical to the HOF formulation (incl. edge cases)") {
    import graft.functions.TextFunctions
    def legacyTokens(text: org.apache.spark.sql.Column) =
      filter(split(lower(text), "[^\\p{L}\\p{N}']+"), t => length(t) > 0)
    val docs = corpus.select(col("text")).unionByName(Seq(
      "", "   ", "one", "don't stop-here", "...!!", "Ünïcode Wörds 123",
      "'leading trailing'").toDF("text"))
    val rows = docs.select(
      TextFunctions.tokens(col("text")).as("fused"),
      legacyTokens(col("text")).as("legacy"))
      .as[(Seq[String], Seq[String])].collect()
    assert(rows.nonEmpty && rows.forall { case (f, l) => f == l })
  }

  test("fused ShinglesExpr is bit-identical to the HOF formulation (incl. short docs)") {
    import graft.functions.TextFunctions
    val docs = corpus.select(col("text"))
      .unionByName(Seq("", "one", "one two", "one two three").toDF("text"))
    val rows = docs.select(
      TextFunctions.shingles(col("text"), 3).as("fused"),
      legacyShingles(col("text"), 3).as("legacy"))
      .as[(Seq[String], Seq[String])].collect()
    assert(rows.nonEmpty && rows.forall { case (f, l) => f == l })
  }

  test("fused MinHashSigExpr is bit-identical to the HOF formulation") {
    def legacyMinhash(text: org.apache.spark.sql.Column, k: Int) = {
      val sh = array_distinct(legacyShingles(text, 3))
      aggregate(sh,
        transform(sequence(lit(0), lit(k - 1)), _ => lit(Long.MaxValue)),
        (acc, s) => zip_with(acc, sequence(lit(0), lit(k - 1)),
          (m, j) => least(m, xxhash64(s, j))))
    }
    val rows = corpus.select(
      DedupFunctions.minhashSignature(col("text"), 32, 3).as("fused"),
      legacyMinhash(col("text"), 32).as("legacy"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(rows.nonEmpty && rows.forall { case (f, l) => f == l })
  }

  test("fused CosineExpr is bit-identical to the HOF formulation (float+double)") {
    def legacyDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    def legacyCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      legacyDot(a, b) / (sqrt(legacyDot(a, a)) * sqrt(legacyDot(b, b)))
    val dbl = (0 until 40).map(i =>
      (i.toLong,
       (0 until 24).map(j => math.sin(i * 3.7 + j) * 2).toArray,
       (0 until 24).map(j => math.cos(i * 1.9 + j * 0.7)).toArray))
      .toDF("id", "a", "b")
    val flt = dbl.select(col("id"),
      transform(col("a"), x => x.cast("float")).as("a"),
      transform(col("b"), x => x.cast("float")).as("b"))
    for (df <- Seq(dbl, flt)) {
      val rows = df.select(
        AnnFunctions.cosine(col("a"), col("b")).as("fused"),
        legacyCosine(col("a"), col("b")).as("legacy"))
        .as[(Double, Double)].collect()
      assert(rows.nonEmpty && rows.forall { case (f, l) => f == l })
    }
  }

  test("fused SignSketchExpr is bit-identical to the HOF formulation (both seeds, float+double)") {
    def legacySketch(emb: org.apache.spark.sql.Column, planes: Int, seed: Int) = {
      def h(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
        if (seed == 0) xxhash64(i, j) else xxhash64(i, j, lit(seed))
      val bits = transform(sequence(lit(0), lit(planes - 1)), j => {
        val s = aggregate(
          zip_with(emb, sequence(lit(0), size(emb) - 1),
            (v, i) => v * (h(i, j).bitwiseAND(1L) * 2L - 1L).cast("double")),
          lit(0.0d), (acc, v) => acc + v)
        when(s > 0, 1L).otherwise(0L)
      })
      aggregate(bits, lit(0L),
        (acc, b) => call_function("shiftleft", acc, lit(1)).bitwiseOR(b))
    }
    val dbl = (0 until 40).map(i =>
      (i.toLong, (0 until 24).map(j => math.sin(i * 3.7 + j) * 2).toArray))
      .toDF("id", "e")
    val flt = dbl.select(col("id"), transform(col("e"), x => x.cast("float")).as("e"))
    for ((df, seed) <- Seq((dbl, 0), (dbl, 3), (flt, 0), (flt, 3))) {
      val rows = df.select(
        AnnFunctions.signSketch(col("e"), 8, seed).as("fused"),
        legacySketch(col("e"), 8, seed).as("legacy"))
        .as[(Long, Long)].collect()
      assert(rows.nonEmpty && rows.forall { case (f, l) => f == l },
        s"seed=$seed mismatch")
    }
  }

  test("probeBuckets enumerates exactly the sketches within probeBits flips") {
    val df = Seq(Tuple1(0L)).toDF("b")
      .select(AnnFunctions.probeBuckets(col("b"), planes = 8, probeBits = 2).as("p"))
    val probes = df.as[Seq[Long]].collect().head
    assert(probes.length == 1 + 8 + 28) // C(8,0)+C(8,1)+C(8,2)
    assert(probes.contains(0L))
    assert(probes.forall(m => java.lang.Long.bitCount(m) <= 2 && m < 256))
    assert(probes.distinct.length == probes.length)
  }

  test("semanticDupFlags at intermediate k: k ~ sqrt(n) bounds cells, recall holds") {
    // the k-scaling playbook's claim, executed: on n = 1024 clustered
    // vectors with k = 32 (= sqrt(n)), the trained codebook keeps every
    // cell far below n (the sum-|cell|^2 pair work stays ~O(n)), and the
    // planted near-dup pairs still all drop at nprobe=2 — raising k trades
    // assignment cost (O(k*dim) per row) for cell bound, never recall on
    // in-cell mates
    val dim = 16
    val k = 32
    val rnd = new scala.util.Random(97)
    val centers = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val base = (0 until 1024).map { i =>
      val c = centers(i % k)
      val v = Array.tabulate(dim)(d => c(d) + 0.12 * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / n).toSeq)
    }
    val copies = base.filter(_._1 % 8 == 0).map { case (id, v) =>
      (id + 10000L, v.map(_ * 1.000001)) // cosine-identical mate, larger id
    }
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val cents = AnnFunctions.trainCodebook(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = k, iters = 2)
    val flags = DedupFunctions.semanticDupFlags(df, "vec_id", "embedding",
        cents, threshold = 0.999, nprobe = 2)
      .as[(Long, Int, Boolean)].collect()
    val cellSizes = flags.groupBy(_._2).view.mapValues(_.length)
    val maxCell = cellSizes.values.max
    info(s"k=$k cells=${cellSizes.size} max|cell|=$maxCell of ${flags.length}")
    // bounded cells: no cell hoards the corpus (expected ~n/k = 36; allow
    // 4x imbalance before calling the codebook degenerate)
    assert(maxCell <= 4 * (flags.length / k), s"hot cell of $maxCell")
    // cosine-identical copies drop; their originals keep
    val copyFlags = flags.filter(_._1 >= 10000L)
    assert(copyFlags.length == 128 && copyFlags.forall(!_._3),
      s"${copyFlags.count(_._3)} planted copies survived")
    assert(flags.filter(_._1 < 10000L).count(!_._3) == 0,
      "an original dropped — false positive")
  }

  test("embeddingDupPairs finds a pair one sketch-bit apart (multi-probe)") {
    // two near-identical vectors plus decoys; regardless of which buckets
    // the sketches land in, the near pair must surface
    val near = (0 until 16).map(_ * 0.1)
    val nearB = near.updated(3, near(3) + 0.01)
    val rows = Seq((1L, near), (2L, nearB)) ++
      (3L to 40L).map(i => (i, (0 until 16).map(j => math.sin(i * 17.0 + j).abs)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = DedupFunctions.embeddingDupPairs(df, "vec_id", "embedding",
      threshold = 0.999, planes = 8, probeBits = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }
}
