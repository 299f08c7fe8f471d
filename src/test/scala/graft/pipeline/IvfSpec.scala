package graft.pipeline

import graft.functions.AnnFunctions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN (`AnnFunctions.ivfTopK`): fused cell-assignment parity against a
  * driver-side reimplementation, planted-pair recall against brute force,
  * and the plan-shape guarantee that candidates meet on a cell equi-join
  * (never a cartesian).
  */
class IvfSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  private val Dim = 16
  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private def vec(i: Int): Array[Double] =
    normalize(Array.tabulate(Dim)(j => math.sin(i * 13.7 + j * 0.91) + 0.1))
  /** near-copy: tiny deterministic perturbation, cosine ≥ 0.999 */
  private def copyOf(i: Int): Array[Double] =
    vec(i).zipWithIndex.map { case (x, j) => x + ((i * 31 + j) % 7 - 3) * 0.002 }

  private val N = 60
  private val C = 8 // codebook size
  private lazy val centroids: Array[Array[Double]] = (0 until C).map(vec).toArray

  private lazy val base = (0 until N).map(i => (i.toLong, vec(i).toSeq)).toDF("vec_id", "embedding")
  private lazy val corpus = ((0 until N).map(i => (i.toLong, vec(i).toSeq)) ++
    (0 until N).map(i => ((1000 + i).toLong, copyOf(i).toSeq))).toDF("vec_id", "embedding")

  private def cosine(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum /
      (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))

  test("fused ivfCells matches a driver-side argmax over the same codebook") {
    val got = base.select(col("vec_id"),
        AnnFunctions.ivfCells(col("embedding"), centroids, 3).as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    (0 until N).foreach { i =>
      val expect = centroids.indices
        .sortBy(c => (-cosine(vec(i), centroids(c)), c)).take(3)
      assert(got(i.toLong) == expect, s"cells for vec $i")
    }
  }

  test("fused ivfCells on float arrays matches the double-array cells") {
    val fltBase = base.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("float")).as("embedding"))
    val dbl = base.select(col("vec_id"),
        AnnFunctions.ivfCells(col("embedding"), centroids, 3).as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    val flt = fltBase.select(col("vec_id"),
        AnnFunctions.ivfCells(col("embedding"), centroids, 3).as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    // float rounding could flip a genuine near-tie, but on this corpus the
    // centroid margins dwarf float epsilon — cells must agree exactly
    assert(dbl == flt)
  }

  test("planted copies surface through the probed cells: IVF top-1 == brute-force top-1") {
    val queries = base.filter(col("vec_id") < 10)
    val ivf = AnnFunctions.ivfTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 1, centroids, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val brute = AnnFunctions.bruteForceTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(ivf == brute, s"ivf=$ivf\nbrute=$brute")
    // and each query's top-1 is its planted copy
    assert(brute == (0 until 10).map(i => (i.toLong, (1000 + i).toLong)).toMap)
  }

  test("trainCodebook matches a driver-side Lloyd replication (k=8, 2 rounds)") {
    val trained = AnnFunctions.trainCodebook(base, "vec_id", "embedding", k = 8, iters = 2)
    // plain-Scala replication of the contract: init = 8 lowest ids, assign
    // by (cosine desc, index asc), mean per cell, empty cell keeps centroid
    var expect: Array[Array[Double]] = (0 until 8).map(vec).toArray
    (0 until 2).foreach { _ =>
      val members = (0 until N).groupBy(i =>
        expect.indices.minBy(c => (-cosine(vec(i), expect(c)), c)))
      expect = expect.indices.map { c =>
        members.get(c) match {
          case Some(ms) =>
            Array.tabulate(Dim)(d => ms.map(i => vec(i)(d)).sum / ms.size)
          case None => expect(c)
        }
      }.toArray
    }
    trained.zip(expect).zipWithIndex.foreach { case ((got, want), c) =>
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"centroid $c: $g vs $w")
      }
    }
  }

  test("trained codebook keeps planted-pair recall: IVF top-1 == brute top-1") {
    val trained = AnnFunctions.trainCodebook(base, "vec_id", "embedding", k = 8, iters = 2)
    val queries = base.filter(col("vec_id") < 10)
    val ivf = AnnFunctions.ivfTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 1, trained, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(ivf == (0 until 10).map(i => (i.toLong, (1000 + i).toLong)).toMap)
  }

  test("candidate join is a cell equi-join — no cartesian in the plan") {
    val plan = AnnFunctions.ivfTopK(base.filter(col("vec_id") < 10), corpus,
        "vec_id", "vec_id", "embedding", k = 5, centroids, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("training round is one k-row hash aggregate — no row inflation") {
    // the mean must NOT posexplode the corpus (dim× map-side row blowup per
    // round): the plan is scan → project(cell, emb) → partial HashAggregate
    // → single exchange of ~k×partitions rows → final HashAggregate
    val qe = AnnFunctions.trainRound(base, "embedding", centroids).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Generate"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
    // and the values it feeds trainCodebook are the member means
    val rows = AnnFunctions.trainRound(base, "embedding", centroids).collect()
    rows.foreach { r =>
      val cell = r.getInt(0)
      val members = (0 until N).map(vec).filter(v =>
        centroids.indices.minBy(c => (-cosine(v, centroids(c)), c)) == cell)
      assert(r.getLong(1) == members.size, s"cell $cell count")
      (0 until Dim).foreach { j =>
        val mean = members.map(_(j)).sum / members.size
        assert(math.abs(r.getDouble(2 + j) / r.getLong(1) - mean) < 1e-9,
          s"cell $cell dim $j")
      }
    }
  }

  test("pqCodes: per-subspace nearest-centroid indices with hand-built codebooks") {
    // dim 4, m=2: subspace axes (1,0)/(0,1) as centroids — codes are the
    // 0-based argmax cells, subspace by subspace
    val cbs = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val got = Seq(
      (1L, Seq(0.9, 0.1, 0.2, 0.8)),  // sub0 -> cell 0, sub1 -> cell 1
      (2L, Seq(0.1, 0.9, 0.8, 0.2))   // sub0 -> cell 1, sub1 -> cell 0
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"), AnnFunctions.pqCodes(col("embedding"), cbs).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got == Map(1L -> Seq(0, 1), 2L -> Seq(1, 0)))
  }

  /** `base` with a null embedding at `nullId` and a 3-long one at `shortId`. */
  private def ragged(nullId: Long, shortId: Long) = base.withColumn("embedding",
    when(col("vec_id") === nullId, lit(null))
      .when(col("vec_id") === shortId, slice(col("embedding"), 1, 3))
      .otherwise(col("embedding")))

  test("trainCodebook: a null init row and a short row beyond the init fail by name") {
    val ex = intercept[IllegalArgumentException] {
      AnnFunctions.trainCodebook(ragged(nullId = 2, shortId = 50), "vec_id", "embedding",
        k = 8, iters = 1)
    }
    assert(ex.getMessage.contains(s"1 null, lengths 3 to $Dim"), ex.getMessage)
  }

  test("trainPqCodebooks: a null init row and a short row beyond the init fail by name") {
    val ex = intercept[IllegalArgumentException] {
      AnnFunctions.trainPqCodebooks(ragged(nullId = 1, shortId = 40), "vec_id", "embedding",
        m = 2, k = 4, iters = 1)
    }
    assert(ex.getMessage.contains(s"1 null, lengths 3 to $Dim"), ex.getMessage)
  }

  test("trainPqCodebooks == independent trainCodebook per subvector slice") {
    val cbs = AnnFunctions.trainPqCodebooks(base, "vec_id", "embedding",
      m = 2, k = 4, iters = 2)
    assert(cbs.length == 2 && cbs.forall(cb => cb.length == 4 && cb.forall(_.length == Dim / 2)))
    (0 until 2).foreach { j =>
      val sliced = base.select(col("vec_id"),
        slice(col("embedding"), j * (Dim / 2) + 1, Dim / 2).as("embedding"))
      val want = AnnFunctions.trainCodebook(sliced, "vec_id", "embedding", k = 4, iters = 2)
      assert(cbs(j).map(_.toSeq).toSeq == want.map(_.toSeq).toSeq, s"subspace $j")
    }
  }

  test("single-pass PQ round: ONE corpus scan, one exchange, counts cover the corpus") {
    // round 9: a Lloyd round for ALL m subspaces is one FileScan feeding a
    // (s, cell)-grouped aggregate — the round-8 form re-scanned the corpus
    // once per subspace
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cbs0 = AnnFunctions.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 2, k = 4, iters = 0)
    val round = AnnFunctions.trainPqRound(emb, "embedding", cbs0)
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused")) == 1, plan)
    assert(plan.contains("HashAggregate"), plan)
    val n = emb.count()
    val rows = round.collect()
    (0 until 2).foreach { s =>
      assert(rows.filter(_.getInt(0) == s).map(_.getLong(2)).sum == n, s"subspace $s")
    }
  }

  test("pqTopK: ADC ranks the code-sharing near-copy first; distinct-cell decoy loses") {
    // the copy encodes to the query's own product cell, so its ADC equals
    // the per-subspace maximum; the decoy lives in the opposite cells
    val cbs = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val corpus = Seq(
      (1L, Seq(1.0, 0.05, 0.05, 1.0)),   // the query itself (excluded)
      (10L, Seq(0.99, 0.06, 0.04, 0.98)), // near-copy, same codes
      (5L, Seq(0.05, 1.0, 1.0, 0.05))    // decoy in the opposite cells
    ).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 1L)
    val top = AnnFunctions.pqTopK(q, corpus, "vec_id", "vec_id", "embedding",
        k = 2, cbs)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(top == Set((1L, 10L, 1), (1L, 5L, 2)), top.toString)
  }

  test("pqRerankTopK: exact re-rank restores brute-force top-1 over ADC candidates") {
    val cbs = AnnFunctions.trainPqCodebooks(base, "vec_id", "embedding",
      m = 2, k = 4, iters = 2)
    val queries = base.filter(col("vec_id") < 10)
    val got = AnnFunctions.pqRerankTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 1, cbs, candidates = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = AnnFunctions.bruteForceTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == brute, s"rerank $got vs brute $brute")
    // and the winners are the planted >=0.999-cosine copies
    assert(got == (0L until 10L).map(q => (q, 1000L + q)).toSet)
  }

  test("pqRerankTopK: k above the candidate pool throws instead of a short list") {
    val cbs = AnnFunctions.trainPqCodebooks(base, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    val ex = intercept[IllegalArgumentException] {
      AnnFunctions.pqRerankTopK(base.limit(1), corpus, "vec_id", "vec_id",
        "embedding", k = 5, cbs, candidates = 4)
    }
    assert(ex.getMessage.contains("k=5 exceeds the ADC candidate pool (4)"), ex.getMessage)
  }

  test("pqTopK on the sf-style corpus: every query's top-1 SCORE equals its planted copy's") {
    // PQ resolution is the product cell: vectors sharing the query's codes
    // tie at the maximal ADC and the id tie-break picks the lowest — so
    // the copy may not BE top-1, but nothing can outscore it. This is the
    // documented contract (ADC is the candidate stage; exact re-rank via
    // bruteForce/ivfTopK when final order matters).
    val cbs = AnnFunctions.trainPqCodebooks(base, "vec_id", "embedding",
      m = 2, k = 4, iters = 2)
    val queries = base.filter(col("vec_id") < 10)
    val ranked = AnnFunctions.pqTopK(queries, corpus, "vec_id", "vec_id",
      "embedding", k = 2 * N, cbs)
    val rows = ranked.select("query_id", "neighbor_id", "adc")
      .as[(Long, Long, Double)].collect()
    val byQuery = rows.groupBy(_._1)
    (0L until 10L).foreach { q =>
      val rs = byQuery(q)
      val top = rs.map(_._3).max
      val copyScore = rs.find(_._2 == 1000L + q).map(_._3)
      assert(copyScore.contains(top), s"query $q: copy ${copyScore} vs top $top")
    }
  }
}
