package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards: the round-2 performance work lives or dies
  * on these properties, so they are asserted, not just benchmarked.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark
  import spark.implicits._

  // multi-partition source: a single-partition LocalTableScan would let the
  // planner elide the exchange entirely
  private def tripleDf = spark.range(0, 100, 1, 4).selectExpr(
    "CAST(id AS STRING) AS subj", "'p' AS pred",
    "CAST(id % 7 AS STRING) AS obj", "true AS obj_iri",
    "CAST(NULL AS STRING) AS lang", "CAST(NULL AS STRING) AS dtype")

  test("fused text/embedding expressions stay inside WholeStageCodegen") {
    import graft.functions.{AnnFunctions, TextFunctions}
    // parquet-backed source: LocalTableScan collapses projections and would
    // hide a codegen fallback
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // native array cast — a transform(cast) lambda would itself break the
    // codegen property this test guards
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // a codegen'd Project prints with the `*(n)` stage marker; a fallback
    // (e.g. a no-codegen HOF in the tree — the round-3 tokens() bug) loses
    // it, silently interpreting the whole projection
    def codegenProject(plan: String, expr: String): Boolean =
      plan.linesIterator.exists(l =>
        l.contains("Project") && l.contains(expr) && l.trim.startsWith("*("))
    val pTok = docs.select(TextFunctions.shingles(col("text"), 3))
      .queryExecution.executedPlan.toString
    assert(codegenProject(pTok, "shinglesexpr(tokensexpr"), pTok)
    val pSig = docs.select(graft.functions.DedupFunctions.simhash(col("text")))
      .queryExecution.executedPlan.toString
    assert(codegenProject(pSig, "simhash64expr(tokensexpr"), pSig)
    val pIvf = emb.select(AnnFunctions.ivfCells(col("emb"), Array(Array(1.0, 0.0)), 1))
      .queryExecution.executedPlan.toString
    assert(codegenProject(pIvf, "ivfcellsexpr"), pIvf)
  }

  test("sink dedup: partial+final hash aggregate, no sort aggregate, one exchange") {
    val plan = graft.materialize.GraphWriter.sink(tripleDf).queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert("Exchange".r.findAllMatchIn(plan).length == 1, plan)
    assert("""Sort \[""".r.findAllMatchIn(plan).length == 1, plan)
  }

  private def aggregates(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }

  test("kg composition: the sink holds the only dedup after canonicalize") {
    import graft.link.{ConnectedComponents, EntityLink}
    // transcripts -> triples, and mentions -> star edges -> components over
    // an in-memory dictionary: the pipeline's composition at spec scale
    val turns = spark.range(0, 8, 1, 2).selectExpr("concat('c', id % 2) AS conv_id",
      "CAST(id AS INT) AS turn_idx", "'user' AS role", "concat('spark k', id % 3) AS text",
      "'' AS tool", "TIMESTAMP'2024-01-01 00:00:00' AS ts")
    val dict = Seq(("e1", "spark"), ("e2", "k1")).toDF("entity_id", "surface")
    val keyed = turns.withColumn("subj_key", concat(lit("urn:conv:"), col("conv_id"),
      lit("/turn/"), col("turn_idx").cast("string")))
    val comp = ConnectedComponents.run(spark,
      EntityLink.starEdges(EntityLink.mentions(keyed, dict, "subj_key", "text"), "subj_key"))
    val triples = graft.streaming.TranscriptStream.triples(turns, graft.SparkEntry.transcriptTable)
    val canon = EntityLink.canonicalizeSubjects(triples, comp)
    assert(aggregates(canon).isEmpty, canon.queryExecution.optimizedPlan)
    val sunk = graft.materialize.GraphWriter.sink(canon)
    assert(aggregates(sunk).length == 1, sunk.queryExecution.optimizedPlan)
    val g2 = graft.SparkEntry.queries("g2_graph_canonicalize")(spark, "/root/testdata/sf0.001")
    assert(aggregates(g2).length == 1, g2.queryExecution.optimizedPlan)
  }

  test("triple mapper is exchange-free over its input (single narrow stage)") {
    val tr = Seq(("c1", 0, "user", "hello", "", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val triples = graft.streaming.TranscriptStream.triples(tr, graft.SparkEntry.transcriptTable)
    val plan = triples.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the whole per-column triple construction flattens into ONE Generate
    assert("Generate".r.findAllMatchIn(plan).length == 1, plan)
  }

  /** Every expression in `df`'s optimized plan, descendants included. */
  private def optimizedExprs(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case e => e })

  test("transcript mapping: one LitTriplesExpr, folded predicates, no lambda") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Literal}
    import graft.expr.{LitTriplesExpr, UriTemplateExpandExpr}
    // a range source: the optimizer would evaluate the whole mapping over a
    // LocalRelation at plan time and leave no expression to inspect
    val tr = spark.range(0, 4, 1, 2).selectExpr("'c1' AS conv_id",
      "CAST(id AS INT) AS turn_idx", "'user' AS role", "'hello' AS text", "'' AS tool",
      "TIMESTAMP'2024-01-01 00:00:00' AS ts")
    val table = graft.SparkEntry.transcriptTable
    val exprs = optimizedExprs(graft.streaming.TranscriptStream.triples(tr, table))
    val lits = exprs.collect { case e: LitTriplesExpr => e }
    assert(lits.length == 1, exprs.mkString("\n"))
    // the hoisted aboutUrl is the only template left to expand per row
    assert(exprs.count(_.isInstanceOf[UriTemplateExpandExpr]) == 1, exprs.mkString("\n"))
    // children: the skolem, then (subject, predicate, vals) per column; every
    // `{_name}` predicate arrives folded to its IRI
    val preds = lits.head.children.tail.grouped(3).map(_(1)).toSeq
    assert(preds.map {
      case l: Literal => l.value.toString
      case other => fail(s"predicate not folded: $other")
    } == table.columns.map(c => "https://example.org/transcript#" + c.name))
    assert(!exprs.exists(_.isInstanceOf[LambdaFunction]), exprs.mkString("\n"))
  }

  test("standard-mode ordered list: built by LitTriplesExpr, no zip_with") {
    import org.apache.spark.sql.catalyst.expressions.ZipWith
    import graft.expr.LitTriplesExpr
    val json = """{
      "url": "http://example.org/t",
      "tableSchema": {
        "aboutUrl": "urn:row:{_row}",
        "columns": [{"name": "tags", "separator": ";", "ordered": true}]
      }
    }"""
    val t = graft.model.Resolve.group(graft.model.CsvwJson.parseTableGroup(json)).head
    val df = spark.range(1, 3, 1, 2).selectExpr("'a;b' AS tags", "id AS rn")
    val exprs = optimizedExprs(graft.mapper.TripleMapper.triples(df, t,
      Map("tags" -> col("tags")), col("rn"), col("rn"), col("rn"), minimal = false))
    assert(exprs.count(_.isInstanceOf[LitTriplesExpr]) == 1, exprs.mkString("\n"))
    assert(!exprs.exists(_.isInstanceOf[ZipWith]), exprs.mkString("\n"))
  }

  // standard mode over every column kind whose triples or errors the mapper
  // builds: a rowTitles literal, an integer with one invalid cell, an
  // ordered list, a valueUrl column and a virtual column whose valueUrl
  // names the list
  private lazy val wideTable = graft.model.Resolve.group(graft.model.CsvwJson.parseTableGroup("""{
    "url": "http://example.org/t",
    "tableSchema": {
      "aboutUrl": "urn:row:{_row}",
      "rowTitles": ["name"],
      "columns": [
        {"name": "name", "datatype": "string"},
        {"name": "n", "datatype": "integer"},
        {"name": "tags", "separator": ";", "ordered": true},
        {"name": "ref", "valueUrl": "urn:ref:{ref}"},
        {"name": "link", "virtual": true, "propertyUrl": "http://example.org/link",
         "valueUrl": "urn:tag{/tags*}"}
      ]
    }
  }""")).head
  private def wideRows = spark.range(1, 5, 1, 2).selectExpr("concat('n', id) AS name",
    "CASE WHEN id = 2 THEN 'x' ELSE CAST(id AS STRING) END AS n", "concat('a;', id) AS tags",
    "CAST(id AS STRING) AS ref", "id AS rn")
  private def wideInputs = wideTable.nonVirtual.map(c => c.name -> col(c.name)).toMap

  /** Every `Generate` of `df`'s executed plan carries a whole-stage codegen
    * `*(n)` marker, and its optimized plan holds no lambda. */
  private def assertCodegenGenerates(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    val plan = df.queryExecution.executedPlan.toString
    val generates = plan.linesIterator.filter(_.contains("Generate ")).toSeq
    assert(generates.nonEmpty &&
      generates.forall(l => """^[\s+:|-]*\*\(\d+\) Generate """.r.findFirstIn(l).isDefined), plan)
    val exprs = optimizedExprs(df)
    assert(!exprs.exists(_.isInstanceOf[LambdaFunction]), exprs.mkString("\n"))
  }

  test("standard-mode mapping: the triple Generate stays in whole-stage codegen") {
    assertCodegenGenerates(graft.mapper.TripleMapper.triples(wideRows, wideTable,
      wideInputs, col("rn"), col("rn"), col("rn"), minimal = false))
  }

  test("cellErrors: its Generates stay in whole-stage codegen") {
    val errs = graft.mapper.TripleMapper.cellErrors(wideRows, wideTable, wideInputs, col("rn"))
    assertCodegenGenerates(errs)
    assert(errs.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("2", "n")))
  }

  test("stratified sampling: deterministic, rate-accurate, exchange-free") {
    import graft.functions.Sampling
    val docs = spark.range(0, 100000, 1, 8).selectExpr(
      "id AS doc_id", "CASE WHEN id % 4 = 0 THEN 'en' ELSE 'de' END AS lang")
    val sampled = Sampling.stratifiedSample(
      docs, "doc_id", col("lang"), Map("en" -> 0.5, "de" -> 0.1), 0.0)
    // pure filter over the scan: no exchange, stays in codegen
    val plan = sampled.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // rerun-identical (pure function of the id, not of partitioning)
    val once = sampled.collect().map(_.getLong(0)).sorted.toSeq
    val again = Sampling.stratifiedSample(
      docs.repartition(3), "doc_id", col("lang"), Map("en" -> 0.5, "de" -> 0.1), 0.0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(once == again)
    // rates hit within a few percent at n=25k/75k per stratum
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en") / 25000.0 - 0.5) < 0.05, byLang)
    assert(math.abs(byLang("de") / 75000.0 - 0.1) < 0.03, byLang)
  }

  test("stratified sampling: an integer stratum column probes the string-keyed rates") {
    import graft.functions.Sampling
    val docs = spark.range(0, 1000, 1, 4).selectExpr("id AS doc_id", "CAST(id % 3 AS INT) AS bucket")
    val kept = Sampling.stratifiedSample(docs, "doc_id", col("bucket"),
      Map("0" -> 1.0, "1" -> 0.0), 0.5).collect()
    val byBucket = kept.groupBy(_.getInt(1)).map { case (b, rs) => b -> rs.length }
    assert(byBucket(0) == 334 && !byBucket.contains(1), byBucket)
    // bucket 2 has no rate: the default applies
    assert(byBucket(2) > 100 && byBucket(2) < 233, byBucket)
  }

  test("stratified sampling: derived stratum evaluated once; map probe == CASE chain") {
    import graft.functions.{Sampling, TextFunctions}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val derived = docs.select(col("doc_id"),
      TextFunctions.langId(col("text")).as("lang_pred"))
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    val sampled = Sampling.stratifiedSample(derived, "doc_id", col("lang_pred"),
      rates, 0.1)
    // one langId tree in the pushed-down filter + one in the output
    // projection — the round-8 CASE chain re-inlined the derivation into
    // every rate arm (measured 1.10 s -> 0.61 s at sf0.1 for x6)
    val plan = sampled.queryExecution.executedPlan.toString
    val langIdTrees = "array_max".r.findAllIn(plan).length
    assert(langIdTrees <= 2, s"derived stratum inlined $langIdTrees times:\n$plan")
    // and the kept set is identical to the round-8 CASE-chain formulation
    val rateRef = rates.toSeq.sortBy(_._1).foldRight(lit(0.1): org.apache.spark.sql.Column) {
      case ((stratum, r), acc) => when(col("lang_pred") === stratum, lit(r)).otherwise(acc)
    }
    val ref = derived.filter(Sampling.hashUnit(col("doc_id")) < rateRef)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == ref)
  }

  test("capped Jaccard: shingle equi-joins only, no cartesian, no full-set rewalk") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.functions.DedupFunctions
      .ngramJaccardPairs(docs, "doc_id", "text", shingleSize = 3,
        threshold = 0.12, dfCap = Some(32L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the sub-cap candidate join and the hot-sliver rejoin are both
    // equi-joins keyed (in part) on the shingle hash
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("entity linking broadcasts the dictionary (no corpus shuffle)") {
    val corpus = (0 until 50).map(i => (i.toLong, s"text spark $i")).toDF("doc_id", "text")
    val dict = Seq(("e1", "spark")).toDF("entity_id", "surface")
    val plan = graft.link.EntityLink.mentions(corpus, dict, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
