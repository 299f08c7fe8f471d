package graft.pipeline

import graft.{Bench, BenchWorker, SparkEntry}
import graft.mapper.TestSpark

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

/** Executable checks for the query tool: its argument handling, the `time`
  * mode's failure accounting, the scaling block, and the plan the scaling
  * worker times. These are the pieces a reader of the tool's output relies
  * on; a regression here silently corrupts the reported evidence even when
  * every query is green.
  */
class BenchHarnessSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val mapper = new ObjectMapper()

  // ---- argument handling ------------------------------------------------

  private val known = SparkEntry.registry.filter(q => Set("q1_agg", "q3_window")(q.name))

  test("command: an unknown or missing mode is a usage error") {
    assert(Bench.command(Seq("headline"), known) == Left("unknown mode headline"))
    assert(Bench.command(Seq(), known).isLeft)
    assert(Bench.command(Seq("scaling", "q1_agg"), known).isLeft)
  }

  test("command: every unknown query is named") {
    assert(Bench.command(Seq("time", "q1_agg", "nope", "q3_window", "gone"), known) ==
      Left("unknown queries: nope, gone"))
    assert(Bench.command(Seq("explain", "-", "nope"), known) == Left("unknown queries: nope"))
  }

  test("command: explain needs a target and a query") {
    val err = Left("explain needs a target and at least one query")
    assert(Bench.command(Seq("explain"), known) == err)
    assert(Bench.command(Seq("explain", "-"), known) == err)
    assert(Bench.command(Seq("explain", "plans", "before"), known) == err)
  }

  test("command: modes resolve their queries in the order named") {
    val Seq(q1, q3) = known
    assert(Bench.command(Seq("time"), known) == Right(Bench.Time(known)))
    assert(Bench.command(Seq("time", "q3_window", "q1_agg"), known) == Right(Bench.Time(Seq(q3, q1))))
    assert(Bench.command(Seq("explain", "-", "q3_window"), known) ==
      Right(Bench.Explain("-", "", Seq(q3))))
    assert(Bench.command(Seq("explain", "plans", "before", "q1_agg"), known) ==
      Right(Bench.Explain("plans", "before", Seq(q1))))
    assert(Bench.command(Seq("scaling"), known) == Right(Bench.Scaling))
  }

  // ---- time ---------------------------------------------------------------

  test("time: a query that throws is one failure and the rest are timed") {
    val spark = TestSpark.spark
    val broken = SparkEntry.QueryDef("broken", (_, _) => sys.error("no such table"), "")
    val queries = Seq(known.head, broken, known.last)
    val out = new ByteArrayOutputStream()
    val failed = Console.withOut(out)(Bench.time(spark, "/root/testdata/sf0.001", queries))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(failed == 1, lines)
    assert(lines.map(_.split("\\s+").head) == Seq("q1_agg", "broken", "q3_window"), lines)
    assert(lines(1) == "broken FAILED no such table")
    Seq(lines.head, lines(2)).foreach(l => assert(l.matches("""\S+\s+cold=\s*[\d.]+ min=\s*[\d.]+"""), l))
  }

  // ---- scaling block ----------------------------------------------------

  test("scaling: a 4-core host is not measurable") {
    assert(mapper.writeValueAsString(Bench.unmeasurable(4)) ==
      """{"measurable":false,"nproc":4,"cores_needed":16}""")
  }

  test("scaling: pair summary gives per-pair efficiency, median and quartiles") {
    // (lo, hi) walls at cores 4 vs 16: efficiency = (lo / hi) / 4
    val pairs = Seq((80.0, 25.0), (72.0, 20.0), (90.0, 22.5), (56.0, 20.0))
    val b = Bench.scalingBlock(32, 1000000L, pairs)
    val effs = b.get("pairs").elements().asScala.map(_.get("efficiency").asDouble).toSeq
    assert(effs == Seq(0.8, 0.9, 1.0, 0.7))
    // sorted 0.7 0.8 0.9 1.0, linear interpolation between order statistics
    assert(b.get("efficiency").asDouble == 0.85)
    assert(b.get("efficiency_q1").asDouble == 0.775)
    assert(b.get("efficiency_q3").asDouble == 0.925)
    assert(b.get("pairs").get(2).get("sec_lo").asDouble == 90.0)
    assert(b.get("pairs").get(2).get("sec_hi").asDouble == 22.5)
    // median walls per configuration: lo 76, hi 21.25
    assert(b.get("sec_lo").asDouble == 76.0 && b.get("sec_hi").asDouble == 21.25)
    assert(b.get("triples_per_sec_lo").asLong == 13158L)
    assert(b.get("triples_per_sec_hi").asLong == 47059L)
    assert(b.get("measurable").asBoolean && b.get("nproc").asInt == 32)
    assert(b.get("triples").asLong == 1000000L && b.get("turns").asLong == 12000000L)
    assert(b.get("cores_lo").asInt == 4 && b.get("cores_hi").asInt == 16)
  }

  // ---- the scaling worker ------------------------------------------------

  test("worker: the sink write keeps its sort and counts what it writes") {
    val spark = TestSpark.spark
    val triples = graft.streaming.TranscriptStream.triples(
      graft.sources.TranscriptGen.transcripts(spark, 2000L), SparkEntry.transcriptTable)
    val plans = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val n = try BenchWorker.sinkCount(triples) finally spark.listenerManager.unregister(listener)
    // the sink's sort on (subj, pred, obj) is in a plan that ran; the
    // transcript window's own sort on (conv_id, gid) does not count
    val sinkOrder = Seq("subj", "pred", "obj")
    val sorted = Iterator.continually(plans.poll(60, TimeUnit.SECONDS)).takeWhile(_ != null)
      .exists(qe => collect(qe.executedPlan) {
        case s: SortExec if s.sortOrder.flatMap(_.references.map(_.name)) == sinkOrder => s
      }.nonEmpty)
    assert(sorted, "no plan with the sink's sort ran")
    assert(n > 0 && n == graft.materialize.GraphWriter.sink(triples).count())
  }

  // ---- the query registry Bench and Verify iterate ----------------------

  test("registry: 80 queries, unique names, every one with oracle SQL") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 80)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    val blank = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank)
  }
}
