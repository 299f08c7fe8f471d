package graft.pipeline

import graft.{Bench, SparkEntry}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Executable checks for the bench harness's report plumbing — the scaling
  * block, the truncation-proof compact contract line, and the rule that a
  * run's document describes that run only. These are the pieces a consumer
  * of the bench output reads; a regression here silently corrupts the
  * reported evidence even when every query is green.
  */
class BenchHarnessSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** The compact line's keys when the document carries no measured scaling. */
  private val scalingFreeKeys =
    Set("metric", "value", "unit", "n_queries", "sf", "watchdog_fired", "full")

  private def keys(json: String): Set[String] =
    mapper.readTree(json).fieldNames().asScala.toSet

  // ---- compactLine: truncation-proof contract --------------------------

  test("compact line stays small and carries the headline fields") {
    // representative full document: 60 queries + cold map + a measured
    // six-pair scaling block, several KB — the size that defeated the
    // stdout tail capture twice
    val queries = (1 to 60).map(i => s""""q${i}_some_operator_name":${i / 10.0}""")
      .mkString("{", ",", "}")
    val pairs = Seq.fill(6)((83.65, 25.53))
    val scaling = Bench.scalingBlock(32, 62403979L, pairs)
    val full =
      s"""{"metric":"total","value":35.184,"unit":"sec","queries":$queries,""" +
        s""""queries_cold":$queries,"reps":2,"budget_secs":900,"elapsed_secs":99.8,""" +
        s""""ambient_load_before":0.42,"sf":"/root/testdata/sf0.1",""" +
        s""""scaling":${mapper.writeValueAsString(scaling)}}"""
    assert(full.length > 2500, s"fixture not representative: ${full.length}")
    val compact = Bench.compactLine(mapper.readTree(full))
    assert(compact.length < 400, s"compact line too long (${compact.length}): $compact")
    val n = mapper.readTree(compact)
    assert(n.get("metric").asText == "total")
    assert(math.abs(n.get("value").asDouble - 35.184) < 1e-9)
    assert(n.get("n_queries").asInt == 60)
    assert(n.get("sf").asText == "/root/testdata/sf0.1")
    // (83.65 / 25.53) / 4 = 0.8191...
    assert(math.abs(n.get("scaling_efficiency").asDouble - 0.819) < 1e-9)
    assert(keys(compact) == scalingFreeKeys + "scaling_efficiency")
    assert(!n.get("watchdog_fired").asBoolean)
    assert(n.get("full").asText == "BENCH/RESULT.json")
  }

  test("compact line survives a watchdog-truncated / scaling-free document") {
    val partial =
      """{"watchdog_fired":true,"metric":"total","value":12.5,"unit":"sec","queries":{"a":1.0,"b":2.0},"sf":"/x"}"""
    val compact = Bench.compactLine(mapper.readTree(partial))
    val n = mapper.readTree(compact)
    assert(n.get("watchdog_fired").asBoolean)
    assert(n.get("n_queries").asInt == 2)
    assert(n.get("scaling_efficiency") == null)
    assert(keys(compact) == scalingFreeKeys)
    // pathological: empty queries, no value
    val n2 = mapper.readTree(Bench.compactLine(mapper.readTree("""{"queries":{}}""")))
    assert(n2.get("n_queries").asInt == 0)
    assert(n2.get("value").asInt == 0)
  }

  // ---- scaling block ----------------------------------------------------

  test("scaling: a 4-core host is not measurable and keeps the compact line scaling-free") {
    val block = Bench.unmeasurable(4)
    assert(mapper.writeValueAsString(block) ==
      """{"measurable":false,"nproc":4,"cores_needed":16}""")
    val doc = mapper.createObjectNode()
    doc.put("metric", "total").put("value", 3.5).put("unit", "sec")
    doc.putObject("queries").put("q1_agg", 3.5)
    doc.put("sf", "/x")
    doc.set[com.fasterxml.jackson.databind.JsonNode]("scaling", block)
    val compact = Bench.compactLine(doc)
    assert(keys(compact) == scalingFreeKeys, compact)
    val n = mapper.readTree(compact)
    assert(n.get("value").asDouble == 3.5 && n.get("n_queries").asInt == 1)
    assert(!n.get("watchdog_fired").asBoolean)
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

  test("report: a stale RESULT.json's scaling block is not carried into a new document") {
    val dir = Files.createTempDirectory("graft_bench_report")
    try {
      // an earlier run's document with a pooled 32-core scaling block
      Files.writeString(dir.resolve("RESULT.json"),
        """{"metric":"total","value":49.044,"unit":"sec","queries":{"q1_agg":0.242},""" +
          """"sf":"/old","scaling":{"triples":62399680,"efficiency":0.847,""" +
          """"quiet_pool":6,"window_quality":"ok"}}""" + "\n")
      val report = new Bench.Report(dir, "/new")
      val out = new ByteArrayOutputStream()
      // a watchdog firing before the first query finished emits the run's
      // own empty document, not the stale one
      Console.withOut(out)(report.emit(watchdogFired = true))
      val printed = out.toString("UTF-8").linesIterator.toSeq
      assert(printed.size == 2, printed)
      val doc = mapper.readTree(Files.readString(dir.resolve("RESULT.json")))
      assert(doc == mapper.readTree(printed.head))
      assert(doc.get("scaling") == null, doc)
      assert(doc.get("sf").asText == "/new")
      assert(doc.get("queries").size == 0)
      assert(doc.get("watchdog_fired").asBoolean)
      assert(keys(printed(1)) == scalingFreeKeys, printed(1))
      // emission happens once
      Console.withOut(out)(report.emit(watchdogFired = false))
      assert(out.toString("UTF-8").linesIterator.size == 2)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  // ---- the query registry Bench, Verify and BenchExtra iterate ---------

  test("registry: 80 queries, unique names, every one with oracle SQL") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 80)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    val blank = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank)
  }
}
