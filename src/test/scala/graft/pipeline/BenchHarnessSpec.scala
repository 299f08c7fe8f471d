package graft.pipeline

import graft.{Bench, SparkEntry}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Executable checks for the bench harness's evidence plumbing — the
  * window-classification rules, the cross-run quiet-pair pool, and the
  * truncation-proof compact contract line. These are the pieces the driver
  * and the judge read; a regression here silently corrupts the committed
  * scaling evidence even when every query is green.
  */
class BenchHarnessSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  // ---- classify: rule-based window tags --------------------------------

  test("classify: quiet / throttled / contended / contaminated rules") {
    val ratio = 4.0
    // (lo, hi): base pair 80/24.5 is quiet under the 12M gates (85/26.5)
    val pairs = Seq(
      Bench.Pair(80, 24.5),  // quiet
      Bench.Pair(80, 30.0),  // hi ramps past 1.2x best hi AND abs gate -> throttled
      Bench.Pair(95, 24.6),  // lo past 1.15x best lo AND abs gate -> contended
      Bench.Pair(60, 24.5))  // eff (60/24.5)/4 = 0.61.. fine; but 60 becomes best lo
    val tags = Bench.classify(pairs, ratio, absLo = 85, absHi = 26.5)
    assert(tags(1) == "throttled", tags.mkString(","))
    assert(tags(2) == "contended", tags.mkString(","))
    assert(tags(3) == "quiet", tags.mkString(","))
    // pair 0's lo (80) is 1.33x the run-best lo (60) -> contended
    assert(tags(0) == "contended", tags.mkString(","))
    // super-unity efficiency marks the LO leg host-hit
    val cont = Bench.classify(Seq(Bench.Pair(110, 24.0)), ratio, 85, 26.5)
    assert(cont == Seq("contaminated"))
  }

  test("absolute gates scale with the configured turn count") {
    val (lo12, hi12) = Bench.absoluteGates(12000000L)
    assert(lo12 == 85.0 && hi12 == 26.5)
    val (lo3, hi3) = Bench.absoluteGates(3000000L)
    assert(math.abs(lo3 - 85.0 / 4) < 1e-9 && math.abs(hi3 - 26.5 / 4) < 1e-9)
  }

  // ---- loadQuietPool: cross-run accumulation ---------------------------

  private def withHistory(lines: String*)(body: Path => Unit): Unit = {
    val f = Files.createTempFile("graft_hist", ".jsonl")
    try { Files.writeString(f, lines.mkString("\n") + "\n"); body(f) }
    finally Files.deleteIfExists(f)
  }

  test("pool: new-format lines re-apply absolute gates per pair") {
    withHistory(
      // two quiet-tagged pairs; the second's hi wall breaks the abs gate
      """{"ts_ms":100,"eff":0.82,"pairs":[0.82,0.84],"tags":["quiet","quiet"],
        |"quality":"ok","pipeline":"r4","turns":12000000,"triples":1,
        |"pair_lo":[80.0,80.0],"pair_hi":[24.4,27.0],
        |"sec_lo":80.0,"sec_hi":24.4}""".stripMargin.replaceAll("\n", "")
    ) { f =>
      val pool = Bench.loadQuietPool(85, 26.5, 12000000L, 8, p = f)
      assert(pool.map(_._2) == Vector(0.82), pool.toString)
    }
  }

  test("pool: old-format lines qualify only when run-best walls pass") {
    withHistory(
      // round-3 sustained-contention run: quiet tags but run-best hi 27.29
      // breaks the absolute gate -> excluded wholesale
      """{"ts_ms":1,"eff":0.711,"pairs":[0.822,0.691],"tags":["quiet","quiet"],"quality":"limited","ambient_load":5.61,"sec_lo":81.54,"sec_hi":27.29}""",
      // committed round-4 window: 1 quiet pair, run-best walls pass
      """{"ts_ms":2,"eff":0.819,"pairs":[0.702,0.819],"tags":["throttled","quiet"],"quality":"limited","ambient_load":1.11,"sec_lo":83.65,"sec_hi":25.53}"""
    ) { f =>
      val pool = Bench.loadQuietPool(85, 26.5, 12000000L, 8, p = f)
      assert(pool.map(_._2) == Vector(0.819), pool.toString)
    }
  }

  test("pool: pipeline version, corpus size, k-cap, junk lines") {
    val ok = (ts: Int, eff: Double) =>
      s"""{"ts_ms":$ts,"eff":$eff,"pairs":[$eff],"tags":["quiet"],"quality":"ok","pipeline":"r4","turns":12000000,"triples":1,"pair_lo":[80.0],"pair_hi":[24.0],"sec_lo":80.0,"sec_hi":24.0}"""
    withHistory(
      ok(1, 0.81),
      ok(2, 0.82),
      ok(3, 0.83),
      // wrong pipeline version: excluded
      ok(4, 0.99).replace("\"pipeline\":\"r4\"", "\"pipeline\":\"r9\""),
      // different corpus size: excluded
      ok(5, 0.98).replace("\"turns\":12000000", "\"turns\":1000000"),
      // canary-skip note and garbage: ignored, not fatal
      """{"ts_ms":6,"canary_skip":true,"t1":2.1,"d3":1.4,"pipeline":"r4"}""",
      "not json at all",
      ok(7, 0.84)
    ) { f =>
      val pool = Bench.loadQuietPool(85, 26.5, 12000000L, 8, p = f)
      assert(pool.map(_._2) == Vector(0.81, 0.82, 0.83, 0.84), pool.toString)
      // most recent k win
      val capped = Bench.loadQuietPool(85, 26.5, 12000000L, 2, p = f)
      assert(capped.map(_._2) == Vector(0.83, 0.84), capped.toString)
    }
  }

  test("pool: measurement config must match (cores/mode keyed, defaults for old lines)") {
    val ok = (ts: Int, eff: Double, extra: String) =>
      s"""{"ts_ms":$ts,"eff":$eff,"pairs":[$eff],"tags":["quiet"],"quality":"ok","pipeline":"r4","turns":12000000,"triples":1,"pair_lo":[80.0],"pair_hi":[24.0],"sec_lo":80.0,"sec_hi":24.0$extra}"""
    withHistory(
      // old line without config fields: belongs to the 4,16 "lc" default
      ok(1, 0.81, ""),
      // explicit matching config
      ok(2, 0.82, ""","cores_lo":4,"cores_hi":16,"mode":"lc""""),
      // 2,8 pair: same 4x ratio but halved walls trivially pass the 4,16
      // gates — must NOT pool into the 4->16 headline
      ok(3, 0.99, ""","cores_lo":2,"cores_hi":8,"mode":"lc""""),
      // single-JVM local[n] proxy mode: different scaling claim
      ok(4, 0.97, ""","cores_lo":4,"cores_hi":16,"mode":"local"""")
    ) { f =>
      val pool = Bench.loadQuietPool(85, 26.5, 12000000L, 8, p = f)
      assert(pool.map(_._2) == Vector(0.81, 0.82), pool.toString)
      val pool28 = Bench.loadQuietPool(85, 26.5, 12000000L, 8,
        coresLo = 2, coresHi = 8, p = f)
      assert(pool28.map(_._2) == Vector(0.99), pool28.toString)
    }
  }

  test("pool: partially-shaped lines are skipped, never fatal") {
    withHistory(
      // pairs+tags but no ts_ms (the ADVICE NPE shape)
      """{"pairs":[0.9],"tags":["quiet"],"pipeline":"r4","turns":12000000}""",
      // old-format line missing sec_lo/sec_hi entirely
      """{"ts_ms":5,"pairs":[0.91],"tags":["quiet"],"pipeline":"r4","turns":12000000}""",
      // well-formed survivor
      """{"ts_ms":9,"eff":0.82,"pairs":[0.82],"tags":["quiet"],"quality":"ok","pipeline":"r4","turns":12000000,"triples":1,"pair_lo":[80.0],"pair_hi":[24.0],"sec_lo":80.0,"sec_hi":24.0}"""
    ) { f =>
      val pool = Bench.loadQuietPool(85, 26.5, 12000000L, 8, p = f)
      assert(pool.map(_._2) == Vector(0.82), pool.toString)
    }
  }

  test("pool: the repo's committed HISTORY.jsonl yields a clean pool") {
    // executable statement of the round-5 evidence base: every pooled pair
    // passed BOTH the relative rules at record time and the absolute gates
    // retroactively (this re-reads the real committed file)
    val pool = Bench.loadQuietPool(85, 26.5, 12000000L, 8)
    assert(pool.nonEmpty, "committed history has no poolable quiet pairs")
    assert(pool.forall(p => p._2 > 0.5 && p._2 <= 1.0), pool.toString)
  }

  // ---- compactLine: truncation-proof contract --------------------------

  test("compact line stays small and carries the headline fields") {
    // representative full document: 60 queries + cold map + scaling block,
    // ~3.3 KB — the size that defeated the driver's tail capture twice
    val queries = (1 to 60).map(i => s""""q${i}_some_operator_name":${i / 10.0}""")
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":35.184,"unit":"sec","queries":$queries,""" +
        s""""queries_cold":$queries,"reps":2,"budget_secs":900,"elapsed_secs":99.8,""" +
        s""""ambient_load_before":0.42,"sf":"/root/testdata/sf0.1",""" +
        s""""scaling":{"triples":62403979,"turns":12000000,"cores_lo":4,"cores_hi":16,""" +
        s""""mode":"lc","sec_lo":83.65,"sec_hi":25.53,"triples_per_sec_lo":745979,""" +
        s""""triples_per_sec_hi":2443979,"efficiency":0.819,"quiet_pool":3,""" +
        s""""pool_k":8,"pipeline":"r4","efficiency_loo_min":0.804,""" +
        s""""window_quality":"limited","ambient_load_before":0.42}}"""
    assert(full.length > 2500, s"fixture not representative: ${full.length}")
    val compact = Bench.compactLine(full)
    assert(compact.length < 400, s"compact line too long (${compact.length}): $compact")
    val n = mapper.readTree(compact)
    assert(n.get("metric").asText == "total")
    assert(math.abs(n.get("value").asDouble - 35.184) < 1e-9)
    assert(n.get("n_queries").asInt == 60)
    assert(n.get("sf").asText == "/root/testdata/sf0.1")
    assert(math.abs(n.get("scaling_efficiency").asDouble - 0.819) < 1e-9)
    assert(n.get("window_quality").asText == "limited")
    assert(n.get("quiet_pool").asInt == 3)
    assert(!n.get("watchdog_fired").asBoolean)
    assert(n.get("full").asText == "BENCH/RESULT.json")
  }

  test("compact line survives a watchdog-truncated / scaling-free document") {
    val partial =
      """{"watchdog_fired":true,"metric":"total","value":12.5,"unit":"sec","queries":{"a":1.0,"b":2.0},"sf":"/x"}"""
    val compact = Bench.compactLine(partial)
    val n = mapper.readTree(compact)
    assert(n.get("watchdog_fired").asBoolean)
    assert(n.get("n_queries").asInt == 2)
    assert(n.get("scaling_efficiency") == null)
    // pathological: empty queries, no value
    val n2 = mapper.readTree(Bench.compactLine("""{"queries":{}}"""))
    assert(n2.get("n_queries").asInt == 0)
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
