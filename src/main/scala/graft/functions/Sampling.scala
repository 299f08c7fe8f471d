package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. Pretraining mixes are
  * built by *rate-controlled, reproducible* subsampling per stratum
  * (language, source, quality band) — `df.sample()` is out: its output
  * depends on partitioning and reruns disagree. Here membership is a pure
  * function of the row's id, so the sample is stable across runs,
  * partitionings, and engines, and the filter sits in the codegen'd scan
  * projection (no shuffle, no RNG state).
  */
object Sampling {

  /** Map an id to a deterministic point in [0, 1): Knuth multiplicative
    * hashing on the low 31 bits (`⌊2^32/φ⌋ = 2654435761`). The id is
    * reduced mod 2^31 BEFORE the multiply, so the product stays ≤ 2^62.3 —
    * inside 64-bit range for every engine (DuckDB raises on BIGINT
    * overflow rather than wrapping like Spark) — and `pmod` keeps negative
    * ids on the same non-negative residue an engine with sign-following
    * `%` reproduces via `((id % m) + m) % m`. Exact integer arithmetic —
    * any engine (the DuckDB oracle included) replays the same sample
    * bit-for-bit, unlike engine-specific string hashes. For string ids,
    * hash to a number first (e.g. `xxhash64`); the plan shape is
    * identical, only cross-engine replay is lost.
    */
  def hashUnit(id: Column): Column = {
    val m = 1L << 31
    pmod(pmod(id.cast("long"), lit(m)) * lit(2654435761L), lit(m)).cast("double") /
      lit(m.toDouble)
  }

  /** Per-stratum Bernoulli sampling at stratum-specific rates: keep a row
    * iff `hashUnit(id) < rate(stratum)`. Rates compile to a plan-time MAP
    * literal probed once per row (strata counts are config-sized), so the
    * whole operator is one codegen'd filter over the scan — at 100 TB this
    * is the cheapest possible downsampling: no shuffle, no sort,
    * pushdown-friendly.
    *
    * The map probe (round 9) references `strataCol` exactly ONCE. The
    * round-8 CASE chain referenced it once per stratum, and when the
    * stratum is itself a derived expression (x6 derives it with `langId`)
    * Catalyst's projection collapse inlined the full derivation into every
    * CASE arm of the pushed-down filter — measured 1.10 s → 0.34 s at
    * sf0.1 for x6. `try_element_at` (NOT `element_at`, which raises on a
    * missing key under Spark 4's ANSI default) yields NULL for absent or
    * NULL strata, which `coalesce` routes to `defaultRate` exactly as the
    * CASE chain's `otherwise` did. The stratum is cast to string, the
    * map's key type: a non-string stratum (an integer column) would
    * otherwise fail analysis with `MAP_FUNCTION_DIFF_TYPES` under ANSI mode.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: Column,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0), s"rates out of [0,1]: $rates")
    require(defaultRate >= 0.0 && defaultRate <= 1.0, s"defaultRate out of [0,1]: $defaultRate")
    val rate =
      if (rates.isEmpty) lit(defaultRate)
      else coalesce(try_element_at(
        map(rates.toSeq.sortBy(_._1).flatMap { case (s, r) =>
          Seq(lit(s), lit(r)) }: _*), strataCol.cast("string")), lit(defaultRate))
    df.filter(hashUnit(col(idCol)) < rate)
  }
}
