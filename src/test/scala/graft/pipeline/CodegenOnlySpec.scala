package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Expression-codegen regression guard. A failed expression/encoder
  * compilation normally *warns* and falls back to interpreter mode — the
  * round-3 JSON sink bug (a private nested case class whose encoder Janino
  * could not compile) ran every assembled row through the interpreter and
  * no test noticed. `spark.sql.codegen.factoryMode=CODEGEN_ONLY` turns that
  * silent fallback into a thrown error, so this spec drives a
  * representative batch query set end-to-end with fallback forbidden.
  *
  * It catches failed compiles only. A `CodegenFallback` expression (a
  * higher-order function's lambda, say) takes its operator out of
  * whole-stage codegen at planning time, and no compile fails, so it
  * passes here: t3 did while its triple `Generate` ran interpreted.
  * `PlanShapeSpec` pins whole-stage codegen per operator (the mapper's and
  * `cellErrors`' `Generate`s, the fused text and embedding projections).
  *
  * Streaming queries are excluded (their state-store projections are
  * exercised by `StreamTtlSpec`); queries whose plans are identical in
  * expression content to a covered one (facet variants) are sampled.
  */
class CodegenOnlySpec extends AnyFunSuite {
  lazy val spark = graft.mapper.TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  // every distinct expression family: triple mapper + sink (t1/t3/g1),
  // JSON assembly encoder (s7 — the bug this spec exists for), CSV dialect
  // + cell runtime (s3/f2), dedup/ANN fused exprs (d2/d3/d5/s3_ann_ivf),
  // text exprs (x1/x5), multimodal mapPartitions encoder (m1/m2),
  // window/join/agg shapes (q1/q3/j3/j4).
  private val queryNames = Seq(
    "t1_triples_minimal", "t3_triples_standard", "g1_graph_materialize",
    "g2_graph_canonicalize",
    "s7_json_minimal", "s3_csv_dialect", "f2_datatype_facets",
    "d2_minhash_lsh", "d3_simhash", "d4_jaccard_capped", "d5_embedding_dup",
    "d7_semantic_dedup",
    "s3_ann_ivf", "s4_ann_pq", "s5_ann_pq_rerank",
    "x1_lang_id", "x5_token_bpe", "x8_pii_redact", "x9_repetition",
    "x10_word_rarity", "x11_url_filter", "x12_line_dedup", "x13_seq_pack",
    "x14_pack_chunks", "x15_domain_weights", "x16_loss_mask",
    "m1_multimodal_decode", "m2_frame_sample", "m6_audio_resample",
    "m7_audio_lowpass",
    "q1_agg", "q3_window", "j3_entity_link", "j4_connected_components")

  test("representative queries run with codegen fallback forbidden") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      queryNames.foreach { name =>
        val fn = graft.SparkEntry.queries(name)
        val n = fn(spark, sfDir).count()
        assert(n >= 0, s"$name returned a negative count")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }
}
