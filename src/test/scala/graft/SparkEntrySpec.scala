package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The gate contract without running a query: every Spark gate has a
  * DuckDB oracle and every oracle a gate, under the pinned key names.
  */
class SparkEntrySpec extends AnyFlatSpec with Matchers {

  private val gateKeys = Set(
    "ann_cosine_topk", "asof_join", "bigram_logprob", "bm25_multi", "bm25_topk",
    "boilerplate_removal", "bpe_encode", "bpe_merges", "bpe_merges_batched", "bpe_merges_local",
    "cdf_bygroup", "char_entropy", "chi2_source_lang", "contamination", "contamination_bloom",
    "conv_digest", "conv_structure", "conv_tool_stats", "dedup_exact", "dedup_lines_withindoc",
    "dedup_survivors", "dep_suggest", "doc_fingerprint", "doc_rolling_hash", "domain_cap",
    "drift_role_jsd", "drift_role_klpsi", "drift_textlen_klpsi", "dup_span_removal",
    "dup_spans", "embed_neardup_pairs", "embed_neardup_srp", "embed_norms", "embed_quantize",
    "event_rates", "events_props_violations", "events_structure", "fd_source_lang",
    "fk_integrity", "funnel_conversion", "ivf_topk", "ivf_trained_recall", "jsonl_roundtrip",
    "key_candidates", "lang_id", "lm_buckets", "lm_logprob", "minhash_pairs",
    "minhash_pairs_dedup", "mix_weights", "multimodal_audio", "multimodal_decode",
    "multimodal_features", "multimodal_frames", "multimodal_resample", "neardup_components",
    "neardup_components_alt", "neardup_edit_verify", "neardup_survivors",
    "neardup_survivors_quality", "ngram_jaccard", "orders_ref_integrity", "pack_chunks",
    "pii_redact", "pipeline_endtoend", "pmi_bigrams", "quality_filter",
    "quality_filter_bygroup", "ref_orphans", "reservoir_bygroup", "retention_cohorts",
    "role_transitions", "sample_docs", "sample_stratified", "schema_drift", "schema_infer",
    "shard_assign", "simhash_dup_pairs", "simhash_near_pairs", "split_assign", "stats_profile",
    "stats_quantiles", "stats_rollup", "temperature_mix", "text_quality", "text_repetition",
    "text_subwords", "text_tokens", "tfidf_topvocab", "token_pairs", "turn_contiguity",
    "uniq_duplicates", "upsample_docs", "v_array_oneof", "v_arrays", "v_combinators",
    "v_formats", "v_lengths_types", "v_maps", "v_multipleof", "v_structs", "v_violation_counts",
    "v_violations", "validation_report", "value_outliers", "vocab_bygroup", "vocab_topk",
    "weighted_reservoir")

  "SparkEntry" should "pair every gate with an oracle under the 108 pinned names" in {
    gateKeys.size shouldBe 108
    SparkEntry.queries.keySet shouldBe gateKeys
    SparkEntry.oracleSql.keySet shouldBe gateKeys
  }

  it should "declare each gate once, with a plan and a non-empty oracle" in {
    // a duplicate name would silently drop a gate when the list becomes a map
    val names = SparkEntry.gates.map(_.name)
    names.diff(names.distinct) shouldBe empty
    SparkEntry.gates.filter(g => g.run == null || g.oracle == null || g.oracle.trim.isEmpty)
      .map(_.name) shouldBe empty
  }
}
