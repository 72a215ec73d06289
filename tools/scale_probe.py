"""Empirical scale probe: replicate the sf0.1 corpus K× with key-shifted
copies (so every join keeps linear cardinality — copy i only matches copy i)
and measure the headline queries at both scales.

The point is evidence, not benchmarking: a plan that is accidentally
quadratic, collects to the driver, or broadcasts something that grows with
the data will blow up visibly at 10×, while a scale-honest plan grows
roughly with input size (sublinearly in wall-clock while cores are idle).
Results go to stdout as a markdown table to paste into SCALE.md.

Usage: python tools/scale_probe.py [K] [out_dir]
       (defaults: K=10, out_dir=/tmp/biggie_scale_probe)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints must resolve
# via func.__globals__ (see ops/round9.py note)

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import QUERIES, load_all_ops
from biggie_spark.session import get_spark

_POS = [a for a in sys.argv[1:] if not a.startswith("--")]
K = int(_POS[0]) if _POS else 10
OUT = _POS[1] if len(_POS) > 1 else "/tmp/biggie_scale_probe"
SRC = "/root/testdata/sf0.1"
OFF = 1 << 33  # key shift per copy; far above any corpus key

# key columns to shift per table (copy i adds i*OFF) — dims stay single-copy
SHIFT = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE = ["nation", "region"]

HEADLINE = {
    "q_pricing_summary": "agg_groupby",
    "q_join_agg": "join_multiway_star",
    "q_topk": "join_topk_revenue",
    "q_window": "win_topk_per_group",
    "q_events_hourly": "stream_tumbling",
    "q_text_tokens": "llm_text_stats",
    "q_knn_self": "llm_knn_cosine",
    "q_json_extract": "fn_json",
    "q_dedup_minhash_proxy": "llm_dedup_exact",
}

# dedup/ANN family (VERDICT r3 #6): the banded/bucketed-join sublinearity
# claim, measured — these are the ops whose naive versions are O(n²).
# NOT probed via key-shifted replication: the replicas carry byte-identical
# TEXT/EMBEDDINGS, so every copy is a genuine near-duplicate of every other
# copy and the true answer itself grows K² — a data artifact, not a plan
# property.  Instead these are measured across the natural 10× step
# sf0.01 → sf0.1 (iid content, linear true answer).
CONTENT_KEYED = {
    "q_neardup_lsh": "llm_neardup_pairs",
    "q_neardup_shingle": "llm_neardup_shingle",
    "q_neardup_incremental": "llm_neardup_incremental",
    "q_ivf_incremental": "ivf_search_incremental",
    "q_dedup_semantic": "llm_dedup_semantic",
    "q_knn_ivf": "llm_knn_ivf",
    "q_segment_dedup": "llm_segment_dedup",
    "q_minhash_calibration": "llm_minhash_calibration",
    "q_curation_pipeline": "llm_curation_pipeline",
}
SRC_SMALL = "/root/testdata/sf0.01"

# Round-4b additions (stats battery, sketches, text prep, perceptual dedup):
# measured over the natural sf0.01 -> sf0.1 step for the same reason as the
# content-keyed family (the text-prep and perceptual ops key on CONTENT, and
# the stats ops reduce to fixed-size frames whose natural-step ratio is the
# honest read).  Expected shape: the sketch/stat ops are ~flat (domain- or
# sketch-bounded reduction states); the text/dedup ops grow ~linearly.
ROUND4B = {
    "q_ks_twosample": "agg_ks_twosample",
    "q_mann_whitney": "agg_mann_whitney",
    "q_bootstrap_ci": "agg_bootstrap_ci",
    "q_cms_topk": "agg_cms_topk",
    "q_hll_portable": "agg_hll_portable",
    "q_editdist_dedup": "llm_dedup_editdist",
    "q_url_dedup": "llm_url_canonical_dedup",
    "q_gopher_quality": "llm_gopher_quality",
    "q_phash_dedup": "mm_image_phash_dedup",
    "q_embed_outlier": "llm_embed_outlier",
}

# Round-4 analytics, also measured over the natural sf0.01 → sf0.1 step:
# the interval join overlaps on DATES (shared by key-shifted replicas, so
# replication would make the true answer quadratic — same artifact as the
# content-keyed dedup family), and the others are event-table rollups whose
# natural-step ratio is the honest read.
ROUND4 = {
    "q_interval_overlap": "join_interval_overlap",
    "q_ohlc_hourly": "ts_ohlc_hourly",
    "q_moments": "agg_moments",
    "q_outer_attrib": "stream_stream_outer_join",
    "q_bitmap_distinct": "agg_bitmap_distinct",
    "q_rolling_median": "win_rolling_median",
    "q_containment_dup": "llm_containment_dup",
    "q_embed_quantize": "llm_embed_quantize",
    "q_embedding_pipeline": "llm_embedding_pipeline",
}


# Round-8 additions: the persisted ingest pipeline, the streaming span twin
# and the decontamination pair — same natural sf0.01 -> sf0.1 step.
ROUND8 = {
    "q_ingest_pipeline": "llm_ingest_pipeline_persisted",
    "q_span_stream_twin": "stream_span_dedup_static",
    "q_contamination_check": "llm_contamination_check",
    "q_decontaminate_apply": "llm_decontaminate_apply",
}


# Round-8 window close (ops/round8.py): the data-selection / governance
# tier.  Expected shape: downweight/containment/chat/skyline grow ~linearly
# with the corpus; kcenter/MMR are constant-K selection loops whose per-pass
# cost is one corpus scan (kcenter) or pool-bounded (MMR).
ROUND8B = {
    "q_dedup_downweight": "llm_dedup_downweight",
    "q_kcenter_coreset": "llm_kcenter_coreset",
    "q_mmr_diverse": "llm_mmr_diverse_topk",
    "q_chat_template": "llm_chat_template",
    "q_k_anonymity": "agg_k_anonymity",
    "q_containment_gate": "stream_containment_gate_static",
    "q_skyline": "win_skyline_pareto",
}


# Round-9 additions (ops/round9.py): the training-schedule tier.  Expected
# shape: epoch_schedule / packing_efficiency reduce to domain-/lang-bounded
# frames (~flat in wall-clock, scan-dominated); sft_spans and the QUALIFY
# lowering grow ~linearly (per-turn rows / per-customer top-2).
ROUND9 = {
    "q_epoch_schedule": "llm_epoch_schedule",
    "q_packing_efficiency": "llm_packing_efficiency",
    "q_sft_spans": "llm_sft_spans",
    "q_qualify": "sql_qualify_clause",
    # data-selection trio: budget_select / curriculum reduce to the bounded
    # score grid plus one broadcast join back onto the corpus (scan-bound,
    # output ~linear); anneal_mix is a source-frame window (~flat).
    "q_token_budget_select": "llm_token_budget_select",
    "q_anneal_mix": "llm_anneal_mix",
    "q_curriculum_phases": "llm_curriculum_phases",
    # RLHF preference tier: both are prompt_id-bounded windows (4-row
    # partitions) + one aggregate — the sft_spans execution profile.
    "q_preference_pairs": "llm_preference_pairs",
    "q_best_of_n_stats": "llm_best_of_n_stats",
    # pass@k: per-problem aggregate + 4-way explode, no joins (~linear).
    "q_pass_at_k": "llm_pass_at_k",
    # persisted manifest: corpus scan + bounded bucket frames + a
    # 4-directory partitioned write, then a pruned epoch re-read.
    "q_training_manifest": "llm_training_manifest_persisted",
    # bitext mining: literal-bounded probe broadcast x one target-corpus
    # pass (the knn_cosine exact-baseline pattern; ~flat, scan-bound).
    "q_bitext_mine": "llm_bitext_mine",
    # ASOF surface: union-tag running window, one shuffle (~linear).
    "q_asof_syntax": "sql_asof_join",
    # tensor contraction: per-row local codegen, no exchange (~flat).
    "q_tensor_matmul": "kv_tensor_matmul",
    # length-grouped batching: shard-partitioned windows + 16-row joins.
    "q_length_grouped": "llm_length_grouped_batches",
    # streaming preference twin: one groupBy agg, no windows (~linear).
    "q_stream_preference": "stream_preference_pairs_static",
    # GRPO advantages: prompt-bounded windows, per-candidate map (~linear).
    "q_grpo_advantages": "llm_grpo_advantages",
    # chroma fold: Arrow-batched kernel over the 64-doc probe (~flat).
    "q_audio_chroma": "mm_audio_chroma",
    # onset flux: same bounded Arrow kernel, two frames x 8 bins (~flat).
    "q_audio_onset": "mm_audio_onset_flux",
}


# Round-9b additions (ops/round9b.py): the feature-stash loop, the
# inference/serving tier, distillation/fusion, and surface/storage ops.
# Measured over the natural sf0.01 -> sf0.1 step (text/embedding content
# keyed; the stash/audio/image ops run on literal-bounded probe sets and
# should be ~flat).  Expected shape: probe-bounded ops flat; per-doc
# accounting ops ~linear; grid/histogram reductions ~flat-to-scan-bound.
ROUND9B = {
    "q_chroma_stash": "kv_chroma_stash_persisted",
    "q_chroma_pair_dot": "kv_chroma_pair_dot",
    "q_tensor_norms": "kv_tensor_field_norms",
    "q_tempo_autocorr": "mm_audio_tempo_autocorr",
    "q_integral_rect": "mm_image_integral_rect",
    "q_spec_decode": "llm_spec_decode_accept",
    "q_prefix_reuse": "llm_kv_prefix_reuse",
    "q_radix_depth": "llm_radix_cache_depth",
    "q_kv_paging": "llm_kv_cache_paging",
    "q_prefill_decode": "llm_prefill_decode_flops",
    "q_tier_routing": "llm_sla_tier_routing",
    "q_batch_wait": "llm_batch_wait_time",
    "q_stream_prefix": "stream_prefix_reuse_static",
    "q_distill_pairs": "llm_distill_pairs",
    "q_transfer_gap": "llm_distill_transfer_gap",
    "q_hard_mine": "llm_distill_hard_mine",
    "q_pairwise_winrate": "llm_pairwise_winrate",
    "q_rrf_fusion": "llm_rrf_fusion",
    "q_rag_pack": "llm_rag_context_pack",
    "q_self_consistency": "llm_self_consistency_vote",
    "q_grouping_id": "sql_grouping_id",
    "q_listagg": "sql_listagg_ordered",
    "q_matryoshka": "llm_matryoshka_truncate",
    "q_stream_spec": "stream_spec_accept_static",
    "q_percentile_grid": "agg_percentile_grid",
    "q_stash_compaction": "kv_stash_compaction_persisted",
    "q_stash_topk_keys": "kv_tensor_stash_topk_keys",
    "q_gini": "agg_gini_concentration",
    "q_chroma_matrix": "kv_chroma_matrix_field",
}

# Round-10b tranche (ops/round10b.py): tokenizer audit, cluster structure,
# cross-lingual curation, shard assembly, time travel, ZCR/pyramid,
# diversity.  Natural sf0.01 -> sf0.1 step.  Expected: token-stream ops
# ~linear (scan-bound); vocab/profile frames bounded; codec probes ~flat;
# persisted manifests dominated by fixed-size writes.
ROUND10B = {
    "q_vocab_oov": "llm_vocab_oov_persisted",
    "q_byte_fallback": "llm_byte_fallback",
    "q_vocab_sweep": "llm_vocab_size_sweep",
    "q_label_prop": "graph_label_prop_rounds",
    "q_component_mass": "graph_component_mass",
    "q_time_travel": "src_scan_time_travel",
    "q_lang_divergence": "llm_lang_profile_divergence",
    "q_lang_gate": "llm_lang_confidence_gate",
    "q_stream_lang_gate": "stream_lang_gate_static",
    "q_lang_overlap": "llm_lang_overlap_coeff",
    "q_shard_manifest": "llm_shard_manifest_persisted",
    "q_epoch_interleave": "llm_epoch_interleave",
    "q_bin_pack": "agg_bin_pack_nextfit",
    "q_zero_crossings": "mm_audio_zero_crossings",
    "q_pyramid": "mm_image_downsample_pyramid",
    "q_simpson": "agg_simpson_diversity",
}

# Round-11 holdback tranche (ops/round11.py, built during round 10):
# data quality, privacy, layout, serving, SQL surface, multimodal.
# Natural sf0.01 -> sf0.1 step.  Expected: scan-bound audits ~linear;
# grid/profile ops flat; codec probes flat.
ROUND11 = {
    "q_orphan_audit": "agg_orphan_audit",
    "q_expectations": "agg_expectations_audit",
    "q_stream_expectations": "stream_expectations_static",
    "q_t_closeness": "agg_t_closeness",
    "q_rle_runs": "fn_rle_runs_layout",
    "q_heatmap": "ts_traffic_heatmap",
    "q_geohash": "fn_geohash",
    "q_feistel": "fn_feistel_permute",
    "q_semantic_cache": "llm_semantic_cache_hits",
    "q_window_exclude": "sql_window_exclude",
    "q_otsu": "mm_image_otsu_threshold",
    "q_envelope_peaks": "mm_audio_envelope_peaks",
    "q_video_frames": "mm_video_frame_sample",
    "q_source_loo": "llm_source_influence_loo",
    "q_groupby_all": "sql_groupby_all",
    "q_variant": "sql_variant_extract",
    "q_clustering": "graph_clustering_coeff",
    "q_csv_malformed": "src_scan_csv_malformed",
    "q_feature_hash": "llm_feature_hash_collisions",
    "q_wilcoxon": "agg_wilcoxon_signed",
    "q_mom": "agg_median_of_means",
    "q_power_sweep": "llm_mix_power_sweep",
    "q_length_quota": "llm_context_length_quota",
    "q_regex_all": "sql_regexp_extract_all",
    "q_coupon": "ts_coupon_collector",
    "q_template_render": "llm_prompt_template_render",
    "q_srm": "agg_srm_check",
    "q_skew_audit": "agg_partition_skew_audit",
    "q_hdr": "agg_hdr_histogram",
    "q_uuid5": "fn_uuid5_mint",
    "q_capture": "agg_capture_recapture",
    "q_fano": "ts_fano_dispersion",
    "q_bitmap": "fn_bitmap_popcount_join",
    "q_offset": "sql_offset_fetch",
}

# Round-12 tranche (ops/round12.py, built during round 11): codec
# accounting, determinism audit, IVF recall curve, Hilbert layout, CDC
# dedup, causal analytics, eval allocation.  Natural sf0.01 -> sf0.1
# step.  Expected: grid/curve ops ~flat (bounded probe frames); scans
# (codec, CDC, DiD, QTE, varint) ~linear; cluster stats rides the
# shingle-LSH edge pipeline (linear candidates).
ROUND12 = {
    "q_hilbert": "fn_hilbert_curve_d2",
    "q_codec_dict": "snk_codec_dictionary_stats",
    "q_varint": "snk_varint_delta_bytes",
    "q_determinism": "agg_shard_determinism_audit",
    "q_ivf_recall": "llm_ivf_recall_curve",
    "q_cdc": "llm_cdc_chunk_boundaries",
    "q_cluster_stats": "llm_dedup_cluster_stats",
    "q_did": "agg_diff_in_diff",
    "q_qte": "agg_quantile_treatment_effect",
    "q_hamilton": "llm_eval_quota_hamilton",
    "q_feistel_sample": "llm_feistel_subsample",
    "q_ra_index": "graph_resource_alloc_index",
    "q_quadtree": "mm_image_quadtree_occupancy",
    "q_silence_trim": "mm_audio_silence_trim",
    # wave B (ops/round12b.py)
    "q_markov_pi": "ts_markov_stationary",
    "q_theil": "agg_theil_decomposition",
    "q_entropy_rate": "llm_ngram_entropy_rate",
    "q_geo_neighbors": "fn_geohash_neighbors",
    "q_runs_test": "ts_runs_test",
    "q_pot": "ts_peak_over_threshold",
    "q_nbinom": "agg_nbinom_dispersion",
    "q_two_hop": "graph_two_hop_reach",
    # wave C (ops/round12c.py)
    "q_harmonic": "graph_harmonic_centrality_k4",
    "q_pack_bounds": "llm_pack_lower_bounds",
    "q_nulls_order": "sql_nulls_ordering",
    "q_vel_acc": "ts_velocity_acceleration",
    "q_dc_offset": "mm_audio_dc_offset",
    "q_temp_sweep": "llm_softmax_temperature_sweep",
    "q_pps": "llm_pps_systematic_sample",
    "q_tensor_scan": "kv_tensor_cumsum_axis",
    # wave D (ops/round12d.py)
    "q_cache_curve": "llm_cache_capacity_curve",
    "q_perm_entropy": "ts_permutation_entropy",
    "q_bit_planes": "mm_image_bit_planes",
    "q_rate_limit": "stream_rate_limit_static",
    "q_postings": "kv_postings_intersect",
    "q_assortativity": "graph_degree_assortativity",
    "q_ljung_box": "ts_ljung_box",
    "q_smd": "agg_standardized_mean_diff",
    # wave E (ops/round12e.py)
    "q_kl_budget": "llm_policy_kl_budget",
    "q_heavy_changers": "llm_heavy_changers",
    "q_pivot_multi": "sql_pivot_multi_agg",
    "q_haar": "ts_haar_energy",
    "q_beta_binom": "agg_beta_binomial_posterior",
    "q_hamming_radius": "llm_simhash_hamming_radius",
    "q_pacf": "ts_pacf_lag2",
    "q_heaps": "llm_heaps_law_curve",
    # wave F (ops/round12f.py)
    "q_fleiss": "agg_fleiss_kappa",
    "q_sortedness": "diag_sortedness_audit",
    "q_json_malformed": "src_scan_json_malformed",
    "q_its": "ts_intervention_its",
    "q_local_bridges": "graph_local_bridges",
    # wave G (ops/round12g.py)
    "q_bloom_index": "snk_bloom_index_persisted",
    "q_merkle": "fn_merkle_tree_levels",
    "q_hoeffding": "agg_hoeffding_sample_bound",
    "q_erosion": "mm_image_erosion_3x3",
    # wave H (ops/round12h.py)
    "q_heldout_ppl": "llm_bigram_perplexity_heldout",
    "q_hill": "agg_hill_tail_index",
    "q_rich_club": "graph_rich_club_coeff",
    "q_fightin": "llm_log_odds_fightin_words",
    # wave I (ops/round12i.py)
    "q_pinball": "agg_pinball_loss_grid",
    "q_katz": "graph_katz_bounded",
    "q_hash_ring": "fn_consistent_hash_ring",
}

# Round-10 holdback tranche (ops/round10.py, built during round 9):
# lakehouse layout, eval statistics, session analytics, SQL surface.
# Natural sf0.01 -> sf0.1 step.  Expected: grid/stat ops ~flat;
# persisted-layout ops dominated by their (fixed-size-probe) writes;
# per-event analytics ~linear.
ROUND10 = {
    "q_morton": "fn_morton_curve",
    "q_zorder_layout": "snk_zorder_layout_persisted",
    "q_stats_manifest": "snk_stats_manifest_persisted",
    "q_schema_evolution": "src_scan_schema_evolution",
    "q_try_arith": "sql_try_arith",
    "q_mcnemar": "agg_mcnemar_gates",
    "q_bradley_terry": "llm_bradley_terry_step",
    "q_length_bias": "llm_length_bias_audit",
    "q_hits": "graph_hits_iter",
    "q_ttl_expiry": "kv_ttl_expiry",
    "q_journey_trigrams": "ts_journey_trigrams",
    "q_click_attribution": "ts_click_attribution",
    "q_dwell_buckets": "ts_dwell_time_buckets",
    "q_concurrency": "ts_concurrent_sessions",
    "q_null_safe_join": "join_null_safe_eq",
    "q_named_window": "sql_named_window",
    "q_kendall_tau": "agg_kendall_tau_grid",
    "q_prompt_compression": "llm_prompt_compression",
    "q_truncation_policies": "llm_truncation_policies",
    "q_lorenz_topshare": "agg_lorenz_topshare",
    "q_loudness_gate": "mm_audio_loudness_gate",
    "q_daily_spectrum": "ts_daily_spectrum",
    "q_sprt": "agg_sprt_sequential",
    "q_partition_evolution": "snk_partition_evolution",
    "q_merge_on_read": "src_scan_merge_on_read",
    "q_keyword_rake": "llm_keyword_rake",
    "q_isotropy": "llm_embed_isotropy",
    "q_error_budget": "ts_error_budget_burn",
    "q_l_diversity": "agg_l_diversity",
    "q_mann_kendall": "agg_mann_kendall_trend",
    "q_interval_arith": "sql_interval_arith",
    "q_groundedness": "llm_groundedness_support",
    "q_watermark": "llm_watermark_greenlist",
    "q_tensor_conv1d": "kv_tensor_conv1d",
    "q_prevalence": "agg_prevalence_adjust",
}

# Round-7 LLM-pipeline composites (VERDICT r6 item 2) + the
# overlapping-span dedup op —
# measured over the natural sf0.01 → sf0.1 step like the other content-keyed
# families (text/window hashes key on CONTENT; key-shifted replication would
# fabricate quadratic true answers).
ROUND7 = {
    "q_span_dup_coverage": "llm_span_dup_coverage",
    "q_span_dedup_apply": "llm_span_dedup_apply",
    "q_span_dup_lengths": "llm_span_dup_lengths",
    "q_retrieval_eval": "llm_retrieval_eval",
    "q_pipeline_e2e": "llm_pipeline_e2e",
    "q_dedup_incremental": "llm_dedup_incremental",
    "q_importance_sample": "llm_importance_sample",
    "q_perplexity_bucket": "llm_perplexity_bucket",
    "q_entropy_filter": "llm_entropy_filter",
    "q_cross_dup_matrix": "llm_cross_dup_matrix",
    "q_ngram_novelty": "llm_ngram_novelty",
    "q_stratified_sample": "llm_stratified_sample",
    "q_mv_incremental": "mv_incremental_hourly",
}


def build(spark) -> None:
    if os.path.isdir(OUT):
        shutil.rmtree(OUT)
    os.makedirs(OUT)
    for t, keys in SHIFT.items():
        df = load_table(spark, SRC, t)
        copies = []
        for i in range(K):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * OFF))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")
    for t in SINGLE:
        load_table(spark, SRC, t).write.mode("overwrite").parquet(
            f"{OUT}/{t}.parquet"
        )


def time_queries(spark, sf_dir: str, suite: dict[str, str]) -> dict[str, float]:
    out = {}
    for bench_name, op in suite.items():
        fn = QUERIES[op]
        warm = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            warm = time.perf_counter() - t0
        out[bench_name] = warm
    return out


def ann_exponents(spark) -> None:
    """VERDICT r4 item 7: measure the CANDIDATE-SET sizes (not wall-clock)
    of the two flagship sublinear-dedup claims across the natural corpus
    steps sf0.001 -> sf0.01 -> sf0.1:

    * llm_neardup_pairs — LSH band-join candidates should grow ~linearly in
      docs with bands fixed (exponent ~1 on a log-log step; an all-pairs
      plan would show ~2).
    * llm_knn_ivf — the share of the corpus a probe scans (candidates /
      (probes x corpus)) should FALL as the corpus grows past the bucket
      count (K=16 lists, NPROBE=4 -> asymptotic share ~ NPROBE/K = 0.25
      on balanced lists).
    """
    import math

    from biggie_spark.ops.ivf import NPROBE, _sq_dist, train_ivf
    from biggie_spark.ops.llm import _minhash_sig, band_struct
    from pyspark.sql import Window

    sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", SRC]

    print("\n| sf | docs | LSH band-join candidates | step exponent (ideal ~1) |")
    print("|---|---|---|---|")
    prev = None
    for sf in sfs:
        d = load_table(spark, sf, "documents").select(
            "doc_id", _minhash_sig("text").alias("sig")
        )
        bands = d.select("doc_id", band_struct("sig", 4, 4)).select(
            "doc_id", "bk.b", "bk.bkey"
        )
        a, b = bands.alias("a"), bands.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.b") == F.col("b.b"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
            .count()
        )
        n = d.count()
        # sf0.001 and sf0.01 ship the SAME 500-doc table (TESTDATA.md), so
        # the only natural step is 500 -> 5000; skip zero-growth steps.
        if prev and prev[1] > 0 and cands > 0 and n != prev[0]:
            exp = math.log(cands / prev[1]) / math.log(n / prev[0])
            e = f"{exp:.2f}"
        else:
            e = "-"
        print(f"| {sf.rsplit('/', 1)[-1]} | {n} | {cands} | {e} |")
        prev = (n, cands)

    print("\n| sf | docs | shingle-LSH candidates (llm_neardup_shingle) | step exponent |")
    print("|---|---|---|---|")
    prev = None
    for sf in sfs:
        n = load_table(spark, sf, "documents").count()
        cands = QUERIES["llm_neardup_shingle"](spark, sf).count()
        if prev and prev[1] > 0 and cands > 0 and n != prev[0]:
            e = f"{math.log(cands / prev[1]) / math.log(n / prev[0]):.2f}"
        else:
            e = "-"
        print(f"| {sf.rsplit('/', 1)[-1]} | {n} | {cands} | {e} |")
        prev = (n, cands)

    print("\n| sf | corpus | IVF candidates (10 probes) | share of probesxcorpus |")
    print("|---|---|---|---|")
    for sf in sfs:
        assigned, centroids = train_ivf(spark, sf)
        probes = assigned.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pa")
        )
        pc = probes.crossJoin(F.broadcast(centroids)).withColumn(
            "d", _sq_dist(F.col("pa"), F.col("cvec"))
        )
        wp = Window.partitionBy("probe_id").orderBy("d", "cid")
        probe_lists = (
            pc.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= NPROBE)
            .select("probe_id", "cid")
        )
        n = assigned.count()
        cands = (
            assigned.select(F.col("vec_id").alias("neighbor_id"), "cid")
            .join(F.broadcast(probe_lists), "cid")
            .filter(F.col("neighbor_id") != F.col("probe_id"))
            .count()
        )
        share = cands / (10 * n)
        print(f"| {sf.rsplit('/', 1)[-1]} | {n} | {cands} | {share:.3f} |")


def incremental_exponents(spark) -> None:
    """VERDICT r5 item 6: the incremental ops claim cost O(|batch|) at a
    FIXED standing index.  Prove it with the candidate-count log-ratio
    method (same as ann_exponents): hold the index side constant, step the
    batch 5x, and report exponent = log(c2/c1)/log(5) — ~1.0 means the
    probe work grows linearly in the batch and is independent of corpus
    re-scans; ~2 would mean the op secretly re-joins the corpus with
    itself.  Also measures llm_neardup_index_persisted's directory
    pruning: batch-touched partitions / total partitions on disk."""
    import math
    import shutil
    import tempfile

    from pyspark.sql import Window

    from biggie_spark.ops.ivf import NPROBE, _assign, _sq_dist
    from biggie_spark.ops.llm import _minhash_sig, band_struct

    sf = SRC  # 5000 docs / 2000 vectors

    # ---- llm_neardup_incremental: fixed 4500-doc index, 100 vs 500 batch
    d = load_table(spark, sf, "documents").select(
        "doc_id", _minhash_sig("text").alias("sig")
    )
    bands = d.select("doc_id", band_struct("sig", 4, 4)).select(
        "doc_id", "bk.b", "bk.bkey"
    )
    idx_b = bands.filter(F.col("doc_id") % 10 != 0)
    print("\n| op | index size | batch | candidates | exponent in |batch| (ideal ~1) |")
    print("|---|---|---|---|---|")
    prev = None
    n_idx = idx_b.select("doc_id").distinct().count()
    for cap in (1000, 5000):
        new_b = bands.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < cap))
        nb = new_b.select("doc_id").distinct().count()
        c = (
            idx_b.join(F.broadcast(new_b.select("b", "bkey", F.col("doc_id").alias("doc_new"))), ["b", "bkey"])
            .select("doc_new", "doc_id")
            .distinct()
            .count()
        )
        e = (
            f"{math.log(c / prev[1]) / math.log(nb / prev[0]):.2f}"
            if prev and prev[1] > 0
            else "-"
        )
        print(f"| llm_neardup_incremental | {n_idx} | {nb} | {c} | {e} |")
        prev = (nb, c)

    # ---- ivf_search_incremental: fixed 1800-vector index, 40 vs 200 batch
    ev = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    idx = ev.filter(F.col("vec_id") % 10 != 0)
    cent = idx.filter(F.col("vec_id") < 18).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("embedding").alias("cvec")
    )
    asg = _assign(idx, cent).select(F.col("vec_id").alias("neighbor_id"), "cid")
    n_idx = idx.count()
    prev = None
    for cap in (400, 2000):
        probes = ev.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < cap)).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pa")
        )
        pc = probes.crossJoin(F.broadcast(cent)).withColumn(
            "d", _sq_dist(F.col("pa"), F.col("cvec"))
        )
        wp = Window.partitionBy("probe_id").orderBy("d", "cid")
        pl = (
            pc.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= NPROBE)
            .select("probe_id", "cid")
        )
        nb = probes.count()
        c = asg.join(F.broadcast(pl), "cid").count()
        e = (
            f"{math.log(c / prev[1]) / math.log(nb / prev[0]):.2f}"
            if prev and prev[1] > 0
            else "-"
        )
        print(f"| ivf_search_incremental | {n_idx} | {nb} | {c} | {e} |")
        prev = (nb, c)

    # ---- llm_neardup_index_persisted: directory pruning measured
    print("\n| sf | batch docs | dirs touched | dirs total | pruned |")
    print("|---|---|---|---|---|")
    for sfd in ("/root/testdata/sf0.01", SRC):
        dd = load_table(spark, sfd, "documents").select(
            "doc_id", _minhash_sig("text").alias("sig")
        )
        bb = dd.select("doc_id", band_struct("sig", 4, 4)).select(
            "doc_id", "bk.b", "bk.bkey"
        )
        base = tempfile.mkdtemp(prefix="biggie_prune_probe_")
        try:
            (
                bb.filter(F.col("doc_id") % 25 != 0)
                .withColumn("bp", F.substring("bkey", 1, 2))
                .write.mode("overwrite")
                .partitionBy("bp")
                .parquet(base)
            )
            batch = bb.filter(F.col("doc_id") % 25 == 0)
            nb = batch.select("doc_id").distinct().count()
            bps = batch.select(F.substring("bkey", 1, 2).alias("bp")).distinct().count()
            n_dirs = sum(1 for x in os.listdir(base) if x.startswith("bp="))
            print(
                f"| {sfd.rsplit('/', 1)[-1]} | {nb} | {bps} | {n_dirs} "
                f"| {1 - bps / n_dirs:.0%} |"
            )
        finally:
            shutil.rmtree(base, ignore_errors=True)


def heavy_100x(spark) -> None:
    """VERDICT r10 item 7: extend the 100x PHYSICAL probe beyond the
    window family to the two plans whose constants matter most at 100x —
    ts_click_attribution's 7x-fanout bucketed equi-join and
    graph_component_mass's convergence loop over the shingle-LSH edges.

    Events replicate with event_id shifted by 100000 per copy (stays
    inside the op's 2^20 stride guard; max id at sf0.1 is 99999) and
    user_id shifted by OFF — per-user window sizes stay constant, so
    linear wall-clock is the honest expectation.

    Documents are CONTENT-keyed (the edges come from text shingles), so
    byte-identical replication would grow the true answer K^2 (the
    documented content-keyed caveat).  Each copy i instead gets a salt
    token spliced in every 8th position: cross-copy shingle Jaccard
    drops below the 0.8 verify threshold (copies stop being near-dups of
    each other) while within-copy dup structure is preserved verbatim —
    the true cluster count grows exactly K-fold."""
    n_copies = K

    # --- ts_click_attribution on 100x events -------------------------------
    out = f"{OUT}_events100x"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    ev = load_table(spark, SRC, "events")
    copies = []
    for i in range(n_copies):
        copies.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * 100000))
            .withColumn("user_id", F.col("user_id") + F.lit(i * OFF))
        )
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    t0 = time.time()
    big.write.mode("overwrite").parquet(f"{out}/events.parquet")
    n = spark.read.parquet(f"{out}/events.parquet").count()
    print(f"built {n}-row 100x events in {time.time() - t0:.0f}s")

    fn = QUERIES["ts_click_attribution"]
    walls = {}
    for label, d in (("sf0.1", SRC), ("100x", out)):
        wall = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
        walls[label] = wall
    print(
        f"| ts_click_attribution | {walls['sf0.1']:.2f}s | "
        f"{walls['100x']:.2f}s | {walls['100x'] / walls['sf0.1']:.1f}x "
        f"(ideal <= 10 at 10x rows... this is 10x sf0.1 = 100x scoring SF) |"
    )
    shutil.rmtree(out, ignore_errors=True)

    # --- graph_component_mass on 100x salted documents ----------------------
    out = f"{OUT}_docs100x"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    docs = load_table(spark, SRC, "documents")
    copies = []
    for i in range(n_copies):
        salted = docs.withColumn(
            "text",
            F.expr(
                "array_join(flatten(transform(split(text, ' '), "
                f"(t, j) -> case when j % 8 = 7 then array(t, 'zsalt{i}q') "
                "else array(t) end)), ' ')"
            ),
        ).withColumn("doc_id", F.col("doc_id") + F.lit(i * 5000))
        copies.append(salted)
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    t0 = time.time()
    big.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    n = spark.read.parquet(f"{out}/documents.parquet").count()
    print(f"built {n}-row 100x salted documents in {time.time() - t0:.0f}s")

    fn = QUERIES["graph_component_mass"]
    for label, d in (("sf0.1", SRC), ("100x", out)):
        t0 = time.perf_counter()
        rows = fn(spark, d).collect()
        wall = time.perf_counter() - t0
        tot = sum(r["n_clusters"] for r in rows)
        print(
            f"| graph_component_mass {label} | {wall:.2f}s | "
            f"{tot} clusters | {sorted((r['cluster_size'], r['n_clusters']) for r in rows)} |"
        )
    shutil.rmtree(out, ignore_errors=True)


def ann_recall_100x(spark) -> None:
    """VERDICT r8 item 5: ANN recall + IVF train/probe cost at the 100x
    corpus (~500k vectors — the 1M-vector-class scale).  Key-shifted
    replication alone would be degenerate here (byte-identical embedding
    copies make every probe's true top-5 its own clones), so each copy i
    also gets a content transform that PRESERVES norms and pairwise
    geometry within a copy but decorrelates across copies: roll the
    64-dim array by i % 64 positions and negate when (i // 64) is odd —
    128 distinct isometries, enough for K=100 distinct copies."""
    n_copies = K
    out = os.path.join(OUT + "_ann", "")
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    e = load_table(spark, SRC, "embeddings").select("vec_id", "embedding")
    dims = 64
    copies = []
    for i in range(n_copies):
        r = i % dims
        c = e.withColumn("vec_id", F.col("vec_id") + F.lit(i * OFF))
        if r:
            rolled = F.concat(
                F.slice("embedding", r + 1, dims - r),
                F.slice("embedding", 1, r),
            )
            c = c.withColumn("embedding", rolled)
        if (i // dims) % 2 == 1:
            c = c.withColumn(
                "embedding", F.transform("embedding", lambda x: -x)
            )
        copies.append(c.withColumn("label", F.lit(0)))
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    t0 = time.time()
    big.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    n = spark.read.parquet(f"{out}/embeddings.parquet").count()
    print(f"built {n}-vector ANN corpus in {time.time() - t0:.0f}s")

    from biggie_spark.ops.ann import llm_knn_lsh
    from biggie_spark.ops.ivf import NPROBE, _sq_dist, train_ivf
    from biggie_spark.util import knn_exact, topk_by_cosine
    from pyspark.sql import Window

    emb = load_table(spark, out, "embeddings")
    t0 = time.time()
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in knn_exact(emb, range(10), 5).collect()
    }
    t_exact = time.time() - t0

    t0 = time.time()
    assigned, centroids = train_ivf(spark, out)
    assigned = assigned.localCheckpoint()  # materialize: train cost stops here
    centroids = centroids.localCheckpoint()
    t_train = time.time() - t0

    t0 = time.time()
    probes = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pa")
    )
    pc = probes.crossJoin(F.broadcast(centroids)).withColumn(
        "d", _sq_dist(F.col("pa"), F.col("cvec"))
    )
    wp = Window.partitionBy("probe_id").orderBy("d", "cid")
    probe_lists = (
        pc.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= NPROBE)
        .select("probe_id", "pa", "cid")
    )
    cands = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("na"),
        "cid",
    )
    pairs = cands.join(F.broadcast(probe_lists), "cid").filter(
        F.col("neighbor_id") != F.col("probe_id")
    )
    ivf_top = {
        (r.probe_id, r.neighbor_id)
        for r in topk_by_cosine(pairs, 5).collect()
    }
    t_probe = time.time() - t0
    r_ivf = len(exact & ivf_top) / len(exact)

    t0 = time.time()
    lsh_top = {
        (r.probe_id, r.neighbor_id)
        for r in llm_knn_lsh(spark, out).collect()
    }
    t_lsh = time.time() - t0
    r_lsh = len(exact & lsh_top) / len(exact)

    print(f"\n| path | wall | recall@5 vs exact ({n} vectors) |")
    print("|---|---|---|")
    print(f"| exact brute force (10 probes) | {t_exact:.1f}s | 1.00 |")
    print(f"| IVF train (K=16, 3 Lloyd iters) | {t_train:.1f}s | — |")
    print(f"| IVF probe (NPROBE=4, 10 probes) | {t_probe:.1f}s | {r_ivf:.2f} |")
    print(f"| LSH multi-probe (10 probes) | {t_lsh:.1f}s | {r_lsh:.2f} |")
    shutil.rmtree(out, ignore_errors=True)


def ann_recall_hard(spark) -> None:
    """VERDICT r9 item 3: ANN recall on a HARD corpus.  The --ann-100x
    isometry corpus clusters trivially (IVF recall 1.00 — the write-up
    itself flags it as easy), so this probe builds a corpus where
    within-copy geometry is NOT preserved: each of the 100 copies gets
    its own SEEDED random rotation (QR of a standard-normal matrix,
    sign-fixed for uniqueness) and every vector gets additive Gaussian
    noise (seeded per vec_id) at a measured SNR of ~10 dB — a noisy
    100-mode Gaussian mixture over the unit sphere, the natural-
    statistics shape real embedding corpora have.  Reports recall@5 vs
    exact brute force for the IVF, LSH, and SQ8-rerank paths at ~200k
    vectors.  Seeded numpy is probe-tool-only (ops stay RNG-free per the
    determinism conventions)."""
    import numpy as np

    n_copies = 100
    dims = 64
    rng = np.random.default_rng(20260815)
    qs = []
    for _ in range(n_copies):
        a = rng.standard_normal((dims, dims))
        q, r = np.linalg.qr(a)
        qs.append((q * np.sign(np.diag(r))).astype(np.float64))
    qs = np.stack(qs)  # (100, 64, 64)
    sigma = float(np.sqrt(0.1 / dims))  # noise power 0.1 vs unit signal

    out = os.path.join(OUT + "_annhard", "")
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    e = load_table(spark, SRC, "embeddings").select("vec_id", "embedding")
    grid = spark.range(n_copies).select(F.col("id").alias("copy"))
    base = e.crossJoin(F.broadcast(grid)).select(
        (F.col("vec_id") + F.col("copy") * OFF).alias("vec_id"),
        "copy",
        "embedding",
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def transform_udf(vec_id: pd.Series, copy: pd.Series,
                      emb: pd.Series) -> pd.Series:
        out_rows = []
        for vid, cp, v in zip(vec_id, copy, emb):
            x = qs[int(cp)] @ np.asarray(v, dtype=np.float64)
            nz = np.random.default_rng(int(vid) & 0x7FFFFFFF).standard_normal(
                dims
            )
            out_rows.append((x + sigma * nz).astype(np.float32))
        return pd.Series(out_rows)

    hard = base.select(
        "vec_id",
        transform_udf("vec_id", "copy", "embedding").alias("embedding"),
        F.lit(0).alias("label"),
    )
    t0 = time.time()
    hard.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    n = spark.read.parquet(f"{out}/embeddings.parquet").count()
    print(f"built {n}-vector HARD ANN corpus in {time.time() - t0:.0f}s "
          f"(sigma={sigma:.4f}, nominal SNR 10 dB)")
    # measured SNR: signal power is 1 (rotations preserve the unit norm)
    from biggie_spark.util import l2_norm_sq

    snr = (
        spark.read.parquet(f"{out}/embeddings.parquet")
        .agg(F.avg(l2_norm_sq(F.col("embedding"))).alias("p"))
        .collect()[0
        ].p
    )
    print(f"measured mean ||x||^2 = {snr:.4f} (signal 1.0 + noise ~0.1)")

    from biggie_spark.ops.ann import llm_knn_lsh
    from biggie_spark.ops.dedup_index import llm_knn_quantized_rerank
    from biggie_spark.ops.ivf import NPROBE, _sq_dist, train_ivf
    from biggie_spark.util import knn_exact, topk_by_cosine
    from pyspark.sql import Window

    emb = load_table(spark, out, "embeddings")
    t0 = time.time()
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in knn_exact(emb, range(10), 5).collect()
    }
    t_exact = time.time() - t0

    t0 = time.time()
    assigned, centroids = train_ivf(spark, out)
    assigned = assigned.localCheckpoint()
    centroids = centroids.localCheckpoint()
    t_train = time.time() - t0

    t0 = time.time()
    probes = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pa")
    )
    pc = probes.crossJoin(F.broadcast(centroids)).withColumn(
        "d", _sq_dist(F.col("pa"), F.col("cvec"))
    )
    wp = Window.partitionBy("probe_id").orderBy("d", "cid")
    probe_lists = (
        pc.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= NPROBE)
        .select("probe_id", "pa", "cid")
    )
    cands = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("na"),
        "cid",
    )
    pairs = cands.join(F.broadcast(probe_lists), "cid").filter(
        F.col("neighbor_id") != F.col("probe_id")
    )
    ivf_top = {
        (r.probe_id, r.neighbor_id)
        for r in topk_by_cosine(pairs, 5).collect()
    }
    t_probe = time.time() - t0
    r_ivf = len(exact & ivf_top) / len(exact)

    t0 = time.time()
    lsh_top = {
        (r.probe_id, r.neighbor_id)
        for r in llm_knn_lsh(spark, out).collect()
    }
    t_lsh = time.time() - t0
    r_lsh = len(exact & lsh_top) / len(exact)

    t0 = time.time()
    rr_top = {
        (r.probe_id, r.neighbor_id)
        for r in llm_knn_quantized_rerank(spark, out).collect()
    }
    t_rr = time.time() - t0
    r_rr = len(exact & rr_top) / len(exact)

    print(f"\n| path | wall | recall@5 vs exact ({n} vectors, hard) |")
    print("|---|---|---|")
    print(f"| exact brute force (10 probes) | {t_exact:.1f}s | 1.00 |")
    print(f"| IVF train (K=16, 3 Lloyd iters) | {t_train:.1f}s | \u2014 |")
    print(f"| IVF probe (NPROBE={NPROBE}, 10 probes) | {t_probe:.1f}s | {r_ivf:.2f} |")
    print(f"| LSH multi-probe (10 probes) | {t_lsh:.1f}s | {r_lsh:.2f} |")
    print(f"| SQ8 coarse+rerank (10 probes) | {t_rr:.1f}s | {r_rr:.2f} |")
    shutil.rmtree(out, ignore_errors=True)


def bucket_window(spark) -> None:
    """VERDICT r9 item 5: does a bucketBy(o_custkey)-sorted persisted
    layout beat the flat scan for the top-3-per-customer window at the
    100x corpus — i.e. is the sort Exchange the cost that matters?
    Builds the 100x ORDERS table only (the window touches nothing else),
    measures the flat window wall, writes the bucketed+sorted table
    (cost reported), re-runs the identical window on it, and prints
    whether each executed plan contains an Exchange."""
    out = f"{OUT}_orders100x"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    df = load_table(spark, SRC, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    copies = []
    for i in range(K):
        copies.append(
            df.withColumn("o_custkey", F.col("o_custkey") + F.lit(i * OFF))
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * OFF))
        )
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    t0 = time.time()
    big.write.mode("overwrite").parquet(f"{out}/orders.parquet")
    n = spark.read.parquet(f"{out}/orders.parquet").count()
    print(f"built {n}-row 100x orders in {time.time() - t0:.0f}s")

    from pyspark.sql import Window

    def topk(frame):
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey")
        )
        return frame.withColumn(
            "rn", F.row_number().over(w)
        ).filter(F.col("rn") <= 3)

    flat = spark.read.parquet(f"{out}/orders.parquet")
    wall_flat = None
    for _ in range(2):
        t0 = time.perf_counter()
        topk(flat).write.format("noop").mode("overwrite").save()
        wall_flat = time.perf_counter() - t0
    plan_flat = topk(flat)._jdf.queryExecution().executedPlan().toString()

    spark.sql("DROP TABLE IF EXISTS orders_bucketed_100x")
    t0 = time.time()
    (
        flat.write.mode("overwrite")
        .bucketBy(64, "o_custkey")
        .sortBy("o_custkey", "o_totalprice", "o_orderkey")
        .saveAsTable("orders_bucketed_100x")
    )
    t_bucket = time.time() - t0
    b = spark.table("orders_bucketed_100x")
    wall_bucket = None
    for _ in range(2):
        t0 = time.perf_counter()
        topk(b).write.format("noop").mode("overwrite").save()
        wall_bucket = time.perf_counter() - t0
    plan_bucket = topk(b)._jdf.queryExecution().executedPlan().toString()

    print("\n| layout | window wall (warm) | Exchange in plan | Sort in plan |")
    print("|---|---|---|---|")
    print(
        f"| flat parquet | {wall_flat:.1f}s |"
        f" {'yes' if 'Exchange' in plan_flat else 'NO'} |"
        f" {'yes' if 'Sort' in plan_flat else 'NO'} |"
    )
    print(
        f"| bucketBy(64, o_custkey) sortBy(custkey, price, key)"
        f" (one-time write {t_bucket:.0f}s) | {wall_bucket:.1f}s |"
        f" {'yes' if 'Exchange' in plan_bucket else 'NO'} |"
        f" {'yes' if 'Sort' in plan_bucket else 'NO'} |"
    )
    spark.sql("DROP TABLE IF EXISTS orders_bucketed_100x")
    shutil.rmtree(out, ignore_errors=True)


def shuffle_sweep(spark) -> None:
    """VERDICT r8 item 6: does the 100x wall of the two shuffle/sort-bound
    outliers (q_window 28x, q_join_agg 31.8x) respond to the
    shuffle-partition count once data no longer fits the 32-task layout?
    Sweeps spark.sql.shuffle.partitions over the K-x corpus and prints
    warm walls — the measured basis for the cluster-scaling conclusion."""
    build(spark)
    print(f"built {K}x corpus at {OUT}")
    suite = {"q_window": "win_topk_per_group", "q_join_agg": "join_multiway_star"}
    parts = [32, 64, 128, 256]
    print("\n| shuffle.partitions | q_window | q_join_agg |")
    print("|---|---|---|")
    for p in parts:
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
        walls = time_queries(spark, OUT, suite)
        print(f"| {p} | {walls['q_window']:.2f}s | {walls['q_join_agg']:.2f}s |")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    shutil.rmtree(OUT, ignore_errors=True)


def neardup_sf1(spark) -> None:
    """VERDICT r11 next-round #7: extend the dedup candidate-stage probe to
    sf1 (50k docs) and pin the pairs-vs-shingle crossover.

    sf1 documents don't ship in /root/testdata, so the corpus is
    synthesized under a DOCUMENTED growth model — "natural template
    growth": 10 key-shifted copies of the sf0.1 table, where copy i
    rewrites ~30% of each doc's tokens through a copy-private injective
    map (token t -> "t~i" when pmod(hash(t, i), 10) < 3).  Properties the
    model preserves / varies, and why they make the measurement honest:

    * WITHIN each copy the token map is injective, so every pairwise
      Jaccard — and therefore the true near-dup answer and both LSH
      strategies' within-copy candidate sets — is EXACTLY the sf0.1
      structure, 10x over: a strictly linear generator reads exponent 1.
    * ACROSS copies, the same doc keeps only the ~70% unmapped tokens
      (token-J ~= 0.54 for identical source docs, ~0.35 for same-template
      background) — below both verify thresholds, so the TRUE answer
      grows exactly 10x (no cross-copy true dups), while the token-set
      banding's s-curve (~0.71 at 4x4) still fires on a measurable slice
      of the 45 copy-pair x 25M cross pairs.  That slice IS the quantity
      the probe exists to expose: background candidate mass that grows
      quadratically in corpus size even when the true answer is linear.
    * 3-shingle survival across copies is ~0.7^3 = 0.34 (shingle-J ~0.2),
      far below the 8-row band s-curve (~0.92) — shingle candidates
      should stay ~10x sf0.1, i.e. linear.

    Candidate volume is counted two ways: exact non-distinct mass as
    sum-over-buckets of C(n,2) (a groupBy — never materializes the join),
    and approx_count_distinct over the joined pairs (HLL, +-2%), because
    exactly distinct-counting a 10^8-row candidate set is itself the
    explosion the probe demonstrates."""
    import math
    import time as _t

    from biggie_spark.ops.llm import _minhash_sig, _shingle_candidates, band_struct

    sf1_dir = os.path.join(OUT, "sf1_neardup")
    docs_path = os.path.join(sf1_dir, "documents.parquet")
    if not os.path.exists(docs_path):
        d = load_table(spark, SRC, "documents")
        copies = []
        for i in range(K):
            remap = F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.when(
                        F.pmod(F.hash(t, F.lit(i)), F.lit(10)) < 3,
                        F.concat(t, F.lit(f"~{i}")),
                    ).otherwise(t),
                ),
                " ",
            )
            copies.append(
                d.select(
                    (F.col("doc_id") + F.lit(i * OFF)).alias("doc_id"),
                    (remap if i else F.col("text")).alias("text"),
                )
            )
        out = copies[0]
        for c in copies[1:]:
            out = out.unionAll(c)
        out.repartition(32).write.mode("overwrite").parquet(docs_path)
        print(f"built {docs_path}")

    def pairs_candidates(sf):
        """Token-set 4x4 banding (llm_neardup_pairs' candidate stage)."""
        d = load_table(spark, sf, "documents").select(
            "doc_id", _minhash_sig("text").alias("sig")
        )
        bands = d.select("doc_id", band_struct("sig", 4, 4)).select(
            "doc_id", "bk.b", "bk.bkey"
        )
        mass = (
            bands.groupBy("b", "bkey")
            .agg(F.count("*").alias("n"))
            .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("m"))
            .collect()[0][0]
        )
        a, b = bands.alias("a"), bands.alias("b")
        distinct = (
            a.join(
                b,
                (F.col("a.b") == F.col("b.b"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .agg(
                F.approx_count_distinct(
                    F.concat_ws(":", F.col("a.doc_id"), F.col("b.doc_id")), 0.02
                ).alias("d")
            )
            .collect()[0][0]
        )
        return int(mass), int(distinct)

    print("\n| probe | sf0.1 (5k docs) | sf1 (50k docs) | step exponent (docs 10x) |")
    print("|---|---|---|---|")
    rows = {}
    for label, fn in (
        ("token-LSH bucket mass sum C(n,2)", lambda sf: pairs_candidates(sf)[0]),
        (
            "token-LSH distinct candidates (HLL +-2%)",
            lambda sf: pairs_candidates(sf)[1],
        ),
        (
            "shingle-LSH distinct candidates",
            lambda sf: _shingle_candidates(spark, sf)[0].count(),
        ),
    ):
        t0 = _t.perf_counter()
        small = fn(SRC)
        t_small = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        big = fn(sf1_dir)
        t_big = _t.perf_counter() - t0
        exp = math.log(big / small) / math.log(10) if small else float("nan")
        rows[label] = (small, big, exp)
        print(
            f"| {label} | {small:,} ({t_small:.1f}s) | {big:,} ({t_big:.1f}s) "
            f"| {exp:.2f} |"
        )
    tok = rows["token-LSH distinct candidates (HLL +-2%)"]
    shi = rows["shingle-LSH distinct candidates"]
    print(
        f"\ncrossover: at 50k docs token-LSH emits ~{tok[1] / max(shi[1], 1):,.0f}x "
        f"the shingle candidate volume (exponents {tok[2]:.2f} vs {shi[2]:.2f})"
    )


def main() -> None:
    load_all_ops()
    spark = get_spark(app_name="biggie-scale-probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    if "--neardup-sf1" in sys.argv:
        neardup_sf1(spark)
        return
    if "--ann-100x" in sys.argv:
        ann_recall_100x(spark)
        return
    if "--heavy-100x" in sys.argv:
        heavy_100x(spark)
        return
    if "--ann-hard" in sys.argv:
        ann_recall_hard(spark)
        return
    if "--bucket-window" in sys.argv:
        bucket_window(spark)
        return
    if "--shuffle-sweep" in sys.argv:
        shuffle_sweep(spark)
        return
    if "--ann-exponents" in sys.argv:
        ann_exponents(spark)
        return
    if "--incremental" in sys.argv:
        incremental_exponents(spark)
        return
    if "--round4b-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND4B)
        nat = time_queries(spark, SRC, ROUND4B)
        print("\n| round-4b op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND4B:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round8-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND8)
        nat = time_queries(spark, SRC, ROUND8)
        print("\n| round-8 op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND8:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round8b-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND8B)
        nat = time_queries(spark, SRC, ROUND8B)
        print("\n| round-8b op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND8B:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round9-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND9)
        nat = time_queries(spark, SRC, ROUND9)
        print("\n| round-9 op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND9:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round9b-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND9B)
        nat = time_queries(spark, SRC, ROUND9B)
        print("\n| round-9b op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND9B:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round12-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND12)
        nat = time_queries(spark, SRC, ROUND12)
        print("\n| round-12 op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND12:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round11-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND11)
        nat = time_queries(spark, SRC, ROUND11)
        print("\n| round-11 op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND11:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round10b-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND10B)
        nat = time_queries(spark, SRC, ROUND10B)
        print("\n| round-10b op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND10B:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round10-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND10)
        nat = time_queries(spark, SRC, ROUND10)
        print("\n| round-10 op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND10:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round7-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND7)
        nat = time_queries(spark, SRC, ROUND7)
        print("\n| round-7 op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND7:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    if "--round4-only" in sys.argv:
        small = time_queries(spark, SRC_SMALL, ROUND4)
        nat = time_queries(spark, SRC, ROUND4)
        print("\n| round-4 op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
        print("|---|---|---|---|")
        for q in ROUND4:
            r = nat[q] / small[q]
            print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")
        return
    t0 = time.time()
    build(spark)
    print(f"built {K}x corpus at {OUT} in {time.time() - t0:.0f}s")
    base = time_queries(spark, SRC, HEADLINE)
    big = time_queries(spark, OUT, HEADLINE)
    print(f"\n| query | sf0.1 | {K}x | ratio (ideal <= {K}) |")
    print("|---|---|---|---|")
    for q in HEADLINE:
        r = big[q] / base[q]
        print(f"| {q} | {base[q]:.3f}s | {big[q]:.3f}s | {r:.1f}x |")
    tot = sum(big.values()) / sum(base.values())
    print(f"| **total** | {sum(base.values()):.2f}s | {sum(big.values()):.2f}s | {tot:.1f}x |")
    shutil.rmtree(OUT, ignore_errors=True)

    small = time_queries(spark, SRC_SMALL, CONTENT_KEYED)
    nat = time_queries(spark, SRC, CONTENT_KEYED)
    print("\n| dedup/ANN op | sf0.01 | sf0.1 (10x rows) | ratio (ideal <= 10) |")
    print("|---|---|---|---|")
    for q in CONTENT_KEYED:
        r = nat[q] / small[q]
        print(f"| {q} | {small[q]:.3f}s | {nat[q]:.3f}s | {r:.1f}x |")


if __name__ == "__main__":
    main()
