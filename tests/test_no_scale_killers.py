"""Registry-wide scale-killer guard: build (don't run) the physical plan of
every registered operator and reject CartesianProduct / BroadcastNestedLoop
joins except where they are the op's documented point (join_cross) or a
broadcast-bounded probe pattern (small literal probe set × corpus, ≤ a few
hundred rows on the replicated side).

This is plan analysis only — no job executes — so the whole 190+-op sweep
is cheap enough for every CI run.  A new operator that accidentally
introduces an unbounded cross product fails here the day it is written,
not in a driver round.
"""

from __future__ import annotations

import pytest

from biggie_spark.registry import QUERIES, load_all_ops

load_all_ops()

# Ops whose plan legitimately contains a cartesian/nested-loop join:
#   join_cross          — the §2.D cross-join contract op itself (25×5 dims)
#   *_neardup_ngram     — exact all-pairs probe, explicitly bounded doc_id<60
#   llm_cross_dup_matrix— source×source matrix over probe subset (≤60 docs)
#   diag_*/mm ops       — single-row stats frame × table (scalar broadcast)
# Everything else must get there via equi-join keys.
ALLOWED_NESTED = {
    "join_cross",
    "llm_neardup_ngram",
    "llm_cross_dup_matrix",
}

# Single-row/scalar broadcast frames appear as BroadcastNestedLoopJoin; they
# replicate ONE row (or a literal-bounded probe set) and are scale-safe.
# CartesianProduct (both sides unbounded, no broadcast) is never acceptable
# outside ALLOWED_NESTED, and BroadcastNestedLoopJoin is only acceptable for
# the audited ops below — each one's broadcast side is bounded by
# construction, independent of input scale:
#   scalar aggregate (exactly 1 row: corpus-N, min/max bounds, total mass):
#     diag_heavy_hitters diag_range_bounds graph_pagerank llm_bm25
#     llm_mix_weights llm_perplexity_bucket llm_source_drift llm_tf_idf
#     stream_watermark_late
#     tpch_q11_important_parts tpch_q22_global_sales_opportunity
#     ts_gapfill ts_resample_interp
#   literal-bounded probe subset (doc_id/vec_id < k, k ≤ 10, documented as
#   the exact-baseline probe pattern in the op docstring):
#     llm_embed_norm llm_knn_cosine llm_knn_ivf
# An op outside this set whose plan grows a BNLJ — e.g. a non-equi join
# against a large broadcast side — fails the sweep.
#
# AUDITED 2026-08-14 (VERDICT r7 item 7): every entry's plan was rebuilt
# and its BroadcastExchange subtree classified — 48/51 still carry a BNLJ
# whose broadcast side is a scalar aggregate frame, a literal/range
# constructor, a limit-bounded frame, or a literal id-bounded probe set
# (spot-checked in-plan: llm_knn_cosine broadcasts the 10-id IN-list scan;
# ivf_* broadcast the K=16 centroid LocalRelation).  Three entries were
# STALE — their current plans contain no BNLJ at all — and were REMOVED
# rather than left as unearned exemptions: ivf_index_persisted,
# llm_bpe_train, llm_bpe_apply (their earlier nested-loop shapes were
# replaced by equi-joins/local lookups in later rounds).  Audit note in
# SCALE.md §BNLJ-audit.
CARTESIAN = "CartesianProduct"
BNLJ = "BroadcastNestedLoopJoin"
ALLOWED_BNLJ = {
    "diag_heavy_hitters",
    "diag_range_bounds",
    "graph_pagerank",
    "llm_bm25",
    "llm_embed_norm",
    "llm_knn_ann",  # routes to llm_knn_ivf (same bounded probe pattern)
    "llm_knn_cosine",
    "llm_bitext_mine",  # literal-bounded probe set (lang + doc_id < 200)
    "llm_knn_quantized_rerank",  # 1-row calibration frame + 10-probe broadcast
    "llm_retrieval_eval",  # composes the rerank path above (same bounded frames)
    "llm_knn_ivf",
    "ivf_assign",  # K=16-row centroid frame broadcast to the argmin pass
    "ivf_train_lloyd",  # same 16-row centroid broadcast, once per Lloyd round
    "ivf_search_incremental",  # same 16-row centroid broadcast, both passes
    "llm_curation_pipeline",  # 1-row bounds + 1-row corpus-total frames
    "llm_dataset_card",  # 1-row top-language frame joined onto the 1-row card
    "llm_token_pmi",  # 1-row bigram-total frame (corpus-N pattern)
    "llm_length_filter",  # 1-row percentile-bounds frame
    "llm_mix_weights",
    "llm_perplexity_bucket",  # 1-row corpus-total frame (token count)
    "llm_source_drift",
    "agg_js_divergence",  # users x 5-type grid + 1-row corpus-N (source_drift pattern)
    "llm_hash_shard_balance",  # 1-row corpus-total frame (scalar aggregate pattern)
    "llm_tf_idf",
    "llm_topic_lift",
    "stream_watermark_late",
    "tpch_q11_important_parts",
    "tpch_q22_global_sales_opportunity",
    "ts_gapfill",
    "ts_resample_interp",
    "kv_version_travel",  # 2-row version-tag frame (layer <= v non-equi)
    "win_gap_fill_locf",  # 1-row bounds frame -> dense grid (ts_gapfill twin)
    # round-4 additions — every broadcast side is a scalar/moment frame or
    # a literal-bounded constructor, independent of corpus size:
    "agg_ttest_welch",  # ≤|event types| moment frame, pairwise triangle
    "agg_chi2_independence",  # 1-row total + marginal frames onto cell frame
    "agg_ks_twosample",  # 1-row (n1, n2) totals onto the bounded bin frame
    "agg_mann_whitney",  # 1-row totals × 1-row rank-sum reduction
    "agg_benford_digits",  # 1-row total onto the 9-digit frame
    "fn_bloom_probe",  # 1-row count frames assembling the summary row
    "llm_embed_outlier",  # 1-row centroid-array + 1-row moments frames
    "llm_embed_project",  # 8×64 literal range×range matrix constructor
    "sql_values_inline",  # 3-row literal VALUES dimension (LocalRelation)
    "agg_hll_portable",  # groups × 64-register literal grid constructor
    "agg_bootstrap_ci",  # 1-row point/lo/hi frames assembling the summary
    "ts_rfm_segments",  # 1-row corpus-max anchor onto the per-user frame
    "agg_survival_km",  # 1-row horizon + subject-count frames (KM risk sets)
    "join_pit_scd2",  # 3-row literal version frame tiling the history
    "agg_basket_rules",  # 1-row basket-count frame onto the rule frame
    "agg_cuped",  # 1-row temporal-span frame onto the event scan
    "graph_reciprocity",  # 1-row reciprocal-count frame onto the 1-row total
    # round-9b additions — audited 2026-08-15, each broadcast side bounded
    # by construction independent of corpus size:
    "llm_rrf_fusion",  # 10-probe broadcast (vec_id < 10, knn_cosine pattern)
    "llm_matryoshka_truncate",  # same 10-probe broadcast, 3 widths
    "llm_pairwise_winrate",  # theta join of the bounded (source x <=101
    # score) histogram frames — corpus size only changes histogram weights
    "llm_radix_cache_depth",  # 4-row literal depth grid (LocalRelation)
    # broadcast with a size(ws) >= depth non-equi condition
    # round-10 holdback additions — audited 2026-08-15:
    "llm_bradley_terry_step",  # theta join of the bounded (source x <=101
    # score) histogram frames (the llm_pairwise_winrate shape), plus the
    # mx localCheckpoint keyed equi-joins
    "graph_hits_iter",  # 1-row max-normalization frame broadcast per
    # half-iteration (the scalar-aggregate pattern)
    "ts_daily_spectrum",  # 4-row literal frequency grid (spark.range
    # LocalRelation) broadcast onto the bounded 24-hour profile frame
    "llm_embed_isotropy",  # two 1-row scalar frames (centroid energy,
    # mean norm) crossJoined onto the 1-row pair-cosine summary
    # round-10b additions — audited 2026-08-15, each broadcast side bounded
    # by construction independent of corpus size:
    "llm_vocab_size_sweep",  # 6-row literal K grid theta-joined (rn <= k)
    # onto the _GRID_BOUND-guarded ranked vocab frame
    "llm_lang_profile_divergence",  # 1-row global-token-count scalar frame
    # crossJoined onto the (lang x vocab) profile frame
    "llm_epoch_interleave",  # 3-row literal epoch grid (spark.range
    # LocalRelation) broadcast-crossed onto one corpus scan
    # round-11 holdback additions — audited 2026-08-15:
    "agg_t_closeness",  # 5-bucket global-distribution frame crossed onto
    # the per-source count frame (both bounded aggregates), plus the
    # 1-row corpus-total scalar
    "llm_semantic_cache_hits",  # 1-row max-key scalar frame crossed onto
    # the embedding scan (the warm/query split point)
    "ts_traffic_heatmap",  # 1-row traffic-total scalar frame crossed
    # onto the bounded 168-cell heatmap grid
    "llm_source_influence_loo",  # 1-row corpus-total scalar frame crossed
    # onto the per-source group frame (the one-pass LOO identity)
    "llm_feature_hash_collisions",  # 4-point literal bucket grid crossed
    # onto the vocab-bounded frequency frame + 1-row mass scalar
    "llm_mix_power_sweep",  # 1-row mass total + 3-point literal tau grid
    # crossed onto the bounded source frame
    "llm_context_length_quota",  # 1-row token total crossed onto the
    # 4-bucket quota frame (with the literal target VALUES dimension)
    "llm_prompt_template_render",  # 3-row literal template dimension
    # (LocalRelation) broadcast-crossed onto one corpus scan
    "agg_partition_skew_audit",  # 3-point literal partition-count grid
    # (spark.range LocalRelation) broadcast-crossed onto one scan
    # round-12 wave-A additions — audited 2026-08-15:
    "llm_ivf_recall_curve",  # K=16 centroid + 10-probe literal broadcasts
    # (the ivf_assign / llm_knn_cosine patterns) + 3-row literal k grid
    # theta-joined (rn <= k) onto the per-probe ranked frames
    "llm_eval_quota_hamilton",  # 1-row corpus-total and 1-row leftover
    # scalar frames crossed onto the 5-row per-stratum quota frame
    "agg_quantile_treatment_effect",  # 9-row literal decile grid
    # (LocalRelation) broadcast theta-joined (rn >= rank threshold) onto
    # the per-arm ranked scan — replicated side fixed at 9 rows forever
    # round-12 wave-B additions — audited 2026-08-15:
    "ts_markov_stationary",  # 1-row state-count scalar frame crossed
    # onto the <=|types| states frame for the uniform init
    "agg_theil_decomposition",  # 1-row corpus-total and 1-row between-
    # term scalar frames crossed onto the 5-row per-lang frame
    "fn_geohash_neighbors",  # 9-row literal (dx, dy) offset grid
    # (spark.range LocalRelation) broadcast-crossed onto the <=1024-cell
    # count frame — the stencil-to-equi-join contribution rewrite
    # round-12 wave-C additions — audited 2026-08-15:
    "llm_pack_lower_bounds",  # 3-row literal capacity grid (carrying the
    # 1-row total) broadcast-crossed onto the catalog-sized manifest
    "llm_softmax_temperature_sweep",  # 3-row literal temperature grid
    # (spark.range LocalRelation) broadcast-crossed onto the bounded
    # 20-probe x top-8 logit frame
    # round-12 wave-D additions — audited 2026-08-15:
    "llm_cache_capacity_curve",  # 3-row literal capacity grid crossed
    # onto the vocabulary-bounded prefix-frequency frame
    "kv_postings_intersect",  # top-4 hot-term frame (rank-bounded)
    # theta-joined r1 < r2 to build the 6 literal term pairs; the
    # postings intersection itself is a doc_id equi-join
    # round-12 wave-E additions — audited 2026-08-15:
    "llm_heavy_changers",  # 1-row corpus-max and 1-row half-total scalar
    # frames crossed onto the vocabulary-bounded census
    "llm_simhash_hamming_radius",  # 10-probe literal broadcast x corpus
    # (the llm_knn_cosine pattern) + 4-row literal radius grid
    "llm_heaps_law_curve",  # 1-row corpus-max scalar + 3-row literal
    # prefix grid crossed onto one n-gram pass
    # round-12 wave-F additions — audited 2026-08-15:
    "agg_fleiss_kappa",  # 1-row exact-median scalar frame crossed onto
    # the event scan (the rater-threshold broadcast)
    # round-12 wave-G additions — audited 2026-08-15:
    "agg_hoeffding_sample_bound",  # 3-row literal sample-size grid
    # crossed onto one scan + 1-row bounds scalar frame
    # round-12 wave-H additions — audited 2026-08-15:
    "llm_bigram_perplexity_heldout",  # 1-row vocab-size scalar frame
    # crossed onto the eval-half join (the corpus-N pattern)
    "agg_hill_tail_index",  # 3-row literal k grid theta-joined
    # (rn <= k) onto the top-100-bounded ranked frame + 3-row ck frame
    "graph_rich_club_coeff",  # 3-row literal degree grid theta-joined
    # (d > k) onto the 500-row degree frame; rich sets broadcast
    "llm_log_odds_fightin_words",  # 1-row corpus-total scalar frame
    # crossed onto the vocabulary-bounded score frame
    # round-12 wave-I additions — audited 2026-08-15:
    "agg_pinball_loss_grid",  # 3-row literal tau grid theta-joined
    # (rn >= ceil-rank) onto the ranked scan, then the 3-row quantile
    # frame crossed onto one conditional aggregate
    "fn_consistent_hash_ring",  # 4/5-row literal node-ring frames
    # (spark.range LocalRelation) — the ring successor lookup every
    # shard router runs; both sides bounded by the node count forever
    # round-13 wave-A additions — audited 2026-08-16:
    "ts_sample_entropy",  # template self-join theta (t2 > t1) with the
    # broadcast side the CALENDAR-bounded global hourly template frame
    # (<= 742 rows -> <= 275k pairs at any corpus size) + 1-row
    # template-count scalar cross — raw events never enter the BNLJ
    # round-13 wave-B additions — audited 2026-08-16:
    "agg_goodman_kruskal_lambda",  # 1-row quartile-cut frame crossed
    # onto the scan + 1-row lambda scalar crossed onto the 5-row frame
    "agg_friedman_ranks",  # 1-row Friedman-Q scalar frame crossed onto
    # the 5-row rank-sum frame
    "agg_brier_reliability",  # 1-row corpus Brier scalar frame crossed
    # onto the 10-bin reliability frame
    "agg_simpsons_reversal",  # priority-pair theta self-joins (pr < p2)
    # with broadcast sides bounded by the 5x3 dimension frames forever
    # round-13 wave-C additions — audited 2026-08-16:
    "diag_card_est_error",  # 1-row corpus-N scalar frame crossed onto
    # the 120-cell census (margins join by equi-keys)
    "diag_join_order_cost",  # six 1-row COUNT scalar frames chained by
    # scalar crosses into the 3-row literal plan dimension
    "diag_hist_selectivity",  # 7-point literal threshold panel crossed
    # onto the 20-row histogram and onto the scan (conditional count)
    "fn_rendezvous_hash",  # 4/5-row literal node grids crossed onto the
    # key scan — the per-key HRW argmax every shard router computes
    "fn_dod_bits",  # 1-row total scalar frame crossed onto the 5-class
    # census
    # round-13 wave-D additions — audited 2026-08-16:
    "llm_good_turing_trigram",  # 3-row literal r dimension theta-joined
    # (rr+1 = fr1) onto the vocabulary-bounded frequency-of-frequency
    # frame + three 1-row scalar crosses (total, types, hapax)
    # round-13 wave-G additions — audited 2026-08-16:
    "agg_page_trend",  # 1-row Page-L scalar frame crossed onto the
    # 5-row rank-sum frame (the agg_friedman_ranks shape)
    "agg_gk_gamma",  # 16-cell census theta self-join (row-pair order)
    # with the broadcast side bounded by the 16-cell frame forever
    "agg_kruskal_wallis",  # 1-row H scalar frame crossed onto the
    # 5-row group frame; ranks come from the value census, not rows
    # round-14 wave-A additions — audited 2026-08-16:
    "agg_mantel_haenszel",  # 1-row pooled-OR scalar frame crossed onto
    # the 30-stratum census
    "ts_matrix_profile",  # template self-join theta (t2 > t1+3) with
    # the broadcast side the calendar-bounded subsequence frame (<= 714
    # rows -> <= 255k pairs forever) + 1-row motif/discord scalar
    # crosses — the ts_sample_entropy shape
    "agg_c_index",  # converter-pair theta join, broadcast side bounded
    # by the conversion rate (740 converters at sf0.1); the
    # rank-arithmetic alternative is documented in tools/backlog_r14.md
    "agg_ece_calibration",  # 1-row corpus-N scalar frame crossed onto
    # the 10-bin reliability frame
    # round-14 wave-B additions — audited 2026-08-16:
    "agg_raking_ipf",  # 1-row margin-target frame crossed onto the
    # 20-cell census (3 bounded window passes) + 1-row residual cross
    "agg_jackknife_variance",  # 1-row total and 1-row mean scalar
    # frames crossed onto the 30-block frame
    "llm_cluster_purity",  # 10-probe literal broadcast x corpus (the
    # llm_knn_cosine pattern) + 1-row purity scalar cross
    "llm_adjusted_rand",  # same probe broadcast + three 1-row pair-
    # mass scalar crosses
    "mm_image_kmeans_1d",  # 1-row centroid frame crossed onto the
    # 85-bin histogram, once per bounded Lloyd iteration
    # round-14 wave-C additions — audited 2026-08-16:
    "ts_recurrence_quant",  # recurrence pair theta join with the
    # broadcast side the calendar-bounded hourly frame (<= 744 rows,
    # the ts_sample_entropy shape) + two 1-row scalar crosses
    # round-14 wave-D additions — audited 2026-08-16:
    "agg_youden_threshold",  # 1-row P/N totals crossed onto the
    # 100-row threshold frame + 1-row argmax scalar cross
    "agg_cvm_twosample",  # two 1-row per-group U frames crossed for
    # the final statistic assembly
    "agg_lift_gains",  # 1-row N/P scalar window frames on the ranked
    # scan (no join; the BNLJ is the rank-global count frame)
    "graph_attr_assortativity",  # 1-row configuration-model expectation
    # frame crossed onto the 1-row observed census (bounded graph)
    # round-14 wave-E additions — audited 2026-08-16:
    "agg_oaxaca_blinder",  # two 1-row per-group fit frames crossed for
    # the decomposition assembly
    "agg_propensity_strata",  # 1-row pooled-ATE scalar frame crossed
    # onto the 10-stratum census
    "llm_minhash_est_error",  # 16-row literal hash-slot grid broadcast
    # onto the pairing-bounded token frame (40-doc panel)
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unbounded_cartesian(spark, sf_dir, name):
    if name in ALLOWED_NESTED:
        pytest.skip("documented bounded cross-product op")
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert CARTESIAN not in plan, f"{name} plan contains CartesianProduct"
    if name not in ALLOWED_BNLJ:
        assert BNLJ not in plan, (
            f"{name} plan contains BroadcastNestedLoopJoin but is not in the "
            "audited scalar/bounded-broadcast allowlist"
        )


# --- driver-side collect() allowlist -----------------------------------------
# SCALE.md's posture is "no UNBOUNDED collect inside any operator".  Three
# audited sites exist, each an O(1)-bounded driver list that exists to drive
# partition pruning or driver-side demo-file writing — NOT to move data:
#   dedup_index.py  — ≤256 two-hex band prefixes (partitionBy pruning probe)
#   dedup_index.py  — NPROBE=6 centroid ids (IVF inverted-list pruning)
#   sources.py      — 40 probe doc ids (binaryFile demo writes tiny files)
# A fourth collect() in engine code must be audited here before it ships.
_COLLECT_ALLOWLIST = {
    "ops/dedup_index.py": 2,
    "ops/sources.py": 1,
    # round-10: snk_stats_manifest_persisted collects the per-block
    # overlaps flags to enforce its both-prune-and-admit RuntimeError —
    # bounded by the block-count manifest (keyspace/128 rows: 4 at
    # sf0.001, ~40 at sf0.1; a zone-map is small by definition).
    "ops/round10.py": 1,
    # round-12: snk_bloom_index_persisted collects the claimed shard ids
    # to drive the pruned data read — bounded by the shard count (<= 8).
    "ops/round12g.py": 1,
    # round-12 btable (audited in SCALE.md "btable metadata plane"): all
    # sites are metadata-plane, bounded by FILE counts, never rows —
    # (1) per-file min/max stats and fresh bloom words collected into
    # the commit log (one row per file written in THIS commit; the add
    # actions must reach the driver to be logged, same shape as Delta's
    # per-file stats; the bloom words are k x ceil(bits/32768) 4 KiB
    # bitmaps per indexed column — the filters' own size, written
    # straight into the commit-dir sidecars, SCALE.md "Round-14:
    # bloom-filter file skipping"),
    # (2) merge's source key-range min/max and its bloom words (1 row),
    # (3) the hit probe merge and copy-on-write delete share: hit-row
    # counts per file (one row per hit data file, after stats-range
    # pruning),
    # (4, round-14 deletion vectors) merge-on-read delete's coalesced
    # run list: positions are compressed to [start,end) runs JVM-side
    # BEFORE collect, so the driver sees O(#runs) — metadata scale,
    # never O(#deleted rows) — and files fragmenting past
    # max_dv_ranges_per_file fall back to copy-on-write in the same
    # commit (SCALE.md "Round-14: deletion vectors").
    # The separate bloom word aggregation is gone: fresh words ride the
    # write's observed metrics or site (1), rewrites inherit sidecars.
    "tablefmt.py": 4,
    # round-13 btable scored surfaces (SCALE.md "Round-13: tablefmt
    # hardening"): every site collects a BOUNDED AGGREGATE result
    # (<= ~60 rows — per-region / per-version / per-predicate counts) so
    # the scratch btable directory can be deleted before the driver
    # collects the returned frame; _materialize is the shared audited
    # helper.  Optimization r14 (guide §2.6 action fusion) removed four
    # of the six sites: the per-version/per-predicate collect loops in
    # bt_time_travel_read / bt_restore_roundtrip / bt_stats_skipped_read
    # now union their bounded aggregates into ONE _materialize action.
    "ops/btable_ops.py": 2,
    # round-14 wave H (SCALE.md "Round-14: wave-H btable surfaces"): same
    # audited shape as btable_ops.  Optimization r14 (guide §2.6 action
    # fusion) removed the per-predicate collect loops in bt_in_pruned_read
    # / bt_null_stats_skipped_read (their 5+4 bounded aggregates now union
    # into one _materialize action each); the remaining site is
    # bt_vacuum_observability's single 1-row final aggregate, which must
    # be pinned driver-side before the scratch table is deleted.
    "ops/btable_cdf.py": 1,
}


def test_collect_allowlist():
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "biggie_spark"
    found: dict[str, int] = {}
    for py in sorted(pkg.rglob("*.py")):
        n = 0
        for line in py.read_text().splitlines():
            code = line.split("#", 1)[0]
            n += len(re.findall(r"\.collect\(\)", code))
        if n:
            found[str(py.relative_to(pkg))] = n
    assert found == _COLLECT_ALLOWLIST, (
        f"driver-side collect() sites changed: {found} != {_COLLECT_ALLOWLIST}. "
        "If the new site is O(1)-bounded and justified, audit it in SCALE.md "
        "and extend this allowlist; otherwise remove the collect."
    )


# --- driver-built frames ------------------------------------------------------
# spark.createDataFrame over Python rows is a Python RDD: every action over
# a frame joined to it starts Python workers (a 1-row probe anti-joined to
# the DV ranges took 0.32-0.43 s that way, 0.12-0.14 s through Arrow).
# The btable and Stash metadata frames are built in one audited helper per
# module, each from a pyarrow.Table, which Spark plans as a LocalRelation.
_CREATE_DATAFRAME_ALLOWLIST = {
    # _meta_frame: DV range lists and per-file row-id bases
    "tablefmt.py": 1,
    # Stash._keys_frame: mget (> 1000 keys) and remove probe keys
    "stash.py": 1,
}


def test_create_dataframe_allowlist():
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "biggie_spark"
    found = {}
    for name in _CREATE_DATAFRAME_ALLOWLIST:
        code = [
            line.split("#", 1)[0]
            for line in (pkg / name).read_text().splitlines()
        ]
        found[name] = sum(
            len(re.findall(r"createDataFrame\(", c)) for c in code
        )
    assert found == _CREATE_DATAFRAME_ALLOWLIST, (
        f"createDataFrame( sites changed: {found} != "
        f"{_CREATE_DATAFRAME_ALLOWLIST}. Build metadata frames through the "
        "module's Arrow-fed helper, not from Python rows."
    )


def test_metadata_frames_plan_without_python_rdd(spark, tmp_path):
    """The optimized plans of DV'd btable reads (plain, with row ids, the
    change feed) and of a 1001-key Stash.mget hold no LogicalRDD (a
    Python-fed frame)."""
    from pyspark.sql import functions as F

    from biggie_spark.stash import Stash
    from biggie_spark.tablefmt import BTable

    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(100).select(F.col("id").alias("k")).coalesce(1),
        row_tracking=True,
    )
    t.delete(spark, "k % 10 = 3", mode="merge_on_read")
    assert t.snapshot().dvs
    stash = Stash(
        spark,
        spark.range(3000).select(
            F.col("id").alias("doc_id"), F.col("id").cast("string").alias("v")
        ),
        "doc_id",
    )
    frames = {
        "read": t.read(spark),
        "read_with_row_ids": t.read(spark, with_row_ids=True),
        "changes": t.changes(spark, 0),
        "changes_with_row_ids": t.changes(spark, 0, with_row_ids=True),
        "mget": stash.mget(list(range(1001))),
        "remove": stash.remove([1, 2, 3]).df,
    }
    for what, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, f"{what}: {plan}"
    assert frames["read"].count() == 90
    assert frames["mget"].count() == 1001

