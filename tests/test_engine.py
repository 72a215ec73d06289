"""Engine façade smoke: the three entry points (§3) converge on the same
results."""

from __future__ import annotations

from biggie_spark.engine import Engine


def test_engine_entry_points_agree(spark, sf_dir):
    eng = Engine.connect(sf_dir, spark=spark)

    df_api = (
        eng.table("orders").groupBy("o_orderstatus").count().withColumnRenamed("count", "n")
    )
    sql_api = eng.sql("SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1")
    assert sorted(map(tuple, df_api.collect())) == sorted(map(tuple, sql_api.collect()))

    st = eng.stash("documents")
    assert st.get(42).count() == 1
    assert len(st) == eng.sql("SELECT count(*) AS n FROM documents").collect()[0].n

    knn = eng.knn([0, 1], k=3).collect()
    assert len(knn) == 6  # 2 probes x 3 neighbors

    approx = eng.knn_approx(k=3, n_probes=2).collect()
    assert 0 < len(approx) <= 6  # IVF may surface < k per probe

    samp = eng.sample(pct=10)
    assert 0 < samp.count() < eng.table("events").count()
    # deterministic: the same selection on a second call
    assert samp.count() == eng.sample(pct=10).count()

    # the default strategy is the registered op
    assert eng.neardup().columns == eng.op("llm_neardup").columns

    plan = eng.explain(eng.table("lineitem").select("l_orderkey"))
    assert "ReadSchema" in plan


def test_engine_facade_analytics_surface(spark, sf_dir):
    eng = Engine.connect(sf_dir, spark=spark)
    for name in (
        "llm_stratified_sample",
        "llm_vocab_coverage",
        "llm_shard_order",
        "ts_ohlc",
        "diag_skew_stats",
        "diag_heavy_hitters",
        "diag_range_bounds",
        "sort_zorder",
        "llm_source_drift",
        "llm_mix_weights",
        "ts_anomaly_mad",
        "agg_cov_exact",
        "ts_sessionize",
        "llm_importance_sample",
        "llm_pipeline_e2e",
        "ts_vwap",
        "ts_gap_detect",
        "win_pattern_match",
        "llm_neardup",
        "llm_knn_quantized_rerank",
        "llm_segment_dedup",
        "llm_prefix_dup",
        "llm_entropy_filter",
        "llm_perplexity_bucket",
        "llm_minhash_calibration",
        "llm_curation_pipeline",
    ):
        df = eng.op(name)
        assert df.columns, name
        assert df.limit(1).count() >= 0, name


def test_engine_op_dispatch(spark, sf_dir):
    """Engine.op reaches the full registry; unknown names suggest near
    matches instead of a bare KeyError."""
    from biggie_spark.engine import Engine

    eng = Engine.connect(sf_dir, spark=spark)
    assert len(eng.ops()) >= 236
    assert eng.op("llm_segment_dedup").columns == [
        "doc_id", "n_segs", "n_kept", "kept_md5",
    ]
    try:
        eng.op("llm_segment_dedupe")
    except KeyError as e:
        assert "llm_segment_dedup" in str(e)
    else:  # pragma: no cover
        raise AssertionError("expected KeyError")
