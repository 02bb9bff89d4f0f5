"""Driver visit-order contract: the explicit MANIFEST in registry.py.

The external correctness driver truncates at 50 queries per round
(observed rounds 1-5 — documented in BASELINE.md), so the first 50
manifest slots are the only hard-signal slots. Round-12 rotation
(tools/rotation.py freshness order): tier 1 = the round-12 additions
(never driver-verified — j16: mid-stream dim refresh under the real
runtime; app7x: crash restart over the ST5 applyInPandasWithState
keyed state; k2b: multi-day partition pruning on the serving store);
tier 2 = the stalest greens — the 31-query r7 cohort, then the oldest
r8 rows up to the cap. Slots below the cap all carry r8-r11 green
signal and rotate back by freshness later.

Tier tuples are spelled out literally (not derived from MANIFEST) ON
PURPOSE: the test exists to catch an accidental manifest edit, so the
expected order must be stated independently.

JVM-free: the registry and every operator module import without a
SparkSession.
"""

from __future__ import annotations

from real_time_data_warehouse_spark.registry import (
    MANIFEST,
    QUERY_REGISTRY,
    ordered_registry,
    oracle_map,
    query_map,
)

DRIVER_CAP = 50

# Never driver-verified (the round-12 additions): lead the manifest
# unconditionally.
TIER1 = (
    "j16_dim_refresh_stream_readback",
    "j16b_dim_delete_stream_readback",
    "app7x_user_login_crash_restart",
    "k2b_serving_rollover_readback",
)
# Stalest hard signal: must sit inside the cap so their signal
# refreshes this round.
TIER2 = (
    "a11_percentiles",
    "w8_sliding_window",
    "w8b_session_window",
    "w9_over_analytics",
    "st1_dedup_last_wins",
    "st3_visitor_state_fix",
    "st4_first_per_day_uv",
    "st5_returning_user",
    "st6_session_count",
    "x1_log_split",
    "x1b_explode_children",
    "x3_set_ops",
    "s4_cluster_stats",
    "s2b_lsh_multiband_topk",
    "d7_dedup_gate",
    "s3_ivf_ann_topk",
    "d1_exact_dedup",
    "d2_ngram_jaccard_pairs",
    "d2b_jaccard_capped",
    "d3_minhash_lsh_pairs",
    "d4_simhash",
    "d6_dedup_clusters",
    "d8_decontamination",
    "s1_cosine_topk",
    "j10_asof_join",
    "st8_scd2_intervals",
    "c7_quota_sample",
    "s5_pq_adc_topk",
    "st8s_scd2_replay",
    "st9_retract_changelog",
    "c8_leakage_safe_split",
    "st15_returning_user_stream_readback",
    "st16_daily_uv_stream_readback",
    "st17_visitor_fix_stream_readback",
    "j13_interval_join_stream_readback",
    "j14_left_outer_stream_readback",
    "k5_config_ddl_readback",
    "k6_jdbc_dim_roundtrip",
    "st18_dws_update_upsert_readback",
    "d12_shingle_containment",
    "s6_bm25_topk",
    "s7_hybrid_rerank",
    "t7_ngram_stats",
    "t8_pmi_bigrams",
    "c9_doc_chunks",
    "c3s_packing_replay",
)


def test_manifest_matches_registrations():
    ordered = ordered_registry()  # raises on drift
    assert list(ordered) == list(MANIFEST)
    assert set(ordered) == set(QUERY_REGISTRY)


def test_manifest_has_no_duplicates():
    assert len(MANIFEST) == len(set(MANIFEST))


def test_changed_queries_lead():
    assert MANIFEST[: len(TIER1)] == TIER1


def test_stale_signal_queries_inside_driver_cap():
    first = set(MANIFEST[:DRIVER_CAP])
    for name in TIER1 + TIER2:
        assert name in first, f"{name}'s hard signal is 2+ rounds old"


def test_query_and_oracle_maps_follow_manifest():
    assert list(query_map()) == list(MANIFEST)
    oracles = oracle_map()
    assert list(oracles) == [n for n in MANIFEST if n in oracles]


# Replay rows answer to their one-pass batch twin's oracle, verbatim.
REPLAY_TWINS = {
    "d7s_dedup_gate_replay": "d7_dedup_gate",
    "d9s_semantic_gate_replay": "d9_semantic_gate",
    "st8s_scd2_replay": "st8_scd2_intervals",
    "a13s_heavy_hitters_replay": "a13_heavy_hitters",
    "st13s_session_replay": "st13_sessionization",
    "a1s_windowed_sum_replay": "a1_windowed_sum",
    "j4s_interval_join_replay": "j4_interval_join",
    "a5s_windowed_uu_replay": "a5_windowed_uu",
    "st3s_visitor_fix_replay": "st3_visitor_state_fix",
    "st5s_returning_user_replay": "st5_returning_user",
    "c10s_profile_replay": "c10_corpus_profile",
    "st1s_dedup_last_wins_replay": "st1_dedup_last_wins",
    "st4s_daily_uv_replay": "st4_first_per_day_uv",
    "st6s_session_count_replay": "st6_session_count",
    "z3s_compaction_replay": "z3_compaction_plan",
    "s15s_ivf_ingest_replay": "s15_ivf_sq8_topk",
    "g1s_pagerank_replay": "g1_pagerank",
}


def test_replay_rows_carry_batch_twin_oracle():
    registry = ordered_registry()
    for replay, twin in REPLAY_TWINS.items():
        assert registry[twin].oracle is not None, twin
        assert registry[replay].oracle == registry[twin].oracle, replay
