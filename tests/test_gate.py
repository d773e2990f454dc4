"""The driver-facing gate set: ≤50 entries, subset of the registry,
never-hashed entries first, every registry entry either in the gate or
explicitly proxied by a gate entry (or rotated out after going
driver-green, with the pytest oracle gate still covering it)."""

from __future__ import annotations

from ue_big_data_project_spark.queries import (
    GATE_CAP,
    GATE_ORDER,
    all_queries,
    gate_queries,
)

# Registry entries intentionally NOT in the gate, each with the gate
# entry that exercises the same operator (see queries/__init__.py).
# Round 8 remapped every proxy whose former target left the gate in the
# one-time rotation (round-7 verdict task 1) to that family's in-gate
# anchor, and DELETED the 13 round-7-new entries from this map — they
# are IN the gate now, facing the driver's hash directly.
PROXIED = {
    "q6_forecast_revenue": "scan_filter_agg_kit",
    "q14_promo_revenue": "scan_filter_agg_kit",
    "q19_or_predicates": "scan_filter_agg_kit",
    # The semi/anti kit rotated out (driver-green r2-r7); the in-gate
    # anchor for join-that-prunes-its-probe is the bloom-pruned join.
    "semi_join_late_orders": "bloom_pruned_join",
    "anti_join_small_customers": "bloom_pruned_join",
    "events_tumbling_window": "streaming_tumbling_window",
    "events_sessionize": "streaming_sessionize",
    # Candidate-pair dedup family anchor after dedup_ngram_jaccard
    # rotated out: the PPJoin-pairs + CC pipeline.
    "dedup_simhash": "dedup_clusters",
    # Windowed-rollup family anchor after streaming_incremental_rollup
    # rotated out in round 10: the tumbling-window streaming drain.
    "events_hourly_by_type": "streaming_tumbling_window",
    "cheapest_supplier_per_part": "window_rank_kit",
    "q12_priority_by_status": "scan_filter_agg_kit",
    # As-of family anchor after asof_first_ship rotated out: the
    # streaming as-of twin runs the same operator contract.
    "asof_bucketed_prev_click": "streaming_asof_join",
    # (The 18-entry round-10-new pool that was proxied here post-
    # re-freeze rotated INTO the gate in round 11, and the 11-entry
    # round-11-new pool — the audio fp pair, video near-dup, the
    # persisted media fp band index family, the winnow streaming
    # drain, image clustering, and the BPE pair — rotated INTO the
    # gate in round 12; both pools face the driver's hash directly,
    # per the round-10/round-11 verdicts' task 1.)
    # (The 14-entry round-12-new pool that was proxied here post-
    # re-freeze — the dHash video near-dup, media prune, the video
    # signature index pair, the BM25 lifecycle closers, IVF retention,
    # the NB classifier pair, the constraint suite pair, and the
    # sliding-window twins — rotated INTO the gate in round 13 and
    # faces the driver's hash directly, per the round-12 verdict's
    # task 2.)
}

# Rotated OUT of the gate in round 3 after two driver-green rounds
# (CORRECTNESS_r01 + r02); each names the gate entry covering the same
# operator family. All stay in all_queries() and the always-full pytest
# oracle gate (tests/test_oracle.py).
ROTATED_OUT = {
    "q15_top_supplier": "q2_min_cost_supplier",  # scalar-subquery threshold + join-agg
    "q21_waiting_suppliers": "bloom_pruned_join",  # exists/not-exists
    "q7_volume_shipping": "join_auto_strategy",  # multi-join agg
    "q17_small_quantity_revenue": "q2_min_cost_supplier",  # per-key agg subquery
    "q22_idle_rich_customers": "bloom_pruned_join",  # anti-join + scalar avg
    "outer_join_customer_orders": "join_auto_strategy",  # left-outer
    "moving_avg_order_price": "pipeline_pack_bpe",  # running window agg (ewma rotated out r12; the packer is the in-gate running-accumulation shape)
    "q16_supplier_variety": "bloom_pruned_join",  # not-in + distinct count
    "events_set_ops": "scan_filter_agg_kit",  # union/intersect/except counts
    "events_percentiles": "sketch_qhist_prices",  # grouped distribution agg
    "events_funnel": "scan_filter_agg_kit",  # conditional step agg
    "events_dedup_first": "streaming_cdc_merge_bucketed",  # keyed-version CDC family (scd2 rotated out r12)
    "events_props_json": "ref_q1_plane_bus_wait",  # parse/scalar family
    "text_scrub": "text_repetition",  # regexp scalar family
    "text_stats": "text_repetition",  # per-doc text metrics
    # Retired mid-round-3 to hand slots to knn_cosine_pq /
    # pipeline_chunk_documents (both r1+r2 driver-green):
    "haversine_knn": "knn_cosine_ivf_probe",  # distance top-k family
    "scalar_kit": "ref_q1_plane_bus_wait",  # X3-X10 scalar family
    # Rotated out in round 4 (driver-green r1-r3) for the last 7
    # never-hashed entries; all still pytest-oracle-gated:
    "dedup_exact": "dedup_clusters",  # exact-fingerprint dedup
    "pipeline_split": "pipeline_temperature_mix",  # deterministic-hash draw family (weighted_sample rotated out r12)
    "pipeline_corpus_stats": "pipeline_quantile_trim",  # one-pass stats family (profile rotated out r9)
    "events_rollup": "streaming_tumbling_window",  # rollup family
    "q1_pricing_summary": "scan_filter_agg_kit",  # grouped multi-agg
    "theta_join_next_error": "streaming_asof_join",  # non-equi join (interval entry rotated out r9)
    "knn_cosine_ivf": "knn_cosine_ivf_probe",  # IVF (probe twin)
    # Rotated out mid-round-4 (driver-green r1-r3) to hand slots to the
    # real-codec multimodal_bmp / multimodal_video_frames:
    "q3_shipping_priority": "join_auto_strategy",  # join+agg+top-k limit
    "q5_region_revenue": "join_auto_strategy",  # multi-join region agg
    "pipeline_prep_documents": "text_repetition",  # native text filter+metrics
    "salted_hot_key_agg": "scan_filter_agg_kit",  # grouped multi-agg family
    # Rotated out mid-round-4 (driver-green r2+r3) to hand slots to
    # TPC-H q2/q4 and the first gating of pipeline_scrub_boilerplate:
    "multimodal_features": "multimodal_jpeg",  # real-codec features twin (wav rotated out r9)
    "multimodal_frames": "multimodal_video_thumbs",  # real-codec frames twin (BMPV entry rotated out r9; mp4_frames rotated out r12)
    "knn_cosine_brute": "knn_cosine_ivf_probe",  # cosine top-k family
    "q9_product_profit": "join_auto_strategy",  # multi-join grouped agg
    "interval_overlap_join": "streaming_asof_join",  # interval-predicate join (interval entry rotated out r9)
    "q20_dominant_part_suppliers": "q2_min_cost_supplier",  # correlated agg threshold
    # Rotated out in round 5 (driver-green >= 2 rounds each) to hand
    # slots to the 13 never-hashed round-4 entries; all still
    # pytest-oracle-gated:
    "knn_cosine_pq": "knn_cosine_ivf_probe",  # quantizer-train + code-scored knn
    "pipeline_chunk_documents": "text_repetition",  # per-doc text transform (scrub rotated out r9)
    "q11_important_parts": "q2_min_cost_supplier",  # scalar threshold + join-agg
    "pipeline_contamination": "dedup_clusters",  # n-gram overlap family
    "pipeline_upsert_corpus": "streaming_cdc_merge_bucketed",  # keyed latest-version upsert (scd2 rotated out r12)
    "pipeline_source_quota": "pipeline_temperature_mix",  # deterministic-hash draw (weighted_sample rotated out r12)
    "ref_q2_affluence": "ref_q1_plane_bus_wait",  # reference scalar/agg family
    "ref_q3_bus_positions": "ref_q1_plane_bus_wait",  # reference array-walk family
    "ref_q4_bike_occupancy": "ref_q1_plane_bus_wait",  # reference agg+sort family
    "ref_wind_rolling_avg": "streaming_tumbling_window",  # windowed agg + keyed dedup
    "dedup_minhash_lsh": "dedup_clusters",  # banded candidate-pair family
    "dedup_simhash_pairs": "dedup_clusters",  # signature candidate-pair family
    "dedup_embedding_cosine": "dedup_clusters",  # cosine-similarity family
    # Rotated out mid-round-5 (driver-green r4) to hand slots to the 5
    # round-5-new entries so the whole registry is driver-hashed:
    "text_langid": "text_repetition",  # standalone twin of the kit column
    "text_tokens": "text_repetition",  # standalone twin of the kit column
    "text_fingerprint": "text_repetition",  # standalone twin of the kit column
    "events_pivot": "sketch_hll_cube",  # grouping-sets/pivot Expand family (events_cube rotated out r12; the HLL cube runs the same CUBE shape)
    "q4_order_priority": "bloom_pruned_join",  # semi-join + grouped count
    # Rotated out in ROUND 8 (each >= 4 consecutive driver-green rounds,
    # r1-r7) in the one-time rotation that put the 13 round-7-new
    # entries in front of the driver's hash (round-7 verdict task 1).
    # All stay full-registry pytest-oracle-gated:
    "q8_market_share": "join_auto_strategy",  # multi-join grouped agg
    "q10_returned_revenue": "join_auto_strategy",  # join + grouped agg + top-k
    "q13_order_count_distribution": "join_auto_strategy",  # outer join + distribution
    "q18_large_orders": "q2_min_cost_supplier",  # per-key agg threshold + join
    "semi_anti_join_kit": "bloom_pruned_join",  # probe-pruning join family
    "text_nlp_kit": "text_repetition",  # per-doc native text metrics
    "knn_cosine_lsh": "knn_cosine_ivf_probe",  # bucketed ANN family
    "dedup_ngram_jaccard": "dedup_clusters",  # candidate-pair dedup family
    "dedup_incremental": "streaming_dedup_clusters",  # ledgered incremental ingest
    "asof_first_ship": "streaming_asof_join",  # as-of join operator
    "window_top1_per_order": "window_rank_kit",  # rank-window family
    "pipeline_pack_sequences": "pipeline_pack_bpe",  # running-window accumulation (the BPE packer IS pack_sequences + subword budget)
    "pipeline_stratified_sample": "pipeline_temperature_mix",  # hash-draw sampling (weighted_sample rotated out r12)
    # Rotated out in ROUND 9 (each >= 5 consecutive driver-green rounds)
    # in the rotation that put the 7 round-8-new entries in front of the
    # driver's hash (round-8 verdict task 1). All stay full-registry
    # pytest-oracle-gated:
    "multimodal_wav": "multimodal_jpeg",  # real-codec decode family
    "multimodal_bmp": "multimodal_jpeg",  # real-codec decode family (png twin rotated out r12)
    "multimodal_video_frames": "multimodal_video_thumbs",  # frame-stream demux family (mp4_frames rotated out r12)
    "pipeline_profile": "pipeline_quantile_trim",  # one-pass column stats family
    "events_resample": "pipeline_pack_bpe",  # time-bucket resample/running family (ewma rotated out r12)
    "pipeline_scrub_boilerplate": "text_repetition",  # per-doc text transform family
    "streaming_interval_join": "streaming_asof_join",  # watermarked stream-stream join
    # Rotated out in ROUND 10 (streaming_incremental_rollup ≥7
    # consecutive driver-green rounds r3–r9; the other two r4–r9) in the
    # rotation that put the 3 round-9-new incremental-dedup entries in
    # front of the driver's hash (round-9 verdict task 1). All stay
    # full-registry pytest-oracle-gated:
    "streaming_incremental_rollup": "streaming_tumbling_window",  # windowed rollup family
    "knn_cosine_ivf_indexed": "knn_cosine_ivf_probe",  # IVF build (probe twin in gate)
    "sql_text_nation_revenue": "scan_filter_agg_kit",  # grouped-agg family (spark.sql entry)
    # Rotated out in ROUND 11 (the r7 cohort ≥4 consecutive driver-green
    # rounds r7–r10, the r8 sketch cohort r8–r10, the keyframe twin
    # r9–r10) in the rotation that put the 18-entry never-hashed
    # round-10 pool in front of the driver's hash (round-10 verdict
    # task 1). All stay full-registry pytest-oracle-gated:
    "text_bm25_search": "text_bm25_appended",  # BM25 inverted-index family
    "text_bm25_indexed": "text_bm25_appended",  # persisted BM25 index build
    "text_bm25_probe": "text_bm25_appended",  # pruned postings probe (appended probes too)
    "text_hybrid_search": "text_bm25_appended",  # BM25 + cosine rerank composite
    "text_surprisal": "text_repetition",  # per-doc text metric family
    "text_source_kl": "text_repetition",  # per-doc/source text metric family
    "text_heavy_hitters": "streaming_cms_tokens",  # CMS-dispatch heavy hitters
    "events_props_variant": "ref_q1_plane_bus_wait",  # parse/scalar family (from_json twin)
    "graph_pagerank_nations": "dedup_clusters",  # iterative graph family (triangles rotated out r12; distributed CC is the in-gate iterative-graph anchor)
    "knn_cosine_ivf_appended": "knn_cosine_ivf_probe",  # IVF append composite (probe in gate)
    "sketch_hll_parts_per_flag": "sketch_hll_cube",  # grouped HLL family
    "sketch_kmv_custkeys": "sketch_hll_cube",  # distinct-count sketch family
    "sketch_kmv_overlap": "sketch_hll_cube",  # mergeable distinct-sketch family
    "sketch_cms_tokens": "streaming_cms_tokens",  # CMS batch twin of the in-gate drain
    "sketch_hll_merged_modes": "sketch_hll_cube",  # sketch-merge family
    "sketch_qhist_token_mass": "sketch_qhist_prices",  # quantile-histogram family
    "streaming_hll_distinct": "streaming_cms_tokens",  # streaming sketch-rollup drain
    "multimodal_mp4_keyframes": "multimodal_video_thumbs",  # ISO-BMFF demux family (stss path pytest-pinned; mp4_frames rotated out r12)
    # Rotated out in ROUND 12 (the CDC trio and the sketch planner >= 3
    # consecutive driver-green rounds r9-r11, the jaccard incremental
    # r10-r11, the rest r7/r8-r11) in the rotation that put the
    # 11-entry never-hashed round-11 pool in front of the driver's hash
    # (round-11 verdict task 1). All stay full-registry
    # pytest-oracle-gated:
    "cdc_merge_into": "streaming_cdc_merge_bucketed",  # MERGE INTO contract (bucketed streaming twin runs the same merge semantics)
    "streaming_cdc_merge": "streaming_cdc_merge_bucketed",  # streaming MERGE drain (bucketed twin in gate)
    "cdc_scd2_history": "streaming_cdc_merge_bucketed",  # keyed-version CDC family
    "sketch_join_size": "join_auto_strategy",  # sketch-driven size estimate (the in-gate planner consumes the same CMS/KMV estimates)
    "dedup_jaccard_incremental": "dedup_image_fp_incremental",  # persisted-band-index O(increment) append family (winnow incremental rotated out r13; the media fp append runs the same index-probe + batch-partition contract)
    "multimodal_png": "multimodal_jpeg",  # real-codec decode family
    "graph_triangle_parts": "dedup_clusters",  # iterative graph family (distributed CC in gate)
    "multimodal_mp4_frames": "multimodal_video_thumbs",  # MP4 demux+decode family (thumbs = demux o decode o resize superset)
    "events_ewma": "pipeline_pack_bpe",  # running-window accumulation family
    "pipeline_weighted_sample": "pipeline_temperature_mix",  # deterministic md5-draw sampling family
    "events_cube": "sketch_hll_cube",  # CUBE grouping-sets Expand family
    # Rotated out in ROUND 13 (all driver-green r11–r12) in the
    # rotation that put the 14-entry never-hashed round-12 pool in
    # front of the driver's hash (round-12 verdict task 2). All stay
    # full-registry pytest-oracle-gated:
    "dedup_clusters_pruned": "dedup_clusters",  # pruned variant of the in-gate CC closer
    "dedup_span_ngrams": "dedup_jaccard_pruned",  # n-gram candidate-pair family (PPJoin twin in gate)
    "pipeline_training_shards": "pipeline_pack_bpe",  # sequence-packing shard family (BPE-budgeted packer in gate)
    "text_winnow": "streaming_winnow_index",  # winnow fingerprint family (streamed index drain in gate)
    "dedup_winnow_pairs": "streaming_winnow_index",  # winnow pair screen (same fingerprint + probe machinery)
    "dedup_winnow_incremental": "streaming_winnow_index",  # persisted winnow index append (drain in gate)
    "pipeline_dsir_sample": "pipeline_temperature_mix",  # deterministic md5-draw against per-doc threshold
    "pipeline_dsir_incremental": "text_classify_nb_incremental",  # frozen persisted model + O(increment) token-feature scoring
    "streaming_dsir_scores": "streaming_fp_index",  # per-batch crash-safe drain shape (scoring via the NB increment anchor)
    "pipeline_leakage_split": "dedup_clusters",  # CC-grouped split (the in-gate closer IS its grouping stage)
    "multimodal_resize": "multimodal_video_thumbs",  # raster resize (thumbs = demux∘decode∘RESIZE superset)
    "multimodal_wav_resample": "multimodal_audio_fp",  # audio decode family over wav payloads
    "dedup_image_dhash": "dedup_image_clusters",  # image dHash (clusters = dHash → band-pair → CC superset)
    "dedup_image_neardup": "dedup_image_clusters",  # banded Hamming pair screen (clusters consumes it)
}


def test_gate_within_driver_cap():
    assert len(GATE_ORDER) <= GATE_CAP
    assert len(set(GATE_ORDER)) == len(GATE_ORDER)


def test_gate_is_frozen_at_round13_set():
    """The gate froze at the round-5 set for rounds 6–7; rounds 8–13
    each ran a verdict-mandated rotation (r8: 13 round-7-new in, 13/13
    green; r9: 7 round-8-new in, 7/7 green; r10: 3 round-9-new in, 3/3
    green; r11: the full 18-entry never-hashed round-10 pool in, 18/18
    green; r12: the 11-entry never-hashed round-11 pool in, 11/11
    green; r13: the 14-entry never-hashed round-12 pool in, 14
    driver-green r11–r12 entries out) and RE-FROZE after each.
    Editing GATE_ORDER again is a deliberate act that requires updating
    this pin (and accepting a delta-baseline reset)."""
    import hashlib

    frozen = hashlib.sha256("\n".join(GATE_ORDER).encode()).hexdigest()
    assert len(GATE_ORDER) == 50
    assert frozen == (
        "e4d0611327f07415702dcfa1a14e40ab2ada877a59397e9b51f9385aea7164a3"
    ), "GATE_ORDER changed — the gate re-froze at the round-13 set"


def test_gate_is_registry_subset():
    registry = all_queries()
    missing = [n for n in GATE_ORDER if n not in registry]
    assert not missing, f"gate names not in registry: {missing}"


def test_every_registry_entry_gated_or_proxied():
    gate = set(GATE_ORDER)
    assert not (set(PROXIED) & set(ROTATED_OUT))
    for name in all_queries():
        if name in gate:
            continue
        proxy = PROXIED.get(name) or ROTATED_OUT.get(name)
        assert proxy is not None, f"{name} neither in gate nor proxied"
        assert proxy in gate, f"{name}'s proxy {proxy} not in gate"


def test_gate_entries_all_have_oracles():
    # Every gate entry is fully hash-checked — none falls back to the
    # weaker rows-only check.
    for name, spec in gate_queries().items():
        assert spec.oracle, f"{name} has no DuckDB oracle"


def test_unhashed_entries_run_first():
    # CORRECTNESS_r01-r12 covered the rest of the registry; the 14
    # round-12-new entries the driver has never hashed (the round-13
    # rotation pool the round-12 verdict named in task 2) must lead the
    # gate. Once these hash green, every registry entry is cumulatively
    # driver-verified again.
    never_hashed = GATE_ORDER[:14]
    assert set(never_hashed) == {
        "dedup_video_neardup_dhash",
        "pipeline_media_prune",
        "dedup_video_fp_incremental",
        "streaming_video_sig_index",
        "text_bm25_pruned",
        "text_bm25_capped",
        "streaming_bm25_index",
        "knn_cosine_ivf_pruned",
        "text_classify_nb",
        "text_classify_nb_incremental",
        "pipeline_expectations",
        "events_sliding_window",
        "streaming_sliding_window",
        "streaming_expectations",
    }

