"""Central query registry: name -> (spark callable, DuckDB oracle SQL).

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract) and the pytest differential harness. Oracle of None
means the op is not SQL-expressible (driver records a rows-only check).

RETIRED registry rows (round 7, VERDICT r6 #4): ``pr3_approx_profile``
and ``pr6_approx_percentiles`` — the last two rows-only entries. Both
operators REMAIN in the codebase (plans/analytics.py:pr3_approx_profile,
plans/llmdata.py:pr6_approx_percentiles, exercised by tests/test_plans.py)
as the documented APPROXIMATE forms a 100 TB profiling pass would use
when estimator error is acceptable; their engine-portable EXACT twins
are the graded rows: pr8 (HLL-shaped cardinality), pr9 (sampled
quantiles), pr10 (Bloom membership), pr11 (Count-Min frequency), pr12
(CM-backed heavy hitters). Spark's native approx sketches
(approx_count_distinct's HLL++, approx_percentile's KLL) have no
DuckDB-reproducible state, so a registry row for them can never be
hash-graded — keeping them as registry entries would grandfather a
permanent "no_oracle" hole in the "every entry graded" contract.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from migrator_spark.plans import analytics, cdc, llmdata, tpch

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None
    note: str = ""


# Ordering policy (since round 4, per ADVICE r3 #1): the driver grades a
# bounded 50-entry prefix in insertion order. The window is a strict
# STALEST-FIRST ROUND-ROBIN — every entry rotates back through the
# window as its newest driver-green row ages, so no query's driver
# validation can go permanently stale after a read-path or loader
# change.
#
# Since round 5 the dict below keeps its LOGICAL (round-4) grouping and
# the graded window is composed explicitly by ``_GRADED_WINDOW`` after
# the literal — rotating the window is a one-list edit, not a full-dict
# shuffle. bench.py resolves HEADLINE queries by name, so reorders
# are bench-neutral.
REGISTRY: dict[str, QuerySpec] = {
    # ======== graded prefix (round 4): stalest-first round-robin ========
    # never-driver-graded sketch + the r1 rows-only sketch: every entry
    # that existed when this window was composed (123 at the time) gets
    # a driver row of some kind after round 4 (VERDICT r3 #2); the ops
    # added later this round sit at the tail awaiting round 5's window
    # (pr3/pr6 retired round 7 — see module docstring)
    # --- NEW round 4 (never graded): near-dup cluster curation,
    # query-by-document similarity search, duplicated-span detection,
    # epoch-capped mixture, sessionization, exact-integer outlier
    # audit, SCD2 history, and product quantization (encode + ADC) ---
    "cur3_neardup_mix": QuerySpec(llmdata.cur3_neardup_mix, llmdata.CUR3_ORACLE),
    "ta9_similar_docs": QuerySpec(llmdata.ta9_similar_docs, llmdata.TA9_ORACLE),
    "dd10_dup_spans": QuerySpec(llmdata.dd10_dup_spans, llmdata.DD10_ORACLE),
    "mx2_epoch_plan": QuerySpec(llmdata.mx2_epoch_plan, llmdata.MX2_ORACLE),
    "ev7_sessionize": QuerySpec(analytics.ev7_sessionize, analytics.EV7_ORACLE),
    "dq2_spend_outliers": QuerySpec(
        analytics.dq2_spend_outliers, analytics.DQ2_ORACLE
    ),
    "fo2_scd2_history": QuerySpec(analytics.fo2_scd2_history, analytics.FO2_ORACLE),
    "sim7_pq_encode": QuerySpec(llmdata.sim7_pq_encode, llmdata.SIM7_ORACLE),
    "sim8_pq_adc_topk": QuerySpec(llmdata.sim8_pq_adc_topk, llmdata.SIM8_ORACLE),
    "dd11_despan": QuerySpec(llmdata.dd11_despan, llmdata.DD11_ORACLE),
    "ta10_gopher_gate": QuerySpec(llmdata.ta10_gopher_gate, llmdata.TA10_ORACLE),
    "mm5_payload_dedup": QuerySpec(llmdata.mm5_payload_dedup, llmdata.MM5_ORACLE),
    # --- r1-only family: last green before the round-3 read-path
    # change (tables.py NTZ conf); re-validated under it here ---
    "q2w_top_supplier_per_nation": QuerySpec(
        analytics.q2w_top_supplier_per_nation, analytics.Q2W_ORACLE
    ),
    "q2_min_cost_supplier": QuerySpec(
        analytics.q2_min_cost_supplier, analytics.Q2_ORACLE
    ),
    "q16_supplier_part_counts": QuerySpec(
        analytics.q16_supplier_part_counts, analytics.Q16_ORACLE
    ),
    "q11_important_parts": QuerySpec(analytics.q11_important_parts, analytics.Q11_ORACLE),
    "q22_global_sales_opportunity": QuerySpec(
        analytics.q22_global_sales_opportunity, analytics.Q22_ORACLE
    ),
    "p6_composite_lookup": QuerySpec(cdc.p6_composite_lookup, cdc.P6_ORACLE),
    "p8_full_row_delete_match": QuerySpec(
        cdc.p8_full_row_delete_match, cdc.P8_ORACLE
    ),
    "p7_tracking_lookup": QuerySpec(cdc.p7_tracking_lookup, cdc.P7_ORACLE),
    "a1_max_offset": QuerySpec(cdc.a1_max_offset, cdc.A1_ORACLE),
    # --- r2-green entries most sensitive to the round-3/4 loader and
    # merge-sink changes (VERDICT r3 #8) ---
    "l0_apply_cdc_batch": QuerySpec(cdc.l0_apply_cdc_batch, cdc.L0_ORACLE),
    "l2_upsert_lastwins": QuerySpec(cdc.l2_upsert_lastwins, cdc.L2_ORACLE),
    "l3_remove_antijoin": QuerySpec(cdc.l3_remove_antijoin, cdc.L3_ORACLE),
    "w1_latest_by_key": QuerySpec(cdc.w1_latest_by_key, cdc.W1_ORACLE),
    "st4_stream_dedup": QuerySpec(cdc.st4_stream_dedup, cdc.ST4_ORACLE),
    "st5_interval_join": QuerySpec(cdc.st5_interval_join, cdc.ST5_ORACLE),
    "dd2_minhash_lsh_pairs": QuerySpec(llmdata.dd2_minhash_lsh_pairs, llmdata.DD2_ORACLE),
    # --- r3-green entries whose plans changed THIS round (cur2 sort
    # drop; l4 shares merge_pruned with the composite-key work) ---
    "cur2_training_mix": QuerySpec(llmdata.cur2_training_mix, llmdata.CUR2_ORACLE),
    "l4_pruned_merge": QuerySpec(cdc.l4_pruned_merge, cdc.L4_ORACLE),
    # --- rest of the r2-green family in original order; dd9/sim2/dd7
    # also changed this round (checkpointed shared subtrees) ---
    "a2_ts_offset": QuerySpec(cdc.a2_ts_offset, cdc.A2_ORACLE),
    "a3_coalesce_offset": QuerySpec(cdc.a3_coalesce_offset, cdc.A3_ORACLE),
    "a5_group_by_method": QuerySpec(cdc.a5_group_by_method, cdc.A5_ORACLE),
    "s1_queue_topk": QuerySpec(cdc.s1_queue_topk, cdc.S1_ORACLE),
    "f1_scalar_suite": QuerySpec(cdc.f1_scalar_suite, cdc.F1_ORACLE),
    "f2_json_props": QuerySpec(analytics.f2_json_props, analytics.F2_ORACLE),
    "f3_date_parts": QuerySpec(analytics.f3_date_parts, analytics.F3_ORACLE),
    "t2_rename_routing": QuerySpec(cdc.t2_rename_routing, cdc.T2_ORACLE),
    "st1_windowed_counts": QuerySpec(cdc.st1_windowed_counts, cdc.ST1_ORACLE),
    "st2_session_windows": QuerySpec(cdc.st2_session_windows, cdc.ST2_ORACLE),
    "st3_stateful_first_seen": QuerySpec(cdc.st3_stateful_first_seen, cdc.ST3_ORACLE),
    "dd1_exact_dedup": QuerySpec(llmdata.dd1_exact_dedup, llmdata.DD1_ORACLE),
    "dd3_simhash": QuerySpec(llmdata.dd3_simhash, llmdata.DD3_ORACLE),
    "dd4_ngram_jaccard_pairs": QuerySpec(llmdata.dd4_ngram_jaccard_pairs, llmdata.DD4_ORACLE),
    "dd5_embedding_neardup": QuerySpec(llmdata.dd5_embedding_neardup, llmdata.DD5_ORACLE),
    "dd7_simhash_pairs": QuerySpec(llmdata.dd7_simhash_pairs, llmdata.DD7_ORACLE),
    "dd9_chunk_boilerplate": QuerySpec(
        llmdata.dd9_chunk_boilerplate, llmdata.DD9_ORACLE
    ),
    "sim2_ivf_topk": QuerySpec(llmdata.sim2_ivf_topk, llmdata.SIM2_ORACLE),
    # ============ past the 50-entry cut ============
    # sm4 and the seven late-round-4 ops below landed after the round-4
    # window settled; they head the round-5 never-graded queue alongside
    # the displaced r2 entries below
    "sm4_three_way_split": QuerySpec(
        llmdata.sm4_three_way_split, llmdata.SM4_ORACLE
    ),
    "pk1_sequence_packing": QuerySpec(
        llmdata.pk1_sequence_packing, llmdata.PK1_ORACLE
    ),
    "pk2_incremental_packing": QuerySpec(
        llmdata.pk2_incremental_packing, llmdata.PK2_ORACLE
    ),
    "cur4_pack_curated": QuerySpec(llmdata.cur4_pack_curated, llmdata.CUR4_ORACLE),
    "sim9_recall_eval": QuerySpec(llmdata.sim9_recall_eval, llmdata.SIM9_ORACLE),
    "fo3_asof_snapshot": QuerySpec(analytics.fo3_asof_snapshot, analytics.FO3_ORACLE),
    "ev8_transition_matrix": QuerySpec(
        analytics.ev8_transition_matrix, analytics.EV8_ORACLE
    ),
    "dq3_replica_checksum": QuerySpec(
        analytics.dq3_replica_checksum, analytics.DQ3_ORACLE
    ),
    "dd6_dup_clusters": QuerySpec(llmdata.dd6_dup_clusters, llmdata.DD6_ORACLE),
    "dd8_incremental_lsh": QuerySpec(llmdata.dd8_incremental_lsh, llmdata.DD8_ORACLE),
    "sim1_cosine_topk": QuerySpec(llmdata.sim1_cosine_topk, llmdata.SIM1_ORACLE),
    "sim5_ivf_build": QuerySpec(llmdata.sim5_ivf_build, llmdata.SIM5_ORACLE),
    "sim3_pairwise_topk": QuerySpec(llmdata.sim3_pairwise_topk, llmdata.SIM3_ORACLE),
    # r2-green leftovers — first in line for the round-5 window (sim5,
    # sim4, ta1, w2/w3 and the f4/f5/f6 suites were displaced from the
    # prefix by the nine never-graded round-4 ops; all are read-path
    # queries untouched by this round's loader/plan changes and stay
    # pytest-checked)
    "w2_window_suite": QuerySpec(analytics.w2_window_suite, analytics.W2_ORACLE),
    "w3_rolling_frames": QuerySpec(analytics.w3_rolling_frames, analytics.W3_ORACLE),
    "f4_string_suite": QuerySpec(analytics.f4_string_suite, analytics.F4_ORACLE),
    "f5_array_suite": QuerySpec(analytics.f5_array_suite, analytics.F5_ORACLE),
    "f6_regex_suite": QuerySpec(analytics.f6_regex_suite, analytics.F6_ORACLE),
    "sim4_incremental_topk": QuerySpec(
        llmdata.sim4_incremental_topk, llmdata.SIM4_ORACLE
    ),
    "ta1_token_stats": QuerySpec(llmdata.ta1_token_stats, llmdata.TA1_ORACLE),
    "ta2_quality_score": QuerySpec(llmdata.ta2_quality_score, llmdata.TA2_ORACLE),
    "ta3_lang_guess": QuerySpec(llmdata.ta3_lang_guess, llmdata.TA3_ORACLE),
    "ta4_fingerprint": QuerySpec(llmdata.ta4_fingerprint, llmdata.TA4_ORACLE),
    "ta5_repetition": QuerySpec(llmdata.ta5_repetition, llmdata.TA5_ORACLE),
    "ta6_pii_scrub": QuerySpec(llmdata.ta6_pii_scrub, llmdata.TA6_ORACLE),
    "pr2_length_percentiles": QuerySpec(
        llmdata.pr2_length_percentiles, llmdata.PR2_ORACLE
    ),
    "fts1_keyword_search": QuerySpec(
        llmdata.fts1_keyword_search, llmdata.FTS1_ORACLE
    ),
    "dq1_constraint_audit": QuerySpec(
        analytics.dq1_constraint_audit, analytics.DQ1_ORACLE
    ),
    "sm1_hash_sample": QuerySpec(llmdata.sm1_hash_sample, llmdata.SM1_ORACLE),
    "sm2_stratified_sample": QuerySpec(
        llmdata.sm2_stratified_sample, llmdata.SM2_ORACLE
    ),
    "sm3_weighted_sample": QuerySpec(
        llmdata.sm3_weighted_sample, llmdata.SM3_ORACLE
    ),
    "cur1_curation_pipeline": QuerySpec(
        llmdata.cur1_curation_pipeline, llmdata.CUR1_ORACLE
    ),
    "mm1_decode_metadata": QuerySpec(llmdata.mm1_decode_metadata, llmdata.MM1_ORACLE),
    # r3-green family (newest driver rows) — rotates back through the
    # window in rounds 5-6 as it ages
    "mm2_frame_sample": QuerySpec(
        llmdata.mm2_frame_sample,
        llmdata.MM2_ORACLE,
        note="frame-sampling SEMANTICS on synthesized frame indexes; "
        "mm10_mjpeg_frames carries the real-container evidence "
        "(genuine AVI demux + JPEG decode) for the same operation",
    ),
    "mm3_resize_plan": QuerySpec(llmdata.mm3_resize_plan, llmdata.MM3_ORACLE),
    "mm4_extract_features": QuerySpec(
        llmdata.mm4_extract_features,
        llmdata.MM4_ORACLE,
        note="the MODEL-HOSTING shape (batched encoder UDF plumbing: "
        "schema, batch geometry, broadcast weights) with deterministic "
        "stand-in arithmetic; mm9_image_features supersedes its "
        "decoded-pixel EVIDENCE — real samples from real containers",
    ),
    "dc1_decontaminate": QuerySpec(llmdata.dc1_decontaminate, llmdata.DC1_ORACLE),
    "ta7_lm_quality": QuerySpec(llmdata.ta7_lm_quality, llmdata.TA7_ORACLE),
    "sim6_hyperplane_topk": QuerySpec(
        llmdata.sim6_hyperplane_topk, llmdata.SIM6_ORACLE
    ),
    "mx1_mixture_plan": QuerySpec(llmdata.mx1_mixture_plan, llmdata.MX1_ORACLE),
    "q1_pricing_summary": QuerySpec(tpch.q1_pricing_summary, tpch.Q1_ORACLE),
    "q3_shipping_priority": QuerySpec(tpch.q3_shipping_priority, tpch.Q3_ORACLE),
    "q5_nation_revenue": QuerySpec(tpch.q5_nation_revenue, tpch.Q5_ORACLE),
    "q4_order_priority": QuerySpec(analytics.q4_order_priority, analytics.Q4_ORACLE),
    "q6_forecast_revenue": QuerySpec(analytics.q6_forecast_revenue, analytics.Q6_ORACLE),
    "q7_trade_volume": QuerySpec(analytics.q7_trade_volume, analytics.Q7_ORACLE),
    "q8_rollup_sales": QuerySpec(analytics.q8_rollup_sales, analytics.Q8_ORACLE),
    "q8c_cube_orders": QuerySpec(analytics.q8c_cube_orders, analytics.Q8C_ORACLE),
    "q19_disjunctive_filter": QuerySpec(
        analytics.q19_disjunctive_filter, analytics.Q19_ORACLE
    ),
    "q10_returned_items": QuerySpec(analytics.q10_returned_items, analytics.Q10_ORACLE),
    "q14_promo_effect": QuerySpec(analytics.q14_promo_effect, analytics.Q14_ORACLE),
    "q18_large_orders": QuerySpec(analytics.q18_large_orders, analytics.Q18_ORACLE),
    "q9_product_profit": QuerySpec(analytics.q9_product_profit, analytics.Q9_ORACLE),
    "q20_excess_suppliers": QuerySpec(
        analytics.q20_excess_suppliers, analytics.Q20_ORACLE
    ),
    "q13_customer_distribution": QuerySpec(
        analytics.q13_customer_distribution, analytics.Q13_ORACLE
    ),
    "q15_top_supplier": QuerySpec(analytics.q15_top_supplier, analytics.Q15_ORACLE),
    "q17_small_quantity_revenue": QuerySpec(
        analytics.q17_small_quantity_revenue, analytics.Q17_ORACLE
    ),
    "q12_priority_lateness": QuerySpec(
        analytics.q12_priority_lateness, analytics.Q12_ORACLE
    ),
    "q21_waiting_suppliers": QuerySpec(
        analytics.q21_waiting_suppliers, analytics.Q21_ORACLE
    ),
    "q23_priority_pivot": QuerySpec(
        analytics.q23_priority_pivot, analytics.Q23_ORACLE
    ),
    "q24_priority_unpivot": QuerySpec(
        analytics.q24_priority_unpivot, analytics.Q24_ORACLE
    ),
    "q25_grouping_sets": QuerySpec(
        analytics.q25_grouping_sets, analytics.Q25_ORACLE
    ),
    "fo1_snapshot_diff": QuerySpec(
        analytics.fo1_snapshot_diff, analytics.FO1_ORACLE
    ),
    "pr1_profile_orders": QuerySpec(analytics.pr1_profile_orders, analytics.PR1_ORACLE),
    "pr4_price_histogram": QuerySpec(
        analytics.pr4_price_histogram, analytics.PR4_ORACLE
    ),
    "pr5_stat_moments": QuerySpec(analytics.pr5_stat_moments, analytics.PR5_ORACLE),
    "ev1_event_gaps": QuerySpec(analytics.ev1_event_gaps, analytics.EV1_ORACLE),
    "ev2_asof_join": QuerySpec(analytics.ev2_asof_join, analytics.EV2_ORACLE),
    "ev3_range_join": QuerySpec(analytics.ev3_range_join, analytics.EV3_ORACLE),
    "ev4_gap_fill": QuerySpec(analytics.ev4_gap_fill, analytics.EV4_ORACLE),
    "ev5_funnel": QuerySpec(analytics.ev5_funnel, analytics.EV5_ORACLE),
    "ev6_retention": QuerySpec(analytics.ev6_retention, analytics.EV6_ORACLE),
    "set1_repeat_customers": QuerySpec(
        analytics.set1_repeat_customers, analytics.SET1_ORACLE
    ),
    "sk1_salted_event_stats": QuerySpec(
        analytics.sk1_salted_event_stats, analytics.SK1_ORACLE
    ),
    "sk2_salted_user_join": QuerySpec(
        analytics.sk2_salted_user_join, analytics.SK2_ORACLE
    ),
    "e1_seq_scan": QuerySpec(cdc.e1_seq_scan, cdc.E1_ORACLE),
    "e2_ts_scan_onlypast": QuerySpec(cdc.e2_ts_scan_onlypast, cdc.E2_ORACLE),
    "e3_coalesce_scan": QuerySpec(cdc.e3_coalesce_scan, cdc.E3_ORACLE),
    "e4_queue_drain": QuerySpec(cdc.e4_queue_drain, cdc.E4_DRAIN_ORACLE),
    "e4_point_lookup_join": QuerySpec(cdc.e4_point_lookup_join, cdc.E4_LOOKUP_ORACLE),
    "dd6b_dup_clusters_star": QuerySpec(
        llmdata.dd6b_dup_clusters_star, llmdata.DD6_ORACLE
    ),
    # --- late round-4 additions (never graded): appended at the tail
    # per the rotation policy — they head round 5's window together
    # with the r2-green queue above ---
    "fts2_bm25_search": QuerySpec(llmdata.fts2_bm25_search, llmdata.FTS2_ORACLE),
    "ch1_overlap_chunks": QuerySpec(llmdata.ch1_overlap_chunks, llmdata.CH1_ORACLE),
    "cur5_token_budget": QuerySpec(llmdata.cur5_token_budget, llmdata.CUR5_ORACLE),
    "fts3_passage_search": QuerySpec(
        llmdata.fts3_passage_search, llmdata.FTS3_ORACLE
    ),
    "dr1_source_dup_report": QuerySpec(
        llmdata.dr1_source_dup_report, llmdata.DR1_ORACLE
    ),
    # --- NEW round 5: curation/export ops — per-domain cap, training
    # shard assignment, BPE pair counting, n-gram diversity, and the
    # cross-source near-dup leakage matrix ---
    "cur6_domain_cap": QuerySpec(llmdata.cur6_domain_cap, llmdata.CUR6_ORACLE),
    "sh1_train_shards": QuerySpec(llmdata.sh1_train_shards, llmdata.SH1_ORACLE),
    "bpe1_pair_stats": QuerySpec(llmdata.bpe1_pair_stats, llmdata.BPE1_ORACLE),
    "dv1_ngram_diversity": QuerySpec(
        llmdata.dv1_ngram_diversity, llmdata.DV1_ORACLE
    ),
    "dr2_cross_source_leakage": QuerySpec(
        llmdata.dr2_cross_source_leakage, llmdata.DR2_ORACLE
    ),
    "ta11_lang_confusion": QuerySpec(
        llmdata.ta11_lang_confusion, llmdata.TA11_ORACLE
    ),
    "vb1_vocab_coverage": QuerySpec(
        llmdata.vb1_vocab_coverage, llmdata.VB1_ORACLE
    ),
    "sim10_ivf_pq_topk": QuerySpec(
        llmdata.sim10_ivf_pq_topk, llmdata.SIM10_ORACLE
    ),
    "ev9_daily_top_events": QuerySpec(
        analytics.ev9_daily_top_events, analytics.EV9_ORACLE
    ),
    "ev10_top_user_paths": QuerySpec(
        analytics.ev10_top_user_paths, analytics.EV10_ORACLE
    ),
    "ta12_doc_keywords": QuerySpec(
        llmdata.ta12_doc_keywords, llmdata.TA12_ORACLE
    ),
    "seg1_rfm_segments": QuerySpec(
        analytics.seg1_rfm_segments, analytics.SEG1_ORACLE
    ),
    "mm6_wav_roundtrip": QuerySpec(
        llmdata.mm6_wav_roundtrip, llmdata.MM6_ORACLE
    ),
    "cur8_best_copy_dedup": QuerySpec(
        llmdata.cur8_best_copy_dedup, llmdata.CUR8_ORACLE
    ),
    "sm6_temporal_split": QuerySpec(
        llmdata.sm6_temporal_split, llmdata.SM6_ORACLE
    ),
    "vb2_oov_rate": QuerySpec(llmdata.vb2_oov_rate, llmdata.VB2_ORACLE),
    "ds1_dsir_weights": QuerySpec(llmdata.ds1_dsir_weights, llmdata.DS1_ORACLE),
    "sd1_semdedup": QuerySpec(llmdata.sd1_semdedup, llmdata.SD1_ORACLE),
    "ev11_funnel": QuerySpec(analytics.ev11_funnel, analytics.EV11_ORACLE),
    "fo4_retention_cohorts": QuerySpec(
        analytics.fo4_retention_cohorts, analytics.FO4_ORACLE
    ),
    "cur9_dsir_select": QuerySpec(llmdata.cur9_dsir_select, llmdata.CUR9_ORACLE),
    "sd2_incremental_semdedup": QuerySpec(
        llmdata.sd2_incremental_semdedup, llmdata.SD2_ORACLE
    ),
    "dc2_contamination_spans": QuerySpec(
        llmdata.dc2_contamination_spans, llmdata.DC2_ORACLE
    ),
    "pr7_psi_drift": QuerySpec(llmdata.pr7_psi_drift, llmdata.PR7_ORACLE),
    "ev13_conversion_latency": QuerySpec(
        analytics.ev13_conversion_latency, analytics.EV13_ORACLE
    ),
    "ev14_last_touch": QuerySpec(
        analytics.ev14_last_touch, analytics.EV14_ORACLE
    ),
    "mm7_png_roundtrip": QuerySpec(
        llmdata.mm7_png_roundtrip, llmdata.MM7_ORACLE
    ),
    "dd12_containment_pairs": QuerySpec(
        llmdata.dd12_containment_pairs, llmdata.DD12_ORACLE
    ),
    "fts4_proximity_search": QuerySpec(
        llmdata.fts4_proximity_search, llmdata.FTS4_ORACLE
    ),
    "pr8_portable_hll": QuerySpec(
        analytics.pr8_portable_hll, analytics.PR8_ORACLE
    ),
    # --- NEW round 6 ---
    "pr9_sampled_quantiles": QuerySpec(
        analytics.pr9_sampled_quantiles, analytics.PR9_ORACLE
    ),
    "mm8_jpeg_roundtrip": QuerySpec(
        llmdata.mm8_jpeg_roundtrip, llmdata.MM8_ORACLE
    ),
    "sd3_stream_semdedup_batch": QuerySpec(
        llmdata.sd3_stream_semdedup_batch, llmdata.SD3_ORACLE
    ),
    "ds2_dsir_unseen": QuerySpec(llmdata.ds2_dsir_unseen, llmdata.DS2_ORACLE),
    "mm9_image_features": QuerySpec(
        llmdata.mm9_image_features, llmdata.MM9_ORACLE
    ),
    "pr10_bloom_membership": QuerySpec(
        analytics.pr10_bloom_membership, analytics.PR10_ORACLE
    ),
    "sm7_stratified_sample": QuerySpec(
        llmdata.sm7_stratified_sample, llmdata.SM7_ORACLE
    ),
    "sim11_two_level_quantizer": QuerySpec(
        llmdata.sim11_two_level_quantizer, llmdata.SIM11_ORACLE
    ),
    "sd4_semdedup_two_level": QuerySpec(
        llmdata.sd4_semdedup_two_level, llmdata.SD4_ORACLE
    ),
    "dd13_edit_distance_pairs": QuerySpec(
        llmdata.dd13_edit_distance_pairs, llmdata.DD13_ORACLE
    ),
    "pr11_count_min": QuerySpec(analytics.pr11_count_min, analytics.PR11_ORACLE),
    # --- NEW round 7 ---
    "sd5_stream_semdedup_two_level": QuerySpec(
        llmdata.sd5_stream_semdedup_two_level, llmdata.SD5_ORACLE
    ),
    "pr12_heavy_hitters": QuerySpec(
        llmdata.pr12_heavy_hitters, llmdata.PR12_ORACLE
    ),
    "mm10_mjpeg_frames": QuerySpec(
        llmdata.mm10_mjpeg_frames, llmdata.MM10_ORACLE
    ),
    "pr13_kmv_setops": QuerySpec(llmdata.pr13_kmv_setops, llmdata.PR13_ORACLE),
    "mm11_audio_features": QuerySpec(
        llmdata.mm11_audio_features, llmdata.MM11_ORACLE
    ),
    "sim12_gemm_topk": QuerySpec(llmdata.sim12_gemm_topk, llmdata.SIM12_ORACLE),
    "ev15_window_funnel": QuerySpec(
        analytics.ev15_window_funnel, analytics.EV15_ORACLE
    ),
    "sm8_leakage_safe_split": QuerySpec(
        llmdata.sm8_leakage_safe_split, llmdata.SM8_ORACLE
    ),
    "dq4_referential_audit": QuerySpec(
        analytics.dq4_referential_audit, analytics.DQ4_ORACLE
    ),
    "sim13_two_level_recall": QuerySpec(
        llmdata.sim13_two_level_recall, llmdata.SIM13_ORACLE
    ),
    "ev16_rolling_active_users": QuerySpec(
        analytics.ev16_rolling_active_users, analytics.EV16_ORACLE
    ),
    "ta14_pmi_collocations": QuerySpec(
        llmdata.ta14_pmi_collocations, llmdata.TA14_ORACLE
    ),
    "cur10_release_manifest": QuerySpec(
        llmdata.cur10_release_manifest, llmdata.CUR10_ORACLE
    ),
    "fo5_bitemporal_asof": QuerySpec(
        analytics.fo5_bitemporal_asof, analytics.FO5_ORACLE
    ),
    "sim14_multiprobe_recall": QuerySpec(
        llmdata.sim14_multiprobe_recall, llmdata.SIM14_ORACLE
    ),
    # -- round 8 --
    "sim15_ivf_multiprobe_topk": QuerySpec(
        llmdata.sim15_ivf_multiprobe_topk, llmdata.SIM15_ORACLE
    ),
    "pr14_stream_served_heavy_hitters": QuerySpec(
        llmdata.pr14_stream_served_heavy_hitters, llmdata.PR14_ORACLE
    ),
    # the late-data funnel stream grades against the BATCH ev15 oracle:
    # the watermark reorder buffer is exactly what makes a 36h-shuffled
    # arrival order reproduce the RANGE-frame distribution bit-for-bit
    "st6_late_funnel_stream": QuerySpec(
        cdc.st6_late_funnel_stream, analytics.EV15_ORACLE
    ),
    # fo6/cur11/mm12/ev17 landed after the round-8 window settled —
    # they head round 9's queue together with the displaced
    # q2w/mm5/dd3/sm4/pk1 (window comment below)
    "fo6_scd2_validity_audit": QuerySpec(
        analytics.fo6_scd2_validity_audit, analytics.FO6_ORACLE
    ),
    "cur11_release_fate_diff": QuerySpec(
        llmdata.cur11_release_fate_diff, llmdata.CUR11_ORACLE
    ),
    "mm12_keyframe_select": QuerySpec(
        llmdata.mm12_keyframe_select, llmdata.MM12_ORACLE
    ),
    "ev17_window_funnel4": QuerySpec(
        analytics.ev17_window_funnel4, analytics.EV17_ORACLE
    ),
    # -- NEW round 9 --
    # the full E->T->L runner pass (config -> tracking -> queue drain
    # -> loader -> post-commit cleanup) graded against the composed
    # batch CDC algebra (VERDICT r8 #7)
    "pipeline_e2e_drain": QuerySpec(
        cdc.pipeline_e2e_drain, cdc.PIPELINE_E2E_ORACLE
    ),
    # release-carried stable cluster ids (VERDICT r8 #2): growth can't
    # re-key a carried cluster; only merges can
    "cur12_carried_cluster_ids": QuerySpec(
        llmdata.cur12_carried_cluster_ids, llmdata.CUR12_ORACLE
    ),
    # landed after the round-9 window settled — head round 10's queue
    # (with the four r5-stale rows the dd4/dd12/dd13/ta9 regrade
    # displaced: vb2, ev11, fo4, sd2)
    "ev18_growth_accounting": QuerySpec(
        analytics.ev18_growth_accounting, analytics.EV18_ORACLE
    ),
    "dq5_profile_drift": QuerySpec(
        analytics.dq5_profile_drift, analytics.DQ5_ORACLE
    ),
    # the split-stability arc's capstone: carried identity AS the
    # split key — growth can never move a group; only merges can
    "cur13_carried_split": QuerySpec(
        llmdata.cur13_carried_split, llmdata.CUR13_ORACLE
    ),
    # the audit->repair pair: fo6 detects, fo7 rebuilds (fo6 over
    # fo7's output is empty by construction, pinned in tests)
    "fo7_scd2_repair": QuerySpec(
        analytics.fo7_scd2_repair, analytics.FO7_ORACLE
    ),
    # the portable-sketch ladder's MERGE rung: per-shard pr9 states
    # combined by union + re-bottom-k == the direct build bit-for-bit
    # (oracle = PR9's, unchanged — the pr14 move)
    "pr15_federated_quantile_merge": QuerySpec(
        analytics.pr15_federated_quantile_merge, analytics.PR15_ORACLE
    ),
    # -- NEW round 10 --
    # the offline artifact store's warm-read path under a driver hash
    # (VERDICT r9 #2): build the bucketed shingle-index store,
    # unregister the catalog entry (fresh-deployment simulation),
    # re-register strictly from the JSON sidecar, run the dd12
    # containment consumer off the read-back table. Oracle = DD12's —
    # warm read must be indistinguishable from the in-session build.
    "art1_warm_artifact_read": QuerySpec(
        llmdata.art1_warm_artifact_read,
        llmdata.DD12_ORACLE,
        note="oracle shared with dd12 by design: same relation, "
        "different provenance (offline store vs in-session build)",
    ),
    # art1's sibling for the OCC ParquetSource artifact shape: the
    # pair graph published via the commit log, resolved by a FRESH
    # handle, consumed by dd6's connected components. Landed after the
    # round-10 window settled — heads round 11's queue with the
    # r6-stale SLO block. Oracle = DD6's (same relation, warm-read
    # provenance).
    "art2_warm_pair_graph_read": QuerySpec(
        llmdata.art2_warm_pair_graph_read, llmdata.DD6_ORACLE
    ),
    # O(batch) incremental rollup upkeep under CDC — patch == recompute
    # pinned by the hash (group migration, REMOVEs, unmatched inserts;
    # DECIMAL-exact sums). Landed post-window; heads round 11's queue
    # with art2.
    "mnt1_incremental_rollup": QuerySpec(
        cdc.mnt1_incremental_rollup, cdc.MNT1_ORACLE
    ),
    # mnt1 run LIVE inside the pipeline runner: config `rollups` keeps
    # the aggregate fresh across the full multi-batch e2e drain via
    # the staged write-ahead delta protocol (exactly-once under batch
    # replay, crash-window tests in tests/test_rollup_runner.py);
    # oracle recomputes from the composed CDC algebra. Post-window;
    # heads round 11's queue with art2/mnt1.
    "mnt2_runner_maintained_rollup": QuerySpec(
        cdc.mnt2_runner_maintained_rollup, cdc.MNT2_ORACLE
    ),
    # mnt2's sibling for the non-invertible aggregate arm (round 12,
    # VERDICT r11 #5): the same drain maintains a per-segment MAX via
    # the staged-touched-groups SCOPED RECOMPUTE (max is not
    # retraction-safe under the delta algebra); the fixture's REMOVEs
    # retract real maxima. Oracle recomputes from the composed CDC
    # algebra.
    "mnt3_minmax_rollup": QuerySpec(
        cdc.mnt3_minmax_rollup, cdc.MNT3_ORACLE
    ),
    # AVG served from the maintained (sum, count) rollup (round 12):
    # the documented "avg = sum_val / n_rows" derivation made
    # executable and graded — double-cast-then-one-divide on both
    # engines so the derived average is hash-exact. Landed post-window;
    # heads round 13's queue.
    "mnt4_avg_from_rollup": QuerySpec(
        cdc.mnt4_avg_from_rollup, cdc.MNT4_ORACLE
    ),
    # -- NEW round 13 --
    # the `avg:` CONFIG SUGAR end-to-end (VERDICT r12 #8): the runner
    # maintains the (sum, count) pair through the staged-delta protocol
    # and maintenance.read_rollup derives the average at read time —
    # the full config -> runner -> staged-delta -> read-helper stack
    # inside one hash (mnt4 graded the derivation arithmetic alone).
    "mnt5_avg_rollup_serving": QuerySpec(
        cdc.mnt5_avg_rollup_serving, cdc.MNT5_ORACLE
    ),
    # tokenizer VERSION MIGRATION (round 13, VERDICT r12 #4): v1 trains
    # on half the corpus, the grown-corpus retrain publishes as v2 (one
    # atomic tagged-table commit per version, ADVICE r12 #3), a fresh
    # handle reads both versions back pinned, and the graded output is
    # the fertility/OOV drift report between them on the held-out
    # source — the measurement a team reads before flipping serving.
    # Oracle = both training+apply chains unrolled as namespaced CTEs.
    "art6_tokenizer_version_drift": QuerySpec(
        llmdata.art6_tokenizer_version_drift, llmdata.ART6_ORACLE
    ),
    # the artifact trio's third warm-read seam: flat quantizer via OCC
    # commit log, consumed by sim2's IVF probe. Post-window; r11 queue.
    "art3_warm_quantizer_read": QuerySpec(
        llmdata.art3_warm_quantizer_read, llmdata.SIM2_ORACLE
    ),
    # BPE tokenizer TRAINING (the iterative step bpe1 feeds): 6 rounds
    # of pair-count -> argmax -> re-segment over the word-frequency
    # table, greedy non-overlap stated positionally so both engines run
    # the identical algorithm; oracle unrolls the rounds as chained
    # CTEs. Post-window; r11 queue.
    "bpe2_train_merges": QuerySpec(
        llmdata.bpe2_train_merges, llmdata.BPE2_ORACLE
    ),
    # bpe2's serving half: per-source tokenizer fertility under the
    # learned merges (integer micro-units). Post-window; r11 queue.
    "bpe3_fertility": QuerySpec(
        llmdata.bpe3_fertility, llmdata.BPE3_ORACLE
    ),
    # -- NEW round 11 --
    # the tokenizer loop's SERVING row (VERDICT r10 #6): train on every
    # source except the holdout, tokenize the holdout's words in rank
    # order under the identical positional rule — the hash pins every
    # symbol boundary of OOV-ish application, not a training replay.
    "bpe4_apply_heldout": QuerySpec(
        llmdata.bpe4_apply_heldout, llmdata.BPE4_ORACLE
    ),
    # the artifact quartet's two-level seam (VERDICT r10 #5): the
    # super+fine codebook pair published as OCC tables, re-resolved by
    # a fresh handle, sim11's assignment re-run off the read-back
    # artifact. Oracle = SIM11's (same relation, warm-read provenance —
    # the art1/art3 pattern).
    "art4_warm_two_level_read": QuerySpec(
        llmdata.art4_warm_two_level_read,
        llmdata.SIM11_ORACLE,
        note="oracle shared with sim11 by design: same relation, "
        "different provenance (offline store vs in-session build)",
    ),
    # the LEARNED TOKENIZER through the offline store (round 12,
    # VERDICT r11 #3 — the artifact family's last gap): merges + vocab
    # published as OCC tables, re-resolved by a fresh handle, bpe5's
    # held-out encode re-run off the read-back tokenizer. Oracle =
    # BPE5's (same relation, warm-read provenance — the art1/art3/art4
    # pattern).
    "art5_warm_bpe_read": QuerySpec(
        llmdata.art5_warm_bpe_read,
        llmdata.ART5_ORACLE,
        note="oracle shared with bpe5 by design: same relation, "
        "different provenance (offline store vs in-session training)",
    ),
    # packing by REAL tokenizer length: pk1's single-window packing
    # driven by bpe4's served token counts (per-doc sums via one
    # vocabulary-sized broadcast) — the production loader packs in
    # MODEL tokens, not whitespace words. The hash pins the learned
    # segmentation, the per-doc sums, and every chunk boundary.
    "pk3_bpe_packing": QuerySpec(llmdata.pk3_bpe_packing, llmdata.PK3_ORACLE),
    # the loop's last serving step: held-out documents encoded into
    # '|'-joined vocab-id streams (base chars + merge outputs, dense
    # binary-order ids, -1 unk) — what the training loader reads. The
    # hash pins the vocabulary numbering, the OOV rule, and every
    # document's full id stream.
    "bpe5_encode_corpus": QuerySpec(
        llmdata.bpe5_encode_corpus, llmdata.BPE5_ORACLE
    ),
}


# ---------------------------------------------------------------------------
# STALENESS SLO (round 10, VERDICT r9 #5): every registry row is
# re-graded within 5 rounds of its newest driver-green row, and a row
# whose PLAN or ORACLE changed re-enters the window in the same round
# regardless of age. With 211 entries and a 50-row window the
# steady-state cycle is ~4 rounds, so the SLO holds with one round of
# slack; if the registry outgrows ~250 entries, widen the window or
# accept a 6-round SLO — change the number HERE, in writing.
# ---------------------------------------------------------------------------
_GRADED_WINDOW: list[str] = [
    # ======== round-14 window (stalest-first round-robin) ========
    # Composition (VERDICT r13 #7, executed exactly as queued at the
    # round-13 window's comment, plus the SLO's plan-changed rule):
    #   1. dd8_incremental_lsh (displaced from r13 by art1's
    #      plan-changed re-entry) + the 24-row r9-green remainder in
    #      round-9 window order.
    #   2. r10-green backfill in round-10 window order (stalest
    #      first), topped toward 50: pipeline_e2e_drain..f5.
    #   3. Plan-changed round 14 (SLO: re-enter immediately),
    #      displacing the backfill tail: sd3/sd5 (the semdedup fold
    #      now checkpoints the DECIDED batch and the flat scoring seam
    #      fans out single-file scans), st6 (size-derived state
    #      partitions + sink re-key). sd2 — whose incremental judge
    #      shares both changed seams — is already in the r10-green
    #      block above.
    # Round 15's queue head: the displaced f6_regex_suite,
    # sim4_incremental_topk, ta1_token_stats, then the r10-green
    # remainder in round-10 window order (ta2_quality_score..q4),
    # then r11-green stalest-first.
    "dd8_incremental_lsh",
    "sim1_cosine_topk",
    "sim5_ivf_build",
    "sim3_pairwise_topk",
    "w2_window_suite",
    "w3_rolling_frames",
    "fts2_bm25_search",
    "ch1_overlap_chunks",
    "cur5_token_budget",
    "fts3_passage_search",
    "dr1_source_dup_report",
    "cur6_domain_cap",
    "sh1_train_shards",
    "bpe1_pair_stats",
    "dv1_ngram_diversity",
    "dr2_cross_source_leakage",
    "ta11_lang_confusion",
    "vb1_vocab_coverage",
    "sim10_ivf_pq_topk",
    "ev9_daily_top_events",
    "ev10_top_user_paths",
    "ta12_doc_keywords",
    "seg1_rfm_segments",
    "mm6_wav_roundtrip",
    "sm6_temporal_split",
    # -- r10-green backfill, round-10 window order (stalest first) --
    "pipeline_e2e_drain",
    "ev18_growth_accounting",
    "dq5_profile_drift",
    "cur13_carried_split",
    "fo7_scd2_repair",
    "pr15_federated_quantile_merge",
    "vb2_oov_rate",
    "ev11_funnel",
    "fo4_retention_cohorts",
    "sd2_incremental_semdedup",
    "dc2_contamination_spans",
    "ev13_conversion_latency",
    "ev14_last_touch",
    "mm7_png_roundtrip",
    "fts4_proximity_search",
    "pr8_portable_hll",
    "dd4_ngram_jaccard_pairs",
    "dd12_containment_pairs",
    "dd13_edit_distance_pairs",
    "ta9_similar_docs",
    "f4_string_suite",
    "f5_array_suite",
    # -- plan-changed round 14 (SLO re-entry; displaced f6/sim4/ta1
    # lead round 15's queue) --
    "sd3_stream_semdedup_batch",
    "sd5_stream_semdedup_two_level",
    "st6_late_funnel_stream",
]

assert len(_GRADED_WINDOW) == 50, len(_GRADED_WINDOW)
assert len(set(_GRADED_WINDOW)) == 50
_missing = [n for n in _GRADED_WINDOW if n not in REGISTRY]
assert not _missing, f"window names not in registry: {_missing}"

# Recompose: graded window first, remainder in definition order. Same
# entry set — only iteration order changes.
REGISTRY = {n: REGISTRY[n] for n in _GRADED_WINDOW} | {
    n: s for n, s in REGISTRY.items() if n not in set(_GRADED_WINDOW)
}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
