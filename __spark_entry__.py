"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (Q1 top-addresses over the full DNS
pipeline) at sf0.001. ``_contract()`` is the one table of operator
entries (SURVEY.md section 2): each name maps to its Spark form and a
zero-argument builder of its DuckDB oracle SQL. ``queries()`` and
``oracle_sql()`` are its two columns, in the same key order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dnstap2clickhouse_spark.config import AggregatorConfig
from dnstap2clickhouse_spark.sources.events import (
    QUERY_STREAM_SQL,
    RESPONSE_STREAM_SQL,
    PAIR_QUERY_SQL,
    PAIR_RESPONSE_SQL,
    dns_query_stream,
    dns_response_stream,
    dns_pair_streams,
)
from dnstap2clickhouse_spark.operators import join as oj
from dnstap2clickhouse_spark.streaming import pipeline as stp
from dnstap2clickhouse_spark.operators import dns_pipeline as dp
from dnstap2clickhouse_spark.operators import analytics as an
from dnstap2clickhouse_spark.operators import prep
from dnstap2clickhouse_spark.plans import tpch, events_analytics as evan
from dnstap2clickhouse_spark.plans import graph as pgraph
from dnstap2clickhouse_spark.plans import bucketed as pbkt
from dnstap2clickhouse_spark.plans import curation as pcur
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import ground_truth as fgt
from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.functions import multimodal as fmm
from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.operators.columns import (
    apply_column_config,
    apply_column_config_sql,
)
from dnstap2clickhouse_spark.operators.sampling import (
    sample_by_dns_id,
    sample_by_dns_id_sql,
)

SF0001 = "/root/testdata/sf0.001"

# static sampler setting used by the sampling query (section 2.7: the
# adaptive controller is deliberately replaced by a static mask)
_SAMPLE_MASK = 0x0F
_SAMPLE_MATCH = 0x06

_PRUNE_CFG = {
    "queryTime": "ts",
    "identity": "",  # pruned (clickhouse.go:124-137 empty-name semantics)
    "queryAddress": "addr",
    "questionName": "qname",
    "questionType": "",  # pruned
    "counter": "hits",
}

SparkForm = Callable[[SparkSession, str], DataFrame]
Oracle = Callable[[], str]

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ingest pipeline + Q1 top query addresses, sf0.001."""
    return an.top_query_addresses(dp.client_query_table(spark, SF0001))

def _contract() -> dict[str, tuple[SparkForm, Oracle]]:
    """Every entry once: name -> (Spark form, oracle builder). The oracle
    builders are called only by ``oracle_sql()``."""
    no_agg = AggregatorConfig(aggregate=False)

    return {
        "tpch_pricing_summary": (tpch.pricing_summary, tpch.pricing_summary_sql),
        "tpch_region_revenue": (tpch.region_revenue, tpch.region_revenue_sql),
        "tpch_top_orders": (tpch.top_orders, tpch.top_orders_sql),
        "tpch_topk_parts_per_brand": (tpch.topk_parts_per_brand, tpch.topk_parts_per_brand_sql),
        "tpch_distinct_aggregates": (tpch.distinct_aggregates, tpch.distinct_aggregates_sql),
        "tpch_segment_semi_anti": (tpch.segment_semi_anti, tpch.segment_semi_anti_sql),
        "tpch_exists_late_ship": (tpch.exists_late_ship, tpch.exists_late_ship_sql),
        "tpch_small_qty_revenue": (tpch.small_qty_revenue, tpch.small_qty_revenue_sql),
        "split_train_val_test": (fsplit.split_assignments, fsplit.split_assignments_sql),
        "split_stratified_sample": (fsplit.stratified_sample, fsplit.stratified_sample_sql),
        "curate_corpus_e2e": (pcur.curate_corpus, pcur.curate_corpus_sql),
        "text_stats": (ftext.text_stats, ftext.text_stats_sql),
        "text_quality": (ftext.quality_scores, ftext.quality_scores_sql),
        "text_lang_id": (ftext.lang_id, ftext.lang_id_sql),
        "text_fingerprints": (ftext.fingerprints, ftext.fingerprints_sql),
        "text_regex_tokens": (ftext.regex_tokens, ftext.regex_tokens_sql),
        # the window sum is cast to BIGINT: DuckDB widens it to HUGEINT
        "events_rolling_hour": (evan.rolling_hour_stats, evan.rolling_hour_stats_sql),
        # sketches against exact aggregates as accuracy-bound booleans, so
        # the oracle checks the entry exactly; raw sketch output is pinned
        # in test_extensions.py::test_sketch_stats_accuracy
        "events_sketch_stats": (evan.sketch_accuracy, evan.sketch_accuracy_sql),
        "text_repetition": (ftext.repetition_filter, ftext.repetition_filter_sql),
        # the exact state machine equals sequence pairing (match-once) on the
        # collision-free pair streams; the streaming run is unbounded (no
        # TTL), so the oracle uses the matching 30-day upper bound
        "dns_stateful_match": (
            lambda s, d: stp.stateful_match_query(s, d).select(
                "responseTime", "identity", "delta_us"
            ),
            lambda: oj.match_response_times_once_sql(
                PAIR_QUERY_SQL, PAIR_RESPONSE_SQL, "INTERVAL '30 days'"
            ),
        ),
        # the numpy scorer is checked by top-k membership (recall == 1.0)
        "sim_pandas_recall": (fsim.pandas_recall, fsim.pandas_recall_sql),
        "dedup_lsh_verified": (fdedup.lsh_verified_pairs, fdedup.lsh_verified_pairs_sql),
        "dedup_cc_clusters": (fdedup.cc_clusters, fdedup.cc_clusters_sql),
        "dedup_canonical_corpus": (fdedup.canonical_corpus, fdedup.canonical_corpus_sql),
        "text_top_ngrams": (ftext.top_ngrams, ftext.top_ngrams_sql),
        "text_decontaminate": (ftext.decontaminate, ftext.decontaminate_sql),
        "text_pii_scrub": (ftext.pii_scrub, ftext.pii_scrub_sql),
        "text_dup_span_fraction": (ftext.dup_span_fraction, ftext.dup_span_fraction_sql),
        "text_segment_dedup": (ftext.segment_dedup, ftext.segment_dedup_sql),
        "text_keyword_search": (ftext.keyword_search, ftext.keyword_search_sql),
        "sim_quantize_int8": (fsim.quantize_int8, fsim.quantize_int8_sql),
        "split_quality_resample": (fsplit.quality_resample, fsplit.quality_resample_sql),
        "curate_corpus_v2": (pcur.curate_corpus_v2, pcur.curate_corpus_v2_sql),
        "curate_corpus_v3": (pcur.curate_corpus_v3, pcur.curate_corpus_v3_sql),
        # stateless gates: the stream's output equals the batch composition
        "streaming_curation": (stp.streaming_curation_query, stp.streaming_curation_sql),
        # the update-mode stream collapsed to final state equals batch clientQuery
        "dns_streaming_agg": (stp.streaming_query_agg_query, dp.client_query_table_sql),
        "streaming_dedup_redelivery": (stp.streaming_dedup_query, stp.streaming_dedup_sql),
        "streaming_late_data": (stp.streaming_late_data_query, stp.streaming_late_data_sql),
        "streaming_session_window": (
            stp.streaming_session_window_query,
            stp.streaming_session_window_sql,
        ),
        "streaming_hopping_window": (
            stp.streaming_hopping_window_query,
            stp.streaming_hopping_window_sql,
        ),
        "streaming_response_join": (
            stp.streaming_response_join_query,
            stp.streaming_response_join_sql,
        ),
        "streaming_outer_join": (stp.streaming_outer_join_query, stp.streaming_outer_join_sql),
        "streaming_full_outer_join": (
            stp.streaming_full_outer_join_query,
            stp.streaming_full_outer_join_sql,
        ),
        "streaming_online_dedup": (
            fdedup.streaming_online_dedup,
            fdedup.streaming_online_dedup_sql,
        ),
        "text_unigram_likelihood": (ftext.unigram_likelihood, ftext.unigram_likelihood_sql),
        "events_gap_fill": (evan.gap_fill, evan.gap_fill_sql),
        "graph_triangle_count": (pgraph.triangle_count, pgraph.triangle_count_sql),
        "dedup_containment_prefix": (fdedup.containment_pairs, fdedup.containment_pairs_sql),
        "sim_mmr_rerank": (fsim.mmr_rerank, fsim.mmr_rerank_sql),
        "mm_caption_pairs": (fmm.caption_pairs, fmm.caption_pairs_sql),
        "graph_jaccard_neighbors": (pgraph.jaccard_neighbors, pgraph.jaccard_neighbors_sql),
        "text_code_detect": (ftext.code_detect, ftext.code_detect_sql),
        "curate_dataset_card": (pcur.dataset_card, pcur.dataset_card_sql),
        "split_token_budget": (fsplit.token_budget_sample, fsplit.token_budget_sample_sql),
        "events_path_transitions": (evan.path_transitions, evan.path_transitions_sql),
        "events_hll_partials": (evan.hll_partials, evan.hll_partials_sql),
        "events_zorder_layout": (evan.zorder_layout, evan.zorder_layout_sql),
        "text_hashed_features": (ftext.hashed_features, ftext.hashed_features_sql),
        "streaming_static_enrich": (
            stp.streaming_static_enrich_query,
            stp.streaming_static_enrich_sql,
        ),
        "text_bpe_merges": (ftext.bpe_merges, ftext.bpe_merges_sql),
        "events_top_paths": (evan.top_paths, evan.top_paths_sql),
        "dedup_savings_report": (fdedup.savings_report, fdedup.savings_report_sql),
        "tpch_discount_bands": (tpch.discount_bands, tpch.discount_bands_sql),
        "events_weekday_profile": (evan.weekday_profile, evan.weekday_profile_sql),
        "events_new_returning": (evan.new_returning, evan.new_returning_sql),
        "mm_modality_mix": (fmm.modality_mix, fmm.modality_mix_sql),
        "sim_delete_aware_search": (fsim.delete_aware_search, fsim.delete_aware_search_sql),
        "dedup_rate_by_source": (fdedup.dup_rate_by_source, fdedup.dup_rate_by_source_sql),
        "tpch_order_aging": (tpch.order_aging, tpch.order_aging_sql),
        "events_decile_migration": (evan.decile_migration, evan.decile_migration_sql),
        "dedup_canonical_by_quality": (
            fdedup.canonical_by_quality,
            fdedup.canonical_by_quality_sql,
        ),
        "text_length_outliers": (ftext.length_outliers, ftext.length_outliers_sql),
        "dns_client_profile": (an.client_profile, an.client_profile_sql),
        "text_decontam_sweep": (ftext.decontam_sweep, ftext.decontam_sweep_sql),
        "curate_version_diff": (pcur.version_diff, pcur.version_diff_sql),
        "tpch_supplier_hhi": (tpch.supplier_hhi, tpch.supplier_hhi_sql),
        "split_uncertainty_sample": (fsplit.uncertainty_sample, fsplit.uncertainty_sample_sql),
        "graph_butterfly_count": (pgraph.butterfly_count, pgraph.butterfly_count_sql),
        "curate_mixture_temperature": (pcur.mixture_temperature, pcur.mixture_temperature_sql),
        "dns_latency_heatmap": (an.hit_latency_heatmap, an.hit_latency_heatmap_sql),
        "dns_name_rollup": (an.name_rollup, an.name_rollup_sql),
        "events_lorenz_gini": (evan.lorenz_gini, evan.lorenz_gini_sql),
        "streaming_tombstone_apply": (
            stp.streaming_tombstone_apply,
            stp.streaming_tombstone_apply_sql,
        ),
        "sim_hard_negatives": (fsim.hard_negatives, fsim.hard_negatives_sql),
        "text_tokenizer_fertility": (ftext.tokenizer_fertility, ftext.tokenizer_fertility_sql),
        "split_rendezvous_shards": (fsplit.rendezvous_shards, fsplit.rendezvous_shards_sql),
        "dedup_source_sketch_sim": (fdedup.source_sketch_sim, fdedup.source_sketch_sim_sql),
        "events_value_drift": (evan.value_drift, evan.value_drift_sql),
        "dns_traffic_drift": (an.traffic_drift, an.traffic_drift_sql),
        "sim_nn_descent_round": (fsim.nn_descent_round, fsim.nn_descent_round_sql),
        "curate_decontam_certificate": (pcur.decontam_certificate, pcur.decontam_certificate_sql),
        "mm_scene_cuts": (fmm.scene_cuts, fmm.scene_cuts_sql),
        "text_langid_eval": (ftext.langid_eval, ftext.langid_eval_sql),
        "events_zonemap_prune": (evan.zonemap_prune, evan.zonemap_prune_sql),
        "dns_cache_hit_sim": (an.cache_hit_sim, an.cache_hit_sim_sql),
        "dedup_minhash_bbit": (fdedup.bbit_minhash, fdedup.bbit_minhash_sql),
        "sim_hnsw_layers": (fsim.hnsw_layers, fsim.hnsw_layers_sql),
        "dns_hits_authority": (an.hits_authority, an.hits_authority_sql),
        "text_cdc_chunks": (ftext.cdc_chunks, ftext.cdc_chunks_sql),
        "events_kmv_distinct": (evan.kmv_distinct, evan.kmv_distinct_sql),
        "events_count_min": (evan.count_min, evan.count_min_sql),
        "text_tfidf_terms": (ftext.tfidf_terms, ftext.tfidf_terms_sql),
        "mm_image_ahash": (fmm.image_ahash, fmm.image_ahash_sql),
        "events_rfm_segments": (evan.rfm_segments, evan.rfm_segments_sql),
        "text_winnow_fingerprints": (ftext.winnow_fingerprints, ftext.winnow_fingerprints_sql),
        "sim_knn_graph": (fsim.knn_graph, fsim.knn_graph_sql),
        "text_bigram_lm": (ftext.bigram_lm, ftext.bigram_lm_sql),
        "graph_link_predict": (pgraph.link_predict, pgraph.link_predict_sql),
        "streaming_upsert_apply": (stp.streaming_upsert_apply, stp.streaming_upsert_apply_sql),
        "events_m4_downsample": (evan.m4_downsample, evan.m4_downsample_sql),
        "mm_audio_vad": (fmm.audio_vad, fmm.audio_vad_sql),
        "text_fuzzy_match": (ftext.fuzzy_match, ftext.fuzzy_match_sql),
        "sim_ivf_balance": (fsim.ivf_balance, fsim.ivf_balance_sql),
        "dedup_pair_examples": (fdedup.pair_examples, fdedup.pair_examples_sql),
        "split_manifest_checksums": (fsplit.manifest_checksums, fsplit.manifest_checksums_sql),
        # salting is answer-invariant: the oracle is the plain join
        "tpch_salted_join": (tpch.salted_revenue_join, tpch.salted_revenue_join_sql),
        "sim_embedding_drift": (fsim.embedding_drift, fsim.embedding_drift_sql),
        "events_slo_burn": (evan.slo_burn, evan.slo_burn_sql),
        "dedup_band_sweep": (fdedup.band_sweep, fdedup.band_sweep_sql),
        "sim_pq_distortion": (fsim.pq_distortion, fsim.pq_distortion_sql),
        "events_dau_wau": (evan.dau_wau, evan.dau_wau_sql),
        "events_feature_matrix": (evan.feature_matrix, evan.feature_matrix_sql),
        "events_alert_eval": (evan.alert_eval, evan.alert_eval_sql),
        "text_vocab_growth": (ftext.vocab_growth, ftext.vocab_growth_sql),
        "dedup_minhash_recall": (fdedup.minhash_recall, fdedup.minhash_recall_sql),
        "graph_clustering_coefficient": (
            pgraph.clustering_coefficient,
            pgraph.clustering_coefficient_sql,
        ),
        "curate_source_scorecard": (pcur.source_scorecard, pcur.source_scorecard_sql),
        "sim_nprobe_sweep": (fsim.nprobe_sweep, fsim.nprobe_sweep_sql),
        "dedup_cluster_stats": (fdedup.cluster_stats, fdedup.cluster_stats_sql),
        "split_temporal_embargo": (fsplit.temporal_embargo, fsplit.temporal_embargo_sql),
        "curate_yield_report": (pcur.yield_report, pcur.yield_report_sql),
        "split_leakage_safe": (fsplit.leakage_safe_split, fsplit.leakage_safe_split_sql),
        "events_markov_stationary": (evan.markov_stationary, evan.markov_stationary_sql),
        "text_bpe_apply": (ftext.bpe_apply, ftext.bpe_apply_sql),
        "dedup_minhash_accuracy": (fdedup.minhash_accuracy, fdedup.minhash_accuracy_sql),
        "graph_degree_histogram": (pgraph.degree_histogram, pgraph.degree_histogram_sql),
        "split_length_buckets": (fsplit.length_buckets, fsplit.length_buckets_sql),
        "events_autocorrelation": (evan.autocorrelation, evan.autocorrelation_sql),
        "sim_threshold_sweep": (fsim.threshold_sweep, fsim.threshold_sweep_sql),
        "events_seasonal_baseline": (evan.seasonal_baseline, evan.seasonal_baseline_sql),
        "text_keyness": (ftext.keyness, ftext.keyness_sql),
        "graph_assortativity": (pgraph.assortativity, pgraph.assortativity_sql),
        "events_equidepth_histogram": (evan.equidepth_histogram, evan.equidepth_histogram_sql),
        "sim_farthest_init": (fsim.farthest_init, fsim.farthest_init_sql),
        "graph_modularity": (pgraph.modularity, pgraph.modularity_sql),
        "events_change_capture": (evan.change_capture, evan.change_capture_sql),
        "graph_bfs_distance": (pgraph.bfs_distance, pgraph.bfs_distance_sql),
        "text_collocations": (ftext.collocations, ftext.collocations_sql),
        "sim_ood_centroid": (fsim.ood_centroid, fsim.ood_centroid_sql),
        "events_ab_test": (evan.ab_test, evan.ab_test_sql),
        "events_sliding_distinct": (evan.sliding_distinct, evan.sliding_distinct_sql),
        "events_exact_percentiles": (evan.exact_percentiles, evan.exact_percentiles_sql),
        "events_sequence_match": (evan.sequence_match, evan.sequence_match_sql),
        "text_quality_logit": (ftext.quality_logit, ftext.quality_logit_sql),
        "sim_range_search": (fsim.range_search, fsim.range_search_sql),
        "split_epoch_shuffle": (fsplit.epoch_shuffle, fsplit.epoch_shuffle_sql),
        "events_window_funnel": (evan.window_funnel, evan.window_funnel_sql),
        "events_collapsing_state": (evan.collapsing_state, evan.collapsing_state_sql),
        "dns_qname_features": (
            lambda s, d: an.qname_features(
                prep.decode_frames(prep.raw_frames(s, d), "CLIENT_QUERY")
            ),
            lambda: an.qname_features_sql(prep.decode_frames_sql("CLIENT_QUERY")),
        ),
        "events_ttl_rollup": (evan.ttl_rollup, evan.ttl_rollup_sql),
        "events_materialized_rollup": (evan.materialized_rollup, evan.materialized_rollup_sql),
        "split_interleave_mix": (fsplit.interleave_mix, fsplit.interleave_mix_sql),
        "mm_shard_manifest": (fmm.shard_manifest, fmm.shard_manifest_sql),
        "events_user_erasure": (evan.user_erasure, evan.user_erasure_sql),
        "graph_kcore": (pgraph.kcore, pgraph.kcore_sql),
        "events_approx_topk_merge": (evan.approx_topk_merge, evan.approx_topk_merge_sql),
        "sim_binary_hamming": (fsim.binary_hamming_topk, fsim.binary_hamming_topk_sql),
        "split_kfold": (fsplit.kfold_assign, fsplit.kfold_assign_sql),
        "events_theta_sets": (evan.theta_sets, evan.theta_sets_sql),
        "sim_matryoshka": (fsim.matryoshka_topk, fsim.matryoshka_topk_sql),
        "tpch_bucketed_join": (pbkt.bucketed_join, pbkt.bucketed_join_sql),
        "dedup_simhash_pairs": (fdedup.simhash_pairs, fdedup.simhash_pairs_sql),
        "split_token_chunks": (fsplit.pack_token_chunks, fsplit.pack_token_chunks_sql),
        "curate_domain_mix": (fsplit.domain_mix, fsplit.domain_mix_sql),
        "events_heavy_hitters": (evan.heavy_hitters, evan.heavy_hitters_sql),
        "sim_pq_codes": (fsim.pq_codes, fsim.pq_codes_sql),
        "sim_pq_adc": (fsim.pq_adc_topk, fsim.pq_adc_topk_sql),
        "sim_ivfpq_topk": (fsim.ivfpq_topk, fsim.ivfpq_topk_sql),
        "sim_ivfpq_recall": (fsim.ivfpq_recall, fsim.ivfpq_recall_sql),
        "dedup_incremental_ingest": (fdedup.incremental_ingest, fdedup.incremental_ingest_sql),
        "dedup_bloom_prescreen": (fdedup.bloom_prescreen, fdedup.bloom_prescreen_sql),
        "dedup_semantic": (fsim.semantic_dedup, fsim.semantic_dedup_sql),
        "sim_hybrid_rrf": (fsim.hybrid_rrf, fsim.hybrid_rrf_sql),
        "dedup_embedding_lsh": (fsim.embedding_lsh_dups, fsim.embedding_lsh_dups_sql),
        "dedup_embedding_lsh_recall": (
            fgt.sampled_embedding_lsh_recall,
            fgt.sampled_embedding_lsh_recall_sql,
        ),
        "events_cohort_retention": (evan.cohort_retention, evan.cohort_retention_sql),
        "events_json_props": (evan.json_props_stats, evan.json_props_stats_sql),
        "events_interarrival": (evan.interarrival_stats, evan.interarrival_stats_sql),
        "tpch_cube_summary": (tpch.cube_summary, tpch.cube_summary_sql),
        "events_value_histogram": (evan.value_histogram, evan.value_histogram_sql),
        "events_anomaly_zscore": (evan.anomaly_zscore, evan.anomaly_zscore_sql),
        "graph_pagerank": (pgraph.pagerank_top, pgraph.pagerank_top_sql),
        "events_upsert_merge": (evan.upsert_merge, evan.upsert_merge_sql),
        "events_scd2_history": (evan.scd2_history, evan.scd2_history_sql),
        "events_variant_shred": (evan.variant_shred, evan.variant_shred_sql),
        "tpch_dominant_suppliers": (tpch.dominant_suppliers, tpch.dominant_suppliers_sql),
        "tpch_promo_revenue": (tpch.promo_revenue, tpch.promo_revenue_sql),
        "tpch_disjunctive_revenue": (tpch.disjunctive_revenue, tpch.disjunctive_revenue_sql),
        "tpch_important_parts": (tpch.important_parts, tpch.important_parts_sql),
        "tpch_large_volume_customers": (
            tpch.large_volume_customers,
            tpch.large_volume_customers_sql,
        ),
        "tpch_sales_opportunity": (tpch.sales_opportunity, tpch.sales_opportunity_sql),
        "tpch_customer_dist": (
            tpch.customer_order_distribution,
            tpch.customer_order_distribution_sql,
        ),
        "tpch_top_supplier": (tpch.top_supplier, tpch.top_supplier_sql),
        "tpch_forecast_revenue": (tpch.forecast_revenue, tpch.forecast_revenue_sql),
        "tpch_returned_items": (tpch.returned_item_customers, tpch.returned_item_customers_sql),
        "tpch_lateral_topn": (tpch.lateral_topn_orders, tpch.lateral_topn_orders_sql),
        "tpch_volume_shipping": (tpch.volume_shipping, tpch.volume_shipping_sql),
        "tpch_product_profit": (tpch.product_profit, tpch.product_profit_sql),
        "tpch_shipmode_priority": (tpch.shipmode_priority, tpch.shipmode_priority_sql),
        "tpch_supplier_cnt": (tpch.supplier_cnt, tpch.supplier_cnt_sql),
        "tpch_waiting_suppliers": (tpch.waiting_suppliers, tpch.waiting_suppliers_sql),
        "tpch_min_cost_supplier": (tpch.min_cost_supplier, tpch.min_cost_supplier_sql),
        "dns_decode_queries": (
            lambda s, d: prep.decode_frames(prep.raw_frames(s, d), "CLIENT_QUERY"),
            lambda: prep.decode_frames_sql("CLIENT_QUERY"),
        ),
        "dns_decode_responses": (
            lambda s, d: prep.decode_frames(prep.raw_frames(s, d), "CLIENT_RESPONSE"),
            lambda: prep.decode_frames_sql("CLIENT_RESPONSE"),
        ),
        "dns_response_time_join": (
            lambda s, d: dp.response_time_table(s, d),
            dp.response_time_table_sql,
        ),
        "dns_match_once": (
            lambda s, d: oj.match_response_times_once(*dns_pair_streams(s, d)),
            lambda: oj.match_response_times_once_sql(PAIR_QUERY_SQL, PAIR_RESPONSE_SQL),
        ),
        "dns_q4_latency_series": (
            lambda s, d: an.response_time_series(dp.response_time_table(s, d)),
            lambda: an.response_time_series_sql(dp.response_time_table_sql()),
        ),
        "dns_pipeline_e2e": (
            lambda s, d: an.top_query_addresses(
                dp.client_query_table(
                    s, d, queries=prep.decode_frames(prep.raw_frames(s, d), "CLIENT_QUERY")
                )
            ),
            lambda: an.top_query_addresses_sql(
                dp.client_query_table_sql(stream_sql=prep.decode_frames_sql("CLIENT_QUERY"))
            ),
        ),
        # P1-P7: sources and projections over the canonical mapping
        "dns_query_stream": (lambda s, d: dns_query_stream(s, d), lambda: QUERY_STREAM_SQL),
        "dns_response_stream": (
            lambda s, d: dns_response_stream(s, d),
            lambda: RESPONSE_STREAM_SQL,
        ),
        "dns_decode_addresses": (
            lambda s, d: prep.decode_addresses(prep.raw_frames(s, d)),
            prep.decode_addresses_sql,
        ),
        # A1-A7: the aggregation core (grouping sets, tumbling windows)
        "dns_client_query_agg": (
            lambda s, d: dp.client_query_table(s, d),
            dp.client_query_table_sql,
        ),
        "dns_client_response_agg": (
            lambda s, d: dp.client_response_table(s, d),
            dp.client_response_table_sql,
        ),
        # pass-through mode A8 (aggregator.go:556-565)
        "dns_passthrough": (
            lambda s, d: dp.client_response_table(s, d, no_agg),
            lambda: dp.client_response_table_sql(no_agg),
        ),
        "dns_orphan_responses": (
            lambda s, d: oj.orphan_responses(*dns_pair_streams(s, d)),
            lambda: oj.orphan_responses_sql(PAIR_QUERY_SQL, PAIR_RESPONSE_SQL),
        ),
        "dns_sampling": (
            lambda s, d: sample_by_dns_id(
                dns_pair_streams(s, d)[0], _SAMPLE_MASK, _SAMPLE_MATCH
            ),
            lambda: sample_by_dns_id_sql(PAIR_QUERY_SQL, _SAMPLE_MASK, _SAMPLE_MATCH),
        ),
        "dns_column_pruning": (
            lambda s, d: apply_column_config(dns_query_stream(s, d), _PRUNE_CFG),
            lambda: apply_column_config_sql(QUERY_STREAM_SQL, _PRUNE_CFG),
        ),
        # Q1-Q3: the downstream dashboard queries (quickstart.md:99-154)
        "dns_q1_top_addresses": (
            lambda s, d: an.top_query_addresses(dp.client_query_table(s, d)),
            lambda: an.top_query_addresses_sql(dp.client_query_table_sql()),
        ),
        "dns_q2_top_nxdomain": (
            lambda s, d: an.top_nxdomain_names(dp.client_response_table(s, d)),
            lambda: an.top_nxdomain_names_sql(dp.client_response_table_sql()),
        ),
        "dns_q3_nonok_series": (
            lambda s, d: an.non_ok_time_series(dp.client_response_table(s, d)),
            lambda: an.non_ok_time_series_sql(dp.client_response_table_sql()),
        ),
        "events_sessionize": (evan.sessionize, evan.sessionize_sql),
        "events_session_window": (evan.session_window_stats, evan.session_window_stats_sql),
        "events_running_totals": (evan.running_totals, evan.running_totals_sql),
        "events_value_quantiles": (evan.value_quantiles, evan.value_quantiles_sql),
        "events_rollup_daily": (evan.rollup_daily, evan.rollup_daily_sql),
        "events_asof_attribution": (evan.asof_attribution, evan.asof_attribution_sql),
        "events_funnel": (evan.funnel_conversion, evan.funnel_conversion_sql),
        "tpch_market_share": (tpch.market_share, tpch.market_share_sql),
        "dedup_minhash_lsh": (fdedup.minhash_lsh_pairs, fdedup.minhash_lsh_pairs_sql),
        "sim_cosine_topk": (fsim.cosine_topk, fsim.cosine_topk_sql),
        "sim_lsh_ann": (fsim.lsh_bucketed_ann, fsim.lsh_bucketed_ann_sql),
        "sim_ivf_topk": (fsim.ivf_topk, fsim.ivf_topk_sql),
        "sim_ann_recall": (fsim.ann_recall, fsim.ann_recall_sql),
        "sim_ivf_recall": (fsim.ivf_recall, fsim.ivf_recall_sql),
        "sim_kmeans": (fsim.kmeans_assign, fsim.kmeans_assign_sql),
        "dedup_exact": (fdedup.exact_dedup, fdedup.exact_dedup_sql),
        # the quadratic ground-truth verifiers run on the deterministic 1/7
        # pair sample (functions/ground_truth.py); the full exact forms stay
        # in dedup.py / similarity.py, pinned by tests
        "dedup_ngram_jaccard": (
            fgt.sampled_ngram_jaccard_pairs,
            fgt.sampled_ngram_jaccard_pairs_sql,
        ),
        "dedup_minhash_signatures": (fdedup.minhash_signatures, fdedup.minhash_signatures_sql),
        "dedup_simhash": (fdedup.simhash_signatures, fdedup.simhash_signatures_sql),
        "sim_label_centroids": (fsim.label_centroids, fsim.label_centroids_sql),
        "sim_label_minmax": (fsim.label_minmax, fsim.label_minmax_sql),
        "dedup_embedding_cosine": (
            fgt.sampled_embedding_cosine_dups,
            fgt.sampled_embedding_cosine_dups_sql,
        ),
        "mm_media_metadata": (fmm.media_metadata, fmm.media_metadata_sql),
        "mm_media_features": (fmm.media_features, fmm.media_features_sql),
        "mm_frame_sample": (fmm.frame_sample, fmm.frame_sample_sql),
        "events_pivot_counts": (evan.pivot_event_counts, evan.pivot_event_counts_sql),
        "events_distinct_users": (evan.distinct_users, evan.distinct_users_sql),
        "events_user_set_ops": (evan.user_set_ops, evan.user_set_ops_sql),
        "sim_kmeans_twolevel": (fsim.kmeans_assign_twolevel, fsim.kmeans_assign_twolevel_sql),
    }

def queries() -> dict[str, SparkForm]:
    return {name: spark_form for name, (spark_form, _) in _contract().items()}

def oracle_sql() -> dict[str, str]:
    return {name: oracle() for name, (_, oracle) in _contract().items()}
