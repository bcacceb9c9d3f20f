"""Named-query registry — the correctness gate's table of contents.

Every operator in SURVEY.md §2 (plus the LLM-pipeline additions) registers
one or more named queries here via the ``@query`` decorator. Each query is
a callable ``(spark, sf_dir) -> DataFrame``; most also carry the
equivalent ANSI SQL that DuckDB runs over the same parquet files. The
driver hash-compares the two result sets (sorted columns, order-
insensitive), so:

- every computed column is ALIASED identically in Spark and SQL;
- double aggregates are rounded (sum/avg of doubles is order-dependent —
  rounding to a few decimals makes both engines agree bit-for-bit);
- timestamps cross the boundary as epoch seconds (BIGINT) or formatted
  strings, never raw timestamp objects (timezone-handling differs);
- ties in any top-k are broken by a deterministic key column.

Queries with no SQL equivalent (LSH candidate generation, stateful
streaming) register with ``oracle=None`` → the driver records a weaker
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str


REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None, description: str = ""):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = RegisteredQuery(
            name=name, fn=fn, oracle=oracle, description=description or (fn.__doc__ or "")
        )
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: rq.fn for name, rq in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: rq.oracle for name, rq in REGISTRY.items() if rq.oracle is not None}


_loaded = False

# Registry order = the order the driver runs queries in, and the driver
# verifies only the first ~50 per round. With >50 registered queries the
# order IS the coverage policy, so it is explicit here (not an accident of
# import order) and rotates per round. The r16 window is the r10 cohort
# (50 queries whose last official row is r10); then the r11, r12 and r13
# cohorts; then the r15 cohort, which is the r14 window verified again
# at r15. The freshness bound is ceil(N / window): with N registered
# queries and a 50-slot window a full rotation takes ceil(N/50) rounds,
# so that staleness is achievable by a perfect rotation and nothing
# tighter is — every query registration therefore RAISES worst-case
# staleness and must be worth a ledger slot. The order is kept by hand:
# scripts/ledger_check.py does not recompute it, it checks it against the
# CORRECTNESS_r*.json history and exits nonzero if the window about to be
# submitted would let any query's staleness exceed the freshness bound.
# Rotate this list whenever a new CORRECTNESS_r*.json lands;
# tests/test_parity_counts.py::test_ledger_freshness fails until it is.
# Registration round of queries that did not exist when the official
# ledger began rotating (scripts/ledger_check.py measures a
# never-ledgered query's staleness from its BIRTH round, not r0 — a
# query born this round cannot have a stale official row; it must land
# an official row within `bound` rounds of its birth).
_REGISTERED_ROUND: dict[str, int] = {
    name: 11
    for name in (
        'q_warc_extract', 'q_warc_wet_tokens', 'q_domain_stats',
        'q_blocklist_filter', 'q_multimodal_avc_deblock',
        'q_approx_distinct_kmv', 'q_url_canonicalize',
        'q_boilerplate_blocks', 'q_mixture_temperature',
        'q_badwords_filter', 'q_wds_roundtrip', 'q_stream_kmv_distinct',
        'q_wds_multimodal', 'q_stream_warc', 'q_meta_robots_filter',
        'q_chunk_sentences', 'q_cdx_index', 'q_stream_wds',
        'q_robots_rules_filter', 'q_stream_url_dedup',
        'q_warc_pair_capture',
    )
}
_REGISTERED_ROUND.update({'q_mp3_probe': 12, 'q_unicode_nfc': 12, 'q_script_mix': 12, 'q_charset_decode': 12, 'q_robots_txt_parse': 12})
_REGISTERED_ROUND.update({'q_lang_id_trained': 13, 'q_web_funnel': 13, 'q_sitemap_parse': 13, 'q_crawl_schedule': 13, 'q_http_headers': 13, 'q_url_features': 13, 'q_stream_charset_ingest': 13})
_REGISTERED_ROUND.update({'q_outlink_frontier': 14, 'q_lang_mismatch': 14})

_PRIORITY: list[str] = [
    # ================= r16 window (first 50) =================
    # last official row: r10 (50 queries — the oldest cohort)
    'q02_min_cost_supplier',
    'q11_important_stock',
    'q15_top_supplier',
    'q16_supplier_part_types',
    'q17_small_quantity_revenue',
    'q20_concentrated_suppliers',
    'q21_waiting_suppliers',
    'q22_dormant_customers',
    'q_acf',
    'q_ann_ivf_trained',
    'q_ann_ivfpq',
    'q_ann_ivfpq_residual',
    'q_ann_pq',
    'q_ann_pq_trained',
    'q_ann_rerank',
    'q_approx_percentile',
    'q_audio_segments',
    'q_audio_segments_flac',
    'q_audio_segments_g711',
    'q_bm25_rank',
    'q_bpe_real',
    'q_cdc_apply',
    'q_cluster_safe_split',
    'q_cogroup_attribution',
    'q_corpus_mixture_bpe',
    'q_corpus_split',
    'q_custom_source_ticks',
    'q_cusum_changepoint',
    'q_data_expectations',
    'q_embedding_centroids',
    'q_fuzzy_token_pairs',
    'q_gap_fill_linear',
    'q_gap_fill_locf',
    'q_kmeans_embeddings',
    'q_kneser_ney_logprob',
    'q_multimodal_avc_decode',
    'q_multimodal_features',
    'q_multimodal_real_decode',
    'q_ppl_band_prune',
    'q_quality_classifier',
    'q_quality_classifier_eval',
    'q_quality_classifier_weights',
    'q_seasonal_decompose',
    'q_sequence_packing_bpe',
    'q_sequence_patterns',
    'q_stream_cusum',
    'q_stream_quality_gate',
    'q_stream_weighted_sample',
    'q_unigram_tokenize',
    'q_weighted_sample',
    # ================= outside the window =================
    # last official row: r11 (50 queries)
    'q_approx_distinct_kmv',
    'q_badwords_filter',
    'q_blocklist_filter',
    'q_boilerplate_blocks',
    'q_cdx_index',
    'q_chunk_sentences',
    'q_domain_stats',
    'q_heavy_hitters',
    'q_hierarchical_rollup',
    'q_html_extract',
    'q_json_variant',
    'q_kmeans_assign',
    'q_line_dedup',
    'q_lpa_labels',
    'q_mad_outliers',
    'q_meta_robots_filter',
    'q_mixture_temperature',
    'q_multimodal_avc_deblock',
    'q_ohlc_bars',
    'q_pagerank_near_dups',
    'q_pipeline_funnel',
    'q_robots_rules_filter',
    'q_scd2_customers',
    'q_sentence_split',
    'q_stratified_sample',
    'q_stream_cdc_apply',
    'q_stream_chained_agg',
    'q_stream_join_full',
    'q_stream_join_semi',
    'q_stream_kmv_distinct',
    'q_stream_ohlc',
    'q_stream_state_v2',
    'q_stream_state_v2_list',
    'q_stream_state_v2_map',
    'q_stream_state_v2_reduce',
    'q_stream_warc',
    'q_stream_wds',
    'q_stream_window_collect',
    'q_unigram_logprob',
    'q_url_canonicalize',
    'q_warc_extract',
    'q_warc_wet_tokens',
    'q_wds_multimodal',
    'q_wds_roundtrip',
    'q_window_session',
    'q_window_sliding',
    'q_window_tumbling',
    'q_winnow_dup_pairs',
    'q_winnow_fingerprints',
    'q_zorder_events',
    # last official row: r12 (50 queries)
    'q01_pricing_summary',
    'q03_shipping_priority',
    'q05_local_supplier_volume',
    'q_agg_global',
    'q_agg_running',
    'q_association_rules',
    'q_avro_roundtrip',
    'q_bfs_hops',
    'q_clustering_coeff',
    'q_cohort_retention',
    'q_correlation',
    'q_count_distinct',
    'q_cube_orders',
    'q_datetime_funcs',
    'q_ewma',
    'q_filter_threshold',
    'q_holt',
    'q_hybrid_rrf',
    'q_impute_mode',
    'q_incremental_agg_refresh',
    'q_incremental_dedup',
    'q_join_inner',
    'q_kanon_pseudonymize',
    'q_kcore',
    'q_key_skew',
    'q_map_scalar',
    'q_mmr_diversify',
    'q_pagerank_exact',
    'q_percentiles_distributed',
    'q_phrase_search',
    'q_pii_redaction',
    'q_pivot_event_counts',
    'q_recursive_hierarchy',
    'q_rolling_slope',
    'q_rollup_revenue',
    'q_semdedup',
    'q_semdedup_incremental',
    'q_snapshot_diff',
    'q_stream_avro',
    'q_stream_ewma',
    'q_stream_holt',
    'q_stream_semdedup',
    'q_stream_window_session_dynamic',
    'q_string_funcs',
    'q_triangle_counts',
    'q_udaf_geomean',
    'q_window_collect',
    'q_window_distribution',
    'q_window_range_frame',
    'q_winsorize',
    # last official row: r13 (50 queries)
    'q_stream_url_dedup',
    'q_warc_pair_capture',
    'q_approx_distinct',
    'q_containment_pairs',
    'q_corpus_stats',
    'q_cosine_topk',
    'q_dedup_clusters',
    'q_dedup_exact',
    'q_dedup_exact_docs',
    'q_embedding_dedup_clusters',
    'q_embedding_near_dup',
    'q_fingerprint',
    'q_holt_winters',
    'q_join_anti',
    'q_join_asof',
    'q_join_interval',
    'q_join_left',
    'q_join_salted',
    'q_join_semi',
    'q_lang_id',
    'q_minhash_lsh_pairs',
    'q_ngram_jaccard_pairs',
    'q_orderby_limit',
    'q_percentiles',
    'q_quality_filter',
    'q_repetition_ratio',
    'q_set_ops',
    'q_simhash_pairs',
    'q_stream_holt_winters',
    'q_substring_dup_spans',
    'q_text_quality',
    'q_text_tokens',
    'q_token_histogram',
    'q_topk_per_group',
    'q_window_rank',
    'q_window_running',
    'q_mp3_probe',
    'q_unicode_nfc',
    'q_script_mix',
    'q_charset_decode',
    'q_robots_txt_parse',
    'q04_order_priority',
    'q06_forecast_revenue',
    'q07_volume_shipping',
    'q08_market_share',
    'q09_product_profit',
    'q10_returned_items',
    'q12_priority_shipments',
    'q13_customer_distribution',
    'q14_promo_revenue',
    # last official row: r15 (50 queries — freshest cohort: the r14
    # window, verified again at r15)
    'q18_large_volume',
    'q19_discounted_revenue',
    'q_ann_ivf',
    'q_anomaly_zscore',
    'q_bigram_logprob',
    'q_bpe_token_count',
    'q_case_when_anomaly',
    'q_contamination',
    'q_corpus_mixture',
    'q_doc_chunking',
    'q_doc_chunking_bpe',
    'q_doc_commonness',
    'q_dsir_weights',
    'q_dup_ngram_rate',
    'q_embedding_quantize',
    'q_event_sequence',
    'q_flatmap_wordcount',
    'q_gopher_rules',
    'q_grouping_sets',
    'q_interevent_gaps',
    'q_join_range',
    'q_json_extract',
    'q_pps_sample',
    'q_sequence_packing',
    'q_sql_exists',
    'q_stream_dedup',
    'q_stream_enrich',
    'q_stream_event_sequence',
    'q_stream_gopher_gate',
    'q_stream_join_interval',
    'q_stream_join_left',
    'q_stream_keyed_process',
    'q_stream_running_agg',
    'q_stream_window_session',
    'q_stream_window_sliding',
    'q_stream_window_tumbling',
    'q_string_agg',
    'q_top_tokens',
    'q_unpivot_event_counts',
    'q_video_frame_sample',
    'q_window_navigation',
    'q_lang_id_trained',
    'q_web_funnel',
    'q_sitemap_parse',
    'q_crawl_schedule',
    'q_http_headers',
    'q_url_features',
    'q_stream_charset_ingest',
    'q_outlink_frontier',
    'q_lang_mismatch',
]


def _ensure_loaded() -> None:
    """Import every query module exactly once so decorators run, then
    reorder the registry to the explicit coverage-rotation order."""
    global _loaded
    if _loaded:
        return
    from stream_processing_platform_spark.queries import (  # noqa: F401
        graph,
        relational,
        similarity,
        streaming_batch,
        streaming_live,
        text,
        timeseries,
        web,
    )

    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"_PRIORITY names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    ordered.update((n, rq) for n, rq in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)
    _loaded = True
