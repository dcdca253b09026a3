"""Query registry — single source of truth for the driver contract.

Every implemented operator registers here with:
  * a Spark callable ``(spark, sf_dir) -> DataFrame`` (idiomatic
    DataFrame API — this is the engine), and
  * optionally a DuckDB-dialect ANSI SQL oracle string (the driver
    hash-compares both at sf0.01).

``__spark_entry__.queries()`` / ``oracle_sql()`` just re-export these
dicts after importing the operator modules.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Per-query scratch caches (NOT the session-long DFS views in views.py).
# Operators register them via track_cache; drivers call clear_caches()
# after materializing each query so cached blocks don't accumulate
# across a long suite run and lean on LRU eviction.
TRACKED_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cache a frame used more than once within one query's plan and
    remember it for driver-side unpersist after materialization.

    ``eager=True`` materializes the cache NOW (one count job). Use it
    when the cached frame feeds several BROADCAST subtrees of the same
    query: Spark computes broadcast exchanges as concurrent jobs at
    action start, and a lazily-cached frame none of them has
    materialized yet is recomputed by EVERY one of them (measured on
    dedup_near at sf0.1: the shingle stage — the query's most
    expensive — executed 4x per pass, ~18 core-seconds each; eager
    materialization cut the cold pass 8.5 s -> 4.1 s). The flag stays
    opt-in per site: for cheap-to-derive frames the extra count job
    serializes the critical path and LOSES (the r11 ann_recall_all
    measurement, re-confirmed this round on a window-capped signature
    variant: 3.8 s -> 6.9 s)."""
    df = df.cache()
    TRACKED_CACHES.append(df)
    if eager:
        df.count()
    return df


def clear_caches() -> None:
    while TRACKED_CACHES:
        df = TRACKED_CACHES.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Canonical registration order. The driver records correctness rows for the
# first 50 registered queries only, so every SURVEY.md §2-required operator
# must come first, then the highest-value extensions, then rows-only
# streaming queries. Names absent from this list keep registration order
# after it.
PRIORITY_ORDER = [
    # PINNED, slots 1-24: the SURVEY §2.A-2.D reference-parity core
    # (sources/sinks, scalar layer, aggregations, joins). 13 straight
    # green driver rounds AND pinned by the source-sha'd full sweeps.
    "chunk_plan", "chunk_assign", "recovery_scan", "reassembly_order",
    "event_dispatch", "checksum_compute", "checksum_verify",
    "chunkname_parse", "chunkname_format", "unit_convert", "free_space_total",
    "replica_count", "chunk_count", "file_manifest", "list_filenames",
    "incomplete_files", "dead_nodes", "node_inventory",
    "replicas_on_offline_nodes", "surviving_replicas", "lost_chunks",
    "replicas_after_corruption", "placement_candidates", "inventory_delta",
    # ROTATING WINDOW, slots 25-50 (VERDICT r13 #2; r15 #9 keeps it
    # turning: ~98 queries had never earned a driver-grade row).
    # Round-16 picks: the five r15c newcomers with zero driver history
    # (range_search/SQ-reconstruct/binary/MRL), the optimizer-touched
    # never-checked trio (minhash_estimate_error, knn_graph,
    # dedup_simhash_pairs), FIVE re-verify rows so the driver directly
    # re-checks r15/r16 optimization edits (ann_recall_all,
    # pq_recall_compare, pagerank_copurchase, triangle_count,
    # allpairs_cosine — VERDICT r15 #9 names them), then never-checked
    # sketch (cms_topk, reservoir_sample, weighted_sample_systematic,
    # bloom_prefilter, value_histogram), governance/quality
    # (l_diversity, referential_integrity, table_profile,
    # nation_reconcile, lm_quality_band, customer_rfm), and the two
    # streaming rows this round's width change touches most
    # (stream_hb_session, stream_replication_orders). Since then
    # mmr_rerank (r16 driver-side rewrite, zero-candidate guard) and
    # stream_dedup_near (r16 fresh-store path) have replaced
    # customer_rfm and stream_replication_orders, so the driver checks
    # the r16 rewrites directly.
    "ivf_range_search",
    "sq_reconstruct_error",
    "knn_ivf_binary",
    "knn_mrl",
    "mrl_recall_compare",
    "minhash_estimate_error",
    "knn_graph",
    "dedup_simhash_pairs",
    "ann_recall_all",
    "pq_recall_compare",
    "pagerank_copurchase",
    "triangle_count",
    "allpairs_cosine",
    "cms_topk",
    "reservoir_sample",
    "weighted_sample_systematic",
    "bloom_prefilter",
    "value_histogram",
    "l_diversity",
    "referential_integrity",
    "table_profile",
    "nation_reconcile",
    "lm_quality_band",
    "stream_hb_session",
    "mmr_rerank",
    "stream_dedup_near",
    # Post-window (judge self-checks these via the committed full-sweep
    # artifacts); displaced former window occupants lead the list, in
    # their prior order.
    "customer_rfm",
    "stream_replication_orders",
    "knn_ivf_sq",
    "ivf_release_versions",
    "stream_knn_store",
    "pii_scrub",
    "repetition_score",
    "corpus_filter",
    "vocab_topk",
    "oov_rate",
    "text_normalize",
    "lexical_diversity",
    "doc_chunk",
    "span_dedup",
    "tfidf_topterms",
    "dedup_ngram",
    "inverted_index",
    "bm25_search",
    "lm_score",
    "dsir_weights",
    "knn_ivf",
    "tpch_q4_priority",
    "tpch_q6_forecast",
    "tpch_q7_volume",
    "tpch_q8_marketshare",
    "tpch_q10_returns",
    "tpch_q13_custdist",
    "tpch_q14_promo",
    "publish_upsert", "checksum_join", "list_storage_nodes", "placement_pick",
    "round_robin_assign", "under_replicated", "failover_choice",
    "queue_order", "corruption_scan", "replication_orders", "hb_tumbling",
    "hb_sliding", "hb_session", "dedup_exact", "dedup_near", "knn_bruteforce",
    "text_stats", "doc_embedding_join", "tpch_q1_pricing",
    # r14's window occupants, displaced with driver-green history.
    "ivf_store_prune", "ivf_nprobe_sweep", "decontaminate_semantic",
    "stream_decontaminate", "decontaminate_report",
    "corpus_curate_decontaminated", "stream_ivf_maintenance",
    "knn_ivfpq_residual", "ivf_retrain",
    "ivf_store_delete", "stream_decontaminate_semantic",
    "ivf_store_vacuum", "knn_ivf_store_live", "knn_ivfpq",
    "kmeans_lloyd", "ann_recall", "dedup_incremental",
    "decontaminate", "dedup_clusters", "kmeans_cells", "tpch_q9_profit",
    "order_date_cube", "asof_join", "hll_distinct",
    "scd2_user_state", "knn_ivf_append",
    "ivf_imbalance", "stream_ivf_assign", "cluster_keep_best",
    "embedding_drift", "stream_embedding_drift", "embedding_covariance",
    "retention_cohorts", "gram_power_topvec", "t_closeness",
    "dsir_sample", "substring_scrub", "knn_ivf_trained",
    "bpe_merges", "knn_pq_adc", "substring_dedup",
    "kll_quantiles", "stream_attribution_outer", "bfs_distances", "heavy_hitters", "dedup_semantic", "hybrid_search", "corpus_curate_semantic",
    "corpus_curate", "kmv_set_ops", "zorder_layout", "k_anonymity",
    "tpch_q3_shipping", "tpch_q5_localsupp",
    "topk_orders_per_customer", "priority_rollup", "ann_lsh",
    "dedup_simhash", "dedup_embedding", "price_outliers",
    "customer_year_setops", "priority_pivot", "price_median",
    "range_join_views", "distinct_customers_approx", "token_count",
    "quality_score", "doc_fingerprint", "lang_id", "hb_rate",
    "stratified_sample", "label_centroids", "dataset_split",
    "sequence_pack", "event_sessionize", "event_funnel", "domain_mix",
    "tpch_q18_bigorders", "tpch_q19_brackets",
    "tpch_q22_prospects", "fuzzy_name_match", "gapfill_ffill", "pq_encode",
    "media_metadata", "media_features", "stream_node_last_seen",
    "stream_corruption_alerts", "stream_liveness_state",
    "stream_dedup_exact",
    "stream_event_dispatch", "priority_unpivot", "asof_join_bucketed",
    "customer_value_deciles", "skyline_orders", "priority_sets",
    "aqp_revenue", "dau_wau", "ab_test_conversion", "supplier_balance_ranks",
    "hard_negatives", "pq_encode_lloyd", "embedding_stats", "bpe_encode", "remove_boilerplate", "domain_resample",
    "negative_sampling", "domain_caps", "corpus_curate_capped",
    "rendezvous_placement", "compaction_plan", "knn_label_eval", "pca_project", "media_phash_dedup", "media_audio_dedup",
    "media_video_dedup", "collocations_lift",
    "phrase_search", "event_props_extract", "event_debounce",
    "event_throttle", "max_concurrency", "event_transitions",
    "event_session_assign", "attribution_credit", "coverage_time", "rolling_stats", "event_value_quantiles", "anomaly_zscore",
    "approx_quantiles", "cusum_changepoints", "ohlc_hourly",
    "tpch_q12_shipmode", "tpch_q15_topsupplier", "tpch_q17_smallqty",
    "tpch_q21_waiting", "tpch_q2_mincost", "tpch_q11_stockvalue",
    "tpch_q16_partcount", "tpch_q20_promotion", "stream_trending",
    "stream_attribution", "stream_throttle", "stream_dedup_ttl",
    "stream_distinct_users", "stream_sessionize", "stream_ohlc",
    "stream_hot_keys",
    # Round-15b/c tail: the remaining FAISS index-API surface
    # (range_search + reconstruct), 1-bit binary quantization, and
    # Matryoshka prefix-dim retrieval. Appended past the window; they
    # enter the slot 25-50 rotation next round.
    ]


def load_all() -> None:
    """Import every operator module, then fix the registration order."""
    from .operators import analytics  # noqa: F401
    from .operators import ann  # noqa: F401
    from .operators import bpe  # noqa: F401
    from .operators import corpus  # noqa: F401
    from .operators import dfs_meta  # noqa: F401
    from .operators import dfs_scalar  # noqa: F401
    from .operators import er  # noqa: F401
    from .operators import governance  # noqa: F401
    from .operators import graph  # noqa: F401
    from .operators import layout  # noqa: F401
    from .operators import linalg  # noqa: F401
    from .operators import llm  # noqa: F401
    from .operators import multimodal  # noqa: F401
    from .operators import pipeline  # noqa: F401
    from .operators import quality  # noqa: F401
    from .operators import search  # noqa: F401
    from .operators import sessions  # noqa: F401
    from .operators import sketches  # noqa: F401
    from .operators import timeseries  # noqa: F401
    from .operators import tpch  # noqa: F401
    from .operators import windows  # noqa: F401
    from .streaming import liveness  # noqa: F401
    from .streaming import neardup  # noqa: F401
    from .streaming import replication  # noqa: F401
    from .streaming import stateful  # noqa: F401
    from .streaming import trending  # noqa: F401
    from .streaming import vectors  # noqa: F401

    ordered = [n for n in PRIORITY_ORDER if n in QUERIES]
    ordered += [n for n in QUERIES if n not in PRIORITY_ORDER]
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in ordered if n in snapshot})
