"""Static op -> family map for the per-family time metrics.

A family is the ``sift_spark`` module that holds the op's main operator
or model builder, so ``operators.dedup_s`` is the time of every registry
query built around ``sift_spark/operators/dedup.py``.  ``corpora`` holds
the corpus-level entries (wikify, redirects, the shared corpus artifacts).
A registry query missing from this map is reported under ``unmapped``
rather than dropped.
"""

FAMILIES: dict[str, tuple[str, ...]] = {
    "corpora": (
        "corpus_shingles", "corpus_tf", "corpus_tokens", "map_redirects",
        "redirect_documents", "resolve_redirects", "url_canonical_groups",
        "wikify",
    ),
    "models.embeddings": (
        "skipgram_embeddings",
    ),
    "models.links": (
        "anchor_ambiguity", "comention_degrees", "comention_triangles",
        "entity_comentions", "entity_components", "entity_counts",
        "entity_hits", "entity_inlinks", "entity_name_counts",
        "entity_node2vec", "entity_pagerank", "entity_pmi",
        "entity_random_walks", "entity_relatedness", "entity_salience",
        "entity_vocab", "mapped_comentions", "name_disambig_baseline",
        "name_entity_priors", "name_part_counts",
    ),
    "models.text": (
        "entity_mention_tf", "entity_mentions", "indexed_mentions",
        "term_doc_frequencies", "term_frequencies", "term_idfs", "term_vocab",
    ),
    "operators.classify": (
        "quality_classifier",
    ),
    "operators.dedup": (
        "block_dedup", "containment_pairs", "dedup_apply",
        "dedup_cluster_stats", "dedup_clusters", "dedup_clusters_star",
        "dedup_embedding", "dedup_exact", "dedup_incremental",
        "dedup_jaccard_prefix", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_rate_by_source", "dedup_simhash", "doc_embedding_dup_pairs",
        "doc_novelty", "duplicate_spans", "fuzzy_contamination",
        "lsh_recall_probe", "minhash_band_tuning", "semantic_dedup",
        "similar_docs",
    ),
    "operators.events": (
        "cms_heavy_hitters", "decayed_counts", "event_transitions",
        "events_anomaly", "events_attribution", "events_changepoint",
        "events_ewma", "events_forecast", "events_funnel", "events_histogram",
        "events_interarrival", "events_mad", "events_seasonality",
        "events_sessionize", "events_sliding", "events_trending",
        "events_tumbling", "events_window_uniques", "retention_cohorts",
        "session_stats", "user_status_history", "user_streaks",
        "user_type_entropy",
    ),
    "operators.incremental": (
        "snapshot_delta", "term_drift",
    ),
    "operators.multimodal": (
        "multimodal_features", "multimodal_frame_stats",
        "multimodal_resize_checksums",
    ),
    "operators.relational": (
        "asof_clicks_errors", "basket_pairs", "churned_customers",
        "clicks_errors_interval", "customer_ntile", "customers_without_orders",
        "daily_revenue_spine", "events_json_buckets", "events_running",
        "fuzzy_name_pairs", "lineitem_stats", "order_priority_unpivot",
        "order_status_pivot", "orders_cube", "parts_above_brand_avg",
        "price_band_join", "price_percentiles", "q10_returned_items",
        "q11_important_parts", "q12_late_shipments", "q13_custdist",
        "q14_promo_revenue", "q15_top_supplier", "q16_supplier_diversity",
        "q17_small_qty", "q18_large_orders", "q19_disjunctive",
        "q1_pricing_summary", "q20_dominant_suppliers",
        "q21_waiting_suppliers", "q22_idle_customers", "q2_min_cost_supplier",
        "q3_shipping_priority", "q4_order_priority", "q5_local_supplier",
        "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "repeat_customers", "revenue_growth",
        "revenue_rollup", "rfm_segments", "top_customers",
    ),
    "operators.sampling": (
        "cluster_balanced_sample", "dsir_weights", "pack_sequences",
        "pack_sequences_sharded", "shard_skew_report", "source_quota_sample",
        "stratified_kfold", "stratified_sample", "temperature_sample",
        "temperature_weights", "train_test_split", "weighted_sample",
    ),
    "operators.similarity": (
        "ann_ivf_bucketed", "ann_ivf_scaled", "ann_lsh_bucketed",
        "ann_lsh_scaled", "ann_recall_report", "ann_topk_bruteforce",
        "embedding_dim_stats", "embedding_int8", "embedding_normalize",
        "embedding_outliers", "embedding_pca", "hard_negatives", "ivf_pq_topk",
        "ivf_query_index", "ivf_recall_report", "ivfpq_query_index",
        "ivfpq_recall_report", "kmeans_clusters", "knn_label_propagation",
        "label_spread", "pq_codes",
    ),
    "operators.text_analysis": (
        "bigram_logprob", "bm25_search", "bpe_encode", "bpe_pair_counts",
        "bpe_train", "ccnet_buckets", "contamination_check",
        "contamination_summary", "corpus_datacard", "corpus_mix_report",
        "corpus_topics", "doc_chunks", "doc_entropy", "doc_fingerprint",
        "doc_srp_embeddings", "doc_top_terms", "filter_funnel",
        "filtered_corpus", "gopher_repetition", "gopher_rules",
        "heldout_backoff_logprob", "lang_confusion", "lang_id", "pii_redact",
        "quality_bins", "quality_score", "repetition_stats",
        "retrieval_triples", "term_collocations", "text_normalize",
        "tfidf_search", "token_stats", "token_zipf_fit", "tokenizer_fertility",
        "unigram_logprob", "vocab_coverage", "windowed_pmi",
    ),
    "operators.tokenizer": (
        "unigram_train",
    ),
    "operators.validation": (
        "customer_profile", "orders_checks", "profile_drift",
    ),
}

FAMILY_OF: dict[str, str] = {op: fam for fam, ops in FAMILIES.items() for op in ops}


def family(op: str) -> str:
    return FAMILY_OF.get(op, "unmapped")
