#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints exactly one JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized via a count-style action (no driver-side
row transfer); wall time includes planning + execution.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from sift_spark.caching import ARTIFACTS, release_local_caches
    from sift_spark.queries import QUERIES
    from sift_spark.session import codegen_compiles, get_spark, shuffle_partitions_for

    # size-aware reduce parallelism: ~16MB/partition clamped [8, cpus]
    # — full core count at sf1+, no 32-task stages on a 100MB input
    spark = get_spark(
        "sift_spark_bench",
        shuffle_partitions=shuffle_partitions_for(sf_dir),
    )

    # headline set: one per operator family, heaviest variants.
    # corpus_tokens runs FIRST so the session token artifact's build
    # cost is its own line (not the first text query's); corpus_tf /
    # corpus_shingles likewise precede their consumer families.
    headline = [
        "corpus_tokens",
        "wikify",
        "entity_counts",
        "entity_name_counts",
        "entity_inlinks",
        "entity_vocab",
        "entity_comentions",
        "mapped_comentions",
        "name_part_counts",
        "term_frequencies",
        "term_doc_frequencies",
        "term_idfs",
        "entity_mentions",
        "entity_mention_tf",
        "indexed_mentions",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "q4_order_priority",
        "q7_volume_shipping",
        "q9_product_profit",
        "q10_returned_items",
        "q13_custdist",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_qty",
        "q18_large_orders",
        "q19_disjunctive",
        "q22_idle_customers",
        "q2_min_cost_supplier",
        "q8_market_share",
        "q11_important_parts",
        "q12_late_shipments",
        "q16_supplier_diversity",
        "q20_dominant_suppliers",
        "q21_waiting_suppliers",
        "orders_cube",
        "q6_forecast_revenue",
        "parts_above_brand_avg",
        "daily_revenue_spine",
        "fuzzy_name_pairs",
        "order_priority_unpivot",
        "customer_ntile",
        "churned_customers",
        "repeat_customers",
        "customers_without_orders",
        "revenue_rollup",
        "order_status_pivot",
        "price_percentiles",
        "events_json_buckets",
        "events_running",
        "asof_clicks_errors",
        "clicks_errors_interval",
        "top_customers",
        "events_tumbling",
        "events_trending",
        "events_sliding",
        "events_histogram",
        "lineitem_stats",
        "pack_sequences",
        "pack_sequences_sharded",
        "events_sessionize",
        "corpus_tf",
        "corpus_shingles",
        "dedup_exact",
        "block_dedup",
        "doc_chunks",
        "term_collocations",
        "dedup_minhash_lsh",
        "dedup_clusters",
        "dedup_apply",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_embedding",
        "ann_topk_bruteforce",
        "knn_label_propagation",
        "ann_lsh_bucketed",
        "ann_ivf_bucketed",
        "ivf_pq_topk",
        "ivf_query_index",
        "ivfpq_query_index",
        "ivf_recall_report",
        "ivfpq_recall_report",
        "lang_id",
        "quality_score",
        "token_stats",
        "doc_fingerprint",
        "contamination_check",
        "entity_relatedness",
        "entity_pagerank",
        "entity_pmi",
        "doc_top_terms",
        "events_funnel",
        "tfidf_search",
        "bm25_search",
        "text_normalize",
        "events_anomaly",
        "events_seasonality",
        "comention_degrees",
        "weighted_sample",
        "retention_cohorts",
        "rfm_segments",
        "comention_triangles",
        "stratified_sample",
        "train_test_split",
        "repetition_stats",
        "gopher_rules",
        "gopher_repetition",
        "embedding_outliers",
        "source_quota_sample",
        "unigram_logprob",
        "kmeans_clusters",
        "name_entity_priors",
        "name_disambig_baseline",
        "pq_codes",
        "doc_entropy",
        "bigram_logprob",
        "bpe_pair_counts",
        "filtered_corpus",
        "events_mad",
        "lang_confusion",
        "corpus_mix_report",
        "events_interarrival",
        "basket_pairs",
        "revenue_growth",
        "user_streaks",
        "embedding_dim_stats",
        "containment_pairs",
        "price_band_join",
        "anchor_ambiguity",
        "doc_novelty",
        "dsir_weights",
        "semantic_dedup",
        "bpe_train",
        "dedup_clusters_star",
        "dedup_incremental",
        "entity_components",
        "similar_docs",
        "user_status_history",
        "cms_heavy_hitters",
        "multimodal_features",
        "multimodal_frame_stats",
        "multimodal_resize_checksums",
        "duplicate_spans",
        "dedup_jaccard_prefix",
        "events_attribution",
        "events_ewma",
        "url_canonical_groups",
        "bpe_encode",
        "session_stats",
        "events_window_uniques",
        "embedding_normalize",
        "entity_hits",
        "ann_ivf_scaled",
        "ann_lsh_scaled",
        "events_changepoint",
        "temperature_weights",
        "temperature_sample",
        "embedding_pca",
        "entity_salience",
        "fuzzy_contamination",
        "entity_random_walks",
        "events_forecast",
        "dedup_cluster_stats",
        "user_type_entropy",
        "embedding_int8",
        "quality_bins",
        "entity_node2vec",
        "orders_checks",
        "customer_profile",
        "pii_redact",
        "profile_drift",
        "token_zipf_fit",
        "shard_skew_report",
        "filter_funnel",
        "vocab_coverage",
        "contamination_summary",
        "dedup_rate_by_source",
        "lsh_recall_probe",
        "minhash_band_tuning",
        "tokenizer_fertility",
        "ann_recall_report",
        "ccnet_buckets",
        "hard_negatives",
        "cluster_balanced_sample",
        "quality_classifier",
        "snapshot_delta",
        "term_drift",
        "unigram_train",
        "label_spread",
        "doc_srp_embeddings",
        "decayed_counts",
        "corpus_datacard",
        "stratified_kfold",
        "doc_embedding_dup_pairs",
        "heldout_backoff_logprob",
        "retrieval_triples",
        "corpus_topics",
        "event_transitions",
        "windowed_pmi",
    ]

    # warmup: JVM/codegen/parquet-footer costs land here, not on the
    # first measured query
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(10).count()

    # Protocol: cold + warm-min, the SAME uniform protocol as the
    # sf1/sf2 studies (AMORTIZATION_*.json) and as the DuckDB baseline
    # itself (per-query MIN over three idle sweeps — BASELINE.md).
    # Each query runs twice in-process; the headline value is the
    # per-query minimum (steady-state engine cost: a single JVM pays
    # whole-stage-codegen compile + JIT on the first execution of each
    # plan shape — measured 3-4x the steady-state cost at 60 MB — a
    # warmup a 1000-executor deployment amortizes away entirely, and
    # one the warm DuckDB baseline never pays). cold_total_sec keeps
    # the first-run aggregate visible. The session artifacts'
    # accounting lines (ARTIFACTS[...].query: corpus_tokens, corpus_tf,
    # corpus_shingles, dedup_minhash_lsh) stay FIRST-run by design:
    # their line exists to account the artifact build cost, which a
    # warm re-read would hide.
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    n_jobs: dict[str, int] = {}
    # Janino compiles per rep, [cold, warm] (warm None on artifact
    # lines): a warm rep that still compiles means its plan's classes
    # fell out of the generated-class cache
    compiles: dict[str, list[int | None]] = {}
    total = 0.0
    sc = spark.sparkContext
    # r12 (advice item): builder-LOCAL persists (race-point caches
    # inside query builders — tfidf's weight table, the comention edge
    # list, lsh_recall_probe's intermediates, ...) are plan-keyed in
    # Spark's CacheManager, so the warm rep of a query would otherwise
    # read the cold rep's cached intermediates instead of recomputing
    # them — the warm-min would measure a cache read, not the engine.
    # Builders register those persists in sift_spark.caching; releasing
    # them between the reps makes every timed run recompute from the
    # parquet inputs. Session ARTIFACTS are exempt by design:
    # cross-query reuse is their documented contract and their build
    # cost is accounted on their own COLD lines.
    artifact_lines = {a.query for a in ARTIFACTS.values() if a.query}
    for name in headline:
        fn = QUERIES[name]
        # per-query job group: the scheduled-job count decomposes the
        # small-SF eagerness floor (each scheduled job costs ~0.3-0.5s
        # at 60 MB regardless of data) from real data work — the
        # mechanical split behind the sf0.1 aggregate-ratio creep
        sc.setJobGroup(f"bench:{name}", name)
        c0 = codegen_compiles(spark)
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        dt1 = round(time.time() - t0, 3)
        n_jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"bench:{name}"))
        cold[name] = dt1
        compiles[name] = [codegen_compiles(spark) - c0, None]
        release_local_caches()  # warm rep must recompute, not cache-read
        if name in artifact_lines:
            dt = dt1
        else:
            c0 = codegen_compiles(spark)
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = min(dt1, round(time.time() - t0, 3))
            compiles[name][1] = codegen_compiles(spark) - c0
            release_local_caches()  # no builder-local storage leaks across lines
        times[name] = dt
        total += dt
        print(
            f"# {name}: {dt:.2f}s warm-min / {dt1:.2f}s cold "
            f"({n} rows, {n_jobs[name]} jobs, compiles cold/warm "
            f"{compiles[name][0]}/{compiles[name][1]})",
            file=sys.stderr,
        )

    out = {
        "metric": "headline_suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # protocol_version 2 = warm-min headline (since r8). Version 1
        # (r1-r7) reported cold single runs in the same fields — do NOT
        # compare `value`/`vs_baseline_ratio` across versions; use
        # `cold_total_sec`/`vs_baseline_ratio_cold` against v1 numbers.
        "protocol_version": 2,
        "protocol": "warm-min of 2 in-process runs per query "
                    "(artifact build lines cold); cold_total_sec = first runs",
        "cold_total_sec": round(sum(cold.values()), 3),
    }

    # standing single-node baseline (scripts/baseline_duckdb.py): when
    # present for this SF, emit the aggregate ratio; --vs-baseline
    # additionally emits per-query ratios (spark_sec / duck_sec)
    base_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"baseline_duckdb_sf{sf:g}.json"
    )
    if os.path.exists(base_path):
        with open(base_path) as fh:
            base = json.load(fh)
        shared = [q for q in times if q in base["queries"]]
        spark_shared = sum(times[q] for q in shared)
        duck_shared = sum(base["queries"][q] for q in shared)
        out["baseline_engine"] = base.get("engine", "duckdb")
        out["baseline_total_sec"] = round(duck_shared, 3)
        out["vs_baseline_ratio"] = (
            round(spark_shared / duck_shared, 3) if duck_shared else None
        )
        # the first-run aggregate against the same baseline, for
        # transparency alongside the warm-min headline
        cold_shared = sum(cold[q] for q in shared)
        out["vs_baseline_ratio_cold"] = (
            round(cold_shared / duck_shared, 3) if duck_shared else None
        )
        if "--vs-baseline" in sys.argv:
            out["query_ratios"] = {
                q: round(times[q] / base["queries"][q], 2)
                for q in shared
                if base["queries"][q] > 0
            }

    # The driver records only a (truncatable) stdout tail, so persist the
    # complete per-query JSON to a stable artifact as well — per-query
    # round-over-round grading needs all ~180 timings, not a regex-
    # recoverable subset (round-5 verdict item #1).
    # BENCH_FULL additionally carries the per-query scheduled-job
    # counts and the artifact accounting split: queries consuming a
    # session artifact report MARGINAL cost over it (the artifact
    # build is its own corpus_* line), so their per-query vs_duckdb
    # ratios are marginal-cost numbers, not standalone-run numbers —
    # derived mechanically from each query builder's source.
    import inspect

    art_lines = [q for q in times if q in artifact_lines]
    full = dict(out)
    full["queries_cold"] = cold
    full["query_jobs"] = n_jobs
    full["query_compiles"] = compiles
    full["artifact_lines"] = art_lines
    full["artifact_marginal"] = sorted(
        q for q in times
        if q not in art_lines
        and any(h in inspect.getsource(QUERIES[q]) for h in ARTIFACTS)
    )
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")

    # sanctioned artifact teardown (lifecycle API): a bench run must
    # not leave the session holding the dataset's persisted artifacts
    from sift_spark.queries import corpus_artifacts

    corpus_artifacts(spark, sf_dir).release()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
