"""Plan assertions: pushdown / broadcast / codegen guards for the
flagship queries (SURVEY §5.4). A perf regression that flips a
broadcast to a sort-merge join or loses parquet pushdown fails here,
not in a bench eyeball."""

from __future__ import annotations

from collections import Counter

import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushdown(spark):
    from sift_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q3_broadcasts_customer(spark):
    from sift_spark.io import table
    from sift_spark.operators.relational import q3_shipping_priority

    df = q3_shipping_priority(
        table(spark, SF_SMOKE, "customer"),
        table(spark, SF_SMOKE, "orders"),
        table(spark, SF_SMOKE, "lineitem"),
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_q1_column_pruning(spark):
    from sift_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"))
    plan = _plan(df)
    # scan must not read join keys/partkeys we don't use
    assert "l_partkey" not in plan and "l_suppkey" not in plan


def test_entity_counts_is_single_shuffle(spark):
    from sift_spark.corpora.synthetic import wikify_links
    from sift_spark.models.links import entity_counts

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = entity_counts(wikify_links(docs))
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    # column pruning goes all the way: only text is read (doc_id is
    # unused by the aggregate and pruned from the scan)
    assert "ReadSchema: struct<text:string>" in plan
    # map-side combine before the single shuffle
    assert "partial_count" in plan


def test_entity_mention_tf_broadcasts_idf(spark):
    from sift_spark.corpora.synthetic import wikify_links
    from sift_spark.models.text import entity_mention_term_frequency, entity_mentions, term_idfs

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = entity_mention_term_frequency(
        entity_mentions(docs, wikify_links(docs)), term_idfs(docs)
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_wholestage_codegen_in_text_models(spark):
    from sift_spark.models.text import term_frequencies

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = term_frequencies(docs, max_ngram=2)
    plan = _plan(df)
    # whole pipeline is JVM expressions: no Python evaluation nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # single shuffle with map-side combine; scan pruned to text
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_unigram_logprob_no_cartesian_and_broadcast_total(spark):
    """The 1-row total must ride in as a broadcast nested-loop (a
    single-row join is fine); the term join must be hash-keyed, never
    a cartesian product."""
    from sift_spark.operators.text_analysis import unigram_logprob

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(unigram_logprob(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_pagerank_joins_are_keyed(spark):
    """Comention self-join and every iteration join must be keyed
    (hash/sort-merge), never a cartesian product. The ONLY permitted
    BroadcastNestedLoopJoin is the 1-row node-count scalar injection
    (same shape as unigram_logprob's N join above) — exactly one
    build, reused: per-iteration count joins would each schedule a
    broadcast build job (measured 53 jobs vs 19)."""
    from sift_spark.corpora.synthetic import wikify_links
    from sift_spark.models.links import entity_pagerank

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(entity_pagerank(wikify_links(docs)))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def _node_counts(build, classes) -> tuple[int, ...]:
    """Counts of each named physical node class in the executed plan of
    the frame ``build()`` returns, walking into the plans of persisted
    intermediates. Builder-local caches are released before the build
    (another builder's cached subplan would change the shape) and
    after the count."""
    from sift_spark.caching import release_local_caches
    from tests.test_plan_audit import plan_nodes

    release_local_caches()
    try:
        plan = build()._jdf.queryExecution().executedPlan()
        c = Counter(n.getClass().getSimpleName() for n in plan_nodes(plan))
    finally:
        release_local_caches()
    return tuple(c[k] for k in classes)


# Executed-plan node counts of the comention family at SF_SMOKE, as
# (ShuffleExchange, SortMergeJoin, BroadcastHashJoin, HashAggregate).
# Recorded while every builder still wrote its own comention self-join,
# so the shared edge builders must reproduce each physical shape
# exactly. The walk includes the plans of persisted intermediates.
COMENTION_PLAN_PINS = {
    "entity_pagerank": (60, 10, 12, 98),
    "entity_hits": (37, 0, 16, 74),
    "entity_relatedness": (7, 0, 3, 14),
    "entity_pmi": (10, 0, 3, 20),
    "comention_triangles": (7, 0, 5, 17),
    "comention_degrees": (7, 0, 3, 16),
    "entity_components": (3, 0, 1, 6),
    "entity_random_walks": (33, 4, 5, 30),
    "entity_link_prediction": (17, 3, 4, 28),
    "entity_node2vec_walks": (31, 5, 6, 38),
}


@pytest.mark.parametrize("name", list(COMENTION_PLAN_PINS))
def test_comention_family_plan_shape(spark, monkeypatch, name):
    from pyspark.sql import functions as F

    from sift_spark.corpora.synthetic import wikify_links
    from sift_spark.models import links as L
    from sift_spark.operators import dedup

    # entity_components hands its pair table to the driver-gated star
    # contraction, whose checkpointed output hides the build: pin the
    # pair table the contraction would receive
    monkeypatch.setattr(dedup, "duplicate_clusters_star", lambda pairs: pairs.select(
        F.col("doc1").alias("doc_id"), F.col("doc2").alias("rep_id")))
    got = _node_counts(
        lambda: getattr(L, name)(
            wikify_links(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
        ),
        ("ShuffleExchangeExec", "SortMergeJoinExec", "BroadcastHashJoinExec",
         "HashAggregateExec"),
    )
    assert got == COMENTION_PLAN_PINS[name]


# Executed-plan node counts of the ANN family's registry queries at
# SF_SMOKE, as (ShuffleExchange, FlatMapCoGroupsInPandas, MapInPandas,
# SortMergeJoin, BroadcastHashJoin, Window). Recorded while every
# operator in operators/similarity.py still carried its own copy of
# the nearest-cell, GEMM top-k and recall kernels, so the shared
# kernels must reproduce each physical shape exactly. The walk
# includes the plans of persisted intermediates.
ANN_PLAN_PINS = {
    "ann_topk_bruteforce": (3, 1, 0, 0, 0, 1),
    "ann_ivf_bucketed": (3, 1, 2, 0, 2, 1),
    "ann_ivf_scaled": (3, 1, 2, 0, 2, 1),
    "ann_lsh_bucketed": (4, 1, 2, 0, 2, 1),
    "ann_lsh_scaled": (4, 1, 2, 0, 2, 1),
    "ivf_pq_topk": (3, 1, 3, 0, 2, 1),
    "ivf_query_index": (3, 1, 1, 0, 1, 1),
    "ivfpq_query_index": (3, 1, 1, 0, 1, 1),
    "ann_recall_report": (13, 3, 2, 2, 2, 3),
    "ivf_recall_report": (13, 3, 1, 2, 1, 3),
    "ivfpq_recall_report": (13, 3, 1, 2, 1, 3),
    "hard_negatives": (3, 1, 0, 0, 0, 1),
    "label_spread": (9, 2, 0, 1, 2, 4),
    "knn_label_propagation": (3, 1, 0, 0, 1, 2),
    "kmeans_clusters": (0, 0, 1, 0, 0, 0),
    "semantic_dedup": (3, 0, 2, 1, 2, 0),
    "dedup_embedding": (2, 1, 0, 0, 0, 0),
    "doc_embedding_dup_pairs": (16, 1, 0, 0, 2, 0),
    "cluster_balanced_sample": (1, 0, 1, 0, 0, 1),
}


@pytest.mark.parametrize("name", list(ANN_PLAN_PINS))
def test_ann_family_plan_shape(spark, name):
    from sift_spark.queries import QUERIES

    got = _node_counts(
        lambda: QUERIES[name](spark, SF_SMOKE),
        ("ShuffleExchangeExec", "FlatMapCoGroupsInPandasExec", "MapInPandasExec",
         "SortMergeJoinExec", "BroadcastHashJoinExec", "WindowExec"),
    )
    assert got == ANN_PLAN_PINS[name]


# Executed-plan node counts of the dedup family at SF_SMOKE, as
# (ShuffleExchange, SortMergeJoin, BroadcastHashJoin, HashAggregate,
# ObjectHashAggregate, Window). Recorded while operators/dedup.py still
# carried its own copies of the shingle build, the band-table build,
# the band-collision join, the shared-shingle pair self-join and the
# set-jaccard expression, so the shared kernels must reproduce each
# physical shape exactly. Plain names are registry queries, which read
# the session's shared artifacts; names ending in "()" are direct calls
# on the documents with no ``sh=``, the path that builds its own
# shingle table. The walk includes the plans of persisted intermediates.
DEDUP_PLAN_PINS = {
    "containment_pairs": (3, 0, 1, 2, 0, 0),
    "dedup_ngram_jaccard": (3, 0, 1, 2, 0, 0),
    "dedup_jaccard_prefix": (10, 0, 3, 2, 4, 6),
    "dedup_incremental": (19, 0, 24, 26, 4, 0),
    "lsh_recall_probe": (14, 0, 7, 16, 0, 0),
    "fuzzy_contamination": (13, 0, 5, 16, 4, 0),
    "contamination_check": (3, 0, 1, 4, 0, 0),
    "contamination_summary": (18, 1, 6, 24, 4, 0),
    "similar_docs": (7, 0, 2, 6, 0, 1),
    "doc_novelty": (4, 0, 1, 4, 0, 0),
    "corpus_shingles": (1, 0, 0, 0, 0, 0),
    "dedup_exact": (1, 0, 0, 2, 0, 0),
    "minhash_lsh_pairs()": (14, 0, 9, 34, 4, 0),
    "ngram_jaccard_pairs()": (1, 0, 1, 2, 0, 0),
    "containment_pairs()": (1, 0, 1, 2, 0, 0),
    "ngram_jaccard_pairs_prefix()": (6, 0, 3, 2, 4, 6),
    "lsh_recall_probe()": (10, 0, 7, 24, 0, 0),
    "doc_novelty()": (2, 0, 1, 4, 0, 0),
    "similar_docs()": (3, 0, 2, 6, 0, 1),
    "fuzzy_contamination()": (10, 0, 5, 16, 4, 0),
    "contamination_check()": (2, 0, 1, 4, 0, 0),
    "minhash_lsh_pairs_incremental()": (24, 0, 24, 44, 4, 0),
}


def _dedup_frame(spark, name):
    """The frame a DEDUP_PLAN_PINS entry pins (see the table above)."""
    from pyspark.sql import functions as F

    from sift_spark.operators import dedup as D
    from sift_spark.operators.text_analysis import contamination_check
    from sift_spark.queries import QUERIES

    if not name.endswith("()"):
        return QUERIES[name](spark, SF_SMOKE)
    op = name[:-2]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    if op in ("fuzzy_contamination", "contamination_check"):
        fn = D.fuzzy_contamination if op == "fuzzy_contamination" else contamination_check
        return fn(docs.where(F.col("doc_id") % 20 != 0), docs.where(F.col("doc_id") % 20 == 0))
    if op == "minhash_lsh_pairs_incremental":
        old = docs.where(F.col("doc_id") % 5 != 0)
        return D.minhash_lsh_pairs_incremental(
            docs.where(F.col("doc_id") % 5 == 0), *D.lsh_index(old)
        )
    if op == "similar_docs":
        return D.similar_docs(docs, query_doc_id=7)
    return getattr(D, op)(docs)


DEDUP_PLAN_CLASSES = ("ShuffleExchangeExec", "SortMergeJoinExec", "BroadcastHashJoinExec",
                      "HashAggregateExec", "ObjectHashAggregateExec", "WindowExec")


@pytest.mark.parametrize("name", list(DEDUP_PLAN_PINS))
def test_dedup_family_plan_shape(spark, name):
    got = _node_counts(lambda: _dedup_frame(spark, name), DEDUP_PLAN_CLASSES)
    assert got == DEDUP_PLAN_PINS[name]


# Executed-plan node counts of the text family at SF_SMOKE, as
# (ShuffleExchange, SortMergeJoin, BroadcastHashJoin, HashAggregate,
# Window). Recorded while every tf-accepting operator still wrote its
# own (doc_id, term, tf) posting build, idf and sqrt(tf)·idf weight
# table, so the shared builders must reproduce each physical shape
# exactly. Plain names are registry queries, which read the session's
# shared tf artifact; names ending in "()" are direct calls on the
# documents with tf=None, the path that builds its own posting table.
# The walk includes the plans of persisted intermediates. The
# tfidf_search() and doc_top_terms() pins were recorded once their
# posting table fed both the weights and df: one (doc_id, term)
# aggregate per plan, df from a per-term window.
TEXT_PLAN_PINS = {
    "tfidf_search": (16, 0, 3, 20, 1),
    "unigram_logprob": (10, 0, 1, 14, 0),
    "doc_top_terms": (8, 0, 1, 8, 1),
    "doc_srp_embeddings": (8, 0, 1, 10, 0),
    "retrieval_triples": (28, 0, 6, 30, 3),
    "corpus_topics": (58, 0, 12, 76, 1),
    "vocab_coverage": (12, 0, 1, 18, 0),
    "dsir_weights": (18, 2, 3, 22, 0),
    "doc_embedding_dup_pairs": (16, 0, 2, 20, 0),
    "corpus_tf": (2, 0, 0, 2, 0),
    "term_idfs": (4, 0, 0, 6, 0),
    "token_zipf_fit": (3, 0, 0, 6, 1),
    "entity_mention_tf": (9, 0, 2, 8, 1),
    "bm25_search": (9, 0, 2, 10, 1),
    "doc_entropy": (3, 0, 0, 4, 0),
    "unigram_logprob()": (7, 0, 1, 14, 0),
    "doc_srp_embeddings()": (5, 0, 1, 10, 0),
    "retrieval_triples()": (18, 0, 6, 30, 3),
    "vocab_coverage()": (8, 0, 1, 18, 0),
    "dsir_importance_weights()": (9, 0, 3, 18, 0),
    "tfidf_search()": (8, 0, 1, 12, 3),
    "doc_top_terms()": (4, 0, 0, 4, 2),
}


def _text_frame(spark, name):
    """The frame a TEXT_PLAN_PINS entry pins (see the table above)."""
    from sift_spark.operators import sampling
    from sift_spark.operators import text_analysis as TA
    from sift_spark.queries import QUERIES, SEARCH_TERMS

    if not name.endswith("()"):
        return QUERIES[name](spark, SF_SMOKE)
    op = name[:-2]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    if op == "tfidf_search":
        return TA.tfidf_search(docs, SEARCH_TERMS, k=10)
    fn = sampling.dsir_importance_weights if op == "dsir_importance_weights" else getattr(TA, op)
    return fn(docs)


@pytest.mark.parametrize("name", list(TEXT_PLAN_PINS))
def test_text_family_plan_shape(spark, name):
    got = _node_counts(
        lambda: _text_frame(spark, name),
        ("ShuffleExchangeExec", "SortMergeJoinExec", "BroadcastHashJoinExec",
         "HashAggregateExec", "WindowExec"),
    )
    assert got == TEXT_PLAN_PINS[name]


def test_q6_all_predicates_pushed(spark):
    from sift_spark.operators.relational import q6_forecast_revenue

    df = q6_forecast_revenue(spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"))
    plan = _plan(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan, col
    # one partial + one final agg, no join, single exchange
    assert plan.count("Exchange") == 1


def test_q9_broadcasts_dims_and_prunes_part(spark):
    """Part filter must reach the part scan as a pushed Like/StartsWith
    or be applied pre-join; nation must broadcast."""
    from sift_spark.io import table
    from sift_spark.operators.relational import q9_product_type_profit

    df = q9_product_type_profit(
        table(spark, SF_SMOKE, "part"), table(spark, SF_SMOKE, "supplier"),
        table(spark, SF_SMOKE, "nation"), table(spark, SF_SMOKE, "lineitem"),
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # part scan reads only the key after the name filter (pruning)
    assert "p_retailprice" not in plan


def test_bm25_filters_terms_before_aggregation(spark):
    """The query-term IN filter must run before the tf aggregation
    (optimized plan: Filter under the first Aggregate), and no Python
    eval nodes appear."""
    from sift_spark.operators.text_analysis import bm25_search

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = bm25_search(docs, ("spark", "window", "merge"))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re

    opt = _optimized(df)
    # term filter exists pre-aggregation in the optimized plan
    assert re.search(r"term#\d+ IN \(spark,window,merge\)", opt), opt


def test_block_dedup_single_wide_shuffle(spark):
    """block_dedup: one shuffle for the block-text window + one for
    the per-doc reassembly — nothing else."""
    from sift_spark.operators.dedup import block_dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(block_dedup(docs))
    assert plan.count("Exchange") == 2, plan


def test_doc_chunks_no_shuffle(spark):
    from sift_spark.operators.text_analysis import doc_chunks

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(doc_chunks(docs))
    assert "Exchange" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_q2_broadcasts_dims_no_cartesian(spark):
    """Q2 shape: part/supplier/nation/region all ride in as broadcast
    hash joins; the correlated min decorrelates to a window, never a
    self-join or cartesian."""
    from sift_spark.io import table
    from sift_spark.operators.relational import q2_min_cost_supplier

    df = q2_min_cost_supplier(
        table(spark, SF_SMOKE, "region"), table(spark, SF_SMOKE, "nation"),
        table(spark, SF_SMOKE, "supplier"), table(spark, SF_SMOKE, "part"),
        table(spark, SF_SMOKE, "lineitem"),
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_single_fact_shuffle_keyed_joins(spark):
    """Q21 shape: every join keyed; the lineitem fact shuffles on
    l_orderkey once for the per-order aggregate, and the join back
    reuses that partitioning (no extra fact exchange)."""
    from sift_spark.io import table
    from sift_spark.operators.relational import q21_waiting_suppliers

    df = q21_waiting_suppliers(
        table(spark, SF_SMOKE, "supplier"), table(spark, SF_SMOKE, "orders"),
        table(spark, SF_SMOKE, "lineitem"),
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_anti_join_is_broadcast(spark):
    """The NOT-IN complaint-supplier exclusion must be a broadcast
    left-anti, not a shuffled one."""
    from sift_spark.io import table
    from sift_spark.operators.relational import q16_supplier_diversity

    df = q16_supplier_diversity(
        table(spark, SF_SMOKE, "part"), table(spark, SF_SMOKE, "supplier"),
        table(spark, SF_SMOKE, "lineitem"),
    )
    plan = _plan(df)
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti, BuildRight" in plan and "Broadcast" in plan
    ), plan


def test_basket_pairs_keyed_join_no_cartesian(spark):
    from sift_spark.operators.relational import basket_pairs

    df = basket_pairs(spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"))
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # scan reads only the two key columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>" in plan


def test_embedding_dim_stats_partial_agg(spark):
    from sift_spark.operators.similarity import embedding_dim_stats

    df = embedding_dim_stats(spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"))
    plan = _plan(df)
    # map-side combine collapses the posexplode before the 64-key shuffle
    assert plan.count("Exchange") == 1 and "partial_count" in plan


def test_corpus_mix_report_single_shuffle_scan_pruned(spark):
    from sift_spark.operators.text_analysis import corpus_mix_report

    df = corpus_mix_report(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "doc_id" not in plan  # unused column pruned from the scan


def test_filtered_corpus_no_cartesian(spark):
    from sift_spark.operators.text_analysis import filtered_corpus

    df = filtered_corpus(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_price_band_join_broadcast_nested_loop(spark):
    from sift_spark.io import table
    from sift_spark.operators.relational import price_band_join

    df = price_band_join(table(spark, SF_SMOKE, "part"), spark)
    plan = _plan(df)
    # range join with a tiny dim: broadcast the dim, stream the facts
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" in plan  # only the band agg shuffles


def test_search_topk_is_take_ordered(spark):
    """tfidf/bm25 top-k must plan as TakeOrderedAndProject (per-
    partition top-k, merge of k rows per partition) — a global
    row_number window here funnels every candidate through one task."""
    from sift_spark.operators.text_analysis import bm25_search, tfidf_search

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for fn in (tfidf_search, bm25_search):
        plan = _plan(fn(docs, ("data", "spark")))
        assert "TakeOrderedAndProject" in plan, fn.__name__


def test_tpch_topk_is_take_ordered(spark):
    """q10/q18/q21 rank over post-aggregation rows that still scale
    with the data (one per customer/order/supplier) — they must plan
    as TakeOrderedAndProject, not a single-partition window."""
    from sift_spark.io import table
    from sift_spark.operators.relational import (
        q10_returned_items, q18_large_orders, q21_waiting_suppliers,
    )

    t = lambda n: table(spark, SF_SMOKE, n)
    plans = {
        "q10": _plan(q10_returned_items(t("customer"), t("orders"), t("lineitem"), t("nation"))),
        "q18": _plan(q18_large_orders(t("customer"), t("orders"), t("lineitem"))),
        "q21": _plan(q21_waiting_suppliers(t("supplier"), t("orders"), t("lineitem"))),
    }
    for name, plan in plans.items():
        assert "TakeOrderedAndProject" in plan, name


def test_ann_ivf_scorer_is_cogrouped_gemm(spark):
    """The IVF candidate scorer must stay the cogrouped per-cell GEMM:
    a regression to pair-materializing embedding joins shuffles
    O(candidates·D) (measured 19s of a 22s sf1 run) and shows up here
    as the cogroup operator disappearing from the plan."""
    from sift_spark.io import table
    from sift_spark.operators.similarity import ann_ivf_topk

    df = ann_ivf_topk(table(spark, SF_SMOKE, "embeddings"), k=5, nprobe=2)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_url_canonical_all_builtin_expressions(spark):
    """canonical_url must stay JVM-side: no Python UDF anywhere in the
    plan (regex + array HOFs only), so it runs inside codegen."""
    from sift_spark.queries import QUERIES

    df = QUERIES["url_canonical_groups"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_duplicate_spans_single_gram_shuffle(spark):
    """duplicate_spans (r11 shape): exactly TWO wide exchanges — the
    gram-partitioned occurrence-count window and the per-doc islands
    window — no cartesian anything, and a single explode pass (the
    former groupBy+re-join shuffled the gram rows twice and ran the
    explode subtree twice; the span aggregate must reuse the doc_id
    partitioning rather than add a third exchange)."""
    from sift_spark.operators.dedup import duplicate_spans
    from sift_spark.io import table

    df = duplicate_spans(table(spark, SF_SMOKE, "documents"), l=5)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Generate explode") == 1


def test_temperature_sample_broadcasts_rates(spark):
    """The per-source rate table must ride in as a broadcast join —
    the corpus side of temperature_sample never shuffles."""
    from sift_spark.io import table
    from sift_spark.operators.sampling import temperature_sample

    df = temperature_sample(table(spark, SF_SMOKE, "documents"))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_pca_projection_stays_jvm_side(spark):
    """embedding_pca's projection is literal-array zip_with/aggregate
    expressions — no Python eval and no exchange in the output plan
    (the corpus is scanned map-side only)."""
    from sift_spark.io import table
    from sift_spark.operators.similarity import embedding_pca

    df = embedding_pca(table(spark, SF_SMOKE, "embeddings"), 2)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_fuzzy_contamination_broadcasts_benchmark(spark):
    """The benchmark side (bands + shingles) must ride in as broadcast
    joins: the corpus side of the decontamination screen never
    shuffles for candidate generation."""
    from pyspark.sql import functions as F
    from sift_spark.io import table
    from sift_spark.operators.dedup import fuzzy_contamination

    docs = table(spark, SF_SMOKE, "documents")
    df = fuzzy_contamination(
        docs.where(F.col("doc_id") % 20 != 0),
        docs.where(F.col("doc_id") % 20 == 0),
    )
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_vocab_ranking_is_take_ordered(spark):
    """entity_vocab/term_vocab with a max_rank must pre-limit via
    TakeOrderedAndProject so the dense-rank window runs on <= max_rank
    rows, never the full corpus-scale vocabulary."""
    from sift_spark.io import table
    from sift_spark.corpora.synthetic import wikify_links
    from sift_spark.models.links import entity_vocab
    from sift_spark.models.text import term_vocab

    docs = table(spark, SF_SMOKE, "documents")
    for name, df in (
        ("entity_vocab", entity_vocab(wikify_links(docs))),
        ("term_vocab", term_vocab(docs)),
    ):
        assert "TakeOrderedAndProject" in _plan(df), name


def test_filtered_corpus_filters_behind_checkpoint_barrier(spark):
    """The quality/repetition filters must sit above the
    localCheckpoint barrier, NOT above the feature expressions:
    predicate pushdown would substitute the full tokenize/bigram
    trees into every filter conjunct and re-evaluate the corpus scan
    per condition (measured 2.5s -> 25s at sf1). The returned plan
    therefore reads an ExistingRDD and contains no split/tokenize."""
    from sift_spark.io import table
    from sift_spark.operators.text_analysis import filtered_corpus

    df = filtered_corpus(table(spark, SF_SMOKE, "documents"))
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan, "feature table is not checkpoint-barriered"
    assert "split(" not in plan, (
        "tokenize expressions leaked above the barrier — filters will "
        "re-evaluate the corpus scan per conjunct"
    )


def test_per_doc_text_stats_have_no_shuffle(spark):
    """quality_score / token_stats / lang_id / repetition_stats are
    map-side array kernels: their plans contain no Exchange at all
    (the corpus never shuffles for per-document statistics)."""
    from sift_spark.io import table
    from sift_spark.operators.text_analysis import (
        gopher_repetition,
        gopher_rules,
        lang_id,
        quality_score,
        repetition_stats,
        token_stats,
    )

    docs = table(spark, SF_SMOKE, "documents")
    for op in (quality_score, token_stats, lang_id, repetition_stats,
               gopher_rules, gopher_repetition):
        plan = _plan(op(docs))
        assert "Exchange" not in plan, f"{op.__name__}: unexpected shuffle"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
