"""Plan assertions: pushdown / broadcast / codegen guards for the
flagship queries (SURVEY §5.4). A perf regression that flips a
broadcast to a sort-merge join or loses parquet pushdown fails here,
not in a bench eyeball. ``test_plan_shape`` pins the node-class counts
of every registry query and direct frame (tests/plan_shapes.json)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.plan_shapes import REGENERATE, frame_names, load_manifest, plan_record


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


def _shape_names():
    return sorted({*frame_names(), *load_manifest()})


@pytest.mark.parametrize("name", _shape_names())
def test_plan_shape(spark, name):
    """Every registry query and direct frame keeps the executed-plan node
    counts pinned in tests/plan_shapes.json (persisted intermediates
    included): a fold that must keep its physical shape fails here."""
    pinned = load_manifest()
    fix = f"regenerate with `{REGENERATE}` and record every moved count, with its reason, in CHANGES.md"
    assert name in frame_names(), f"{name}: manifest entry without a frame; {fix}"
    assert name in pinned, f"{name}: no manifest entry; {fix}"
    assert plan_record(spark, name).counts == pinned[name], f"{name}: plan shape moved; {fix}"


# Registry queries built from both the ANN and the text kernels: the
# SRP embeddings of the shared posting table fed to the tiled GEMM
# pair scorer. The counts above hold their whole shape; these hold the
# seam between the two halves.
SEAM_QUERIES = ("doc_embedding_dup_pairs",)


@pytest.mark.parametrize("name", SEAM_QUERIES)
def test_ann_family_plan_shape(spark, name):
    """The pairs leave the one tiled GEMM cogroup with the threshold
    applied inside the kernel: no pair join, window or filter after it."""
    rec = plan_record(spark, name)
    assert rec.counts.get("FlatMapCoGroupsInPandasExec") == 1, rec.counts
    assert "SortMergeJoinExec" not in rec.counts and "WindowExec" not in rec.counts, rec.counts
    top = [line.lstrip(" :+-") for line in rec.plan.splitlines()[1:3]]
    assert top[0].startswith("Project") and top[1].startswith("FlatMapCoGroupsInPandas"), rec.plan


@pytest.mark.parametrize("name", SEAM_QUERIES)
def test_text_family_plan_shape(spark, name):
    """The SRP vectors are summed wide from the session's cached
    (doc_id, term, tf) posting table: no long-format collect_list
    re-assembly of the dimensions."""
    rec = plan_record(spark, name)
    assert "collect_list" not in rec.plan and "ObjectHashAggregateExec" not in rec.counts, rec.counts
    assert any(
        line.lstrip(" :+-").startswith("InMemoryRelation [doc_id#") and ", tf#" in line
        for line in rec.plan.splitlines()
    ), rec.plan


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
    plan = plan_record(spark, "url_canonical_groups").plan
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
