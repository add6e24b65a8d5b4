"""Mechanical scale-hygiene sweep over EVERY registered query's
physical plan: no cartesian products and no row-at-a-time Python
evaluation anywhere, except an explicit, justified allowlist. The
targeted plan shapes (broadcasts, TakeOrdered, cogroups, pushdown)
are asserted per-operator in test_plans.py; this sweep exists so a
NEW query can't silently reintroduce a scale killer. Every sweep reads
the one per-session build of each query (``tests.plan_shapes``); a
manifest regeneration never relaxes these allowlists."""

from __future__ import annotations

import pytest

from sift_spark.queries import QUERIES
from tests.plan_shapes import global_windows_unbounded, nested_loop_joins_unbounded, plan_record

# crossJoin(broadcast(1-row aggregate)) is the documented idiom for
# riding scalar totals into a plan without a driver action; Spark
# plans it as BroadcastNestedLoopJoin. price_band_join's inequality
# join is a deliberate BNLJ (plan-asserted in test_plans.py).
BNLJ_OK = {
    "price_band_join",
    # the block-tiled all-pairs GEMM (similarity._tile_sims) REPLICATES
    # each row-block across n_blocks tiles by construction — the
    # standard distributed brute-force layout; bounded O(N·n_blocks),
    # documented in the operator, and the exact baseline the bucketed
    # ANN variants are recall-tested against.
    "ann_topk_bruteforce",
    "knn_label_propagation",
    "dedup_embedding",
    "similar_docs",
    # same block-replication layout, with the different-label filter
    # and per-tile top-k inside the GEMM kernel
    "hard_negatives",
    # composes ann_topk_bruteforce's tiled-GEMM edge table
    "label_spread",
    # SRP doc vectors through the same tiled all-pairs kernel
    "doc_embedding_dup_pairs",
    # the recall reports score their exact side with
    # ann_topk_bruteforce's tiled GEMM: the broadcast side is its
    # Range(0, n_blocks) tile index
    "ann_recall_report",
    "ivf_recall_report",
    "ivfpq_recall_report",
}

# ArrowEvalPython = vectorized pandas_udf (the sanctioned Python
# path); BatchEvalPython = row-at-a-time UDF (banned everywhere).
ROW_PYTHON_OK: set[str] = set()

# --- global-window audit (r10, VERDICT r9 #2/#3) ---------------------------
# A Window with EMPTY partitioning funnels its entire input through one
# task. That is only acceptable when the input is provably bounded: a
# post-limit frame (TakeOrderedAndProject / GlobalLimit / CollectLimit /
# WindowGroupLimit) or a keyless (1-row) aggregate. Keyed aggregates do
# NOT count — the r9 finding was precisely row_number() over a full
# groupBy(term) vocabulary. Queries whose global window is bounded by
# construction but not by one of those plan markers go here, each with
# the reason the frame is small.
GLOBAL_WINDOW_OK: dict[str, str] = {
    # lag over one-row-per-MONTH post-aggregate output — bounded by
    # the calendar (~100 rows for TPC-H's 7 years), not by the data
    "revenue_growth": "month-cardinality post-aggregate frame",
    # the documented reproducible-global-ordering variant; the scale
    # path is pack_sequences_sharded (shard-partitioned window),
    # equivalence tested in test_sampling.py
    "pack_sequences": "global packing order by design; sharded scale path exists",
    # the registered query PINS approx=False (the oracle-hashable
    # path); unpinned callers are size-gated — approx=None auto-flips
    # to the windowless percentile path above
    # spark.sift.quantile.exactRowLimit (test_quantile_auto_gate_*)
    "rfm_segments": "size-gated: exact pinned for oracle, auto-approx at scale",
}

@pytest.mark.parametrize("name", list(QUERIES))
def test_no_scale_killers_in_plan(spark, name):
    rec = plan_record(spark, name)
    assert "CartesianProduct" not in rec.plan, f"{name}: cartesian product"
    if name not in ROW_PYTHON_OK:
        assert "BatchEvalPython" not in rec.plan, f"{name}: row-at-a-time Python UDF"
    if name not in BNLJ_OK:
        # every remaining BNLJ must broadcast a provably bounded side,
        # e.g. the 1-row scalar-aggregate idiom
        assert not rec.nested_loops_unbounded, (
            f"{name}: BroadcastNestedLoopJoin over an unbounded build side "
            f"— likely an accidental cross join: {rec.nested_loops_unbounded}"
        )


@pytest.mark.parametrize("name", list(QUERIES))
def test_no_unbounded_global_windows(spark, name):
    if name in GLOBAL_WINDOW_OK:
        pytest.skip(f"allowlisted: {GLOBAL_WINDOW_OK[name]}")
    bad = plan_record(spark, name).windows_unbounded
    assert not bad, (
        f"{name}: global (unpartitioned) Window over an unbounded input "
        f"— one task gets every row at scale: {bad}"
    )


def test_global_window_audit_catches_injected_offender(spark):
    """The audit itself must flag a deliberately-injected full-table
    global window (and accept the bounded idiom) — guards the guard."""
    from pyspark.sql import Window

    from pyspark.sql import functions as F

    df = spark.range(1000).withColumn("f", F.col("id") * 2)
    offender = df.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("f").desc()))
    )
    assert global_windows_unbounded(offender), "audit missed an unbounded global window"

    bounded = (
        df.orderBy(F.col("f").desc())
        .limit(10)
        .withColumn("r", F.row_number().over(Window.orderBy(F.col("f").desc())))
    )
    assert not global_windows_unbounded(bounded), "audit flagged the bounded top-k idiom"

    partitioned = df.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy(F.col("id") % 7).orderBy(F.col("f").desc())
        ),
    )
    assert not global_windows_unbounded(partitioned), "audit flagged a partitioned window"


def test_nested_loop_audit_catches_injected_cross_join(spark):
    """The BNLJ audit must flag a cross join of two unbounded frames even
    when the plan also holds a global count, and accept the 1-row
    scalar-broadcast idiom — guards the guard."""
    from pyspark.sql import functions as F

    df = spark.range(1000).withColumn("f", F.col("id") * 2)
    total = df.agg(F.count("*").alias("n"))
    offender = df.crossJoin(spark.range(1000).withColumnRenamed("id", "j")).crossJoin(total)
    assert nested_loop_joins_unbounded(offender), "audit missed an unbounded cross join"

    scalar = df.crossJoin(F.broadcast(total))
    assert "BroadcastNestedLoopJoin" in scalar._jdf.queryExecution().executedPlan().toString()
    assert not nested_loop_joins_unbounded(scalar), "audit flagged the 1-row scalar idiom"


@pytest.mark.parametrize("name", list(QUERIES))
def test_output_schema_is_driver_canonicalizable(spark, name):
    """The driver's pandas canonicalizer crashes on array/map/struct
    output columns (r3: embedding_pca ERR'd even the rows check).
    Every registered query must emit only atomic columns — serialize
    vectors to CSV strings at the query boundary (pattern:
    embedding_int8.codes)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        (f.name, f.dataType.simpleString())
        for f in plan_record(spark, name).schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name}: non-atomic output columns {bad}"
