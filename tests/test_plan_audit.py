"""Mechanical scale-hygiene sweep over EVERY registered query's
physical plan: no cartesian products and no row-at-a-time Python
evaluation anywhere, except an explicit, justified allowlist. The
targeted plan shapes (broadcasts, TakeOrdered, cogroups, pushdown)
are asserted per-operator in test_plans.py; this sweep exists so a
NEW query can't silently reintroduce a scale killer."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

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

_LIMIT_CLASSES = {
    "GlobalLimitExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "WindowGroupLimitExec",
}


def _jchildren(jnode):
    cs = jnode.children()
    return [cs.apply(i) for i in range(cs.size())]


def plan_nodes(jnode):
    """Every node of a JVM plan tree, descending into the subplans the
    tree holds as leaves: AQE's current plan, query stages, and the
    plans of cached relations (a persisted intermediate's build is part
    of the query's shape)."""
    yield jnode
    cls = jnode.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [jnode.executedPlan()]
    elif cls == "InMemoryTableScanExec":
        kids = [jnode.relation().cachedPlan()]
    elif cls == "InMemoryRelation":
        kids = [jnode.cachedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [jnode.plan()]
    else:
        kids = _jchildren(jnode)
    for k in kids:
        yield from plan_nodes(k)


def _jbounded(jnode) -> bool:
    """Is this physical node's OUTPUT provably small? Limits and
    keyless (1-row) aggregates are; a join is only as bounded as ALL
    its inputs (the 1-row scalar-broadcast crossJoin does NOT bound
    the stream side — the false-negative this recursion exists to
    kill); semi/anti joins bound like their left input; everything
    else inherits from its children; leaves (scans) are unbounded."""
    cls = jnode.getClass().getSimpleName()
    if cls in _LIMIT_CLASSES:
        return True
    if cls.endswith("AggregateExec"):
        try:
            if jnode.groupingExpressions().isEmpty():
                return True
        except Exception:
            pass
    kids = _jchildren(jnode)
    if not kids:
        return False
    if "Join" in cls:
        jt = str(jnode.joinType().toString())
        if jt in ("LeftSemi", "LeftAnti"):
            return _jbounded(kids[0])
    return all(_jbounded(k) for k in kids)


def global_windows_unbounded(df) -> list[str]:
    """Window nodes with EMPTY partitioning whose input subtree is not
    provably bounded — walked on the real JVM physical-plan tree
    (sparkPlan, pre-AQE: no AdaptiveSparkPlanExec wrappers, and
    InMemoryRelation's embedded cached-plan dump can't confuse a text
    parse because there is no text parse)."""
    offenders: list[str] = []

    def walk(jnode):
        cls = jnode.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec") and jnode.partitionSpec().isEmpty():
            if not all(_jbounded(k) for k in _jchildren(jnode)):
                offenders.append(str(jnode.simpleString(3)))
        for k in _jchildren(jnode):
            walk(k)

    walk(df._jdf.queryExecution().sparkPlan())
    return offenders


def _names():
    from sift_spark.queries import QUERIES

    return list(QUERIES)


@pytest.mark.parametrize("name", _names())
def test_no_scale_killers_in_plan(spark, name):
    from sift_spark.queries import QUERIES

    df = QUERIES[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in ROW_PYTHON_OK:
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in BNLJ_OK and "BroadcastNestedLoopJoin" in plan:
        # every remaining BNLJ must be the 1-row scalar-broadcast
        # idiom: a broadcast side that is an aggregate with no
        # grouping keys (rows=1). Heuristic: the plan must contain a
        # global (keyless) HashAggregate node.
        assert "HashAggregate(keys=[], " in plan, (
            f"{name}: BroadcastNestedLoopJoin without a 1-row "
            "scalar-aggregate side — likely an accidental cross join"
        )


@pytest.mark.parametrize("name", _names())
def test_no_unbounded_global_windows(spark, name):
    from sift_spark.queries import QUERIES

    if name in GLOBAL_WINDOW_OK:
        pytest.skip(f"allowlisted: {GLOBAL_WINDOW_OK[name]}")
    df = QUERIES[name](spark, SF_SMOKE)
    bad = global_windows_unbounded(df)
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


@pytest.mark.parametrize("name", _names())
def test_output_schema_is_driver_canonicalizable(spark, name):
    """The driver's pandas canonicalizer crashes on array/map/struct
    output columns (r3: embedding_pca ERR'd even the rows check).
    Every registered query must emit only atomic columns — serialize
    vectors to CSV strings at the query boundary (pattern:
    embedding_int8.codes)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from sift_spark.queries import QUERIES

    df = QUERIES[name](spark, SF_SMOKE)
    bad = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name}: non-atomic output columns {bad}"
