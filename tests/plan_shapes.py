"""One plan record per frame, and the manifest of their shapes.

``plan_record(spark, name)`` builds a registry query or one of the
``DIRECT_FRAMES`` once per session and keeps what the plan tests read
from its ``QueryExecution``: the executed-plan node-class counts, the
executed-plan string, the scale-audit offenders and the output schema.
``tests/plan_shapes.json`` pins the counts of every frame at
``SF_SMOKE``; ``test_plans.py::test_plan_shape`` compares them and the
sweeps in ``test_plan_audit.py`` audit the same records.

Regenerate the manifest (and print every moved count) with::

    python -m tests.plan_shapes

A change that moves a count records it, with its reason, in CHANGES.md.
"""

from __future__ import annotations

import functools
import json
import os
from collections import Counter
from dataclasses import dataclass
from unittest import mock

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sift_spark.caching import release_local_caches
from sift_spark.corpora.synthetic import wikify_links
from sift_spark.models import links
from sift_spark.operators import dedup, sampling, text_analysis
from sift_spark.queries import QUERIES, SEARCH_TERMS, corpus_artifacts
from sift_spark.session import get_spark
from tests.conftest import SF_SMOKE

MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_shapes.json")
REGENERATE = "python -m tests.plan_shapes"

# The physical node classes the manifest counts: exchanges, every join
# strategy, aggregates, the row-multiplying operators and every Python
# evaluation path.
PLAN_CLASSES = tuple(f"{c}Exec" for c in (
    "ShuffleExchange", "BroadcastExchange",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "HashAggregate", "ObjectHashAggregate",
    "Window", "Expand", "Generate",
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
))


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _held_out(spark, m):
    """(rest, every m-th document) of the smoke corpus."""
    docs = _docs(spark)
    return docs.where(F.col("doc_id") % m != 0), docs.where(F.col("doc_id") % m == 0)


def _star_stub(pairs):
    return pairs.select(F.col("doc1").alias("doc_id"), F.col("doc2").alias("rep_id"))


def _comention(fn):
    def build(spark):
        # entity_components hands its pair table to the driver-gated star
        # contraction, whose checkpointed output hides the build: pin the
        # pair table the contraction would receive
        with mock.patch.object(dedup, "duplicate_clusters_star", _star_stub):
            return getattr(links, fn)(wikify_links(_docs(spark)))
    return build


def _on_docs(module, fn, *args, **kwargs):
    return lambda spark: getattr(module, fn)(_docs(spark), *args, **kwargs)


def _incremental(spark):
    old, new = _held_out(spark, 5)
    return dedup.minhash_lsh_pairs_incremental(new, *dedup.lsh_index(old))


# Direct operator calls on the raw documents, keyed <module>.<fn>(): the
# paths that build their own comention edges, shingles and postings
# instead of reading the session's shared artifacts.
DIRECT_FRAMES = {
    **{f"links.{fn}()": _comention(fn) for fn in (
        "entity_pagerank", "entity_hits", "entity_relatedness", "entity_pmi",
        "comention_triangles", "comention_degrees", "entity_components",
        "entity_random_walks", "entity_link_prediction", "entity_node2vec_walks",
    )},
    **{f"dedup.{fn}()": _on_docs(dedup, fn) for fn in (
        "minhash_lsh_pairs", "ngram_jaccard_pairs", "containment_pairs",
        "ngram_jaccard_pairs_prefix", "lsh_recall_probe", "doc_novelty",
    )},
    "dedup.similar_docs()": _on_docs(dedup, "similar_docs", query_doc_id=7),
    "dedup.fuzzy_contamination()": lambda spark: dedup.fuzzy_contamination(*_held_out(spark, 20)),
    "dedup.minhash_lsh_pairs_incremental()": _incremental,
    "text_analysis.contamination_check()":
        lambda spark: text_analysis.contamination_check(*_held_out(spark, 20)),
    **{f"text_analysis.{fn}()": _on_docs(text_analysis, fn) for fn in (
        "unigram_logprob", "doc_srp_embeddings", "retrieval_triples",
        "vocab_coverage", "doc_top_terms",
    )},
    "text_analysis.tfidf_search()": _on_docs(text_analysis, "tfidf_search", SEARCH_TERMS, k=10),
    "sampling.dsir_importance_weights()": _on_docs(sampling, "dsir_importance_weights"),
}


def frame_names() -> list[str]:
    return [*QUERIES, *DIRECT_FRAMES]


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


_LIMIT_CLASSES = {
    "GlobalLimitExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "WindowGroupLimitExec",
}


def _jbounded(jnode) -> bool:
    """Is this physical node's OUTPUT provably small? Limits and
    keyless (1-row) aggregates are; a join is only as bounded as ALL
    its inputs (the 1-row scalar-broadcast crossJoin does NOT bound
    the stream side — the false-negative this recursion exists to
    kill); semi/anti joins bound like their left input; a query stage
    is as bounded as its plan; everything else inherits from its
    children; leaves (scans) are unbounded."""
    cls = jnode.getClass().getSimpleName()
    if cls in _LIMIT_CLASSES:
        return True
    if cls.endswith("AggregateExec"):
        try:
            if jnode.groupingExpressions().isEmpty():
                return True
        except Exception:
            pass
    kids = [jnode.plan()] if cls.endswith("QueryStageExec") else _jchildren(jnode)
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


def nested_loop_joins_unbounded(df) -> list[str]:
    """BroadcastNestedLoopJoin nodes of the executed plan (persisted
    intermediates included) whose broadcast side is not provably
    bounded: every row of the stream side meets every row of the build
    side, so only a bounded build side keeps the join linear."""
    offenders: list[str] = []
    for jnode in plan_nodes(df._jdf.queryExecution().executedPlan()):
        if jnode.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
            left = str(jnode.buildSide().toString()) == "BuildLeft"
            if not _jbounded(jnode.left() if left else jnode.right()):
                offenders.append(str(jnode.simpleString(3)))
    return offenders


@dataclass(frozen=True)
class PlanRecord:
    counts: dict[str, int]  # PLAN_CLASSES node counts, zeros omitted
    plan: str  # the executed plan's string
    windows_unbounded: list[str]
    nested_loops_unbounded: list[str]
    schema: StructType


@functools.cache
def plan_record(spark, name: str) -> PlanRecord:
    """Build ``name`` (a registry query or a DIRECT_FRAMES key) once per
    session and record its plan. Builder-local caches are released
    before the build (another builder's cached subplan would change the
    shape) and after the record is taken."""
    release_local_caches()
    try:
        df = QUERIES[name](spark, SF_SMOKE) if name in QUERIES else DIRECT_FRAMES[name](spark)
        executed = df._jdf.queryExecution().executedPlan()
        nodes = Counter(n.getClass().getSimpleName() for n in plan_nodes(executed))
        return PlanRecord(
            counts={c: nodes[c] for c in PLAN_CLASSES if nodes[c]},
            plan=executed.toString(),
            windows_unbounded=global_windows_unbounded(df),
            nested_loops_unbounded=nested_loop_joins_unbounded(df),
            schema=df.schema,
        )
    finally:
        release_local_caches()


def load_manifest() -> dict[str, dict[str, int]]:
    if not os.path.exists(MANIFEST):
        return {}
    with open(MANIFEST) as fh:
        return json.load(fh)


def manifest_text(entries: dict[str, dict[str, int]]) -> str:
    """The manifest file: one sorted-key entry per line, frames sorted."""
    rows = [f"{json.dumps(n)}: {json.dumps(entries[n], sort_keys=True)}" for n in sorted(entries)]
    return "{\n" + ",\n".join(rows) + "\n}\n"


def main() -> None:
    spark = get_spark("sift_spark_tests")
    old = load_manifest()
    new = {name: plan_record(spark, name).counts for name in frame_names()}
    for name in sorted(old.keys() | new.keys()):
        was, now = old.get(name, {}), new.get(name, {})
        for cls in sorted(was.keys() | now.keys()):
            if was.get(cls, 0) != now.get(cls, 0):
                print(f"{name}: {cls} {was.get(cls, 0)} → {now.get(cls, 0)}")
    with open(MANIFEST, "w") as fh:
        fh.write(manifest_text(new))
    corpus_artifacts(spark, SF_SMOKE).release()


if __name__ == "__main__":
    main()
