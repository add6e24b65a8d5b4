"""The session's generated-class cache holds a warm pass's working set:
building and running the same plans again compiles no new classes."""

from __future__ import annotations

import time

from sift_spark.caching import release_local_caches
from sift_spark.queries import QUERIES
from sift_spark.session import codegen_compiles
from tests.conftest import SF_SMOKE

# the registry ops the benchmark workloads time (perfbench/workloads.py)
BENCH_OPS = (
    "containment_pairs", "events_interarrival", "multimodal_resize_checksums",
    "revenue_growth", "label_spread", "token_zipf_fit", "mapped_comentions",
    "term_frequencies",
)


def _compiles_per_op(spark) -> dict[str, int]:
    counts = {}
    for name in BENCH_OPS:
        before = codegen_compiles(spark)
        QUERIES[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        release_local_caches()
        counts[name] = codegen_compiles(spark) - before
    return counts


def test_codegen_cache_holds_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "512"


def test_codegen_compiles_counts_a_new_class(spark):
    before = codegen_compiles(spark)
    # a literal no other plan holds: its generated class is new
    spark.range(3).selectExpr(f"id * {time.time_ns() % 10**9} AS x").write.format(
        "noop").mode("overwrite").save()
    assert codegen_compiles(spark) > before


def test_repeated_build_reuses_generated_classes(spark):
    first = _compiles_per_op(spark)
    second = _compiles_per_op(spark)
    assert second == dict.fromkeys(BENCH_OPS, 0), (first, second)
