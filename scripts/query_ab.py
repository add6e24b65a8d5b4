#!/usr/bin/env python
"""Isolated per-query timing: run named queries R times in one tuned
session (bench-identical configs), print per-query min/median JSON.

Usage: python scripts/query_ab.py name1 name2 ... [--reps N] [--out F]

Artifacts build before timing begins (corpus_tokens/tf/shingles/pairs
accounting lines are separate in the real bench; here we want the
marginal per-query number, which is what the warm-min bench line
reports for artifact consumers).

To time a pinned worktree, run that worktree's own
``scripts/query_ab.py``: the script inserts its own repo root on
``sys.path``, so it always times the checkout it lives in.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main() -> None:
    argv = sys.argv[1:]
    reps, out, args = 5, None, []
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":
            reps = int(argv[i + 1]); i += 2
        elif argv[i] == "--out":
            out = argv[i + 1]; i += 2
        else:
            args.append(argv[i]); i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sift_spark.queries import QUERIES, corpus_artifacts
    from sift_spark.session import get_spark, shuffle_partitions_for

    spark = get_spark(
        "query_ab", shuffle_partitions=shuffle_partitions_for(sf_dir)
    )
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()

    from sift_spark.caching import release_local_caches

    res = {}
    for name in args:
        fn = QUERIES[name]
        ts = []
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).count()
            ts.append(round(time.time() - t0, 3))
            # bench-identical protocol (r12): builder-local caches are
            # released between reps so every rep recomputes
            release_local_caches()
        res[name] = {"min": min(ts), "median": statistics.median(ts), "all": ts}
        print(name, res[name], file=sys.stderr)

    corpus_artifacts(spark, sf_dir).release()
    line = json.dumps(res)
    print(line)
    if out:
        with open(out, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
