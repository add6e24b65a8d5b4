"""Persist lifecycles: builder-local caches and session artifacts.

This module decides what is persisted and when it is released. There
are two kinds of persisted frame, with opposite reuse contracts.

Builder-local caches. Query builders persist intermediates that
several branches of the SAME query plan consume (the eager-
materialization contract documented at ``minhash_lsh_pairs``). Those
caches are plan-keyed in Spark's CacheManager, which holds a strong
reference until an explicit unpersist — so (a) a SECOND build of the
same query in one session cache-hits the first build's data, and (b)
long-lived sessions calling builders with varying inputs grow storage
unboundedly. So:

- builders route builder-local persists through :func:`local_persist`;
- timing harnesses (bench.py, scripts/query_ab.py) call
  :func:`release_local_caches` between repetitions so every timed run
  recomputes from the parquet inputs instead of reading the previous
  rep's cache;
- library callers may call :func:`release_local_caches` whenever the
  results built so far have been consumed.

Session artifacts. Corpus-level tables that many queries share (the
token table, the posting/tf table, the shingle tables, the MinHash
band and near-dup pair tables) are built once per (session, dataset)
and reused across queries: cross-query reuse is their contract. Each
is declared with :func:`session_artifact`, which registers it in
:data:`ARTIFACTS` and memoizes it; :func:`release_artifacts` (exposed
as ``queries.CorpusArtifacts.release()``) is their only release.
:func:`release_local_caches` never touches them, and each artifact's
build cost is accounted on its own cold bench line (``Artifact.query``).
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

from sift_spark.functions.lineage import cut as lineage_cut
from sift_spark.io import evict_dead_sessions

_LOCAL_CACHES: list[DataFrame] = []


def local_persist(df: DataFrame, eager: bool = True, level=None) -> DataFrame:
    """Persist a builder-local intermediate and register it for
    :func:`release_local_caches`. ``eager`` materializes immediately
    (the multi-consumer race contract — see minhash_lsh_pairs).
    ``level``: optional StorageLevel (e.g. MEMORY_ONLY for the ANN
    probe tables' LRU-eviction policy); default is persist()'s."""
    df = df.persist(level) if level is not None else df.persist()
    _LOCAL_CACHES.append(df)
    if eager:
        df.count()
    return df


def release_local_caches() -> int:
    """Unpersist every registered builder-local cache; returns how many
    were released. Safe to call at any time — results already computed
    are unaffected, and re-building a query re-registers its caches."""
    n = 0
    while _LOCAL_CACHES:
        df = _LOCAL_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


@dataclass(frozen=True)
class Artifact:
    """One session artifact: ``build(spark, sf_dir, *args)`` returns the
    unpersisted plan; ``cut`` truncates its lineage once built;
    ``query`` names the registry query whose cold bench line accounts
    the build (None: built inside another artifact's line)."""

    build: Callable[..., DataFrame]
    cut: bool
    query: str | None


# getter name (e.g. ``_docs_tokenized``) → declaration
ARTIFACTS: dict[str, Artifact] = {}

# (applicationId, sf_dir, getter name, *args) → the built frame
_BUILT: dict[tuple, DataFrame] = {}


def session_artifact(query: str | None = None, cut: bool = False):
    """Declare a session artifact: the decorated build function becomes
    its memoized getter, keyed on the session's applicationId, the
    dataset dir and the build arguments (defaults filled in, so
    ``f(s, d)`` and ``f(s, d, 3)`` share an entry when 3 is the
    default). The first call persists the plan and materializes it
    with one count, so every consumer branches from the cache. With
    ``cut``, the filled cache is then lineage-cut (``lineage.cut``,
    eager; honors ``spark.sift.checkpoint``) and the SQL cache dropped,
    so consumers get a flat leaf instead of re-analyzing the whole
    build subtree. Entries of dead sessions are evicted on lookup."""

    def declare(build):
        name = build.__name__
        sig = inspect.signature(build)
        ARTIFACTS[name] = Artifact(build, cut, query)

        @functools.wraps(build)
        def get(spark, sf_dir, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            app = spark.sparkContext.applicationId
            evict_dead_sessions(_BUILT, app)
            key = (app, sf_dir, name, *bound.args[2:])
            df = _BUILT.get(key)
            if df is None:
                df = build(*bound.args).persist()
                df.count()
                if cut:
                    flat = lineage_cut(df, eager=True)
                    df.unpersist()
                    df = flat
                _BUILT[key] = df
            return df

        return get

    return declare


def release_artifacts(spark, sf_dir: str) -> int:
    """Unpersist every artifact built for ``sf_dir`` in this session and
    drop its entry; returns how many were released. Other datasets'
    artifacts are untouched, and the next getter call rebuilds."""
    app = spark.sparkContext.applicationId
    keys = [k for k in _BUILT if k[0] == app and k[1] == sf_dir]
    for k in keys:
        _BUILT.pop(k).unpersist()
    return len(keys)
