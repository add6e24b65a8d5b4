"""Round-8-continuation units: analyzed-relation cache + size-aware
shuffle partitions."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_table_cache_returns_same_relation(spark, tmp_path):
    from sift_spark.io import table

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    a = table(spark, str(tmp_path), "documents")
    b = table(spark, str(tmp_path), "documents")
    # same analyzed relation object — no re-listing, no footer re-read
    assert a is b
    assert a.count() == 5


def test_table_cache_invalidates_on_overwrite(spark, tmp_path):
    """A parquet overwrite rewrites the directory contents, so the
    cache must MISS and serve the new data — the stale-relation trap
    the content-fingerprint key exists for. No sleep: the fingerprint
    folds in file names + total bytes, so even a SAME-mtime-tick
    overwrite (coarse 1s filesystems) is observed."""
    from sift_spark.io import table

    p = str(tmp_path / "documents.parquet")
    spark.range(3).select(F.col("id").alias("doc_id")).write.parquet(p)
    first = table(spark, str(tmp_path), "documents")
    assert first.count() == 3
    spark.range(7).select(F.col("id").alias("doc_id")).write.mode(
        "overwrite"
    ).parquet(p)
    second = table(spark, str(tmp_path), "documents")
    assert second is not first
    assert second.count() == 7


def test_table_cache_catches_inplace_rewrite(spark, tmp_path):
    """An in-place rewrite of a part file that keeps the directory
    entry list (and may land in the same coarse mtime tick) must still
    miss the cache — the total-bytes + max-file-mtime fingerprint
    observes it where a directory-mtime key could not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sift_spark.io import table

    d = tmp_path / "documents.parquet"
    d.mkdir()
    f = d / "part-0.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), f)
    first = table(spark, str(tmp_path), "documents")
    assert first.count() == 3
    pq.write_table(pa.table({"doc_id": [1, 2, 3, 4]}), f)  # same name
    second = table(spark, str(tmp_path), "documents")
    assert second is not first
    assert second.count() == 4


def test_table_cache_evicts_dead_sessions(spark, tmp_path):
    """Entries keyed on a dead applicationId are dropped at the next
    lookup, so a long-lived process cycling sessions doesn't
    accumulate relations forever."""
    from sift_spark import io as sio

    p = str(tmp_path / "documents.parquet")
    spark.range(2).select(F.col("id").alias("doc_id")).write.parquet(p)
    sio.table(spark, str(tmp_path), "documents")
    # plant a fake entry from a session that no longer exists
    sio._TABLE_CACHE[("app-dead-123", p, (0, 0, 0.0))] = None
    sio.table(spark, str(tmp_path), "documents")
    assert all(k[0] != "app-dead-123" for k in sio._TABLE_CACHE)


def test_artifact_memo_evicts_dead_sessions(spark, tmp_path):
    """The session-artifact memo drops a dead session's entries at the
    next lookup, like the table cache above, so a process cycling
    sessions doesn't keep every stopped session's frames."""
    from sift_spark import caching
    from sift_spark.queries import corpus_artifacts

    spark.createDataFrame([(1, "a b")], "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    caching._BUILT[("app-dead-123", str(tmp_path), "_docs_tokenized")] = None
    art = corpus_artifacts(spark, str(tmp_path))
    try:
        art.tokens()
        assert all(k[0] != "app-dead-123" for k in caching._BUILT)
    finally:
        assert art.release() == 1


def test_shuffle_partitions_for_clamps(tmp_path):
    from sift_spark.session import shuffle_partitions_for

    # ~17 MB on disk (the sf0.1 ballpark) -> floor of 8, regardless of
    # how the shared testdata dir happens to be sized on this host
    f = tmp_path / "blob.bin"
    f.write_bytes(b"\0" * (17 * 1024 * 1024))
    assert shuffle_partitions_for(str(tmp_path), 32) == 8
    # a missing dir falls back to the cpu count, never crashes
    assert shuffle_partitions_for("/nonexistent/sfX", 32) == 32
    # the floor of 8 wins below 8 cores (extra partitions just queue)
    assert shuffle_partitions_for(str(tmp_path), 2) == 8


def test_shuffle_partitions_for_scales_with_bytes(tmp_path):
    """~4 MB of on-disk bytes per partition between the clamps."""
    from sift_spark.session import shuffle_partitions_for

    f = tmp_path / "blob.bin"
    f.write_bytes(b"\0" * (48 * 1024 * 1024))  # 48 MB -> 12 partitions
    assert shuffle_partitions_for(str(tmp_path), 32) == 12
    assert shuffle_partitions_for(str(tmp_path), 10) == 10
    os.remove(f)
