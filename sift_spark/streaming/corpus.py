"""Continuous corpus ingestion: streaming near-dup detection against
a standing LSH index.

The production shape for a crawler/ingest pipeline: documents arrive
as a stream; each micro-batch is compared against the ACCUMULATED
corpus index (band + shingle tables, parquet on shared storage) via
the batch-vs-index join of
:func:`sift_spark.operators.dedup.minhash_lsh_pairs_incremental`, its
near-dup pairs are appended to a pairs log, and the batch's own
bands/shingles are appended to the index — so every batch's work
scales with the batch (plus index-probe), never with corpus history.
``foreachBatch`` makes the inner logic a plain batch plan; the same
code runs over a file source here and a Kafka source in production.

At 100 TB the index tables are written bucketed on their join keys
((band, sig) / doc_id) so the probe join is shuffle-free; the pairs
log is append-only and compacted on a schedule
(``operators.scale.compact_parquet``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BAND_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("sig", T.StringType()),
    ]
)
SHINGLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shingle", T.StringType()),
    ]
)


def _read_index(spark: SparkSession, path: str, schema: T.StructType,
                exclude_batch_id: int) -> DataFrame:
    """Read an index table written as ``batch_id=<id>`` per-batch
    directories, excluding the in-flight batch's own (possibly
    partially-written by a crashed prior attempt) directory.

    A MISSING path is the legitimate first-batch case and degrades to
    an empty frame; any other read error (permissions, torn footers)
    re-raises — silently treating a corrupt index as empty would
    quietly drop every old-vs-new pair from then on."""
    from sift_spark.sinks.upsert import _exists

    if not _exists(spark, path):
        return spark.createDataFrame([], schema)
    return (
        spark.read.parquet(path)
        .where(F.col("batch_id") != exclude_batch_id)
        .select(*[f.name for f in schema.fields])
    )


def process_corpus_batch(batch_df: DataFrame, batch_id: int, index_path: str,
                         pairs_path: str, n: int = 3,
                         threshold: float = 0.8) -> None:
    """One micro-batch of the continuous-dedup pipeline (the
    ``foreachBatch`` body of :func:`stream_corpus_dedup`, exposed so
    replay behavior is directly testable)."""
    from sift_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs_incremental,
        shingles,
    )
    from sift_spark.sinks.upsert import _exists

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    marker = f"{index_path}/_committed/{batch_id}"
    if _exists(spark, marker):
        return  # fully-processed replay
    bands = _read_index(spark, f"{index_path}/bands", BAND_SCHEMA, batch_id)
    sh = _read_index(spark, f"{index_path}/shingles", SHINGLE_SCHEMA, batch_id)
    # ONE batch shingle pass (r11): the pair probe, the band-table
    # append and the shingle append each re-tokenized+re-shingled the
    # batch — share a single localCheckpoint'ed table (batch-sized,
    # ContextCleaner-reclaimed, same contract as the incremental
    # operator's internal checkpoint, which new_sh= skips).
    sh_batch = (
        shingles(batch_df, n).select("doc_id", "shingle", "h").localCheckpoint(eager=False)
    )
    pairs = minhash_lsh_pairs_incremental(
        batch_df, bands, sh, n=n, threshold=threshold, new_sh=sh_batch
    )
    pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch_id={batch_id}")
    minhash_band_table(batch_df, n, sh=sh_batch).write.mode("overwrite").parquet(
        f"{index_path}/bands/batch_id={batch_id}"
    )
    sh_batch.select("doc_id", "shingle").write.mode(
        "overwrite"
    ).parquet(f"{index_path}/shingles/batch_id={batch_id}")
    spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
        "overwrite"
    ).parquet(marker)


def stream_corpus_dedup(docs_stream: DataFrame, index_path: str,
                        pairs_path: str, n: int = 3,
                        threshold: float = 0.8, query_name: str = "corpus_dedup",
                        trigger: dict | None = None,
                        checkpoint: str | None = None):
    """Start the continuous-dedup query (returns the StreamingQuery).

    Per micro-batch: probe the standing index (old↔new pairs), check
    the batch against itself (new↔new), write verified pairs to
    ``pairs_path``, add the batch's bands+shingles to the index.
    An empty index (first batch) degrades to within-batch dedup —
    the same code path with empty probe frames.

    **Replay-idempotent under at-least-once delivery**: every write
    lands in a per-batch ``batch_id=<id>`` directory with overwrite
    mode, so a replayed batch (failure between the pairs write and the
    index writes, or between the sink and the checkpoint commit)
    rewrites the same directories with identical deterministic content
    instead of appending duplicates; a ``_committed/<id>`` marker —
    written last — short-circuits replays of fully-processed batches.
    Index reads exclude the in-flight batch's own directory, so a
    crashed attempt's partial band/shingle files can never pair the
    batch against itself as "old" rows or double-count shingles in the
    jaccard verify. (In a sequential stream the checkpoint only
    advances after ``process`` returns, so the only possibly-
    uncommitted directory IS the current batch's.)

    ``trigger`` defaults to ``{"availableNow": True}`` (drain-and-stop,
    the test/backfill shape); a standing service passes
    ``{"processingTime": "2 seconds"}`` — the soak
    (scripts/streaming_soak.py) runs that shape for minutes and
    SIGKILLs it mid-stream to prove checkpoint-resume idempotence.
    ``checkpoint`` pins the checkpointLocation for kill+restart runs.
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_corpus_batch(
            batch_df, batch_id, index_path, pairs_path, n=n, threshold=threshold
        )

    w = (
        docs_stream.writeStream.foreachBatch(process)
        .queryName(query_name)
        .trigger(**(trigger or {"availableNow": True}))
    )
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_classifier_route(docs_stream: DataFrame, weights: list[float],
                            accept_path: str, reject_path: str,
                            threshold: float = 0.5,
                            query_name: str = "classifier_route"):
    """Model serving on the ingest stream: score each micro-batch of
    documents with a batch-trained quality classifier
    (operators/classify.py) and route rows to accept/reject parquet
    sinks — the standard train-offline/serve-online split. The weight
    vector rides in the plan as literals (no join, no state); the
    only shuffle per batch is the classifier's one feature aggregate.

    Replay-idempotent: per-batch ``batch_id=<id>`` overwrite
    directories, same contract as stream_corpus_dedup.
    """
    from sift_spark.operators.classify import classifier_scores

    def process(batch_df: DataFrame, batch_id: int) -> None:
        scored = classifier_scores(batch_df, weights).join(
            batch_df.select("doc_id", "text"), "doc_id"
        )
        scored.where(F.col("p") >= threshold).write.mode("overwrite").parquet(
            f"{accept_path}/batch_id={batch_id}"
        )
        scored.where(F.col("p") < threshold).write.mode("overwrite").parquet(
            f"{reject_path}/batch_id={batch_id}"
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def expire_from_index(spark: SparkSession, index_path: str, pairs_path: str,
                      remove_doc_ids: list[int]) -> dict[str, int]:
    """Right-to-be-forgotten / retention for the standing dedup index:
    delete every band, shingle, and emitted pair that references the
    given doc_ids, preserving the per-batch ``batch_id=<id>``
    directory layout (so replay idempotence and batch-exclusion reads
    keep working afterwards). Returns per-table removed-row counts.

    Each table is rewritten batch-directory-by-batch-directory with an
    anti-filter — only directories that actually contain a removed doc
    are touched (a membership probe per directory; the removal list is
    a broadcast local list, the normal shape for deletion requests).
    The swap per directory goes through a tmp write + the checked
    rename dance of ``compact_parquet`` (never leaves a half-deleted
    directory on failure)."""
    from sift_spark.sinks.upsert import _delete, _exists, _rename

    ids = [int(x) for x in remove_doc_ids]
    removed: dict[str, int] = {}
    specs = [
        (f"{index_path}/bands", ("doc_id",)),
        (f"{index_path}/shingles", ("doc_id",)),
        (pairs_path, ("doc1", "doc2")),
    ]
    for path, cols in specs:
        if not _exists(spark, path):
            removed[path.rsplit("/", 1)[-1]] = 0
            continue
        df = spark.read.parquet(path)
        cond = F.col(cols[0]).isin(ids)
        for c in cols[1:]:
            cond = cond | F.col(c).isin(ids)
        hit = df.where(cond)
        n_hit = hit.count()
        removed[path.rsplit("/", 1)[-1]] = n_hit
        if n_hit == 0:
            continue
        batches = [r["batch_id"] for r in hit.select("batch_id").distinct().collect()]
        for b in batches:
            sub = f"{path}/batch_id={b}"
            keep = spark.read.parquet(sub)
            for c in cols:
                keep = keep.where(~F.col(c).isin(ids))
            tmp = sub + "__expire_tmp"
            keep.write.mode("overwrite").parquet(tmp)
            old = sub + "__expire_old"
            if not _rename(spark, sub, old):
                raise IOError(f"rename {sub} -> {old} failed")
            if not _rename(spark, tmp, sub):
                _rename(spark, old, sub)
                raise IOError(f"rename {tmp} -> {sub} failed; original restored")
            _delete(spark, old)
    return removed
