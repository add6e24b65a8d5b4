"""Table loading helpers for the driver-generated parquet test corpus."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Analyzed-relation cache: `spark.read.parquet` lists the path and
# reads footers for schema inference on EVERY call (~50-150ms of
# driver time each) — a registry sweep loads the same ten immutable
# tables hundreds of times, so this was a measurable slice of the
# small-SF per-query floor. Entries are keyed on (applicationId,
# path, content fingerprint): the fingerprint folds in the file list,
# total byte size, and the max mtime of every file under the path, so
# an overwrite within the same 1s mtime tick or an in-place part-file
# rewrite that keeps the directory entry list misses the cache instead
# of serving a stale relation. Entries from dead sessions (a different
# applicationId) are evicted on the next lookup, so long-lived
# processes that cycle sessions don't accumulate entries. This caches
# ANALYSIS ONLY — no data is persisted; it is the same metadata reuse
# a production catalog (metastore) provides.
_TABLE_CACHE: dict[tuple[str, str, object], DataFrame] = {}


def _content_fingerprint(path: str):
    """(file list hash, total bytes, max mtime) for a file or dir;
    None when the path is remote/missing (→ never cache)."""
    try:
        if os.path.isdir(path):
            names, total, mx = [], 0, 0.0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    names.append(f)
                    total += st.st_size
                    mx = max(mx, st.st_mtime)
            return (hash(tuple(sorted(names))), total, mx)
        st = os.stat(path)
        return (0, st.st_size, st.st_mtime)
    except OSError:
        # non-local path (s3://, hdfs://) or missing file: the stat
        # probe can't observe overwrites there, so NEVER cache — a
        # stale relation on remote storage would be silent. spark.read
        # below still raises for genuinely missing paths.
        return None


def evict_dead_sessions(cache: dict, live_app_id: str) -> None:
    """Drop the entries of a session-keyed cache (key[0] is the
    applicationId) that belong to any session but the live one."""
    dead = [k for k in cache if k[0] != live_app_id]
    for k in dead:
        del cache[k]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    fp = _content_fingerprint(path)
    if fp is not None:
        app_id = spark.sparkContext.applicationId
        evict_dead_sessions(_TABLE_CACHE, app_id)
        key = (app_id, path, fp)
        df = _TABLE_CACHE.get(key)
        if df is not None:
            return df
    if name == "events":
        # driver testdata stores ts as timestamp[us] (plain
        # TimestampType — this conf is a no-op for it); set so a true
        # TIMESTAMP(NANOS) events file reads as int64 nanos instead of
        # erroring under a caller-provided session. Operators accept
        # either via epoch_seconds() type detection.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if fp is not None:
        _TABLE_CACHE[(spark.sparkContext.applicationId, path, fp)] = df
    return df


# --- generic format dispatch -------------------------------------------------
# the reference reads/writes text-ish corpora (sift/corpora, format.py);
# a Spark-native engine should speak every built-in columnar/text format
# through one entry point so pipelines swap storage without code edits.

FORMATS = ("parquet", "orc", "json", "csv", "text")


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "overwrite", **options) -> None:
    """Write in any built-in format. CSV gets a header by default
    (schema survives the round trip with ``read_table``); avro is
    gated — it needs the external spark-avro package, and the error
    says so instead of stub-succeeding."""
    if fmt == "avro":
        try:
            df.write.mode(mode).options(**options).format("avro").save(path)
            return
        except Exception as exc:
            raise RuntimeError(
                "avro needs the external spark-avro package "
                "(--packages org.apache.spark:spark-avro_2.13:<version>)"
            ) from exc
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; one of {FORMATS} or 'avro'")
    w = df.write.mode(mode)
    if fmt == "csv":
        w = w.option("header", "true")
    w.options(**options).format(fmt).save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet",
               schema=None, **options):
    """Read any built-in format back. CSV re-applies the explicit
    ``schema`` when given (header-only CSV reads everything as
    string otherwise — pass the writer's ``df.schema`` for a
    lossless round trip)."""
    if fmt not in FORMATS and fmt != "avro":
        raise ValueError(f"unknown format {fmt!r}; one of {FORMATS} or 'avro'")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.options(**options).format(fmt).load(path)
