"""Deterministic sampling & splitting for training-data pipelines.

All sampling here is hash-based (md5-derived, seeded by a salt
string), NOT ``rand()``: the same row lands in the same
split/sample on every run, on any cluster, regardless of partitioning
— the property training-data lineage needs. ``F.rand`` is
seed-stable only under identical partitioning, so it silently
reshuffles membership when the input layout changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sift_spark.functions.core import guards_tf, hash64


def hash_bucket(key: Column, salt: str = "sample", n: int = 100) -> Column:
    """Stable bucket in [0, n) from a key column + salt."""
    return hash64(F.concat(F.lit(salt + ":"), key.cast("string"))) % n


def stratified_sample(df: DataFrame, key_col: str, stratum_col: str,
                      fractions: dict[str, float], salt: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep rare ones whole)."""
    bucket = hash_bucket(F.col(key_col), salt)
    cond = None
    for stratum, frac in fractions.items():
        c = (F.col(stratum_col) == stratum) & (bucket < round(frac * 100))
        cond = c if cond is None else cond | c
    known = F.col(stratum_col).isin(*fractions.keys())
    return df.where(cond | ~known)


def source_quota_sample(df: DataFrame, key_col: str = "doc_id",
                        source_col: str = "source", cap: int = 50,
                        salt: str = "quota") -> DataFrame:
    """Domain-mix rebalancing: keep at most ``cap`` rows per source,
    chosen by deterministic hash order (stable across runs and cluster
    layouts — the hash, not arrival order, decides membership).

    One shuffle keyed on the source column (row_number window). For a
    skewed mega-source at 100 TB scale, pre-filter with a hash
    threshold (≈ cap / est_count quantile) before the exact rank so
    the window only sees ~cap rows per source."""
    from pyspark.sql import Window

    h = hash64(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .select(key_col, source_col)
    )


def train_test_split(df: DataFrame, key_col: str, test_fraction: float = 0.1,
                     salt: str = "split") -> tuple[DataFrame, DataFrame]:
    """(train, test) with stable membership; a row's side never
    changes across runs or repartitions."""
    bucket = hash_bucket(F.col(key_col), salt)
    cut = round(test_fraction * 100)
    return df.where(bucket >= cut), df.where(bucket < cut)


def pack_sequences(docs_with_tokens: DataFrame, max_tokens: int = 2048,
                   key_col: str = "doc_id", n_col: str = "n_tokens") -> DataFrame:
    """Greedy sequence packing for training batches: documents are
    laid out in deterministic hash order and chunked into bins of
    ~``max_tokens`` by running token count (a doc whose tokens would
    overflow the current bin starts the next one — approximated here
    as cumulative-sum division, the streaming-equivalent greedy rule):
    (doc_id, bin_id, bin_offset).

    One global ordering is required for reproducible packing, so this
    uses a single ordered window over the hash — at 100 TB use
    :func:`pack_sequences_sharded`, which packs deterministic hash
    shards under a shard-partitioned window (each shard identical to
    running this function on the shard alone).
    """
    from pyspark.sql import Window

    h = hash64(F.concat(F.lit("pack:"), F.col(key_col).cast("string")))
    w = Window.orderBy(h.asc(), F.col(key_col).asc())
    cum = F.sum(F.col(n_col)).over(w)
    return (
        docs_with_tokens.select(key_col, n_col)
        .withColumn("bin_id", F.floor((cum - F.col(n_col)) / max_tokens).cast("bigint"))
        .withColumn("bin_offset", ((cum - F.col(n_col)) % max_tokens).cast("bigint"))
        .select(key_col, n_col, "bin_id", "bin_offset")
    )


def pack_sequences_sharded(docs_with_tokens: DataFrame, n_shards: int = 8,
                           max_tokens: int = 2048, key_col: str = "doc_id",
                           n_col: str = "n_tokens") -> DataFrame:
    """Per-shard greedy packing — the scale path whose shape
    :func:`pack_sequences` documents: (key, n_tokens, shard_id,
    bin_id, bin_offset), with (shard_id, bin_id) globally unique.

    Documents are assigned to ``n_shards`` deterministic hash shards
    (the same ``pack:`` hash family that orders the global variant, so
    assignment is layout- and cluster-size-invariant), then packed
    with the identical greedy cumulative-sum rule under a window
    partitioned BY SHARD — n_shards parallel sorted windows instead of
    one global single-partition sort. Each shard packs exactly as
    :func:`pack_sequences` would pack that shard's documents alone
    (tested), so a training job can pack and consume shards fully
    independently."""
    from pyspark.sql import Window

    h = hash64(F.concat(F.lit("pack:"), F.col(key_col).cast("string")))
    base = docs_with_tokens.select(
        key_col, n_col, h.alias("__h"), (h % n_shards).alias("shard_id")
    )
    w = Window.partitionBy("shard_id").orderBy(F.col("__h").asc(), F.col(key_col).asc())
    cum = F.sum(F.col(n_col)).over(w)
    return (
        base.withColumn("bin_id", F.floor((cum - F.col(n_col)) / max_tokens).cast("bigint"))
        .withColumn("bin_offset", ((cum - F.col(n_col)) % max_tokens).cast("bigint"))
        .select(key_col, n_col, "shard_id", "bin_id", "bin_offset")
    )


def weighted_sample(df: DataFrame, k: int = 100, key_col: str = "doc_id",
                    weight_col: str = "n_chars", salt: str = "wsample") -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-Res): each row draws u from its key's hash
    and gets priority −ln(u)/w; the k smallest priorities win, so
    P(selected) ∝ weight, the draw is reproducible on any cluster
    layout, and one distributed top-k (no global sort of the corpus —
    per-partition top-k feeds the final window) materializes the
    sample. Rank runs on the 6dp-ROUNDED priority with a key
    tie-break so the selection is engine-exact.
    """
    from pyspark.sql import Window

    u = (hash64(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))) % 1000000 + 0.5) / 1000000.0
    pr = F.round(-F.log(u) / F.col(weight_col), 6)
    # top-k as orderBy+limit (TakeOrderedAndProject: per-partition
    # top-k then a k·P-row merge), NOT a corpus-wide row_number
    # window; rank is assigned after the limit over k rows only.
    # Non-positive weights mean P(selected) = 0 — and an unfiltered
    # w = 0 row would make the division THROW under ANSI mode.
    topk = (
        df.where(F.col(weight_col) > 0)
        .withColumn("priority", pr)
        .orderBy(F.col("priority").asc(), F.col(key_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("priority").asc(), F.col(key_col).asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        key_col, weight_col, "priority", "rank"
    )


@guards_tf
def dsir_importance_weights(docs: DataFrame, target_lang: str = "en",
                            smoothing: float = 1.0, k: int = 100,
                            tf: DataFrame | None = None) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"; unigram variant):
    rank documents by how much they resemble a target distribution.

    weight(doc) = avg over its tokens of
    ``ln p_target(tok) − ln p_raw(tok)``, with add-``smoothing``
    Laplace estimates over the shared vocabulary; the target
    distribution is estimated from the docs whose ``lang`` equals
    ``target_lang``, the raw distribution from the whole corpus.
    Returns the top-``k`` docs by weight: (doc_id, weight).

    Plan shape: one token explode feeding both frequency tables, the
    vocab-sized log-ratio table joins back hash-keyed (broadcastable
    for bounded vocabularies), scalar totals ride a 1-row broadcast,
    and the final top-k is TakeOrderedAndProject — no corpus-wide
    sort, no driver loop.

    ``tf``: optional posting table (see models.text.doc_term_tf). The
    raw frequency table is an integer-exact re-aggregate of it (Σ tf
    per term); with a passed ``tf`` the target table is too (the same
    sum over an AQE-planned doc_id join), so the operator never reads
    the token stream. The per-doc score is the WEIGHTED average
    Σ tf·lr / Σ tf in both Spark paths — same value as the per-token
    average up to float summation order, which the 6dp edge rounding
    absorbs. The DuckDB oracle deliberately computes the PER-TOKEN
    form avg(lr) over the token stream (mathematically equal,
    structurally independent — see the oracle_ops note); do NOT
    "align" it back to the weighted shape.
    """
    from sift_spark.models.text import doc_term_tf, tokens_col

    if tf is None:
        tf = doc_term_tf(docs)
        # the lang column is INLINE on docs — the target table needs
        # no join at all: filter then count token occurrences (= Σ tf
        # over target docs, integer-identical to the posting-side sum);
        # tokens_col reads the session token artifact when docs has it
        tgt_tf = (
            docs.where(F.col("lang") == target_lang)
            .select(F.explode(tokens_col(docs)).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("nt"))
        )
    else:
        # target-lang doc ids join the posting table UNHINTED: the
        # filtered doc set is corpus-proportional (every target-lang
        # doc), so a forced broadcast would bypass
        # autoBroadcastJoinThreshold and risk driver/executor OOM at
        # scale — AQE picks broadcast when the runtime size fits and a
        # keyed shuffle when it doesn't (correctness never assumes it
        # fits, same rule as the q4 semi-join)
        tgt_ids = docs.where(F.col("lang") == target_lang).select("doc_id")
        tgt_tf = (
            tf.join(tgt_ids, "doc_id")
            .groupBy(F.col("term").alias("tok"))
            .agg(F.sum("tf").alias("nt"))
        )
    posting = tf.select("doc_id", F.col("term").alias("tok"), "tf")
    raw_tf = posting.groupBy("tok").agg(F.sum("tf").alias("nr"))
    vocab = raw_tf.join(tgt_tf, "tok", "left").select(
        "tok", "nr", F.coalesce("nt", F.lit(0)).alias("nt")
    )
    totals = vocab.agg(
        F.count(F.lit(1)).alias("vsz"),
        F.sum("nr").alias("tr"),
        F.sum("nt").alias("tt"),
    )
    s = float(smoothing)
    lr = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log((F.col("nt") + s) / (F.col("tt") + s * F.col("vsz")))
            - F.log((F.col("nr") + s) / (F.col("tr") + s * F.col("vsz")))
        ).alias("lr"),
    )
    weights = (
        posting.join(lr, "tok")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("tf") * F.col("lr")) / F.sum("tf"), 6).alias("weight"))
    )
    return weights.orderBy(F.col("weight").desc(), F.col("doc_id").asc()).limit(k)


def temperature_weights(docs: DataFrame, alpha: float = 0.3,
                        budget: int = 10000,
                        source_col: str = "source") -> DataFrame:
    """Temperature-based source mixing (the multilingual-corpus
    sampling rule of XLM-R / mC4: p_s ∝ n_s^α): per source, the raw
    corpus share, the temperature-flattened share, the resulting
    up/down-sampling boost, and the expected document count under a
    total ``budget``. α = 1 reproduces the natural mix; α → 0
    approaches uniform-over-sources.

    Output: (source, n_docs, p_raw, p_temp, boost, expected_docs).

    Scale shape: one count aggregate keyed on source (map-side
    combine does nearly all the work), totals ride back on a 1-row
    broadcast crossJoin — the corpus itself is touched exactly once
    and never wide-shuffled."""
    cnt = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = cnt.agg(
        F.sum("n_docs").alias("t"),
        F.sum(F.pow(F.col("n_docs"), alpha)).alias("ta"),
    )
    p_temp = F.pow(F.col("n_docs"), alpha) / F.col("ta")
    p_raw = F.col("n_docs") / F.col("t")
    return cnt.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n_docs",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / p_raw, 6).alias("boost"),
        F.round(F.lit(float(budget)) * p_temp, 2).alias("expected_docs"),
    )


def temperature_sample(docs: DataFrame, alpha: float = 0.3,
                       budget: int = 10000, key_col: str = "doc_id",
                       source_col: str = "source",
                       salt: str = "temp") -> DataFrame:
    """Apply :func:`temperature_weights`: keep each document with
    probability min(1, budget·p_temp(source)/n_docs(source)), decided
    by the deterministic keyed hash (same membership on every run and
    every cluster layout). Downsampling only — a source whose target
    exceeds its size keeps everything (upsampling is a repeat-count
    concern for the packing stage, not a filter).

    Output: (key, source). The per-source rate table is a broadcast
    join; the corpus never shuffles."""
    rates = temperature_weights(docs, alpha, budget, source_col).select(
        source_col,
        F.least(
            F.lit(1.0), F.col("expected_docs") / F.col("n_docs")
        ).alias("rate"),
    )
    hb = hash_bucket(F.col(key_col), salt, 1_000_000)
    return (
        docs.join(F.broadcast(rates), source_col)
        .where(hb < F.round(F.col("rate") * 1_000_000))
        .select(key_col, source_col)
    )


def cluster_balanced_sample(emb: DataFrame, cap: int = 30, n_iter: int = 2,
                            salt: str = "cbal") -> DataFrame:
    """Diversity-aware corpus sampling: spread a selection budget
    across the embedding space by keeping at most ``cap`` vectors per
    k-means cluster, chosen by deterministic hash order (the
    cluster-balanced curation step used to de-bias dominant modes —
    the semantic analog of :func:`source_quota_sample`'s domain mix).
    Output (vec_id, cluster), membership stable across runs and
    cluster layouts.

    Shape: the deterministic k-means assignment (map-side GEMM per
    round + one keyed mean shuffle) followed by ONE cluster-keyed
    row_number window. At 100 TB size k so N/k·row is window-safe, or
    pre-filter with a hash threshold like source_quota_sample."""
    from pyspark.sql import Window

    from sift_spark.operators.similarity import kmeans_clusters

    a = kmeans_clusters(emb, n_iter=n_iter)
    h = hash64(F.concat(F.lit(salt + ":"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        a.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .select("vec_id", "cluster")
    )


def stratified_kfold(df: DataFrame, key_col: str, strata_col: str,
                     k: int = 5, salt: str = "fold") -> DataFrame:
    """Leakage-safe k-fold assignment, stratified: within each
    stratum, rows are ranked by deterministic hash and dealt
    round-robin into folds — every fold gets an equal share of every
    stratum (within one row), and membership never changes across
    runs or cluster layouts. Output (key, stratum, fold).

    One stratum-keyed window; for a mega-stratum at 100 TB use the
    plain hash fold (``hash_bucket(key) % k`` — also stable, no
    window) and accept +-sqrt stratum imbalance."""
    from pyspark.sql import Window

    h = hash64(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    return df.select(
        key_col,
        F.col(strata_col).alias("stratum"),
        ((F.row_number().over(w) - 1) % k).cast("int").alias("fold"),
    )


def shard_skew_report(docs_with_tokens: DataFrame, n_shards: int = 8,
                      key_col: str = "doc_id", n_col: str = "n_tokens") -> DataFrame:
    """Token-balance report for the deterministic hash sharding that
    :func:`pack_sequences_sharded` / ``write_training_shards`` key on:
    per shard (shard_id, n_docs, n_tokens, frac_tokens, skew), where
    skew = shard tokens / mean shard tokens over the observed shards
    (1.0 = perfectly balanced).

    The pre-flight check a 100 TB packing run does before committing
    to a shard count: a skewed key (or a pathological corpus) turns
    into straggler executors exactly proportional to max(skew). Uses
    the SAME salted hash as the packer ('pack:' || key), so the report
    describes the sharding that will actually run — two aggregates
    over a doc-count-sized frame plus one broadcast 1-row total.
    """
    h = hash64(F.concat(F.lit("pack:"), F.col(key_col).cast("string")))
    per = (
        docs_with_tokens.select((h % n_shards).alias("shard_id"), F.col(n_col))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_col).alias("n_tokens"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").cast("double").alias("_tot"),
        F.count(F.lit(1)).cast("double").alias("_ns"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("frac_tokens"),
        F.round(F.col("n_tokens") * F.col("_ns") / F.col("_tot"), 6).alias("skew"),
    )
