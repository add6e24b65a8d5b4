"""Deduplication operators for large-scale training-data pipelines.

Operator groups, correctness-checked against DuckDB oracles built from
the same constants:

- exact:        md5 content hash → hash-groupBy or keep-first window
                (exact_duplicate_groups, dedup_exact), duplicated
                token blocks and spans (block_dedup, duplicate_spans)
- minhash-lsh:  shingle → K linear-perm minhashes → banded signatures
                → bucket equi-join candidates → exact-jaccard verify
                (minhash_lsh_pairs, the standing index and its
                incremental probe, fuzzy_contamination,
                lsh_recall_probe, minhash_band_tuning)
- shared-shingle set similarity: equi-join on the shingle itself
                (ngram_jaccard_pairs, containment_pairs, the PPJoin
                prefix variant, similar_docs, doc_novelty)
- simhash:      tf-weighted 32-bit simhash → byte-band candidates →
                hamming filter
- embedding:    block-tiled cosine GEMM (embedding_dup_pairs,
                doc_embedding_dup_pairs) and SemDeDup
- pair graph:   connected components over verified pairs and the
                reports built on them (clusters, apply, stats, rates)

Each step of the set-similarity join has one implementation that
every operator composes:

- :func:`shingles` is the one shingle table: (doc_id, shingle, h,
  n_sh), with the per-doc distinct-shingle count computed map-side;
- :func:`minhash_band_table` is the one band-table build (signature
  aggregate → band explode);
- ``_band_pairs`` is the one (band, sig) collision self-join;
- ``_shared_shingle_pairs`` is the one shared-shingle self-join that
  counts the intersection and carries a pair size (jaccard and
  containment);
- ``_set_jaccard`` is the one exact jaccard over collected shingle
  sets (every array verify).

Scale posture: no operator ever builds a full cross join. Candidate
generation is always an equi-join on a banded/bucketed key, so the
shuffle is keyed and AQE can split skewed buckets. The plain
shared-shingle join is the heaviest: it fans out on every common
shingle. At very large corpora use ``ngram_jaccard_pairs_prefix``,
whose rarity-ordered prefixes push the hot shingles out of the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sift_spark.functions.core import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_ROWS,
    MOD31,
    SIMHASH_BITS,
    guards_tf,
    hash31,
)
from sift_spark.caching import local_persist
from sift_spark.models.text import word_ngrams
from sift_spark.functions.core import tokens


def exact_duplicate_groups(docs: DataFrame) -> DataFrame:
    """Exact-duplicate groups by md5(text): (text_hash, keep_doc_id,
    n_docs). ``keep_doc_id`` is the minimum doc_id (keep-first)."""
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep exactly one row (lowest doc_id) per distinct
    text — row_number per md5(text) group (the key of
    :func:`exact_duplicate_groups`), robust even when doc_ids
    themselves repeat. A NULL text is its own group, distinct from the
    empty string."""
    from pyspark.sql import Window

    w = Window.partitionBy("__key").orderBy("doc_id")
    return (
        docs.withColumn("__key", F.md5("text"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__key", "__rn")
    )


def block_dedup(docs: DataFrame, block: int = 20) -> DataFrame:
    """C4-style duplicate-span removal at fixed token-block
    granularity (the corpus has no newlines, so the "line" unit is a
    consecutive ``block``-token span): every block that occurs more
    than once corpus-wide is kept only at its first occurrence
    (lowest doc_id, then block_id); documents are re-assembled from
    their surviving blocks. Output (doc_id, n_blocks, n_kept,
    clean_text).

    Shape: map-side chunking, then ONE shuffle keyed on the block
    text (the window partition). Ubiquitous boilerplate blocks skew
    that key at corpus scale — AQE skew-join/partition splitting
    handles the read side, and the per-key work is a row_number, not
    a join, so a hot key costs one sort of its occurrences."""
    from pyspark.sql import Window

    from sift_spark.models.text import with_tokens

    t = with_tokens(docs).withColumn("n", F.size("toks"))
    b = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("n") / F.lit(float(block))).cast("int") - 1)
        ).alias("block_id"),
        "toks",
    ).select(
        "doc_id",
        "block_id",
        F.array_join(
            F.slice("toks", F.col("block_id") * block + 1, F.lit(block)), " "
        ).alias("block_text"),
    )
    w = Window.partitionBy("block_text").orderBy("doc_id", "block_id")
    k = b.withColumn("kept", F.row_number().over(w) == 1)
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            # collect_list drops the nulls (non-kept blocks); struct
            # sort order is (block_id, …) so document order survives
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("block_id", "block_text"))
                        )
                    ),
                    lambda s: s["block_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct token n-gram shingles with 31-bit hashes and the per-doc
    distinct-shingle count: (doc_id, shingle, h, n_sh). Per-doc dedup
    is map-side (array_distinct before the explode); tokens
    materialized once (see word_ngrams perf note). ``n_sh`` is the
    size of the doc's distinct-shingle array, computed MAP-SIDE before
    the explode — zero extra shuffle at any scale — so the jaccard and
    containment pair operators carry both pair sizes through their
    shared-shingle self-join instead of re-aggregating per-doc sizes
    and joining them back (r12: two joins + one aggregate deleted from
    each consumer's plan). Consumers that do not read ``n_sh`` project
    it away and Catalyst prunes the size computation."""
    from sift_spark.models.text import with_tokens

    arr = F.array_distinct(word_ngrams(F.col("toks"), n, n))
    # explode_OUTER + isnotnull, not plain explode: InferFiltersFromGenerate
    # adds size(child)>0 below a non-outer Generate, and predicate
    # pushdown then substitutes the _sh alias with the full ngram
    # expression — measured 3 evaluations of the transform per row in
    # the build. Outer generates infer nothing; the post-explode
    # isnotnull drops exactly the rows plain explode never emits
    # (empty arrays — shingle elements themselves are concat_ws output
    # and never null), so the output is identical (tested against the
    # plain-explode form) with ONE ngram pass.
    return (
        with_tokens(docs)
        .select("doc_id", arr.alias("_sh"))
        .select(
            "doc_id", F.size("_sh").alias("n_sh"), F.explode_outer("_sh").alias("shingle")
        )
        .where(F.col("shingle").isNotNull())
        .select("doc_id", "shingle", hash31(F.col("shingle")).alias("h"), "n_sh")
    )


def _minhash_from_shingles(sh: DataFrame) -> DataFrame:
    # r12: the K aggregate expressions are built as ONE parsed SQL
    # string each instead of ~8 chained Column calls each — identical
    # Catalyst expressions (int literals parse to IntegerType exactly
    # like F.lit on int32-range values), ~K×8 fewer Py4J round trips
    # per construction (guide §4: the Python boundary is also the
    # driver's boundary).
    aggs = [
        F.expr(f"min(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MOD31}) AS mh_{i}")
        for i in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _bands_from_signatures(mh: DataFrame) -> DataFrame:
    # r12: one parsed SQL string instead of per-band Column chains —
    # identical expressions, far fewer Py4J round trips (see
    # _minhash_from_shingles).
    bands = ", ".join(
        "struct({b} AS band, md5(concat_ws(',', {cols})) AS sig)".format(
            b=b,
            cols=", ".join(
                f"cast(mh_{b * MINHASH_ROWS + r} AS string)"
                for r in range(MINHASH_ROWS)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return mh.select("doc_id", F.expr(f"explode(array({bands})) AS bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_band_table(docs: DataFrame, n: int = 3,
                       sh: DataFrame | None = None) -> DataFrame:
    """Banded signatures: (doc_id, band, sig) — md5 over each band's
    row values; the (band, sig) pair is the LSH bucket key. The one
    band-table build: every banded operator composes it. ``sh``:
    optional pre-built ``shingles(docs, n)`` table (the session's
    shared artifact, or a caller's persisted one) — the signature
    aggregate then reads it instead of re-tokenizing."""
    if sh is None:
        sh = shingles(docs, n)
    return _bands_from_signatures(_minhash_from_shingles(sh))


def _band_pairs(bt: DataFrame) -> DataFrame:
    """Band-collision candidates within one band table: every (doc1,
    doc2) with doc1 < doc2 that agrees on some (band, sig) bucket —
    one row per colliding band (callers deduplicate)."""
    return (
        bt.alias("l")
        .join(bt.alias("r"), (F.col("l.band") == F.col("r.band")) & (F.col("l.sig") == F.col("r.sig")))
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
    )


def _set_jaccard(s1: str, s2: str) -> Column:
    """Exact jaccard |S1∩S2| / (|S1|+|S2|−|S1∩S2|) of two collected
    shingle-set columns, rounded to 6dp like every oracle."""
    inter = F.size(F.array_intersect(s1, s2))
    return F.round(inter / (F.size(s1) + F.size(s2) - inter), 6)


def _shared_shingle_pairs(sh: DataFrame, size: Column,
                          prune: Column | None = None) -> DataFrame:
    """The shared-shingle self-join: (doc1, doc2, inter, size) for
    every pair doc1 < doc2 sharing ≥1 shingle of ``sh`` (doc_id,
    shingle, n_sh). Intersection sizes come straight off the join —
    shingles are distinct per doc — so there is no candidate-distinct
    + re-join pass: one shuffle join + one aggregate.

    ``size`` is ONE int derived from the two sides' map-side ``n_sh``
    (``l.n_sh``/``r.n_sh``) at join time. It is functionally dependent
    on the pair key, so min() carries it through the pair aggregate
    deterministically with a single extra agg buffer — the per-doc
    size aggregate and its two pair-table joins never enter the plan.
    ``prune``: optional extra join predicate over the same columns,
    applied inside the join, before the pair shuffle."""
    cond = F.col("l.doc_id") < F.col("r.doc_id")
    if prune is not None:
        cond = cond & prune
    sh = sh.select("doc_id", "shingle", "n_sh")
    return (
        sh.alias("l")
        .join(sh.alias("r"), F.col("l.shingle") == F.col("r.shingle"))
        .where(cond)
        .select(
            F.col("l.doc_id").alias("doc1"),
            F.col("r.doc_id").alias("doc2"),
            size.alias("size"),
        )
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("inter"), F.min("size").alias("size"))
    )


def minhash_lsh_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8,
    sh: DataFrame | None = None, bt: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-jaccard verify:
    (doc1, doc2, jaccard). Candidates come from band-bucket equi-joins
    (never a cross join); jaccard is computed exactly on the candidate
    set only.

    ONE persisted shingle table feeds the signature aggregate AND the
    verify (tokenize + ngram + md5 is the dominant linear cost — the
    sf1 study measured the whole operator scaling ~linearly at ~12×
    per 10× data, so not recomputing the shingle pass matters); the
    band table persists because it self-joins. Both caches are
    MATERIALIZED eagerly: the self-join's two input stages (and the
    verify's three shingle scans) schedule concurrently, so a lazy
    persist races — every branch recomputes the shingle pass on cache
    misses and pays the cache writes on top (the filtered_corpus
    lesson, measured there at 1.6×).

    EAGER-EXECUTION CONTRACT (applies to every shingle-family
    operator that persists an intermediate it consumes from multiple
    branches — minhash/simhash/ngram/prefix/containment/novelty):
    construction launches the materializing job immediately rather
    than returning a fully lazy plan; that is the price of the race
    above. LIFECYCLE (r12): these builder-local caches are plan-keyed
    in Spark's CacheManager, which holds a strong reference until an
    explicit unpersist — they are NOT reclaimed when the result
    DataFrame is garbage-collected, so a long-lived session calling
    builders with varying inputs grows storage unboundedly unless it
    releases them. Every such persist is registered in
    ``sift_spark.caching``; call
    ``sift_spark.caching.release_local_caches()`` once the results
    built so far have been consumed (bench.py and scripts/query_ab.py
    do this between timed repetitions so warm runs recompute instead
    of cache-reading). Passing a pre-built ``sh`` (see parameter)
    skips both the persist and the eager job — the caller owns that
    table's lifecycle; it is a ``shingles(docs, n)`` table. ``bt``:
    optional pre-materialized band table (``minhash_band_table``/the
    session's band artifact, r11) — the signature aggregate + band
    explode then read the caller's cache instead of rebuilding; caller
    owns its lifecycle."""
    own_sh = sh is None
    if own_sh:
        sh = local_persist(
            shingles(docs, n).select("doc_id", "shingle", "h"), eager=False
        )
    if bt is None:
        bt = local_persist(minhash_band_table(docs, n, sh=sh), eager=False)
        bt.count()  # materializes bt AND (when owned) sh's cache underneath it
    elif own_sh:
        sh.count()  # bt is caller-owned; still materialize our own sh cache
    return _jaccard_verify(_band_pairs(bt).distinct(), sh, threshold)


# --- connected components ----------------------------------------------
#
# Both CC variants gate on the VERIFIED-PAIR count: after LSH + exact
# jaccard verification the duplicate-pair graph is minuscule relative
# to the corpus (sf0.1: 256 pairs from 6k docs; the ratio shrinks as
# thresholds rise), and running 2-4 distributed rounds over a few
# thousand rows pays ~10 scheduled jobs of pure coordination. Below
# the limit the edge list is collected once (it is already
# materialized — the count doubles as the gate) and resolved with a
# vectorized numpy min-label + pointer-jumping pass; above it the
# distributed rounds run unchanged (forced in tests via the conf).
# 2M edges ≈ 32 MB — comfortably driver-sized; this is the same
# size-gated driver/distributed split the tokenizer trainers use.
CC_DRIVER_EDGE_LIMIT_CONF = "spark.sift.cc.driverEdgeLimit"
CC_DRIVER_EDGE_LIMIT = 2_000_000


def _cc_driver_limit(spark) -> int:
    return int(spark.conf.get(CC_DRIVER_EDGE_LIMIT_CONF, str(CC_DRIVER_EDGE_LIMIT)))


def _driver_cc(edges: DataFrame, out_node: str, out_rep: str) -> DataFrame:
    """CC over a collected (small, gated) edge list: each pass takes
    every node to the min label over itself and its neighbors (both
    directions — the input may be one-orientation) then pointer-jumps
    ``lab = lab[lab]`` (path halving), all vectorized; converges in
    O(log n) passes to the per-component minimum node id. np.unique
    codes are SORTED, so min in code space == min in value space for
    both int64 doc ids and string entity ids."""
    import numpy as np
    from pyspark.sql import types as T

    pdf = edges.toPandas()
    a_vals = pdf.iloc[:, 0].to_numpy()
    b_vals = pdf.iloc[:, 1].to_numpy()
    uniq, inv = np.unique(np.concatenate([a_vals, b_vals]), return_inverse=True)
    a, b = inv[: len(a_vals)], inv[len(a_vals):]
    lab = np.arange(len(uniq), dtype=np.int64)
    while True:
        prev = lab.copy()
        # unbuffered in-place min: duplicate target indices accumulate
        np.minimum.at(lab, a, lab[b])
        np.minimum.at(lab, b, lab[a])
        lab = lab[lab]
        if np.array_equal(lab, prev):
            break
    import pandas as pd

    dt = edges.schema[0].dataType
    out = pd.DataFrame({out_node: uniq, out_rep: uniq[lab]})
    schema = T.StructType(
        [T.StructField(out_node, dt, True), T.StructField(out_rep, dt, True)]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters:
    (doc_id, rep_id) with ``rep_id`` = the cluster's minimum doc_id
    (the canonical "keep" document).

    Iterative min-label propagation: each node takes the least label
    among itself and its neighbors until fixpoint. Near-dup clusters
    are near-cliques, so this converges in 2-4 rounds regardless of
    corpus size. Per round: no separate count job — the round's
    lineage cut is a LAZY checkpoint (functions.lineage.cut) whose
    materializing action is the convergence probe itself: the probe
    aggregate full-scans the new label frame, which caches the blocks,
    truncates lineage, and returns the changed-count in the same job
    (the eager-cut + separate-probe form added a count job per round,
    at the measured sf0.1 scheduling floor). Under AQE the round's
    shuffle stages still run at the cut itself. The previous label
    rides along in the new frame so the probe needs no extra join. For
    long-chain graphs swap in large-star/small-star — same DataFrame
    skeleton, fewer rounds on high-diameter inputs. Honors
    ``spark.sift.checkpoint=reliable`` for executor-loss-tolerant
    checkpoints on real clusters.

    Verified-pair graphs at or below ``spark.sift.cc.driverEdgeLimit``
    symmetric edges (default 2M ≈ 32 MB) resolve driver-side in one
    vectorized numpy pass instead — see the gate comment above
    ``_driver_cc``; the distributed rounds are the ≥limit path and are
    forced in tests via the conf.
    """
    from sift_spark.functions.lineage import cut

    e = pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
    # lineage cut for the edge list: it materializes the whole
    # candidate-generation DAG (LSH banding + verify) exactly once and
    # every CC round plans against a flat leaf instead of a tree that
    # regrows by one join per round — at sf0.1 the rounds were
    # dominated by Catalyst re-analysis of that growing plan, not by
    # shuffle work. The gate count below is the lazy cut's single
    # full-scan materializer: it writes the blocks, which are then
    # cached for whichever path runs. Not free: under AQE the cut runs
    # the candidate-generation shuffle stages at the call (measured in
    # the pipeline: 5 jobs there, 2 more in the count).
    edges = cut(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    # this edge list is SYMMETRIZED (≈2 rows per undirected pair), so
    # compare against 2× the limit — the conf then means "distinct
    # undirected pairs" identically in both CC variants (the star
    # variant counts raw pairs)
    if edges.count() <= 2 * _cc_driver_limit(pairs.sparkSession):
        return _driver_cc(edges, "doc_id", "rep_id")
    # round 1 fused into initialization: each node starts at
    # min(self, direct neighbors) — one aggregate instead of a full
    # join+probe round (cliques are already converged here)
    labels = edges.groupBy("a").agg(
        F.least(F.col("a"), F.min("b")).alias("rep")
    ).select(F.col("a").alias("node"), "rep")
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("rep").alias("nrep"))
        )
        # lazy cut: the probe below is the single full-scan consumer
        # that writes this round's blocks (no separate count job; the
        # round's shuffle stages run at the cut)
        new_labels = cut(
            labels.join(nbr, labels["node"] == nbr["a"], "left")
            .select(
                "node",
                F.col("rep").alias("prev"),
                F.least(F.col("rep"), F.coalesce(F.col("nrep"), F.col("rep"))).alias("rep"),
            )
        )
        changed = new_labels.agg(
            F.sum((F.col("rep") != F.col("prev")).cast("int")).alias("c")
        ).collect()[0][0]
        labels = new_labels.select("node", "rep")
        if not changed:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("rep").alias("rep_id"))


def dedup_apply(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Corpus after near-dup removal: every cluster member except the
    representative (minimum doc_id) is dropped; singletons survive.

    ``pairs`` defaults to MinHash-LSH pairs at threshold 0.8. The
    drop-list is doc_ids only (8 bytes/row); AQE broadcasts the
    anti-join when it fits, else it is a keyed shuffle on doc_id —
    never a corpus-wide sort."""
    if pairs is None:
        pairs = minhash_lsh_pairs(docs)
    drop = (
        duplicate_clusters(pairs)
        .where(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def _jaccard_verify(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    # exact verify touches only documents that appear in a candidate
    # pair: the shingle table is semi-joined down to the candidate doc
    # set first (doc-id keys only — AQE broadcasts when small), so
    # everything downstream scans the collision population instead of
    # the corpus (measured 3.8s → the candidate slice at sf1 for a
    # 30k-pair verify over an 85M-row shingle table). The intersection
    # itself is an ARRAY kernel: the candidate docs' shingle sets are
    # collected once per doc (bounded by per-doc shingle count — the
    # row-wise double-intersection-join form this replaced re-shuffled
    # the slice rows per pair and measured 1.6s vs 0.9s warm at sf0.1,
    # identical pairs at every SF), joined onto each pair side, and
    # jaccard = |S1∩S2| / (|S1|+|S2|−|S1∩S2|) evaluates map-side.
    # Skew note: a doc in k pairs ships its array k times — the same
    # fan-out the row form paid in exploded rows. Note: signature-
    # estimated-jaccard prefiltering (the r5/r6 ask) was MEASURED and
    # rejected — at 4 bands × 4 rows and threshold 0.8 the band-
    # collision candidate set is already 100% true pairs
    # (random 3-gram-shingle jaccard ~1e-3 → per-band collision odds
    # ~1e-12); the verify cost was redundant corpus scans, never junk
    # candidates.
    cand = local_persist(cand)  # materialize: three consumers race a lazy cache
    docs_in = (
        cand.select(F.col("doc1").alias("doc_id"))
        .union(cand.select(F.col("doc2").alias("doc_id")))
        .distinct()
    )
    doc_sh = local_persist(  # materialize: both pair-side joins race a lazy cache
        sh.join(docs_in, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("S"))
    )
    d1 = doc_sh.select(F.col("doc_id").alias("doc1"), F.col("S").alias("S1"))
    d2 = doc_sh.select(F.col("doc_id").alias("doc2"), F.col("S").alias("S2"))
    return (
        cand.join(d1, "doc1")
        .join(d2, "doc2")
        .select("doc1", "doc2", _set_jaccard("S1", "S2").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_table(docs: DataFrame) -> DataFrame:
    """TF-weighted 32-bit SimHash per document: (doc_id, simhash).

    Bit b of the hash is set when Σ_tokens tf·sign(bit b of h(token))
    is positive. The tf-weighted sum over *distinct* tokens equals the
    plain ±1 sum over token *occurrences*, so this runs as 32
    conditional-sum aggregates straight off the token explode — one
    keyed shuffle with map-side combine, no (doc, token) pre-aggregate
    (measured 7× on the string-keyed groupBy it replaces)."""
    occ = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).withColumn(
        "h", hash31(F.col("tok"))
    )
    # r12: the 32 conditional-sum aggregates and the 32-term bit
    # assembly are parsed SQL strings instead of ~12 chained Column
    # calls each — identical Catalyst expressions (verified by plan
    # diff), ~1.3k fewer Py4J round trips per construction. Bit 31's
    # literal exceeds int32, so it is written with the L suffix the
    # way F.lit(1 << 31) produced a LongType literal.
    bit_aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s_{b}"
        )
        for b in range(SIMHASH_BITS)
    ]
    sums = occ.groupBy("doc_id").agg(*bit_aggs)
    def lit(b):
        v = 1 << b
        return f"{v}L" if v > 2147483647 else str(v)
    sim = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {lit(b)} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(f"CAST(({sim}) AS bigint) AS simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates by SimHash: byte-band bucketing (a pair
    within hamming ≤ 3 of 32 bits must agree on ≥1 of 4 bytes), then
    exact hamming filter via bit_count(xor): (doc1, doc2, hamming).

    Pairs colliding in several bands are deduplicated by a
    first-matching-band FILTER (keep the pair only in its lowest
    agreeing band — earlier bands' bytes must differ), not a
    distinct(): both hashes are on the joined row, so uniqueness
    costs zero extra shuffle."""
    # persist: one long per doc, but both sides of the band self-join
    # would otherwise recompute the full tokenize+hash+aggregate chain
    st = local_persist(simhash_table(docs))  # self-join inputs race a lazy cache

    def byte(col: Column, i) -> Column:
        return F.shiftright(col, 8 * i).bitwiseAND(F.lit(255))

    bands = st.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), byte(F.col("simhash"), i).alias("byte"))
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.byte").alias("byte"))
    first_band = F.lit(True)
    for j in range(3):
        first_band = first_band & (
            (F.col("l.band") <= j) | (byte(F.col("l.simhash"), j) != byte(F.col("r.simhash"), j))
        )
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), (F.col("l.band") == F.col("r.band")) & (F.col("l.byte") == F.col("r.byte")))
        .where((F.col("l.doc_id") < F.col("r.doc_id")) & first_band)
        .select(
            F.col("l.doc_id").alias("doc1"),
            F.col("r.doc_id").alias("doc2"),
            F.col("l.simhash").alias("h1"),
            F.col("r.simhash").alias("h2"),
        )
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        sh: DataFrame | None = None) -> DataFrame:
    """Exact jaccard over token n-gram shingle sets for pairs sharing
    ≥1 shingle: (doc1, doc2, jaccard ≥ threshold).

    One shared-shingle self-join (``_shared_shingle_pairs``) carrying
    n1+n2 — jaccard = inter/(n1+n2-inter) needs only the sum. The
    jaccard size bound J ≤ min(n1,n2)/max(n1,n2) prunes pairs that can
    never reach the rounded threshold (6dp rounding moves a value
    ≤5e-7, so the 1e-6 margin is rounding-safe) INSIDE the join,
    before the pair shuffle. Hot shingles at scale are
    :func:`ngram_jaccard_pairs_prefix`'s job. ``sh``: optional
    pre-materialized ``shingles(docs, n)`` table, which carries
    ``n_sh`` (see minhash_lsh_pairs docstring)."""
    if sh is None:
        # persist: the shingle table feeds both sides of the self-join
        sh = local_persist(shingles(docs, n).select("doc_id", "shingle", "n_sh"))
    inter = _shared_shingle_pairs(
        sh,
        F.col("l.n_sh") + F.col("r.n_sh"),
        prune=F.least(F.col("l.n_sh"), F.col("r.n_sh"))
        >= (F.lit(threshold) - F.lit(1e-6)) * F.greatest(F.col("l.n_sh"), F.col("r.n_sh")),
    )
    return inter.select(
        "doc1",
        "doc2",
        F.round(F.col("inter") / (F.col("size") - F.col("inter")), 6).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def embedding_dup_pairs(emb: DataFrame, threshold: float = 0.4, n_blocks: int = 8) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id1, id2, cos ≥ threshold).

    Exact all-pairs baseline, executed as block-tiled GEMM
    (``similarity._tile_sims``): the threshold filter runs inside the
    numpy kernel so only qualifying pairs leave a tile. The cheaper
    scale path for lower thresholds is hyperplane-LSH bucketing
    (``similarity.ann_lsh_topk``)."""
    from sift_spark.operators.similarity import _tile_sims, round6_half_away

    def emit(key, S, lids, rids):
        import numpy as np
        import pandas as pd

        # prefilter on the RAW sims with a rounding-safe epsilon, then
        # 6dp-round only the survivors: rounding moves a value by at
        # most 5e-7, and rounding the full |tile| matrix was measured
        # 25s vs 0.05s for the matmul itself at 6250² cells
        ii, jj = np.where(S >= threshold - 1e-6)
        s = round6_half_away(S[ii, jj])
        keep = (lids[ii] < rids[jj]) & (s >= threshold)
        return pd.DataFrame(
            {"vec_id": lids[ii][keep], "neighbor_id": rids[jj][keep], "sim": s[keep]}
        )

    return _tile_sims(emb, n_blocks, emit).select(
        F.col("vec_id").alias("id1"), F.col("neighbor_id").alias("id2"), F.col("sim").alias("cos")
    )


def containment_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                      sh: DataFrame | None = None) -> DataFrame:
    """Shingle containment |A∩B| / min(|A|,|B|) for pairs sharing ≥1
    shingle: (doc1, doc2, containment ≥ threshold). Containment
    catches subset duplication (a doc quoted or embedded inside a
    longer one) that symmetric jaccard dilutes away — the other half
    of a near-dup screen for training corpora.

    Same single shared-shingle self-join as ``ngram_jaccard_pairs``
    (``_shared_shingle_pairs``), carrying min(n1,n2) off the map-side
    ``n_sh`` column. ``sh``: optional pre-materialized
    ``shingles(docs, n)`` table (the session artifact). NOTE: no
    size-bound prune exists for containment — a tiny doc fully inside
    a huge one is exactly what this operator must catch."""
    if sh is None:
        # materialize: the self-join's input stages race a lazy cache
        sh = local_persist(shingles(docs, n).select("doc_id", "shingle", "n_sh"))
    inter = _shared_shingle_pairs(sh, F.least(F.col("l.n_sh"), F.col("r.n_sh")))
    return inter.select(
        "doc1",
        "doc2",
        F.round(F.col("inter") / F.col("size"), 6).alias("containment"),
    ).where(F.col("containment") >= threshold)


def doc_novelty(docs: DataFrame, n: int = 3,
                sh: DataFrame | None = None) -> DataFrame:
    """Per-document novelty: the fraction of its distinct shingles
    never seen in any EARLIER document (doc_id order — ingestion
    order at scale): (doc_id, n_shingles, n_novel, novelty). The
    curation metric for incremental corpus growth — near-1 novelty =
    fresh content, near-0 = re-crawl/boilerplate.

    Shape: shingle first-occurrence is a min(doc_id) aggregate keyed
    on the shingle (one corpus shuffle), joined back on the same key
    (no second corpus-wide shuffle shape beyond it), then a doc_id
    aggregate. No window over the corpus, no sort."""
    if sh is None:
        # materialize: the first-doc agg and the join race a lazy cache
        sh = local_persist(shingles(docs, n).select("doc_id", "shingle"))
    else:
        sh = sh.select("doc_id", "shingle")
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("n_novel"),
        )
        .withColumn("novelty", F.round(F.col("n_novel") / F.col("n_shingles"), 6))
    )


def semantic_dedup(emb: DataFrame, threshold: float = 0.35, n_iter: int = 2) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means partition the embedding space, then find
    near-duplicate pairs ONLY within each cluster — candidate
    generation is O(Σ|cluster|²) ≪ O(N²), and cluster sizes are
    controlled by k, which is the published recipe's scale lever.
    A vector is dropped when a lower-id same-cluster vector sits
    within ``threshold`` cosine; survivors keep their cluster id:
    (vec_id, cluster).

    Plan: deterministic k-means assignment (map-side GEMM; see
    ``similarity.kmeans_clusters``), ONE keyed shuffle on cluster for
    the per-cluster pairwise GEMM (numpy inside cogrouped Arrow
    batches), broadcast-able drop list anti-joined back. Cosine is
    6dp-rounded half-away so the DuckDB oracle matches bit-for-bit.
    """
    import numpy as np
    import pandas as pd

    from sift_spark.operators.similarity import kmeans_clusters, round6_half_away

    clusters = kmeans_clusters(emb, n_iter=n_iter)
    e = emb.select("vec_id", "embedding").join(clusters, "vec_id")

    def drops(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": []}).astype({"vec_id": "int64"})
        pdf = pdf.sort_values("vec_id")
        E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        n = np.sqrt((E * E).sum(axis=1))
        S = round6_half_away((E @ E.T) / np.outer(n, n))
        ii, jj = np.where(S >= threshold)
        ids = pdf["vec_id"].to_numpy()
        dropped = np.unique(ids[jj[ii < jj]])
        return pd.DataFrame({"vec_id": dropped})

    dup = e.groupBy("cluster").applyInPandas(drops, "vec_id long")
    return (
        e.join(dup, "vec_id", "left_anti")
        .select("vec_id", "cluster")
    )


def duplicate_clusters_star(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — same output contract as
    :func:`duplicate_clusters` (doc_id, rep_id = cluster min).

    Why a second CC: min-label propagation needs O(diameter) rounds —
    fine for near-dup cliques, pathological for chain-shaped graphs
    (transitive near-dup chains across shingled revisions). The star
    operations contract paths aggressively and converge in
    O(log² n) rounds on ANY graph shape, so this is the variant to
    reach for when the pair graph's diameter is unknown.

    Each round is two keyed aggregates + joins over the edge list
    (large-star: every neighbor > u links to u's current min;
    small-star: neighbors ≤ u link to the min), with per-round
    lineage cuts like the propagation variant. Convergence probe =
    edge-set hash equality; the probe aggregate is the round's
    materializing action (lazy cut: no separate count job; under AQE
    the round's shuffle stages run at the cut).
    Honors ``spark.sift.checkpoint=reliable`` and the same
    ``spark.sift.cc.driverEdgeLimit`` driver gate as
    :func:`duplicate_clusters`.
    """
    from sift_spark.functions.lineage import cut

    # lazy cut: the gate count is the single full-scan materializer
    # (the cut itself runs the shuffle stages under AQE); round 1's
    # racing star-stages then read cache
    edges = cut(
        pairs.select(F.col("doc1").alias("u"), F.col("doc2").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # same verified-pair-count driver gate as duplicate_clusters: the
    # star machinery exists for unknown-diameter graphs, and the numpy
    # pointer-jumping pass IS star contraction, so below the limit the
    # two variants share the fast path (identical output contract)
    if edges.count() <= _cc_driver_limit(pairs.sparkSession):
        return _driver_cc(edges, "doc_id", "rep_id")

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def large_star(ed: DataFrame) -> DataFrame:
        # neighborhoods come from BOTH orientations (edges are
        # unordered pairs); for each u, m = min(u, Γ(u)); every
        # neighbor v > u re-links to m
        s = _sym(ed)
        m = s.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        return (
            s.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # orient toward the smaller endpoint; for each hub u, link its
        # small neighbors and u itself to the neighborhood min
        o = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        return (
            o.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = None
    for _ in range(max_iter):
        # lazy cut: the signature probe below is the single full-scan
        # consumer that writes the round's blocks (no separate count
        # job; the round's shuffle stages run at the cut); next
        # round's racing star-stages then read the cached blocks
        edges = cut(small_star(large_star(edges)))
        # canonical (unordered) edge-set signature: xor of pair hashes
        # (order-independent, overflow-free) + count
        sig = edges.agg(
            F.expr("bit_xor(xxhash64(greatest(u, v), least(u, v)))").alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        cur = (sig["s"], sig["n"])
        if cur == prev_sig:
            break
        prev_sig = cur
    # fixpoint: a star per component — canonicalize orientation, then
    # members = every non-root node, roots map to themselves
    fin = edges.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("rep")
    )
    roots = fin.select(F.col("rep").alias("node")).distinct().withColumn(
        "rep", F.col("node")
    )
    out = fin.union(roots).groupBy("node").agg(F.min("rep").alias("rep_id"))
    return out.select(F.col("node").alias("doc_id"), "rep_id")


def lsh_index(docs: DataFrame, n: int = 3,
              sh: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """Build the standing near-dup index for a corpus: (band table,
    shingle table). At scale both are written once as bucketed tables
    (bands on (band, sig), shingles on doc_id/shingle) so incremental
    batches join them shuffle-free; the corpus text is never touched
    again. ``sh``: optional pre-materialized ``shingles(docs, n)``
    (the session's shared artifact) — the index then derives from the
    cache instead of re-tokenizing."""
    if sh is None:
        sh = shingles(docs, n)
    return minhash_band_table(docs, n, sh=sh), sh.select("doc_id", "shingle")


def write_lsh_index(docs: DataFrame, bands_table: str = "lsh_index_bands",
                    shingles_table: str = "lsh_index_shingles", n: int = 3,
                    n_buckets: int = 32, sh: DataFrame | None = None) -> None:
    """Write the standing near-dup index as BUCKETED tables — the
    production layout for a growing corpus that runs incremental
    dedup daily: bands bucketed on (band, sig) — BOTH probe-join keys,
    in join-key order: Spark's co-partitioning check requires the
    scan's HashPartitioning to cover every cluster key, so bucketing
    on sig alone still re-shuffles the index (measured) — and
    shingles bucketed on ``doc_id`` (the verify key). The corpus-
    sized index side of every batch probe is then read
    pre-partitioned and NEVER shuffled (only the batch shuffles),
    regardless of whether the batch is small enough to broadcast.
    Pair with :func:`read_lsh_index` →
    :func:`minhash_lsh_pairs_incremental`; plan-asserted shuffle-free
    in tests/test_dedup_bucketed_index.py."""
    from sift_spark.operators.scale import write_bucketed

    bands, shingles_df = lsh_index(docs, n, sh=sh)
    write_bucketed(bands, bands_table, ["band", "sig"], n_buckets=n_buckets)
    write_bucketed(shingles_df, shingles_table, "doc_id", n_buckets=n_buckets)


def read_lsh_index(spark, bands_table: str = "lsh_index_bands",
                   shingles_table: str = "lsh_index_shingles") -> tuple[DataFrame, DataFrame]:
    """Load the standing index written by :func:`write_lsh_index` —
    returns (bands, shingles) reading the bucketed layout (the scans
    report their HashPartitioning, so downstream probe/verify joins
    skip the index-side shuffle)."""
    return spark.table(bands_table), spark.table(shingles_table)


def minhash_lsh_pairs_incremental(new_docs: DataFrame, index_bands: DataFrame,
                                  index_shingles: DataFrame, n: int = 3,
                                  threshold: float = 0.8,
                                  new_sh: DataFrame | None = None,
                                  new_bands: DataFrame | None = None) -> DataFrame:
    """Incremental MinHash-LSH: near-dup pairs INVOLVING a new batch —
    (doc1, doc2, jaccard) where at least one side is new.

    The batch-vs-corpus shape every growing pipeline needs: the
    standing corpus contributes only its persisted index (bands +
    shingles, see :func:`lsh_index`); candidates are the new batch's
    band table joined against the index bands (old↔new) plus its own
    self-join (new↔new), so work scales with the BATCH, not the
    corpus. Exact-jaccard verification reads shingles for candidate
    docs only (the join against index shingles is keyed on doc_id —
    bucketed layout makes it pruned + shuffle-free).

    Output doc1 < doc2, identical semantics to running
    :func:`minhash_lsh_pairs` on old ∪ new and keeping pairs that
    touch a new doc (property-tested).

    The batch's band/shingle tables are localCheckpoint'ed, not
    persist()'ed: the candidate union's two branches (and the verify)
    schedule concurrently, so an unpersisted frame recomputes the
    batch tokenize per branch (the §6.4 race), while a persist would
    leak one cached frame per micro-batch for the life of a streaming
    session (the caller never gets an unpersist handle). Checkpointed
    RDDs are reference-counted by the ContextCleaner and reclaimed
    when the returned frame is garbage-collected — batch-sized
    materialization, no leak. ``new_sh``: optional pre-materialized
    ``shingles(new_docs, n)`` (e.g. a doc-filtered slice of the
    session's shared artifact) — already cached, so the checkpoint is
    skipped. ``new_bands``: optional pre-materialized band table for
    the batch (e.g. a doc-filtered slice of the session's band
    artifact, r11 — bands are a per-doc aggregate, so slicing the
    full-corpus table and banding the sliced docs are identical) —
    the batch signature aggregate is then skipped entirely."""
    new_sh_base = (
        shingles(new_docs, n).select("doc_id", "shingle", "h").localCheckpoint(eager=False)
        if new_sh is None
        else new_sh
    )
    if new_bands is None:
        new_bands = minhash_band_table(new_docs, n, sh=new_sh_base).localCheckpoint(
            eager=False
        )
    new_sh = new_sh_base.select("doc_id", "shingle")

    cross = (
        new_bands.alias("l")
        .join(
            index_bands.alias("r"),
            (F.col("l.band") == F.col("r.band")) & (F.col("l.sig") == F.col("r.sig")),
        )
        .where(F.col("l.doc_id") != F.col("r.doc_id"))
        .select(
            F.least("l.doc_id", "r.doc_id").alias("doc1"),
            F.greatest("l.doc_id", "r.doc_id").alias("doc2"),
        )
    )
    cand = cross.union(_band_pairs(new_bands)).distinct()
    all_sh = index_shingles.union(new_sh)
    return _jaccard_verify(cand, all_sh, threshold)


def similar_docs(docs: DataFrame, query_doc_id: int, k: int = 10,
                 n: int = 3, sh: DataFrame | None = None) -> DataFrame:
    """One-vs-corpus similarity lookup: the ``k`` documents most
    similar to ``query_doc_id`` by exact shingle jaccard —
    (doc_id, jaccard, rank).

    Scale shape: the query doc's shingle set is tiny and broadcasts;
    candidates = docs sharing ≥1 shingle (semi-join style equi-join on
    the shingle key — the corpus is never cross-joined or fully
    scored), exact jaccard only on candidates, top-k via
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    sh = (shingles(docs, n) if sh is None else sh).select("doc_id", "shingle")
    q_sh = sh.where(F.col("doc_id") == query_doc_id).select("shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    q_size = sizes.where(F.col("doc_id") == query_doc_id).select(
        F.col("n_sh").alias("q_sh")
    )
    inter = (
        sh.where(F.col("doc_id") != query_doc_id)
        .join(F.broadcast(q_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        inter.join(sizes, "doc_id")
        .crossJoin(F.broadcast(q_size))
        .select(
            "doc_id",
            F.round(
                F.col("inter") / (F.col("n_sh") + F.col("q_sh") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )
    topk = scored.orderBy(F.col("jaccard").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("jaccard").desc(), F.col("doc_id").asc())
    return topk.withColumn("rank", F.row_number().over(w))


def duplicate_spans(docs: DataFrame, l: int = 5) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    span whose ``l``-gram windows all occur ≥2 times corpus-wide —
    (doc_id, start_pos, end_pos, n_dup_tokens), end exclusive, token
    positions 0-based.

    The reference suffix-array approach is single-machine; the
    distributed re-expression is windowed-l-gram frequency + per-doc
    gaps-and-islands merge:

    1. map-side: slide an ``l``-token window over each doc
       (with_tokens → sequence explode → slice), emit (doc_id, pos,
       gram);
    2. ONE corpus-wide shuffle keyed on the gram to count occurrences
       (Zipf-skewed at scale — it's a pure aggregate, so map-side
       partial combine absorbs hot grams);
    3. keep positions whose gram count ≥ 2 (self-repeats count: a doc
       repeating its own l-gram is duplication too), re-join on gram;
    4. per-doc window (partition doc_id — bounded by doc length):
       merge positions p where p - prev ≤ l into maximal islands
       (overlapping or exactly-adjacent windows chain), then one
       aggregate for span bounds.
    """
    from pyspark.sql import Window

    from sift_spark.models.text import with_tokens

    t = with_tokens(docs).where(F.size("toks") >= l)
    grams = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("toks") - l)).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.array_join(F.slice("toks", F.col("pos") + 1, F.lit(l)), " ").alias("gram"),
    )
    # corpus-wide occurrence count as a gram-partitioned window (r11):
    # the former groupBy+self-join shuffled the SAME gram-keyed rows
    # twice and recomputed the explode pass for the join probe side —
    # the window computes n_occ on the one shuffled copy (identical
    # partitioning, so no new skew exposure: the join's probe side
    # shuffled every gram row on the same key).
    wg = Window.partitionBy("gram")
    hits = (
        grams.withColumn("n_occ", F.count(F.lit(1)).over(wg))
        .where(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(w) <= l, 0).otherwise(1),
    ).withColumn("island", F.sum("new_island").over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + l).alias("end_pos"),
        )
        .select(
            "doc_id",
            "start_pos",
            "end_pos",
            (F.col("end_pos") - F.col("start_pos")).alias("n_dup_tokens"),
        )
    )


def ngram_jaccard_pairs_prefix(docs: DataFrame, n: int = 3,
                               threshold: float = 0.8,
                               sh: DataFrame | None = None) -> DataFrame:
    """Prefix-filtered exact jaccard pairs — same output contract as
    ``ngram_jaccard_pairs`` (doc1, doc2, jaccard ≥ threshold), built
    with the positional prefix filter of PPJoin (Xiao et al. 2011).

    Scale rationale: the plain shared-shingle join fans out on EVERY
    common shingle. At jaccard ≥ t, two sets of sizes |A|,|B| must
    share ≥ t/(1+t)·(|A|+|B|) shingles, so it suffices to join only on
    each doc's first p = |S| - ⌈t·|S|⌉ + 1 shingles in a GLOBAL
    rarity order (ascending document frequency): if two sets share no
    prefix shingle, their jaccard is provably < t. The candidate join
    therefore runs on the rarest slice of each set — both smaller and
    far less skewed than the full shingle table (hot boilerplate
    shingles are precisely the ones the rarity order pushes out of
    prefixes).

    Verification joins each candidate pair to the two full shingle
    arrays (collect_list per doc — bounded by doc length) and computes
    exact jaccard with array intersection; equality with the unfiltered
    operator is property-tested."""
    if sh is None:
        # materialize: df-agg, prefix join and verify race a lazy cache
        sh = local_persist(shingles(docs, n).select("doc_id", "shingle"))
    else:
        # r12 note: reading the artifact's map-side n_sh column here
        # (to delete the doc-keyed count window below) was built and
        # MEASURED SLOWER at sf1 (tight 4-round alternating A/B:
        # 4.19-5.77 s vs 5.25-7.21 s) — the extra 8 bytes riding every
        # row through the two window sorts costs more than the count
        # window saves (the count shares the rn window's exchange and
        # sort). Reverted per the measure-first rule; the 2-column
        # input keeps the window rows minimal.
        sh = sh.select("doc_id", "shingle")
    from pyspark.sql import Window

    # document frequency as a shingle-partitioned window count (r11):
    # the former groupBy + join re-shuffled the shingle table twice on
    # the same key (once into the aggregate, once as the join probe);
    # the window computes df on the one shuffled copy — identical
    # partitioning, one less exchange and no join operator.
    ranked = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    sized = ranked.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    prefix = sized.where(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("doc_id", "shingle")
    cands = (
        prefix.alias("l")
        .join(prefix.alias("r"), F.col("l.shingle") == F.col("r.shingle"))
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("sh_set"))
    return (
        cands.join(arrs.select(F.col("doc_id").alias("doc1"), F.col("sh_set").alias("s1")), "doc1")
        .join(arrs.select(F.col("doc_id").alias("doc2"), F.col("sh_set").alias("s2")), "doc2")
        .select("doc1", "doc2", _set_jaccard("s1", "s2").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def fuzzy_contamination(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        sh: DataFrame | None = None) -> DataFrame:
    """Fuzzy (MinHash-LSH) benchmark decontamination: corpus documents
    NEAR-duplicating an eval-set document — the screen that catches
    paraphrased/partially-edited leakage `contamination_check`'s exact
    n-gram hit-rate misses. Output: (doc_id, n_matches, max_jaccard)
    per contaminated corpus document (n_matches = #benchmark docs with
    verified jaccard ≥ ``threshold``).

    Same banded candidate generation as :func:`minhash_lsh_pairs` but
    one-directional and corpus-cache-free:

    - the benchmark's band table and shingle set are BROADCAST (eval
      sets are tiny), so the corpus never shuffles for candidates;
    - the corpus-sized shingle table is NEVER persisted — only the
      doc-sized signature aggregate is cached. Caching the raw
      shingles was measured at 6.5s of a 9.4s pass at sf1 — pure
      cache-build cost on a table used essentially once;
    - the exact-jaccard verify re-tokenizes ONLY candidate documents:
      the candidate doc_id set is broadcast-semi-joined onto the
      corpus before shingling, so the second scan prunes to the
      collision rate (hundreds of docs, not the corpus).

    Work scales with the corpus × its benchmark-collision rate, never
    all-pairs. ``docs`` and ``benchmark`` doc_ids must be disjoint
    (they are different tables in practice; the registered query
    splits one table on doc_id % 20)."""
    corpus_sh = shingles(docs, n) if sh is None else sh
    sig = local_persist(_minhash_from_shingles(corpus_sh), eager=False)
    bsh = local_persist(
        shingles(benchmark, n).select("doc_id", "shingle", "h"), eager=False
    )
    bt = _bands_from_signatures(sig)
    bbt = minhash_band_table(benchmark, n, sh=bsh)
    cand = (
        bt.alias("l")
        .join(
            F.broadcast(bbt.alias("r")),
            (F.col("l.band") == F.col("r.band")) & (F.col("l.sig") == F.col("r.sig")),
        )
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
        .distinct()
    )
    cand = local_persist(cand, eager=False)
    cand_docs = cand.select(F.col("doc1").alias("doc_id")).distinct()
    # exact-jaccard verify touches only candidate documents: with a
    # shared pre-materialized shingle table, prune it by doc_id;
    # otherwise re-tokenize just the candidate slice of the corpus
    if sh is None:
        csh = shingles(docs.join(F.broadcast(cand_docs), "doc_id", "left_semi"), n)
    else:
        csh = sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    # array-intersect verify (same kernel as _jaccard_verify): the
    # candidate corpus docs' shingle sets are collected once per doc
    # and the benchmark docs' sets broadcast as arrays, so jaccard
    # evaluates map-side on the pair join — replaces the row-wise
    # double intersection join + size joins
    c_sets = csh.groupBy("doc_id").agg(F.collect_set("shingle").alias("S1"))
    b_sets = bsh.groupBy("doc_id").agg(F.collect_set("shingle").alias("S2"))
    jac = (
        cand.join(c_sets.select(F.col("doc_id").alias("doc1"), "S1"), "doc1")
        .join(F.broadcast(b_sets.select(F.col("doc_id").alias("doc2"), "S2")), "doc2")
        .select("doc1", "doc2", _set_jaccard("S1", "S2").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return jac.groupBy(F.col("doc1").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )


def duplicate_cluster_stats(pairs: DataFrame) -> DataFrame:
    """Cluster-size profile of a near-dup pair set — the dashboard a
    dedup run reports before applying removals: per cluster size, how
    many clusters exist and how many documents deduplication would
    remove (size − 1 per cluster, the representative survives).
    Output: (cluster_size, n_clusters, n_docs_removed).

    Composes :func:`duplicate_clusters` (min-label CC) with two
    node-keyed aggregates; everything after the CC is cluster-count
    sized."""
    cc = duplicate_clusters(pairs)
    sizes = cc.groupBy("rep_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).alias("n_docs_removed"),
    )


@guards_tf
def doc_embedding_dup_pairs(docs: DataFrame, threshold: float = 0.9,
                            n_blocks: int = 8,
                            tf: DataFrame | None = None) -> DataFrame:
    """Near-duplicate detection on RAW TEXT through the vector path:
    deterministic SRP document embeddings
    (``text_analysis.doc_srp_embeddings``) assembled into dense
    vectors and fed to the exact cosine pair machinery — the
    model-free counterpart of ``embedding_dup_pairs`` that needs no
    embeddings table. Zero-norm documents (every term idf-0) carry no
    signal and are dropped in BOTH engines (NaN-comparison semantics
    differ cross-engine, so the filter is explicit). Output
    (id1, id2, cos >= threshold).

    Shape: the SRP sum, one doc-keyed assembly (collect_list sorted
    by dim), then block-tiled GEMM with the threshold inside the
    kernel — only qualifying pairs leave a tile.

    ``tf``: optional posting table (see models.text.doc_term_tf),
    passed through to the SRP stage."""
    from sift_spark.operators.text_analysis import _doc_srp_wide

    # read the wide per-doc SRP row directly — the long-format
    # (doc_id, dim, v) round-trip (map-side stack unpivot, then a
    # doc-keyed collect_list re-assembly) would cost one full exchange
    # over d× the rows for values that are already per-doc columns.
    # Identical vectors: dims are emitted in index order either way,
    # and the zero-norm filter is the same sum of squares.
    d = 16
    wide = _doc_srp_wide(docs, d=d, tf=tf)
    norm2 = sum((F.col(f"v{i}") * F.col(f"v{i}") for i in range(1, d)),
                F.col("v0") * F.col("v0"))
    vec = (
        wide.where(norm2 > 0)
        .select(
            F.col("doc_id").alias("vec_id"),
            F.array(*[F.col(f"v{i}") for i in range(d)]).alias("embedding"),
        )
    )
    return embedding_dup_pairs(vec, threshold=threshold, n_blocks=n_blocks)


def dedup_rate_by_source(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-source duplication dashboard: given ANY near-dup pair table
    (minhash / simhash / embedding — anything with doc1, doc2), how
    much of each source is involved in at least one near-dup pair —
    (source, n_docs, n_dup_docs, dup_rate).

    The report that decides which ingest feed gets a dedup budget: a
    source at 40% duplication is re-crawled boilerplate, one at 0.5%
    is healthy. The flagged-doc set is pair-table sized (collision
    rate, not corpus rate); the join back onto the corpus is a plain
    equi-join AQE sizes itself (deliberately NOT a forced broadcast —
    a pathological corpus can flag almost every doc), and the roll-up
    is one source-keyed aggregate.
    """
    dup = (
        pairs.select(F.col("doc1").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc2").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        docs.select("doc_id", "source")
        .join(dup, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("n_dup_docs"),
            F.round(
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0)) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )


def lsh_recall_probe(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                     sh: DataFrame | None = None,
                     sample_mod: int = 1,
                     bt: DataFrame | None = None) -> DataFrame:
    """Recall audit for the MinHash-LSH banding: compare the verified
    LSH pair set (:func:`minhash_lsh_pairs`) against the exact
    shared-shingle ground truth (:func:`ngram_jaccard_pairs`) at the
    same threshold — one row (n_exact, n_lsh, n_missed, recall).

    The "did my banding catch enough" gate a dedup deployment runs on
    a sample before trusting the banded path at full scale: missed
    pairs are true near-dups whose signatures never collided in any
    band (the S-curve's false-negative tail). Both sides share the
    shingle artifact when passed, the miss set comes from one
    left-anti join of two pair tables (collision-rate sized, never
    corpus-sized), and the roll-up is three 1-row aggregates.

    ``sample_mod`` IS the scale lever the docstring's "on a sample"
    promises (r10, after the sf5 study measured the exact ground-truth
    side quadratic on duplicate-heavy corpora — every engine pays
    that, the oracle DNFs first): ``sample_mod=s`` audits the
    deterministic 1/s hash-slice of documents (same xxhash-membership
    family as the sampling operators, layout-invariant), shrinking the
    exact side ~s² while recall over the slice's pairs estimates
    corpus recall (band collisions are i.i.d. per pair). Default 1 =
    full audit, pinned by the registered oracle query. ``sh``:
    optional ``shingles(docs, n)`` table; the exact side reads its
    ``n_sh``. When sampling, a caller-provided ``sh`` is DISCARDED and
    shingles recompute from the sliced docs — the artifact covers the
    full corpus, so reusing it would silently un-sample the audit;
    pre-slice your own artifact on the same hash bucket if you need to
    amortize it (r10 advice).
    ``bt``: optional pre-materialized band table over the SAME docs
    (the session's band artifact, r11) — the signature aggregate +
    band explode then read the caller's cache; discarded alongside
    ``sh`` when sampling, for the same reason.
    """
    if sample_mod > 1:
        from sift_spark.operators.sampling import hash_bucket

        docs = docs.where(hash_bucket(F.col("doc_id"), "lshprobe", sample_mod) == 0)
        sh = None  # the shared shingle artifact covers the FULL corpus
        bt = None  # likewise the band artifact
    if sh is None:
        # materialize: exact join + signature agg race a lazy cache
        # (n_sh rides along for the exact side's carried-size join)
        sh = local_persist(shingles(docs, n))
    # r11: the LSH side needs NO verify pass of its own — a verified
    # LSH pair is by definition a band-colliding pair whose exact
    # jaccard ≥ t, and the exact side already computes jaccard for
    # EVERY shared-shingle pair (a superset of band collisions, same
    # formula, same 6dp rounding). So: build only the band-candidate
    # pair set and intersect it with the exact pair set (semi/anti
    # join) instead of running minhash_lsh_pairs' whole
    # _jaccard_verify chain (two more persisted intermediates + three
    # joins + a second scan family) — identical n_lsh/n_missed at any
    # scale, one verify instead of two.
    # materialize: three consumers (count, semi, anti) race
    exact = local_persist(
        ngram_jaccard_pairs(docs, n, threshold, sh=sh).select("doc1", "doc2")
    )
    if bt is None:
        # materialize: the self-join's two input stages race
        bt = local_persist(minhash_band_table(docs, n, sh=sh))
    cand = local_persist(_band_pairs(bt).distinct())  # materialize: semi + anti consumers race
    lsh = exact.join(cand, ["doc1", "doc2"], "left_semi")
    missed = exact.join(cand, ["doc1", "doc2"], "left_anti")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    nm = missed.agg(F.count(F.lit(1)).alias("n_missed"))
    return (
        ne.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nm))
        .select(
            "n_exact",
            "n_lsh",
            "n_missed",
            # a corpus with NO exact near-dup pairs has nothing to
            # miss — recall is vacuously 1.0, not NULL/divide-by-zero
            F.when(
                F.col("n_exact") > 0,
                F.round(
                    (F.col("n_exact") - F.col("n_missed")) / F.col("n_exact"), 6
                ),
            )
            .otherwise(F.lit(1.0))
            .alias("recall"),
        )
    )


def minhash_band_tuning(spark, k: int | None = None,
                        threshold: float = 0.8,
                        low: float | None = None) -> DataFrame:
    """S-curve design table for MinHash-LSH banding: for every (bands,
    rows_per_band) factorization of the ``k``-permutation signature,
    the collision probability 1−(1−s^r)^b at the dedup threshold, at a
    ``low`` similarity (spurious-candidate rate), the curve midpoint
    s₅₀ = (1−0.5^(1/b))^(1/r), and the false-negative rate at the
    threshold. One row per factorization:
    (bands, rows_per_band, collide_at_threshold, collide_at_low,
    s_curve_midpoint, fn_at_threshold).

    The companion DESIGN tool to :func:`lsh_recall_probe`'s measured
    audit (Leskovec/Rajaraman/Ullman ch.3 banding analysis): the probe
    tells you what recall the deployed banding ACHIEVED; this table
    tells you what any banding WOULD give before you spend a corpus
    pass. Pure analytic math over a ≤d(k)-row literal frame — no scan,
    no shuffle; ``low`` defaults to threshold/2.
    """
    from sift_spark.functions.core import MINHASH_K

    k = k or MINHASH_K
    factorizations = [(b, k // b) for b in range(1, k + 1) if k % b == 0]
    df = spark.createDataFrame(factorizations, "bands int, rows_per_band int")
    lo = threshold / 2 if low is None else low

    def collide(s: float):
        return 1 - F.pow(
            1 - F.pow(F.lit(float(s)), F.col("rows_per_band")), F.col("bands")
        )

    midpoint = F.pow(
        1 - F.pow(F.lit(0.5), 1.0 / F.col("bands")), 1.0 / F.col("rows_per_band")
    )
    return df.select(
        "bands",
        "rows_per_band",
        F.round(collide(threshold), 6).alias("collide_at_threshold"),
        F.round(collide(lo), 6).alias("collide_at_low"),
        F.round(midpoint, 6).alias("s_curve_midpoint"),
        F.round(1 - collide(threshold), 6).alias("fn_at_threshold"),
    ).orderBy("bands")
