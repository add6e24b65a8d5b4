"""Similarity search over embedding columns (array<float>).

Every ANN operator here has the distributed top-k shape: assign
vectors to cells, take a local top-k per cell or tile with a numpy
GEMM inside a cogrouped Arrow batch, then merge globally with one
per-vector window. Each step has one implementation:

- ``_nearest_cells``: map-side nearest-cell ranking against a
  centroid matrix, (vec_id, cluster, rn) rows. Used by ``ann_ivf_topk``,
  ``ivf_pq_topk``, both ``*_query_index`` probes and
  ``kmeans_clusters``.
- ``_cogroup_topk``: per-cell exact-cosine GEMM top-k (with an
  optional same-bucket mask for supergrouped LSH buckets);
  ``_cogroup_adc_topk`` is its PQ twin (asymmetric distance).
- ``_tile_sims``: block-tiled all-pairs GEMM for the exact operators;
  ``_tile_topk`` is its per-vector top-k (``ann_topk_bruteforce`` and
  everything built on it, ``hard_negatives`` with a label mask), and
  ``dedup.embedding_dup_pairs`` thresholds it.
- ``_topk_rows`` (in-kernel) and ``_topk_window`` (global) rank by
  (6dp metric best-first, neighbor_id asc): the cross-engine total
  order.
- ``_probe_index``, ``_write_centroids`` and ``_recall_report``: the
  serving-index probe, the member-mean codebook build and the recall
  audit tail.

The operators are exact brute force (``ann_topk_bruteforce``), IVF
(``ann_ivf_topk``, ``ivf_write_index``/``ivf_query_index``), IVF-PQ
(``ivf_pq_topk``, ``ivfpq_write_index``/``ivfpq_query_index``),
multi-table hyperplane LSH (``ann_lsh_topk``: by default ``LSH_TABLES``
= 4 tables of ``LSH_BITS`` = 6-bit signatures, OR-ed), their recall
reports, and the curation and labelling operators built on them
(k-means, hard negatives, label propagation, outliers, PQ/int8 codes,
PCA, normalization).

Every codebook and plane matrix is a deterministic constant
(:mod:`sift_spark.functions.core`) embedded identically in the DuckDB
oracle, so even the approximate operators are hash-checkable across
engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sift_spark.functions.core import LSH_PLANES


def round6_half_away(a):
    """6-dp rounding with ties away from zero — matches Spark
    ``F.round`` (HALF_UP) and DuckDB ``round``. ``np.round`` is
    half-to-even and diverges on exact 6-dp midpoints (e.g. 1/128)."""
    import numpy as np

    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6


# GEMM strip-mining target: ~2M similarity cells (16 MB float64) in
# flight per worker — big enough for BLAS efficiency on skinny-k
# matmuls, small enough that 32 concurrent workers don't thrash DRAM
# with full-tile score matrices (measured 8× at sf1; small inputs fit
# one strip so nothing changes at bench floor scale)
_GEMM_STRIP_CELLS = 2_000_000


def _topk_rows(S, mids, kk, largest=True, valid=None):
    """Vectorized per-row top-``kk`` over a tile's metric matrix ``S``
    (n_rows × n_cols) by (6dp-rounded metric best-first, ``mids`` asc)
    — the exact replacement for the per-row ``np.lexsort`` loop the
    GEMM/ADC kernels used (guide §4.2: one vectorized pass per batch,
    not a Python loop per row; the loop was ~200× the matmul at sf1
    tile sizes).

    Returns ``(ii, jj, vals)``: row indices, column indices and the
    ROUNDED metric, segments ordered (row asc, metric best-first, mid
    asc) and cut at ``kk`` per row.

    Bit-identical to the loop it replaces: candidate selection uses
    the kth-largest RAW value per row minus a 1e-6 margin — 6dp
    rounding is monotone and moves a value by < 1e-6, and two values
    more than 1e-6 apart cannot round to the same 6dp grid point, so
    anything below the margin is strictly outside the rounded top-kk;
    the survivors (≈ kk + rounding-boundary ties per row) are then
    re-ranked on their ROUNDED values with the same (metric, mid)
    total order the loop used. ``valid`` masks excluded cells
    (self-pairs, same-label, cross-bucket); ``largest=False`` ranks
    ascending (distances). Rows with fewer than ``kk`` valid cells
    emit all of them, as the loop did."""
    import numpy as np

    n, m = S.shape
    empty = (
        np.empty(0, dtype="int64"),
        np.empty(0, dtype="int64"),
        np.empty(0, dtype="float64"),
    )
    if n == 0 or m == 0 or kk <= 0:
        return empty
    A = np.asarray(S, dtype="float64")
    if not largest:
        A = -A
    if valid is not None:
        A = np.where(valid, A, -np.inf)
    kk = min(kk, m)
    thr = -np.partition(-A, kk - 1, axis=1)[:, kk - 1]
    sel = A >= (thr[:, None] - 1e-6)
    sel &= np.isfinite(A)
    ii, jj = np.nonzero(sel)
    if len(ii) == 0:
        return empty
    r = round6_half_away(np.asarray(S, dtype="float64")[ii, jj])
    order = np.lexsort((mids[jj], -r if largest else r, ii))
    ii, jj, r = ii[order], jj[order], r[order]
    # rank within each row's (already contiguous, sorted) segment
    starts = np.searchsorted(ii, np.arange(n))
    keep = (np.arange(len(ii)) - starts[ii]) < kk
    return ii[keep].astype("int64"), jj[keep].astype("int64"), r[keep]


def _topk_window(scored: DataFrame, k: int, metric: str = "sim",
                 largest: bool = True) -> DataFrame:
    """Global per-vector top-``k``: ``rank`` = row_number over vec_id
    by (``metric`` best-first, neighbor_id asc), kept while ≤ ``k``.
    That order is the cross-engine total order every oracle twin
    ranks by; the local top-k kernels (:func:`_topk_rows`) cut with
    the same order, so merging their survivors is exact."""
    m = F.col(metric).desc() if largest else F.col(metric).asc()
    w = Window.partitionBy("vec_id").orderBy(m, F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _cogroup_topk(q_side: DataFrame, m_side: DataFrame, key: str, k: int,
                  same: str | None = None) -> DataFrame:
    """Per-bucket exact-cosine local top-k via cogrouped GEMM:
    ``q_side`` (key, vec_id, embedding) × ``m_side`` (key, neighbor_id,
    embedding) → (vec_id, neighbor_id, sim) rows, at most ``k`` per
    (query, bucket), self-pairs excluded, sims rounded 6dp half-away
    (the cross-engine contract) BEFORE ranking.

    This is the communication-optimal candidate scorer for bucketed
    ANN: embeddings travel once per bucket membership, the |Q|×|M|
    pair math stays inside one numpy kernel per bucket, and only
    top-k survivors leave. Skewed buckets cost a bigger GEMM tile,
    not a bigger shuffle.

    ``same`` names a column both sides carry when ``key`` is a
    SUPERGROUP of many buckets (high-bit LSH tables: thousands of
    mostly-singleton buckets would otherwise pay one Python/Arrow
    invocation each): pairs with unequal ``same`` values are masked
    inside the kernel, so candidate semantics equal per-bucket
    cogrouping. Per (query, supergroup) top-k is a safe pruning: a
    query's global top-k candidates each live in some supergroup's
    top-k."""
    import numpy as np
    import pandas as pd

    def fn(_key, l, r):
        if len(l) == 0 or len(r) == 0:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "sim": []}).astype(
                {"vec_id": "int64", "neighbor_id": "int64", "sim": "float64"}
            )
        Q = np.stack(l["embedding"].to_numpy()).astype("float64")
        M = np.stack(r["__memb"].to_numpy()).astype("float64")
        qids = l["vec_id"].to_numpy()
        mids = r["neighbor_id"].to_numpy()
        qn = np.sqrt((Q * Q).sum(axis=1))
        mn = np.sqrt((M * M).sum(axis=1))
        if same is not None:
            qb, mb = l[same].to_numpy(), r["__msame"].to_numpy()
        # strip-mined GEMM (see _tile_sims: skewed buckets would
        # otherwise materialize a full |Q|×|M| score matrix) +
        # vectorized exact top-k (see _topk_rows); rounding happens on
        # the survivors only. Per-cell math unchanged: S[i,j] =
        # (Q[i]·M[j]) / (qn[i]·mn[j]).
        kk = min(k, len(mids))
        strip = max(128, _GEMM_STRIP_CELLS // max(1, M.shape[0]))
        outs = []
        for lo in range(0, Q.shape[0], strip):
            S = (Q[lo:lo + strip] @ M.T) / np.outer(qn[lo:lo + strip], mn)
            valid = qids[lo:lo + strip, None] != mids[None, :]
            if same is not None:
                valid &= np.equal.outer(qb[lo:lo + strip], mb)
            ii, jj, sims = _topk_rows(S, mids, kk, valid=valid)
            outs.append(pd.DataFrame(
                {
                    "vec_id": qids[lo:lo + strip][ii].astype("int64"),
                    "neighbor_id": mids[jj].astype("int64"),
                    "sim": sims,
                }
            ))
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    # both sides usually derive from the same parent plan; renaming the
    # member-side key and embedding mints fresh attributes so the
    # cogroup analyzer doesn't see an ambiguous self-reference
    m2 = m_side.withColumnRenamed(key, "__mkey").withColumnRenamed(
        "embedding", "__memb"
    )
    if same is not None:
        m2 = m2.withColumnRenamed(same, "__msame")
    return (
        q_side.groupby(key)
        .cogroup(m2.groupby("__mkey"))
        .applyInPandas(fn, "vec_id long, neighbor_id long, sim double")
    )


def _cogroup_adc_topk(q_side: DataFrame, m_side: DataFrame, key: str,
                      k: int) -> DataFrame:
    """Per-cell ADC local top-k via cogrouped numpy — the PQ twin of
    :func:`_cogroup_topk`: ``q_side`` (key, vec_id, embedding) ×
    ``m_side`` (key, neighbor_id, codes) → (vec_id, neighbor_id,
    adc_dist), at most ``k`` per (query, cell), self-pairs excluded,
    distances rounded 6dp half-away BEFORE ranking.

    Embeddings travel once per probe and 4-byte codes once per cell —
    never a (query, member) pair row with a replicated query vector
    (the r9 sf1 A/B measured the pair-join form at 283s vs ~4s for
    this shape on 20k vectors). The per-m float math is kept in the
    reference order (diff = sub − centroid, square, sum over SD,
    accumulate over m) so hashes match the per-pair kernel and the
    DuckDB LUT twin exactly; queries are chunked to bound the
    (chunk × members × SD) difference cube."""
    import numpy as np
    import pandas as pd

    from sift_spark.functions.core import PQ_CODEBOOKS, PQ_M, PQ_SUB_DIM

    C = np.array(PQ_CODEBOOKS, dtype="float64")
    empty = pd.DataFrame(
        {"vec_id": [], "neighbor_id": [], "adc_dist": []}
    ).astype({"vec_id": "int64", "neighbor_id": "int64", "adc_dist": "float64"})

    def fn(_key, l, r):
        if len(l) == 0 or len(r) == 0:
            return empty
        Q = np.stack(l["embedding"].to_numpy()).astype("float64")
        Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        qids = l["vec_id"].to_numpy()
        mids = r["neighbor_id"].to_numpy()
        codes = np.array(
            [list(map(int, s.split(","))) for s in r["__mcodes"]], dtype="int64"
        )
        out_q, out_m, out_d = [], [], []
        kk = min(k, len(mids))
        for lo in range(0, len(qids), 512):
            Qc = Q[lo:lo + 512]
            qc_ids = qids[lo:lo + len(Qc)]
            d = np.zeros((len(Qc), len(mids)))
            for m in range(PQ_M):
                sub = Qc[:, m * PQ_SUB_DIM:(m + 1) * PQ_SUB_DIM]
                # classical ADC LUT: the per-m float math (sub −
                # centroid, square, sum over SD) runs once per
                # CODEBOOK ENTRY (PQ_K=16) and is gathered per member
                # — identical values/op order to the former per-member
                # (chunk × members × SD) difference cube, PQ_K/nm of
                # the flops
                diff = sub[:, None, :] - C[m][None, :, :]
                lut = (diff * diff).sum(axis=2)  # (chunk, PQ_K)
                d += lut[:, codes[:, m]]
            # vectorized exact top-k, ascending distance (_topk_rows);
            # survivors-only rounding
            ii, jj, dist = _topk_rows(
                d, mids, kk, largest=False,
                valid=qc_ids[:, None] != mids[None, :],
            )
            out_q.append(qc_ids[ii])
            out_m.append(mids[jj])
            out_d.append(dist)
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_q).astype("int64"),
                "neighbor_id": np.concatenate(out_m).astype("int64"),
                "adc_dist": np.concatenate(out_d),
            }
        )

    m2 = m_side.withColumnRenamed(key, "__mkey").withColumnRenamed(
        "codes", "__mcodes"
    )
    return (
        q_side.groupby(key)
        .cogroup(m2.groupby("__mkey"))
        .applyInPandas(fn, "vec_id long, neighbor_id long, adc_dist double")
    )


def lsh_bucket_table(emb: DataFrame, planes=None) -> DataFrame:
    """(vec_id, t, bucket) rows — one per LSH table.

    All L·B hyperplane signatures are computed in a single numpy GEMM
    per Arrow batch (E @ P.T, sign, bit-pack) — map-side only, no
    shuffle, and the bucket table carries no embedding payload."""
    import numpy as np
    import pandas as pd

    P = np.array(planes if planes is not None else LSH_PLANES, dtype="float64")  # (T, B, D)
    T, B, D = P.shape
    flat = P.reshape(T * B, D)
    weights = (1 << np.arange(B)).astype("int64")

    def sigs(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            bits = (E @ flat.T) >= 0  # (n, T*B)
            buckets = (bits.reshape(n, T, B) * weights).sum(axis=2).astype("int32")
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), T),
                    "t": np.tile(np.arange(T, dtype="int32"), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(sigs, "vec_id long, t int, bucket int")


def _tile_sims(emb: DataFrame, n_blocks: int, emit,
               label: str | None = None) -> DataFrame:
    """All-pairs cosine via block-tiled GEMM.

    Vectors are hashed into ``n_blocks`` row-blocks; each (left-block,
    right-block) tile is materialized by a cogrouped ``applyInPandas``
    and evaluated as one numpy matmul (Arrow batch in, BLAS, Arrow
    out). Communication is O(N·n_blocks) row replications — the
    standard distributed brute-force layout; at 100 TB you raise
    ``n_blocks`` so a tile's two row-blocks fit executor memory, and
    every tile runs as an independent task.

    ``emit(key, S, lids, rids)`` → (vec_id, neighbor_id, sim) rows to
    keep from a tile's similarity matrix S (lets callers do per-tile
    top-k or thresholding before anything is shuffled back). When
    ``label`` names a column, it rides into every tile and ``emit``
    also gets the row-aligned left and right labels.
    """
    import pandas as pd  # noqa: F401 (applyInPandas requirement)

    spark = emb.sparkSession

    def side(s: str, other: str) -> DataFrame:
        cols = [F.col("vec_id").alias(f"{s}id"), F.col("embedding").alias(f"{s}emb")]
        if label is not None:
            cols.append(F.col(label).alias(f"{s}lab"))
        return (
            emb.select(*cols)
            .withColumn(f"{s}b", F.col(f"{s}id") % n_blocks)
            .crossJoin(F.broadcast(
                spark.range(n_blocks).select(F.col("id").cast("long").alias(f"{other}b"))
            ))
        )

    def tile(key, l, r):
        import numpy as np
        import pandas as pd

        if len(l) == 0 or len(r) == 0:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "sim": []})
        L = np.stack(l["lemb"].to_numpy()).astype("float64")
        R = np.stack(r["remb"].to_numpy()).astype("float64")
        L = L / np.linalg.norm(L, axis=1, keepdims=True)
        R = R / np.linalg.norm(R, axis=1, keepdims=True)
        lids, rids = l["lid"].to_numpy(), r["rid"].to_numpy()
        labs = (l["llab"].to_numpy(), r["rlab"].to_numpy()) if label is not None else None
        # strip-mine the tile: a full |L|×|R| similarity matrix is
        # hundreds of MB per task and every concurrent worker pays the
        # DRAM round trip for cells the emit immediately discards
        # (measured 8× wall at sf1, 32 workers). Row strips keep the
        # in-flight S block a few MB; each row lands in exactly one
        # strip, so per-strip emission ≡ per-tile emission for every
        # emit (threshold filters and per-row top-k alike).
        strip = max(128, _GEMM_STRIP_CELLS // max(1, R.shape[0]))
        outs = []
        for lo in range(0, L.shape[0], strip):
            rows = slice(lo, lo + strip)
            extra = (labs[0][rows], labs[1]) if labs else ()
            outs.append(emit(key, L[rows] @ R.T, lids[rows], rids, *extra))
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    return (
        side("l", "r").groupby("lb", "rb")
        .cogroup(side("r", "l").groupby("lb", "rb"))
        .applyInPandas(tile, schema="vec_id long, neighbor_id long, sim double")
    )


def _tile_topk(emb: DataFrame, k: int, n_blocks: int,
               label: str | None = None) -> DataFrame:
    """Exact cosine top-k per vector over the block-tiled GEMM:
    per-tile top-k inside the kernel (so only n_blocks·k candidates
    per vector are shuffled), then the global :func:`_topk_window`.
    Excludes self-pairs or, with ``label``, every same-label pair
    (the hard-negative mask, which covers self-pairs too)."""

    def emit(key, S, lids, rids, llab=None, rlab=None):
        import pandas as pd

        # vectorized exact per-tile top-k on ROUNDED sims (total order
        # sim desc, neighbor asc — agrees with the oracle's global
        # ranking); see _topk_rows. Survivors-only rounding.
        if label is None:
            valid = lids[:, None] != rids[None, :]
        else:
            valid = llab[:, None] != rlab[None, :]
        ii, jj, sims = _topk_rows(S, rids, k, valid=valid)
        return pd.DataFrame(
            {"vec_id": lids[ii], "neighbor_id": rids[jj], "sim": sims}
        )

    return _topk_window(_tile_sims(emb, n_blocks, emit, label), k)


def ann_topk_bruteforce(emb: DataFrame, k: int = 5, n_blocks: int = 8) -> DataFrame:
    """Exact cosine top-k neighbors per vector:
    (vec_id, neighbor_id, sim, rank). Ties broken by neighbor_id.

    Per-tile top-k is taken inside the GEMM kernel (so only
    n_blocks·k candidates per vector are shuffled), then the global
    top-k is a per-vector window (:func:`_tile_topk`)."""
    return _tile_topk(emb, k, n_blocks)


def knn_label_propagation(emb: DataFrame, k: int = 5, n_blocks: int = 8) -> DataFrame:
    """Semi-supervised label assignment: each vector takes the
    majority label of its ``k`` exact-cosine nearest neighbors
    (vec_id, pred_label, votes). The weak-labeling step of a
    training-data pipeline (label expansion from a seed set).

    Vote ties break toward the smaller label, neighbor ties toward
    the smaller neighbor_id — total orderings, so the result is
    engine-exact. Cost is the brute-force top-k (block-tiled GEMM)
    plus one keyed join against the (vec_id, label) side — at scale
    swap in ``ann_lsh_topk``/``ann_ivf_topk`` for the neighbor stage;
    the vote is unchanged."""
    nn = ann_topk_bruteforce(emb.select("vec_id", "embedding"), k=k, n_blocks=n_blocks)
    lab = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    votes = (
        nn.join(lab, "neighbor_id")
        .groupBy("vec_id", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("votes").desc(), F.col("n_label").asc())
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("n_label").alias("pred_label"), "votes")
    )


def _nearest_cells(emb: DataFrame, C, nprobe: int, cids=None) -> DataFrame:
    """Each vector's ``nprobe`` nearest cells of the centroid matrix
    ``C`` (n_cells × D): (vec_id, cluster, rn) rows, rn = 1 the
    nearest. ``cids`` maps centroid rows to cell ids (default: the row
    index). All distances come from one numpy GEMM per Arrow batch,
    map-side — no crossJoin and no rank-window shuffle. argmin of
    squared distance = argmin of (-2 v·c + |c|²); the stable argsort
    breaks distance ties toward the lower centroid row, matching the
    oracle's ORDER BY d, cid. ``nprobe`` beyond the cell count probes
    every cell."""
    import numpy as np
    import pandas as pd

    C = np.asarray(C, dtype="float64")
    n2 = (C * C).sum(axis=1)
    cids = np.arange(len(C), dtype="int32") if cids is None else cids
    p = min(nprobe, len(C))

    def nearest(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            D = -2.0 * (E @ C.T) + n2
            order = np.argsort(D, axis=1, kind="stable")[:, :p]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), p),
                    "cluster": cids[order.reshape(-1)],
                    "rn": np.tile(np.arange(1, p + 1, dtype="int32"), n),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        nearest, "vec_id long, cluster int, rn int"
    )


def ann_ivf_topk(emb: DataFrame, k: int = 5, nprobe: int = 2,
                 n_cells: int | None = None) -> DataFrame:
    """IVF-style ANN: vectors are assigned to their nearest coarse-
    quantizer cell; each query probes its ``nprobe`` nearest cells
    and ranks exact cosine within them.

    The codebook is the deterministic constant
    :data:`~sift_spark.functions.core.IVF_CENTROIDS` (so the DuckDB
    oracle reproduces it exactly); swap in a k-means-trained codebook
    for production recall. Plan: all C centroid distances per vector
    in one numpy GEMM per Arrow batch (map-side, no crossJoin and no
    rank-window shuffle), candidate equi-join on cell id —
    communication O(N·nprobe), never a cross join over vectors.

    ``n_cells`` is the scale knob (see ``core.ivf_centroids``): cell
    population is N/n_cells and per-query candidates nprobe·N/n_cells,
    so a FIXED codebook on growing data degrades quadratically —
    keep n_cells ≈ nprobe·√N. None keeps the 16-cell oracle default.
    """
    from sift_spark.caching import local_persist
    from sift_spark.functions.core import IVF_N_CELLS, ivf_centroids

    # persist: ranked feeds BOTH the assignment and the probe list —
    # unpersisted, the whole Arrow scan + GEMM chain runs twice
    ranked = local_persist(  # materialize: assign + probes race the Arrow chain
        _nearest_cells(emb, ivf_centroids(n_cells or IVF_N_CELLS), nprobe)
    )
    assign = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cluster"
    )
    probes = ranked.where(F.col("rn") <= nprobe).select("vec_id", "cluster")
    # scoring is per-CELL GEMM, not per-pair joins: materializing the
    # (query, member) candidate pairs and joining embeddings onto both
    # sides shuffles O(candidates·D) — measured 19s of a 22s sf1 run
    # on a 6.4M-pair candidate set. Cogrouping queries and members by
    # cell ships each embedding once per probe (O(N·nprobe·D)) and
    # does the pair math inside numpy. A neighbor lives in exactly one
    # cell, so per-cell local top-k rows merge into the exact global
    # top-k (no cross-cell duplicates).
    e = emb.select("vec_id", "embedding")
    q_side = probes.join(e, "vec_id")
    m_side = assign.join(
        e.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    )
    return _topk_window(_cogroup_topk(q_side, m_side, "cluster", k), k)


def ann_lsh_topk(emb: DataFrame, k: int = 5, n_tables: int | None = None,
                 n_bits: int | None = None) -> DataFrame:
    """Multi-table LSH approximate top-k: candidates are vector pairs
    sharing any table's bucket (OR over L tables), then exact cosine
    + per-query top-k on the candidate set only:
    (vec_id, neighbor_id, sim, rank).

    The bucket table is map-side GEMM output (cheap to recompute, so
    no cache management); the self-join is a keyed equi-join on
    (t, bucket) that scales out, with distinct() collapsing pairs
    that collide in several tables.

    ``n_bits`` is the scale knob: expected bucket population is
    N/2^bits, so raise bits with log2(N) (and add tables to buy the
    recall back). None keeps the 4×6 oracle default."""
    planes = None
    if n_tables is not None or n_bits is not None:
        from sift_spark.functions.core import LSH_BITS, LSH_TABLES, lsh_planes

        planes = lsh_planes(n_tables or LSH_TABLES, n_bits or LSH_BITS)
    # per-(table,bucket) cogrouped GEMM instead of a pair-materializing
    # self-join + embedding joins (see _cogroup_topk): embeddings ship
    # once per table membership, pair math stays in numpy. A neighbor
    # sharing several buckets with a query yields duplicate local rows
    # with IDENTICAL sims — dropDuplicates before the global rank.
    bt = lsh_bucket_table(emb.select("vec_id", "embedding"), planes=planes)
    bkey = (F.col("t").cast("long") * F.lit(1 << 33) + F.col("bucket")).alias("bkey")
    e = emb.select("vec_id", "embedding")
    keyed = bt.select("vec_id", bkey).join(e, "vec_id")
    n_buckets = (n_tables or 4) * (1 << (n_bits or 6))
    key = "bkey"
    if n_buckets > 512:
        # high-bit tables: thousands of mostly-singleton buckets would
        # pay one Python/Arrow call each — supergroup them and mask
        # cross-bucket pairs inside the kernel. 256 supergroups keeps
        # each GEMM tile ~L·N/256 rows; at larger N raise the divisor
        # with N to hold the tile near a few thousand rows.
        keyed = keyed.withColumn("skey", F.col("bkey") % 256)
        key = "skey"
    local = _cogroup_topk(
        keyed, keyed.withColumnRenamed("vec_id", "neighbor_id"), key, k,
        same="bkey" if key == "skey" else None,
    ).dropDuplicates(["vec_id", "neighbor_id"])
    return _topk_window(local, k)


def kmeans_clusters(emb: DataFrame, n_iter: int = 2,
                    n_cells: int | None = None) -> DataFrame:
    """Lloyd's k-means over the embedding column, seeded by the
    deterministic IVF codebook (so the DuckDB oracle reproduces every
    round exactly): final hard assignment (vec_id, cluster).
    ``n_cells`` sizes the seed codebook (``core.ivf_centroids``);
    None keeps the 16-cell oracle default.

    Each round is the canonical distributed k-means step: map-side
    GEMM assignment (one numpy matmul per Arrow batch against the
    k×D centroid matrix shipped in the task closure), one keyed
    shuffle on (cluster, dim) to average members, and a k×D driver
    collect — the only driver-side data is the codebook itself, which
    is what every scalable k-means (including Spark MLlib's) holds on
    the driver. Distance ties break toward the lowest cluster id
    (stable argsort ≡ the oracle's ORDER BY d, cid). Clusters that
    lose all members drop out in both engines identically.
    """
    import numpy as np
    import pandas as pd

    from sift_spark.functions.core import IVF_CENTROIDS, ivf_centroids

    def member_sums(cids: "np.ndarray", C: "np.ndarray") -> DataFrame:
        # same distance + tie rule as _nearest_cells (the two passes must
        # agree on every vector), but instead of emitting one row per
        # vector it reduces each task's batch stream to ≤k partial
        # (cluster, count, Σembedding) rows. The per-round
        # corpus⨝assignment join, the 64× posexplode and the
        # (cluster, dim) exchange all disappear: the round's job is a
        # single mapInPandas stage whose collect moves k×D floats per
        # task — the codebook-sized traffic a distributed k-means
        # fundamentally requires and nothing else (guide §2.3/§2.4).
        # Centroid float rounding differs from the old distributed avg
        # only in summation order (≤1e-13); assignments were verified
        # hash-equal at sf0.01/0.1/1 and the oracle compares the
        # integer assignment, never the centroids.
        n2 = (C * C).sum(axis=1)

        def go(it):
            cnt = np.zeros(len(cids), dtype="int64")
            s = np.zeros(C.shape, dtype="float64")
            for pdf in it:
                if len(pdf) == 0:
                    continue
                E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
                D = -2.0 * (E @ C.T) + n2
                j = np.argsort(D, axis=1, kind="stable")[:, 0]
                np.add.at(cnt, j, 1)
                np.add.at(s, j, E)
            nz = np.nonzero(cnt)[0]
            if len(nz):
                yield pd.DataFrame(
                    {"cluster": cids[nz], "cnt": cnt[nz], "s": list(s[nz])}
                )

        return emb.select("embedding").mapInPandas(
            go, "cluster int, cnt long, s array<double>"
        )

    seed = ivf_centroids(n_cells) if n_cells else IVF_CENTROIDS
    cids = np.arange(len(seed), dtype="int32")
    C = np.array(seed, dtype="float64")
    for _ in range(n_iter):
        parts = member_sums(cids, C).collect()
        cnt_by: dict[int, int] = {}
        sum_by: dict[int, "np.ndarray"] = {}
        for r in parts:  # collect order = partition order: deterministic
            c = r["cluster"]
            cnt_by[c] = cnt_by.get(c, 0) + r["cnt"]
            v = np.asarray(r["s"], dtype="float64")
            sum_by[c] = v if c not in sum_by else sum_by[c] + v
        if not cnt_by:
            # empty input (or all clusters lost their members): the
            # assignment is already empty — updating to a 0×dim
            # codebook would only break the GEMM shapes
            break
        cids = np.array(sorted(cnt_by), dtype="int32")
        C = np.stack([sum_by[c] / cnt_by[c] for c in cids])
    return _nearest_cells(emb, C, 1, cids).select("vec_id", "cluster")


def pq_codes(emb: DataFrame) -> DataFrame:
    """Product-quantization codes: each vector's PQ_M subvectors are
    assigned to their nearest per-subspace centroid —
    (vec_id, codes) with codes a CSV of PQ_M 4-bit ids.

    A 64-dim float vector compresses to PQ_M·log2(PQ_K) = 32 bits, so
    the code table for a 100 TB embedding corpus fits in cluster RAM
    and ADC re-ranking never touches the raw vectors. Vectors are
    unit-normalized before encoding (the corpus metric is cosine;
    on the unit sphere L2 order ≡ cosine order, so ADC distances
    rank like similarities). Assignment is map-side: one numpy GEMM
    per (Arrow batch × subspace) against the constant codebooks in
    the task closure; distance ties break toward the lower code id
    (stable argsort ≡ the oracle's ORDER BY d, k)."""
    import numpy as np
    import pandas as pd

    from sift_spark.functions.core import PQ_CODEBOOKS, PQ_M, PQ_SUB_DIM

    C = np.array(PQ_CODEBOOKS, dtype="float64")  # (M, K, SD)
    n2 = (C * C).sum(axis=2)  # (M, K)

    def go(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            E = E / np.linalg.norm(E, axis=1, keepdims=True)
            codes = np.empty((n, PQ_M), dtype="int32")
            for m in range(PQ_M):
                sub = E[:, m * PQ_SUB_DIM:(m + 1) * PQ_SUB_DIM]
                D = -2.0 * (sub @ C[m].T) + n2[m]
                codes[:, m] = np.argsort(
                    round6_half_away(D), axis=1, kind="stable"
                )[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": [",".join(map(str, row)) for row in codes],
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(go, "vec_id long, codes string")


def ivf_pq_topk(emb: DataFrame, k: int = 5, nprobe: int = 2,
                n_cells: int | None = None) -> DataFrame:
    """IVF-PQ ANN: IVF coarse cells generate candidates; ranking uses
    the asymmetric PQ distance (query subvector → candidate's centroid)
    computed per cell from the candidates' codes alone —
    (vec_id, neighbor_id, adc_dist, rank).

    This is the memory-bounded scale path: candidates carry only
    their 32-bit code and the exact vectors never shuffle — scoring is
    the per-cell cogrouped ADC kernel (:func:`_cogroup_adc_topk`), the
    same communication shape as :func:`ann_ivf_topk`'s GEMM cogroup.
    ``n_cells`` is the same scale knob (keep ≈ nprobe·√N; None keeps
    the 16-cell oracle default). Recall vs the exact top-k is
    property-tested; the ADC math itself is deterministic given the
    literal codebooks, so since r9 the op is ALSO hash-checked against
    a DuckDB twin (LUT-join ADC, oracle_ops._ivfpq_topk_oracle)."""
    from pyspark import StorageLevel

    from sift_spark.caching import local_persist
    from sift_spark.functions.core import IVF_N_CELLS, ivf_centroids

    # ranked feeds BOTH the assignment (rn=1) and the probe set — a
    # tiny (vec_id, cluster, rn) table; persisting it halves the corpus
    # scans + python GEMM passes. Registered builder-local cache:
    # released between bench reps. MEMORY_ONLY deliberately: a session
    # that never releases accumulates these blocks, and memory-only
    # blocks are LRU-evicted (eviction = recompute), never piled up on
    # disk.
    ranked = local_persist(
        _nearest_cells(emb, ivf_centroids(n_cells or IVF_N_CELLS), nprobe),
        eager=False,
        level=StorageLevel.MEMORY_ONLY,
    )
    codes = pq_codes(emb)
    assign = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cluster"
    ).join(codes.select(F.col("vec_id").alias("neighbor_id"), "codes"), "neighbor_id")
    q_side = ranked.select("vec_id", "cluster").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    return _topk_window(
        _cogroup_adc_topk(q_side, assign, "cluster", k), k, "adc_dist", largest=False
    )


def embedding_outliers(emb: DataFrame, z_max: float = 2.0) -> DataFrame:
    """Embedding-space outlier screen for data curation: each vector
    is assigned to its nearest IVF centroid, and vectors whose squared
    distance sits more than ``z_max`` population-standard-deviations
    above their cluster's mean distance are flagged (the "prune the
    weird tail before training" filter). Output (vec_id, cluster, d2,
    z, is_outlier); clusters with zero distance spread yield NULL z
    and are never outliers.

    Assignment is the same Arrow-batched numpy GEMM every ANN kernel
    here uses (d² = ‖x‖² − 2x·c + ‖c‖², raw for the argmin, rounded
    6dp at the edge — the numpy-dot ≡ DuckDB ``list_dot_product``
    equivalence the green ANN oracles already rest on); ties break
    toward the lowest cluster id in both engines. One map-side
    assignment pass + one k-row stats aggregate broadcast back; the
    corpus never shuffles. (A first cut did the 16 distances as
    JVM-side literal-array folds — 1024 sequential scalar ops/row
    codegen'd poorly: 8.5s vs this kernel's ~1.5s at sf1.)"""
    import numpy as np
    import pandas as pd

    from sift_spark.functions.core import IVF_CENTROIDS

    C = np.array(IVF_CENTROIDS, dtype="float64")
    n2 = (C * C).sum(axis=1)

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            D = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + n2
            j = np.argsort(D, axis=1, kind="stable")[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": j.astype("int32"),
                    "d2": np.round(D[np.arange(len(X)), j], 6),
                }
            )

    assigned = emb.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, cluster int, d2 double"
    )
    stats = assigned.groupBy("cluster").agg(
        F.round(F.avg("d2"), 6).alias("m"),
        F.round(F.stddev_pop("d2"), 6).alias("sd"),
    )
    z = F.when(F.col("sd") > 0, F.round((F.col("d2") - F.col("m")) / F.col("sd"), 6))
    return (
        assigned.join(F.broadcast(stats), "cluster")
        .select(
            "vec_id",
            "cluster",
            "d2",
            z.alias("z"),
            F.coalesce(z > z_max, F.lit(False)).alias("is_outlier"),
        )
    )


def embedding_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension distribution profile of the embedding column —
    the standardization/QA table a feature pipeline computes before
    normalizing or detecting dead dimensions: (dim, n, mean, std,
    min_v, max_v).

    posexplode → 64-key aggregate; partial (map-side) aggregation
    does the heavy lifting, so the shuffle carries k·dims rows
    regardless of corpus size. Floats are cast to double BEFORE
    rounding (rounding in float32 loses the 6th decimal)."""
    d = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 6).alias("mean"),
        F.round(F.stddev_samp("v"), 6).alias("std"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


def _auto_n_cells(emb: DataFrame, n_cells: int | None) -> int | None:
    """The IVF sizing rule (BASELINE.md r7 study): cell population is
    N/n_cells and per-query candidate work nprobe·N/n_cells, so a
    FIXED codebook degrades quadratically as data grows. None →
    n_cells ≈ 2·√N (nprobe 2), floored at the 16-cell oracle default;
    the count is one cheap job, paid once at index BUILD time. Small
    corpora (N ≤ 256) keep the default so test/driver-gate fixtures
    stay on the oracle codebook."""
    if n_cells is not None:
        return n_cells
    n = emb.count()
    auto = int(2 * n ** 0.5)
    return max(16, auto) if n > 256 else None


def _write_centroids(cells: DataFrame, path: str) -> None:
    """Write ``{path}/centroids``: each cluster's member mean over the
    (cluster, embedding) rows of ``cells``, dimensions in order — the
    trained codebook both persisted indexes probe with."""
    (
        cells.select("cluster", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_write_index(emb: DataFrame, path: str, n_iter: int = 2,
                    n_cells: int | None = None) -> None:
    """Train and persist an IVF index: ``{path}/cells`` holds the
    vectors PARTITIONED BY their k-means cell, ``{path}/centroids``
    the trained codebook. Partitioning by cell is the serving layout:
    a query that probes ``nprobe`` cells reads only those partitions'
    files — at 100 TB the scan touches nprobe/n_cells of the index,
    enforced by static partition pruning (asserted in tests).

    ``n_cells`` None auto-sizes the codebook to ≈2·√N
    (:func:`_auto_n_cells`) — the r9 sf1 A/B measured the fixed
    16-cell default at 65s for 20k vectors (2500-member cells →
    50M-candidate probes) vs ~3s auto-sized. Pass an explicit value
    to pin a configuration (the driver-gate queries pin 16 so the
    static-SQL oracle reproduces training).

    The assigned cells are persisted across the two writes so the
    k-means lineage (iterative collects) is paid ONCE, not once per
    output table."""
    clusters = kmeans_clusters(emb, n_iter=n_iter,
                               n_cells=_auto_n_cells(emb, n_cells))
    cells = emb.select("vec_id", "embedding").join(clusters, "vec_id").persist()
    try:
        cells.write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/cells")
        _write_centroids(cells, path)
    finally:
        cells.unpersist()


def _probe_index(spark, queries: DataFrame, path: str,
                 nprobe: int) -> tuple[DataFrame, DataFrame]:
    """The probe both persisted-index queries share: (q_side, cells)
    with q_side the (vec_id, cluster, embedding) probe rows and cells
    the index's ``{path}/cells`` scan cut to the probed partitions.

    The codebook (k×D) is driver-resident — the same thing every ANN
    serving system holds in memory; cell ranking is
    :func:`_nearest_cells`. Centroids are sorted by cluster id so
    distance TIES break toward the lower cell deterministically
    (parquet collect order is arbitrary; the stable argsort follows
    row order). The probed cell ids are collected (≤ n_cells ints)
    and pushed as a static partition filter, so the cells scan reads
    ONLY the probed partitions."""
    import numpy as np
    from pyspark import StorageLevel

    from sift_spark.caching import local_persist

    cents = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["cluster"],
    )
    cids = np.array([r["cluster"] for r in cents], dtype="int32")
    C = np.stack([np.array(r["centroid"], dtype="float64") for r in cents])
    # registered builder-local cache with ivf_pq_topk's MEMORY_ONLY
    # policy: probe tables from long serving sessions LRU-evict
    # (eviction = recompute) instead of accumulating on disk
    probes = local_persist(
        _nearest_cells(queries, C, nprobe, cids),
        eager=False,
        level=StorageLevel.MEMORY_ONLY,
    )
    probed = sorted(r["cluster"] for r in probes.select("cluster").distinct().collect())
    cells = spark.read.parquet(f"{path}/cells").where(F.col("cluster").isin(probed))
    q_side = probes.select("vec_id", "cluster").join(
        queries.select("vec_id", "embedding"), "vec_id"
    )
    return q_side, cells


def ivf_query_index(spark, queries: DataFrame, path: str,
                    k: int = 5, nprobe: int = 2) -> DataFrame:
    """Probe a persisted IVF index: (vec_id, neighbor_id, sim, rank)
    exact-cosine top-k within each query's ``nprobe`` nearest cells
    (:func:`_probe_index`: static partition pruning on the probed
    cells, deterministic centroid tie-breaks)."""
    q_side, cells = _probe_index(spark, queries, path, nprobe)
    # scoring is the per-CELL GEMM cogroup, not per-pair joins — the
    # same lesson ann_ivf_topk carries: materializing (query, member)
    # pair rows with both embeddings shuffles O(candidates·D) and the
    # r9 sf1 A/B measured the join form at 65s where this shape takes
    # ~3s. Embeddings travel once per probe; per-cell local top-k rows
    # merge into the exact global top-k (a member lives in one cell).
    m_side = cells.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "cluster"
    )
    return _topk_window(_cogroup_topk(q_side, m_side, "cluster", k), k)


def ivfpq_write_index(emb: DataFrame, path: str, n_iter: int = 2,
                      n_cells: int | None = None) -> None:
    """Persist the memory-bounded ANN index: cells partitioned by
    trained k-means cluster carry ONLY (vec_id, codes) — the 32-bit
    PQ code replaces the raw vector, so the on-disk index is ~64×
    smaller than the corpus and the scan that serves a query reads
    codes, never embeddings. Same centroids table as
    :func:`ivf_write_index`, same ``n_cells`` auto-√N sizing rule.
    The assignment is persisted so the k-means lineage is paid once
    across the codes and centroid writes."""
    clusters = kmeans_clusters(
        emb, n_iter=n_iter, n_cells=_auto_n_cells(emb, n_cells)
    ).persist()
    try:
        cells = pq_codes(emb).join(clusters, "vec_id")
        cells.write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/cells")
        _write_centroids(emb.select("vec_id", "embedding").join(clusters, "vec_id"), path)
    finally:
        clusters.unpersist()


def ivfpq_query_index(spark, queries: DataFrame, path: str,
                      k: int = 5, nprobe: int = 2) -> DataFrame:
    """Probe a persisted IVF-PQ index: (vec_id, neighbor_id,
    adc_dist, rank) — asymmetric-distance top-k within each query's
    ``nprobe`` cells, computed from the candidates' PQ codes alone.
    Same probe as :func:`ivf_query_index` (:func:`_probe_index`); the
    difference is the scan payload: 4-byte codes instead of D-float
    vectors."""
    q_side, cells = _probe_index(spark, queries, path, nprobe)
    # per-cell cogrouped ADC — never a (query, member) pair row with a
    # replicated query vector (see _cogroup_adc_topk)
    m_side = cells.select(
        F.col("vec_id").alias("neighbor_id"), "codes", "cluster"
    )
    return _topk_window(
        _cogroup_adc_topk(q_side, m_side, "cluster", k), k, "adc_dist", largest=False
    )


def normalize_embeddings(emb: DataFrame) -> DataFrame:
    """Per-dimension z-score normalization of the embedding matrix:
    (vec_id, dim, z) with z = (x - mean_dim) / stddev_pop_dim rounded
    at the edge — the standard feature-scaling step before distance
    computations or quantization codebook training.

    Shape: posexplode to (vec_id, dim, x) — map-side; ONE aggregate
    keyed on dim (dim cardinality == vector width, tiny); the per-dim
    stats broadcast back onto the exploded rows. At 100 TB the
    exploded table is width×rows but never shuffles on it — the only
    shuffle key is the dim."""
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    stats = x.groupBy("dim").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sigma")
    )
    # a dead (constant) dimension has sigma = 0: ANSI mode would throw
    # on the division, so z is NULL there — mirrored in the oracle
    return x.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.when(
            F.col("sigma") != 0,
            F.round((F.col("x") - F.col("mu")) / F.col("sigma"), 6),
        ).alias("z"),
    )


def embedding_pca(emb: DataFrame, n_components: int = 4) -> DataFrame:
    """Distributed PCA over the embedding column: project each vector
    onto the top ``n_components`` principal axes of the corpus
    covariance. Output: (vec_id, pc) with ``pc`` an
    array<double> of length ``n_components``, rounded at the edge.

    Scale shape — the classic two-pass GEMM reduction (same layout as
    Spark MLlib's RowMatrix PCA): each partition computes its own
    d-vector sum and d×d Gram block X^T X in one Arrow batch
    (``mapInPandas``), emitting ONE flattened row per batch; a single
    global aggregate sums those d²-sized partials (bytes per
    partition, never per row); the driver eigendecomposes the d×d
    covariance (d = embedding width, always tiny) and the component
    matrix rides back into a map-side projection as literal arrays.
    The corpus is scanned exactly twice and never shuffled.

    Determinism: eigenvector signs are fixed by making each
    component's largest-magnitude coordinate positive; components are
    ordered by descending eigenvalue (ties broken by numpy's stable
    eigh order).
    """
    import numpy as np

    def partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({
                "n": [float(len(X))],
                "s": [X.sum(axis=0).tolist()],
                "g": [(X.T @ X).ravel().tolist()],
            })

    agg = (
        emb.select("embedding")
        .mapInPandas(partials, "n double, s array<double>, g array<double>")
        .select("n", F.posexplode(F.concat("s", "g")).alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("v"), F.sum("n").alias("n"))
    )
    rows = agg.collect()  # d + d² rows — width-sized, never corpus-sized
    d = int(round((-1 + (1 + 4 * len(rows)) ** 0.5) / 2))
    flat = np.zeros(d + d * d)
    for r in rows:
        flat[r["i"]] = r["v"]
    n = float(rows[0]["n"])  # every i-group sums the same per-batch counts
    s, G = flat[:d], flat[d:].reshape(d, d)
    mu = s / n
    cov = (G - np.outer(mu, s)) / (n - 1.0)  # G − n·μμᵀ, with s = n·μ
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    W = evecs[:, order]
    sign = np.sign(W[np.abs(W).argmax(axis=0), range(W.shape[1])])
    W = W * sign
    mu_lit = F.array(*[F.lit(float(v)) for v in mu])
    centered = F.zip_with("embedding", mu_lit, lambda x, m: x.cast("double") - m)
    pcs = F.array(*[
        F.round(
            F.aggregate(
                F.zip_with(
                    centered,
                    F.array(*[F.lit(float(v)) for v in W[:, j]]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )
        for j in range(W.shape[1])
    ])
    return emb.select("vec_id", pcs.alias("pc"))


def embedding_int8(emb: DataFrame) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the
    serving-side compression every vector store ships alongside PQ
    (4× smaller than float32, ~1% recall loss at this granularity):
    per dimension, codes = round(255·(x−min)/(max−min)); output
    (vec_id, codes, mae) with ``codes`` the comma-joined int codes in
    dimension order and ``mae`` the per-vector mean absolute
    reconstruction error, rounded at the edge.

    Shape: posexplode map-side; ONE dim-keyed aggregate for the
    per-dim min/max (width-sized, broadcast back); per-vector
    re-assembly is one vec-keyed aggregate with an ordered
    struct-sort — two shuffles total, both on natural keys. Constant
    dimensions (max = min) code to 0 with zero error."""
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    stats = x.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    coded = x.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        "x",
        "lo",
        "hi",
        F.when(
            F.col("hi") > F.col("lo"),
            F.round(255.0 * (F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")), 0),
        )
        .otherwise(F.lit(0.0))
        .cast("int")
        .alias("code"),
    )
    decoded = coded.withColumn(
        "err",
        F.abs(
            F.col("x")
            - (
                F.col("lo")
                + F.col("code") * (F.col("hi") - F.col("lo")) / 255.0
            )
        ),
    )
    return decoded.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "code"))),
                lambda s: s["code"].cast("string"),
            ),
            ",",
        ).alias("codes"),
        F.round(F.avg("err"), 6).alias("mae"),
    )


def hard_negatives(emb: DataFrame, k: int = 5, n_blocks: int = 8,
                   method: str = "exact", nprobe: int = 2,
                   n_cells: int | None = None,
                   oversample: int = 4) -> DataFrame:
    """Hard-negative mining for contrastive / metric training: for
    every vector, the ``k`` most-cosine-similar vectors carrying a
    DIFFERENT label — the near-miss negatives a trainer wants in the
    batch (Schroff et al. 2015 semi-hard mining, batched offline).
    Output (vec_id, neighbor_id, sim, rank); ties break toward the
    smaller neighbor_id on 6dp-rounded sims, so ranking is engine-exact.

    ``method="exact"`` (oracle-pinned): same distributed shape as
    :func:`ann_topk_bruteforce` — block-tiled GEMM with the label
    carried into each tile, the different-label filter and per-tile
    top-k applied INSIDE the kernel (only n_blocks·k candidates per
    vector are ever shuffled), then one per-vector window for the
    global top-k. Quadratic BY DESIGN (it is the exact baseline):
    the r11 sf5 study measured both engines DNF >450s at 250k
    vectors (AMORTIZATION_sf5.json).

    ``method="ivf"`` (the 100 TB path the exact docstring promised):
    candidates come from :func:`ann_ivf_topk` with the auto-sized
    codebook (≈2·√N cells), oversampled ``oversample·k`` so the
    different-label filter — applied AFTER candidate generation via
    two slim label joins — still has k survivors; the same re-rank
    window finishes. Communication O(N·nprobe·oversample·k), never a
    vector cross join; mining quality is bounded by IVF recall
    (tested ≥ the IVF recall gate on the fixture corpus)."""
    if method != "ivf":
        return _tile_topk(emb, k, n_blocks, label="label")
    lab = emb.select("vec_id", "label")
    cand = ann_ivf_topk(
        emb.select("vec_id", "embedding"), k=oversample * k,
        nprobe=nprobe, n_cells=_auto_n_cells(emb, n_cells),
    ).select("vec_id", "neighbor_id", "sim")
    filt = (
        cand.join(lab, "vec_id")
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("__nlab"),
            ),
            "neighbor_id",
        )
        .where(F.col("label") != F.col("__nlab"))
    )
    return _topk_window(filt, k).select("vec_id", "neighbor_id", "sim", "rank")


def label_spread(emb: DataFrame, k: int = 5, n_rounds: int = 2,
                 n_blocks: int = 8, method: str = "exact",
                 nprobe: int = 2, n_cells: int | None = None) -> DataFrame:
    """Multi-round label propagation over the kNN graph (Zhu &
    Ghahramani 2002, hard variant) — the multi-hop extension of
    :func:`knn_label_propagation`: every node SIMULTANEOUSLY takes the
    majority label of its k nearest neighbors each round, so labels
    diffuse through the graph. Output (vec_id, label, pred_label)
    after ``n_rounds``. Vote ties break toward the smaller label —
    a total ordering, engine-exact.

    Shape: the kNN edge table is built ONCE per plan and not
    persisted: every round reads the same lazy frame, and AQE reuses
    its exchange, so the event log shows one FlatMapCoGroupsInPandas
    (GEMM) stage per build. Each round is one edge-keyed join against
    the current label table (vocab-sized, k·N rows) + a per-node vote
    window. The lazy plan
    grows linearly in rounds (each round references the previous
    labels once). ``method="exact"`` (oracle-pinned) builds the graph
    with the block-tiled GEMM — quadratic by design, measured DNF
    >450s in both engines at sf5 (250k vectors). ``method="ivf"`` is
    the scale path the exact docstring promised: the edge table comes
    from :func:`ann_ivf_topk` over the auto-sized codebook
    (communication O(N·nprobe·k)); the propagation is unchanged."""
    if method == "ivf":
        nn = ann_ivf_topk(
            emb.select("vec_id", "embedding"), k=k, nprobe=nprobe,
            n_cells=_auto_n_cells(emb, n_cells),
        ).select("vec_id", "neighbor_id")
    else:
        nn = (
            ann_topk_bruteforce(emb.select("vec_id", "embedding"), k=k,
                                n_blocks=n_blocks)
            .select("vec_id", "neighbor_id")
        )
    labels = emb.select("vec_id", F.col("label").alias("cur"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("votes").desc(), F.col("cur").asc()
    )
    for _ in range(n_rounds):
        votes = (
            nn.join(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"), "cur"
                ),
                "neighbor_id",
            )
            .groupBy("vec_id", "cur")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "cur")
        )
    return (
        emb.select("vec_id", "label")
        .join(labels.select("vec_id", F.col("cur").alias("pred_label")), "vec_id")
    )


def _recall_report(emb: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Score an approximate top-k frame against the exact brute-force
    top-k at the same k — one row (n_queries, avg_recall, min_recall,
    full_recall_frac). The comparison is a semi-join of two (n·k)-row
    frames plus per-vector counts — tiny next to either search."""
    exact = ann_topk_bruteforce(emb, k=k).select("vec_id", "neighbor_id")
    hits = exact.join(approx.select("vec_id", "neighbor_id"), ["vec_id", "neighbor_id"],
                      "left_semi")
    per = exact.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_true"))
    hit_per = hits.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_hit"))
    rec = per.join(hit_per, "vec_id", "left").select(
        "vec_id",
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_true")).alias("rec"),
    )
    return rec.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("rec"), 6).alias("avg_recall"),
        F.round(F.min("rec"), 6).alias("min_recall"),
        F.round(
            F.sum(F.when(F.col("rec") == 1.0, 1).otherwise(0)) / F.count(F.lit(1)),
            6,
        ).alias("full_recall_frac"),
    )


def ivf_recall_report(spark, emb: DataFrame, path: str, k: int = 5,
                      nprobe: int = 2) -> DataFrame:
    """Recall audit for the PERSISTED serving index
    (:func:`ivf_query_index`) against the exact brute-force ground
    truth — same one-row report shape as :func:`ann_recall_report`
    (n_queries, avg_recall, min_recall, full_recall_frac), but the
    approximate side is the index a deployment actually serves from
    (trained member-mean centroids, partition-pruned probe), so this
    is the gate to run AFTER a build/retrain, before flipping serving
    traffic to the new index. Sample the query slice at 100 TB; the
    report shape is identical."""
    return _recall_report(emb, ivf_query_index(spark, emb, path, k=k, nprobe=nprobe), k)


def ivfpq_recall_report(spark, emb: DataFrame, path: str, k: int = 5,
                        nprobe: int = 2) -> DataFrame:
    """Recall audit for the PQ-coded serving index
    (:func:`ivfpq_query_index`) against the exact ground truth — same
    report shape as :func:`ivf_recall_report`, but this one prices a
    DIFFERENT error source: on top of cell-probing misses, ADC ranks
    by quantized distance, so even a full probe is approximate
    (quantization error reorders near-ties). A deployment reads the
    two reports together: ivf_recall_report isolates the nprobe knob,
    this one adds the code-budget (PQ_M × PQ_K) knob."""
    return _recall_report(emb, ivfpq_query_index(spark, emb, path, k=k, nprobe=nprobe), k)


def ann_recall_report(emb: DataFrame, k: int = 5, nprobe: int = 2) -> DataFrame:
    """Recall audit for the IVF index against the exact brute-force
    ground truth at the same k — one row (n_queries, avg_recall,
    min_recall, full_recall_frac).

    The "is nprobe high enough" gate an ANN deployment runs on a
    sample before serving: avg_recall prices the speedup, min_recall
    exposes the worst-served query vector (a centroid-boundary
    casualty the average hides), full_recall_frac says how many
    queries are served exactly. Both sides are existing operators
    (`ann_topk_bruteforce`, `ann_ivf_topk`) joined by
    :func:`_recall_report`. Run it on a sampled slice at 100 TB; the
    report shape is identical.
    """
    return _recall_report(emb, ann_ivf_topk(emb, k=k, nprobe=nprobe), k)
