"""Shared column expressions and cross-engine constants.

Everything here is built from ``pyspark.sql.functions`` (JVM-side,
codegen'd — no Python UDFs) and has an exact ANSI-SQL twin that DuckDB
evaluates identically, which is what makes the driver's oracle parity
gate possible:

- ``hash64``: first 15 hex chars of md5 → int64 (60 bits, positive).
  Spark: ``conv(substr(md5(x),1,15),16,10)``; DuckDB:
  ``cast('0x'||substr(md5(x),1,15) as bigint)``.
- ``hash31``: ``hash64 % (2^31-1)`` — small enough that linear
  permutations ``(a*h+b) % (2^31-1)`` never overflow int64.
- ranks/ordering: callers must use total orderings (tie-break on the
  key) so both engines agree row-for-row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokens of the synthetic corpus treated as entity mentions by the
# deterministic wikifier (see sift_spark/corpora/synthetic.py). Fixed
# lexicon, identical in the DuckDB oracle SQL.
ENTITY_TOKENS = (
    "column",
    "customer",
    "data",
    "query",
    "row",
    "spark",
    "stream",
    "table",
    "vector",
    "window",
)

WIKI_PREFIX = "wiki/"

# Mersenne prime 2^31-1: modulus for all linear hash permutations.
MOD31 = 2147483647

STOPWORDS = ("a", "the")


def _py_h64(s: str) -> int:
    """Python twin of hash64 for generating embedded constants."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# --- MinHash-LSH constants (embedded identically in oracle SQL) ----------
MINHASH_K = 16          # permutations
MINHASH_BANDS = 4       # 4 bands × 4 rows
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
MINHASH_A = tuple(_py_h64(f"mh_a_{i}") % (MOD31 - 1) + 1 for i in range(MINHASH_K))
MINHASH_B = tuple(_py_h64(f"mh_b_{i}") % MOD31 for i in range(MINHASH_K))

# --- SimHash ---------------------------------------------------------------
SIMHASH_BITS = 32

# --- Random-hyperplane LSH for ANN ----------------------------------------
# Multi-table banding: L tables × B planes each. One table of L·B bits
# has near-zero recall for moderate-similarity neighbors; OR-ing L
# smaller signatures trades candidate volume for recall exactly like
# MinHash bands (P(cand) = 1-(1-p^B)^L with p = 1-θ/π).
LSH_TABLES = 4
LSH_BITS = 6
EMBED_DIM = 64
# LSH_PLANES is bound below once lsh_planes() is defined

# --- IVF ANN: deterministic coarse-quantizer centroids --------------------
# Fixed pseudo-random centroids (not trained k-means — determinism across
# engines matters more than cell balance for the correctness gate; a
# kmeans-trained codebook drops in by replacing this constant).
IVF_N_CELLS = 16


def _unit(vec):
    n = sum(x * x for x in vec) ** 0.5
    return tuple(x / n for x in vec)


# Unit-normalized: with raw random centroids the |c|² term dominates
# the distance argmin and every vector collapses into the smallest-
# norm cell (measured: one 2000-vector cell → quadratic candidates).
def ivf_centroids(n_cells: int) -> tuple:
    """Deterministic unit-norm coarse-quantizer codebook of any size —
    cell count is a SIZING knob, not a semantic change, so operators
    expose it (candidates per query scale with nprobe·N/n_cells: keep
    n_cells ≈ nprobe·√N for O(N^1.5) total candidate volume; a fixed
    codebook on growing data degrades quadratically — measured 244s at
    sf1 with the 16-cell default before this knob existed)."""
    return tuple(
        _unit(tuple((_py_h64(f"ivf_{c}_{d}") % 2001 - 1000) / 1000.0 for d in range(EMBED_DIM)))
        for c in range(n_cells)
    )


IVF_CENTROIDS = ivf_centroids(IVF_N_CELLS)


def lsh_planes(n_tables: int, n_bits: int) -> tuple:
    """Deterministic hyperplane tables of any shape. More bits →
    smaller buckets (bucket population ≈ N/2^bits: raise bits with
    log2(N) to hold expected bucket size constant); more tables →
    recall. The (tables, bits) defaults below are sized for the
    sf0.01 correctness corpus."""
    return tuple(
        tuple(
            tuple(
                (_py_h64(f"plane_{t}_{j}_{d}") % 2001 - 1000) / 1000.0
                for d in range(EMBED_DIM)
            )
            for j in range(n_bits)
        )
        for t in range(n_tables)
    )


LSH_PLANES = lsh_planes(LSH_TABLES, LSH_BITS)

# --- Product quantization: per-subspace codebooks -------------------------
# 64-dim vectors → PQ_M subspaces of PQ_SUB_DIM dims, PQ_K centroids
# each: a vector compresses to PQ_M 4-bit codes (4 bytes vs 256 —
# the memory story that lets a 100 TB embedding corpus keep its
# candidate set in executor RAM for ADC re-ranking). Deterministic
# pseudo-random codebooks for the cross-engine gate; k-means-trained
# codebooks drop in by replacing this constant.
PQ_M = 8
PQ_K = 16
PQ_SUB_DIM = EMBED_DIM // PQ_M
PQ_CODEBOOKS = tuple(
    tuple(
        tuple((_py_h64(f"pq_{m}_{k}_{d}") % 2001 - 1000) / 1000.0 for d in range(PQ_SUB_DIM))
        for k in range(PQ_K)
    )
    for m in range(PQ_M)
)

# --- Language-ID stopword profiles ----------------------------------------
LANG_PROFILES = (
    ("de", ("der", "die", "das", "und", "ist")),
    ("en", ("a", "the", "and", "is", "of")),
    ("es", ("el", "los", "las", "y", "es")),
    ("fr", ("le", "les", "et", "est", "une")),
    ("zh", ("de", "shi", "he", "zai", "le")),
)


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string> (no empty tokens)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


# Provenance marker for the shared tokenized-corpus artifact: the
# with_tokens / classify shortcut must only trust a ``toks`` column
# that THIS library computed as ``tokens(text)`` — keying on the bare
# column name would silently accept a caller's differently-computed
# (pre-lowercased, user-supplied) token column and produce wrong
# results with no error. Column metadata survives select/filter/
# persist, so the tag rides with the artifact wherever it flows.
# The optional DATASET tag extends this to CROSS-FRAME consistency:
# the tf-accepting fast paths (term_idfs and friends) take a posting
# table that must be derived from exactly the docs frame passed
# alongside it — a session cycling two corpora that passes corpus A's
# docs with corpus B's tf artifact would silently get full-corpus df
# over the wrong N. Both artifacts carry the dataset id they were
# minted from; check_tf_provenance raises on a mismatch.
TOKENS_PROVENANCE_KEY = "sift_spark.provenance"
TOKENS_PROVENANCE = "tokens(text)"
TF_PROVENANCE = "tf(doc_id,term)"
DATASET_KEY = "sift_spark.dataset"


def tagged_tokens(col: Column, dataset: str | None = None) -> Column:
    """``tokens(col)`` aliased to ``toks`` with the provenance tag —
    the only sanctioned way to mint the shared token artifact.
    ``dataset``: optional corpus identity (e.g. the table path) for
    the cross-frame consistency check."""
    meta = {TOKENS_PROVENANCE_KEY: TOKENS_PROVENANCE}
    if dataset is not None:
        meta[DATASET_KEY] = dataset
    return tokens(col).alias("toks", metadata=meta)


def is_token_artifact(df) -> bool:
    """True iff ``df`` carries a ``toks`` column this library minted
    via :func:`tagged_tokens` (checked by metadata, not name)."""
    if "toks" not in df.columns:
        return False
    meta = df.schema["toks"].metadata or {}
    return meta.get(TOKENS_PROVENANCE_KEY) == TOKENS_PROVENANCE


def tag_tf(df, dataset: str | None = None):
    """Stamp a (doc_id, term, tf) posting table with provenance (+
    optional dataset id) — the sanctioned way to mint the shared tf
    artifact. The tag rides on the ``tf`` column's metadata."""
    from pyspark.sql import functions as F

    meta = {TOKENS_PROVENANCE_KEY: TF_PROVENANCE}
    if dataset is not None:
        meta[DATASET_KEY] = dataset
    return df.select(
        "doc_id", "term", F.col("tf").alias("tf", metadata=meta)
    )


def artifact_dataset(df, col: str) -> str | None:
    """The dataset id a minted artifact column carries, or None."""
    if col not in df.columns:
        return None
    meta = df.schema[col].metadata or {}
    return meta.get(DATASET_KEY)


def check_tf_provenance(docs, tf, caller: str) -> None:
    """Guard for every tf-accepting fast path: the contract is that
    ``tf`` is the unigram posting table of EXACTLY ``docs``. A
    violated contract produces wrong numbers with no error (e.g.
    term_idfs computing full-corpus df over a subset N), so when BOTH
    frames carry a minted dataset id the mismatch raises loudly.
    Scope honestly stated: this catches CROSS-CORPUS mixups only —
    a filtered subset of the tagged corpus keeps its tag (metadata
    survives filters by design) and passes, as does any untagged
    user frame; both remain the caller's responsibility, as
    documented on models.text.doc_term_tf. Called only through
    :func:`guards_tf`."""
    d_docs = artifact_dataset(docs, "toks")
    d_tf = artifact_dataset(tf, "tf")
    if d_docs is not None and d_tf is not None and d_docs != d_tf:
        raise ValueError(
            f"{caller}: the tf posting table was minted from dataset "
            f"{d_tf!r} but docs carries dataset {d_docs!r} — tf must "
            "be the posting table of exactly the docs frame passed "
            "with it (rebuild it, or pass tf=None to recompute)"
        )


def guards_tf(fn):
    """Decorator applying :func:`check_tf_provenance` to every
    (docs, ..., tf=...) fast-path entry point — the tf contract (tf
    is the posting table of exactly docs) is enforced once, at the
    signature, instead of re-implemented per operator."""
    import functools
    import inspect

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        tf = bound.arguments.get("tf")
        docs = bound.arguments.get("docs")
        if tf is not None and docs is not None:
            check_tf_provenance(docs, tf, fn.__name__)
        return fn(*args, **kwargs)

    return wrapper


def hash64(col: Column) -> Column:
    """Deterministic 60-bit positive int64 hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash31(col: Column) -> Column:
    """hash64 reduced into [0, 2^31-1) for overflow-safe linear perms."""
    return hash64(col) % F.lit(MOD31)


def sql_hash64(expr: str) -> str:
    """DuckDB twin of :func:`hash64` (takes a SQL expression string)."""
    return f"cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint)"


def sql_entity_set() -> str:
    """SQL literal list of the entity lexicon."""
    return "(" + ", ".join(f"'{t}'" for t in ENTITY_TOKENS) + ")"
