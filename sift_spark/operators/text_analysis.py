"""Text analysis operators: language-ID, quality scoring, token
statistics, document fingerprinting.

All pure built-in expressions (token explode + hash aggregates); each
has an exact DuckDB oracle twin. These run per-document with no
cross-document state, so they scale embarrassingly (map-side only,
except the small explode→agg for per-doc stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import pandas as pd  # driver-side: pandas_udf type-hint resolution (bpe_encode)

from sift_spark.caching import local_persist
from sift_spark.functions.core import (
    LANG_PROFILES,
    MOD31,
    STOPWORDS,
    guards_tf,
    hash31,
    tokens,
)


def lang_id(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-profile language classifier:
    (doc_id, lang_pred, score). Score = fraction of tokens in the
    language's stopword list; ties break toward the alphabetically
    first language (stable cross-engine).

    ``keep``: extra input columns carried through the (entirely
    map-side) projection — lets an evaluation like
    :func:`lang_confusion` read prediction and ground truth in ONE
    scan instead of re-joining the corpus on doc_id."""
    from sift_spark.models.text import tokens_col

    # one MAP-SIDE scan: every language's score is a filtered-size /
    # size over the token array — no explode, no shuffle at all (the
    # stopword-hit fraction is the same IEEE k/n division either way);
    # reads the session token artifact when the frame carries it
    toks = docs.select("doc_id", *keep, tokens_col(docs).alias("toks")).where(
        F.size("toks") > 0  # explode dropped token-less docs; keep that
    )
    n_toks = F.size("toks")

    def _hit(words):
        # factory, NOT a default-arg lambda: a two-parameter lambda
        # would make PySpark pass (element, index) instead of (element)
        ws = tuple(words)
        return lambda t: t.isin(*ws)

    scored = toks.select(
        "doc_id",
        *keep,
        *[
            F.round(F.size(F.filter("toks", _hit(words))) / n_toks, 6).alias(
                f"s_{lang}"
            )
            for lang, words in LANG_PROFILES
        ],
    )
    # argmax with tie-break toward the alphabetically first language:
    # greatest() on structs compares score, then -index (LANG_PROFILES
    # is sorted by language, so max(-index) = min(lang))
    pick = F.greatest(
        *[
            F.struct(
                F.col(f"s_{lang}").alias("score"),
                F.lit(-i).alias("ni"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, _) in enumerate(LANG_PROFILES)
        ]
    )
    return scored.select(
        "doc_id", *keep, pick["lang"].alias("lang_pred"), pick["score"].alias("score")
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score per document:
    (doc_id, n_tokens, distinct_ratio, stopword_ratio, mean_tok_len,
    score). Composite = distinct_ratio − stopword_ratio +
    min(n_tokens, 200)/200, rounded.

    Entirely MAP-SIDE: ratios come from array ops over the token
    array (``array_distinct``/``filter`` sizes, a length fold), not an
    explode + doc-keyed re-aggregate — the corpus never shuffles.
    Values are bit-identical to the exploded form: k/n is the same
    IEEE division, and token lengths sum exactly in both long and
    double arithmetic (every corpus is far below 2^53 chars/doc)."""
    from sift_spark.models.text import tokens_col

    toks = docs.select("doc_id", tokens_col(docs).alias("toks")).where(
        F.size("toks") > 0  # explode dropped token-less docs; keep that
    )
    n_toks = F.size("toks")
    len_sum = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    feats = toks.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),  # count() emitted long; keep the schema
        F.round(F.size(F.array_distinct("toks")) / n_toks, 6).alias("distinct_ratio"),
        F.round(
            F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS))) / n_toks, 6
        ).alias("stopword_ratio"),
        F.round(len_sum / n_toks, 6).alias("mean_tok_len"),
    )
    return feats.withColumn(
        "score",
        F.round(
            F.col("distinct_ratio")
            - F.col("stopword_ratio")
            + F.least(F.col("n_tokens"), F.lit(200)) / 200.0,
            6,
        ),
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, characters, and a BPE-ish
    subword estimate (Σ ceil(len(token)/4) — ~4 chars per merge-built
    subword): (doc_id, n_tokens, n_chars, n_subwords).

    MAP-SIDE: the per-doc sums fold over the token array instead of
    exploding + re-aggregating — no shuffle, identical integer values."""
    from sift_spark.models.text import tokens_col

    toks = docs.select(
        "doc_id", F.length("text").alias("n_chars"), tokens_col(docs).alias("toks")
    ).where(F.size("toks") > 0)  # explode dropped token-less docs; keep that
    return toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        "n_chars",
        F.aggregate(
            "toks",
            F.lit(0).cast("long"),
            lambda a, t: a + F.ceil(F.length(t) / 4.0),
        ).alias("n_subwords"),
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k of (doc_id, score) as orderBy+limit — planned as
    TakeOrderedAndProject (per-partition top-k, then one k·P-row
    merge) instead of a single-partition row_number window over every
    candidate row. rank is assigned after the limit, over k rows only.
    """
    from pyspark.sql import Window

    topk = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return topk.withColumn("rank", F.row_number().over(w))


def _tfidf_weights(docs: DataFrame, min_df: int, tf: DataFrame | None) -> DataFrame:
    """The tf-idf weight table (doc_id, term, w = sqrt(tf)·idf) over the
    posting table ``tf`` (built here when None, see
    models.text.doc_term_tf); terms with df <= ``min_df`` have no idf
    and drop out."""
    from pyspark.sql import Window

    from sift_spark.models.text import doc_term_tf, term_idfs, with_idf

    if tf is None:
        # a fresh posting table takes df from a per-term window over
        # itself: joining term_idfs would aggregate the postings a
        # second time (its df branch prunes tf, so AQE reuses no
        # exchange between the two)
        tf = doc_term_tf(docs).withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        weighted = with_idf(tf.where(F.col("df") > min_df), docs)
    else:
        weighted = tf.join(term_idfs(docs, min_df=min_df, tf=tf), "term")
    return weighted.select("doc_id", "term", (F.sqrt(F.col("tf")) * F.col("idf")).alias("w"))


def _top_terms(w: DataFrame, k: int) -> DataFrame:
    """(doc_id, term): each doc's ``k`` heaviest terms of a
    :func:`_tfidf_weights` table, ranked (w desc, term asc). The rank
    window partitions by doc_id on post-aggregation rows."""
    from pyspark.sql import Window

    rk = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), F.col("term").asc())
    return (
        w.withColumn("rn", F.row_number().over(rk))
        .where(F.col("rn") <= k)
        .select("doc_id", "term")
    )


@guards_tf
def tfidf_search(docs: DataFrame, query_terms: tuple[str, ...], k: int = 10,
                 min_df: int = 2, tf: DataFrame | None = None) -> DataFrame:
    """TF-IDF ranked document search: score = Σ_q sqrt(tf)·idf over
    the query terms, L2-normalized by the document's full tf-idf
    vector (cosine against a binary query vector, up to the query
    norm constant). Top-k by (score desc, doc_id asc).

    Plan shape: doc-term tf (one shuffle), idf broadcast join, per-doc
    norm from the full vector, query-term filter before the final
    top-k — no full-corpus sort, just one aggregation + window.

    ``tf``: optional posting table (see models.text.doc_term_tf)."""
    w = local_persist(_tfidf_weights(docs, min_df, tf))  # norm + query-score consumers race
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    qscore = (
        w.where(F.col("term").isin(*query_terms))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("qw"))
    )
    # a document whose every term has idf 0 (df = N) has norm 0 — it
    # carries no ranking signal and the division would throw in ANSI
    # mode, so such docs are dropped (mirrored in the oracle)
    scored = qscore.join(norms, "doc_id").where(F.col("norm") != 0).select(
        "doc_id", F.round(F.col("qw") / F.col("norm"), 6).alias("score")
    )
    return _ranked_topk(scored, k)


def bm25_search(docs: DataFrame, query_terms: tuple[str, ...], k: int = 10,
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25-ranked document search: (doc_id, score, rank) top-k.

    score = Σ_q idf_q · tf/(tf + k1·(1 − b + b·len/avglen)) with the
    Robertson idf ln((N−df+0.5)/(df+0.5) + 1).

    Unlike tf-idf search (which needs the full-vector norm), BM25
    needs only the document LENGTH besides the query terms — so the
    term filter pushes all the way to the token explode and the big
    tf aggregation runs on query-term rows only. Doc lengths are a
    map-side size(); N and avglen ride a 1-row broadcast."""
    from sift_spark.models.text import doc_term_tf, with_tokens

    lens = with_tokens(docs).select("doc_id", F.size("toks").alias("dl"))
    # Catalyst pushes the term filter below the (doc_id, term) count
    qtf = local_persist(  # df + scored consumers would each re-run the explode
        doc_term_tf(docs).where(F.col("term").isin(*query_terms))
    )
    df = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    totals = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avg_dl")
    )
    scored = (
        qtf.join(F.broadcast(df), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * F.col("tf")
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avg_dl")))
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    return _ranked_topk(scored, k)


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-contamination screen for training corpora: per doc,
    the fraction of its distinct token n-gram shingles that appear
    anywhere in the benchmark (eval) set.

    Output: (doc_id, n_shingles, n_contaminated, contamination).

    Scale shape: eval sets are tiny relative to the corpus, so the
    benchmark shingle set is broadcast and the hit-test is a
    broadcast LEFT join carrying a hit marker — the 100 TB side never
    shuffles, and BOTH counts (total and contaminated) come out of
    ONE conditional aggregate on doc_id, so the corpus shingle table
    is scanned once, with no persist and no doc⋈doc join. (The
    earlier size-agg + semi-join + join shape cost two aggregates
    plus a join and a cache build — measured 9.1s vs DuckDB's 1.2s at
    sf1.) ``sh``: optional pre-materialized ``shingles(docs, n)``.
    """
    from sift_spark.operators.dedup import shingles

    doc_sh = (shingles(docs, n) if sh is None else sh).select("doc_id", "shingle")
    bench_sh = (
        shingles(benchmark, n).select("shingle").distinct().withColumn("hit", F.lit(1))
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination", F.round(F.col("n_contaminated") / F.col("n_shingles"), 6)
        )
    )


PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing: redact emails, phone numbers, and IPv4 literals
    to ``[TYPE]`` tokens, with per-type match counts.

    Sequential redaction (email → phone → ipv4), each pattern applied
    to the previous pattern's output so overlapping matches are
    attributed once. Pure ``regexp_replace``/``regexp_count``
    expressions — map-side only, no shuffle, codegen-friendly."""
    out = docs
    clean = F.col(text_col)
    for name, pat in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(clean, F.lit(pat)))
        clean = F.regexp_replace(clean, pat, f"[{name.upper()}]")
    return out.withColumn("clean_text", clean).drop(text_col)


@guards_tf
def unigram_logprob(docs: DataFrame, tf: DataFrame | None = None) -> DataFrame:
    """Corpus-unigram LM score per document: avg ln p(token), with
    p = corpus tf / total tokens — a cheap proxy for model-based
    quality filtering (low score = rare/garbled text):
    (doc_id, avg_logprob).

    One lazy plan: the scalar total rides in via a crossJoin of a
    1-row aggregate (no driver action); the term-probability table is
    vocab-sized, so the join back to the token stream is hash-keyed
    on the term and broadcastable for bounded vocabularies.

    Everything runs on posting rows (``tf``: optional posting table,
    see models.text.doc_term_tf): integer-exact re-aggregates plus one
    posting-sized score join. The per-doc average is the WEIGHTED
    form Σ tf·lp / Σ tf (also in the oracle), so the score join
    carries one row per (doc, term) instead of one per token — same
    value as the per-token average up to float summation order,
    which the 6dp edge rounding absorbs."""
    from sift_spark.models.text import doc_term_tf

    if tf is None:
        tf = doc_term_tf(docs)
    ctf = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = ctf.agg(F.sum("ctf").alias("t"))
    p = ctf.crossJoin(F.broadcast(total)).select(
        "term", F.log(F.col("ctf") / F.col("t")).alias("lp")
    )
    return (
        tf.join(p, "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("tf") * F.col("lp")) / F.sum("tf"), 6).alias(
                "avg_logprob"
            )
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition features per document:
    (doc_id, n_tokens, top_token_share, dup_2gram_share).

    top_token_share = count of the most frequent token / n_tokens
    (boilerplate/spam indicator); dup_2gram_share = 1 − distinct
    bigrams / total bigrams (0.0 for docs with < 2 tokens).

    Entirely MAP-SIDE (no shuffle at all): the max token frequency is
    the longest equal-run in the doc's SORTED token array — an exact
    integer fold — and bigram distinctness is an ``array_distinct``
    size over the bigram array. Replaces two corpus-wide exploded
    re-aggregates with per-doc array kernels; integer values are
    identical, so the DuckDB oracle is unchanged."""
    from sift_spark.models.text import with_tokens, word_ngrams

    t = with_tokens(docs).where(F.size("toks") > 0)

    def run_step(acc, tok):
        run = F.when(tok == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            tok.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    max_tf = F.aggregate(
        F.array_sort("toks"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        run_step,
        lambda acc: acc["best"],
    )
    n_toks = F.size("toks")
    bi = word_ngrams(F.col("toks"), 2, 2)
    return t.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),
        F.round(max_tf / n_toks, 6).alias("top_token_share"),
        F.round(
            F.when(F.size(bi) == 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct(bi)) / F.size(bi)
            ),
            6,
        ).alias("dup_2gram_share"),
    )


def doc_entropy(docs: DataFrame) -> DataFrame:
    """Token-distribution Shannon entropy per document:
    (doc_id, n_tokens, entropy) with entropy = ln n − Σ c·ln c / n
    over per-doc token counts c (nats). Low entropy = repetitive/
    boilerplate text; pairs with ``repetition_stats`` as a
    Gopher-style filter signal.

    Two keyed aggregations, both on doc-local keys (the posting
    table's (doc_id, term), then doc_id) — no corpus-wide state, so
    it scales with the scan."""
    from sift_spark.models.text import doc_term_tf

    return doc_term_tf(docs).groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.round(
            F.log(F.sum("tf")) - F.sum(F.col("tf") * F.log("tf")) / F.sum("tf"), 6
        ).alias("entropy"),
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-bigram LM score per document: avg ln p(w2|w1) with
    p = c(w1,w2) / c(w1 as bigram head), over the doc's adjacent
    bigrams — the natural next step up from ``unigram_logprob`` as a
    model-based quality-filter proxy: (doc_id, avg_bigram_logprob).
    Docs with < 2 tokens have no bigrams and drop out (same rows as
    the SQL twin).

    Shape: TWO corpus passes — the bigram-count aggregate and the
    per-doc score join (it previously ran the tokenize+explode three
    times, with head counts as their own corpus aggregate; measured
    6.2s vs DuckDB 1.3s at sf1). Head counts are derived from the
    bigram table itself (c1 = Σ_w2 c12 — exact integer arithmetic);
    the score join hashes on the pair key. The
    conditional-probability table is bounded by corpus bigram
    diversity (Zipf-bounded far below N²) — AQE splits the skewed
    head keys."""
    from sift_spark.models.text import with_tokens

    t = with_tokens(docs).where(F.size("toks") >= 2)
    pairs = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # the PAIR STREAM is deliberately NOT persisted: caching the
    # token-count-sized explode was measured SLOWER than one extra
    # tokenize pass at sf1 (the cache write costs more than the regex
    # split it saves) and it crowds executor storage for the rest of
    # the session. Two corpus passes total: the bigram counts and the
    # score join; head counts are derived, never a third pass.
    big = local_persist(  # two consumers (lp join + head agg) race a lazy cache
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    head = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lp = big.join(head, "w1").select(
        "w1", "w2", F.log(F.col("c12") / F.col("c1")).alias("lp")
    )
    return (
        pairs.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.round(F.avg("lp"), 6).alias("avg_bigram_logprob"))
    )


def bpe_pair_counts(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """First BPE merge round: corpus-weighted adjacent character-pair
    counts over the token vocabulary — (pair, n) for pairs seen ≥
    ``min_count`` times, n = Σ token_tf over each occurrence inside
    the token (multiplicity counts: "aaa" contributes "aa" twice).
    This is the count table a BPE tokenizer trainer consumes to pick
    its first merge.

    Shape: token tf (one corpus shuffle), then the pair explode runs
    on the *vocabulary* (distinct tokens), not the corpus — the heavy
    side is the tf aggregate; everything after is vocab-sized. Pairs
    are 2-char substrings (no char-array materialization)."""
    from sift_spark.models.text import tokens_col

    tok = docs.select(F.explode(tokens_col(docs)).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    prs = tf.where(F.length("tok") >= 2).select(
        "tf",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        prs.groupBy("pair")
        .agg(F.sum("tf").alias("n"))
        .where(F.col("n") >= min_count)
    )


def filtered_corpus(
    docs: DataFrame,
    min_tokens: int = 10,
    min_score: float = 0.5,
    max_dup_2gram: float = 0.5,
) -> DataFrame:
    """End-to-end training-corpus filter — the composition a real
    pre-training data pipeline runs: exact dedup (keep lowest doc_id
    per identical text) → length floor → heuristic-quality floor
    (``quality_score``) → repetition ceiling (``repetition_stats``
    dup-bigram share). Output (doc_id, n_tokens, score) of the
    surviving documents.

    Each stage's semantics is a [q]-checked operator
    (:func:`quality_score`, :func:`repetition_stats`, ``dedup_exact``)
    — and since both feature stages are MAP-SIDE array kernels, the
    whole pipeline is ONE projection over the dedup output: a single
    corpus scan, one shuffle total (the dedup window on the text
    hash), no persist, no join. (The earlier persist-the-dedup + join
    form thrashed the cache at sf1 in a default-heap session — raw
    text is the one thing a 100 TB pipeline never caches.)

    BATCH-ONLY / fault-tolerance tradeoff: the pushdown barrier is a
    lazy lineage cut (default ``localCheckpoint``), which truncates
    lineage and stores unreplicated blocks — on a multi-executor
    cluster an executor loss mid-job fails the job (resubmit rather
    than recompute), and a streaming DataFrame is rejected outright.
    That is deliberate: the feature table is the ~30-byte/doc
    artifact a production pipeline writes to durable storage anyway
    (then filters read the parquet back, giving both the barrier and
    fault tolerance); the in-session checkpoint is the
    test/interactive form, and ``spark.sift.checkpoint=reliable``
    switches it to an executor-loss-tolerant reliable checkpoint. A
    plain persist() would keep lineage but re-derives the corpus scan
    per lost partition and pins the cache for the session."""
    from sift_spark.models.text import with_tokens
    from sift_spark.operators.dedup import dedup_exact

    t = with_tokens(dedup_exact(docs)).where(F.size("toks") > 0)
    n_toks = F.size("toks")
    # identical expressions (and 6dp rounding points) to
    # quality_score / repetition_stats — the oracle composes the same
    dr = F.round(F.size(F.array_distinct("toks")) / n_toks, 6)
    sr = F.round(F.size(F.filter("toks", lambda tk: tk.isin(*STOPWORDS))) / n_toks, 6)
    score = F.round(dr - sr + F.least(n_toks, F.lit(200)) / 200.0, 6)
    from sift_spark.models.text import word_ngrams

    bi = word_ngrams(F.col("toks"), 2, 2)
    dup2 = F.round(
        F.when(F.size(bi) == 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(bi)) / F.size(bi)
        ),
        6,
    )
    feats = t.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),
        score.alias("score"),
        dup2.alias("dup_2gram_share"),
    )
    # lineage barrier: predicate pushdown would substitute the full
    # tokenize/bigram expressions into EACH filter conjunct (measured
    # 2.5s → 25s at sf1 — the filter re-evaluates the corpus scan per
    # condition). The lazy cut materializes the 4-column feature
    # table once (~30 bytes/doc — the artifact a real pipeline writes
    # anyway) and filters read it back: 1.8s at sf1. Honors
    # ``spark.sift.checkpoint=reliable`` (functions.lineage).
    from sift_spark.functions.lineage import cut

    return (
        cut(feats)
        .where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("score") >= min_score)
            & (F.col("dup_2gram_share") <= max_dup_2gram)
        )
        .select("doc_id", "n_tokens", "score")
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Classifier-evaluation confusion matrix for ``lang_id`` against
    the corpus ground-truth ``lang`` column: (lang, lang_pred,
    n_docs). One map-side scan (ground truth rides through the
    classifier projection); the confusion matrix itself is k²-row."""
    # prediction and ground truth come out of the SAME map-side scan
    # (lang_id keep=): no corpus re-join on doc_id — the only shuffle
    # is the k²-row confusion aggregate itself
    return (
        lang_id(docs, keep=("lang",))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def corpus_mix_report(docs: DataFrame) -> DataFrame:
    """Data-mix dashboard for training-corpus curation: per
    (source, lang) document count, total token count, and mean doc
    length — (source, lang, n_docs, n_tokens, avg_chars). Pure
    map-side feature extraction then one tiny keyed aggregate; runs
    at scan throughput on any corpus size."""
    t = docs.select(
        "source",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        F.length("text").alias("len_chars"),
    )
    return t.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.round(F.avg("len_chars"), 6).alias("avg_chars"),
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Position-sensitive rolling-hash fingerprint:
    fp = Σ_pos (h31(token)·((pos mod 64)+1) mod P) mod P, P=2^31-1.
    (doc_id, fingerprint). Order-sensitive (token swaps change it),
    bounded arithmetic (no overflow in int64 partial sums)."""
    tok = docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    term = (hash31(F.col("tok")) * ((F.col("pos") % 64) + 1)) % F.lit(MOD31)
    return (
        tok.select("doc_id", term.alias("t"))
        .groupBy("doc_id")
        .agg((F.sum("t") % F.lit(MOD31)).alias("fingerprint"))
    )


def doc_chunks(docs: DataFrame, window: int = 50, stride: int = 40) -> DataFrame:
    """Fixed-token-window chunking with overlap — the standard
    pre-training export step (context windows from long documents):
    (doc_id, chunk_id, chunk_text, n_chunk_tokens).

    Chunk i covers tokens [i·stride, i·stride+window); the last chunk
    may be short. Entirely map-side (tokenize → per-doc sequence
    explode → slice); no shuffle, so it scales with the scan. The
    token array is materialized into a column first (HOF-lambda rule,
    see SURVEY §6)."""
    from sift_spark.models.text import with_tokens

    t = with_tokens(docs).withColumn("n", F.size("toks"))
    n_chunks = F.when(F.col("n") <= window, F.lit(1)).otherwise(
        F.ceil((F.col("n") - window) / F.lit(float(stride))) + 1
    )
    c = t.select(
        "doc_id", "toks", "n",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    return c.select(
        "doc_id",
        "chunk_id",
        F.array_join(F.slice("toks", start + 1, F.lit(window)), " ").alias("chunk_text"),
        F.least(F.lit(window), F.col("n") - start).cast("int").alias("n_chunk_tokens"),
    )


@guards_tf
def term_collocations(docs: DataFrame, min_count: int = 5,
                      tf: DataFrame | None = None) -> DataFrame:
    """Adjacent-bigram collocations ranked by pointwise mutual
    information: (w1, w2, n_pair, pmi) for pairs seen ≥ ``min_count``
    times. pmi = ln((c_xy/B) / ((c_x/T)·(c_y/T))) with T total tokens,
    B total bigrams.

    Shape: two shuffles on natural keys (unigram counts, bigram
    counts); the scalar totals ride a 1-row broadcast crossJoin (no
    action); the two unigram-count joins shuffle on the word — at
    corpus scale the unigram table is Zipf-skewed, which AQE skew
    handling splits.

    ``tf``: optional posting table (see models.text.doc_term_tf) — the
    unigram counts and the token total become integer re-aggregates
    of it (Σ tf: exactly the explode's integers), so only the bigram
    pass reads the token stream. Without it the unigrams are counted
    straight from the token stream: one term-keyed shuffle, where
    building postings first would add a (doc_id, term) one."""
    from sift_spark.models.text import with_tokens

    t = with_tokens(docs)
    tok = t.select(F.explode("toks").alias("w"))
    if tf is not None:
        uni = tf.groupBy("term").agg(F.sum("tf").alias("c")).select(
            F.col("term").alias("w"), "c"
        )
    else:
        uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # bigram pairs: per-gram element_at lookups (no array copy per gram)
    pairs = t.where(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")).where(
        F.col("n_pair") >= min_count
    )
    t_tokens = (
        uni.agg(F.sum("c").alias("t_tokens"))
        if tf is not None
        else tok.agg(F.count(F.lit(1)).alias("t_tokens"))
    )
    totals = t_tokens.crossJoin(pairs.agg(F.count(F.lit(1)).alias("t_bigrams")))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("t_bigrams"))
                    / ((F.col("c1") / F.col("t_tokens")) * (F.col("c2") / F.col("t_tokens")))
                ),
                6,
            ).alias("pmi"),
        )
    )


@guards_tf
def doc_top_terms(docs: DataFrame, k: int = 3, min_df: int = 2,
                  tf: DataFrame | None = None) -> DataFrame:
    """Per-document top-k tf-idf terms as a sorted CSV column
    (doc_id, top_terms): terms ranked by weight desc then term asc —
    the per-doc profile a search/labeling pipeline exports.

    ``tf``: optional posting table (see models.text.doc_term_tf)."""
    return _top_terms(_tfidf_weights(docs, min_df, tf), k).groupBy("doc_id").agg(
        F.array_join(F.sort_array(F.collect_list("term")), ",").alias("top_terms")
    )


def text_normalize(docs: DataFrame) -> DataFrame:
    """Canonical text normalization for dedup/training exports:
    lowercase, strip non-alphanumeric to spaces, collapse whitespace,
    trim — (doc_id, norm_text, n_norm_tokens). Pure map-side regexp
    expressions (whole-stage codegen; zero shuffles — this runs at
    scan throughput on any corpus size)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " "),
            r" +", " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.when(norm == "", 0).otherwise(F.size(F.split(norm, " "))).cast("int").alias("n_norm_tokens"),
    )


def bpe_train(docs: DataFrame, n_merges: int = 10, min_count: int = 2,
              collect_vocab_max: int = 1_000_000) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016):
    iteratively merge the most frequent adjacent symbol pair. Returns
    the merge table — (merge_rank, left, right, merged, n) — which IS
    a trained BPE tokenizer (apply merges in rank order to encode).

    Scale shape (the standard trick): training runs over the DISTINCT
    token vocabulary weighted by corpus frequency, so the corpus is
    touched exactly once (the tf aggregate); every merge round is
    vocab-sized. Per round: adjacent-pair weighted count (one
    vocab-sized shuffle), a 1-row driver argmax (count desc, pair asc
    tie-break — the merge table lives on the driver in every BPE
    trainer), and a map-side fold that applies the merge
    left-to-right. The fold is a built-in ``aggregate`` HOF — no
    Python in the loop; ``localCheckpoint`` per round keeps plans
    flat (same lesson as ``duplicate_clusters``).
    """
    from sift_spark.models.text import tokens_col

    tok = docs.select(F.explode(tokens_col(docs)).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))

    # Fast path: the merge loop needs only the word-frequency DICT,
    # which is sublinear in corpus size (a 100 TB corpus still has a
    # ~1e6-1e7 word vocabulary). When it fits under
    # ``collect_vocab_max`` rows, run the loop driver-side exactly the
    # way every deployed tokenizer trainer does — the corpus is still
    # aggregated distributed (one shuffle), but the 10 sequential
    # vocab-sized Spark jobs collapse to local Python (measured
    # 8s → <1s at sf0.1). Identical merges/tie-breaks to the
    # distributed loop (same reference-equality test covers both);
    # pass collect_vocab_max=0 to force the distributed path for
    # unbounded vocabularies.
    # ONE corpus aggregate: limit(max+1) both gates the fast path and
    # fetches the vocab — exactly collect_vocab_max+1 rows cross the
    # driver boundary in the worst case (a separate count() gate would
    # run the corpus-sized tf aggregate twice)
    # r12: Arrow transfer for the vocab fetch — collect() pickles Row
    # objects one by one; toArrow moves the same (string, long) columns
    # as two Arrow buffers. Identical values, measured ~3× faster on
    # vocab-sized fetches.
    if collect_vocab_max:
        tbl = tf.limit(collect_vocab_max + 1).toArrow()
        n_rows = tbl.num_rows
    else:
        tbl, n_rows = None, 0
    if collect_vocab_max and n_rows <= collect_vocab_max:
        vocab = dict(
            zip(tbl.column("tok").to_pylist(), tbl.column("tf").to_pylist())
        )
        words = {w: (list(w), c) for w, c in vocab.items()}
        merges = []
        for rank in range(n_merges):
            pc: dict = {}
            for syms, c in words.values():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] = pc.get((a, b), 0) + c
            pc = {p: n for p, n in pc.items() if n >= min_count}
            if not pc:
                break
            (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, left, right, left + right, int(n)))
            for w, (syms, c) in words.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                words[w] = (out, c)
        return docs.sparkSession.createDataFrame(
            merges, "merge_rank int, left string, right string, merged string, n bigint"
        )

    # symbols start as single characters (split keeps a trailing empty
    # match at end-of-string — filter it). Each round's words frame is
    # persisted, NOT checkpointed: the pair-count aggregation is a
    # full scan, so the cache materializes completely under that one
    # action (a limit() probe would only fill some partitions — the
    # partial-cache trap documented at ``duplicate_clusters``), and
    # each round costs exactly ONE job. The previous round's cache is
    # dropped once its child is materialized; 8 rounds of one-select
    # lineage keeps Catalyst re-analysis trivial.
    words = tf.select(
        "tf",
        F.filter(
            F.split(F.col("tok"), "(?!^)"), lambda s: s != F.lit("")
        ).alias("syms"),
    ).persist()

    merges = []
    prev = None
    for rank in range(n_merges):
        pairs = (
            words.where(F.size("syms") >= 2)
            .select(
                "tf",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("tf").alias("n"))
            .where(F.col("n") >= min_count)
        )
        top = pairs.orderBy(
            F.col("n").desc(), F.col("p.l").asc(), F.col("p.r").asc()
        ).limit(1).collect()
        # the count action above fully materialized ``words``'s cache,
        # so the previous round's cache can go now — not earlier, or
        # this round would recompute through the whole fold lineage
        if prev is not None:
            prev.unpersist()
        if not top:
            break
        left, right, n = top[0]["p"]["l"], top[0]["p"]["r"], top[0]["n"]
        merged = left + right
        merges.append((rank, left, right, merged, n))
        prev = words
        # left-to-right merge fold: built-in aggregate HOF, map-side
        words = words.select(
            "tf",
            F.aggregate(
                "syms",
                F.expr("cast(array() as array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (x == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
        ).persist()

    words.unpersist()
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, merged string, n bigint"
    )


def bpe_encode(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply a trained BPE merge table (``bpe_train`` output) to the
    corpus: (doc_id, n_tokens, n_pieces, pieces_text) where
    pieces_text joins each token's sub-word pieces with '·' between
    pieces and ' ' between tokens.

    Scale shape mirrors training's distinct-vocab trick: the merge
    fold runs over the DISTINCT token vocabulary, not the corpus;
    the corpus is then rejoined to the encoded vocab on the token key
    (broadcast when the vocab is small, keyed shuffle otherwise —
    Spark's planner decides from stats). The merge table itself is
    driver-resident — that is what a deployed tokenizer is; it is
    bounded by the merge count, not the data.

    r12 (guide §4.2): the fold is ONE Arrow-vectorized pandas UDF
    applying the driver-resident merge list per vocab batch, replacing
    n_merges NESTED ``aggregate`` HOF expressions whose Catalyst tree
    grew (and was re-analyzed) per merge — the Python loop is
    bit-equivalent to the HOF fold (property-fuzzed in
    tests/test_bpe_encode_r12.py: with merged = left+right and
    right non-empty, a just-merged symbol can never equal ``left``,
    so the greedy left-to-right skip-2 scan and the accumulator fold
    produce identical piece sequences), and the UDF runs over the
    vocab, never the corpus."""
    from pyspark.sql.types import ArrayType, StringType

    from sift_spark.models.text import tokens_col, with_tokens

    ranked = [
        (r["left"], r["right"], r["merged"])
        for r in merges.orderBy("merge_rank").collect()
    ]

    @F.pandas_udf(ArrayType(StringType()))
    def _encode(toks: pd.Series) -> pd.Series:
        def enc(tok):
            syms = list(tok)
            for left, right, merged in ranked:
                out, i, ln = [], 0, len(syms)
                while i < ln:
                    if i + 1 < ln and syms[i] == left and syms[i + 1] == right:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        return toks.map(enc)

    vocab = docs.select(F.explode(tokens_col(docs)).alias("tok")).distinct()
    encoded = vocab.select("tok", _encode("tok").alias("pieces"))
    tok = with_tokens(docs).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    return (
        tok.join(encoded, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.size("pieces")).alias("n_pieces"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", F.array_join("pieces", "·").alias("p")))
                    ),
                    lambda s: s["p"],
                ),
                " ",
            ).alias("pieces_text"),
        )
    )


# the Gopher paper's repetition-independent quality-rule stopword set
# (Rae et al. 2021, §A1.1: a document must contain >=2 of these)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame, min_words: int = 50, max_words: int = 100_000,
                 min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                 max_symbol_frac: float = 0.1, min_alpha_frac: float = 0.8,
                 min_stop_distinct: int = 1) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021 §A1.1, the
    pre-training data quality rules most corpora start from):
    per-document rule features plus the pass verdict.

    Output (doc_id, n_words, mean_word_len, symbol_word_frac,
    alpha_word_frac, n_stop_distinct, passes):

    - ``mean_word_len`` ∈ [min_mean_len, max_mean_len]
    - word count ∈ [min_words, max_words]
    - ``symbol_word_frac`` (words containing '#' or '...')
      ≤ max_symbol_frac
    - ``alpha_word_frac`` (words with an alphabetic char)
      ≥ min_alpha_frac
    - ≥ ``min_stop_distinct`` distinct Gopher stopwords present
      (the paper uses 2; the synthetic corpus carries at most 1)

    Entirely MAP-SIDE array kernels over the token array (the §6.5
    pattern): no explode, no shuffle — a pure projection the scan
    fuses with, which is exactly what a 100 TB rule-filter pass must
    be. All ratios are k/n integer divisions rounded at 6dp, so the
    DuckDB oracle agrees bit-for-bit."""
    from sift_spark.models.text import tokens_col

    # artifact-aware (r11): reuses the session token artifact when the
    # caller passes it (the composed pipeline does) — identical values
    # either way, tokens() is the fallback
    toks = docs.select("doc_id", tokens_col(docs).alias("toks")).where(
        F.size("toks") > 0
    )
    n = F.size("toks")
    mean_len = F.round(
        F.aggregate("toks", F.lit(0).cast("long"), lambda a, t: a + F.length(t)) / n,
        6,
    )
    symbol_frac = F.round(
        F.size(F.filter("toks", lambda t: t.contains("#") | t.contains("..."))) / n, 6
    )
    alpha_frac = F.round(
        F.size(F.filter("toks", lambda t: t.rlike("[a-z]"))) / n, 6
    )
    n_stop = F.size(
        F.filter(F.array_distinct("toks"), lambda t: t.isin(*GOPHER_STOPWORDS))
    ).cast("long")
    out = toks.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_frac.alias("symbol_word_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stop_distinct"),
    )
    return out.withColumn(
        "passes",
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_len, max_mean_len)
        & (F.col("symbol_word_frac") <= max_symbol_frac)
        & (F.col("alpha_word_frac") >= min_alpha_frac)
        & (F.col("n_stop_distinct") >= min_stop_distinct),
    )


def gopher_repetition(docs: DataFrame, max_top2: float = 0.20,
                      max_top3: float = 0.18, max_top4: float = 0.16,
                      max_dup5: float = 0.15) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 §A1.1, the
    n-gram-repetition half of the filter; :func:`gopher_rules` is the
    other half): per document, the token-mass fraction of the most
    frequent {2,3,4}-gram and of duplicated 5-grams, plus the pass
    verdict.

    top_{n}gram_frac = (count of the most frequent n-gram) · n /
    n_tokens; dup_5gram_frac = (n_5grams − distinct) · 5 / n_tokens,
    capped at 1. (The paper measures character mass; token mass is the
    deterministic rational-arithmetic analog — same monotonicity,
    exact cross-engine equality.)

    Entirely MAP-SIDE: each max-count is the longest equal-run in the
    doc's SORTED n-gram array (the §6.5 exact integer fold), the dup
    mass an ``array_distinct`` size — no explode, no shuffle.

    Output (doc_id, n_tokens, top_2gram_frac, top_3gram_frac,
    top_4gram_frac, dup_5gram_frac, passes)."""
    from sift_spark.models.text import with_tokens, word_ngrams

    t = with_tokens(docs).where(F.size("toks") > 0)
    n = F.size("toks")

    def run_step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            g.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    def max_count(k):
        return F.aggregate(
            F.array_sort(word_ngrams(F.col("toks"), k, k)),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
            ),
            run_step,
            lambda acc: acc["best"],
        )

    def top_frac(k):
        return F.round(F.least(max_count(k) * k / n, F.lit(1.0)), 6)

    g5 = word_ngrams(F.col("toks"), 5, 5)
    dup5 = F.round(
        F.least((F.size(g5) - F.size(F.array_distinct(g5))) * 5 / n, F.lit(1.0)), 6
    )
    out = t.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        top_frac(2).alias("top_2gram_frac"),
        top_frac(3).alias("top_3gram_frac"),
        top_frac(4).alias("top_4gram_frac"),
        dup5.alias("dup_5gram_frac"),
    )
    return out.withColumn(
        "passes",
        (F.col("top_2gram_frac") <= max_top2)
        & (F.col("top_3gram_frac") <= max_top3)
        & (F.col("top_4gram_frac") <= max_top4)
        & (F.col("dup_5gram_frac") <= max_dup5),
    )


def quality_bins(docs: DataFrame) -> DataFrame:
    """Corpus quality histogram — the report used to pick the
    ``filtered_corpus`` score threshold: documents and token mass per
    0.1-wide composite-score bin. Output: (bin, n_docs, n_tokens,
    doc_share, token_share) with ``bin`` = floor(score·10) (so bin 7
    = scores [0.7, 0.8)).

    Composes :func:`quality_score` (one doc-keyed aggregate) with a
    bin-keyed rollup — the second aggregate's key cardinality is the
    number of bins, so it's map-side-combined down to almost nothing
    before the shuffle."""
    q = quality_score(docs)
    tot = q.agg(
        F.count(F.lit(1)).alias("td"), F.sum("n_tokens").alias("tt")
    )
    return (
        q.select(F.floor(F.col("score") * 10).cast("int").alias("bin"), "n_tokens")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("td"), 6).alias("doc_share"),
            F.round(F.col("n_tokens") / F.col("tt"), 6).alias("token_share"),
        )
    )


def ccnet_buckets(docs: DataFrame, approx: bool | None = None,
                  accuracy: int = 10000) -> DataFrame:
    """CCNet-style language-model quality bucketing (Wenzek et al.
    2020): score every document with the corpus-bigram LM
    (:func:`bigram_logprob` — higher avg logprob = more typical =
    lower perplexity), then split each language into equal thirds:
    ``head`` (most typical), ``middle``, ``tail``. Output
    (doc_id, lang, avg_bigram_logprob, bucket); docs with < 2 tokens
    have no LM score and drop out, exactly as in the SQL twin.

    Two cutoff strategies (the rfm_segments pattern):
    - ``approx=False`` (the oracle-checked path, pinned by every
      registered query): per-lang rank with a total ordering (rounded
      score DESC, doc_id) and integer third-boundaries ``3·rn <= n``
      / ``3·rn <= 2n`` — no float boundary can flip a bucket
      cross-engine. The rank window partitions by lang, whose per-key
      row count scales with the corpus — fine at test SF,
      single-task-per-lang on a big-enough corpus.
    - ``approx=True`` (the scale path): per-lang approx_percentile
      cutoffs on the score (one small aggregate, langs × 2 rows)
      broadcast back and applied by comparison — no ranked window
      anywhere; ≤ one-bucket disagreement vs exact is unit-tested.
    - ``approx=None`` (default — auto, r10): the scored table is
      materialized anyway (see below), so the gate reads its exact
      row count for free and flips to approx above
      ``spark.sift.quantile.exactRowLimit`` (both sides forced in
      tests via the conf).
    """
    from pyspark.sql import Window

    from sift_spark.operators.scale import quantile_exact_limit

    # doc-sized (doc_id, lang, score) — persisted because both the
    # per-lang counts and the rank consume it, and recomputing it
    # replays the whole corpus-bigram LM pipeline
    scored = local_persist(  # materialize: the two consumers race a lazy cache
        bigram_logprob(docs).join(docs.select("doc_id", "lang"), "doc_id")
    )
    n_scored = scored.count()  # cache-read: the gate needs the row count
    if approx is None:
        approx = n_scored > quantile_exact_limit(docs.sparkSession)
    if approx:
        cuts = scored.groupBy("lang").agg(
            F.percentile_approx("avg_bigram_logprob", 2.0 / 3.0, accuracy).alias("c_head"),
            F.percentile_approx("avg_bigram_logprob", 1.0 / 3.0, accuracy).alias("c_mid"),
        )
        return (
            scored.join(F.broadcast(cuts), "lang")
            .select(
                "doc_id",
                "lang",
                "avg_bigram_logprob",
                F.when(F.col("avg_bigram_logprob") >= F.col("c_head"), F.lit("head"))
                .when(F.col("avg_bigram_logprob") >= F.col("c_mid"), F.lit("middle"))
                .otherwise(F.lit("tail"))
                .alias("bucket"),
            )
        )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_bigram_logprob").desc(), F.col("doc_id")
    )
    per_lang = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(per_lang), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_bigram_logprob",
            F.when(F.col("rn") * 3 <= F.col("n_lang"), F.lit("head"))
            .when(F.col("rn") * 3 <= F.col("n_lang") * 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


@guards_tf
def _doc_srp_wide(docs: DataFrame, d: int = 16, min_df: int = 2,
                  tf: DataFrame | None = None) -> DataFrame:
    """Wide-format SRP document vectors (doc_id, v0..v{d-1}) — the
    computation behind :func:`doc_srp_embeddings`, exposed for vector
    consumers that want the per-doc row WITHOUT the long-format
    unpivot/regroup round-trip.

    Deterministic document embeddings: signed random projection
    (Achlioptas 2003 / SimHash-style) of each doc's tf-idf vector into
    ``d`` dims — the classical pre-neural doc representation, and the
    bridge from the text pipeline into the vector one (feeds
    ann_*/semantic_dedup/kmeans on REAL documents instead of the
    synthetic embeddings table). Projection signs come from
    hash31(term:dim), so the "random" matrix is a pure function —
    no stored model, bit-identical on any engine or cluster layout.
    Output wide (doc_id, v0..v{d-1}) with each v rounded 6dp.

    Shape: ONE corpus pass — the posting table — with everything
    vocab-sized derived FROM it: idf (models.text.term_idfs over the
    postings) and the per-(term, dim) md5 signs, computed once per
    vocab row, NOT per posting row (per posting row, hash31 runs on
    (doc, term) × d instances — 240M md5 calls at sf1, measured ~6s
    of the pass). The d per-dim sums run as one wide (doc)-keyed
    aggregate (map-side combinable). No driver state, no UDF.

    ``tf``: optional posting table (see models.text.doc_term_tf); a
    passed table is not persisted here — the caller owns its
    lifecycle.
    """
    from sift_spark.models.text import doc_term_tf, term_idfs

    if tf is None:
        tf = local_persist(doc_term_tf(docs), eager=False)  # lazy: vocab's eager count fills it
    # signs as d PRIMITIVE double columns, not an array: an array
    # column on the probe side of the join boxes d doubles per
    # posting row through the aggregate (GenericArrayData), measured
    # several times slower than d flat columns in codegen
    signs = [
        F.when(
            hash31(F.concat(F.col("term"), F.lit(f":{i}"))) % 2 == 0, F.lit(1.0)
        )
        .otherwise(F.lit(-1.0))
        .alias(f"s{i}")
        for i in range(d)
    ]
    # persisted: the cache boundary stops the optimizer from inlining
    # the d md5 sign expressions into the join/aggregate, where they
    # would re-evaluate per POSTING row instead of per vocab row
    # (measured 23s vs 5s at sf1); the table is vocab-sized. ONE eager
    # job: counting vocab also fills tf's cache underneath it (tf →
    # vocab is the only consumer until then), so the posting join
    # reads both caches warm without a second scheduled job.
    vocab = local_persist(
        term_idfs(docs, min_df=min_df, tf=tf).select("term", "idf", *signs)
    )
    joined = tf.join(vocab, "term").select(
        "doc_id",
        (F.col("tf") * F.col("idf")).alias("w"),
        *[f"s{i}" for i in range(d)],
    )
    return joined.groupBy("doc_id").agg(
        *[
            F.round(F.sum(F.col("w") * F.col(f"s{i}")), 6).alias(f"v{i}")
            for i in range(d)
        ]
    )


def doc_srp_embeddings(docs: DataFrame, d: int = 16, min_df: int = 2,
                       tf: DataFrame | None = None) -> DataFrame:
    """Long-format (doc_id, dim, v) SRP embeddings — the registered
    query contract. See :func:`_doc_srp_wide` for the computation;
    the unpivot here is map-side (stack). Vector consumers
    (doc_embedding_dup_pairs) read the wide frame directly: the
    unpivot + doc-keyed re-assembly round-trip would be a full extra
    exchange over d× the rows."""
    wide = _doc_srp_wide(docs, d, min_df, tf)
    stack = ", ".join(f"{i}, v{i}" for i in range(d))
    return wide.select(
        "doc_id", F.expr(f"stack({d}, {stack}) AS (dim, v)")
    ).select("doc_id", "dim", "v")


@guards_tf
def corpus_datacard(docs: DataFrame, tf: DataFrame | None = None) -> DataFrame:
    """One-call corpus datacard — the summary block of a dataset card
    (docs/tokens/vocab, language concentration, exact-dup rate, mean
    quality) as long-format (metric, value) rows ready to publish.

    Five small aggregates (corpus scalars, vocab, language shares,
    dup groups, mean quality) unioned; every input is
    map-side-combinable and the result is a handful of rows. Each
    aggregate is its own pass over the lazy ``t`` frame, so WITHOUT
    the session artifacts the corpus is re-tokenized five times
    (measured 6-10s at sf1) — pass the tokenized frame (the map
    passes then read cached arrays) and ``tf`` (the posting table,
    see models.text.doc_term_tf: the vocab count becomes a
    distinct-count over posting rows, the same terms the explode
    yields, ~7× fewer rows at sf1)."""
    from sift_spark.models.text import tokens_col

    t = docs.select(
        "doc_id", "lang", "text", tokens_col(docs).alias("toks")
    ).withColumn("n", F.size("toks"))
    scalars = t.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n").cast("double").alias("n_tokens"),
        F.round(F.avg("n"), 6).alias("avg_doc_tokens"),
    )
    vocab_src = (
        tf.select("term") if tf is not None
        else t.select(F.explode("toks").alias("term"))
    )
    vocab = vocab_src.agg(
        F.count_distinct("term").cast("double").alias("distinct_terms")
    )
    lang = (
        t.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_langs"),
            F.round(F.max("c") / F.sum("c"), 6).alias("top_lang_share"),
        )
    )
    dups = (
        t.groupBy(F.md5("text").alias("h")).agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.round(
                (F.sum("c") - F.count(F.lit(1))) / F.sum("c"), 6
            ).alias("exact_dup_rate")
        )
    )
    quality = quality_score(docs).agg(F.round(F.avg("score"), 6).alias("avg_quality"))

    wide = (
        scalars.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(lang))
        .crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(quality))
    )
    metrics = [
        "n_docs", "n_tokens", "avg_doc_tokens", "distinct_terms",
        "n_langs", "top_lang_share", "exact_dup_rate", "avg_quality",
    ]
    stacked = ", ".join(f"'{m}', {m}" for m in metrics)
    return wide.selectExpr(
        f"stack({len(metrics)}, {stacked}) AS (metric, value)"
    )


def heldout_backoff_logprob(docs: DataFrame, train_mod: int = 2,
                            alpha: float = 0.4) -> DataFrame:
    """Held-out LM scoring with Stupid Backoff (Brants et al. 2007):
    bigram counts come from the TRAIN half (doc_id %% train_mod == 0)
    and score the HELD-OUT half — the true CCNet shape (a model built
    on reference text scores the crawl), unlike bigram_logprob which
    scores the corpus with itself and can never hit the backoff path.
    score(w2|w1) = c12/c1 when the train corpus saw the bigram, else
    alpha * c(w2)/total (unseen unigram: alpha / total). Output
    (doc_id, avg_backoff_logprob) over held-out docs with >= 2 tokens.

    Shape: two count aggregates over the train half (bigram + head),
    one unigram table, LEFT joins from the held-out pair stream
    (vocab-sized build sides, broadcastable), 1-row total broadcast.
    """
    from sift_spark.models.text import with_tokens

    t = with_tokens(docs).withColumn("is_train", F.col("doc_id") % train_mod == 0)
    pairs = t.where(F.size("toks") >= 2).select(
        "doc_id",
        "is_train",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "is_train", "p.w1", "p.w2")
    train = pairs.where("is_train")
    big = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    head = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    uni = (
        t.where("is_train")
        .select(F.explode("toks").alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    tot = t.where("is_train").agg(
        F.sum(F.size("toks")).cast("double").alias("n_tok")
    )
    held = pairs.where(~F.col("is_train"))
    scored = (
        held.join(big, ["w1", "w2"], "left")
        .join(head, "w1", "left")
        .join(uni, "w2", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(
                F.col("c12").isNotNull(), F.log(F.col("c12") / F.col("c1"))
            )
            .otherwise(
                F.log(F.lit(alpha) * F.coalesce(F.col("cu"), F.lit(1)) / F.col("n_tok"))
            )
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("lp"), 6).alias("avg_backoff_logprob")
    )


@guards_tf
def retrieval_triples(docs: DataFrame, n_query_terms: int = 2, k_neg: int = 2,
                      min_df: int = 2, max_df: int = 1000,
                      tf: DataFrame | None = None) -> DataFrame:
    """Training-data generation for retrieval models (DPR-style): for
    every document, a pseudo-query (its top tf-idf terms) plus the
    ``k_neg`` highest-scoring OTHER documents for that query — the
    BM25-negative mining step of dual-encoder training. Output
    (doc_id, query_terms, neg_rank, neg_id, neg_score).

    Shape: ONE corpus tokenize pass — the posting table is persisted
    and every derived table (document frequencies, idf, the tf-idf
    weights) is an aggregate or join OVER it (a lazy posting table
    re-tokenizes the corpus once per branch; measured 8.3s vs DuckDB
    3.3s at sf1). Then the per-doc top-terms window (post-agg rows),
    ONE term-keyed join query-terms × posting-lists scored by
    sqrt(tf)·idf and a per-query top-k window. ``max_df`` caps the
    posting list a query term may join (the scale lever: a
    stopword-like query term would otherwise fan out to the whole
    corpus).

    ``tf``: optional posting table (see models.text.doc_term_tf); a
    passed table is not persisted here — the caller owns its
    lifecycle."""
    from pyspark.sql import Window

    from sift_spark.models.text import doc_term_tf

    if tf is None:
        tf = local_persist(doc_term_tf(docs))  # materialize: wts / df branches race a lazy cache
    wts = local_persist(_tfidf_weights(docs, min_df, tf))  # qterms + postings race a lazy cache
    qterms = _top_terms(wts, n_query_terms).select(F.col("doc_id").alias("q_doc"), "term")
    capped = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df).select("term")
    )
    postings = wts.join(capped, "term").select("term", F.col("doc_id").alias("cand"), "w")
    scored = (
        qterms.join(postings, "term")
        .where(F.col("cand") != F.col("q_doc"))
        .groupBy("q_doc", "cand")
        .agg(F.round(F.sum("w"), 6).alias("neg_score"))
    )
    nk = Window.partitionBy("q_doc").orderBy(
        F.col("neg_score").desc(), F.col("cand").asc()
    )
    negs = scored.withColumn("neg_rank", F.row_number().over(nk).cast("int")).where(
        F.col("neg_rank") <= k_neg
    )
    qcsv = qterms.groupBy("q_doc").agg(
        F.array_join(F.sort_array(F.collect_list("term")), ",").alias("query_terms")
    )
    return negs.join(qcsv, "q_doc").select(
        F.col("q_doc").alias("doc_id"),
        "query_terms",
        "neg_rank",
        F.col("cand").alias("neg_id"),
        "neg_score",
    )


@guards_tf
def corpus_topics(docs: DataFrame, sign_dims: int = 6, k_terms: int = 5,
                  min_docs: int = 3, tf: DataFrame | None = None) -> DataFrame:
    """Corpus topic map without iterative clustering: the SIGN PATTERN
    of the first ``sign_dims`` SRP dimensions is already a SimHash of
    the document (SRP = signed random projection), so it buckets
    similar documents together deterministically — one pass, no
    codebook, no rounds. Each bucket is labeled with its ``k_terms``
    most DISTINCTIVE terms (tf-lift vs the corpus: share-in-topic /
    share-in-corpus, min topic tf 2). Output (topic, n_docs,
    top_terms) for buckets holding >= ``min_docs`` docs — the
    "what is in my corpus" inspection artifact.

    Shape: ONE posting table (``tf``, see models.text.doc_term_tf;
    built and lazily persisted here when None) feeds both the SRP
    sums and the (topic, term) counts; map-side sign packing, ONE
    (topic, term) tf aggregate — the corpus-wide term counts and
    totals are integer re-aggregates OF the topic_tf table
    (ctf = Σ_topics ttf, exact), not a second corpus explode+join
    pass (measured 7.2s vs DuckDB 2.0s at sf1 when the lazy DAG ran
    the tokenize+join twice) — then one per-topic rank window on
    post-agg rows."""
    from pyspark.sql import Window

    from sift_spark.models.text import doc_term_tf

    if tf is None:
        tf = local_persist(doc_term_tf(docs), eager=False)  # lazy: the SRP vocab count fills it
    # only the first sign_dims projections are consumed — compute just
    # those (per-dim values are independent, so this is exact). The
    # WIDE per-doc SRP row is sign-packed map-side: the long format's
    # unpivot + doc-keyed regroup would be a full exchange over
    # sign_dims× the rows for values already sitting in one row.
    wide = _doc_srp_wide(docs, d=sign_dims, tf=tf)
    topic = (
        wide.select(
            "doc_id",
            sum(
                (F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(0)
                 for i in range(1, sign_dims)),
                F.when(F.col("v0") > 0, F.lit(1)).otherwise(0),
            ).cast("int").alias("topic"),
        )
    )
    topic = local_persist(topic, eager=False)  # lazy: topic_tf's count fills it
    # ONE eager job: materializing topic_tf fills topic's cache
    # through the join underneath it, and its three consumers (lift,
    # totals, corpus counts) plus the sizes agg then read warm caches
    topic_tf = local_persist(
        tf.join(topic, "doc_id").groupBy("topic", "term").agg(F.sum("tf").alias("ttf"))
    )
    topic_tot = topic_tf.groupBy("topic").agg(F.sum("ttf").alias("ttot"))
    corpus_tf = topic_tf.groupBy("term").agg(F.sum("ttf").alias("ctf"))
    corpus_tot = corpus_tf.agg(F.sum("ctf").alias("ctot"))
    lift = (
        topic_tf.where(F.col("ttf") >= 2)
        .join(F.broadcast(topic_tot), "topic")
        .join(F.broadcast(corpus_tf), "term")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "topic",
            "term",
            F.round(
                (F.col("ttf") / F.col("ttot")) / (F.col("ctf") / F.col("ctot")), 6
            ).alias("lift"),
        )
    )
    rk = Window.partitionBy("topic").orderBy(F.col("lift").desc(), F.col("term").asc())
    tops = (
        lift.withColumn("rn", F.row_number().over(rk))
        .where(F.col("rn") <= k_terms)
        .groupBy("topic")
        .agg(F.array_join(F.sort_array(F.collect_list("term")), ",").alias("top_terms"))
    )
    sizes = topic.groupBy("topic").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sizes.where(F.col("n_docs") >= min_docs)
        .join(tops, "topic", "left")
        .select("topic", "n_docs", F.coalesce("top_terms", F.lit("")).alias("top_terms"))
    )


@guards_tf
def windowed_pmi(docs: DataFrame, window: int = 3, min_count: int = 5,
                 tf: DataFrame | None = None) -> DataFrame:
    """Windowed PMI collocations: term pairs co-occurring within
    ``window`` positions (any order; pair canonicalized a <= b),
    scored ln(P(ab)/(P(a)P(b))) — the classic collocation/relatedness
    extractor generalizing the adjacent-only ``term_collocations``.
    Output (term_a, term_b, n, pmi) with n >= min_count.

    Shape: instead of a per-doc positions self-join (quadratic per
    doc), each token emits ``window`` shifted copies map-side and the
    pair join is a LINEAR (doc_id, pos) equi-join; pair counts,
    unigram counts, and the two totals are all map-side-combinable
    aggregates with the scalars broadcast.

    ``tf``: optional posting table (see models.text.doc_term_tf) — the
    unigram counts and token total become integer re-aggregates of it
    (Σ tf: exactly the explode's integers); the windowed pair pass
    still reads the token arrays (order matters there)."""
    from sift_spark.models.text import with_tokens

    t = with_tokens(docs).withColumn("n", F.size("toks"))
    # pairs generated ENTIRELY map-side: for each distance d, zip the
    # token array against itself shifted by d via element_at (no
    # (doc,pos) join, no shuffle before the pair count) — measured
    # 16s -> ~7s at sf1 vs the join formulation
    pairs = t.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(window)),
                    lambda d: F.transform(
                        F.sequence(F.lit(1), F.greatest(F.col("n") - d, F.lit(0))),
                        lambda i: F.struct(
                            F.least(
                                F.element_at("toks", i), F.element_at("toks", i + d)
                            ).alias("term_a"),
                            F.greatest(
                                F.element_at("toks", i), F.element_at("toks", i + d)
                            ).alias("term_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.term_a", "p.term_b")
    pc = pairs.groupBy("term_a", "term_b").agg(F.count(F.lit(1)).alias("n"))
    if tf is not None:
        uni = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    else:
        uni = (
            t.select(F.explode("toks").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    totals = (
        pc.agg(F.sum("n").cast("double").alias("np"))
        .crossJoin(F.broadcast(uni.agg(F.sum("c").cast("double").alias("nt"))))
    )
    return (
        pc.where(F.col("n") >= min_count)
        .join(F.broadcast(uni.select(F.col("term").alias("term_a"), F.col("c").alias("ca"))), "term_a")
        .join(F.broadcast(uni.select(F.col("term").alias("term_b"), F.col("c").alias("cb"))), "term_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "term_a",
            "term_b",
            "n",
            F.round(
                F.log(
                    (F.col("n") / F.col("np"))
                    / ((F.col("ca") / F.col("nt")) * (F.col("cb") / F.col("nt")))
                ),
                6,
            ).alias("pmi"),
        )
    )


@guards_tf
def token_zipf_fit(docs: DataFrame, max_rank: int = 1000,
                   tf: DataFrame | None = None) -> DataFrame:
    """Zipf-law fit over the term frequency distribution: OLS of
    ln(frequency) on ln(rank) for the top ``max_rank`` terms —
    (n_terms, slope, intercept, r2), slope ≈ −1 for natural language.

    The standard corpus-health gate for a training-data pipeline:
    boilerplate floods, template spam, and OCR noise all bend the
    log-log line (slope drifting toward 0 = mass in the tail; r²
    collapsing = the distribution is not power-law at all), and the
    single-row report is cheap enough to run per ingest batch.

    Shape: one term aggregate (over the posting table when ``tf`` is
    passed, see models.text.doc_term_tf — zero corpus passes), a
    top-``max_rank`` selection planned as TakeOrderedAndProject (per-partition top-k +
    one k·P-row merge — the full vocabulary, 1e8-1e9 terms for a web
    corpus, never lands on one task; rank is assigned post-limit over
    ≤``max_rank`` rows), then one 1-row OLS aggregate (covar/var
    partials, map-side combined). Ties rank deterministically
    (freq desc, term asc) in both engines.
    """
    from pyspark.sql import Window

    from sift_spark.models.text import with_tokens

    if tf is not None:
        totals = tf.groupBy("term").agg(F.sum("tf").alias("f"))
    else:
        totals = (
            with_tokens(docs)
            .select(F.explode("toks").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("f"))
        )
    order = (F.col("f").desc(), F.col("term").asc())
    w = Window.orderBy(*order)  # bounded: runs over ≤max_rank rows
    pts = (
        totals.orderBy(*order)
        .limit(max_rank)
        .withColumn("r", F.row_number().over(w))
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("f").cast("double")).alias("y"),
        )
    )
    # <2 distinct ranks → var_pop(x)=0: the fit is undefined, so the
    # guard returns NULL slope/intercept/r2 EXPLICITLY (not an engine-
    # dependent divide-by-zero) and n_terms still reports the count
    ok = F.var_pop("x") > 0
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return pts.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(ok, F.round(F.avg("y") - slope * F.avg("x"), 6)).alias(
            "intercept"
        ),
        F.when(ok, F.round(F.pow(F.corr("x", "y"), F.lit(2.0)), 6)).alias("r2"),
    )


def filter_funnel(docs: DataFrame, min_words: int = 50, max_words: int = 100_000,
                  min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                  max_symbol_frac: float = 0.1, min_alpha_frac: float = 0.8,
                  min_stop_distinct: int = 1) -> DataFrame:
    """Survivor funnel for the Gopher rule filter: how many documents
    remain after each rule applied IN ORDER — the report a pipeline
    reads before deciding which gate to tune (a rule that kills 40%
    of the corpus gets reviewed; one that kills 0.1% gets dropped
    from the hot path). One row: (n_docs, after_n_words,
    after_mean_len, after_symbol, after_alpha, after_stopwords,
    pass_rate), counting from documents with ≥1 token (the same
    universe :func:`gopher_rules` scores).

    Composes the gopher_rules per-doc features (map-side array
    kernels, no shuffle) with ONE 1-row conditional aggregate — a
    single corpus scan regardless of rule count.
    """
    r = gopher_rules(
        docs, min_words=min_words, max_words=max_words,
        min_mean_len=min_mean_len, max_mean_len=max_mean_len,
        max_symbol_frac=max_symbol_frac, min_alpha_frac=min_alpha_frac,
        min_stop_distinct=min_stop_distinct,
    )
    c1 = F.col("n_words").between(min_words, max_words)
    c2 = c1 & F.col("mean_word_len").between(min_mean_len, max_mean_len)
    c3 = c2 & (F.col("symbol_word_frac") <= max_symbol_frac)
    c4 = c3 & (F.col("alpha_word_frac") >= min_alpha_frac)
    c5 = c4 & (F.col("n_stop_distinct") >= min_stop_distinct)

    def cnt(c):
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")

    return r.agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt(c1).alias("after_n_words"),
        cnt(c2).alias("after_mean_len"),
        cnt(c3).alias("after_symbol"),
        cnt(c4).alias("after_alpha"),
        cnt(c5).alias("after_stopwords"),
        F.round(cnt(c5) / F.count(F.lit(1)), 6).alias("pass_rate"),
    )


@guards_tf
def vocab_coverage(docs: DataFrame, vocab_size: int = 5000,
                   heldout_mod: int = 5,
                   tf: DataFrame | None = None) -> DataFrame:
    """Held-out coverage of a top-K frequency vocabulary — the
    tokenizer/vocab-sizing gate: build the vocab from the train split
    (doc_id % heldout_mod != 0, top ``vocab_size`` terms by collection
    frequency, ties broken term asc) and measure what fraction of
    HELD-OUT token instances (doc_id % heldout_mod == 0) it covers.
    One row: (n_vocab, heldout_tokens, covered_tokens, coverage,
    oov_rate).

    Runs on posting rows (``tf``: optional posting table, see
    models.text.doc_term_tf). The vocab is K rows → broadcast
    semi-join onto the held-out postings; the top-K selection plans as
    TakeOrderedAndProject (per-partition top-k + one k·P-row merge —
    the full train vocabulary never lands on one task), and the corpus
    is never globally sorted.
    """
    from sift_spark.models.text import doc_term_tf

    if tf is None:
        tf = doc_term_tf(docs)
    train = tf.where(F.col("doc_id") % heldout_mod != 0)
    heldout = tf.where(F.col("doc_id") % heldout_mod == 0)
    totals = train.groupBy("term").agg(F.sum("tf").alias("f"))
    vocab = (
        totals.orderBy(F.col("f").desc(), F.col("term").asc())
        .limit(vocab_size)
        .select("term")
    )
    counted = heldout.join(F.broadcast(vocab), "term", "left_semi").agg(
        F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("covered_tokens")
    )
    base = heldout.agg(
        F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("heldout_tokens")
    )
    nv = vocab.agg(F.count(F.lit(1)).alias("n_vocab"))
    # empty held-out split → counts report 0 and the ratios are NULL
    # EXPLICITLY (coverage of zero tokens is undefined, and a silent
    # divide-by-zero NULL would be engine-dependent in the oracle)
    ok = F.col("heldout_tokens") > 0
    return (
        nv.crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(counted))
        .select(
            "n_vocab",
            "heldout_tokens",
            "covered_tokens",
            F.when(
                ok,
                F.round(F.col("covered_tokens") / F.col("heldout_tokens"), 6),
            ).alias("coverage"),
            F.when(
                ok,
                F.round(
                    (F.col("heldout_tokens") - F.col("covered_tokens"))
                    / F.col("heldout_tokens"),
                    6,
                ),
            ).alias("oov_rate"),
        )
    )


def contamination_summary(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                          exact_threshold: float = 0.5,
                          fuzzy_threshold: float = 0.5,
                          sh: DataFrame | None = None) -> DataFrame:
    """One-row decontamination dashboard: how much of the corpus the
    exact n-gram screen (:func:`contamination_check` ≥
    ``exact_threshold``) and the fuzzy MinHash screen
    (``dedup.fuzzy_contamination`` ≥ ``fuzzy_threshold``) each flag,
    how much they agree on, and what survives —
    (n_corpus_docs, n_exact, n_fuzzy, n_both, n_flagged, clean_rate).

    The governance line a decontamination run reports before dropping
    anything: the two screens catch different leakage (verbatim
    inclusion vs paraphrase), so n_both vs n_exact/n_fuzzy is the
    overlap evidence reviewers ask for. Both screens share the same
    broadcast-benchmark shape (the corpus side never shuffles for
    candidates), the flag sets are collision-rate sized, and the final
    roll-up is one full-outer join of two tiny frames plus a 1-row
    aggregate.
    """
    from sift_spark.operators.dedup import fuzzy_contamination

    exact = (
        contamination_check(docs, benchmark, n, sh=sh)
        .where(F.col("contamination") >= exact_threshold)
        .select("doc_id", F.lit(True).alias("is_exact"))
    )
    fuzzy = (
        fuzzy_contamination(docs, benchmark, n, threshold=fuzzy_threshold, sh=sh)
        .select("doc_id", F.lit(True).alias("is_fuzzy"))
    )
    flags = exact.join(fuzzy, "doc_id", "full_outer")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_corpus_docs"))
    agg = flags.agg(
        F.coalesce(F.sum(F.when(F.col("is_exact"), 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_exact"),
        F.coalesce(F.sum(F.when(F.col("is_fuzzy"), 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_fuzzy"),
        F.coalesce(
            F.sum(F.when(F.col("is_exact") & F.col("is_fuzzy"), 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_both"),
        F.count(F.lit(1)).alias("n_flagged"),
    )
    return (
        n_docs.crossJoin(F.broadcast(agg))
        .select(
            "n_corpus_docs",
            "n_exact",
            "n_fuzzy",
            "n_both",
            "n_flagged",
            # empty corpus → clean_rate is NULL explicitly, not an
            # engine-dependent divide-by-zero
            F.when(
                F.col("n_corpus_docs") > 0,
                F.round(
                    (F.col("n_corpus_docs") - F.col("n_flagged"))
                    / F.col("n_corpus_docs"),
                    6,
                ),
            ).alias("clean_rate"),
        )
    )


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language subword fertility report — the tokenizer-sizing
    gate a multilingual training pipeline reads before fixing a vocab:
    (lang, n_docs, total_words, total_subwords, fertility,
    chars_per_subword), fertility = subwords per whitespace word
    (≈1 for well-covered languages, inflating for scripts the subword
    inventory covers poorly) and chars_per_subword = the compression
    rate. Subwords use :func:`token_stats`'s deterministic
    ceil(len/4) estimate, so the report is oracle-hashable (the
    BPE-trained fertility is the [r]-row variant via bpe_encode).

    Shape: composes the token_stats map-side array kernels (no
    shuffle) with ONE lang-keyed aggregate (lang cardinality is tiny);
    the corpus never shuffles. Zero-word/zero-subword languages report
    NULL ratios explicitly rather than an engine-dependent
    divide-by-zero.
    """
    st = token_stats(docs).join(docs.select("doc_id", "lang"), "doc_id")
    words = F.sum("n_tokens")
    subwords = F.sum("n_subwords")
    return (
        st.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            words.cast("long").alias("total_words"),
            subwords.cast("long").alias("total_subwords"),
            F.when(words > 0, F.round(subwords / words, 6)).alias("fertility"),
            F.when(subwords > 0, F.round(F.sum("n_chars") / subwords, 6)).alias(
                "chars_per_subword"
            ),
        )
        .orderBy("lang")
    )
