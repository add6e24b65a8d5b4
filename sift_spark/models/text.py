"""Text statistics & mention models (reference parity: sift/models/text.py).

Documents in the synthetic corpus are single-space token streams with
no sentence punctuation, so mention context is token-windowed rather
than sentence-windowed (the reference's sentence heuristics — sift/
util.py:35 ``iter_sent_spans`` — degenerate to whole-document there;
the Wikipedia corpus path exposes sentence segmentation instead).

Everything is built-in expressions; the ngram generator is a
higher-order-function pipeline (``transform`` over ``sequence``), not
a UDF, so it stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sift_spark.functions.core import guards_tf, tokens


def _ngrams_n(toks: Column, n: int) -> Column:
    # Per-gram cost is n O(1) element_at lookups — a slice+array_join
    # per index measured ~10× slower (array copy per gram).
    # NOTE: the lambda must take exactly one parameter — PySpark counts
    # lambda parameters to decide (element) vs (element, index) form.
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(toks: Column, min_n: int = 1, max_n: int = 1) -> Column:
    """All word n-grams (space-joined) for n in [min_n, max_n]
    (reference sift/util.py:5 ``ngrams``).

    PERF: pass a *materialized column* (``F.col``), not a computed
    expression — expressions referenced inside higher-order lambdas
    are re-evaluated per element (a regex-split here measured 10×
    slower than tokenizing into a column first)."""
    parts = [_ngrams_n(toks, n) for n in range(min_n, max_n + 1)]
    return parts[0] if len(parts) == 1 else F.flatten(F.array(*parts))


def tokens_col(docs: DataFrame) -> Column:
    """The token-array COLUMN for ``docs``: the session's
    provenance-tagged ``toks`` if the frame carries it (checked by
    column metadata, never by name — see functions.core.tagged_tokens),
    else a fresh default-case split of ``text``. For operators that
    need the array alongside OTHER input columns (lang, text length),
    where :func:`with_tokens`'s two-column projection doesn't fit."""
    from sift_spark.functions.core import is_token_artifact

    return F.col("toks") if is_token_artifact(docs) else tokens(F.col("text"))


def with_tokens(docs: DataFrame, lowercase: bool = False) -> DataFrame:
    """(doc_id, toks) with the token array materialized once.

    If the input already carries the session's shared tokenized-corpus
    artifact (a ``toks`` column MINTED by this library — checked via
    column-metadata provenance, see functions.core.tagged_tokens, not
    by column name: a caller frame that happens to carry a
    differently-computed ``toks`` must NOT be silently trusted), it is
    used as-is instead of re-splitting: the regex split is the single
    most repeated pass of the text family (~1.6s/pass at sf1 vs 0.2s
    reading the cached arrays). Only the default-case path may
    shortcut — lowercase tokenization is always computed."""
    from sift_spark.functions.core import is_token_artifact

    if not lowercase and is_token_artifact(docs):
        return docs.select("doc_id", "toks")
    text = F.lower(F.col("text")) if lowercase else F.col("text")
    return docs.select("doc_id", tokens(text).alias("toks"))


def doc_term_tf(docs: DataFrame) -> DataFrame:
    """The (doc_id, term, tf) unigram posting table of ``docs``: one
    row per (document, default-case token), tf = the token's count in
    that document. Reads the session token artifact when ``docs``
    carries it (see :func:`with_tokens`).

    Every ``tf`` parameter of the text family takes this table —
    usually the session's shared, provenance-tagged artifact
    (queries._docs_tf) — and an operator given ``tf=None`` builds it
    here. CONTRACT: a passed ``tf`` must be the posting table of
    EXACTLY the ``docs`` passed with it. df is then a per-term row
    count (tf has one row per (doc, term): the same integers a
    distinct-doc corpus scan counts) and Σ tf per term is the corpus
    token count, so the operator runs no corpus pass of its own. The
    minted dataset tags catch a CROSS-CORPUS mixup (corpus A's docs
    with corpus B's tf raises, functions.core.guards_tf); a filtered
    subset of the same corpus keeps its tag and passes, so filtering
    docs and reusing the full-corpus table stays the caller's
    responsibility (rebuild tf from the filtered frame, or pass
    tf=None)."""
    return (
        with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_frequencies(docs: DataFrame, max_ngram: int = 1, lowercase: bool = False, min_count: int = 1) -> DataFrame:
    """Corpus term frequencies (reference text.py:15
    ``TermFrequencies``): ngram counts with count > min_count."""
    return (
        with_tokens(docs, lowercase)
        .select(F.explode(word_ngrams(F.col("toks"), 1, max_ngram)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") > min_count)
    )


@guards_tf
def term_doc_frequencies(docs: DataFrame, max_ngram: int = 1, lowercase: bool = False, min_df: int = 2,
                         tf: DataFrame | None = None) -> DataFrame:
    """Document frequencies (reference text.py:110
    ``TermDocumentFrequencies``): per-term distinct-doc counts with
    df > min_df. Distinct-per-doc before the global count keeps the
    aggregation two map-side-combinable hash aggs.

    ``tf``: optional posting table (see :func:`doc_term_tf`); df is
    then its per-term row count. Only valid for the default
    tokenization (unigrams, no lowercasing): asking for ngrams the
    table does not hold raises rather than silently recomputing."""
    if tf is not None:
        if max_ngram != 1 or lowercase:
            raise ValueError(
                "the (doc_id, term, tf) artifact holds default-case "
                f"unigrams; max_ngram={max_ngram}, lowercase={lowercase} "
                "requires the corpus-scan path (omit tf)"
            )
        return (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > min_df)
        )
    # per-doc dedup happens map-side via array_distinct — one shuffle
    # total (the term count), instead of distinct + groupBy
    return (
        with_tokens(docs, lowercase)
        .select(F.explode(F.array_distinct(word_ngrams(F.col("toks"), 1, max_ngram))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > min_df)
    )


def term_vocab(docs: DataFrame, max_rank: int | None = 10000, min_rank: int | None = 0,
               max_ngram: int = 1, lowercase: bool = False, min_df: int = 0,
               tf: DataFrame | None = None) -> DataFrame:
    """Df-ranked term index (reference text.py:128 ``TermVocab``);
    ties broken by term ascending for cross-engine determinism.
    ``tf``: optional posting table (see :func:`doc_term_tf`)."""
    dfs = term_doc_frequencies(docs, max_ngram=max_ngram, lowercase=lowercase, min_df=min_df, tf=tf)
    order = (F.col("df").desc(), F.col("term").asc())
    if max_rank is not None:
        # TakeOrderedAndProject: the rank window below then runs on
        # ≤ max_rank rows, never the full term vocabulary
        dfs = dfs.orderBy(*order).limit(max_rank)
        m = dfs.withColumn("rank", F.row_number().over(Window.orderBy(*order)) - 1)
    else:
        # full-vocab ranking WITHOUT a global window (r10: previously
        # this path single-tasked the whole vocabulary): rank =
        # rows-before-my-df-group + row_number within my group. The
        # within-group window is partitioned by df; the only global
        # window runs over the DISTINCT-df-VALUE table (≤ N_docs
        # values, heavy-tailed in practice — orders of magnitude
        # smaller than the vocabulary itself). Same (df desc,
        # term asc) total order, bit-identical ranks.
        sizes = dfs.groupBy("df").agg(F.count(F.lit(1)).alias("__n"))
        prior = (
            Window.orderBy(F.col("df").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = sizes.select(
            "df", F.coalesce(F.sum("__n").over(prior), F.lit(0)).alias("__off")
        )
        within = F.row_number().over(
            Window.partitionBy("df").orderBy(F.col("term").asc())
        )
        m = (
            dfs.withColumn("__rn", within)
            .join(offsets, "df")
            .withColumn("rank", (F.col("__off") + F.col("__rn") - 1).cast("int"))
            .drop("__rn", "__off")
            .select("term", "df", "rank")
        )
    if min_rank is not None:
        m = m.where(F.col("rank") >= min_rank)
    return m


def term_idfs(docs: DataFrame, max_ngram: int = 1, lowercase: bool = False, min_df: int = 2,
              tf: DataFrame | None = None) -> DataFrame:
    """idf = ln(N / df) per term (reference text.py:157 ``TermIdfs``),
    see :func:`with_idf`. ``tf``: optional posting table (see
    :func:`doc_term_tf`); N still counts ``docs`` (token-less docs
    belong in N but have no tf rows)."""
    dfs = term_doc_frequencies(docs, max_ngram=max_ngram, lowercase=lowercase, min_df=min_df, tf=tf)
    return with_idf(dfs, docs).select("term", "idf")


def with_idf(rows: DataFrame, docs: DataFrame) -> DataFrame:
    """``rows`` (any frame with a ``df`` column) plus ``n_docs`` = N,
    the row count of ``docs``, and idf = round(ln(N / df), 6): the
    text family's one idf formula. N is a 1-row aggregate cross-joined
    in (broadcast by Catalyst) — no driver-side ``count()`` round
    trip."""
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return rows.crossJoin(n).withColumn(
        "idf", F.round(F.log(F.col("n_docs") / F.col("df")), 6)
    )


def entity_mentions(docs: DataFrame, links: DataFrame, window: int = 2) -> DataFrame:
    """Context windows around each link (reference text.py:39
    ``EntityMentions``): ±window tokens of context, span tracked as
    token offsets within the mention text.

    Output: (target, source, pos, mention, span_start, span_stop).
    """
    toks = with_tokens(docs)  # shortcuts on a pre-tokenized artifact column
    m = links.select("doc_id", "pos", "target").join(toks, "doc_id")
    lo = F.greatest(F.lit(0), F.col("pos") - window)
    hi = F.least(F.size("toks") - 1, F.col("pos") + window)
    return m.select(
        F.col("target"),
        F.col("doc_id").alias("source"),
        F.col("pos"),
        F.array_join(F.slice("toks", lo + 1, hi - lo + 1), " ").alias("mention"),
        (F.col("pos") - lo).cast("int").alias("span_start"),
        (F.col("pos") - lo + 1).cast("int").alias("span_stop"),
    )


def entity_mention_term_frequency(mentions: DataFrame, idfs: DataFrame, normalize: bool = True) -> DataFrame:
    """L2-normalized sqrt(tf)·idf entity profiles over mention
    contexts (reference text.py:176 ``EntityMentionTermFrequency``).

    Output: (target, term, weight). The idf join key is ``term``;
    both sides are pre-aggregated so at scale this is a well-behaved
    shuffle join (or broadcast when the vocab is small — Catalyst
    decides via AQE).
    """
    tf = (
        mentions.select("target", F.explode(tokens(F.col("mention"))).alias("term"))
        .groupBy("target", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    weighted = tf.join(idfs, "term").select(
        "target", "term", (F.sqrt(F.col("tf")) * F.col("idf")).alias("w")
    )
    if normalize:
        norm = Window.partitionBy("target")
        weighted = weighted.withColumn(
            "w", F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(norm))
        )
    return weighted.select("target", "term", F.round("w", 6).alias("weight"))


def sentence_mentions(articles: DataFrame, window: int = 1, strict: bool = True) -> DataFrame:
    """Sentence-context mentions for prose corpora (reference
    text.py:39 ``EntityMentions`` with its sentence alignment,
    text.py:48 ``iter_mentions``): for each link, the surrounding
    ``window`` sentences with the span re-based into the mention.

    Input: articles (uri, text, links[{target,start,stop}]) — the
    Wikipedia/WARC shape. Sentence spans need offset bookkeeping over
    the raw text, so this runs in ``mapInPandas`` (stdlib ``re`` +
    ``bisect``), like the markup stage it follows.

    Output: (target, source, mention, span_start, span_stop); strict
    mode drops list-item/unterminated pseudo-sentences.
    """
    from collections.abc import Iterator

    out_schema = "target string, source string, mention string, span_start int, span_stop int"

    def run(batches: Iterator) -> Iterator:
        import re
        from bisect import bisect_left, bisect_right

        import pandas as pd

        from sift_spark.functions.sentences import SENTENCE_SPLIT_RE

        splitter = re.compile(SENTENCE_SPLIT_RE)
        for pdf in batches:
            rows = []
            for uri, text, links in zip(pdf["uri"], pdf["text"], pdf["links"]):
                # sentence spans: gaps between split matches
                spans = []
                last = 0
                for m in splitter.finditer(text):
                    if m.start() > last:
                        spans.append((last, m.start()))
                    last = m.end()
                if last < len(text):
                    spans.append((last, len(text)))
                if not spans:
                    continue
                starts = [s for s, _ in spans]
                for link in links:
                    ls, lstop = int(link["start"]), int(link["stop"])
                    si = max(0, bisect_right(starts, ls) - 1)
                    se = max(0, bisect_left(starts, lstop) - 1)
                    lhs = window // 2
                    rhs = (window - lhs) - 1
                    si = max(0, si - lhs)
                    se = min(len(spans) - 1, se + rhs)
                    m_start = spans[si][0]
                    mention = text[m_start : spans[se][1]]
                    span = (ls - m_start, lstop - m_start)
                    if span == (0, len(mention)):
                        continue  # mention is the whole sentence
                    if strict:
                        sm = mention.strip()
                        if not sm or sm.startswith("*") or sm[-1] not in ".!?\"'":
                            continue
                    rows.append((link["target"], uri, mention, span[0], span[1]))
            yield pd.DataFrame(
                rows, columns=["target", "source", "mention", "span_start", "span_stop"]
            )

    return articles.select("uri", "text", "links").mapInPandas(run, out_schema)


def indexed_mentions(mentions: DataFrame, vocab: DataFrame) -> DataFrame:
    """Mention token streams mapped to vocab ranks (reference
    text.py:90 ``IndexMappedMentions``); unknown terms → -1.

    Output: (target, source, pos, indexes, span_start, span_stop)
    with ``indexes`` a CSV of ranks in token order.
    """
    toked = mentions.select(
        "target", "source", "pos", "span_start", "span_stop",
        F.posexplode(tokens(F.col("mention"))).alias("tok_idx", "term"),
    )
    mapped = (
        toked.join(vocab.select("term", "rank"), "term", "left")
        .withColumn("rank", F.coalesce(F.col("rank"), F.lit(-1)))
    )
    grp = mapped.groupBy("target", "source", "pos", "span_start", "span_stop").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tok_idx", "rank"))),
                lambda s: s["rank"].cast("string"),
            ),
            ",",
        ).alias("indexes")
    )
    return grp.select("target", "source", "pos", "indexes", "span_start", "span_stop")
