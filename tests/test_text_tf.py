"""The tf contract of the text family (models.text.doc_term_tf): an
operator given the session's shared (doc_id, term, tf) posting table
returns exactly what it returns when it builds that table itself, and
a table minted for another dataset is refused."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from sift_spark.caching import release_local_caches
from sift_spark.functions.core import tag_tf, tagged_tokens
from sift_spark.models.text import term_idfs
from sift_spark.operators import dedup as D
from sift_spark.operators import sampling as S
from sift_spark.operators import text_analysis as TA
from sift_spark.queries import SEARCH_TERMS, corpus_artifacts
from tests.conftest import SF_SMOKE

TF_OPS = {
    "tfidf_search": lambda d, tf: TA.tfidf_search(d, SEARCH_TERMS, k=10, tf=tf),
    "unigram_logprob": lambda d, tf: TA.unigram_logprob(d, tf=tf),
    "doc_top_terms": lambda d, tf: TA.doc_top_terms(d, tf=tf),
    "doc_srp_embeddings": lambda d, tf: TA.doc_srp_embeddings(d, tf=tf),
    "retrieval_triples": lambda d, tf: TA.retrieval_triples(d, tf=tf),
    "corpus_topics": lambda d, tf: TA.corpus_topics(d, tf=tf),
    "vocab_coverage": lambda d, tf: TA.vocab_coverage(d, tf=tf),
    "dsir_importance_weights": lambda d, tf: S.dsir_importance_weights(d, tf=tf),
    "doc_embedding_dup_pairs": lambda d, tf: D.doc_embedding_dup_pairs(d, tf=tf),
}


@pytest.mark.parametrize("name", list(TF_OPS))
def test_tf_artifact_path_matches_own_postings(spark, name):
    op = TF_OPS[name]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    tf = corpus_artifacts(spark, SF_SMOKE).tf()
    # the two paths run as concurrent Spark jobs: at SF_SMOKE each is
    # mostly scheduling latency
    try:
        with ThreadPoolExecutor(2) as pool:
            own, shared = pool.map(
                lambda t: sorted(map(tuple, op(docs, t).collect())), (None, tf)
            )
    finally:
        release_local_caches()
    assert own and own == shared


@pytest.mark.parametrize("name", ["term_idfs", "dsir_importance_weights", "tfidf_search"])
def test_foreign_tf_artifact_raises(spark, name):
    call = {
        "term_idfs": lambda d, tf: term_idfs(d, tf=tf),
        "dsir_importance_weights": lambda d, tf: S.dsir_importance_weights(d, tf=tf),
        "tfidf_search": lambda d, tf: TA.tfidf_search(d, ("a",), tf=tf),
    }[name]
    # docs carry dataset "b"'s token artifact; tf was minted for "a"
    docs = spark.createDataFrame(
        [(1, "a b a", "en"), (2, "b c", "de")], "doc_id long, text string, lang string"
    ).select("*", tagged_tokens(F.col("text"), dataset="b"))
    tf = tag_tf(
        spark.createDataFrame([(1, "a", 2), (1, "b", 1)], "doc_id long, term string, tf long"),
        dataset="a",
    )
    with pytest.raises(ValueError, match="minted from dataset 'a'"):
        call(docs, tf)
