"""Round-7 artifact plumbing: token-column provenance (the
with_tokens/classify shortcut must trust metadata, never a bare
column name), the corpus_tokens/corpus_tf accounting queries, and the
public CorpusArtifacts lifecycle API (build → release → rebuild,
multi-dataset isolation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sift_spark.functions.core import is_token_artifact, tagged_tokens
from sift_spark.models.text import with_tokens
from tests.conftest import SF_SMOKE


def _docs_frame(spark):
    return spark.createDataFrame(
        [(1, "a b c a"), (2, "x y"), (3, "z")], "doc_id long, text string"
    )


def test_with_tokens_ignores_untagged_toks_column(spark):
    # a caller frame carrying its OWN differently-computed toks column
    # (here: pre-uppercased) must NOT be silently trusted — the split
    # from text wins
    docs = _docs_frame(spark).withColumn(
        "toks", F.split(F.upper(F.col("text")), " ")
    )
    assert not is_token_artifact(docs)
    out = {r["doc_id"]: r["toks"] for r in with_tokens(docs).collect()}
    assert out[1] == ["a", "b", "c", "a"]  # not the uppercased imposter


def test_with_tokens_shortcuts_on_tagged_artifact(spark):
    docs = _docs_frame(spark).select("*", tagged_tokens(F.col("text")))
    assert is_token_artifact(docs)
    # provenance survives projection, filter, and persist
    slim = docs.select("doc_id", "toks").where(F.col("doc_id") > 0).persist()
    try:
        assert is_token_artifact(slim)
        out = {r["doc_id"]: r["toks"] for r in with_tokens(slim).collect()}
        assert out[1] == ["a", "b", "c", "a"]
    finally:
        slim.unpersist()


def test_feature_base_ignores_untagged_toks(spark):
    from sift_spark.operators.classify import _feature_base

    docs = _docs_frame(spark)
    imposter = docs.withColumn("toks", F.array(F.lit("wrong")))
    base = {r["doc_id"]: r["n_tokens"] for r in _feature_base(docs).collect()}
    base_imposter = {
        r["doc_id"]: r["n_tokens"] for r in _feature_base(imposter).collect()
    }
    assert base == base_imposter  # imposter column ignored, text re-split
    tagged = docs.select("*", tagged_tokens(F.col("text")))
    base_tagged = {
        r["doc_id"]: r["n_tokens"] for r in _feature_base(tagged).collect()
    }
    assert base == base_tagged


def test_corpus_artifacts_release_and_isolation(spark, tmp_path):
    sf_dir = SF_SMOKE
    from sift_spark.queries import QUERIES, corpus_artifacts

    # a second real dataset, with its own artifact built
    other_dir = str(tmp_path)
    spark.createDataFrame([(1, "a b c"), (2, "d e")], "doc_id long, text string") \
        .write.parquet(f"{other_dir}/documents.parquet")
    other = corpus_artifacts(spark, other_dir)
    other_toks = other.tokens()

    art = corpus_artifacts(spark, sf_dir)
    try:
        toks, tf, sh = art.tokens(), art.tf(), art.shingles()
        assert art.tokens() is toks and art.shingles(3) is sh  # memoized
        for df in (toks, tf, sh):
            assert df.storageLevel.useMemory
        QUERIES["dedup_minhash_lsh"](spark, sf_dir)  # builds the bands and pairs

        assert art.release() == 5  # tokens, tf, shingles, bands, pairs
        for df in (toks, tf, sh):
            assert not df.storageLevel.useMemory and not df.storageLevel.useDisk
        assert other_toks.storageLevel.useMemory  # isolation
        assert other.tokens() is other_toks

        # rebuild after release works and re-persists
        toks2 = art.tokens()
        assert toks2 is not toks and toks2.storageLevel.useMemory
        assert art.release() == 1
    finally:
        art.release()
        assert other.release() == 1
    assert not other_toks.storageLevel.useMemory


def test_corpus_accounting_queries_shapes(spark):
    sf_dir = SF_SMOKE
    from sift_spark.queries import corpus_artifacts, q_corpus_tf, q_corpus_tokens

    try:
        t = q_corpus_tokens(spark, sf_dir)
        assert t.columns == ["doc_id", "n_toks", "first_tok", "last_tok"]
        assert t.count() > 0
        tf = q_corpus_tf(spark, sf_dir)
        assert tf.columns == ["doc_id", "term", "tf"]
        # tf sums back to the token totals — the artifact is the
        # corpus posting table, not a sample
        n_tokens = t.agg(F.sum("n_toks")).collect()[0][0]
        assert tf.agg(F.sum("tf")).collect()[0][0] == n_tokens
    finally:
        corpus_artifacts(spark, sf_dir).release()
