"""Semantic/property tests for dedup + similarity operators."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH pairs must equal the exact ngram-jaccard pairs at this
    threshold (bands tuned so P(candidate | j >= 0.8) ≈ 1)."""
    from sift_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _docs(spark)
    lsh = {(r.doc1, r.doc2) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    exact = {(r.doc1, r.doc2) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert lsh == exact, f"missed={exact - lsh}, spurious={lsh - exact}"
    assert exact, "test corpus should contain planted near-dups"


def test_dedup_exact_api(spark):
    from sift_spark.operators.dedup import dedup_exact

    docs = _docs(spark)
    d1 = docs.unionByName(docs)  # duplicate every row
    out = dedup_exact(d1)
    assert out.count() == docs.select("text").distinct().count()


def test_dedup_exact_keeps_null_and_empty_text_apart(spark):
    """A NULL text and an empty text are different contents: both rows
    survive, and only true text duplicates collapse (keep-first)."""
    from sift_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x"), (4, "x"), (5, None)], "doc_id long, text string"
    )
    assert sorted(r.doc_id for r in dedup_exact(df).collect()) == [1, 2, 3]


def test_shingles_sizes_match_plain_explode(spark):
    """The one shingle table: its (doc_id, shingle, h) rows equal the
    plain-explode construction, and the map-side n_sh equals each
    doc's shingle row count."""
    from pyspark.sql import functions as F

    from sift_spark.functions.core import hash31
    from sift_spark.models.text import with_tokens, word_ngrams
    from sift_spark.operators.dedup import shingles

    docs = _docs(spark)
    sh = shingles(docs, 3)
    assert sh.columns == ["doc_id", "shingle", "h", "n_sh"]
    plain = (
        with_tokens(docs)
        .select("doc_id", F.explode(F.array_distinct(word_ngrams(F.col("toks"), 3, 3))).alias("shingle"))
        .withColumn("h", hash31(F.col("shingle")))
    )
    three = sh.select("doc_id", "shingle", "h")
    assert three.exceptAll(plain).count() == 0 and plain.exceptAll(three).count() == 0
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"), F.min("n_sh").alias("lo"),
                                      F.max("n_sh").alias("hi"))
    assert counts.where((F.col("c") != F.col("lo")) | (F.col("c") != F.col("hi"))).count() == 0


def test_ann_lsh_recall(spark):
    """Bucketed ANN must recover a reasonable share of the true
    top-5 neighbors (8-bit buckets on random vectors is a coarse
    filter; we assert recall > 0.05 and correctness of what it does
    return: every LSH neighbor's sim matches the exact sim)."""
    from sift_spark.operators.similarity import ann_lsh_topk, ann_topk_bruteforce

    emb = _emb(spark)
    exact = {(r.vec_id, r.neighbor_id): r.sim for r in ann_topk_bruteforce(emb, k=5).collect()}
    approx = {(r.vec_id, r.neighbor_id): r.sim for r in ann_lsh_topk(emb, k=5).collect()}
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) > 0.1
    for key in hits:
        assert abs(exact[key] - approx[key]) < 1e-9


def test_simhash_near_dups_have_low_hamming(spark):
    """Planted near-dup pairs (jaccard >= 0.8) should appear among
    low-hamming simhash pairs."""
    from sift_spark.operators.dedup import ngram_jaccard_pairs, simhash_pairs

    docs = _docs(spark)
    near = {(r.doc1, r.doc2) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    sim = {(r.doc1, r.doc2) for r in simhash_pairs(docs, max_hamming=3).collect()}
    if near:
        assert len(near & sim) / len(near) >= 0.8


def test_fingerprint_order_sensitive(spark):
    from pyspark.sql import Row

    from sift_spark.operators.text_analysis import doc_fingerprint

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text="c b a"), Row(doc_id=3, text="a b c")]
    )
    rows = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert rows[1] == rows[3]
    assert rows[1] != rows[2]


def test_duplicate_clusters_chain_and_disjoint(spark):
    """Min-label propagation must converge across a 4-hop chain and
    keep disjoint components separate."""
    from pyspark.sql import Row

    from sift_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [
            Row(doc1=1, doc2=2),
            Row(doc1=2, doc2=3),
            Row(doc1=3, doc2=4),
            Row(doc1=4, doc2=5),
            Row(doc1=10, doc2=11),
        ]
    )
    reps = {r.doc_id: r.rep_id for r in duplicate_clusters(pairs).collect()}
    assert reps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_duplicate_clusters_empty_pairs(spark):
    """No near-dup pairs → empty cluster table (loop exits on the
    first empty convergence probe)."""
    from pyspark.sql import types as T

    from sift_spark.operators.dedup import duplicate_clusters

    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("doc1", T.LongType()), T.StructField("doc2", T.LongType())])
    )
    assert duplicate_clusters(empty).count() == 0


def test_duplicate_clusters_property_union_find(spark):
    """Property: on random graphs, min-label propagation must equal a
    union-find ground truth (few examples — each is a Spark job)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Row

    from sift_spark.operators.dedup import duplicate_clusters

    def uf_clusters(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda p: p[0] != p[1]),
        min_size=1, max_size=20,
    ))
    def check(pairs):
        df = spark.createDataFrame([Row(doc1=a, doc2=b) for a, b in pairs])
        got = {r.doc_id: r.rep_id for r in duplicate_clusters(df).collect()}
        assert got == uf_clusters(pairs)

    check()


def test_doc_chunks_overlap_semantics(spark):
    """Chunks stride by 40 with window 50: a 90-token doc yields two
    full chunks; token 45 appears in both (overlap region)."""
    from pyspark.sql import Row

    from sift_spark.operators.text_analysis import doc_chunks

    toks = [f"t{i}" for i in range(90)]
    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(toks))])
    out = {r.chunk_id: r for r in doc_chunks(df).collect()}
    assert set(out) == {0, 1}
    assert out[0].chunk_text.split(" ") == toks[0:50]
    assert out[1].chunk_text.split(" ") == toks[40:90]
    assert out[1].n_chunk_tokens == 50
    # short doc: exactly one chunk, unpadded
    short = spark.createDataFrame([Row(doc_id=2, text="a b c")])
    rows = doc_chunks(short).collect()
    assert len(rows) == 1 and rows[0].chunk_text == "a b c" and rows[0].n_chunk_tokens == 3


def test_block_dedup_removes_repeated_blocks(spark):
    """A doc that exactly repeats another doc's 20-token block keeps
    everything but that block; the first occurrence survives."""
    from pyspark.sql import Row

    from sift_spark.operators.dedup import block_dedup

    blk = " ".join(f"b{i}" for i in range(20))
    uniq = " ".join(f"u{i}" for i in range(20))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=blk), Row(doc_id=2, text=blk + " " + uniq)]
    )
    out = {r.doc_id: r for r in block_dedup(df).collect()}
    assert out[1].n_kept == 1 and out[1].clean_text == blk
    assert out[2].n_blocks == 2 and out[2].n_kept == 1 and out[2].clean_text == uniq


def test_term_collocations_pmi_sign(spark):
    """A bigram that always co-occurs has positive PMI; min_count
    filters singletons."""
    from pyspark.sql import Row

    from sift_spark.operators.text_analysis import term_collocations

    df = spark.createDataFrame(
        [Row(doc_id=i, text="new york " + f"w{i} " * 3) for i in range(6)]
    )
    rows = {(r.w1, r.w2): r for r in term_collocations(df, min_count=5).collect()}
    assert ("new", "york") in rows
    assert rows[("new", "york")].pmi > 0


def test_ivf_pq_recall_vs_exact_ivf(spark):
    """IVF-PQ (ADC over 32-bit codes) probes the same cells as exact
    IVF, so query coverage must be identical; rank fidelity is bounded
    by the UNTRAINED random codebooks on uniform-random vectors
    (pairwise cosines concentrate near 0, so quantization noise is
    large relative to the similarity gaps — production swaps in
    k-means-trained codebooks). Assert determinism + meaningfully
    above the ~8% chance overlap (5 picks from ~60 candidates)."""
    from sift_spark.operators.similarity import ann_ivf_topk, ivf_pq_topk

    emb = _emb(spark)
    exact = {}
    for r in ann_ivf_topk(emb, k=5).collect():
        exact.setdefault(r.vec_id, set()).add(r.neighbor_id)
    adc = {}
    for r in ivf_pq_topk(emb, k=5).collect():
        adc.setdefault(r.vec_id, set()).add(r.neighbor_id)
    assert set(adc) == set(exact), "same query coverage"
    hits = sum(len(adc[v] & exact[v]) for v in exact)
    total = sum(len(exact[v]) for v in exact)
    assert hits / total > 0.12, f"ADC recall {hits}/{total}"
    # deterministic: a second run returns byte-identical assignments
    again = {}
    for r in ivf_pq_topk(emb, k=5).collect():
        again.setdefault(r.vec_id, set()).add(r.neighbor_id)
    assert again == adc


def test_doc_entropy_uniform_and_single(spark):
    """Uniform token distribution → ln(n); single repeated token → 0."""
    import math

    from sift_spark.operators.text_analysis import doc_entropy

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x x x x")], ["doc_id", "text"]
    )
    got = {r.doc_id: (r.n_tokens, r.entropy) for r in doc_entropy(docs).collect()}
    assert got[1] == (4, round(math.log(4), 6))
    assert got[2] == (4, 0.0)


def test_bigram_logprob_tiny_corpus(spark):
    """p(b|a)=2/3, p(c|a)=1/3 on {'a b','a b','a c'}; doc scores are
    the mean over the doc's bigrams; 1-token docs drop out."""
    import math

    from sift_spark.operators.text_analysis import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.avg_bigram_logprob for r in bigram_logprob(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == got[2] == round(math.log(2 / 3), 6)
    assert got[3] == round(math.log(1 / 3), 6)


def test_bpe_pair_counts_multiplicity(spark):
    """'aaa' (tf=2) contributes pair 'aa' twice per occurrence → 4."""
    from sift_spark.operators.text_analysis import bpe_pair_counts

    docs = spark.createDataFrame([(1, "aaa aaa ab")], ["doc_id", "text"])
    got = {r.pair: r.n for r in bpe_pair_counts(docs, min_count=1).collect()}
    assert got["aa"] == 4
    assert got["ab"] == 1


def test_filtered_corpus_drops_dups_and_junk(spark):
    from sift_spark.operators.text_analysis import filtered_corpus

    good = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, good),                      # survives
            (2, good),                      # exact dup of 1 → dropped
            (3, "the the the the the the the the the the"),  # repetitive → dropped
            (4, "short doc"),               # under length floor → dropped
        ],
        ["doc_id", "text"],
    )
    got = [r.doc_id for r in filtered_corpus(docs).collect()]
    assert got == [1]


def test_events_mad_constant_and_spike(spark):
    """Constant stream → mad 0; a single spike is the only outlier."""
    from sift_spark.operators.events import mad_outliers

    rows = [(i, 1000 + i, 1, "t", 5.0) for i in range(9)] + [(9, 1009, 1, "t", 500.0)]
    events = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).timestamp_seconds("ts"))
    got = mad_outliers(events, k=3.0).collect()[0]
    assert got.n == 10 and got.med == 5.0 and got.mad == 0.0
    assert got.n_outliers == 1


def test_basket_pairs_canonical_and_support(spark):
    from sift_spark.operators.relational import basket_pairs

    li = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 20), (2, 20), (2, 10), (3, 10), (3, 30)],
        ["l_orderkey", "l_partkey"],
    )
    got = {(r.part1, r.part2): r.support for r in basket_pairs(li, min_support=1).collect()}
    # duplicate line in order 1 collapses; pairs are canonical p1<p2
    assert got == {(10, 20): 2, (10, 30): 1}


def test_user_streaks_gap_splits(spark):
    from pyspark.sql import functions as F

    from sift_spark.operators.events import user_streaks

    # user 1 active days 0,1,2 then 5 → streaks 3 and 1
    days = [0, 1, 2, 5]
    rows = [(i, d * 86400 + 10, 1, "t", 1.0) for i, d in enumerate(days)]
    events = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.timestamp_seconds("ts"))
    got = user_streaks(events).collect()[0]
    assert (got.n_active_days, got.longest_streak) == (4, 3)


def test_revenue_growth_first_month_null(spark):
    from pyspark.sql import functions as F

    from sift_spark.operators.relational import revenue_growth

    orders = spark.createDataFrame(
        [(1, "1996-01-15", 100.0), (2, "1996-02-15", 150.0), (3, "1996-02-20", 50.0)],
        ["o_orderkey", "d", "o_totalprice"],
    ).withColumn("o_orderdate", F.to_timestamp("d"))
    got = {r.ym: (r.revenue, r.growth) for r in revenue_growth(orders).collect()}
    assert got[199601] == (100.0, None)
    assert got[199602] == (200.0, 1.0)


def test_semantic_dedup_drop_rule(spark):
    """Every dropped vector has a LOWER-id same-cluster vector within
    threshold cosine; every survivor does not (SemDeDup keep-min rule),
    verified against a direct numpy recompute."""
    import numpy as np

    from sift_spark.operators.dedup import semantic_dedup
    from sift_spark.operators.similarity import kmeans_clusters, round6_half_away

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    tau = 0.35
    kept = {r.vec_id for r in semantic_dedup(emb, threshold=tau).collect()}
    cl = {r.vec_id: r.cluster for r in kmeans_clusters(emb).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    E = np.stack([np.array(r.embedding, dtype="float64") for r in rows])
    n = np.sqrt((E * E).sum(axis=1))
    S = round6_half_away((E @ E.T) / np.outer(n, n))
    order = np.argsort(ids)
    for i in order:
        has_lower_dup = any(
            ids[j] < ids[i] and cl[ids[j]] == cl[ids[i]] and S[i, j] >= tau
            for j in order
        )
        assert (ids[i] in kept) == (not has_lower_dup), ids[i]


def test_bpe_train_matches_reference(spark):
    """Distributed BPE merges == a pure-Python reference trainer run
    on the same word-frequency table (same tie-break: count desc,
    pair asc)."""
    from collections import Counter

    from sift_spark.operators.dedup import tokens  # re-exported split
    from sift_spark.operators.text_analysis import bpe_train

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60)
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.n)
        for r in bpe_train(docs, n_merges=6, min_count=2).collect()
    ]

    # reference: same corpus, driver-side
    tf = Counter()
    for row in docs.select("text").collect():
        for w in row.text.split(" "):
            if w:
                tf[w] += 1
    words = {w: (list(w), c) for w, c in tf.items()}
    want = []
    for rank in range(6):
        pc = Counter()
        for syms, c in words.values():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        pc = {p: n for p, n in pc.items() if n >= 2}
        if not pc:
            break
        (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, left, right, left + right, n))
        for w, (syms, c) in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, c)
    assert got == want


def test_operators_tolerate_empty_input(spark):
    """Edge hygiene: key operators return empty results (not errors)
    on empty inputs — the first micro-batch of a new pipeline is often
    empty."""
    from sift_spark.operators.dedup import (
        duplicate_clusters,
        duplicate_clusters_star,
        minhash_lsh_pairs,
        semantic_dedup,
    )
    from sift_spark.operators.sampling import dsir_importance_weights
    from sift_spark.operators.text_analysis import bpe_train, quality_score

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    pairs = spark.createDataFrame([], "doc1 long, doc2 long")

    assert minhash_lsh_pairs(docs).count() == 0
    assert duplicate_clusters(pairs).count() == 0
    assert duplicate_clusters_star(pairs).count() == 0
    assert semantic_dedup(emb).count() == 0
    assert quality_score(docs).count() == 0
    assert dsir_importance_weights(docs).count() == 0
    assert bpe_train(docs).count() == 0


def test_quantile_auto_gate_selects_by_size(spark):
    """approx=None (the default) must pick the exact ntile path below
    spark.sift.quantile.exactRowLimit and the windowless approx path
    above it — both sides forced through the conf (VERDICT r9 #7)."""
    from tests.conftest import SF_SMOKE
    from sift_spark.io import table
    from sift_spark.operators.relational import rfm_segments
    from sift_spark.operators.scale import QUANTILE_EXACT_LIMIT_CONF

    orders = table(spark, SF_SMOKE, "orders")
    old = spark.conf.get(QUANTILE_EXACT_LIMIT_CONF, None)
    try:
        spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, "0")  # force approx
        plan = rfm_segments(orders)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, "limit=0 must select the windowless approx path"

        spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, str(10**12))  # force exact
        df = rfm_segments(orders)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ntile" in plan, "huge limit must select the exact ntile path"
        pinned = rfm_segments(orders, approx=False)
        assert df.exceptAll(pinned).count() == 0 and pinned.exceptAll(df).count() == 0
    finally:
        if old is None:
            spark.conf.unset(QUANTILE_EXACT_LIMIT_CONF)
        else:
            spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, old)


def test_ccnet_auto_gate_selects_by_size(spark):
    """Same two-sided gate check for ccnet_buckets: its gate reads the
    already-materialized scored-table count (no extra job)."""
    from tests.conftest import SF_SMOKE
    from sift_spark.io import table
    from sift_spark.operators.scale import QUANTILE_EXACT_LIMIT_CONF
    from sift_spark.operators.text_analysis import ccnet_buckets

    docs = table(spark, SF_SMOKE, "documents")
    old = spark.conf.get(QUANTILE_EXACT_LIMIT_CONF, None)
    try:
        spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, "0")  # force approx
        plan = ccnet_buckets(docs)._jdf.queryExecution().executedPlan().toString()
        assert "row_number" not in plan, "limit=0 must select the rankless approx path"

        spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, str(10**12))  # force exact
        auto = ccnet_buckets(docs)
        assert "row_number" in auto._jdf.queryExecution().executedPlan().toString()
        pinned = ccnet_buckets(docs, approx=False)
        assert auto.exceptAll(pinned).count() == 0 and pinned.exceptAll(auto).count() == 0
    finally:
        if old is None:
            spark.conf.unset(QUANTILE_EXACT_LIMIT_CONF)
        else:
            spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, old)


def test_profile_auto_gate_and_approx_tolerance(spark):
    """column_profile's distinct-count gate (VERDICT r10 #1): the
    approx path must plan WITHOUT an Expand (the exact multi-DISTINCT
    plan replicates the input once per column), the auto gate must
    flip on spark.sift.quantile.exactRowLimit, and the HLL distincts
    must land within ~3×rsd of exact on every column."""
    from tests.conftest import SF_SMOKE
    from sift_spark.io import table
    from sift_spark.operators.scale import QUANTILE_EXACT_LIMIT_CONF
    from sift_spark.operators.validation import column_profile

    cust = table(spark, SF_SMOKE, "customer")
    numeric = ("c_acctbal",)

    exact_plan = (
        column_profile(cust, numeric, approx=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan, "exact multi-DISTINCT should plan an Expand"
    approx_plan = (
        column_profile(cust, numeric, approx=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in approx_plan, "HLL path must be Expand-free"

    old = spark.conf.get(QUANTILE_EXACT_LIMIT_CONF, None)
    try:
        spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, "0")  # force approx
        plan = (
            column_profile(cust, numeric)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Expand" not in plan, "limit=0 must auto-select the HLL path"
        spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, str(10**12))  # force exact
        plan = (
            column_profile(cust, numeric)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Expand" in plan, "huge limit must auto-select the exact path"
    finally:
        if old is None:
            spark.conf.unset(QUANTILE_EXACT_LIMIT_CONF)
        else:
            spark.conf.set(QUANTILE_EXACT_LIMIT_CONF, old)

    exact = {r["column"]: r for r in column_profile(cust, numeric, approx=False).collect()}
    approx = {r["column"]: r for r in column_profile(cust, numeric, approx=True).collect()}
    assert set(exact) == set(approx)
    for c, er in exact.items():
        ar = approx[c]
        # nulls / rows / numeric stats are agg-identical on both paths
        assert (ar["n_rows"], ar["n_nulls"]) == (er["n_rows"], er["n_nulls"])
        assert ar["mean_v"] == er["mean_v"]
        if er["n_distinct"]:
            rel = abs(ar["n_distinct"] - er["n_distinct"]) / er["n_distinct"]
            assert rel <= 0.15, f"{c}: HLL off by {rel:.1%} (>3×rsd)"


def test_rfm_approx_matches_exact_within_one_tile(spark):
    """The approx-percentile scale path must agree with exact ntile up
    to quantile-boundary epsilon (≤1 tile per metric) and must not plan
    any window (the whole point is removing the single-partition
    ntiles)."""
    from tests.conftest import SF_SMOKE
    from sift_spark.io import table
    from sift_spark.operators.relational import rfm_segments

    orders = table(spark, SF_SMOKE, "orders")
    exact = {r["c_custkey"]: r for r in rfm_segments(orders).collect()}
    approx = rfm_segments(orders, approx=True)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = approx.collect()
    assert len(rows) == len(exact)
    for row in rows:
        e = exact[row["c_custkey"]]
        for m in ("r", "f", "m"):
            assert abs(row[m] - e[m]) <= 1, (row["c_custkey"], m, row[m], e[m])


def test_survey_numbers_match_registry():
    """SURVEY.md's closing numbers must match the live registries
    (scripts/check_survey.py; test count checked in standalone mode)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "check_survey",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "check_survey.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.check(include_test_count=False)


def test_format_round_trips(spark, tmp_path):
    """write_table/read_table round-trip the documents head through
    every built-in format with schema + values preserved (CSV via the
    explicit-schema path)."""
    from sift_spark.io import read_table, table, write_table

    from tests.conftest import SF_SMOKE

    df = table(spark, SF_SMOKE, "documents").limit(20).cache()
    want = {tuple(r) for r in df.collect()}
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / fmt)
        write_table(df, p, fmt)
        back = read_table(spark, p, fmt, schema=df.schema)
        assert back.schema == df.schema, fmt
        assert {tuple(r) for r in back.collect()} == want, fmt


def test_avro_gated_not_stubbed(spark, tmp_path):
    """Without the spark-avro package the avro path fails loudly."""
    import pytest

    from sift_spark.io import table, write_table

    from tests.conftest import SF_SMOKE

    df = table(spark, SF_SMOKE, "documents").limit(2)
    try:
        write_table(df, str(tmp_path / "a"), "avro")
    except RuntimeError as e:
        assert "spark-avro" in str(e)
    else:  # pragma: no cover - containers that ship the package
        pytest.skip("spark-avro available here")


def test_bpe_train_distributed_path_equals_fast_path(spark):
    """collect_vocab_max=0 forces the fully distributed merge loop;
    its merge table must equal the driver-side fast path's exactly
    (same tie-breaks)."""
    from sift_spark.operators.text_analysis import bpe_train

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60)
    fast = [tuple(r) for r in bpe_train(docs, n_merges=5, min_count=2).collect()]
    dist = [
        tuple(r)
        for r in bpe_train(
            docs, n_merges=5, min_count=2, collect_vocab_max=0
        ).collect()
    ]
    assert fast == dist and fast


def test_table_checks_counts_injected_violations(spark):
    from sift_spark.operators.validation import table_checks

    child = spark.createDataFrame(
        [(1, "A", 5.0), (2, "A", -1.0), (2, "X", None), (None, "B", 3.0)],
        "id long, status string, amt double",
    )
    parent = spark.createDataFrame([(1,), (3,)], "pid long")
    rep = {
        (r.check, r.column): (r.n_violations, r.n_rows, r.passed)
        for r in table_checks(
            child,
            not_null=("id",),
            unique=("id",),
            accepted_values={"status": ("A", "B")},
            non_negative=("amt",),
            foreign_keys={"id": (parent, "pid")},
        ).collect()
    }
    assert rep[("not_null", "id")] == (1, 4, 0)
    assert rep[("unique", "id")] == (1, 4, 0)          # id=2 twice -> 1 extra
    assert rep[("accepted_values", "status")] == (1, 4, 0)  # 'X'
    assert rep[("non_negative", "amt")] == (1, 4, 0)   # -1.0 (NULL amt not counted)
    assert rep[("foreign_key", "id")] == (2, 4, 0)     # both id=2 rows orphaned


def test_profile_drift_detects_changes(spark):
    from sift_spark.operators.validation import profile_drift

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, s string, v double"
    )
    new = spark.createDataFrame(
        [(1, 1.0, "x"), (2, None, "x"), (3, 4.0, "y"), (4, 5.0, "y")],
        "id long, v double, extra string",
    )
    got = {r.column: r for r in profile_drift(old, new, ("v",)).collect()}
    assert got["s"].status == "removed"
    assert got["extra"].status == "added"
    assert got["id"].status == "kept" and got["id"].null_rate_delta == 0.0
    # v: nulls 0/3 -> 1/4; mean 2.0 -> (1+4+5)/3
    assert got["v"].null_rate_delta == 0.25
    assert abs(got["v"].mean_delta - (10.0 / 3 - 2.0)) < 1e-6


def test_window_uniques_approx_within_tolerance(spark):
    """The HLL++ scale path must agree with exact distinct within the
    configured relative standard deviation (x3 slack for small
    windows)."""
    from sift_spark.operators.events import window_uniques

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    exact = {
        (r.window_start, r.event_type): r.n_users
        for r in window_uniques(ev).collect()
    }
    approx = {
        (r.window_start, r.event_type): r.n_users
        for r in window_uniques(ev, approx=True, rsd=0.05).collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.15 * n), (k, n, approx[k])


def test_interarrival_day_bucketed_equals_direct(spark):
    """The skew-safe day-bucketed path (within-day windows + a one-row
    -per-day boundary handoff) must produce the identical gap profile
    to the direct per-type window."""
    from sift_spark.operators.events import interarrival_stats

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    direct = {tuple(r) for r in interarrival_stats(ev).collect()}
    bucketed = {tuple(r) for r in interarrival_stats(ev, day_bucketed=True).collect()}
    assert direct == bucketed and direct


def test_ansi_zero_variance_inputs_do_not_crash(spark):
    """Constant-value types / dead embedding dimensions have zero
    variance: under Spark 4's default ANSI mode an unguarded division
    THROWS mid-job. All three z-score-family operators must instead
    emit NULL z for the degenerate group (caught by the CUSUM
    property test; guarded identically in the oracles)."""
    from sift_spark.operators.events import anomaly_zscore, changepoint_cusum
    from sift_spark.operators.similarity import normalize_embeddings

    ev = spark.createDataFrame(
        [(i, i * 60, 1, "t", 5.0) for i in range(6)],
        "event_id long, es long, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "cast(es as timestamp) as ts", "user_id", "event_type", "value"
    )
    assert anomaly_zscore(ev).collect() == []  # constant: no anomalies
    assert all(
        r.cusum_pos is None for r in changepoint_cusum(ev, bucket_s=60).collect()
    )
    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    rows = normalize_embeddings(emb).collect()
    assert all(r.z is None for r in rows if r.dim == 0)      # dead dim
    assert all(r.z is not None for r in rows if r.dim == 1)  # live dim


def test_new_r3_operators_tolerate_empty_input(spark):
    """Edge hygiene for the late-r3 operators: empty corpus/event
    inputs produce empty results (or all-zero weights), not errors."""
    from sift_spark.operators.classify import logreg_train
    from sift_spark.operators.dedup import doc_embedding_dup_pairs
    from sift_spark.operators.events import decayed_counts
    from sift_spark.operators.incremental import snapshot_delta, term_drift
    from sift_spark.operators.sampling import stratified_kfold
    from sift_spark.operators.text_analysis import (
        ccnet_buckets,
        corpus_datacard,
        doc_srp_embeddings,
    )
    from sift_spark.operators.tokenizer import unigram_train

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )

    assert ccnet_buckets(docs).count() == 0
    assert doc_srp_embeddings(docs).count() == 0
    assert snapshot_delta(docs, docs).count() == 0
    assert term_drift(docs, docs).count() == 0
    assert decayed_counts(ev).count() == 0
    assert stratified_kfold(docs, "doc_id", "lang").count() == 0
    assert doc_embedding_dup_pairs(docs).count() == 0
    assert unigram_train(docs).count() == 0
    # an empty corpus trains nothing: weights stay at init
    assert logreg_train(docs, n_iter=1) == [0.0, 0.0, 0.0, 0.0]


def test_gopher_rules_verdicts(spark):
    """Rule semantics on handcrafted docs: a clean stopword-bearing
    doc passes; too-short, symbol-heavy, and stopword-free docs fail
    on exactly the expected rule."""
    from pyspark.sql import Row

    from sift_spark.operators.text_analysis import gopher_rules

    good = " ".join(["the"] + ["word"] * 60)          # 61 words, has 'the'
    short = "the tiny doc"                             # < min_words
    hashy = " ".join(["the"] + ["#tag"] * 60)          # symbol frac ~1
    nostop = " ".join(["word"] * 60)                   # no gopher stopword
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=good), Row(doc_id=2, text=short),
         Row(doc_id=3, text=hashy), Row(doc_id=4, text=nostop)]
    )
    rows = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert rows[1].passes
    assert not rows[2].passes and rows[2].n_words == 3
    assert not rows[3].passes and rows[3].symbol_word_frac > 0.1
    assert not rows[4].passes and rows[4].n_stop_distinct == 0
    assert rows[1].n_stop_distinct == 1
    # mean_word_len: (3 + 60*4) / 61 rounded
    assert abs(rows[1].mean_word_len - round((3 + 60 * 4) / 61, 6)) < 1e-9


def test_gopher_repetition_verdicts(spark):
    """Repetition-rule semantics: a repeated-phrase doc fails on the
    top-2gram mass; a diverse doc passes; fractions match hand
    counts."""
    from pyspark.sql import Row

    from sift_spark.operators.text_analysis import gopher_repetition

    spam = " ".join(["buy now"] * 30)                      # 60 tokens
    clean = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=spam), Row(doc_id=2, text=clean)]
    )
    rows = {r.doc_id: r for r in gopher_repetition(docs).collect()}
    assert not rows[1].passes and rows[1].top_2gram_frac == 1.0
    # 59 5-grams, only 2 distinct ("buy now buy now buy" / "now buy ...")
    assert rows[1].dup_5gram_frac == 1.0
    assert rows[2].passes
    # clean doc: every 2-gram unique -> max count 1 -> 2/60
    assert abs(rows[2].top_2gram_frac - round(2 / 60, 6)) < 1e-9
    assert rows[2].dup_5gram_frac == 0.0


def test_embedding_outliers_flags_injected_outlier(spark):
    """A vector pushed far from every centroid is flagged; the z
    threshold behaves (members near their centroid are not)."""
    import numpy as np
    from pyspark.sql import Row

    from sift_spark.functions.core import IVF_CENTROIDS
    from sift_spark.operators.similarity import embedding_outliers

    rng = np.random.default_rng(7)
    base = np.array(IVF_CENTROIDS[0])
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in base + rng.normal(0, 0.01, 64)])
        for i in range(20)
    ]
    # scale ALONG the centroid direction: still nearest to centroid 0,
    # but far out in its cluster's distance distribution
    rows.append(Row(vec_id=99, embedding=[float(x) for x in base * 3.0]))
    out = {r.vec_id: r for r in embedding_outliers(spark.createDataFrame(rows)).collect()}
    assert out[99].is_outlier and out[99].z > 2.0
    flagged = [v for v, r in out.items() if r.is_outlier]
    assert flagged == [99]
    assert all(r.d2 >= 0 for r in out.values())


def test_fuzzy_name_pairs_rejects_unsupported_radius(spark):
    """Single-position masking only generates Hamming<=1 candidates;
    asking for a larger radius must raise instead of silently
    returning the radius-1 pairs."""
    import pytest

    from sift_spark.operators.relational import fuzzy_name_pairs

    df = spark.createDataFrame([(1, "Customer#000000001")], "c_custkey int, c_name string")
    with pytest.raises(ValueError, match="Hamming"):
        fuzzy_name_pairs(df, max_dist=2)
    # the supported radii still work
    assert fuzzy_name_pairs(df, max_dist=1).columns == ["k1", "k2", "dist"]


def test_shingle_family_accepts_shared_artifact(spark):
    """Every shingle-family operator produces identical results when
    handed a pre-materialized shingles(docs, n) table (the shared
    corpus artifact the registered queries use) as when tokenizing
    internally."""
    from pyspark.sql import functions as F

    from sift_spark.operators.dedup import (
        containment_pairs,
        doc_novelty,
        fuzzy_contamination,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
        shingles,
        similar_docs,
    )
    from sift_spark.operators.text_analysis import contamination_check

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sh = shingles(docs, 3).persist()
    sh.count()
    try:
        cases = [
            (minhash_lsh_pairs(docs, 3, 0.8), minhash_lsh_pairs(docs, 3, 0.8, sh=sh)),
            (ngram_jaccard_pairs(docs, 3, 0.8), ngram_jaccard_pairs(docs, 3, 0.8, sh=sh)),
            (
                ngram_jaccard_pairs_prefix(docs, 3, 0.8),
                ngram_jaccard_pairs_prefix(docs, 3, 0.8, sh=sh),
            ),
            (containment_pairs(docs, 3, 0.5), containment_pairs(docs, 3, 0.5, sh=sh)),
            (doc_novelty(docs, 3), doc_novelty(docs, 3, sh=sh)),
            (
                similar_docs(docs, query_doc_id=7, k=10),
                similar_docs(docs, query_doc_id=7, k=10, sh=sh),
            ),
        ]
        corpus = docs.where(F.col("doc_id") % 20 != 0)
        bench = docs.where(F.col("doc_id") % 20 == 0)
        sub = sh.where(F.col("doc_id") % 20 != 0)
        cases.append(
            (
                contamination_check(corpus, bench),
                contamination_check(corpus, bench, sh=sub),
            )
        )
        cases.append(
            (
                fuzzy_contamination(corpus, bench, threshold=0.5),
                fuzzy_contamination(corpus, bench, threshold=0.5, sh=sub),
            )
        )
        for own, shared in cases:
            a = sorted(map(tuple, own.collect()))
            b = sorted(map(tuple, shared.collect()))
            assert a == b and len(a) > 0
    finally:
        sh.unpersist()
