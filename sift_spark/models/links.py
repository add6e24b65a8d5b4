"""Link-derived entity models (reference parity: sift/models/links.py).

All builders take the exploded link table produced by
``sift_spark.corpora.synthetic.wikify_links`` — schema
``(doc_id, pos, anchor, start, stop, target)`` — or any DataFrame with
the same columns (the Wikipedia corpus reader emits it too). Every
model is a single declarative plan: one hash-aggregate shuffle on its
natural key, map-side partial aggregation for free, no Python in the
hot path.

Determinism for the oracle gate: ranks are ``row_number`` over
(count DESC, key ASC); set-valued outputs are emitted as sorted CSV
strings so value hashes are stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sift_spark.caching import local_persist


def entity_counts(links: DataFrame, min_count: int = 1, prefix: str | None = None) -> DataFrame:
    """Inlink counts per target (reference sift/models/links.py:13
    ``EntityCounts``): count of link occurrences per target, keeping
    targets with count > min_count, optional target-prefix filter."""
    m = links
    if prefix:
        m = m.where(F.col("target").startswith(prefix))
    return (
        m.groupBy("target")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") > min_count)
    )


def entity_name_counts(links: DataFrame, lowercase: bool = False, prefix: str | None = None) -> DataFrame:
    """Anchor-text → target distributions (reference links.py:41
    ``EntityNameCounts``), flattened to (anchor, target, count)."""
    m = links.where((F.col("anchor") != "") & (F.col("target") != ""))
    if prefix:
        m = m.where(F.col("target").startswith(prefix))
    anchor = F.lower(F.col("anchor")) if lowercase else F.col("anchor")
    return (
        m.select(anchor.alias("anchor"), "target")
        .groupBy("anchor", "target")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def name_part_counts(links: DataFrame, docs_tokens: DataFrame, max_ngram: int = 2,
                     tf: DataFrame | None = None) -> DataFrame:
    """Span-position counts for anchor ngrams (reference links.py:79
    ``NamePartCounts``): 'B'egin/'E'nd/'I'nside counts from anchors,
    'O'utside counts from corpus ngrams with count > 1; keep terms
    that occur outside anchors and in ≥1 anchor position.

    ``docs_tokens`` is the full token table (pos-exploded documents).
    Output flat: (term, spantype, count).

    ``tf`` (r11, the sf1 profile fix): the session's (doc_id, term,
    tf) posting artifact. The 'O' branch is a plain corpus term count
    — per-term ``sum(tf)`` over the artifact is identical to counting
    the exploded token table (A/B-verified equal hashes), but shuffles
    the tf-sized table (distinct doc×term pairs) instead of the
    token-sized explode, and skips the whole explode scan when the
    artifact is already materialized for the tf-idf family. Callers
    must pass a tf derived from the SAME corpus as ``docs_tokens``
    (the registered query passes both from one artifact chain).
    """
    from sift_spark.models.text import _ngrams_n

    # per-n enumeration exactly as the reference (links.py:100
    # iter_span_count_types): for EACH n, the n-gram partition of the
    # anchor contributes parts[0]→B, parts[-1]→E, interior→I — a
    # single-part partition fires both B and E. A flattened cross-n
    # index would mislabel higher-n grams of multi-word anchors as I.
    # All n values are enumerated in ONE pass: each n contributes a
    # (term, spantype) entry array built with an indexed transform
    # (flatten absorbs the single-part B+E double emission), the
    # arrays concat, and a single explode feeds the aggregate — one
    # anchor scan and one shuffle instead of a union of per-n scans.
    #
    # r11 (the sf1 profile found the per-link gram enumeration IS the
    # floor): enumerate over the DISTINCT anchor texts weighted by
    # occurrence count — the same distinct-vocab trick the BPE
    # trainer uses. Anchor text is vocabulary-sized (sublinear in the
    # corpus), so the gram transform/flatten/explode runs on ~|vocab|
    # rows instead of every link occurrence, and the aggregate sums
    # the weights: sum over occurrences of [term in position] ==
    # sum over distinct anchors of weight·[term in position].
    # Identical counts by commutativity.
    anchors = links.groupBy("anchor").agg(F.count(F.lit(1)).alias("w")).select(
        F.split(F.col("anchor"), " ").alias("toks"), "w"
    )
    gram_cols = {}
    for n in range(1, max_ngram + 1):
        # materialize the gram array and its length as columns: a
        # computed expression referenced inside a transform lambda
        # re-evaluates per element
        anchors = anchors.withColumn(f"_g{n}", _ngrams_n(F.col("toks"), n)).withColumn(
            f"_np{n}", F.size(f"_g{n}")
        )
        gram_cols[n] = (f"_g{n}", f"_np{n}")

    def _entries(g: str, np_: str):
        def lab(x, s):
            return F.struct(x.alias("term"), F.lit(s).alias("spantype"))

        last = F.col(np_) - 1
        return F.flatten(
            F.transform(
                F.col(g),
                lambda x, i: F.when(
                    (i == 0) & (i == last), F.array(lab(x, "B"), lab(x, "E"))
                )
                .when(i == 0, F.array(lab(x, "B")))
                .when(i == last, F.array(lab(x, "E")))
                .otherwise(F.array(lab(x, "I"))),
            )
        )

    all_parts = anchors.select(
        "w",
        F.explode(
            F.concat(*[_entries(g, np_) for g, np_ in gram_cols.values()])
        ).alias("e"),
    ).select(F.col("e.term").alias("term"), F.col("e.spantype").alias("spantype"), "w")
    bie = all_parts.groupBy("term", "spantype").agg(F.sum("w").alias("count"))
    if tf is not None:
        outside = (
            tf.groupBy("term")
            .agg(F.sum("tf").alias("count"))
            .where(F.col("count") > 1)
            .select("term", F.lit("O").alias("spantype"), "count")
        )
    else:
        outside = (
            docs_tokens.select(F.col("anchor").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("count"))
            .where(F.col("count") > 1)
            .select("term", F.lit("O").alias("spantype"), "count")
        )
    all_counts = bie.unionByName(outside)
    # keep terms with an O count and at least one other span type
    keeps = (
        all_counts.groupBy("term")
        .agg(
            F.max(F.when(F.col("spantype") == "O", 1).otherwise(0)).alias("has_o"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .where((F.col("has_o") == 1) & (F.col("n_types") > 1))
        .select("term")
    )
    return all_counts.join(keeps, "term")


def entity_inlinks(links: DataFrame) -> DataFrame:
    """Distinct inlink source set per target (reference links.py:136
    ``EntityInlinks``), as sorted CSV plus count for stable hashing."""
    return (
        links.select("target", "doc_id")
        .distinct()
        .groupBy("target")
        .agg(
            F.count(F.lit(1)).alias("n_inlinks"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("inlinks"),
        )
    )


def entity_vocab(links: DataFrame, min_rank: int | None = 0, max_rank: int | None = 10000) -> DataFrame:
    """Dense df-ranked entity index (reference links.py:154
    ``EntityVocab``): rank 0 = most frequent; ties broken by target
    ascending (the reference's sortByKey leaves ties undefined — a
    total order is required for cross-engine parity)."""
    counts = links.groupBy("target").agg(F.count(F.lit(1)).alias("count"))
    order = (F.col("count").desc(), F.col("target").asc())
    if max_rank is not None:
        # orderBy+limit plans as TakeOrderedAndProject, so the dense
        # rank below runs on ≤ max_rank rows — never a global window
        # over the full (corpus-scale) vocabulary
        counts = counts.orderBy(*order).limit(max_rank)
    m = counts.withColumn("rank", F.row_number().over(Window.orderBy(*order)) - 1)
    if min_rank is not None:
        m = m.where(F.col("rank") >= min_rank)
    return m


def entity_comentions(links: DataFrame) -> DataFrame:
    """Per-document distinct entity sets (reference links.py:191
    ``EntityComentions``) as sorted CSV."""
    return (
        links.select("doc_id", "target")
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.array_join(F.sort_array(F.collect_list("target")), ",").alias("entities"),
        )
    )


def comention_edges(il: DataFrame) -> DataFrame:
    """Directed comention edges (src, dst) of a doc-distinct
    (doc_id, target) table: both orientations of every entity pair
    sharing a document, no self-loops, each edge once — symmetric by
    construction. The keyed self-join on doc_id (never a cross join)
    fans out deg(d)² per document."""
    return (
        il.alias("l")
        .join(il.alias("r"), "doc_id")
        .where(F.col("l.target") != F.col("r.target"))
        .select(F.col("l.target").alias("src"), F.col("r.target").alias("dst"))
        .distinct()
    )


def comention_pair_counts(il: DataFrame) -> DataFrame:
    """Undirected comention pairs (e1, e2, n) of a doc-distinct
    (doc_id, target) table: e1 < e2, n = number of documents linking
    both. Same keyed self-join as :func:`comention_edges`; the pair
    aggregate doubles as the distinct edge list."""
    return (
        il.alias("l")
        .join(il.alias("r"), "doc_id")
        .where(F.col("l.target") < F.col("r.target"))
        .groupBy(F.col("l.target").alias("e1"), F.col("r.target").alias("e2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def entity_relatedness(links: DataFrame, min_inlinks: int = 1) -> DataFrame:
    """Pairwise entity relatedness as jaccard over inlink sets — the
    inlink-based relatedness modeling the reference advertises
    (README: 'Model entity popularity, alternative names and
    relatedness using inlinks'; built on links.py:136 inlink sets).

    Candidates are entity pairs sharing ≥1 inlinking document (a
    keyed self-join on doc_id), so disconnected pairs are never
    materialized. Output: (e1, e2, relatedness)."""
    # materialize: self-join sides + size aggregate race
    il = local_persist(links.select("doc_id", "target").distinct())
    sizes = il.groupBy("target").agg(F.count(F.lit(1)).alias("n"))
    inter = comention_pair_counts(il).withColumnRenamed("n", "inter")
    return (
        inter.join(sizes.select(F.col("target").alias("e1"), F.col("n").alias("n1")), "e1")
        .join(sizes.select(F.col("target").alias("e2"), F.col("n").alias("n2")), "e2")
        .where((F.col("n1") >= min_inlinks) & (F.col("n2") >= min_inlinks))
        .select(
            "e1",
            "e2",
            F.round(F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 6).alias("relatedness"),
        )
    )


def mapped_entity_comentions(links: DataFrame, vocab: DataFrame) -> DataFrame:
    """Comentions with entities mapped to vocab ranks (reference
    links.py:215 ``MappedEntityComentions``), ordered by rank.

    The reference broadcasts a collected vocab dict; here the vocab is
    a DataFrame joined on target — Catalyst broadcasts it when small,
    and at 100 TB it stays a distributed shuffle join instead of
    failing on driver memory.
    """
    mapped = (
        links.select("doc_id", "target")
        .distinct()
        .join(vocab.select("target", "rank"), "target")
    )
    return mapped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.array_join(F.sort_array(F.collect_list("rank")), ",").alias("entity_ranks"),
    )


def entity_pagerank(links: DataFrame, damping: float = 0.85, n_iter: int = 5) -> DataFrame:
    """PageRank over the entity comention graph: entities are linked
    (symmetrically) when comentioned in a document, so every node has
    out-degree >= 1 and there is no dangling mass. Fixed iteration
    count; the DuckDB oracle unrolls the same iterations, and both
    engines round only at the output edge.

    Extends the reference's inlink-popularity models (links.py:13
    EntityCounts, README "model entity popularity ... using inlinks")
    with a global graph centrality.

    Scale shape: the comention self-join is keyed on doc_id (never a
    cross join); each iteration is one keyed shuffle (join on src +
    groupBy dst) over the edge list — the classic distributed
    PageRank layout. NO action at all: the node count rides in as a
    broadcast 1-row aggregate (the identical broadcast subplan in
    every iteration collapses to one build via ReusedExchange), so
    with a fixed iteration count the whole computation is one lazy
    plan; edges/degrees are persisted for reuse across iterations.
    """
    edges = local_persist(
        comention_edges(links.select("doc_id", "target").distinct()), eager=False
    )
    deg = local_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), eager=False
    )
    # node count as a broadcast scalar, never a driver action: ONE
    # 1-row crossJoin at init, then the count rides along as a column
    # (constant within every group, so first() is deterministic) —
    # per-iteration broadcasts would each schedule their own build
    # job, which is exactly the small-SF floor this avoids. The
    # division 1.0/n is the same IEEE double either way.
    nrow = deg.agg(F.count(F.lit(1)).alias("_n"))
    ranks = (
        deg.crossJoin(F.broadcast(nrow))
        .select(
            F.col("src").alias("node"),
            (F.lit(1.0) / F.col("_n")).alias("r"),
            "_n",
        )
    )
    # NOTE (r11 optimization round): hoisting the loop-invariant
    # edges ⨝ deg join into a persisted (src, dst, deg) table was
    # A/B-measured and REVERTED — the extra cache materialization cost
    # more than the saved per-iteration join at every tested SF
    # (interleaved min: 1.35s HEAD vs 1.48s hoisted at sf0.1).
    #
    # r12 (guide §3): join the NODE-sized tables first — deg ⨝ ranks
    # on the node key — and attach the per-source contribution to the
    # edge list with ONE edge-sized join. The old shape ran TWO
    # edge-sized joins per iteration (edges⨝deg produced an edge-sized
    # intermediate carrying deg, then re-joined ranks edge-wide).
    # Output-identical: the per-edge contribution r/deg is the same
    # IEEE division either way. ``_n`` stays a carried column (NOT a
    # per-iteration broadcast re-attach, which was tried here and
    # dropped: each 1-row scalar join schedules its own broadcast
    # build job — the measured 53-vs-19-job floor the init comment
    # documents, asserted by tests/test_plans.py).
    for _ in range(n_iter):
        src_c = deg.join(ranks, F.col("src") == F.col("node")).select(
            "src", (F.col("r") / F.col("deg")).alias("c"), "_n"
        )
        contrib = edges.join(src_c, "src").select("dst", "c", "_n")
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("_sum_c"), F.first("_n").alias("_n"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(1.0 - damping) / F.col("_n")
                    + F.lit(damping) * F.col("_sum_c")
                ).alias("r"),
                "_n",
            )
        )
    return ranks.select(F.col("node").alias("entity"), F.round("r", 6).alias("pagerank"))


def entity_pmi(links: DataFrame, min_pair_count: int = 1) -> DataFrame:
    """Pointwise mutual information between comentioned entities:
    pmi = ln(N · c_ab / (c_a · c_b)) over per-document distinct
    comention events (N = number of documents with ≥1 link).
    Extends the reference's jaccard relatedness (links.py:136 inlink
    sets) with the information-theoretic variant.

    Same scale shape as entity_relatedness: the pair table comes from
    a keyed self-join on doc_id (never a cross join), marginals join
    back per side, the document count rides in as a broadcast 1-row
    aggregate. Output (e1, e2, pair_count, pmi)."""
    # materialize: four consumers (n_docs, marginals, join sides) race
    il = local_persist(links.select("doc_id", "target").distinct())
    n_docs = il.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    marg = il.groupBy("target").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        comention_pair_counts(il)
        .withColumnRenamed("n", "pair_count")
        .where(F.col("pair_count") >= min_pair_count)
    )
    return (
        pairs.join(marg.select(F.col("target").alias("e1"), F.col("c").alias("c1")), "e1")
        .join(marg.select(F.col("target").alias("e2"), F.col("c").alias("c2")), "e2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "e1", "e2", "pair_count",
            F.round(
                F.log(F.col("n_docs") * F.col("pair_count") / (F.col("c1") * F.col("c2"))), 6
            ).alias("pmi"),
        )
    )


def comention_triangles(links: DataFrame) -> DataFrame:
    """Per-entity triangle counts over the comention graph —
    (target, n_triangles) for entities in at least one triangle. The
    clustering-coefficient numerator: how interconnected an entity's
    comention neighborhood is (extends the reference's pairwise
    relatedness, links.py:136, to a 3-clique statistic).

    Standard distributed triangle enumeration: canonical edges
    (a < b) so each triangle is generated exactly once as
    a < b < c; two keyed self-joins (on b, then (a,c)) — shuffle
    carries the edge list, never node neighborhoods, so skew is
    bounded by the edge count of the hottest vertex pair, and the
    degree-ordered orientation (a < b) keeps the join fan-out to
    wedge counts."""
    il = links.select("doc_id", "target").distinct()
    # three wedge-join consumers race a lazy cache
    edges = local_persist(comention_pair_counts(il).select("e1", "e2"))
    e1 = edges.select(F.col("e1").alias("x"), F.col("e2").alias("y"))
    e2 = edges.select(F.col("e1").alias("y"), F.col("e2").alias("z"))
    e3 = edges.select(F.col("e1").alias("x"), F.col("e2").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("target"))
        .groupBy("target")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def comention_degrees(links: DataFrame) -> DataFrame:
    """Degree statistics of the comention graph: (target, degree,
    n_docs) — distinct comention partners and inlinking documents per
    entity. Two keyed aggregations off the same doc-distinct link
    table (the self-join emits each undirected edge once; degree
    counts both orientations via the symmetric union)."""
    il = links.select("doc_id", "target").distinct()
    # materialize: the symmetric union's two branches race
    e = local_persist(comention_pair_counts(il).select("e1", "e2"))
    sym = e.union(e.select("e2", "e1"))
    deg = sym.groupBy(F.col("e1").alias("target")).agg(F.count(F.lit(1)).alias("degree"))
    nd = il.groupBy("target").agg(F.count(F.lit(1)).alias("n_docs"))
    return deg.join(nd, "target").select("target", "degree", "n_docs")


def name_entity_priors(links: DataFrame) -> DataFrame:
    """P(entity | anchor text) — the prior-probability model entity
    linkers build from ``entity_name_counts`` (reference links.py:41;
    the toolkit's primary downstream artifact for named-entity
    disambiguation): (anchor, target, count, prior). The per-anchor
    normalizer is a window sum over the post-aggregation rows (one
    per (anchor, target)), so no second shuffle of the corpus."""
    from pyspark.sql import Window

    counts = entity_name_counts(links)
    w = Window.partitionBy("anchor")
    return counts.select(
        "anchor", "target", "count",
        F.round(F.col("count") / F.sum("count").over(w), 6).alias("prior"),
    )


def name_disambig_baseline(links: DataFrame) -> DataFrame:
    """Most-likely-entity baseline linker: for every anchor text, the
    argmax-prior target and its prior (= the accuracy of always
    predicting it under the corpus distribution):
    (anchor, predicted_target, prior, n_mentions). Ties break toward
    the lexicographically first target — a total order, engine-exact."""
    from pyspark.sql import Window

    pri = name_entity_priors(links)
    w = Window.partitionBy("anchor").orderBy(F.col("count").desc(), F.col("target").asc())
    totals = pri.groupBy("anchor").agg(F.sum("count").alias("n_mentions"))
    top = pri.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return top.join(totals, "anchor").select(
        "anchor", F.col("target").alias("predicted_target"), "prior", "n_mentions"
    )


def anchor_ambiguity(links: DataFrame) -> DataFrame:
    """Ambiguity profile per anchor text: how hard each surface form
    is to disambiguate — (anchor, n_targets, n_mentions, entropy)
    with entropy = −Σ p·ln p over the anchor's target distribution
    (0 for unambiguous anchors). The linker-evaluation companion to
    ``name_entity_priors``.

    Runs entirely on post-aggregation (anchor, target) rows — one
    corpus shuffle for the counts, then an anchor-keyed aggregate of
    the k-row distribution table."""
    counts = entity_name_counts(links)
    return counts.groupBy("anchor").agg(
        F.count(F.lit(1)).alias("n_targets"),
        F.sum("count").alias("n_mentions"),
        F.round(
            F.log(F.sum("count")) - F.sum(F.col("count") * F.log("count")) / F.sum("count"),
            6,
        ).alias("entropy"),
    )


def entity_components(links: DataFrame, min_comentions: int = 2) -> DataFrame:
    """Weakly-connected components of the entity comention graph:
    (target, component) with ``component`` = the lexicographically
    smallest entity in the component. Edges are entity pairs
    co-mentioned in ≥ ``min_comentions`` documents (the threshold
    keeps the graph sparse — ubiquitous entities would otherwise
    connect everything).

    The contraction itself is :func:`sift_spark.operators.dedup.
    duplicate_clusters_star` — large-star/small-star works unchanged
    on string vertex ids, and the comention graph is exactly the
    unknown-diameter case it exists for (topic chains, not cliques).
    """
    from sift_spark.operators.dedup import duplicate_clusters_star

    il = links.select("doc_id", "target").distinct()
    pairs = (
        comention_pair_counts(il)
        .where(F.col("n") >= min_comentions)
        .select(F.col("e1").alias("doc1"), F.col("e2").alias("doc2"))
    )
    return duplicate_clusters_star(pairs).select(
        F.col("doc_id").alias("target"), F.col("rep_id").alias("component")
    )


def entity_hits(links: DataFrame, n_iter: int = 5) -> DataFrame:
    """HITS (Kleinberg 1999) on the bipartite doc→entity link graph:
    documents are hubs, entities are authorities. Returns per-entity
    (entity, authority) L1-normalized after ``n_iter`` mutual-update
    rounds, rounded at the output edge.

    Extends the reference's inlink-popularity model (links.py:13
    EntityCounts) the same way entity_pagerank does: inlink COUNTS
    weight every linking doc equally; HITS weights links by how well
    the linking doc's other links point at strong entities.

    Scale shape: bipartite HITS is power iteration on AᵀA, and AᵀA is
    the entity COMENTION matrix M[e,e'] = #docs linking both (diagonal
    = inlink counts): a_{t+1}(e) = Σ_{d∋e} Σ_{e'∈d} a_t(e') =
    Σ_{e'} M[e,e']·a_t(e'). So the CORPUS is touched exactly twice —
    once for M (the per-doc self-join fans out deg², bounded by
    per-doc link counts) and once for a₁ = inlink counts — and every
    iteration is a join+aggregate on the ENTITY comention graph, which
    is corpus-independent in size (entities ≪ docs, always). The
    unrolled edge-space form re-shuffled the corpus-sized edge list
    2×n_iter times (~20 sequential stages at sf1 = the measured 9.9s
    floor). Hub scores never materialize; project them post-hoc as
    Σ_{e∈d} a(e) if needed.

    Exactness across engines: every intermediate is an INTEGER, and
    the iteration runs in DECIMAL(38,0) (Spark 128-bit decimal; the
    DuckDB oracle mirrors with HUGEINT) — exact, summation-order-
    independent integer arithmetic end to end, converted to double
    only once for the final normalized ratio (both engines round the
    same exact integer to the same nearest double). Doubles alone are
    NOT enough: (Σdeg)-factor growth per round pushed |a_raw| past
    2^53 by iteration 4 at sf0.001 already (measured 4.8e16), after
    which float sums are order-dependent and only the 6dp output
    rounding hid the drift. 128-bit integers give 38 digits of
    headroom (~1e7 growth/round at n_iter=5); overflow yields NULL,
    which the final pass turns into a loud error instead of a wrong
    hash. The iterations run UNNORMALIZED (per-round L1 norms would
    make each round reference its predecessor twice — the 4^n
    lazy-unroll trap measured as a driver-heap OOM); one final
    normalization crossJoin emits round(a/Σa, 6)."""
    edges = local_persist(links.select("doc_id", "target").distinct(), eager=False)
    # comention matrix, diagonal included; persisted because every
    # iteration joins it (lazy, it would recompute the corpus
    # self-join per round). Eager count per the shingle-family rule:
    # the self-join's two input stages race a lazy cache, and it
    # fills edges' cache for the a1 aggregate underneath.
    # r12 NOTE: replacing this persist with an eager lineage cut
    # (localCheckpoint, the _docs_pairs trick) was A/B-measured over 4
    # interleaved rounds and REVERTED: shared-min 1.24→1.11 s looked
    # flat-to-better, but 3 of 4 rounds read slower — M is mid-sized
    # (the entity-pair matrix), and RDD-level checkpoint blocks store
    # raw rows, losing the columnar SQL-cache compression the
    # iteration re-reads five times.
    M = (
        edges.alias("l")
        .join(edges.alias("r"), "doc_id")
        .groupBy(F.col("l.target").alias("e"), F.col("r.target").alias("e2"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
    )
    M = local_persist(M)
    a = edges.groupBy("target").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("a_raw")
    )
    for _ in range(n_iter - 1):
        a = (
            M.join(a.select(F.col("target").alias("e2"), "a_raw"), "e2")
            .groupBy("e")
            .agg(F.sum(F.col("m") * F.col("a_raw")).alias("a_raw"))
            .select(F.col("e").alias("target"), "a_raw")
        )
    # the final table is referenced twice (values + norm) — persist the
    # entity-sized result so the norm branch doesn't re-execute the
    # iteration chain
    a = local_persist(a, eager=False)
    a_norm = a.agg(F.sum("a_raw").alias("a_tot"))
    # decimal(38,0) overflow yields NULL under non-ANSI arithmetic —
    # turn it into a loud in-plan error (entity-sized pass) instead
    # of a silently wrong hash on pathologically dense graphs
    guard = F.when(
        F.col("a_raw").isNull(),
        F.raise_error(
            F.lit(
                "entity_hits: decimal(38,0) overflow in the power "
                "iteration — lower n_iter (growth is ~(Σdeg) per round)"
            )
        ),
    ).otherwise(F.col("a_raw"))
    return a.crossJoin(F.broadcast(a_norm)).select(
        F.col("target").alias("entity"),
        F.round(
            guard.cast("double") / F.col("a_tot").cast("double"), 6
        ).alias("authority"),
    )


def entity_salience(links: DataFrame, doc_tokens: DataFrame) -> DataFrame:
    """Per-document entity salience — the feature an entity-linking
    pipeline ranks candidates with once mentions are resolved
    (extends the reference's corpus-global popularity models,
    links.py:13 EntityCounts, to a per-document score): mentions that
    are frequent within the document AND appear early score higher.

    salience = n_mentions / n_tokens + 1 / (1 + first_pos)

    (rational arithmetic only, so both engines agree to 6dp without
    transcendental-function drift). ``doc_tokens`` is any
    (doc_id, n_tokens) table — ``token_stats`` output works.

    Output: (doc_id, target, n_mentions, first_pos, salience).

    One aggregate keyed on (doc_id, target) + a doc-keyed broadcastable
    join against the per-doc token counts; never a corpus-wide
    shuffle on anything but those natural keys."""
    per = links.groupBy("doc_id", "target").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.min("pos").alias("first_pos"),
    )
    return per.join(doc_tokens.select("doc_id", "n_tokens"), "doc_id").select(
        "doc_id",
        "target",
        "n_mentions",
        F.col("first_pos").cast("int").alias("first_pos"),
        F.round(
            F.col("n_mentions") / F.col("n_tokens")
            + 1.0 / (1.0 + F.col("first_pos")),
            6,
        ).alias("salience"),
    )


def entity_random_walks(links: DataFrame, n_walks: int = 2,
                        walk_len: int = 4) -> DataFrame:
    """DeepWalk-style random walks over the entity comention graph
    (Perozzi et al. 2014) — the walk corpus a graph-embedding trainer
    (e.g. :mod:`sift_spark.models.embeddings`) consumes; extends the
    reference's comention models the same way entity_pagerank does.

    Walks are DETERMINISTIC: at step t, walk w at node v moves to
    neighbor index hash31(walk_id:t) mod degree(v), with the
    adjacency indexed by a per-source row_number over dst ascending
    (a total order). The same corpus is reproduced on every run, any
    cluster layout — and the DuckDB oracle unrolls the identical
    steps, so the walks are oracle-checked exactly.

    Output: (walk_id, start, path) with path the comma-joined node
    sequence of length ``walk_len`` + 1.

    Scale shape (r12): adjacency indexing is one src-keyed window
    (per-node neighbor lists, the natural key); each step is ONE
    skew-safe (node, idx) EQUI-join of the walk-state table against
    the adjacency — the walk state CARRIES the current node's degree
    (seeded from the adjacency, updated from the stepped-to row's
    ``dstdeg``), so the old per-step walks⨝deg join and the
    walk_len+1 degree aggregates are gone. ``dstdeg`` (the stepped-to
    node's out-degree) is a dst-keyed window count over the SAME edge
    table: the comention edge set is symmetric by construction (both
    (a,b) and (b,a) come out of the doc self-join), so in-degree ==
    out-degree and no edges⨝degrees join is ever needed. The state
    carries a path string, never a struct array; the whole run is one
    lazy plan with ``walk_len`` joins — linear plan growth, no driver
    actions, no RNG state. No per-walk neighbor fan-out anywhere: a
    hub node costs one hash-table probe per visit, not deg rows."""
    e = comention_edges(links.select("doc_id", "target").distinct())
    w_adj = Window.partitionBy("src").orderBy("dst")
    adj = local_persist(
        e.select(
            "src",
            "dst",
            (F.row_number().over(w_adj) - 1).alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
            F.count(F.lit(1)).over(Window.partitionBy("dst")).alias("dstdeg"),
        ),
        eager=False,
    )

    from sift_spark.functions.core import hash31

    walks = adj.where(F.col("idx") == 0).select(
        F.col("src").alias("cur"),
        "deg",
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("w"),
    ).select(
        F.concat(F.col("cur"), F.lit("#"), F.col("w")).alias("walk_id"),
        F.col("cur").alias("start"),
        "cur",
        "deg",
        F.col("cur").alias("path"),
    )
    for t in range(walk_len):
        pick = hash31(F.concat(F.col("walk_id"), F.lit(f":{t}")))
        step = walks.select(
            "walk_id", "start", "path",
            F.col("cur").alias("c"),
            (pick % F.col("deg")).alias("idx"),
        )
        walks = (
            step.join(adj, (F.col("c") == adj["src"]) & (step["idx"] == adj["idx"]))
            .select(
                "walk_id",
                "start",
                F.concat(F.col("path"), F.lit(","), F.col("dst")).alias("path"),
                F.col("dst").alias("cur"),
                F.col("dstdeg").alias("deg"),
            )
        )
    return walks.select("walk_id", "start", "path")


def entity_link_prediction(links: DataFrame, max_degree: int = 1000) -> DataFrame:
    """Adamic-Adar link prediction over the comention graph (Adamic &
    Adar 2003; the standard KG-completion baseline): for entity pairs
    NOT yet comentioned but sharing neighbors, score = Σ_z 1/ln(deg z)
    over common neighbors z — rare shared neighbors count more.
    Output: (e1, e2, n_common, aa_score), e1 < e2.

    Scale shape: candidate pairs come from the two-hop join
    edges(a,z) ⋈ edges(z,b) keyed on the COMMON node — never
    all-pairs. Hub nodes with degree > ``max_degree`` are excluded as
    middle nodes (standard AA practice: a hub's 1/ln(deg) is ~0 and
    its two-hop fanout is degree², so the cap changes scores ~nothing
    and bounds the join at Σ min(deg, cap)²). Existing edges drop via
    an anti-join on the edge list. A common neighbor always has
    degree ≥ 2, so ln(deg) is never 0."""
    e = local_persist(
        comention_edges(links.select("doc_id", "target").distinct()), eager=False
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    mid = deg.where(F.col("deg") <= max_degree).withColumn(
        "w", 1.0 / F.log("deg")
    )
    hops = (
        e.alias("a")
        .join(mid.select(F.col("src").alias("z"), "w"), F.col("a.dst") == F.col("z"))
        .join(
            e.alias("b").select(F.col("src").alias("z2"), F.col("dst").alias("e2")),
            F.col("z") == F.col("z2"),
        )
        .where(F.col("a.src") < F.col("e2"))
        .select(F.col("a.src").alias("e1"), "e2", "w")
    )
    scored = hops.groupBy("e1", "e2").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.round(F.sum("w"), 6).alias("aa_score"),
    )
    existing = e.select(F.col("src").alias("e1"), F.col("dst").alias("e2"))
    return scored.join(existing, ["e1", "e2"], "left_anti")


def entity_node2vec_walks(links: DataFrame, p: float = 2.0, q: float = 0.5,
                          n_walks: int = 2, walk_len: int = 3) -> DataFrame:
    """node2vec biased walks over the comention graph (Grover &
    Leskovec 2016): the second-order extension of
    :func:`entity_random_walks` — at each step the neighbor x of cur
    (with previous node u) is drawn with weight 1/p if x = u (return),
    1 if x is adjacent to u (BFS-ish), 1/q otherwise (DFS-ish). The
    registered defaults p=2, q=1/2 bias walks outward.

    Determinism contract (oracle-checked exactly): the draw picks the
    first neighbor, in dst order, whose cumulative weight exceeds
    hash31(walk_id:t)/2^31−1 × total. With power-of-two p and q every
    weight is a dyadic rational, so cumulative sums are EXACT doubles
    and both engines make identical picks — no RNG state, reproducible
    on any cluster layout. The first step (no previous node) is
    uniform.

    Scale shape: per step, one keyed join of the walk state to the
    adjacency (cur), one LEFT edge-membership join for the
    BFS-distance class (prev, x), and a per-walk_id window cumsum over
    that walk's neighbor list — all keyed on the walk or the node,
    never global. Output: (walk_id, start, path)."""
    from sift_spark.functions.core import MOD31, hash31

    e = comention_edges(links.select("doc_id", "target").distinct())
    # r12 NOTE: an eager lineage cut here (localCheckpoint, the
    # _docs_pairs trick) was A/B-measured over 4 interleaved rounds
    # and REVERTED (shared-min 1.43→1.57 s, slower in 3 of 4 rounds):
    # checkpoint blocks store raw rows, so the 7 downstream references
    # trade cheap columnar cache reads for fat RDD scans.
    e = local_persist(e, eager=False)
    walks = e.select("src").distinct().select(
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("w"), "src"
    ).select(
        F.concat(F.col("src"), F.lit("#"), F.col("w")).alias("walk_id"),
        F.col("src").alias("start"),
        F.lit(None).cast("string").alias("prev"),
        F.col("src").alias("cur"),
        F.col("src").alias("path"),
    )
    for t in range(walk_len):
        cand = walks.join(e, F.col("cur") == F.col("src")).select(
            "walk_id", "start", "prev", "cur", "path", F.col("dst").alias("x")
        )
        back = e.select(F.col("src").alias("p2"), F.col("dst").alias("x2"))
        cand = cand.join(
            back,
            (F.col("prev") == F.col("p2")) & (F.col("x") == F.col("x2")),
            "left",
        ).select(
            "walk_id", "start", "prev", "cur", "path", "x",
            F.when(F.col("prev").isNull(), F.lit(1.0))
            .when(F.col("x") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("p2").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
            .alias("wt"),
        )
        win = Window.partitionBy("walk_id").orderBy("x")
        tot = Window.partitionBy("walk_id")
        scored = cand.select(
            "walk_id", "start", "cur", "path", "x", "wt",
            F.sum("wt").over(win).alias("cum"),
            F.sum("wt").over(tot).alias("total"),
        ).withColumn(
            "target_w",
            hash31(F.concat(F.col("walk_id"), F.lit(f":{t}"))) / F.lit(float(MOD31))
            * F.col("total"),
        )
        walks = (
            scored.where(F.col("cum") > F.col("target_w"))
            .groupBy("walk_id")
            .agg(
                F.first("start").alias("start"),
                F.first("cur").alias("c"),
                F.first("path").alias("pp"),
                F.min("x").alias("nxt"),
            )
            .select(
                "walk_id",
                "start",
                F.col("c").alias("prev"),
                F.col("nxt").alias("cur"),
                F.concat(F.col("pp"), F.lit(","), F.col("nxt")).alias("path"),
            )
        )
    return walks.select("walk_id", "start", "path")
