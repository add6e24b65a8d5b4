"""Focused pin for the r12 entity_random_walks rewrite.

r12 replaced the two-joins-per-step walk loop (walks⨝deg to compute
the pick index, then an (node, idx) join into the adjacency) with a
state-carried degree: the walk state carries deg(cur), seeded from the
adjacency and refreshed from the stepped-to row's ``dstdeg`` column
(valid because the comention edge set is symmetric, so in-degree ==
out-degree). These tests pin the pieces that rewrite relies on.
"""

import pytest


def _links(spark, pairs):
    rows = []
    for d, (x, y) in enumerate(pairs, 1):
        rows += [(d, x), (d, y)]
    return spark.createDataFrame(rows, "doc_id long, target string")


def test_walks_match_python_unroll(spark):
    """The Spark walk equals a brute-force driver-side unroll of the
    documented pick rule (hash31(walk_id:t) mod deg over the dst-sorted
    neighbor list) on a graph with non-uniform degrees — so the carried
    deg column is exercised on nodes of degree 1, 2 and 3."""
    from sift_spark.functions.core import MOD31, _py_h64
    from sift_spark.models.links import entity_random_walks

    # star + tail: HUB-A, HUB-B, HUB-C, C-D  (deg: HUB 3, C 2, A/B/D 1)
    pairs = [("HUB", "A"), ("HUB", "B"), ("HUB", "C"), ("C", "D")]
    links = _links(spark, pairs)

    adj = {}
    for x, y in pairs:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    adj = {k: sorted(v) for k, v in adj.items()}

    n_walks, walk_len = 2, 4
    expect = {}
    for start in adj:
        for w in range(n_walks):
            walk_id = f"{start}#{w}"
            cur, path = start, [start]
            for t in range(walk_len):
                nbrs = adj[cur]
                pick = (_py_h64(f"{walk_id}:{t}") % MOD31) % len(nbrs)
                cur = nbrs[pick]
                path.append(cur)
            expect[walk_id] = (start, ",".join(path))

    got = {
        r.walk_id: (r.start, r.path)
        for r in entity_random_walks(links, n_walks=n_walks, walk_len=walk_len).collect()
    }
    assert got == expect


def test_comention_edges_symmetric(spark):
    """The rewrite's dstdeg == out-degree claim rests on the edge set
    being symmetric; pin that construction property directly."""
    from sift_spark.models.links import comention_edges

    links = _links(spark, [("A", "B"), ("B", "C"), ("A", "C"), ("C", "D")])
    edges = {(r.src, r.dst) for r in comention_edges(links.distinct()).collect()}
    assert edges == {(b, a) for a, b in edges}
    assert len(edges) == 8 and all(a != b for a, b in edges)


def test_walk_plan_has_single_join_per_step(spark):
    """Plan pin: one equi-join per step (walk_len joins + the corpus
    self-join), not two — the old shape carried an extra walks⨝deg
    join per step."""
    from sift_spark.caching import release_local_caches
    from sift_spark.models.links import entity_random_walks
    from tests.plan_shapes import plan_nodes

    links = _links(spark, [("A", "B"), ("B", "C")])
    walk_len = 4
    try:
        plan = entity_random_walks(links, walk_len=walk_len)._jdf.queryExecution().optimizedPlan()
        joins = [n.getClass().getSimpleName() for n in plan_nodes(plan)
                 if "Join" in n.getClass().getSimpleName()]
    finally:
        release_local_caches()
    # The adjacency is lazily persisted, so the plan walk descends into
    # its cached builder plan (containing the one corpus self-join) at
    # each of its walk_len+1 references: the single-join-per-step shape
    # reads walk_len (step joins) + walk_len+1 (embedded) = 2·walk_len+1.
    # The old two-joins-per-step shape additionally embedded the
    # degree-attach join and its own adj reference per step (≥
    # 4·walk_len), so this bound pins the rewrite.
    assert len(joins) <= 2 * walk_len + 1, joins
