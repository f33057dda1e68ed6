"""Connected components vs a union-find oracle."""

from __future__ import annotations

import random


from biomedical_knowledge_graph_spark.operators.components import (
    connected_components,
)


def uf_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    nodes = {n for e in edges for n in e}
    # path-compress fully, then map every root to the true min of its comp
    groups: dict[str, list[str]] = {}
    for n in nodes:
        groups.setdefault(find(n), []).append(n)
    return {n: min(g) for g in groups.values() for n in g}


def run_cc(spark, edges: list[tuple[str, str]]) -> dict[str, str]:
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_path_graph(spark):
    edges = [(f"n{i}", f"n{i+1}") for i in range(12)]
    assert run_cc(spark, edges) == uf_components(edges)


def test_star_and_two_components(spark):
    edges = [("hub", f"leaf{i}") for i in range(8)] + [("x1", "x2"), ("x2", "x3")]
    assert run_cc(spark, edges) == uf_components(edges)


def test_random_graphs(spark):
    rng = random.Random(5)
    for trial in range(3):
        n = 40
        edges = [
            (f"v{rng.randrange(n):03d}", f"v{rng.randrange(n):03d}")
            for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert run_cc(spark, edges) == uf_components(edges), f"trial {trial}"


# -- fixed-point PageRank (round 5) -------------------------------------------


def _pr(spark, rows, parts=None, iterations=5):
    from biomedical_knowledge_graph_spark.operators.pagerank import (
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    if parts:
        edges = edges.repartition(parts)
    return {
        r.node: r.rank_scaled
        for r in pagerank_fixed_point(edges, iterations=iterations).collect()
    }


def test_pagerank_partition_invariant_and_mass_bounded(spark):
    """Fixed-point arithmetic makes the result BIT-IDENTICAL regardless of
    partitioning (the property that lets it be value-hash oracled), and
    total rank mass stays ≈ SCALE (floor divisions only ever LOSE mass,
    never create it)."""
    from biomedical_knowledge_graph_spark.operators.pagerank import SCALE

    rows = [
        ("a", "b", 3), ("b", "c", 1), ("c", "d", 2),
        ("d", "a", 5), ("a", "c", 1), ("d", "b", 4),
    ]
    r1 = _pr(spark, rows, parts=1)
    r7 = _pr(spark, rows, parts=7)
    assert r1 == r7 and len(r1) == 4
    total = sum(r1.values())
    # every division floors: mass only shrinks, and only slightly
    assert 0.95 * SCALE < total <= SCALE


def test_pagerank_star_center_dominates(spark):
    """On a weighted star, the hub must out-rank every leaf, and equal
    leaves must tie exactly (symmetry is preserved bit-for-bit)."""
    rows = [("hub", f"leaf{i}", 2) for i in range(6)]
    got = _pr(spark, rows)
    leaf_ranks = {v for k, v in got.items() if k != "hub"}
    assert len(leaf_ranks) == 1  # exact tie across symmetric leaves
    assert got["hub"] > leaf_ranks.pop()


def test_pagerank_weight_pulls_rank(spark):
    """A node attached by a heavier edge to the hub ends up with strictly
    more rank than one attached by a lighter edge."""
    rows = [("hub", "heavy", 10), ("hub", "light", 1), ("heavy", "x", 1)]
    got = _pr(spark, rows)
    assert got["heavy"] > got["light"]


def test_pagerank_empty_graph(spark):
    assert _pr(spark, []) == {}


def test_pagerank_zero_weight_edges_dropped(spark):
    """Zero-weight edges carry no rank mass and must not poison out_w
    with an ANSI divide-by-zero; a node connected only by them drops."""
    rows = [("a", "b", 2), ("a", "c", 0)]
    got = _pr(spark, rows)
    assert set(got) == {"a", "b"}


def test_pagerank_lazy_chain_matches_checkpointed(spark):
    """The lazily chained loop (one eager checkpoint of the result) must
    give BIT-identical ranks to a pure-Python integer fixed point of the
    same recurrence."""
    from biomedical_knowledge_graph_spark.operators.pagerank import (
        SCALE,
        pagerank_fixed_point,
    )

    rows = [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("c", "d", 5)]
    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_fixed_point(edges, iterations=4).collect()
    }

    sym = rows + [(d, s, w) for s, d, w in rows]
    out_w: dict[str, int] = {}
    for s, _, w in sym:
        out_w[s] = out_w.get(s, 0) + w
    n = len(out_w)
    base = (3 * SCALE) // (20 * n)
    ranks = {v: SCALE // n for v in out_w}
    for _ in range(4):
        contrib = {v: 0 for v in out_w}
        for s, d, w in sym:
            contrib[d] += ranks[s] * w // out_w[s]
        ranks = {v: base + 17 * c // 20 for v, c in contrib.items()}
    assert got == ranks
