"""PageRank fixed-point operator semantics (operators/graph.py).

Value-level cross-engine parity is pinned by q:pagerank_copurchase's
DuckDB oracle; these tests pin the operator-level invariants.
"""

from __future__ import annotations

from ocds_entity_extract_spark.operators.graph import (
    DEFAULT_SCALE,
    pagerank_fixed_point,
)


def _star_edges(spark):
    # hub h <-> spokes a,b,c (symmetric)
    rows = []
    for s in ["a", "b", "c"]:
        rows += [("h", s), (s, "h")]
    return spark.createDataFrame(rows, "src string, dst string")


def test_hub_outranks_spokes(spark):
    ranks = {
        r["node"]: r["rank_int"]
        for r in pagerank_fixed_point(_star_edges(spark)).collect()
    }
    assert ranks["h"] > ranks["a"] == ranks["b"] == ranks["c"]


def test_rank_mass_conserved_within_rounding(spark):
    ranks = pagerank_fixed_point(_star_edges(spark)).collect()
    total = sum(r["rank_int"] for r in ranks)
    # integer floors lose < 1 unit per node per division; teleport exact
    assert 0.999 * DEFAULT_SCALE < total <= DEFAULT_SCALE


def test_partitioning_invariance(spark):
    e = _star_edges(spark)
    a = {
        r["node"]: r["rank_int"]
        for r in pagerank_fixed_point(e).collect()
    }
    b = {
        r["node"]: r["rank_int"]
        for r in pagerank_fixed_point(e.repartition(7)).collect()
    }
    assert a == b


def test_triangle_counts_known_graph(spark):
    """triangle_counts on a hand-built lineitem: order 1 makes K3
    {1,2,3} (one triangle, every node in it), order 2 adds the chord-less
    edge 3-4 (wedge only — no new triangle)."""
    from ocds_entity_extract_spark.queries_analytics import q_triangle_counts
    import os
    import tempfile

    rows = [(1, 1), (1, 2), (1, 3), (2, 3), (2, 4)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "l_orderkey long, l_suppkey long"
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            r["node"]: (r["degree"], r["triangles"])
            for r in q_triangle_counts(spark, d).collect()
        }
    assert got == {1: (2, 1), 2: (2, 1), 3: (3, 1), 4: (1, 0)}


def test_triangle_counts_random_graphs_vs_bruteforce(spark):
    """Seeded random co-occurrence tables vs a brute-force triangle count
    (itertools over the projected edge set) — degree and per-node triangle
    participation must match exactly."""
    import itertools
    import os
    import random
    import tempfile

    from ocds_entity_extract_spark.queries_analytics import q_triangle_counts

    for seed in (7, 21):
        rng = random.Random(seed)
        rows = [
            (o, rng.randrange(12))
            for o in range(25)
            for _ in range(rng.randrange(1, 6))
        ]
        edges = set()
        by_order = {}
        for o, s in rows:
            by_order.setdefault(o, set()).add(s)
        for members in by_order.values():
            for a, b in itertools.combinations(sorted(members), 2):
                edges.add((a, b))
        nodes = {n for e in edges for n in e}
        deg = {n: sum(n in e for e in edges) for n in nodes}
        tri = {n: 0 for n in nodes}
        for a, b, c in itertools.combinations(sorted(nodes), 3):
            if (a, b) in edges and (b, c) in edges and (a, c) in edges:
                tri[a] += 1
                tri[b] += 1
                tri[c] += 1
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows, "l_orderkey long, l_suppkey long"
            ).write.parquet(os.path.join(d, "lineitem.parquet"))
            got = {
                r["node"]: (r["degree"], r["triangles"])
                for r in q_triangle_counts(spark, d).collect()
            }
        assert got == {n: (deg[n], tri[n]) for n in nodes}, f"seed {seed}"
