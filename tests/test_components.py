"""Connected-components operator: unit graphs + the dedup-cluster query.

The registry query is oracle-checked in test_oracle_parity (recursive
transitive closure vs label propagation — independent algorithms); here
we pin the operator's semantics on hand-built graphs where the answer
is obvious, including a long chain (worst-case iteration count).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_py_spark.operators.components import (
    connected_components,
    dedup_clusters,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_two_components_and_isolation(spark):
    # {1,2,3} via transitive a-b, b-c; {10,11} separate
    cc = connected_components(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    got = {r.node: r.component for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # path 0-1-2-...-9: diameter 9, min label must reach the far end
    cc = connected_components(
        _pairs(spark, [(i, i + 1) for i in range(9)])
    )
    assert {r.component for r in cc.collect()} == {0}


def test_edge_direction_irrelevant(spark):
    # same component regardless of (a,b) vs (b,a) orientation
    a = connected_components(_pairs(spark, [(5, 2), (2, 9)]))
    b = connected_components(_pairs(spark, [(2, 5), (9, 2)]))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dedup_clusters_sizes_and_canonical(spark):
    out = dedup_clusters(_pairs(spark, [(7, 3), (3, 12), (20, 21)]))
    rows = {r.doc_id: (r.cluster_id, r.cluster_size) for r in out.collect()}
    assert rows == {
        3: (3, 3),
        7: (3, 3),
        12: (3, 3),
        20: (20, 2),
        21: (20, 2),
    }
    # drop set = members that are not their cluster's canonical
    drops = sorted(
        r.doc_id
        for r in out.where(F.col("doc_id") != F.col("cluster_id")).collect()
    )
    assert drops == [7, 12, 21]


# ---------------------------------------------------------------------------
# Graphs checked against a union-find written here: the unit graphs
# above plus a self-loop, a planted high-degree hub (the power-law
# shape, where the min label must flow through the hub) and a
# pseudo-random sparse graph.
# ---------------------------------------------------------------------------


def _union_find(edges):
    parent = {}

    def root(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def _check_against_union_find(spark, edges):
    cc = connected_components(_pairs(spark, edges))
    got = {r.node: r.component for r in cc.collect()}
    assert got == _union_find(edges)
    return got


def test_unit_graphs_match_union_find(spark):
    for edges in (
        [(1, 2), (2, 3), (10, 11)],            # two components
        [(i, i + 1) for i in range(9)],        # long chain
        [(5, 2), (2, 9)],                      # arbitrary orientation
        [(7, 3), (3, 12), (20, 21)],           # mixed sizes
        [(4, 4), (1, 2)],                      # self-loop node
    ):
        _check_against_union_find(spark, edges)


def test_planted_high_degree_hub(spark):
    # hub 500 connects to 200 leaves, one of which chains down to the
    # true component min (0)
    edges = [(500, 1000 + i) for i in range(200)]
    edges += [(1000, 3), (3, 0)]
    got = _check_against_union_find(spark, edges)
    assert set(got.values()) == {0}  # one component, rooted at min


def test_random_graph_matches_union_find(spark):
    # deterministic pseudo-random sparse graph: ~150 nodes, 120 edges
    edges = [
        ((i * 7919) % 150, (i * 104729) % 150)
        for i in range(120)
        if (i * 7919) % 150 != (i * 104729) % 150
    ]
    _check_against_union_find(spark, edges)
