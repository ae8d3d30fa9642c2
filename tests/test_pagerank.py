"""PageRank operator: hand-built graphs with known answers, plus an
oracle replay on a tiny graph (Spark iteration vs DuckDB unrolled CTEs
— same integer arithmetic, independent engines).

The registry query (`graph_pagerank`, nation trade graph) is
oracle-checked in test_oracle_parity; here we pin the operator itself.
"""

from __future__ import annotations

import duckdb
import pytest

from data_ingestion_py_spark.operators.pagerank import (
    SCALE,
    pagerank_integer,
    pagerank_oracle_sql,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w long")


def test_cycle_is_uniform(spark):
    # 3-cycle with equal weights: symmetry → identical ranks, and the
    # fixed point of r = base + 0.85*r is r ≈ SCALE/3 (minus integer
    # truncation drift, bounded by iterations).
    ranks = pagerank_integer(_edges(spark, [(1, 2, 1), (2, 3, 1), (3, 1, 1)]))
    got = {r.node: r.rank_micro for r in ranks.collect()}
    assert len(set(got.values())) == 1, got
    assert abs(next(iter(got.values())) - SCALE // 3) <= 10


def test_star_center_ranks_highest(spark):
    # a,b,c all point at hub h; h points back only at a.
    ranks = pagerank_integer(
        _edges(spark, [(1, 99, 1), (2, 99, 1), (3, 99, 1), (99, 1, 1)])
    )
    got = {r.node: r.rank_micro for r in ranks.collect()}
    assert got[99] == max(got.values())
    # a receives the hub's full mass, b/c only the base term
    assert got[1] > got[2] == got[3]


def test_weights_shift_mass(spark):
    # u splits rank 3:1 between a and b → a must end strictly higher.
    ranks = pagerank_integer(
        _edges(spark, [(1, 10, 3), (1, 11, 1), (10, 1, 1), (11, 1, 1)])
    )
    got = {r.node: r.rank_micro for r in ranks.collect()}
    assert got[10] > got[11]


@pytest.mark.parametrize("n_iter,damping", [(3, 85), (5, 70)])
def test_matches_duckdb_oracle_replay(spark, n_iter, damping):
    # same integer iteration, two engines, bit-identical result —
    # includes a dangling node (4 has no out-edges) and a multi-weight
    # in-star, the two structural corner cases.
    rows = [(1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 4, 1), (2, 4, 5)]
    ranks = pagerank_integer(
        _edges(spark, rows), n_iter=n_iter, damping_pct=damping
    )
    got = sorted((r.node, r.rank_micro) for r in ranks.collect())
    cte = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS src, CAST({d} AS BIGINT) AS dst,"
        f" CAST({w} AS BIGINT) AS w"
        for s, d, w in rows
    )
    sql = pagerank_oracle_sql(cte, n_iter=n_iter, damping_pct=damping)
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def test_dangling_mass_redistributed(spark):
    # 4 is a pure sink (dangling). With redistribution, total mass must
    # stay ~SCALE (only integer-truncation drift, a few micro per node
    # per round); without it, the sink would leak ~its rank each round.
    rows = [(1, 2, 1), (2, 3, 1), (3, 1, 1), (1, 4, 1)]
    ranks = pagerank_integer(_edges(spark, rows), n_iter=5)
    got = {r.node: r.rank_micro for r in ranks.collect()}
    total = sum(got.values())
    assert abs(total - SCALE) <= 50, got
    # the sink still accumulates rank (it has in-edges)
    assert got[4] > 0


def test_personalized_proximity_ordering(spark):
    # chain 1→2→3→4 with a back-edge 4→1; seeding at 1 must rank nodes
    # by walk distance from the seed: 1 > 2 > 3 > 4
    rows = [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 1, 1)]
    ranks = pagerank_integer(_edges(spark, rows), n_iter=8, seeds=[1])
    got = {r.node: r.rank_micro for r in ranks.collect()}
    assert got[1] > got[2] > got[3] > got[4] > 0
    # global PageRank on this symmetric cycle is uniform — the seed is
    # what breaks the tie, i.e. the personalization actually acts
    plain = {
        r.node: r.rank_micro
        for r in pagerank_integer(_edges(spark, rows), n_iter=8).collect()
    }
    assert len(set(plain.values())) == 1


def test_personalized_matches_oracle(spark):
    rows = [(1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 4, 1)]  # 4 dangling
    ranks = pagerank_integer(_edges(spark, rows), n_iter=4, seeds=[1, 3])
    got = sorted((r.node, r.rank_micro) for r in ranks.collect())
    cte = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS src, CAST({d} AS BIGINT) AS dst,"
        f" CAST({w} AS BIGINT) AS w"
        for s, d, w in rows
    )
    sql = pagerank_oracle_sql(cte, n_iter=4, seeds=[1, 3])
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def _tree_nodes(df) -> int:
    return df._jdf.queryExecution().analyzed().treeString().count("\n")


@pytest.mark.parametrize("seeds", [None, [1, 5]])
def test_dangling_twenty_rounds_match_oracle_in_bounded_plan(spark, seeds):
    # two dangling sinks (4, 6) make every round reference the previous
    # ranks twice; without truncation the plan tree would double per
    # round (2^20 copies). The per-round checkpoint keeps the 20-round
    # plan no larger than a one-round plan.
    rows = [
        (1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 4, 1), (2, 4, 5),
        (5, 1, 1), (5, 6, 3), (3, 5, 2),
    ]
    ranks = pagerank_integer(_edges(spark, rows), n_iter=20, seeds=seeds)
    one_round = _tree_nodes(
        pagerank_integer(_edges(spark, rows), n_iter=1, seeds=seeds)
    )
    assert _tree_nodes(ranks) <= one_round
    got = sorted((r.node, r.rank_micro) for r in ranks.collect())
    cte = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS src, CAST({d} AS BIGINT) AS dst,"
        f" CAST({w} AS BIGINT) AS w"
        for s, d, w in rows
    )
    sql = pagerank_oracle_sql(cte, n_iter=20, seeds=seeds)
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want
