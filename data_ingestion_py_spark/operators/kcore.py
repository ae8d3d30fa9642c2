"""k-core decomposition — iterative degree peeling on a symmetric edge list.

Peel nodes of degree < k; repeat. The fixpoint is the maximal subgraph
where every node keeps ≥ k neighbors — the dense-community / spam-farm
detector and a graph-curation seed filter. The peel is MONOTONE (alive
sets only shrink), so a fixed unroll that overshoots the fixpoint is a
no-op after convergence — which is what lets the DuckDB oracle replay
the exact computation as unrolled CTEs with no convergence flag.

Per round: two semi-joins (edge endpoints against the alive set) + one
degree agg — keyed shuffles at edge cardinality; ``localCheckpoint``
truncates lineage per round (components/pagerank posture).

Reference contrast: egorji/data_ingestion.py has no graph surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Peel rounds between lineage truncations (``kcore_alive``).
CHECKPOINT_EVERY = 3


def kcore_alive(
    sym: DataFrame,
    k: int,
    rounds: int,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """(node,) members of the k-core after ``rounds`` peels of the
    SYMMETRIC edge list ``sym`` (every undirected edge present in both
    directions; no self-loops). ``rounds`` past the fixpoint are
    no-ops — size it to the peel depth you can afford, not to n.

    Lineage is truncated every ``CHECKPOINT_EVERY`` rounds, not every
    round: ``localCheckpoint`` is EAGER (one job per call), so a
    per-round checkpoint made a 6-round peel of a 25-node graph cost
    8 job submissions (~9 s wall at sf0.01) when the plan itself is
    trivial. Every K rounds bounds the uncheckpointed plan depth at
    2K semi-joins + K aggs — deep graphs keep the lineage guard,
    dimension-sized graphs stop paying per-round job overhead."""
    sym = sym.localCheckpoint()
    alive = sym.select(F.col(u).alias("node")).distinct()
    for i in range(rounds):
        alive = (
            sym.join(alive.withColumnRenamed("node", u), u, "left_semi")
            .join(alive.withColumnRenamed("node", v), v, "left_semi")
            .groupBy(u)
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col(u).alias("node"))
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and (i + 1) < rounds:
            alive = alive.localCheckpoint()
    return alive


def kcore_degrees(
    sym: DataFrame, k: int, rounds: int, u: str = "u", v: str = "v"
) -> DataFrame:
    """(node, core_degree) — each k-core member's degree WITHIN the
    core (≥ k by construction)."""
    alive = kcore_alive(sym, k, rounds, u, v)
    return (
        sym.join(alive.withColumnRenamed("node", u), u, "left_semi")
        .join(alive.withColumnRenamed("node", v), v, "left_semi")
        .groupBy(F.col(u).alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
