"""PageRank over a weighted edge list — integer fixed-point iteration.

Companion to ``operators/components.py``: components answers "which
docs are the same", PageRank answers "which nodes matter" — source
authority for corpus weighting, link-graph scoring for crawl
prioritization, hub detection in citation/e-mail graphs. The reference
has no graph surface at all; this is north-star capability built the
Spark way.

Algorithm: standard power iteration with damping d,
``r'(v) = (1-d)/n + d * Σ_{(u,v)∈E} r(u) * w(u,v) / out_w(u)``,
run a fixed number of rounds.

Determinism design: ranks live in integer MICRO-UNITS (the node ranks
sum to ~1e6) and every division is integer ``div`` — so the result is
bit-identical regardless of partial-aggregation order, join order, or
engine, and a DuckDB oracle can replay the exact same iteration as
unrolled CTEs. The float version would drift by summation order and be
un-oracle-able. Products stay ≤ 1e6 * max_edge_weight, far under
int64.

Scale design, per round: edges ⋈ ranks on src (keyed shuffle join —
at web scale, ranks is node-sized and edges dominate; AQE handles the
skew of hub nodes, or pre-salt known mega-hubs), then one sum
aggregation on dst, then a left join back to the node list for
zero-in-degree nodes. Dangling nodes (no outgoing edges) redistribute
their damped mass uniformly each round — one extra scalar aggregate
over the (static, usually tiny) dangling-node set, broadcast into the
update as a 1-row crossJoin; graphs with no dangling nodes skip it
entirely. The share ``dang * d div (100 * n)`` uses the same truncating
integer division in Spark and DuckDB, so the oracle replay stays
bit-identical.

Build-time jobs: the edge table (with its static out-weight) is pinned
once, and one small exact aggregate yields the node count and whether
dangling nodes exist — both needed as driver values. It is two
``countDistinct``s over the exploded endpoints, so Spark plans it as a
distributed two-level aggregate; no task or driver row holds the node
set. Nothing else runs before the caller's action on graphs without
dangling nodes: each round references the previous ranks once, so the
plan grows linearly and all rounds execute in that one action. A
per-round ``localCheckpoint``, even a lazy one, is NOT free: building
it makes AQE materialize the round's shuffle stages, i.e. every round
runs its jobs at build time (54 build jobs for 5 rounds on the nation
trade graph). With dangling nodes the dangling-mass aggregate
references the previous ranks a second time, so without truncation the
plan tree would double per round; there the node list and the dangling
set are pinned and every round but the last is lazily checkpointed, so
each round's plan starts from the previous round's blocks, at the price
of those rounds' jobs at build time. The fault-tolerance cost is the
usual one for local checkpoints: the blocks are unreplicated and
lineage is cut, so losing an executor that holds them fails the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SCALE = 1_000_000


def pagerank_integer(
    edges: DataFrame,
    n_iter: int = 5,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    seeds: list | None = None,
) -> DataFrame:
    """(node, rank_micro) after ``n_iter`` integer power iterations.

    ``edges`` is a weighted directed edge list; multi-edges should be
    pre-aggregated. ``rank_micro`` is the PageRank in micro-units
    (all-node sum ≈ 1e6, minus dangling leakage).

    ``seeds`` switches to PERSONALIZED PageRank: the (1−d) teleport
    mass and the dangling redistribution go only to the seed set
    (split evenly), and the walk starts there — ``rank_micro`` is then
    proximity to the seeds, not global authority. Seeds are driver-side
    literals (a seed set is query-sized, never data-sized), so the
    per-node teleport term stays a narrow CASE, no extra join."""
    e = (
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
        )
        .withColumn("out_w", F.sum("w").over(Window.partitionBy("src")))
        .localCheckpoint(eager=True)
    )
    # n and the dangling test from ONE exact, distributed aggregate: a
    # node is dangling iff it is never a src, so dangling nodes exist
    # iff |src ∪ dst| > |src|
    stats = (
        e.select(F.explode(F.array("src", "dst")).alias("node"), "src")
        .agg(
            F.countDistinct("node").alias("n"),
            F.countDistinct("src").alias("n_src"),
        )
        .first()
    )
    n = stats["n"]
    has_dangling = n > stats["n_src"]
    n_tele = len(seeds) if seeds else n
    base_unit = (SCALE * (100 - damping_pct)) // (100 * n_tele)
    if seeds:
        in_seeds = F.col("node").isin(list(seeds))
        base_col = F.when(in_seeds, F.lit(base_unit)).otherwise(F.lit(0))
        init_col = F.when(
            in_seeds, F.lit(SCALE // n_tele).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    else:
        base_col = F.lit(base_unit)
        init_col = F.lit(SCALE // n).cast("long")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # with dangling nodes (no outgoing edges) every round reads the node
    # list and the static dangling set twice: pin both (module docstring)
    if has_dangling:
        nodes = nodes.localCheckpoint(eager=True)
        srcs = e.select("src").distinct()
        dangling = nodes.join(
            srcs, nodes["node"] == srcs["src"], "left_anti"
        ).localCheckpoint(eager=True)
    ranks = nodes.withColumn("rank_micro", init_col)
    for i in range(n_iter):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .select(
                "dst",
                F.expr("rank_micro * w div out_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        updated = nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
        dampened = F.expr(f"coalesce(s, 0) * {damping_pct} div 100")
        if has_dangling:
            # 1-row scalar (dangling mass this round), broadcast into
            # every node's update — a deliberate tiny-broadcast BNLJ,
            # never a real cartesian.
            dang = (
                ranks.join(F.broadcast(dangling), "node", "left_semi")
                .agg(
                    F.coalesce(F.sum("rank_micro"), F.lit(0)).alias("_dang")
                )
            )
            updated = updated.crossJoin(F.broadcast(dang))
            share_unit = F.expr(
                f"_dang * {damping_pct} div (100 * {n_tele})"
            )
            share = (
                F.when(
                    F.col("node").isin(list(seeds)), share_unit
                ).otherwise(F.lit(0))
                if seeds
                else share_unit
            )
        else:
            share = F.lit(0)
        ranks = updated.select(
            "node",
            (base_col + dampened + share).cast("long").alias("rank_micro"),
        )
        # the dangling-mass aggregate is a second reference to the previous
        # ranks: truncate the plan every round (module docstring: build jobs)
        if has_dangling and i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    n_iter: int = 5,
    damping_pct: int = 85,
    seeds: list | None = None,
) -> str:
    """DuckDB SQL replaying ``pagerank_integer`` exactly: the same
    integer iteration unrolled as chained CTEs over an ``edges(src,
    dst, w)`` CTE body. Used by the registry oracle so the iterative
    algorithm sits under the hard hash gate like everything else.
    ``seeds`` mirrors the personalized variant — teleport/init/
    dangling terms gated by a seed-membership CASE, ÷|seeds|."""
    if seeds:
        seed_list = ", ".join(str(s) for s in seeds)
        tele_div = str(len(seeds))
        base_term = (
            f"(CASE WHEN n.node IN ({seed_list})"
            f" THEN (SELECT base FROM consts) ELSE 0 END)"
        )
        dang_gate = f"(CASE WHEN n.node IN ({seed_list}) THEN 1 ELSE 0 END) *"
        r0_expr = (
            f"CASE WHEN node IN ({seed_list})"
            f" THEN (SELECT r_init FROM consts) ELSE 0 END"
        )
    else:
        tele_div = "(SELECT n_nodes FROM consts)"
        base_term = "(SELECT base FROM consts)"
        dang_gate = ""
        r0_expr = "(SELECT r_init FROM consts)"
    its = []
    prev = "r0"
    # AS MATERIALIZED: each round references the previous round's CTE
    # up to three times (join, dangling subquery), so default CTE
    # inlining regrows the whole upstream edge build 3^n times — the
    # SQL twin of why the Spark side checkpoints every round when the
    # graph has dangling nodes.
    for i in range(1, n_iter + 1):
        its.append(
            f"""it{i} AS MATERIALIZED (
    SELECT n.node,
           {base_term} +
           (coalesce(sum({prev}.rank_micro * e.w // e.out_w), 0)
                * {damping_pct} // 100) +
           {dang_gate}((SELECT coalesce(sum(r.rank_micro), 0) FROM {prev} r
             WHERE r.node NOT IN (SELECT src FROM edges))
                * {damping_pct}
                // (100 * {tele_div})) AS rank_micro
    FROM nodes n
    LEFT JOIN ew e ON e.dst = n.node
    LEFT JOIN {prev} ON {prev}.node = e.src
    GROUP BY n.node
)"""
        )
        prev = f"it{i}"
    joined = ",\n".join(its)
    n_tele_sql = tele_div if seeds else "count(*)"
    return f"""
WITH edges AS MATERIALIZED ({edges_cte}),
nodes AS (
    SELECT DISTINCT src AS node FROM edges
    UNION SELECT DISTINCT dst FROM edges
),
consts AS (
    SELECT CAST(1000000 * {100 - damping_pct} AS BIGINT)
               // (100 * {n_tele_sql}) AS base,
           CAST(1000000 AS BIGINT) // {n_tele_sql} AS r_init,
           count(*) AS n_nodes
    FROM nodes
),
outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, e.w, o.out_w FROM edges e JOIN outw o USING (src)),
r0 AS (SELECT node, {r0_expr} AS rank_micro FROM nodes),
{joined}
SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro FROM {prev}
"""
