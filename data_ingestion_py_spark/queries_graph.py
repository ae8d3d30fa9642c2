"""Graph queries: PageRank over the fixture-derived nation trade graph.

The reference (`data_ingestion.py`) has no graph surface; this is
north-star capability for corpus weighting (source-authority scoring)
built the Spark way — see ``operators/pagerank.py`` for the integer
fixed-point design that makes an iterative algorithm bit-exact against
a DuckDB oracle.

Edge list: supplier-nation → customer-nation, weighted by the number
of lineitems shipped between them — a dense, deterministic 25-node
graph at every SF (nation is fixed-size in TPC-H). The edge build is
the TPC-H Q7 join shape (fact-fact on orderkey, dims broadcast); the
PageRank rounds then run on the 625-row aggregate, so the iterative
part costs nothing next to the scan. At web scale the same operator
runs on a doc-link edge list instead — node-count-sized state per
round, edges dominating the join, which is the shape
``pagerank_integer`` is designed for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_py_spark.io import load_table
from data_ingestion_py_spark.operators.bfs import bellman_ford_oracle_sql
from data_ingestion_py_spark.operators.pagerank import (
    pagerank_integer,
    pagerank_oracle_sql,
)
from data_ingestion_py_spark.queries import register

_TRADE_EDGES_CTE = """
    SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
           CAST(count(*) AS BIGINT) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
"""

_PAGERANK_ORACLE = f"""
SELECT n.n_name AS nation, pr.rank_micro
FROM (
{pagerank_oracle_sql(_TRADE_EDGES_CTE, n_iter=5, damping_pct=85)}
) pr
JOIN nation n ON n.n_nationkey = pr.node
"""

_TRIANGLE_ORACLE = f"""
WITH edges AS ({_TRADE_EDGES_CTE}),
und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM edges WHERE src <> dst
),
tri AS (
    SELECT e1.a, e1.b, e2.b AS c
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
GROUP BY node
"""


@register(
    "graph_triangle_count",
    _TRIANGLE_ORACLE,
    tags=("graph",),
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count over the (undirected) nation trade graph
    — the clustering-coefficient / community-density primitive.

    Runs the DEGREE-ORIENTED algorithm (``operators/triangles.py``,
    ``orient="degree"``): edges re-orient from the lower-(degree, id)
    endpoint, bounding every node's wedge work at O(√m) out-neighbors
    — the Schank-Wagner skew fix for power-law graphs, where id
    orientation lets one low-id hub own deg(hub)² wedge pairs in a
    single task. Triangle counts are orientation-INVARIANT, so the
    oracle keeps the simple id-canonical a<b<c form — two independent
    orientations, one hash gate; equality across orientations is also
    pinned on planted hub graphs in ``tests/test_triangles.py``."""
    from data_ingestion_py_spark.operators.triangles import (
        triangle_counts,
        undirected_edges,
    )

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].alias("src"), c["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    return triangle_counts(undirected_edges(edges), orient="degree")


@register(
    "graph_pagerank",
    _PAGERANK_ORACLE,
    tags=("graph", "iterative"),
    bench=True,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 integer power iterations, d=0.85) over the nation
    trade graph. Edge build is the Q7 join shape (fact-fact on
    orderkey, customer/supplier left to AQE — broadcast at fixture SF,
    shuffle-hash at 100 TB) + a 625-group agg; each rank round is a keyed
    join + sum at node cardinality, and all five rounds run in the one
    final action (the graph has no dangling nodes, so the plan grows
    linearly). Ranks are micro-units (``rank_micro``), exact
    integers, so the DuckDB unrolled-CTE oracle replays bit-identically.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].alias("src"), c["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    ranks = pagerank_integer(edges, n_iter=5, damping_pct=85)
    return ranks.join(
        F.broadcast(n), ranks["node"] == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), "rank_micro")


_BFS_ORACLE = f"""
WITH RECURSIVE edges AS ({_TRADE_EDGES_CTE}),
pp AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM edges WHERE src <> dst
    ) WHERE rn <= 3
),
und AS (SELECT src AS u, dst AS v FROM pp UNION SELECT dst, src FROM pp),
bfs(node, d) AS (
    SELECT (SELECT min(u) FROM und), 0
    UNION
    SELECT und.v, bfs.d + 1 FROM bfs JOIN und ON und.u = bfs.node
    WHERE bfs.d < 30
)
SELECT n.n_name AS nation, CAST(min(d) AS BIGINT) AS dist
FROM bfs JOIN nation n ON n.n_nationkey = bfs.node
GROUP BY 1
"""


@register(
    "graph_bfs_distances",
    _BFS_ORACLE,
    tags=("graph", "iterative"),
)
def q_graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the lowest-id nation over the "primary trade
    partners" graph (each nation keeps its top-3 heaviest partners,
    ties → lower key — a sparse, deterministic subgraph of the dense
    trade matrix). Level-synchronous BFS (``operators/bfs.py``):
    frontier ⋈ edges + anti-join vs settled per round, frontier-sized
    state, empty-frontier stop. The third iterative-graph shape next
    to fixpoint labeling (components) and diffusion (PageRank); at
    corpus scale the same operator scores link-distance from a trusted
    seed set as a document-quality prior. The DuckDB oracle replays it
    as a recursive CTE — hop counts are exact integers, no float
    drift. Unreachable nations are absent on both sides."""
    from data_ingestion_py_spark.operators.bfs import bfs_distances
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].alias("src"), c["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    w = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    pp = (
        edges.where(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("src", "dst")
    )
    und = (
        pp.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(pp.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    seed = und.agg(F.min("u").alias("node"))
    dist = bfs_distances(und, seed)
    return dist.join(
        F.broadcast(n), dist["node"] == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), "dist")


_WEIGHTED_EDGES_CTE = f"""
    WITH edges AS ({_TRADE_EDGES_CTE}),
    pp AS (
        SELECT src, dst, rn AS cost FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY w DESC, dst)
                       AS rn
            FROM edges WHERE src <> dst
        ) WHERE rn <= 3
    ),
    undc AS (
        SELECT least(src, dst) AS a, greatest(src, dst) AS b,
               CAST(min(cost) AS BIGINT) AS cost
        FROM pp GROUP BY 1, 2
    )
    SELECT a AS u, b AS v, cost FROM undc
    UNION ALL
    SELECT b, a, cost FROM undc
"""

_BF_ROUNDS = 10


@register(
    "graph_weighted_distances",
    f"""
WITH dd AS (
{bellman_ford_oracle_sql(_WEIGHTED_EDGES_CTE, "SELECT min(u) AS node FROM e", _BF_ROUNDS)}
)
SELECT n.n_name AS nation, dd.dist
FROM dd JOIN nation n ON n.n_nationkey = dd.node
""",
    tags=("graph", "iterative"),
)
def q_graph_weighted_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (min-plus Bellman-Ford, 10 fixed
    rounds) from the lowest-id nation over the primary-partner graph,
    with edge cost = the partner's preference rank (1 = heaviest
    partner, 3 = tertiary; an undirected edge takes the cheaper
    orientation). Cheap multi-hop detours can beat expensive direct
    edges, so this is NOT hop count — it exercises the min-plus
    relaxation ``graph_bfs_distances``'s anti-join shortcut cannot
    express. Fixed round count on both engines (pagerank pattern)
    keeps the hash gate exact even pre-convergence; integer costs, no
    float drift. Per round: settled ⋈ edges + keyed min — node-sized
    state, lineage truncated (``operators/bfs.py``)."""
    from data_ingestion_py_spark.operators.bfs import bellman_ford_rounds
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].alias("src"), c["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    w = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    pp = (
        edges.where(F.col("src") != F.col("dst"))
        .withColumn("cost", F.row_number().over(w))
        .where(F.col("cost") <= 3)
        .select("src", "dst", "cost")
    )
    undc = (
        pp.groupBy(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .agg(F.min("cost").cast("long").alias("cost"))
    )
    e = undc.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "cost"
    ).unionByName(
        undc.select(F.col("b").alias("u"), F.col("a").alias("v"), "cost")
    )
    seed = e.agg(F.min("u").alias("node"))
    dist = bellman_ford_rounds(e, seed, _BF_ROUNDS)
    return dist.join(
        F.broadcast(n), dist["node"] == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), "dist")


from data_ingestion_py_spark.operators.labelprop import (  # noqa: E402
    label_propagation,
    label_propagation_oracle_sql,
)

# LPA runs on the SPARSE top-3 primary-partner subgraph (same as BFS):
# on the dense full trade matrix one hub label floods everything in two
# rounds — correct but a single community; the sparse cut exposes the
# actual trade blocs.
_PP_EDGES_CTE = f"""
    WITH te AS ({_TRADE_EDGES_CTE})
    SELECT src, dst, w FROM (
        SELECT src, dst, w,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst)
                   AS rn
        FROM te WHERE src <> dst
    ) WHERE rn <= 3
"""

_LPA_ORACLE = f"""
WITH lp AS (
{label_propagation_oracle_sql(_PP_EDGES_CTE, n_rounds=5)}
)
SELECT n.n_name AS nation, lp.label AS community
FROM lp JOIN nation n ON n.n_nationkey = lp.node
"""


@register(
    "graph_label_propagation",
    _LPA_ORACLE,
    tags=("graph", "iterative", "community"),
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the weighted trade graph: 5 rounds of
    SYNCHRONOUS label propagation (``operators/labelprop.py``) — each
    nation adopts the label with the greatest incident trade weight
    over the sparse top-3 primary-partner subgraph (dense graphs flood
    to one label — see _PP_EDGES_CTE note),
    ties → lower label, self-vote weight 1. The deterministic,
    oracle-replayable variant of LPA (async/randomized LPA cannot be
    hash-gated); MODE aggregation per round, distinct from the kit's
    min-fixpoint (components), sum-diffusion (PageRank), and min-plus
    (Bellman-Ford) iterations. At corpus scale the same operator
    groups domains/sources into communities as a mixture-balancing
    prior. Per round: one keyed edge⋈label join + two keyed aggs,
    lineage truncated."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].alias("src"), c["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    from pyspark.sql.window import Window

    wtop = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    pp = (
        edges.where(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
        .select("src", "dst", "w")
    )
    labels = label_propagation(pp, n_rounds=5)
    return labels.join(
        F.broadcast(n), labels["node"] == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), F.col("label").alias("community"))


_CLOSENESS_ORACLE = f"""
WITH RECURSIVE te AS ({_TRADE_EDGES_CTE}),
pp AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM te WHERE src <> dst
    ) WHERE rn <= 3
),
und AS (SELECT src AS u, dst AS v FROM pp UNION SELECT dst, src FROM pp),
bfs(seed, node, d) AS (
    SELECT u, u, 0 FROM (SELECT DISTINCT u FROM und)
    UNION
    SELECT bfs.seed, und.v, bfs.d + 1
    FROM bfs JOIN und ON und.u = bfs.node
    WHERE bfs.d < 30
),
dists AS (
    SELECT seed, node, min(d) AS dist FROM bfs GROUP BY 1, 2
),
cl AS (
    SELECT seed, count(*) AS n_reached, sum(dist) AS sumd
    FROM dists GROUP BY seed
)
SELECT n.n_name AS nation,
       CAST(cl.n_reached AS BIGINT) AS n_reached,
       CAST(CASE WHEN cl.sumd = 0 THEN 0
                 ELSE (1000000 * (cl.n_reached - 1)) // cl.sumd END
            AS BIGINT) AS closeness_micro
FROM cl JOIN nation n ON n.n_nationkey = cl.seed
"""


@register(
    "graph_closeness_centrality",
    _CLOSENESS_ORACLE,
    tags=("graph", "iterative", "centrality"),
)
def q_graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality over the top-3 primary-partner subgraph:
    every nation seeds a BFS in ONE combined level-synchronous sweep
    (``operators/bfs.py::bfs_distances_per_seed`` — (seed, node)-keyed
    state, k seeds cost diameter rounds, not k×), then closeness =
    (n_reached − 1) / Σdist in exact integer micro-units (0 for
    isolated seeds; unreachable nodes simply don't contribute — the
    disconnected-graph convention). All-nodes-as-seeds is O(n²) state,
    honest only on dimension-sized graphs like this one; at web scale
    the swap is landmark sampling or HyperBall sketches (documented in
    the operator). Oracle: one recursive CTE carrying the seed
    column."""
    from data_ingestion_py_spark.operators.bfs import bfs_distances_per_seed
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].alias("src"), c["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    w = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    pp = (
        edges.where(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("src", "dst")
    )
    und = (
        pp.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(pp.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    seeds = und.select(F.col("u").alias("seed")).distinct()
    dists = bfs_distances_per_seed(und, seeds)
    cl = dists.groupBy("seed").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("dist").alias("sumd"),
    )
    closeness = F.when(F.col("sumd") == 0, F.lit(0)).otherwise(
        F.expr("(1000000 * (n_reached - 1)) div sumd")
    )
    return cl.join(F.broadcast(n), cl["seed"] == F.col("n_nationkey")).select(
        F.col("n_name").alias("nation"),
        "n_reached",
        closeness.cast("long").alias("closeness_micro"),
    )


_HARMONIC_ORACLE = f"""
WITH RECURSIVE te AS ({_TRADE_EDGES_CTE}),
pp AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM te WHERE src <> dst
    ) WHERE rn <= 3
),
und AS (SELECT src AS u, dst AS v FROM pp UNION SELECT dst, src FROM pp),
bfs(seed, node, d) AS (
    SELECT u, u, 0 FROM (SELECT DISTINCT u FROM und)
    UNION
    SELECT bfs.seed, und.v, bfs.d + 1
    FROM bfs JOIN und ON und.u = bfs.node
    WHERE bfs.d < 30
),
dists AS (
    SELECT seed, node, min(d) AS dist FROM bfs GROUP BY 1, 2
),
hc AS (
    SELECT seed,
           sum(CASE WHEN dist > 0 THEN 1000000 // dist ELSE 0 END)
               AS harmonic_micro
    FROM dists GROUP BY seed
)
SELECT n.n_name AS nation, CAST(hc.harmonic_micro AS BIGINT)
           AS harmonic_micro
FROM hc JOIN nation n ON n.n_nationkey = hc.seed
"""


@register(
    "graph_harmonic_centrality",
    _HARMONIC_ORACLE,
    tags=("graph", "iterative", "centrality"),
)
def q_graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality Σ 1/d over the same per-seed BFS sweep as
    closeness — the disconnection-robust variant (unreachable nodes
    contribute 0 instead of poisoning the mean, so it ranks sanely on
    fragmented graphs where closeness needs a reachability convention).
    Exact integer micro-units: Σ (10⁶ div d), truncating identically
    in both engines. Same scale posture as closeness
    (``bfs_distances_per_seed``: k seeds, diameter rounds)."""
    from data_ingestion_py_spark.operators.bfs import bfs_distances_per_seed
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].alias("src"), c["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    w = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    pp = (
        edges.where(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("src", "dst")
    )
    und = (
        pp.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(pp.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    seeds = und.select(F.col("u").alias("seed")).distinct()
    dists = bfs_distances_per_seed(und, seeds)
    hc = dists.groupBy("seed").agg(
        F.sum(
            F.when(F.col("dist") > 0, F.expr("1000000 div dist")).otherwise(0)
        )
        .cast("long")
        .alias("harmonic_micro")
    )
    return hc.join(F.broadcast(n), hc["seed"] == F.col("n_nationkey")).select(
        F.col("n_name").alias("nation"), "harmonic_micro"
    )
