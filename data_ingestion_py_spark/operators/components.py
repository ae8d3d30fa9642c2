"""Connected components over a pair list — dedup-cluster assembly.

The missing last stage of every near-dedup pipeline: LSH/verify emits
PAIRS (a~b, b~c), but the keep/drop decision needs CLUSTERS ({a,b,c} →
keep min, drop the rest). The reference stops at its FAISS stub
(data_ingestion.py:283-289) and never groups duplicates at all; this
operator closes that gap Spark-side.

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round a node adopts the minimum label among itself
and its neighbors; fixpoint = components. Rounds needed = graph
diameter, and near-dup graphs are shallow (clusters are cliques or
short chains from transitive similarity), so 3-5 rounds is typical.
Long chains cost more rounds, and on power-law graphs a hub is a hot
key: its neighbors' labels shuffle through it every round.

Scale design, per round: one shuffle join (edges ⋈ labels on dst) +
one min-aggregation — both keyed joins AQE handles; no driver-side
data, no Python. ``localCheckpoint`` truncates lineage each round so
N rounds cost N plans of depth 1, not one plan of depth N (same
pattern as catalog.state.materialize). The per-round convergence check
is one ``count`` action — the standard driver-side control loop of
iterative graph algorithms (GraphX/Pregel does the same under the
hood).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``.

    ``component`` is the minimum node id in the node's connected
    component — a stable, engine-independent canonical representative
    (the same doc survives dedup on every run and every engine).
    """
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # undirected: propagate both ways; localCheckpoint so the (possibly
    # expensive) upstream LSH pipeline computes once, not once per round
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("_chg"),
            )
        ).localCheckpoint()
        n_changed = updated.where(F.col("_chg")).count()
        labels = updated.drop("_chg")
        if n_changed == 0:
            break
    return labels


def dedup_clusters(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) per clustered document.

    ``cluster_id`` = min doc in the component (the canonical keeper);
    ``cluster_size`` counts members, so ``doc_id != cluster_id`` rows
    are exactly the drop set of the dedup pass.
    """
    from pyspark.sql.window import Window

    cc = connected_components(pairs, src, dst)
    w = Window.partitionBy("component")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
