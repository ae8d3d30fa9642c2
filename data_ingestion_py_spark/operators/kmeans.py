"""Deterministic integer-quantized k-means (Lloyd's iterations).

The clustering primitive the similarity layer assumes: ``ivf_topk`` and
``semantic_dedup_pairs`` take a cluster assignment as given (the
fixture's ``label`` column stands in); this operator produces that
assignment for real — companion to ``operators/pagerank.py`` as the
second oracle-replayable iterative algorithm.

Determinism design (same family as pagerank's integer fixed-point):
embedding components quantize to integer micro-units
(``floor(x·1e6)``, the ``embedding_label_centroids`` convention), so

- squared-L2 distances ``v·v − 2·v·c + c·c`` are sums of integer
  products ≤ ~2.6e14 < 2^53 — EXACT in double arithmetic in any
  engine, no summation-order drift;
- centroid updates are exact integer sums + floor division
  (``(s − pmod(s, n)) / n``, identical to DuckDB's
  ``(s − ((s % n) + n) % n) / n``);
- seeds are DETERMINISTIC farthest-first (k-means++ without the RNG):
  seed 0 = lowest ``vec_id``; seed i = the point maximizing the exact
  squared-L2 distance to its nearest chosen seed, ties → lower
  vec_id. A lowest-id-only seed rule would land every seed in one
  region when ids correlate with insertion order, collapsing Lloyd's
  into a poor local optimum — the planted three-blob test pins that
  farthest-first separates them. ``cid`` = seed selection order;
- ties in the assignment argmin break on the lower cid

— so the full iteration replays bit-identically as unrolled DuckDB
CTEs and sits under the registry's hard hash gate.

Seeding cost: k−1 extra passes over the quantized corpus, each a
TakeOrdered(1) scalar action with the current seed set inlined as
literals (seed vectors are k×dim — driver-small by the same argument
that makes centroids broadcastable). The 100 TB swap when k is large
is k-means|| oversampling (Bahmani et al.) — documented, not needed
at these k.

Scale shape, per round: centroids are k×dim — ALWAYS broadcastable
(one 1-row array crossJoin, the tiny-broadcast pattern); assignment is
one narrow map over the corpus (argmin via ``array_min`` over k
(distance, cid) structs — JVM column algebra, no UDF); the update is
posexplode → one hash-agg keyed (cid, pos) with map-side integer
partial sums. Per-round ``localCheckpoint`` of the k-row centroid
table keeps plan depth constant; the quantized corpus pins once, by
an eager ``localCheckpoint`` (unreplicated executor-local blocks,
lineage cut: losing an executor that holds them fails the query).
Empty clusters keep their previous centroid (standard Lloyd's guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_ingestion_py_spark.operators.similarity import dot

SCALE = 1_000_000


def micro_units(vec) -> F.Column:
    """The components of array column ``vec`` floor-quantized to integer
    micro-units, ``floor(x·SCALE)``, held as doubles: the metric space
    k-means, the IVF index and their DuckDB twins share."""
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * SCALE)
        .cast("long")
        .cast("double"),
    )


def _centroid_array(cents: DataFrame) -> DataFrame:
    """k-row (cid, cvec) table → 1-row array<struct<cid, cvec, cc>>
    ordered by cid, with each centroid's self-dot precomputed."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("_cs")
    ).select(
        F.transform(
            "_cs",
            lambda s: F.struct(
                s["cid"].alias("cid"),
                s["cvec"].alias("cvec"),
                dot(s["cvec"], s["cvec"]).alias("cc"),
            ),
        ).alias("cents")
    )


def _first_min(dist):
    """Row-wise column index of the first minimum under Spark's double
    ordering, where NaN sorts above +inf and equals NaN: the first
    minimum of the non-NaN values, or 0 for an all-NaN row."""
    import numpy as np

    low = np.where(np.isnan(dist), np.inf, dist).min(axis=1)
    return np.argmax(dist == low[:, None], axis=1)


def _assign(vq: DataFrame, cent_row: DataFrame) -> DataFrame:
    """(vec_id, v) × centroid array → (vec_id, v, cid) by exact
    squared-L2 argmin, ties to the lower cid.

    r16 (guide §4.2): the argmin runs as ONE numpy Arrow stage instead
    of a k×dim interpreted higher-order-function cascade per row (HOFs
    don't codegen — the two assignment passes dominated
    similarity_ivf_kmeans). The centroid table is k×dim — driver-small
    by the same argument that makes it broadcastable (the seed sweep
    already inlines it as literals) — so it is collected once per
    round and closed over.

    BIT-identical to the old ``array_min`` over (d, cid) structs on
    this domain: centroids are non-NULL vectors of one length with no
    NULL component (any other centroid raises ``ValueError``: the
    struct min would put its NULL distance below every number), and
    vector components are any doubles or NULL.
    - Finite quantized input: every distance is a sum of integer
      products ≤ ~2.6e14, exact in doubles in ANY summation order, so
      the matmul is safe; the first minimum over cid-ascending columns
      is the struct min's ties-to-lower-cid rule.
    - NaN and ±inf propagate to the same distances in any order
      (a NaN anywhere, or +inf meeting −inf, gives NaN). Spark orders
      NaN above +inf, so ``_first_min`` takes the first minimum of
      the non-NaN distances, and the lowest cid when all are NaN (all
      NaN tie).
    - A NULL component arrives in the stage as NaN; in Catalyst it
      makes every distance NULL, which ties on every cid, and the
      all-NaN row gives the same lowest cid.
    - NULL or wrong-length vectors resolve to the lowest cid, matching
      the all-NULL distances of the struct min.
    Pinned by the tests/test_kmeans.py parity test."""
    import numpy as np
    import pandas as pd

    cents = cent_row.collect()[0]["cents"]  # cid-ascending (array_sort)
    for c in cents:
        if c["cc"] is None:
            raise ValueError(
                f"centroid {c['cid']} is NULL or has a NULL component"
            )
    mat = np.array([list(c["cvec"]) for c in cents], dtype=np.float64)
    cc = np.array([float(c["cc"]) for c in cents], dtype=np.float64)
    cids = np.array([int(c["cid"]) for c in cents], dtype=np.int32)
    d_in = mat.shape[1]

    def _go(batches):
        for pdf in batches:
            n = len(pdf)
            vecs = list(pdf["v"])
            ok = np.fromiter(
                (v is not None and len(v) == d_in for v in vecs),
                dtype=bool,
                count=n,
            )
            cid = np.full(n, cids[0] if len(cids) else 0, dtype=np.int32)
            if ok.any():
                V = np.stack(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v, o in zip(vecs, ok)
                        if o
                    ]
                )
                dist = (
                    (V * V).sum(axis=1)[:, None]
                    - 2.0 * (V @ mat.T)
                    + cc[None, :]
                )
                cid[ok] = cids[_first_min(dist)]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": vecs, "cid": cid}
            )

    return vq.mapInPandas(_go, "vec_id bigint, v array<double>, cid int")


def _farthest_first_seeds(vq: DataFrame, k: int) -> list[list[float]]:
    """Deterministic farthest-first seed sweep over the quantized
    corpus: seed 0 = lowest vec_id; each next seed maximizes the exact
    squared-L2 distance to its nearest already-chosen seed (ties →
    lower vec_id). Each round inlines the current seed vectors as
    literals (k×dim — the same size class as the broadcast centroid
    array) and runs one TakeOrdered(1) action; distances are exact
    integer arithmetic in doubles, so the sweep replays bit-identically
    in the DuckDB oracle.

    Build-time jobs: k collects (the first seed, then one per round),
    run before the caller's action because seed i+1 is a function of
    seeds 0..i — the rule itself is sequential and the seeds must be
    driver literals. Each lazily checkpointed round adds its AQE stage
    jobs. Fewer, fatter rounds need a different seed rule (k-means||,
    with its DuckDB twin changed alongside); a numpy ``mapInPandas``
    pass per round under this rule measured 2.1× slower than the
    chain below (1.28 → 2.66 s for k=8 at sf0.1, 4-core box).

    Fault tolerance: the k−1 rounds are a chain of lazy
    ``localCheckpoint``s, whose blocks live only in executor storage
    and whose lineage is cut. Losing an executor that holds one fails
    the query: Spark cannot recompute the block. No round unpersists
    its predecessor; the blocks stay until Spark's cleaner collects
    their RDDs."""
    first = vq.orderBy("vec_id").limit(1).collect()[0]
    seeds: list[list[float]] = [list(first.v)]

    # The whole per-round min-distance expression is built as ONE SQL
    # string (r13): the Column-API form issued ~65 py4j round-trips
    # per seed literal (64 F.lit + F.array), ~0.55 s of driver time
    # just CONSTRUCTING round 7's expression at dim 64 — pure fixed
    # overhead that the unrolled-iterative family pays per query
    # build. One F.expr call is plan-identical (same zip_with/
    # aggregate fold, same literal doubles via repr's exact shortest
    # round-trip) so the DuckDB oracle replay is unchanged.
    def _fmt(x: float) -> str:
        # repr() of non-finite floats ('nan'/'inf') is not valid SQL —
        # spell them as Spark double literals so a wild vector can't
        # raise a ParseException at plan build (advisor finding, r13).
        x = float(x)
        if x != x:
            return "double('NaN')"
        if x == float("inf"):
            return "double('Infinity')"
        if x == float("-inf"):
            return "double('-Infinity')"
        return repr(x) + "D"

    def _term(sv: list[float]) -> str:
        lit = "array(" + ",".join(_fmt(x) for x in sv) + ")"
        ss = _fmt(float(sum(x * x for x in sv)))  # exact: ints < 2^53
        return (
            "aggregate(zip_with(v, v, (x, y) -> x * y), 0.0D,"
            " (acc, x) -> acc + x)"
            f" - 2 * aggregate(zip_with(v, {lit}, (x, y) -> x * y),"
            " 0.0D, (acc, x) -> acc + x)"
            f" + {ss}"
        )

    # Incremental running-min (r16, guide §1.2 "the distributed
    # algorithm first"): round i used to rebuild least() over ALL i
    # seed terms — O(k²·dim) interpreted HOF work across the sweep,
    # and the k−1 sequential TakeOrdered jobs each re-scanned the raw
    # corpus. Carrying the min distance as a lazily-localCheckpointed
    # column makes round i compute exactly ONE new dot product per row
    # over the previous round's persisted (vec_id, v, _d). Exactness is
    # unchanged: every distance term is the same expression over the
    # same quantized integers (sums ≤ ~2.6e14 stay exact in doubles),
    # and min is associative — least(least(a,b),c) ≡ least(a,b,c)
    # bit-for-bit here, so the oracle's per-round `min(...)` replay
    # still matches. At 100 TB the persisted per-round corpus copies
    # argue for the documented k-means|| swap, exactly as before.
    cur = vq.select(
        "vec_id", "v", F.expr(_term(seeds[0])).alias("_d")
    ).localCheckpoint(eager=False)
    for i in range(1, k):
        nxt = (
            cur.orderBy(F.desc("_d"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        seeds.append(list(nxt.v))
        if i < k - 1:
            cur = cur.select(
                "vec_id",
                "v",
                F.least(F.col("_d"), F.expr(_term(seeds[-1]))).alias("_d"),
            ).localCheckpoint(eager=False)
    return seeds


def kmeans_integer(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, cid) after ``n_iter`` assignment rounds (with
    ``n_iter − 1`` centroid updates between them) of deterministic
    integer Lloyd's k-means. ``cid`` is 0..k−1 in farthest-first seed
    selection order."""
    assigned, _ = kmeans_integer_model(embeddings, k, n_iter, vec_col, id_col)
    return assigned


def kmeans_integer_model(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """``kmeans_integer`` plus the trained quantizer itself:
    (assignment (vec_id, cid), final centroids (cid, cvec)). The
    centroid table is the one the FINAL assignment ran against, so it
    always holds exactly k rows (empty clusters keep their previous
    centroid — the standard Lloyd's guard) and re-assigning any input
    vector against it replays its assignment bit-identically. This is
    the handle a durable index (``operators/ivf_index``) persists:
    recomputing means from the final assignment instead would DROP any
    cluster that assignment left empty, silently shrinking the
    quantizer below k."""
    # NOTE(r15): a spread_for_kernel rebalance here was measured and
    # REVERTED — k-means wall time is dominated by its job count (k−1
    # sequential seed sweeps + per-round eager checkpoints), so 32-way
    # spreading a small pinned corpus multiplied every micro-job's
    # task-scheduling overhead (7.1 s → 10.8 s at sf0.1) while the
    # argmin compute it parallelized was trivial. At 100 TB the corpus
    # arrives multi-file (already spread) and the interpreted argmin
    # parallelizes with the scan.
    vq = embeddings.select(
        F.col(id_col).alias("vec_id"), micro_units(vec_col).alias("v")
    ).localCheckpoint(eager=True)
    cents = embeddings.sparkSession.createDataFrame(
        [(i, sv) for i, sv in enumerate(_farthest_first_seeds(vq, k))],
        "cid int, cvec array<double>",
    )
    assigned = _assign(vq, _centroid_array(cents))
    for _ in range(n_iter - 1):
        n = F.count(F.lit(1))
        s = F.sum("val").cast("long")
        means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                ((s - F.pmod(s, n)) / n).cast("long").cast("double").alias("m")
            )
        )
        newc = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"],
            ).alias("cvec")
        )
        # empty clusters keep their previous centroid
        cents = (
            cents.select("cid", F.col("cvec").alias("_old"))
            .join(newc, "cid", "left")
            .select("cid", F.coalesce("cvec", "_old").alias("cvec"))
            .localCheckpoint(eager=True)
        )
        assigned = _assign(vq, _centroid_array(cents))
    return assigned.select("vec_id", "cid"), cents


def kmeans_ctes(
    embeddings_rel: str = "embeddings",
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[str, str]:
    """The unrolled k-means CTE chain, composable into larger oracle
    queries. Returns (ctes, final_assignment_name): the caller prepends
    its own CTEs (e.g. a planted-dup corpus) and selects from the
    returned assignment relation (vec_id, v, cid). The farthest-first
    seed sweep unrolls as one seed-pick CTE per seed; the max-distance
    pick is the same correlated-min ORDER BY the assignment argmin
    uses."""
    d2 = (
        "(list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.cvec)"
        " + list_dot_product(c.cvec, c.cvec))"
    )
    parts = [
        f"""vq AS (
    SELECT {id_col} AS vec_id,
           list_transform({vec_col}, x ->
               CAST(CAST(floor(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)
                    AS DOUBLE)) AS v
    FROM {embeddings_rel}
)""",
    ]
    d2_seed = (
        "(list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, p.v)"
        " + list_dot_product(p.v, p.v))"
    )
    parts.append(
        """p0 AS (
    SELECT 0 AS cid, vec_id, v FROM vq ORDER BY vec_id LIMIT 1
)"""
    )
    for i in range(1, k):
        parts.append(
            f"""p{i} AS (
    SELECT cid, vec_id, v FROM p{i - 1}
    UNION ALL
    SELECT {i} AS cid, vec_id, v FROM (
        SELECT q.vec_id, q.v FROM vq q
        ORDER BY (SELECT min({d2_seed}) FROM p{i - 1} p) DESC, q.vec_id
        LIMIT 1)
)"""
        )
    parts.append(
        f"""c0 AS (
    SELECT CAST(cid AS INT) AS cid, v AS cvec FROM p{k - 1}
)"""
    )
    prev_c = "c0"
    for i in range(1, n_iter + 1):
        parts.append(
            f"""a{i} AS (
    SELECT q.vec_id, q.v,
           (SELECT c.cid FROM {prev_c} c
            ORDER BY {d2}, c.cid LIMIT 1) AS cid
    FROM vq q
)"""
        )
        if i < n_iter:
            parts.append(
                f"""m{i} AS (
    SELECT cid, pos,
           CAST(CAST((s - ((s % n) + n) % n) / n AS BIGINT) AS DOUBLE) AS m
    FROM (
        SELECT cid, u.pos AS pos, CAST(sum(u.q) AS BIGINT) AS s,
               count(*) AS n
        FROM (
            SELECT cid,
                   unnest(list_transform(generate_series(1, len(v)),
                       j -> {{'pos': j - 1, 'q': CAST(v[j] AS BIGINT)}})) AS u
            FROM a{i})
        GROUP BY cid, u.pos)
)""",
            )
            parts.append(
                f"""c{i} AS (
    SELECT p.cid, coalesce(nc.cvec, p.cvec) AS cvec
    FROM {prev_c} p
    LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS cvec
               FROM m{i} GROUP BY cid) nc USING (cid)
)"""
            )
            prev_c = f"c{i}"
    return ",\n".join(parts), f"a{n_iter}"


def kmeans_oracle_sql(
    embeddings_rel: str = "embeddings",
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB SQL replaying ``kmeans_integer`` exactly — quantize,
    seed (farthest-first sweep), then alternate assignment
    (correlated argmin over the k centroids, ties to lower cid) and
    floor-division centroid update, unrolled as chained CTEs."""
    ctes, final = kmeans_ctes(embeddings_rel, k, n_iter, vec_col, id_col)
    return f"""
WITH {ctes}
SELECT vec_id, cid FROM {final}
"""
