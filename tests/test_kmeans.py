"""Integer k-means: hand-built geometry with known answers, plus the
DuckDB unrolled-CTE oracle replay (same integer arithmetic, two
engines, bit-identical — the pagerank verification pattern)."""

from __future__ import annotations

import duckdb
import pytest

from data_ingestion_py_spark.operators.kmeans import (
    SCALE,
    kmeans_integer,
    kmeans_integer_model,
    kmeans_oracle_sql,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_two_blobs_separate(spark):
    # two tight blobs far apart; seeds (ids 0,1) land one per blob
    blob_a = [(0, [0.9, 0.9]), (2, [0.91, 0.88]), (4, [0.89, 0.92])]
    blob_b = [(1, [-0.9, -0.9]), (3, [-0.88, -0.91]), (5, [-0.92, -0.89])]
    out = kmeans_integer(_emb(spark, blob_a + blob_b), k=2, n_iter=3)
    got = {r.vec_id: r.cid for r in out.collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]


def test_empty_cluster_keeps_previous_centroid(spark):
    # farthest-first picks ids 0 and 2; then every point sits at
    # distance 0 from a seed, so the tie goes to the lowest id and seed
    # 2 duplicates seed 0. Round-1 ties all break to cid 0, so cid 2's
    # cluster is empty at the first update — the coalesce guard must
    # keep its centroid instead of crashing or shrinking the model
    # below k.
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [-1.0, -1.0])]
    assigned, cents = kmeans_integer_model(_emb(spark, rows), k=3, n_iter=3)
    assert {r.vec_id: r.cid for r in assigned.collect()} == {0: 0, 1: 0, 2: 1}
    one = float(SCALE)
    assert {r.cid: list(r.cvec) for r in cents.collect()} == {
        0: [one, one],
        1: [-one, -one],
        2: [one, one],
    }


def test_farthest_seeding_separates_where_lowid_fails(spark):
    # Planted adversarial corpus (VERDICT r5 #5): ids correlate with
    # position — ALL low ids sit in one tight blob; blobs B and C
    # start at ids 100/200. A lowest-id seed rule would put all 3 seeds
    # in blob A, and since A's points differ only in x while B and C
    # differ only in y, B and C would fuse under one centroid for
    # good. Farthest-first's sweep jumps blob-to-blob by construction.
    # All coordinates are multiples of 1/64 — exactly representable in
    # float32, so both engines and the quantizer see identical values.
    blob_a = [(i, [0.125 + i / 64.0, 0.125]) for i in range(8)]
    blob_b = [(100 + i, [9.0 + i / 64.0, 9.0]) for i in range(8)]
    blob_c = [(200 + i, [9.0 + i / 64.0, -9.0]) for i in range(8)]
    corpus = _emb(spark, blob_a + blob_b + blob_c)

    far = {r.vec_id: r.cid for r in
           kmeans_integer(corpus, k=3, n_iter=3).collect()}
    cid_sets = [
        {far[i] for i, _ in blob} for blob in (blob_a, blob_b, blob_c)
    ]
    assert all(len(s) == 1 for s in cid_sets)
    assert len(set().union(*cid_sets)) == 3  # three distinct clusters


def test_farthest_seeding_matches_oracle(spark):
    # the seed sweep itself must replay in DuckDB (adversarial corpus
    # where seeding decides the outcome; exact-float32 coordinates)
    rows = [(i, [0.125 + i / 64.0, 0.125]) for i in range(6)]
    rows += [(100 + i, [9.0 + i / 64.0, 9.0]) for i in range(6)]
    got = sorted(
        (r.vec_id, r.cid)
        for r in kmeans_integer(_emb(spark, rows), k=3, n_iter=2).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[]);")
    for vid, v in rows:
        con.execute(f"INSERT INTO embeddings VALUES ({vid}, {v})")
    want = sorted(
        map(tuple, con.execute(kmeans_oracle_sql(k=3, n_iter=2)).fetchall())
    )
    assert got == want


@pytest.mark.parametrize("k,n_iter", [(2, 2), (3, 3)])
def test_matches_duckdb_oracle_replay(spark, k, n_iter):
    rows = [
        (0, [0.5, -0.25, 0.125]),
        (1, [-0.5, 0.3, 0.7]),
        (2, [0.45, -0.2, 0.1]),
        (3, [-0.55, 0.35, 0.65]),
        (4, [0.0, 0.0, 0.0]),
        (5, [0.52, -0.22, 0.18]),
        (6, [-0.48, 0.28, 0.72]),
    ]
    got = sorted(
        (r.vec_id, r.cid)
        for r in kmeans_integer(_emb(spark, rows), k=k, n_iter=n_iter).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[]);"
    )
    for vid, v in rows:
        con.execute(f"INSERT INTO embeddings VALUES ({vid}, {v})")
    sql = kmeans_oracle_sql(k=k, n_iter=n_iter)
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want


def test_k_exceeds_corpus_size(spark):
    # k=5 over 3 points: LIMIT k yields only 3 seeds; the run must
    # complete with 3 effective clusters and every point assigned.
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])]
    out = kmeans_integer(_emb(spark, rows), k=5, n_iter=2)
    got = {r.vec_id: r.cid for r in out.collect()}
    assert set(got) == {0, 1, 2}
    assert len(set(got.values())) == 3


def test_non_finite_seed_components_build_valid_plans(spark):
    """r14 (advisor): a NaN/Inf seed component must render as a valid
    Spark double literal (double('NaN'), double('Infinity')) inside
    the one-string farthest-first expression — repr() spells them
    'nan'/'inf', which is a ParseException at plan build. The sweep
    must complete, not throw."""
    from data_ingestion_py_spark.operators.kmeans import (
        _farthest_first_seeds,
    )

    nan, inf = float("nan"), float("inf")
    vq = spark.createDataFrame(
        [
            (0, [nan, 1.0]),        # seed 0: carries the NaN literal
            (1, [inf, -inf]),
            (2, [3.0, 4.0]),
            (3, [-5.0, 12.0]),
        ],
        "vec_id long, v array<double>",
    )
    seeds = _farthest_first_seeds(vq, k=3)
    assert len(seeds) == 3
    assert seeds[0][0] != seeds[0][0]  # NaN survived into seed 0


def test_assign_numpy_matches_catalyst_argmin(spark):
    """r16: `_assign`'s argmin moved from a k×dim interpreted HOF
    cascade to a numpy Arrow stage. Pin BIT-exact parity against the
    original array_min-over-struct expression (the one the DuckDB
    oracle's correlated argmin replays), including exact-tie rows
    (lower cid wins) and degenerate vectors (lowest cid, the
    nulls-first struct ordering)."""
    from pyspark.sql import functions as F

    from data_ingestion_py_spark.io import load_table
    from data_ingestion_py_spark.operators.kmeans import (
        SCALE,
        _assign,
        _centroid_array,
    )
    from data_ingestion_py_spark.operators.similarity import dot
    from tests.conftest import SF_SMOKE

    vq = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * SCALE)
            .cast("long")
            .cast("double"),
        ).alias("v"),
    )
    # centroids: four corpus rows (so some distances tie exactly at 0
    # for the rows themselves) — cid order deliberately non-trivial
    cents = spark.createDataFrame(
        [
            (i, list(r.v))
            for i, r in enumerate(vq.orderBy("vec_id").limit(4).collect())
        ],
        "cid int, cvec array<double>",
    )
    cent_row = _centroid_array(cents)

    def catalyst_assign(vq, cent_row):
        vv = dot(F.col("v"), F.col("v"))
        best = F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    (vv - 2 * dot(F.col("v"), c["cvec"]) + c["cc"]).alias(
                        "d"
                    ),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return vq.crossJoin(F.broadcast(cent_row)).select(
            "vec_id", "v", best["cid"].alias("cid")
        )

    want = {
        r.vec_id: r.cid for r in catalyst_assign(vq, cent_row).collect()
    }
    got = {r.vec_id: r.cid for r in _assign(vq, cent_row).collect()}
    assert got == want

    # an exact duplicate centroid forces a tie on EVERY row: both
    # implementations must break it to the lower cid
    first = cents.orderBy("cid").limit(1).collect()[0]
    dup = cents.unionByName(
        spark.createDataFrame(
            [(9, list(first.cvec))], "cid int, cvec array<double>"
        )
    )
    dup_row = _centroid_array(dup)
    want_d = {
        r.vec_id: r.cid for r in catalyst_assign(vq, dup_row).collect()
    }
    got_d = {r.vec_id: r.cid for r in _assign(vq, dup_row).collect()}
    assert got_d == want_d

    # degenerate vectors resolve to the lowest cid in both
    weird = spark.createDataFrame(
        [(100, None), (101, [1.0, 2.0])],
        "vec_id bigint, v array<double>",
    )
    got_w = {r.vec_id: r.cid for r in _assign(weird, cent_row).collect()}
    want_w = {
        r.vec_id: r.cid for r in catalyst_assign(weird, cent_row).collect()
    }
    assert got_w == want_w

    # non-finite input: Spark orders NaN above +inf (and NaN == NaN),
    # a NULL component makes every Catalyst distance NULL; ±inf meets
    # centroid components of either sign, so a row's distances mix
    # +inf and NaN. The NaN centroid takes the lowest cid, where a
    # first-NaN argmin would send every row to it.
    nan, inf = float("nan"), float("inf")
    base = list(cents.orderBy("cid").first().cvec)

    def with_(**at):
        v = list(base)
        for i, x in at.items():
            v[int(i[1:])] = x
        return v

    edge = spark.createDataFrame(
        [
            (200, with_(i0=nan)),
            (201, with_(i0=inf)),
            (202, with_(i0=-inf)),
            (203, with_(i0=None)),
            (204, with_(i0=inf, i1=-inf)),
            (205, with_(i3=inf)),
            (206, with_(i5=-inf)),
            (207, [nan] * len(base)),
        ],
        "vec_id bigint, v array<double>",
    )
    nan_cents = cents.select(
        (F.col("cid") + 1).alias("cid"), "cvec"
    ).unionByName(
        spark.createDataFrame(
            [(0, with_(i2=nan))], "cid int, cvec array<double>"
        )
    )
    for rows in (edge, vq, weird):
        for row in (cent_row, _centroid_array(nan_cents)):
            got_e = {r.vec_id: r.cid for r in _assign(rows, row).collect()}
            want_e = {
                r.vec_id: r.cid for r in catalyst_assign(rows, row).collect()
            }
            assert got_e == want_e
    assert {
        r.vec_id: r.cid
        for r in _assign(edge, _centroid_array(nan_cents)).collect()
    }[207] == 0
    null_cents = nan_cents.unionByName(
        spark.createDataFrame(
            [(9, with_(i0=None))], "cid int, cvec array<double>"
        )
    )
    with pytest.raises(ValueError, match="centroid 9"):
        _assign(edge, _centroid_array(null_cents))
