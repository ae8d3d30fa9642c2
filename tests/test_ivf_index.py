"""Durable IVF index (operators/ivf_index): probe semantics vs an
independent in-test model, partition pruning, restart/idempotency, and
compaction equivalence — the test contract mirrored from
tests/test_band_index.py for the similarity side."""

from __future__ import annotations

import math
import os
import shutil
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from data_ingestion_py_spark.operators.ivf_index import IvfIndex
from data_ingestion_py_spark.operators.kmeans import SCALE
from data_ingestion_py_spark.plans import explain as E

SF = "/root/testdata/sf0.001"
QUERY = None  # filled per test from the fixture


def _emb(spark, lo=0, hi=10**9, id_shift=0):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select(
            (F.col("vec_id") + id_shift).alias("vec_id"),
            F.col("embedding"),
        )
    )


def _query_vec(spark):
    r = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .where(F.col("vec_id") == 0)
        .first()
    )
    return [float(x) for x in r.embedding]


def _model_probe(spark, idx: IvfIndex, qv, k, nprobe):
    """Independent sequential model of probe(): quantize the query and
    centroids in python ints, pick nprobe nearest clusters by exact
    squared-L2 (ties → lower cid), then exact cosine top-k over the
    stored vectors of those clusters only."""
    qq = [math.floor(x * SCALE) for x in qv]
    cents = sorted(
        (
            sum(
                (a - int(b)) * (a - int(b))
                for a, b in zip(qq, r.cvec)
            ),
            r.cid,
        )
        for r in idx.centroids().collect()
    )
    probed = {cid for _, cid in cents[:nprobe]}
    rows = []
    for r in idx.vectors().collect():
        if r.cid not in probed:
            continue
        v = [float(x) for x in r.embedding]
        d = 0.0
        for a, b in zip(v, qv):
            d = d + a * b
        nv = math.sqrt(sum(a * a for a in v))
        nq = math.sqrt(sum(b * b for b in qv))
        # HALF_UP on the shortest decimal repr — what Spark's F.round
        # does; python round() is half-to-even and diverges on exact
        # .5 boundaries (same model-rounding rule as model_rrf in
        # test_retrieval_props.py)
        sim = float(
            Decimal(repr(d / (nv * nq))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        rows.append((r.vec_id, r.cid, sim))
    rows.sort(key=lambda t: (-t[2], t[0]))
    return rows[:k]


def test_probe_matches_sequential_model(spark, tmp_path):
    idx = IvfIndex(spark, str(tmp_path / "idx"), k=4)
    idx.append_batch(_emb(spark), batch_id=0)
    qv = _query_vec(spark)
    got = [
        (r.vec_id, r.cid, r.cosine_sim)
        for r in idx.probe(qv, k=10, nprobe=2).collect()
    ]
    assert got == _model_probe(spark, idx, qv, 10, 2)
    # the probe really is partial: some vectors live outside the
    # probed clusters (otherwise this test proves nothing)
    n_all = idx.vectors().count()
    n_probed = idx.vectors().where(
        F.col("cid").isin(idx.probe_clusters(qv, 2))
    ).count()
    assert 0 < n_probed < n_all


def test_probe_scan_prunes_cluster_partitions(spark, tmp_path):
    """The probe's vectors scan must carry PartitionFilters on cid —
    unprobed clusters' directories are never read."""
    idx = IvfIndex(spark, str(tmp_path / "idx"), k=4)
    idx.append_batch(_emb(spark), batch_id=0)
    probe = idx.probe(_query_vec(spark), k=5, nprobe=1)
    filters = E.partition_filters(probe)
    assert any("cid" in f for f in filters), E.executed_plan(probe)


def test_restart_freezes_centroids_and_skips_redelivery(spark, tmp_path):
    """Two process lifetimes over the same path: the second opens a
    FRESH handle (k restored from meta/), appends against the FROZEN
    centroids (no retrain), and its commit markers reject re-delivered
    batches. A vector identical to one admitted before the restart
    must land in the same cluster after it."""
    path = str(tmp_path / "idx")
    idx1 = IvfIndex(spark, path, k=4)
    idx1.append_batch(_emb(spark, lo=0, hi=250), batch_id=0)
    cents1 = {
        r.cid: tuple(r.cvec) for r in idx1.centroids().collect()
    }

    # lifetime 2: default-k handle must restore k=4 from meta
    idx2 = IvfIndex(spark, path)
    assert idx2.k == 4
    assert idx2.has_batch(0) and not idx2.has_batch(1)
    # batch 1 = the same vectors under shifted ids (identical
    # embeddings → identical frozen-centroid assignment)
    idx2.append_batch(
        _emb(spark, lo=0, hi=250, id_shift=10_000), batch_id=1
    )
    cents2 = {r.cid: tuple(r.cvec) for r in idx2.centroids().collect()}
    assert cents2 == cents1  # frozen, not retrained
    a = {
        r.vec_id: r.cid
        for r in idx2.vectors().select("vec_id", "cid").collect()
    }
    for vid in list(a):
        if vid < 10_000:
            assert a[vid] == a[vid + 10_000]

    # idempotent re-delivery: the stream-side guard is has_batch
    assert idx2.has_batch(1)
    n = idx2.vectors().count()
    if not idx2.has_batch(2):
        idx2.append_batch(
            _emb(spark, lo=0, hi=50, id_shift=20_000), batch_id=2
        )
    assert idx2.vectors().count() == n + 50


def test_compaction_preserves_probe_results(spark, tmp_path):
    idx = IvfIndex(spark, str(tmp_path / "idx"), k=4)
    for b in range(3):
        idx.append_batch(
            _emb(spark, lo=0, hi=10**9, id_shift=b * 10_000), batch_id=b
        )
    qv = _query_vec(spark)
    before = [tuple(r) for r in idx.probe(qv, k=10, nprobe=2).collect()]
    cidx = idx.compacted(str(tmp_path / "idx2"))
    after = [tuple(r) for r in cidx.probe(qv, k=10, nprobe=2).collect()]
    assert after == before
    assert cidx.committed_batches() == [2]
    assert cidx.has_batch(2) and not cidx.has_batch(0)


def test_empty_index_compaction_rejected(spark, tmp_path):
    idx = IvfIndex(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError):
        idx.compacted(str(tmp_path / "out"))


def test_torn_batch_is_invisible_and_repaired(spark, tmp_path):
    """Crash simulation for the marker-last commit protocol: a batch
    whose vectors landed (even COMPLETELY) but whose marker never got
    created must read as uncommitted — invisible to vectors()/probe —
    and the re-delivered append must repair it to exactly one copy.
    This is the failure the old data-dir-as-marker design lost vectors
    on: the partial directory read as committed and the re-delivery
    skipped itself."""
    path = str(tmp_path / "idx")
    idx = IvfIndex(spark, path, k=4)
    idx.append_batch(_emb(spark, lo=0, hi=300), batch_id=0)
    n0 = idx.vectors().count()

    idx.append_batch(
        _emb(spark, lo=0, hi=300, id_shift=10_000), batch_id=1
    )
    n_full = idx.vectors().count()
    assert n_full == 2 * n0

    # simulate the crash: batch 1's job commit ran (data present, in
    # this worst case fully) but the process died before the marker
    os.remove(os.path.join(path, "markers", "batch_1"))
    # ... and make the directory actually PARTIAL: drop one cid dir
    batch_dir = os.path.join(path, "vectors", "ingest_batch=1")
    cid_dirs = sorted(
        d for d in os.listdir(batch_dir) if d.startswith("cid=")
    )
    shutil.rmtree(os.path.join(batch_dir, cid_dirs[0]))

    # torn batch: unmarked => uncommitted, and its rows are invisible
    assert not idx.has_batch(1)
    assert idx.committed_batches() == [0]
    assert idx.vectors().count() == n0
    assert idx.vectors().where(F.col("ingest_batch") == 1).count() == 0

    # re-delivery repairs: partial dir replaced, exactly one copy lands
    idx.append_batch(
        _emb(spark, lo=0, hi=300, id_shift=10_000), batch_id=1
    )
    assert idx.has_batch(1)
    assert idx.vectors().count() == n_full
    assert (
        idx.vectors()
        .groupBy("vec_id")
        .count()
        .where(F.col("count") > 1)
        .count()
        == 0
    )
    # ... and a second re-delivery after success no-ops
    idx.append_batch(
        _emb(spark, lo=0, hi=300, id_shift=10_000), batch_id=1
    )
    assert idx.vectors().count() == n_full


def test_probe_batch_matches_sequential_probes(spark, tmp_path):
    """probe_batch over n query vectors must replay n sequential
    probe() calls exactly — same candidates, same cosine, same
    tie-ranked top-k — while planning ONE pruned scan (PartitionFilters
    on cid) instead of n."""
    idx = IvfIndex(spark, str(tmp_path / "idx"), k=4)
    idx.append_batch(_emb(spark), batch_id=0)

    qrows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .where(F.col("vec_id").isin([0, 3, 7]))
        .collect()
    )
    queries = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows],
        "query_id long, embedding array<double>",
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cid, r.cosine_sim)
        for r in idx.probe_batch(queries, k=5, nprobe=2).collect()
    }
    for r in qrows:
        qv = [float(x) for x in r.embedding]
        seq = idx.probe(qv, k=5, nprobe=2).collect()
        for rank, s in enumerate(seq, start=1):
            assert got[(int(r.vec_id), rank)] == (
                s.vec_id,
                s.cid,
                s.cosine_sim,
            ), (r.vec_id, rank)
    assert len(got) == 3 * 5

    batch = idx.probe_batch(queries, k=5, nprobe=2)
    filters = E.partition_filters(batch)
    assert any("cid" in f for f in filters), E.executed_plan(batch)


def test_skew_metric_and_retrain_signal(spark, tmp_path):
    """The frozen quantizer's drift alarm: a balanced corpus reads
    ratio ≈ 1 and needs_retrain False; piling drifted batches into one
    cluster (constant vectors sit in exactly one argmin cell) drives
    max/mean up until the signal fires."""
    idx = IvfIndex(spark, str(tmp_path / "idx"), k=4)
    idx.append_batch(_emb(spark), batch_id=0)
    s0 = idx.skew()
    assert s0["max_size"] >= s0["mean_size"] > 0
    # k=4 trained clusters: ratio is bounded by k even if unbalanced
    assert 1.0 <= s0["ratio"] <= 4.0
    assert not idx.needs_retrain(max_over_mean=4.0)

    # drift: every new vector identical => all land in ONE cluster
    dim = len(_query_vec(spark))
    n0 = idx.vectors().count()
    drifted = spark.range(5 * n0).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.array(*[F.lit(0.123)] * dim).alias("embedding"),
    )
    idx.append_batch(drifted, batch_id=1)
    s1 = idx.skew()
    # one cluster now holds >= 5/6 of the corpus; mean = corpus/4
    assert s1["ratio"] > 3.0
    assert idx.needs_retrain(max_over_mean=3.0)
    # the documented remedy is a NEW index trained on current data —
    # verify the swap target comes up balanced again
    re_idx = IvfIndex(spark, str(tmp_path / "idx_v2"), k=4)
    re_idx.append_batch(
        idx.vectors().select("vec_id", "embedding"), batch_id=0
    )
    assert re_idx.skew()["ratio"] < s1["ratio"]


def test_retrained_executes_drift_lifecycle(spark, tmp_path):
    """The EXECUTED retrain the drift signal promises: drift the corpus
    until needs_retrain fires, run retrained(new_path), and check the
    whole contract — post-retrain skew back under the threshold, probe
    results identical to a from-scratch index on the same corpus, the
    old index untouched, and the re-delivery guard surviving the swap."""
    dim = len(_query_vec(spark))
    idx = IvfIndex(spark, str(tmp_path / "idx"), k=4)
    idx.append_batch(_emb(spark), batch_id=0)
    # drift: the whole corpus re-embedded into a far region (x + 5 —
    # same internal spread, shifted away). Every drifted vector lands
    # in one-or-two frozen argmin cells, but a FRESH quantizer splits
    # its clusters across both regions.
    drifted = _emb(spark, id_shift=1_000_000).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double") + 5.0
        ).alias("embedding"),
    )
    idx.append_batch(drifted, batch_id=1)
    threshold = 1.9
    assert idx.needs_retrain(max_over_mean=threshold)

    new_idx = idx.retrained(str(tmp_path / "idx_v2"))
    # balance restored below the firing threshold
    assert new_idx.skew()["ratio"] <= threshold
    assert not new_idx.needs_retrain(max_over_mean=threshold)
    # same corpus, fresh quantizer: bit-match a from-scratch build on
    # the same rows (trainer is deterministic + order-independent)
    scratch = IvfIndex(spark, str(tmp_path / "idx_scratch"), k=4)
    scratch.append_batch(
        idx.vectors().select("vec_id", "embedding"), batch_id=0
    )
    assert {
        r.cid: tuple(r.cvec) for r in new_idx.centroids().collect()
    } == {r.cid: tuple(r.cvec) for r in scratch.centroids().collect()}
    qv = [5.0 + x for x in _query_vec(spark)]
    assert [
        tuple(r) for r in new_idx.probe(qv, k=10, nprobe=2).collect()
    ] == [tuple(r) for r in scratch.probe(qv, k=10, nprobe=2).collect()]
    assert new_idx.vectors().count() == idx.vectors().count()
    # old index untouched (same committed batches, same row count)
    assert idx.committed_batches() == [0, 1]
    # re-delivery guard survives the swap: the corpus landed under the
    # max committed batch id, so a restarted stream re-sending batch 1
    # no-ops on the new index
    assert new_idx.committed_batches() == [1]
    n = new_idx.vectors().count()
    new_idx.append_batch(drifted, batch_id=1)
    assert new_idx.vectors().count() == n
    # ...while a genuinely new batch still admits
    new_idx.append_batch(
        _emb(spark, lo=0, hi=50, id_shift=2_000_000), batch_id=2
    )
    assert new_idx.vectors().count() == n + 50


def test_retrained_sampled_training(spark, tmp_path):
    """train_mod > 1: the quantizer trains on the vec_id % mod == 0
    sample (the 100 TB form) but every vector is re-assigned — corpus
    count preserved, k centroids, probes still serve."""
    idx = IvfIndex(spark, str(tmp_path / "idx"), k=4)
    idx.append_batch(_emb(spark), batch_id=0)
    new_idx = idx.retrained(str(tmp_path / "idx_v2"), train_mod=3)
    assert new_idx.vectors().count() == idx.vectors().count()
    assert new_idx.centroids().count() == 4
    got = new_idx.probe(_query_vec(spark), k=5, nprobe=2).collect()
    assert len(got) == 5
    # restored handle sees the same parameters
    assert IvfIndex(spark, str(tmp_path / "idx_v2")).k == 4
