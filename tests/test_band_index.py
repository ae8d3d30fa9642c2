"""Durable band index: at-rest dedup state that survives restarts.

Pins the three SCALE.md claims about streaming dedup state at cluster
scale: (1) the signature index is a partitioned parquet table, not
driver memory; (2) probes prune partition directories at the scan;
(3) a restarted job re-opens the index and both resumes dedup against
pre-restart admissions AND skips re-delivered batches via the commit
marker.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from data_ingestion_py_spark.io import load_table
from data_ingestion_py_spark.operators import dedup
from data_ingestion_py_spark.operators.band_index import BandIndex
from data_ingestion_py_spark.plans import explain as E
from data_ingestion_py_spark.streaming.pipeline import (
    durable_lsh_batch_processor,
    parquet_file_stream,
    run_stream,
)
from tests.conftest import SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _near_dups_of(df, id_shift=700000):
    """Perturbed clones (first token dropped) — guaranteed near-dups."""
    return df.select(
        (F.col("doc_id") + id_shift).alias("doc_id"),
        F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
    )


def test_probe_scan_prunes_band_bucket_partitions(spark, tmp_path):
    """The probe's index scan must carry PartitionFilters on
    band_bucket — only the batch's bucket directories are read."""
    idx = BandIndex(spark, str(tmp_path / "idx"))
    corpus = _docs(spark).where(F.col("doc_id") < 200)
    idx.append_batch(dedup.minhash_signatures(corpus), batch_id=0)

    batch = _docs(spark).where(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 220)
    )
    cands = idx.probe_candidates(dedup.minhash_signatures(batch))
    filters = E.partition_filters(cands)
    assert any("band_bucket" in f for f in filters), E.executed_plan(cands)


def test_index_restart_resumes_and_skips_redelivery(spark, tmp_path):
    """Two 'process lifetimes' over the SAME index path + checkpoint:
    the second lifetime opens a FRESH BandIndex handle (parameters
    restored from meta/), dedups new near-dups against batches
    admitted before the restart, and its commit markers reject
    re-delivered batch ids."""
    src = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    idx_path = str(tmp_path / "idx")

    docs = _docs(spark)
    b1 = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 300))
    b1.coalesce(1).write.mode("append").parquet(src)

    # ---- lifetime 1: admit batch 1 ----
    idx1 = BandIndex(spark, idx_path)
    q = run_stream(
        parquet_file_stream(spark, src),
        durable_lsh_batch_processor(idx1),
        ckpt,
    )
    q.awaitTermination(240)
    admitted_1 = {r.doc_id for r in idx1.admitted_ids().collect()}
    assert admitted_1  # something got admitted
    assert idx1.has_batch(0)

    # ---- lifetime 2: new handle, same path; near-dups of lifetime-1
    # docs plus genuinely new docs arrive ----
    time.sleep(1.1)  # distinct file mtime => stable batch order
    near = _near_dups_of(b1.where(F.col("doc_id") % 2 == 0))
    new_docs = docs.where((F.col("doc_id") % 3 == 1) & (F.col("doc_id") < 100))
    near.unionByName(new_docs).coalesce(1).write.mode("append").parquet(src)

    idx2 = BandIndex(spark, idx_path)  # re-open: meta restores params
    assert (idx2.bands, idx2.rows) == (idx1.bands, idx1.rows)
    assert idx2.has_batch(0)  # commit marker survived the "restart"
    q = run_stream(
        parquet_file_stream(spark, src),
        durable_lsh_batch_processor(idx2),
        ckpt,
    )
    q.awaitTermination(240)

    flagged_new = {r.new_doc_id for r in idx2.flagged().collect()}
    near_ids = {r.doc_id for r in near.collect()}
    caught = near_ids & flagged_new
    assert len(caught) >= 0.9 * len(near_ids), (
        f"only {len(caught)}/{len(near_ids)} cross-restart near-dups flagged"
    )
    admitted_2 = {r.doc_id for r in idx2.admitted_ids().collect()}
    assert not (caught & admitted_2)  # flagged docs were not admitted
    assert admitted_1 <= admitted_2  # pre-restart admissions intact

    # ---- re-delivery of an already-committed batch is a no-op ----
    n_before = idx2.admitted_ids().count()
    proc = durable_lsh_batch_processor(idx2, threshold=0.5)
    proc(b1, 0)  # same batch_id as lifetime 1
    assert idx2.admitted_ids().count() == n_before


def test_compaction_preserves_dedup_state(spark, tmp_path):
    """Compacting into a new snapshot must preserve admissions, probe
    results, and the re-delivery marker for the LAST batch, while
    reducing the band table's file count."""
    idx = BandIndex(spark, str(tmp_path / "idx"))
    docs = _docs(spark)
    for bid, lo, hi in ((0, 0, 150), (1, 150, 300), (2, 300, 450)):
        batch = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        idx.append_batch(dedup.minhash_signatures(batch), batch_id=bid)

    compact = idx.compacted(str(tmp_path / "idx2"))
    assert compact.committed_batches() == [2]
    assert compact.has_batch(2)  # the only re-deliverable batch
    a = {r.doc_id for r in idx.admitted_ids().collect()}
    b = {r.doc_id for r in compact.admitted_ids().collect()}
    assert a == b

    probe_batch = dedup.minhash_signatures(
        _near_dups_of(docs.where(F.col("doc_id") < 100))
    )
    p1 = {(r.new_doc_id, r.corpus_doc_id) for r in idx.probe(probe_batch, 0.5).collect()}
    p2 = {(r.new_doc_id, r.corpus_doc_id) for r in compact.probe(probe_batch, 0.5).collect()}
    assert p1 == p2 and p1  # identical, non-trivial

    def _n_parquet(root):
        import pathlib

        return sum(1 for p in pathlib.Path(root).rglob("*.parquet"))

    assert _n_parquet(tmp_path / "idx2" / "bands") < _n_parquet(
        tmp_path / "idx" / "bands"
    )


def test_torn_batch_is_invisible_and_repaired(spark, tmp_path):
    """Crash simulation for the marker-last commit protocol: a batch
    whose data landed (bands and sigs, even completely) but whose
    marker never got created must read as uncommitted — invisible to
    corpus_sigs()/probe() — and the re-delivered append must repair it
    to exactly one copy. This is the failure the sigs-dir-as-marker
    design lost signatures on."""
    import os
    import shutil

    path = str(tmp_path / "idx")
    idx = BandIndex(spark, path)
    docs = _docs(spark)
    sigs0 = dedup.minhash_signatures(docs.where(F.col("doc_id") < 150))
    sigs1 = dedup.minhash_signatures(
        docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    )
    idx.append_batch(sigs0, batch_id=0)
    n0 = idx.admitted_ids().count()
    idx.append_batch(sigs1, batch_id=1)
    n_full = idx.admitted_ids().count()
    assert n_full > n0

    # the crash: data committed, marker never created; make the sigs
    # directory actually PARTIAL too (drop one doc_bucket dir)
    os.remove(os.path.join(path, "markers", "batch_1"))
    sig_dir = os.path.join(path, "sigs", "ingest_batch=1")
    bucket_dirs = sorted(
        d for d in os.listdir(sig_dir) if d.startswith("doc_bucket=")
    )
    shutil.rmtree(os.path.join(sig_dir, bucket_dirs[0]))

    assert not idx.has_batch(1)
    assert idx.committed_batches() == [0]
    assert idx.admitted_ids().count() == n0  # torn batch invisible
    # probe ignores the torn batch's band rows AND sig rows
    probe_batch = dedup.minhash_signatures(
        _near_dups_of(docs.where(F.col("doc_id") < 300))
    )
    pairs_torn = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in idx.probe(probe_batch, 0.5).collect()
    }
    assert all(c < 150 for _, c in pairs_torn)

    # re-delivery repairs to exactly one copy
    idx.append_batch(sigs1, batch_id=1)
    assert idx.has_batch(1)
    assert idx.admitted_ids().count() == n_full
    assert (
        idx.corpus_sigs()
        .groupBy("doc_id")
        .count()
        .where(F.col("count") > 1)
        .count()
        == 0
    )
    pairs_repaired = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in idx.probe(probe_batch, 0.5).collect()
    }
    assert any(c >= 150 for _, c in pairs_repaired)


def test_premarker_index_is_refused(spark, tmp_path):
    """An index whose meta row lacks ``marker_protocol`` predates the
    marker commit protocol (and the doc_bucket layout): opening it
    raises a ValueError naming its path instead of reading it."""
    path = str(tmp_path / "idx_legacy")
    spark.createDataFrame(
        [(dedup.BANDS, dedup.ROWS_PER_BAND, 64)],
        "bands int, rows int, n_buckets int",
    ).write.parquet(path + "/meta")
    with pytest.raises(ValueError, match="idx_legacy"):
        BandIndex(spark, path)
