"""Durable LSH band index — streaming dedup state AT REST.

``SCALE.md`` ("Streaming state") promises that at cluster scale the
corpus signature index behind incremental near-dedup is "a
parquet/Delta table partitioned by band key, not driver memory". THIS
module is that at-rest form (``streaming/pipeline.
durable_lsh_batch_processor`` maintains it per micro-batch):

- ``bands/``  — (doc_id, band_key) exploded band rows, partitioned by
  ``ingest_batch`` then ``band_bucket = pmod(xxhash64(band_key), B)``.
  Raw band keys have unbounded cardinality (one directory per key is a
  small-files bomb), so the partition column is a BOUNDED hash bucket
  of the key; a probe computes its batch's bucket set (≤ B ints — a
  bounded driver list, never data-sized) and pushes an IN filter that
  prunes partition directories at the scan (``PartitionFilters``,
  pinned by ``tests/test_plans.py``).
- ``sigs/``   — (doc_id, sig, shingles) per admitted doc, partitioned
  by ``ingest_batch`` then ``doc_bucket = pmod(xxhash64(doc_id), B)``.
  The doc bucket exists for the probe's VERIFY stage: candidates name
  specific corpus docs, so the shingle rehydration scan prunes to the
  candidates' bucket set instead of re-reading the whole corpus
  signature table per batch (measured 4.4× probe-time growth over 10
  appended batches without it — i.e. probe cost tracked corpus size,
  exactly what an at-rest index must avoid).
- ``markers/`` — one EMPTY file ``batch_<id>`` per committed batch,
  created with a single atomic filesystem call AFTER both data writes
  (``MarkerCommitted``, shared with ``operators/ivf_index``). The
  batch's own partition directory cannot serve as its marker: a
  parquet partition write commits task files into ``ingest_batch=N``
  one rename at a time, so a crash mid-commit leaves a partial
  directory that LOOKS committed and the re-delivered batch would skip
  itself (silent signature loss). Under the marker protocol a torn
  batch is unmarked: invisible to reads (``corpus_sigs`` filters to
  marked batches) and repaired by the re-delivered append (partial
  dirs deleted, rewritten, marked LAST). Orphan band rows from a crash
  between the two data writes are pruned by the same read-committed
  filter.
- ``flagged/`` — (new_doc_id, corpus_doc_id, jaccard) near-dup pairs
  per batch, partitioned by ``ingest_batch`` (the audit trail).
- ``meta/``   — one row (bands, rows, n_buckets, marker_protocol),
  written once; re-opening the index restores the banding parameters
  so a restarted job cannot silently probe with mismatched bands. An
  index whose meta row lacks ``marker_protocol`` predates both the
  marker protocol and the ``doc_bucket`` layout and is refused on
  open.

Restart contract: ``has_batch(batch_id)`` = "does the batch's commit
marker exist" — the idempotency check lives in the INDEX, not in any
driver-side holder, so it survives process restarts. Batch ids come
from the stream checkpoint, so an index is tied to one checkpoint
lineage.

Reference contrast: egorji/data_ingestion.py has no dedup state at all
(its only dedup is the whole-collection name scan at :302-315); this
is the piece a crawl pipeline needs to dedup forever without
re-signing its corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_ingestion_py_spark.functions.text import band_keys
from data_ingestion_py_spark.io import read_parquet
from data_ingestion_py_spark.operators import dedup

N_BUCKETS = 64


def _fs(spark: SparkSession, path: str):
    """(hadoop Path, FileSystem) for ``path`` — driver-side metadata
    handles (work on local, HDFS, object stores)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check (works on local, HDFS, object stores;
    driver-side metadata only — never touches data)."""
    p, fs = _fs(spark, path)
    return bool(fs.exists(p))


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete (no-op if absent) — the torn-batch repair
    primitive: a re-delivered batch clears its partial partition
    directory before rewriting."""
    p, fs = _fs(spark, path)
    fs.delete(p, True)


def _fs_touch(spark: SparkSession, path: str) -> None:
    """Atomically create an empty file — ONE filesystem create call
    (a single rename/PUT on every store Spark runs against), which is
    what makes it usable as a commit marker: unlike a parquet
    partition write (many task files renamed into place one by one),
    there is no observable partial state."""
    p, fs = _fs(spark, path)
    fs.create(p, True).close()


def _fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """File names directly under ``path`` ([] if absent) — bounded by
    construction where it's used (one marker file per committed
    batch)."""
    p, fs = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


class MarkerCommitted:
    """The marker-last commit protocol of an at-rest index rooted at
    ``path``: batch ``N``'s data lives in ``<dir>/ingest_batch=N``
    partitions under each directory named in ``_batch_dirs``, and the
    batch is committed iff the empty file ``markers/batch_N`` exists.
    Readers see committed batches only; a batch whose data landed but
    whose marker did not (a crash mid-commit) is invisible until its
    re-delivery deletes the partial directories and rewrites them."""

    _batch_dirs: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")

    @property
    def _meta_path(self) -> str:
        return f"{self.path}/meta"

    @property
    def _markers_path(self) -> str:
        return f"{self.path}/markers"

    def _marker_path(self, batch_id: int) -> str:
        return f"{self._markers_path}/batch_{batch_id}"

    def _read_meta(self):
        """The meta row, or None for an index not laid down yet."""
        if not _fs_exists(self.spark, self._meta_path):
            return None
        return read_parquet(self.spark, self._meta_path).first()

    def has_batch(self, batch_id: int) -> bool:
        """True iff ``batch_id``'s commit marker exists — the
        restart-safe re-delivery guard. The marker is a separate
        atomically-created file, NOT the batch's partition directory:
        a crash during a (multi-file) partition write leaves a partial
        directory, and treating that as committed would make the
        re-delivered batch skip itself — silent data loss."""
        return _fs_exists(self.spark, self._marker_path(batch_id))

    def committed_batches(self) -> list[int]:
        """Sorted committed batch ids — a driver metadata listing of
        the marker files (one empty file per batch, never a data
        scan)."""
        return sorted(
            int(name.removeprefix("batch_"))
            for name in _fs_list_names(self.spark, self._markers_path)
            if name.startswith("batch_")
        )

    def is_empty(self) -> bool:
        """No COMMITTED batches (a torn first batch still counts as
        empty — unreadable until repaired)."""
        return not self.committed_batches()

    def _read_committed(self, path: str) -> DataFrame:
        """READ-COMMITTED scan of ``path``: ``ingest_batch`` is a
        partition column, so the IN filter prunes torn-batch
        directories at planning time."""
        committed = self.committed_batches()
        return read_parquet(self.spark, path).where(
            F.col("ingest_batch").isin(committed)
            if committed
            else F.lit(False)
        )

    def _commit(self, batch_id: int, write) -> None:
        """Delete any partial ``ingest_batch=<batch_id>`` directory a
        crashed commit left, run ``write()``, then create the marker
        LAST with one atomic filesystem call."""
        for name in self._batch_dirs:
            _fs_delete(
                self.spark, f"{self.path}/{name}/ingest_batch={batch_id}"
            )
        write()
        _fs_touch(self.spark, self._marker_path(batch_id))

    def _collapse_into(self, out, verb: str, write):
        """Rewrite this index into the fresh handle ``out`` as ONE
        batch under the max committed batch id: ``write(hi)`` lands the
        data, then ``out`` commits ``hi`` marker-last. That keeps
        ``has_batch`` true for the only batch a restarted stream can
        re-deliver (the last); older markers go with the fragmentation,
        which is safe because the checkpoint never re-delivers batches
        before the last committed one."""
        batches = self.committed_batches()
        if not batches:
            raise ValueError(f"cannot {verb} an empty index")
        hi = batches[-1]
        out._commit(hi, lambda: write(hi))
        return out


class BandIndex(MarkerCommitted):
    """Handle on a durable band index rooted at ``path``.

    Open an existing index (parameters restored from ``meta/``) or lay
    down a new one on first ``append_batch``.
    """

    _batch_dirs = ("bands", "sigs")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bands: int = dedup.BANDS,
        rows: int = dedup.ROWS_PER_BAND,
        n_buckets: int = N_BUCKETS,
    ) -> None:
        super().__init__(spark, path)
        self.bands, self.rows, self.n_buckets = bands, rows, n_buckets
        m = self._read_meta()
        if m is not None:
            if not m.asDict().get("marker_protocol"):
                raise ValueError(
                    f"{self.path}: band index written before the marker "
                    "commit protocol; rebuild it"
                )
            self.bands, self.rows, self.n_buckets = (
                m["bands"],
                m["rows"],
                m["n_buckets"],
            )

    # -- layout ----------------------------------------------------------
    @property
    def _bands_path(self) -> str:
        return f"{self.path}/bands"

    @property
    def _sigs_path(self) -> str:
        return f"{self.path}/sigs"

    @property
    def _flagged_path(self) -> str:
        return f"{self.path}/flagged"

    # -- state inspection ------------------------------------------------
    def corpus_sigs(self) -> DataFrame:
        """READ-COMMITTED corpus signatures: only marked batches."""
        return self._read_committed(self._sigs_path)

    def admitted_ids(self) -> DataFrame:
        return self.corpus_sigs().select("doc_id")

    def flagged(self) -> DataFrame:
        if not _fs_exists(self.spark, self._flagged_path):
            return self.spark.createDataFrame(
                [], "new_doc_id long, corpus_doc_id long, jaccard double"
            )
        return read_parquet(self.spark, self._flagged_path).select(
            "new_doc_id", "corpus_doc_id", "jaccard"
        )

    def _doc_bucket(self, doc_id_col: str):
        """Bounded doc-id hash bucket — the sigs/ partition column.
        MUST hash the same type it was written with (xxhash64 output
        differs by input type); doc ids are long everywhere here."""
        return F.pmod(
            F.xxhash64(F.col(doc_id_col).cast("long")), F.lit(self.n_buckets)
        )

    # -- banding ---------------------------------------------------------
    def _banded(self, sigs: DataFrame, id_alias: str) -> DataFrame:
        return sigs.select(
            F.col("doc_id").alias(id_alias),
            F.explode(
                band_keys(F.col("sig"), self.bands, self.rows)
            ).alias("band_key"),
        ).withColumn(
            "band_bucket", F.pmod(F.xxhash64("band_key"), F.lit(self.n_buckets))
        )

    # -- writes ----------------------------------------------------------
    def _write_meta(self) -> None:
        self.spark.createDataFrame(
            [(self.bands, self.rows, self.n_buckets, True)],
            "bands int, rows int, n_buckets int, marker_protocol boolean",
        ).write.mode("overwrite").parquet(self._meta_path)

    def append_batch(self, sigs: DataFrame, batch_id: int) -> None:
        """Admit a batch of signed docs (doc_id, sig, shingles): band
        rows, then sig rows, then the atomic commit marker LAST (see
        module doc). Already-marked batches no-op; a torn batch's
        partial partition directories are deleted and rewritten, so
        re-delivery is idempotent from either side of a crash."""
        if self.has_batch(batch_id):
            return

        def write() -> None:
            if not _fs_exists(self.spark, self._meta_path):
                self._write_meta()
            (
                self._banded(sigs, "doc_id")
                .withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("ingest_batch", "band_bucket")
                .parquet(self._bands_path)
            )
            (
                sigs.select("doc_id", "sig", "shingles")
                .withColumn("ingest_batch", F.lit(batch_id))
                .withColumn("doc_bucket", self._doc_bucket("doc_id"))
                .write.mode("append")
                .partitionBy("ingest_batch", "doc_bucket")
                .parquet(self._sigs_path)
            )

        self._commit(batch_id, write)

    def append_flagged(self, pairs: DataFrame, batch_id: int) -> None:
        (
            pairs.select("new_doc_id", "corpus_doc_id", "jaccard")
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("ingest_batch")
            .parquet(self._flagged_path)
        )

    # -- maintenance -----------------------------------------------------
    def compacted(self, new_path: str) -> "BandIndex":
        """Rewrite the index as a consolidated snapshot at ``new_path``
        and return a handle on it. Streaming appends fragment the
        index (one file set per micro-batch per bucket); at 100 TB
        scan cost is dominated by file count, so periodic compaction
        into a NEW snapshot + an atomic table-pointer swap is the
        maintenance pattern (``io.compact`` documents the same for
        plain tables — never rewrite in place).

        All committed rows collapse under the MAX committed
        ingest_batch (``_collapse_into``); a torn batch's orphan rows
        are dropped with the fragmentation. Band rows re-partition to
        one file per bucket; adjust file counts at cluster scale via a
        pre-write ``repartition`` if buckets grow past single-file
        sizes."""
        out = BandIndex(
            self.spark, new_path, self.bands, self.rows, self.n_buckets
        )

        def write(hi: int) -> None:
            out._write_meta()
            (
                self._read_committed(self._bands_path)
                .select("doc_id", "band_key", "band_bucket")
                .withColumn("ingest_batch", F.lit(hi))
                .repartition("band_bucket")
                .write.mode("overwrite")
                .partitionBy("ingest_batch", "band_bucket")
                .parquet(out._bands_path)
            )
            (
                self.corpus_sigs()
                .select("doc_id", "sig", "shingles")
                .withColumn("ingest_batch", F.lit(hi))
                .withColumn("doc_bucket", out._doc_bucket("doc_id"))
                .repartition("doc_bucket")
                .write.mode("overwrite")
                .partitionBy("ingest_batch", "doc_bucket")
                .parquet(out._sigs_path)
            )
            if _fs_exists(self.spark, self._flagged_path):
                (
                    read_parquet(self.spark, self._flagged_path)
                    .select("new_doc_id", "corpus_doc_id", "jaccard")
                    .withColumn("ingest_batch", F.lit(hi))
                    .coalesce(1)
                    .write.mode("overwrite")
                    .partitionBy("ingest_batch")
                    .parquet(out._flagged_path)
                )

        return self._collapse_into(out, "compact", write)

    # -- probe -----------------------------------------------------------
    def probe_candidates(self, new_sigs: DataFrame) -> DataFrame:
        """Candidate (new_doc_id, corpus_doc_id) pairs for a signed
        batch: the batch's band rows join the at-rest index on
        band_key, with the scan restricted to the batch's bucket set —
        a literal IN over ≤ n_buckets ints, so the parquet scan prunes
        partition directories (``PartitionFilters``), reading only the
        buckets this batch can possibly collide in. Band rows are read
        committed too: a torn batch's orphans would only die later in
        the verify join, and pruning them here keeps the candidate set
        (and its shuffle) honest."""
        new_banded = self._banded(new_sigs, "new_doc_id")
        buckets = sorted(
            r.band_bucket
            for r in new_banded.select("band_bucket").distinct().collect()
        )
        idx = self._read_committed(self._bands_path).where(
            F.col("band_bucket").isin(buckets)
        )
        return (
            new_banded.join(
                idx.select(F.col("doc_id").alias("corpus_doc_id"), "band_key"),
                "band_key",
            )
            .select("new_doc_id", "corpus_doc_id")
            .distinct()
        )

    def probe(self, new_sigs: DataFrame, threshold: float) -> DataFrame:
        """(new_doc_id, corpus_doc_id, jaccard) near-dup pairs of a
        signed batch against the admitted corpus: pruned band probe,
        then exact Jaccard verify at candidate cardinality.

        The verify scan is pruned too: candidates name specific corpus
        docs, so their doc-bucket set (≤ n_buckets ints, a bounded
        driver list exactly like the band probe's) pushes a partition
        IN filter into the sigs/ scan — shingle rehydration reads only
        the buckets that can hold a candidate, keeping probe cost
        governed by the batch's collision set, not total corpus size
        (``bench.py`` ``band_index_probe`` measures this)."""
        if self.is_empty():
            return self.spark.createDataFrame(
                [], "new_doc_id long, corpus_doc_id long, jaccard double"
            )
        # Pinned: read twice (bucket collect + verify join) — without
        # the checkpoint the band-probe join would run once per reader.
        cands = self.probe_candidates(new_sigs).localCheckpoint()
        buckets = sorted(
            r.b
            for r in cands.select(
                self._doc_bucket("corpus_doc_id").alias("b")
            )
            .distinct()
            .collect()
        )
        if not buckets:
            return self.spark.createDataFrame(
                [], "new_doc_id long, corpus_doc_id long, jaccard double"
            )
        corp = self.corpus_sigs().where(F.col("doc_bucket").isin(buckets))
        return dedup.verify_incremental_pairs(
            cands, new_sigs, corp, threshold
        )
