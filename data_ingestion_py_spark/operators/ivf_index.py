"""Durable IVF similarity index — ANN corpus state AT REST.

``operators/band_index.py`` gives near-dedup its at-rest form (band
rows as partitioned parquet, probes pruning partition dirs); THIS
module is the same move for similarity search. ``similarity.ivf_topk``
computes clusters per query — right for one-shot analytics, wrong for
a serving corpus at 100 TB, where the index must be built once,
appended forever, and probed by reading only the probed clusters'
bytes. Layout:

- ``centroids/`` — k rows (cid, cvec), the coarse quantizer. Trained
  ONCE on the first ingested batch with the deterministic integer
  k-means (``operators/kmeans.kmeans_integer_model`` — the trainer's
  own final centroid table, so the k-row invariant holds even when the
  final assignment leaves a cluster empty) and frozen thereafter — the
  standard IVF lifecycle (train once, assign forever; periodic retrain
  = build a NEW index and swap the table pointer, exactly the
  compaction pattern — ``needs_retrain`` below is the trigger signal).
  cvec components are in kmeans' integer micro-units, so assignment
  replays bit-identically across process lifetimes.
- ``vectors/`` — (vec_id, embedding) partitioned by ``ingest_batch``
  then ``cid``. The cid partition column is what makes a probe cheap:
  the scan filters ``cid IN (<nprobe ids>)`` and Spark prunes every
  other cluster's partition DIRECTORIES (``PartitionFilters``, pinned
  by ``tests/test_ivf_index.py``) — a query touches ~nprobe/k of the
  corpus bytes no matter how big the corpus grows.
- ``markers/`` — one EMPTY file ``batch_<id>`` per committed batch,
  created with a single atomic filesystem call AFTER that batch's
  vectors land. This is the commit protocol: a parquet partition
  write is NOT atomic (the job commit renames task files into
  ``ingest_batch=N`` one by one, so a crash mid-commit leaves a
  partial directory that LOOKS committed), which is why the batch
  directory itself must never serve as its own marker. ``has_batch``
  reads only the marker; every read (``vectors()``) filters to marked
  batches (partition-pruned IN on ``ingest_batch``), so a torn batch
  is INVISIBLE until its re-delivery deletes the partial directory and
  rewrites it — read-committed semantics, crash-tested in
  ``tests/test_ivf_index.py``. The protocol is
  ``band_index.MarkerCommitted``, shared with the band index.
- ``meta/`` — one row (k, n_train_iter); re-opening restores the
  parameters so a restarted job cannot silently mis-assign.

Assignment of every batch (including the first, re-assigned after
training) goes through the SAME exact-integer argmin as the trainer
(``kmeans._assign``: squared-L2 on micro-quantized components, ties to
the lower cid), so "which cluster does this vector live in" has one
answer everywhere — trainer, appender, test oracle.

Retrain lifecycle: the frozen quantizer's flat-probe guarantee assumes
cluster balance roughly holds as the corpus drifts. ``skew()``
surfaces max/mean committed-cluster size (parquet-footer counts — no
row scan) and ``needs_retrain`` turns it into the documented trigger:
when it fires, train a NEW index at a new path on a current sample and
swap the table pointer — never retrain in place (re-assigning the
at-rest corpus would rewrite every partition under readers).

Reference contrast: egorji/data_ingestion.py stubs vector search
entirely (``data_ingestion.py:283-289`` — a FAISS import that is never
used); this is the piece that serves it from parquet at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_ingestion_py_spark.io import read_parquet
from data_ingestion_py_spark.operators.band_index import (
    MarkerCommitted,
    _fs_exists,
)
from data_ingestion_py_spark.operators.kmeans import (
    SCALE,
    _assign,
    _centroid_array,
    kmeans_integer_model,
    micro_units,
)
from data_ingestion_py_spark.operators.similarity import (
    _to_double,
    cosine,
    dot,
)


def _quantized(vectors: DataFrame, vec_col: str) -> DataFrame:
    """(vec_id, v) with components floor-quantized to kmeans' integer
    micro-units — the shared metric space of trainer and appender."""
    return vectors.select("vec_id", micro_units(vec_col).alias("v"))


class IvfIndex(MarkerCommitted):
    """Handle on a durable IVF index rooted at ``path``.

    Open an existing index (parameters restored from ``meta/``) or lay
    one down with the first ``append_batch`` (which trains the coarse
    quantizer on that batch).
    """

    _batch_dirs = ("vectors",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 8,
        n_train_iter: int = 3,
    ) -> None:
        super().__init__(spark, path)
        self.k, self.n_train_iter = k, n_train_iter
        m = self._read_meta()
        if m is not None:
            self.k, self.n_train_iter = m.k, m.n_train_iter

    # -- layout ----------------------------------------------------------
    @property
    def _centroids_path(self) -> str:
        return f"{self.path}/centroids"

    @property
    def _vectors_path(self) -> str:
        return f"{self.path}/vectors"

    # -- state inspection ------------------------------------------------
    def centroids(self) -> DataFrame:
        return read_parquet(self.spark, self._centroids_path)

    def vectors(self) -> DataFrame:
        """READ-COMMITTED corpus view: only batches whose marker
        exists — a crash between data and marker is invisible to every
        probe until the re-delivered batch repairs it."""
        return self._read_committed(self._vectors_path)

    # -- writes ----------------------------------------------------------
    def _write_meta(self) -> None:
        self.spark.createDataFrame(
            [(self.k, self.n_train_iter)], "k int, n_train_iter int"
        ).write.mode("overwrite").parquet(self._meta_path)

    def append_batch(
        self, vectors: DataFrame, batch_id: int, vec_col: str = "embedding"
    ) -> None:
        """Admit a batch of (vec_id, embedding) rows. First batch ever:
        train the coarse quantizer on it (deterministic integer
        k-means), persist centroids, then assign + write. Later
        batches assign against the FROZEN centroids.

        Commit protocol per batch (``MarkerCommitted._commit``): (1)
        clear any torn partition directory a previous crash left for
        this batch id, (2) write the vectors, (3) atomically create the
        marker file LAST. A crash anywhere before (3) leaves the batch
        unmarked — unread by ``vectors()`` and repaired by this very
        method when the checkpoint re-delivers it. Already-marked
        batches no-op, so re-delivery is idempotent from either side of
        the crash."""
        if self.has_batch(batch_id):
            return
        self._commit(
            batch_id, lambda: self._write_vectors(vectors, batch_id, vec_col)
        )

    def _write_vectors(
        self, vectors: DataFrame, batch_id: int, vec_col: str = "embedding"
    ) -> None:
        """Train the quantizer if none exists yet, then assign and write
        ``vectors`` under ``ingest_batch=batch_id`` (no marker)."""
        vecs = vectors.select("vec_id", vec_col)
        # schema guard: later batches must store the SAME embedding
        # element type the first batch established — a float corpus
        # appended with double batches leaves mixed parquet schemas
        # that fail at read time (footer metadata check, no data scan)
        if _fs_exists(self.spark, self._vectors_path):
            want = read_parquet(self.spark, self._vectors_path).schema[
                "embedding"
            ].dataType
            vecs = vecs.select(
                "vec_id", F.col(vec_col).cast(want).alias(vec_col)
            )
        if not _fs_exists(self.spark, self._centroids_path):
            _, cents = kmeans_integer_model(
                vecs, k=self.k, n_iter=self.n_train_iter, vec_col=vec_col
            )
            if not _fs_exists(self.spark, self._meta_path):
                self._write_meta()
            # the trainer's own final k-row centroid table — persisting
            # recomputed per-cid means instead would drop clusters the
            # final assignment left empty (k centroids is the invariant
            # probe_clusters/nprobe are specified against)
            cents.write.mode("overwrite").parquet(self._centroids_path)
        assigned = _assign(
            _quantized(vecs, vec_col), _centroid_array(self.centroids())
        ).select("vec_id", "cid")
        (
            vecs.join(assigned, "vec_id")
            .select("vec_id", F.col(vec_col).alias("embedding"), "cid")
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("ingest_batch", "cid")
            .parquet(self._vectors_path)
        )

    # -- probe -----------------------------------------------------------
    def probe_clusters(
        self, query_vec: list[float], nprobe: int
    ) -> list[int]:
        """The nprobe nearest centroid ids for a query vector —
        computed DRIVER-side over the collected k-row centroid table
        (bounded: k rows regardless of corpus size, the same class of
        driver collect as band_index's bucket list). Exact integer
        squared-L2 in the quantized space, ties to the lower cid —
        identical to the assignment metric."""
        import math

        # floor() to mirror the column-side quantization exactly
        # (int() truncates toward zero and diverges on negatives)
        qq = [math.floor(float(x) * SCALE) for x in query_vec]
        scored = []
        for r in self.centroids().collect():
            cv = [int(c) for c in r.cvec]
            d2 = sum((a - b) * (a - b) for a, b in zip(qq, cv))
            scored.append((d2, r.cid))
        scored.sort()
        return [cid for _, cid in scored[:nprobe]]

    def probe(
        self, query_vec: list[float], k: int = 10, nprobe: int = 2
    ) -> DataFrame:
        """(vec_id, cid, cosine_sim) exact-cosine top-k within the
        nprobe probed clusters. The vectors scan carries
        ``cid IN (...)`` on the PARTITION column, so every other
        cluster's directories prune at planning time — probe bytes are
        ~nprobe/k of the corpus at any size."""
        pr = self.probe_clusters(query_vec, nprobe)
        qlit = F.array(*[F.lit(float(x)) for x in query_vec])
        vec = _to_double(F.col("embedding"))
        sim = cosine(vec, qlit)
        return (
            self.vectors()
            .where(F.col("cid").isin(pr))
            .select("vec_id", "cid", F.round(sim, 6).alias("cosine_sim"))
            .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .limit(k)
        )

    def probe_batch(
        self, queries: DataFrame, k: int = 10, nprobe: int = 2
    ) -> DataFrame:
        """(query_id, vec_id, cid, cosine_sim, rank) — top-k for a
        whole BATCH of query vectors in one pruned scan, the serving
        shape for bulk retrieval (nightly re-embedding joins, eval
        sweeps): per-query driver loops re-open the index once per
        query, this opens it once per batch.

        Fully distributed: cluster assignment of each query runs the
        trainer's exact integer argmin column-side against the
        broadcast k-row centroid array (``kmeans._assign`` — no
        per-query driver work beyond ONE bounded collect of the probed
        cid union, ≤ k ints, which feeds the partition IN filter), the
        query×cluster fan-out (nprobe rows per query) joins the pruned
        vectors scan on the cid partition column, and per-query top-k
        is a two-key window over (query, candidate) pairs. Probe bytes
        stay ~|probed cids|/k of the corpus regardless of batch size;
        the candidate set is Σ probed-cluster sizes — the same bound
        as ``nprobe`` sequential probes, shuffled once instead of
        scanned n_queries times.

        ``queries`` needs (query_id, embedding). Ties rank by lower
        vec_id, matching ``probe``; ``probe_batch`` over a single
        query replays ``probe`` exactly (pinned in tests). Join
        strategy is left to the optimizer on purpose: a small query
        batch auto-broadcasts, a bulk batch shuffles on cid/query_id —
        forcing broadcast here would be the very scale bug the
        registry lints exist to catch."""
        from pyspark.sql import Window

        # nprobe nearest centroids per query: exact integer squared-L2
        # against the broadcast k-row centroid array (k per query),
        # keep the nprobe best — array_sort on (d2, cid) structs
        # replays the ties-to-lower-cid rule of probe_clusters/_assign
        qq = _quantized(
            queries.select(
                F.col("query_id").alias("vec_id"), "embedding"
            ),
            "embedding",
        ).select(F.col("vec_id").alias("query_id"), "v")
        vv = dot(F.col("v"), F.col("v"))
        probed = (
            qq.crossJoin(F.broadcast(_centroid_array(self.centroids())))
            .select(
                "query_id",
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("cents"),
                            lambda c: F.struct(
                                (
                                    vv - 2 * dot(F.col("v"), c["cvec"]) + c["cc"]
                                ).alias("d"),
                                c["cid"].alias("cid"),
                            ),
                        )
                    ),
                    1,
                    nprobe,
                ).alias("near"),
            )
            .select(
                "query_id", F.explode(F.col("near")["cid"]).alias("cid")
            )
        )
        probed = probed.localCheckpoint()  # read twice: cid union + join
        # bounded driver collect (≤ k ints): the partition IN filter
        cids = sorted(
            r.cid for r in probed.select("cid").distinct().collect()
        )
        qvecs = queries.select(
            "query_id", _to_double(F.col("embedding")).alias("qvec")
        )
        cand = (
            self.vectors()
            .where(F.col("cid").isin(cids))
            .join(probed, "cid")
            .join(qvecs, "query_id")
        )
        vec = _to_double(F.col("embedding"))
        sim = cosine(vec, F.col("qvec"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), F.asc("vec_id")
        )
        return (
            cand.select(
                "query_id",
                "vec_id",
                "cid",
                F.round(sim, 6).alias("cosine_sim"),
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    # -- maintenance -----------------------------------------------------
    def cluster_sizes(self) -> DataFrame:
        """(cid, n_vectors) over the committed corpus — a count-only
        aggregate over the partitioned parquet (row counts come from
        footers/partition metadata, no embedding bytes are read)."""
        return self.vectors().groupBy("cid").agg(
            F.count(F.lit(1)).alias("n_vectors")
        )

    def skew(self) -> dict:
        """{"max_size", "mean_size", "ratio"} of committed cluster
        sizes, with every trained cluster counted (an unused cluster
        is size 0 — absence from the vectors listing must DRIVE the
        ratio up, not hide). Bounded driver collect: k rows."""
        sizes = {r.cid: r.n_vectors for r in self.cluster_sizes().collect()}
        per_cluster = [
            sizes.get(r.cid, 0) for r in self.centroids().collect()
        ]
        mx = max(per_cluster) if per_cluster else 0
        mean = (
            sum(per_cluster) / len(per_cluster) if per_cluster else 0.0
        )
        return {
            "max_size": mx,
            "mean_size": round(mean, 3),
            "ratio": round(mx / mean, 3) if mean else 0.0,
        }

    def needs_retrain(self, max_over_mean: float = 4.0) -> bool:
        """The retrain trigger the frozen-quantizer design promises:
        True when the largest cluster exceeds ``max_over_mean`` × the
        mean cluster size. A drifted corpus piles new vectors into few
        clusters; probes that land there scan ~max_size rows instead
        of ~corpus/k, eroding the flat-probe guarantee. Remedy is
        NEVER in-place: ``retrained(new_path)`` trains a fresh
        quantizer over the committed corpus, re-assigns everything,
        and commits at the new path; serving then swaps the pointer —
        the same swap discipline as ``compacted``."""
        return self.skew()["ratio"] > max_over_mean

    def retrained(
        self, new_path: str, train_mod: int = 1
    ) -> "IvfIndex":
        """EXECUTE the retrain lifecycle ``needs_retrain`` triggers:
        train a FRESH coarse quantizer over the committed corpus with
        the same deterministic integer k-means, re-assign every vector
        against it, and commit at ``new_path`` under the marker-last
        protocol — the old index is never touched (serving swaps the
        table pointer afterwards, the ``compacted`` discipline).

        The whole corpus lands as ONE batch under the max committed
        batch id, so a restarted stream re-delivering that id no-ops
        on the new index exactly as it would have on the old — the
        re-delivery guard survives the swap.

        ``train_mod`` > 1 trains the quantizer on the deterministic
        ``vec_id % train_mod == 0`` sample (k-means cost shrinks by
        ~train_mod while assignment still covers every vector) — the
        100 TB form, where k seed passes over the full corpus would
        dominate. With the default (train on everything) the result is
        bit-identical to a from-scratch index built on the same rows:
        the trainer is order-independent (seeds by vec_id, exact
        integer math), which the retrain test pins."""
        out = IvfIndex(self.spark, new_path, self.k, self.n_train_iter)

        def write(hi: int) -> None:
            corpus = self.vectors().select("vec_id", "embedding")
            if train_mod > 1:
                out._write_meta()
                _, cents = kmeans_integer_model(
                    corpus.where(
                        F.pmod(F.col("vec_id"), F.lit(train_mod)) == 0
                    ),
                    k=self.k,
                    n_iter=self.n_train_iter,
                    vec_col="embedding",
                )
                cents.write.mode("overwrite").parquet(out._centroids_path)
            # trains on the full corpus when no centroids were
            # pre-seeded above, then assigns every vector against the
            # new quantizer
            out._write_vectors(corpus, hi)

        return self._collapse_into(out, "retrain", write)

    def compacted(self, new_path: str) -> "IvfIndex":
        """Rewrite as a consolidated snapshot at ``new_path`` (same
        frozen centroids, all committed vectors under the MAX committed
        batch id, one file set per cluster) and return a handle.
        Streaming appends fragment vectors/ into one file set per batch
        per cluster; probe cost at scale is file-count-bound, so the
        maintenance pattern is compact-to-new-path + atomic pointer
        swap — never rewrite in place. The snapshot commits under the
        same marker-last protocol, keeping ``has_batch`` true for the
        only batch a restarted stream can re-deliver (the last)."""
        out = IvfIndex(self.spark, new_path, self.k, self.n_train_iter)

        def write(hi: int) -> None:
            out._write_meta()
            self.centroids().write.mode("overwrite").parquet(
                out._centroids_path
            )
            (
                self.vectors()
                .select("vec_id", "embedding", "cid")
                .withColumn("ingest_batch", F.lit(hi))
                .repartition("cid")
                .write.mode("overwrite")
                .partitionBy("ingest_batch", "cid")
                .parquet(out._vectors_path)
            )

        return self._collapse_into(out, "compact", write)
