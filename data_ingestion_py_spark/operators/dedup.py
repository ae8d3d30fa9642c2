"""Deduplication operators for training-data pipelines.

All tiers shuffle-efficient and oracle-reproducible:

- exact:       md5(content) groupBy — one shuffle on the 128-bit hash.
- minhash-LSH: shingle → md5 min-hash signature → band keys → bucket
               self-join (candidates only) → exact Jaccard verify.
               At 100 TB the band-key groupBy replaces the O(n²)
               crossJoin: cost is proportional to bucket collisions.
- incremental: new-batch bands probe the existing corpus's banded
               signature table (the steady-state ingestion gate; the
               streaming twin lives in streaming/pipeline.py).
- simhash:     16-bit fingerprint from per-token md5 bits; near-dups
               share fingerprints (or differ in ≤ h bits).
- n-gram Jaccard: exact pairwise verify, for candidate sets only.

The minhash tiers pin their signature tables (each read more than once)
by an eager ``localCheckpoint`` at the call site, the package's one
way to pin an intermediate: lineage is cut and the blocks are
unreplicated and executor-local, so losing an executor that holds them
fails the query (SCALE.md, "Materialization control").

(Embedding-space tiers — sign-band LSH, SemDeDup cluster-bounded — live
in operators/similarity.py; k-means for the cluster assignment in
operators/kmeans.py.)

No Spark ML MinHashLSH: its hash family isn't reproducible in the
DuckDB oracle; the md5 construction is, and behaves identically.
(Reference contrast: the only dedup in egorji/data_ingestion.py is the
whole-collection name scan at data_ingestion.py:302-315.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_ingestion_py_spark.functions.text import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    band_keys,
    shingles,
    tokens,
)
from data_ingestion_py_spark.sources.spread import spread_for_kernel

SHINGLE_K = 3
N_HASHES = 32


def lsh_params(
    threshold: float, n_hashes: int = N_HASHES, target_recall: float = 0.9
) -> tuple[int, int]:
    """Fit (bands, rows) to the Jaccard threshold via the LSH S-curve.

    Collision probability at similarity s is 1-(1-s^r)^b. Pick the
    LARGEST r (= fewest false candidates, cheapest verify join) whose
    recall at ``threshold`` still meets ``target_recall``. r=1 always
    satisfies any target (<1), so the loop terminates.

    The round-1 default (4 bands × 4 rows on 16 hashes) had ~40% recall
    at j=0.5 — fine for planted near-identical dups, under-recalls a
    real corpus; this fit gives (16, 2) there → 0.99 recall.
    """
    for r in range(n_hashes, 0, -1):
        b = n_hashes // r
        if 1.0 - (1.0 - threshold**r) ** b >= target_recall:
            return b, r
    return n_hashes, 1


BANDS, ROWS_PER_BAND = lsh_params(0.5, N_HASHES)  # (16, 2)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text).

    Returns one row per distinct content with the canonical (min) id and
    copy count. At scale: single shuffle on the hash; AQE coalesces.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    return docs.withColumn("shingles", shingles(tokens(F.col(text_col)), k))


#: Shingles hashed and mixed per numpy block in ``_minhash_kernel``:
#: bounds the (shingles × n_hashes) int64 matrix to 2 MiB at 32 hashes,
#: so the kernel adds little to each Python worker's peak memory.
_MINHASH_BLOCK = 1 << 13


def _minhash_kernel(k: int, n_hashes: int):
    """mapInPandas body: (doc_id, text) batches → (doc_id, sig,
    shingles).

    Per document: whitespace tokens (``split(" ")``, empties dropped —
    ``functions.text.tokens``), stride-1 k-shingles joined by one space
    (``functions.text.shingles``), ONE md5 per shingle over its UTF-8
    bytes read as two big-endian u32 halves (h1, h2), and per seed j
    ``min over shingles of (h1·a_j + h2·b_j + c_j) mod (2^31−1)``. All
    integer: h·a < 2^47, so the int64 matrix never overflows and the
    values equal the DuckDB twin (``queries_ext._sql_shingles`` +
    ``_sql_minhash_sig``) bit for bit. A document with no shingle (NULL
    text, fewer than k tokens) gets the all-``MINHASH_PRIME`` sentinel;
    ``minhash_signatures`` drops those rows before the stage.

    Shingles are mixed in blocks of ``_MINHASH_BLOCK`` rows; a block's
    per-document minima (``np.minimum.reduceat`` over the contiguous
    runs of one document) fold into the running signature, so one long
    document never needs more than one block's matrix."""
    import hashlib

    import numpy as np
    import pandas as pd

    coeffs = np.array(MINHASH_COEFFS[:n_hashes], dtype=np.int64)
    a, b, c = coeffs[:, 0], coeffs[:, 1], coeffs[:, 2]

    def _shingles(text) -> list[str]:
        if text is None:
            return []
        toks = [t for t in text.split(" ") if t]
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    def _go(batches):
        for pdf in batches:
            sh = [_shingles(t) for t in pdf["text"]]
            flat = [s for doc in sh for s in doc]
            owner = np.repeat(
                np.arange(len(sh)), np.fromiter(map(len, sh), np.int64, len(sh))
            )
            sig = np.full((len(sh), n_hashes), MINHASH_PRIME, dtype=np.int64)
            for lo in range(0, len(flat), _MINHASH_BLOCK):
                block = flat[lo : lo + _MINHASH_BLOCK]
                digests = b"".join(
                    hashlib.md5(s.encode("utf-8")).digest() for s in block
                )
                h = np.frombuffer(digests, dtype=">u4").reshape(-1, 4)
                mixed = h[:, 0].astype(np.int64)[:, None] * a
                mixed += h[:, 1].astype(np.int64)[:, None] * b
                mixed += c
                mixed %= MINHASH_PRIME
                docs = owner[lo : lo + len(block)]
                starts = np.flatnonzero(np.diff(docs, prepend=-1))
                runs = docs[starts]
                sig[runs] = np.minimum(
                    sig[runs], np.minimum.reduceat(mixed, starts, axis=0)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "sig": list(sig), "shingles": sh}
            )

    return _go


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    k: int = SHINGLE_K,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """doc_id + minhash signature (ints; one md5 per shingle + integer
    mixing per seed) + the shingle array, computed in ONE numpy Arrow
    stage (``_minhash_kernel``). The Catalyst form it replaces — an
    ``aggregate``/``zip_with`` fold over per-shingle md5 structs — was
    interpreted per row (higher-order functions don't codegen), and
    constructing its literal coefficient structs through py4j was most
    of the dedup query's build time.

    The projected (doc_id, text) input is rebalanced to the cluster's
    parallelism first (``spread_for_kernel``): corpora often arrive as
    few fat files (the fixture is ONE parquet file → 2 tasks), and
    signature hashing is the CPU-bound stage worth spreading across
    every core.
    """
    # Docs too short to shingle (size(tokens) < k → empty shingle array)
    # are dropped, matching the oracle's WHERE len(toks) >= k. Without
    # this they'd emit sentinel signatures AND share identical band keys,
    # forming one O(m²) candidate clique — a skew bomb at corpus scale.
    # The filter runs on the token count in the JVM, before the
    # repartition, so the 2-task scan stage does one split per row and
    # the kernel stage sees only shingle-able docs.
    docs = docs.where(F.size(tokens(F.col(text_col))) >= k)
    src = spread_for_kernel(
        docs.select("doc_id", F.col(text_col).alias("text"))
    )
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInPandas(
        _minhash_kernel(k, n_hashes),
        f"doc_id {id_type}, sig array<bigint>, shingles array<string>",
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = BANDS, rows: int = ROWS_PER_BAND
) -> DataFrame:
    """Bucket self-join on band keys → distinct candidate (a < b) pairs.

    The shuffle is on band_key — the LSH trick that keeps near-dedup
    linear-ish at 100 TB. Identical docs share all bands; the distinct
    collapses multi-band hits.
    """
    banded = sigs.select(
        F.col("doc_id"), F.explode(band_keys(F.col("sig"), bands, rows)).alias("band_key")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, "band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keep >= threshold.

    Join-planned so only candidate rows rehydrate their shingle sets
    (two broadcast-able probes at candidate cardinality, not corpus
    cardinality).
    """
    sa = shingled.select(
        F.col("doc_id").alias("doc_a"),
        F.array_distinct("shingles").alias("sh_a"),
    )
    sb = shingled.select(
        F.col("doc_id").alias("doc_b"),
        F.array_distinct("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def near_duplicates_minhash(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = SHINGLE_K,
    n_hashes: int = N_HASHES,
    bands: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dedup: returns (doc_a, doc_b, jaccard).

    (bands, rows) default to the S-curve fit for ``threshold``
    (lsh_params), so recall at the threshold is ≥0.9 by construction.

    Signatures are pinned once by an eager ``localCheckpoint``: the
    plan references them three times (banding + both sides of the
    verify join) and would otherwise run the whole shingle/md5 pipeline
    3×. Unlike ``.cache()`` (which parks an entry in the CacheManager
    until someone remembers to unpersist — a leak in long-lived
    sessions), the checkpoint blocks are released automatically when
    the DataFrame is garbage-collected after the consumer materializes.
    Eager, because a lazy checkpoint lets the three consumer branches
    race ahead of materialization and recompute the pipeline per branch
    (measured 2.4x on the LSH bench).
    """
    if bands is None or rows is None:
        bands, rows = lsh_params(threshold, n_hashes)
    sigs = minhash_signatures(docs, text_col, k, n_hashes).localCheckpoint(
        eager=True
    )
    cands = lsh_candidate_pairs(sigs.select("doc_id", "sig"), bands, rows)
    return jaccard_verify(cands, sigs.select("doc_id", "shingles"), threshold)


def incremental_near_duplicates(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = SHINGLE_K,
    n_hashes: int = N_HASHES,
    bands: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """New-batch vs existing-corpus near-dedup — the ingestion-time
    gate a production pipeline actually runs per batch (full-corpus
    self-dedup is the backfill job; this is the steady state). Returns
    (new_doc_id, corpus_doc_id, jaccard) for pairs ≥ threshold.

    Asymmetric LSH: both sides sign+band identically, but the
    candidate join is new-bands ⋈ corpus-bands only — cost tracks
    (batch × collision rate), never corpus². At 100 TB the corpus-side
    banded signature table is computed ONCE and kept at rest
    (partitioned by band_key, so each batch's probe join co-locates);
    here both sides build inline, each pinned by an eager
    ``localCheckpoint``.
    """
    if bands is None or rows is None:
        bands, rows = lsh_params(threshold, n_hashes)
    new_sigs = minhash_signatures(
        new_docs, text_col, k, n_hashes
    ).localCheckpoint(eager=True)
    corp_sigs = minhash_signatures(
        corpus_docs, text_col, k, n_hashes
    ).localCheckpoint(eager=True)
    return incremental_pairs_from_signatures(
        new_sigs, corp_sigs, threshold, bands, rows
    )


def incremental_pairs_from_signatures(
    new_sigs: DataFrame,
    corp_sigs: DataFrame,
    threshold: float,
    bands: int,
    rows: int,
) -> DataFrame:
    """The band-probe + Jaccard-verify stage of incremental dedup, over
    ALREADY-COMPUTED signature tables (doc_id, sig, shingles) — shared
    by the batch operator above and the streaming pipeline (which keeps
    the corpus signature table as cross-batch state and must not
    re-sign the whole corpus every micro-batch)."""

    def _banded(sigs: DataFrame, out_id: str) -> DataFrame:
        return sigs.select(
            F.col("doc_id").alias(out_id),
            F.explode(band_keys(F.col("sig"), bands, rows)).alias("band_key"),
        )

    cands = (
        _banded(new_sigs, "new_doc_id")
        .join(_banded(corp_sigs, "corpus_doc_id"), "band_key")
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    return verify_incremental_pairs(cands, new_sigs, corp_sigs, threshold)


def verify_incremental_pairs(
    cands: DataFrame,
    new_sigs: DataFrame,
    corp_sigs: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify for asymmetric candidate pairs — shared by
    the in-session band probe above and the durable at-rest probe
    (``operators/band_index.BandIndex.probe``). Joins at candidate
    cardinality only."""
    sa = new_sigs.select(
        F.col("doc_id").alias("new_doc_id"),
        F.array_distinct("shingles").alias("sh_a"),
    )
    sb = corp_sigs.select(
        F.col("doc_id").alias("corpus_doc_id"),
        F.array_distinct("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(sa, "new_doc_id")
        .join(sb, "corpus_doc_id")
        .select(
            "new_doc_id",
            "corpus_doc_id",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", n_bits: int = 16
) -> DataFrame:
    """Per-doc SimHash fingerprint (n_bits wide, default 16).

    Bit b comes from hex digit b//4 of each token's md5; contribution
    +1/-1 per token occurrence; fingerprint bit = (sum > 0). Pure
    explode → groupBy(doc) — one shuffle keyed by doc_id, or zero once
    the pipeline is already partitioned by doc_id.
    """
    from data_ingestion_py_spark.functions.text import hexval

    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(hexval(F.substring("h", b // 4 + 1, 1)), 3 - (b % 4))
                .bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.cast("long").alias("simhash"))
