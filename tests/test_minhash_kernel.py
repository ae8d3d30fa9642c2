"""MinHash signature kernel (operators/dedup._minhash_kernel) against its
DuckDB twin (queries_ext._sql_shingles + _sql_minhash_sig).

The kernel is one numpy Arrow stage; the twin is independent SQL over
the same tokenization, md5 and integer mixing. Signatures and shingle
arrays must be identical on the edges of the input domain: NULL and
empty text, fewer than / exactly k tokens, runs of spaces, leading and
trailing spaces, non-ASCII (md5 over UTF-8 bytes) and one long
document that spans several numpy blocks. The kernel's shingles must
also equal ``functions.text.shingles`` (through ``dedup.with_shingles``),
the Spark-side shingle rule the other similarity queries use.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pyarrow as pa

from data_ingestion_py_spark.functions.text import MINHASH_PRIME
from data_ingestion_py_spark.operators import dedup
from data_ingestion_py_spark.queries_ext import _sql_minhash_sig, _sql_shingles


def _edge_docs() -> list[tuple[int, str | None]]:
    rng = random.Random(5)
    vocab = [f"t{n}" for n in range(400)]
    long_doc = " ".join(rng.choice(vocab) for _ in range(5000))
    return [
        (1, None),
        (2, ""),
        (3, "two tokens"),
        (4, "exactly three tokens"),
        (5, "runs   of  spaces    between   tokens"),
        (6, "   leading and trailing spaces   "),
        (7, "naïve café über straße 東京 タワー — ok"),
        (8, long_doc),
        (9, "the quick brown fox jumps over the lazy dog the quick fox"),
        (10, " ".join(rng.choice(vocab[:20]) for _ in range(60))),
    ]


def _duck_sigs(rows) -> dict[int, tuple[list[int], list[str]]]:
    con = duckdb.connect()
    con.register(
        "docs",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
    )
    sql = (
        "WITH corpus AS (SELECT doc_id, text FROM docs)"
        + _sql_shingles()
        + _sql_minhash_sig()
        + "SELECT doc_id, sig, sh FROM sig_arr JOIN shingled USING (doc_id)"
    )
    return {d: (list(s), list(sh)) for d, s, sh in con.execute(sql).fetchall()}


def test_signatures_match_duckdb_twin_on_edge_cases(spark):
    rows = _edge_docs()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (list(r.sig), list(r.shingles))
        for r in dedup.minhash_signatures(docs).collect()
    }
    want = _duck_sigs(rows)
    # NULL / empty / under-k docs drop out on both sides; the rest match
    assert sorted(got) == sorted(want) == [4, 5, 6, 7, 8, 9, 10]
    assert got == want
    assert got[4][1] == ["exactly three tokens"]
    assert len(got[8][1]) == 4998


def test_kernel_shingles_match_spark_shingle_rule(spark):
    """One shingle rule: the kernel's Python tokenize/shingle step equals
    ``functions.text.shingles(tokens(...))`` on every edge case, NULL and
    under-k documents included (both give an empty array)."""
    rows = _edge_docs()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spark_sh = {
        r.doc_id: list(r.shingles)
        for r in dedup.with_shingles(docs).select("doc_id", "shingles").collect()
    }
    pdf = pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    )
    (out,) = dedup._minhash_kernel(dedup.SHINGLE_K, dedup.N_HASHES)([pdf])
    kernel_sh = {d: list(sh) for d, sh in zip(out["doc_id"], out["shingles"])}
    assert kernel_sh == spark_sh
    assert kernel_sh[1] == kernel_sh[2] == kernel_sh[3] == []


def test_kernel_blocking_and_sentinel(monkeypatch):
    """Called directly (no Spark): a tiny block size splits documents
    across blocks without changing any signature, and a document with no
    shingle keeps the all-MINHASH_PRIME sentinel."""
    rows = _edge_docs()
    pdf = pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    )

    def run():
        (out,) = dedup._minhash_kernel(dedup.SHINGLE_K, dedup.N_HASHES)([pdf])
        return {
            d: (list(map(int, s)), list(sh))
            for d, s, sh in zip(out["doc_id"], out["sig"], out["shingles"])
        }

    whole = run()
    monkeypatch.setattr(dedup, "_MINHASH_BLOCK", 7)
    assert run() == whole
    for d in (1, 2, 3):
        assert whole[d] == ([MINHASH_PRIME] * dedup.N_HASHES, [])
    want = _duck_sigs(rows)
    assert {d: whole[d] for d in want} == want
