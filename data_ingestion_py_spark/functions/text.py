"""Text-analysis column functions — pure Spark column algebra.

Every function here has an exact DuckDB-SQL twin (used by the oracle
strings in queries.py), which is why hashing is built on ``md5`` hex
strings (identical in both engines) rather than Spark's xxhash64 (which
DuckDB lacks). Fixed-width lowercase hex compares lexicographically in
numeric order, so ``array_min`` of md5 strings IS a min-hash.

Design note for 100 TB: everything here is per-row array algebra — a
narrow map stage over the documents scan, no shuffle, no Python. The
MinHash signature is the one exception and lives in
``operators/dedup._minhash_kernel`` as a numpy Arrow stage. The only
shuffles in the dedup pipeline are the groupBy on band keys (LSH
bucketing) and the final pair aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny English stopword set used by quality scoring / language ID.
#: Kept deliberately small so the oracle SQL can inline it.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def shingles(toks: Column, k: int) -> Column:
    """k-gram shingles (space-joined token windows, stride 1).

    size < k → empty array (document too short to shingle).
    """
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


import random as _random

#: Universal-hash mixing constants (a_j, b_j, c_j), fixed seed so the
#: DuckDB oracle can inline the very same numbers. Kept small enough
#: that a_j*h32 stays < 2^47 — no 64-bit overflow on either engine.
#: The signature itself is computed by ``operators/dedup._minhash_kernel``
#: (one numpy Arrow stage: one md5 per shingle, integer mixing per seed).
MINHASH_PRIME = 2147483647  # 2^31 - 1
_rng = _random.Random(7)
MINHASH_COEFFS: list[tuple[int, int, int]] = [
    (
        _rng.randrange(1, 32749),
        _rng.randrange(1, 32749),
        _rng.randrange(0, MINHASH_PRIME),
    )
    for _ in range(64)
]


def band_keys(sig: Column, bands: int, rows: int) -> Column:
    """LSH banding: split the signature into ``bands`` groups of ``rows``
    hashes; each band key is 'b|h1|h2|...'. Docs sharing ANY band key
    become candidate pairs (the standard MinHash-LSH S-curve)."""
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    F.element_at(sig, b * rows + r + 1).cast("string")
                    for r in range(rows)
                ],
            )
            for b in range(bands)
        ]
    )


def hexval(ch: Column) -> Column:
    """Hex char → 0..15, portable (instr into the hex alphabet)."""
    return (F.instr(F.lit("0123456789abcdef"), ch) - 1).cast("int")


def token_subwords(tok: Column, chars_per_subword: int = 4) -> Column:
    """BPE-ish subword count: ceil(len/4) — a deterministic stand-in for
    a learned tokenizer's piece count."""
    return F.ceil(F.length(tok) / F.lit(chars_per_subword)).cast("long")


def quality_keep_condition(toks) -> Column:
    """The corpus quality gate as one reusable predicate (the same
    all-integer gates corpus_quality_cascade reports reasons for):
    token count in [20, 90], at least one stopword, distinct-token
    ratio >= 0.4 decided as ``5*distinct >= 2*n``. The incremental
    curation stream filters with this predicate; its thresholds match
    corpus_quality_cascade's gates, so batch and stream keep exactly
    the same documents."""
    n = F.size(toks)
    return (
        (n >= 20)
        & (n <= 90)
        & (F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) > 0)
        & (5 * F.size(F.array_distinct(toks)) >= 2 * n)
    )
