"""Sliding-window snippetization — the reference's core value-add (T1/T2/T3/T5).

Reference semantics (``data_ingestion.py:170-200``, ``generate_snippets``):
split page text into sentences, then group sentences into overlapping
windows of ``num_sent`` (default 5, ``:39``) with stride
``ceil(num_sent / 2)`` (``:190``), joining each window's sentences with a
single space (``:184``) and numbering windows sequentially from 1
(``:180,:183,:191``). The tail-remainder branch at ``:193-198`` is dead
code for stride ≤ num_sent (always true for the ceil formula), so the
window loop alone defines the semantics — property-tested in
``tests/test_snippetize.py``.

Spark-first design: the whole operator is **pure column algebra** —
``split`` → ``transform``/``slice``/``array_join`` → ``posexplode`` —
so it runs inside whole-stage codegen with zero Python in the hot path
and is embarrassingly parallel per document (the reference serializes
everything through one thread and reloads spaCy per page, ``:171``).
At 100 TB this is a single narrow stage over the documents scan: no
shuffle, no UDF, no driver involvement.

Sentence boundaries: real prose splits on terminal punctuation
(``SENTENCE_SPLIT_REGEX``); the driver's ``documents`` fixture is
punctuation-free word soup, so the default tokenizer groups a fixed
number of whitespace tokens into one pseudo-sentence
(``sent_tokens=8``), which preserves the nontrivial windowing semantics
and is exactly reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_py_spark.functions.text import tokens

#: Reference constants: data_ingestion.py:39 (num_sent_per_snippet=5)
#: and :190 (stride = ceil(num_sent / 2) = 3 → 2-sentence overlap).
NUM_SENT = 5
STRIDE = 3  # == ceil(NUM_SENT / 2)
SENT_TOKENS = 8

SENTENCE_SPLIT_REGEX = r"(?<=[.!?])\s+"


def sentences_from_tokens(toks: Column, sent_tokens: int = SENT_TOKENS) -> Column:
    """Group tokens into pseudo-sentences of ``sent_tokens`` words.

    The last sentence keeps the remainder (< sent_tokens words), matching
    how a punctuation splitter keeps a trailing fragment.
    """
    n_sent = F.ceil(F.size(toks) / F.lit(sent_tokens)).cast("int")
    return F.when(
        n_sent > 0,
        F.transform(
            F.sequence(F.lit(0), n_sent - 1),
            lambda i: F.array_join(
                F.slice(toks, i * sent_tokens + 1, sent_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def sentences_from_punctuation(text: Column) -> Column:
    """Prose mode: split on terminal punctuation (the spaCy analog for
    SQL-expressible pipelines; see reference :171-176)."""
    return F.filter(
        F.transform(F.split(text, SENTENCE_SPLIT_REGEX), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def window_starts(n_sentences: Column, stride: int = STRIDE) -> Column:
    """Start indices 0, stride, 2*stride, ... < n_sentences.

    Mirrors the reference's ``while i < len(sentences)`` loop
    (data_ingestion.py:181-191); empty input → empty array → the row
    vanishes at explode (zero snippets for empty text, :181/:193).
    """
    return F.when(
        n_sentences > 0,
        F.sequence(F.lit(0), n_sentences - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))


def snippetize(
    docs: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    carry_cols: tuple[str, ...] = (),
    num_sent: int = NUM_SENT,
    stride: int = STRIDE,
    sent_tokens: int = SENT_TOKENS,
    mode: str = "tokens",
) -> DataFrame:
    """documents → flat snippets (one row per sliding window).

    Output columns: ``*id_cols, *carry_cols, snippet_id, snippet_text``
    with ``snippet_id`` dense from 1 per document (deterministic: derived
    from the window start index, not from row order — Spark gives no
    implicit order, so ids must be a pure function of position).

    This is the derived-view form of the reference's
    ``create_snippets_list_from_document`` denormalization
    (data_ingestion.py:203-224): parent attributes are simply carried
    through the explode (J2), replacing the copy loop.
    """
    text = F.col(text_col)
    toks = tokens(text)
    sents = (
        sentences_from_tokens(toks, sent_tokens)
        if mode == "tokens"
        else sentences_from_punctuation(text)
    )
    out = (
        docs.select(
            *[F.col(c) for c in id_cols],
            *[F.col(c) for c in carry_cols],
            sents.alias("_sentences"),
        )
        .withColumn("_start", F.explode(window_starts(F.size("_sentences"), stride)))
        .select(
            *id_cols,
            *carry_cols,
            ((F.col("_start") / stride).cast("int") + 1).alias("snippet_id"),
            F.array_join(
                F.slice(F.col("_sentences"), F.col("_start") + 1, num_sent), " "
            ).alias("snippet_text"),
        )
    )
    return out
