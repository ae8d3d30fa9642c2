"""Golden/property tests for sliding-window snippetization (SURVEY §5.2).

Invariants (reference semantics, data_ingestion.py:170-200):
- windows start at 0, stride 3, while start < n_sentences;
- each window joins up to 5 sentences with ' ';
- snippet ids dense from 1 per doc;
- empty text → zero snippets;
- every sentence index is covered by ≥1 window;
- consecutive windows overlap by exactly num_sent - stride = 2
  sentences (when enough sentences remain).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from data_ingestion_py_spark.operators.snippetize import (
    NUM_SENT,
    SENT_TOKENS,
    STRIDE,
    snippetize,
)
from data_ingestion_py_spark.plans import explain as E


def model_snippets(text: str) -> list[tuple[int, str]]:
    """Clean-room Python model of the operator's contract."""
    toks = [t for t in text.split(" ") if t]
    sents = [
        " ".join(toks[i * SENT_TOKENS : (i + 1) * SENT_TOKENS])
        for i in range(math.ceil(len(toks) / SENT_TOKENS))
    ]
    out = []
    i, sid = 0, 1
    while i < len(sents):
        out.append((sid, " ".join(sents[i : i + NUM_SENT])))
        i += STRIDE
        sid += 1
    return out


CASES = {
    "empty": "",
    "spaces_only": "   ",
    "one_token": "hello",
    "exactly_one_sentence": " ".join(f"w{i}" for i in range(SENT_TOKENS)),
    "exactly_num_sent_sentences": " ".join(
        f"w{i}" for i in range(SENT_TOKENS * NUM_SENT)
    ),
    "one_over_window": " ".join(
        f"w{i}" for i in range(SENT_TOKENS * NUM_SENT + 1)
    ),
    "double_spaces": "a  b   c    d",
}
rng = random.Random(42)
for n in range(0, 130, 7):
    CASES[f"rand_{n}"] = " ".join(
        rng.choice("alpha beta gamma delta epsilon".split()) for _ in range(n)
    )


def test_matches_python_model(spark):
    rows = [(i, t) for i, (_, t) in enumerate(sorted(CASES.items()))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.snippet_id): r.snippet_text
        for r in snippetize(df).collect()
    }
    want = {}
    for doc_id, text in rows:
        for sid, sn in model_snippets(text):
            want[(doc_id, sid)] = sn
    assert got == want


def test_invariants(spark):
    rows = [(i, t) for i, (_, t) in enumerate(sorted(CASES.items()))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = snippetize(df).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in rows:
        toks = [t for t in text.split(" ") if t]
        snips = sorted(by_doc.get(doc_id, []), key=lambda r: r.snippet_id)
        if not toks:
            assert snips == [], f"doc {doc_id}: empty text must yield 0 snippets"
            continue
        n_sent = math.ceil(len(toks) / SENT_TOKENS)
        expected_windows = math.ceil(n_sent / STRIDE)
        # dense ids from 1
        assert [r.snippet_id for r in snips] == list(
            range(1, expected_windows + 1)
        )
        # coverage: concatenation of all windows contains every token
        all_words = set(w for r in snips for w in r.snippet_text.split(" "))
        assert set(toks) <= all_words
        # overlap: consecutive windows share num_sent - stride sentences
        # (verified via token counts when both windows are full)
        for a, b in zip(snips, snips[1:]):
            a_toks = a.snippet_text.split(" ")
            if len(a_toks) == NUM_SENT * SENT_TOKENS:
                overlap = (NUM_SENT - STRIDE) * SENT_TOKENS
                assert a_toks[-overlap:] == b.snippet_text.split(" ")[:overlap]


def test_snippet_id_deterministic_under_repartition(spark):
    """Ids are a pure function of window position — repartitioning the
    input must not change them (Spark gives no implicit row order)."""
    rows = [(i, CASES["rand_126"]) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r.doc_id, r.snippet_id, r.snippet_text)
        for r in snippetize(df).collect()
    )
    b = sorted(
        (r.doc_id, r.snippet_id, r.snippet_text)
        for r in snippetize(df.repartition(7, "doc_id")).collect()
    )
    assert a == b


def test_no_python_udf_in_plan(spark):
    """The operator must stay JVM-side: no BatchEvalPython/ArrowEval in
    the physical plan."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = snippetize(df)
    assert not E.uses_python_eval(out), E.executed_plan(out)


# --- hypothesis property tests (SURVEY §5.2) -------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_tok = st.text(alphabet="abcxyz", min_size=1, max_size=5)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(_tok, min_size=0, max_size=60), min_size=1, max_size=8
    )
)
def test_hypothesis_matches_model(spark, docs):
    """Randomized token lists (0..60 tokens, 1..8 docs per example):
    the Spark operator must equal the clean-room Python model doc by
    doc — covering empty docs, sub-window docs, and exact-boundary
    lengths wherever hypothesis finds them."""
    pdf = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(pdf, ["doc_id", "text"])
    got: dict[int, list[tuple[int, str]]] = {}
    for r in snippetize(df).collect():
        got.setdefault(r.doc_id, []).append((r.snippet_id, r.snippet_text))
    for i, toks in enumerate(docs):
        expected = model_snippets(" ".join(toks))
        assert sorted(got.get(i, [])) == sorted(expected), (
            f"doc {i}: {toks}"
        )
