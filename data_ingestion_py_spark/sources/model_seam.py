"""Per-executor model-loading seam — the load-once contract, executed.

Two reference paths need a heavyweight per-process artifact that must
NOT be re-constructed per row or per batch:

- sentence segmentation via a spaCy pipeline (egorji
  data_ingestion.py:171-176 constructs it per call);
- OCR via a tesseract handle (data_ingestion.py:136-168).

This engine replaces both with pure kernels (the punctuation/token
sentence modes in ``operators/snippetize.py``; OCR-lite in
``sources/pdf.py``), so no model library is imported. What this module
keeps — and ``tests/test_model_seam.py`` executes — is the seam
contract itself: under ``mapInPandas`` the model is constructed at
most ONCE per Python worker process regardless of how many batches,
partitions, or successive jobs flow through it, held in a module-level
cache that survives worker reuse (``spark.python.worker.reuse`` is on
by default, so one worker serves many tasks).

The stand-in "model" is a compiled-regex token-class table —
deterministic, import-free, but shaped like the real thing (expensive
to build, cheap to apply, immutable). Any per-worker model is one
loader function; the distribution pattern, batch shape, and
observability hooks do not change.

Observability: every output row carries the worker's pid and the
worker-local load count for the model name, so a test (or a
production smoke query) can ASSERT loads-per-worker == 1 instead of
trusting a docstring.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

#: Worker-process-local caches. Populated inside Python workers (each
#: worker imports this module once); on the driver they stay empty.
_MODEL_CACHE: dict[str, Any] = {}
_LOAD_COUNTS: dict[str, int] = {}


def _get_model(name: str, loader: Callable[[], Any]) -> Any:
    """Worker-local model lookup: construct on first use, then reuse
    for every later batch/task this worker process runs."""
    if name not in _MODEL_CACHE:
        _MODEL_CACHE[name] = loader()
        _LOAD_COUNTS[name] = _LOAD_COUNTS.get(name, 0) + 1
    return _MODEL_CACHE[name]


def _load_count(name: str) -> int:
    """Worker-local load count, read through a MODULE-LEVEL function on
    purpose: a nested mapper that referenced ``_LOAD_COUNTS`` directly
    would have the dict cloudpickled BY VALUE into the mapper's
    synthetic globals (an empty snapshot), while ``_get_model`` —
    pickled by reference — updates the worker module's real dict; the
    mapper would then report 0 forever. Module-level callables resolve
    against the worker's imported module, so both sides see one dict."""
    return _LOAD_COUNTS.get(name, 0)


def apply_model(
    df: DataFrame,
    name: str,
    loader: Callable[[], Any],
    fn: Callable[[Any, pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """``mapInPandas`` with the load-once-per-executor contract.

    ``loader`` builds the model (runs ≤ once per worker process);
    ``fn(model, batch)`` maps one Arrow batch to one output batch and
    must produce columns matching ``schema``. ``schema`` should
    include ``worker_pid long`` and ``model_loads long`` if the caller
    wants the observability columns ``with_seam_telemetry`` appends.
    """

    def _mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _get_model(name, loader)
        for pdf in batches:
            out = fn(model, pdf)
            if "worker_pid" in schema:
                out = out.assign(
                    worker_pid=os.getpid(),
                    model_loads=_load_count(name),
                )
            yield out

    return df.mapInPandas(_mapper, schema)


# ---------------------------------------------------------------------------
# Stand-in model: compiled-regex token-class table
# ---------------------------------------------------------------------------

TOKEN_CLASS_SCHEMA = (
    "doc_id long, n_numeric long, n_upper long, n_longword long, "
    "worker_pid long, model_loads long"
)


def _build_token_class_model() -> Any:
    """The 'expensive' construction: compile a pattern table once."""
    import re

    return {
        "numeric": re.compile(r"^[0-9]+([.,][0-9]+)?$"),
        "upper": re.compile(r"^[A-Z][A-Z0-9]+$"),
        "longword": re.compile(r"^\w{12,}$"),
    }


def tag_token_classes(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token-class counts through the load-once seam: the
    executable stand-in for 'run the per-executor NLP model over every
    document'. Columns ``worker_pid``/``model_loads`` expose the seam's
    behavior for assertion."""

    def _apply(model: Any, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = {"doc_id": [], "n_numeric": [], "n_upper": [], "n_longword": []}
        for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
            toks = [t for t in str(text).split(" ") if t]
            rows["doc_id"].append(int(doc_id))
            for key, pat in model.items():
                rows[f"n_{key}"].append(
                    sum(1 for t in toks if pat.match(t) is not None)
                )
        return pd.DataFrame(rows)

    return apply_model(
        docs.select("doc_id", text_col),
        "token_class_regex_table",
        _build_token_class_model,
        _apply,
        TOKEN_CLASS_SCHEMA,
    )
