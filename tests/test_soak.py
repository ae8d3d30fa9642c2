"""Lineage-boundedness soak: 50 mutation batches through apply_actions
with per-batch materialization (the shape streaming/pipeline.py runs).

Round-1 verdict flagged unbounded lineage as the one genuine 100×-scale
killer: without materialize(), batch N's plan embeds all N-1 prior
batches and the driver eventually dies on plan size, not data. The soak
asserts the analyzed-plan size reaches a fixed point instead of growing.
"""

from __future__ import annotations

import pytest

from data_ingestion_py_spark.catalog.actions import (
    apply_actions,
    commands_from_rows,
)
from data_ingestion_py_spark.catalog.state import empty_state, seed_categories


def _plan_size(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString())


def _batch(spark, i: int):
    return commands_from_rows(
        spark,
        [
            {
                "seq": i * 10,
                "action_code": 1,
                "document_id": 1000 + i,
                "category_id": 1,
                "document_name": f"doc_{i}",
                "file_link": f"https://host/doc_{i}.pdf",
                "page_texts": ["alpha beta gamma. delta epsilon zeta."],
            },
            # every 3rd batch also removes the doc from 2 batches ago
            *(
                [
                    {
                        "seq": i * 10 + 1,
                        "action_code": 0,
                        "document_name": f"doc_{i - 2}",
                    }
                ]
                if i % 3 == 0 and i >= 2
                else []
            ),
        ],
    )


@pytest.mark.slow  # ~1.5 min 50-batch soak (see the pyproject.toml note)
def test_50_batch_soak_bounded_plan(spark, tmp_path):
    state = empty_state(spark).with_(categories=seed_categories(spark))
    sizes = []
    for i in range(50):
        cmds = _batch(spark, i)
        state, audit = apply_actions(state, cmds)
        state = state.materialize()
        audit.collect()
        cmds.unpersist()
        sizes.append(_plan_size(state.documents))
    # localCheckpoint collapses lineage to a LogicalRDD leaf: plan size
    # must hit a fixed point, not grow with batch count
    assert sizes[10] == sizes[-1], sizes[-5:]
    assert len(set(sizes[10:])) == 1
    n_docs = state.documents.count()
    assert n_docs == 50 - len([i for i in range(50) if i % 3 == 0 and i >= 2])


def test_materialize_to_path_roundtrip(spark, tmp_path):
    """materialize(path) = write-and-reload (the production commit); the
    reloaded state is plan-depth-1 scans and value-identical."""
    state = empty_state(spark).with_(categories=seed_categories(spark))
    state, _ = apply_actions(state, _batch(spark, 0))
    mat = state.materialize(str(tmp_path / "catalog"))
    assert mat.documents.count() == state.documents.count() == 1
    assert sorted(mat.categories.collect()) == sorted(state.categories.collect())
    # reloaded plan is a bare parquet scan, not the mutation chain
    assert "Relation" in mat.documents._jdf.queryExecution().analyzed().toString()
