"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

Generators are deterministic per seed; the catalog model agrees with
``catalog.actions.apply_actions``; the snippet model agrees with
``operators.snippetize``; every metric is well named and carries a unit.
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest

from perfbench import gen, model

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from data_ingestion_py_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()


def test_pdf_batches_deterministic_per_seed():
    a = gen.pdf_batches(5, 2)
    b = gen.pdf_batches(5, 2)
    c = gen.pdf_batches(6, 2)
    assert [[d.data for d in x] for x in a] == [[d.data for d in x] for x in b]
    assert [d.pages for d in a[0]] != [d.pages for d in c[0]]
    for docs in a:  # every batch carries the same work
        assert sum(len(d.pages) for d in docs) == sum(gen.BATCH_PAGES)
        assert sum(len(d.pages) for d in docs if d.scanned) == sum(
            p for p, s in zip(gen.BATCH_PAGES, gen.BATCH_SCANNED) if s
        )


def test_planted_pages_extract_and_ocr_exactly():
    from data_ingestion_py_spark.sources.ocr_pure import (
        ALNUM_TEMPLATES,
        ocr_pdf_pages,
    )
    from data_ingestion_py_spark.sources.pdf_pure import parse_pdf_text

    for d in gen.pdf_batches(7, 1)[0]:
        if d.scanned:
            assert parse_pdf_text(d.data)[0] == [""] * len(d.pages)
            got = ocr_pdf_pages(d.data, templates=[None, ALNUM_TEMPLATES])
        else:
            got = parse_pdf_text(d.data)[0]
        assert got == list(d.pages)


def test_catalog_plan_deterministic_and_size_constant():
    a = gen.catalog_plan(3, 60, 3)
    assert a == gen.catalog_plan(3, 60, 3)
    assert a.batches != gen.catalog_plan(4, 60, 3).batches
    m = model.CatalogModel(a.categories, a.documents)
    for batch in a.batches:
        assert len(batch) == gen.BATCH_SIZE
        statuses = m.apply(batch)
        assert len(m.docs) == 60
        assert sorted(set(statuses.values())) == [
            "duplicate", "not_found", "ok", "rejected"
        ]


def test_tables_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(1, 0.001, str(tmp_path / "a"))
    gen.write_tables(1, 0.001, str(tmp_path / "b"))
    counts = gen.write_tables(2, 0.001, str(tmp_path / "c"))
    for name in counts:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "orders.parquet").equals(
        pq.read_table(tmp_path / "c" / "orders.parquet")
    )


def test_catalog_model_agrees_with_apply_actions(spark):
    from pyspark.sql import functions as F

    from data_ingestion_py_spark.catalog.actions import commands_from_rows
    from data_ingestion_py_spark.catalog.state import (
        CATEGORY_SCHEMA,
        DOCUMENT_SCHEMA,
        PAGE_SCHEMA,
        CatalogState,
    )
    from data_ingestion_py_spark.streaming.pipeline import (
        StateHolder,
        command_batch_processor,
    )
    from perfbench.workloads import _command_row

    plan = gen.catalog_plan(11, 40, 2)
    docs = spark.createDataFrame(
        [(d["document_id"], d["document_name"], d["category_id"], None, [],
          None, {}, "Active") for d in plan.documents],
        "document_id long, document_name string, category_id int, "
        "document_link string, document_tags array<string>, "
        "document_expiryDate date, document_metadata map<string,string>, "
        "document_status string",
    ).withColumn("date_uploaded", F.current_date())
    pages = spark.createDataFrame(
        [(d["document_id"], i, p) for d in plan.documents
         for i, p in enumerate(d["pages"], start=1)],
        PAGE_SCHEMA,
    )
    state = CatalogState(
        categories=spark.createDataFrame(plan.categories, CATEGORY_SCHEMA),
        documents=docs.select(*DOCUMENT_SCHEMA.names),
        pages=pages,
    )
    holder = StateHolder(state=state, audits=[])
    proc = command_batch_processor(holder)
    m = model.CatalogModel(plan.categories, plan.documents)
    for b, batch in enumerate(plan.batches):
        proc(commands_from_rows(spark, [_command_row(c) for c in batch]), b)
        want = m.apply(batch)
        got = {r.seq: r.status for r in holder.audits[-1].collect()}
        assert got == want
        live = {r.document_name for r in holder.state.documents.collect()}
        assert live == set(m.docs)
        assert {r.category_id for r in holder.state.categories.collect()} == set(
            m.categories
        )
        per_cat = {
            r.category_id: r["count"]
            for r in holder.state.snippets().groupBy("category_id").count().collect()
        }
        for cid in m.categories:
            assert per_cat.get(cid, 0) == m.category_snippets(cid)


def test_snippet_model_agrees_with_snippetize(spark):
    from data_ingestion_py_spark.operators.snippetize import snippetize

    texts = [
        "one two. three four five.\nsix. seven eight! nine? ten.",
        "A. B. C. D. E. F. G.   ",
        "",
        "no punctuation at all",
    ]
    for mode in ("punctuation", "tokens"):
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
        got = sorted(
            (r.doc_id, r.snippet_id, r.snippet_text)
            for r in snippetize(df, mode=mode).collect()
        )
        want = sorted(
            (i, sid, s) for i, t in enumerate(texts)
            for sid, s in model.snippets(t, mode)
        )
        assert got == want


def test_metric_names_and_units():
    from perfbench import run

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.NOMINAL_OPS_PER_S)
    names = list(e2e) + list(layers) + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for unit in list(e2e.values()) + list(layers.values()):
        assert UNIT.match(unit), unit
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")


def test_tail_needs_ten_samples_beyond():
    from perfbench.harness import tail

    assert tail(list(range(19))) is None
    t = tail([float(i) for i in range(1, 101)])
    assert t == {"value": 90.0, "percentile": 90.0, "n": 100}
