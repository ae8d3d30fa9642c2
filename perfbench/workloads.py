"""The three closed-loop workloads: one client (the main Python thread),
fixed op counts, outputs checked after the timed loop.

Each workload builds its inputs from the seed in ``setup``, warms up
until per-op time stops falling, then runs ``n_ops`` timed steps. Only
calls into the program's public functions are timed.
"""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass
from pathlib import Path

from perfbench import gen, model
from perfbench.harness import Tracer, p50

# Warm-up steps before timing, a fixed count so that set-up does the same
# work on both sides of a comparison. On a 4-core box ingest writes still
# fell ~15% over the first six steps and catalog batches over the first
# eight (4.46 s to ~2.9 s); both held within their step-to-step noise
# after eight.
WARMUP_STEPS = 8


@dataclass
class Op:
    idx: int
    kind: str  # "write", "read" or "query"
    latency: float
    items: int
    label: str = ""  # what the op touched: a batch, a document, a query
    ok: bool = True
    error: str = ""


def _plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


class Workload:
    name = ""
    item = ""
    pass_size = 1  # op counts are rounded up to whole passes

    def __init__(self, spark, work: Path, seed: int, n_ops: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_ops = n_ops
        self.tracer = tracer
        self.ops: list[Op] = []
        self.warmup_s: list[float] = []
        self.rng = random.Random(seed)

    # -- timing ---------------------------------------------------------

    def timed(self, kind: str, items: int, label: str, fn, *args) -> Op:
        """Run one op under its top-level span; an exception fails it."""
        tr = self.tracer
        tr.op = len(self.ops) if self._timing else None
        op = Op(len(self.ops), kind, 0.0, items, label)
        t0 = time.perf_counter()
        try:
            with tr.span(kind):
                fn(*args)
        except Exception as exc:  # the loop must go on; the op counts as failed
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"
            print(f"[perfbench] {kind} op failed: {op.error}", file=sys.stderr)
        op.latency = time.perf_counter() - t0
        tr.op = None
        if self._timing:
            self.ops.append(op)
            tr.count(f"{kind}.ops")
            tr.count(f"{kind}.items", items)
        return op

    _timing = False

    def warm_up(self) -> None:
        for _ in range(WARMUP_STEPS):
            t0 = time.perf_counter()
            self.step()
            self.warmup_s.append(time.perf_counter() - t0)

    def run(self) -> None:
        self._timing = True
        for _ in range(self.n_ops):
            self.step()
        self._timing = False

    # -- per workload ---------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def step(self) -> None:
        """One closed-loop step: a write and its reads, or one query."""
        raise NotImplementedError

    def check(self) -> None:
        """Mark ops whose outputs differ from the expected ones."""
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Traced runs: this workload's own layer metrics."""
        return {}

    def fail(self, op_idx: int, why: str) -> None:
        op = self.ops[op_idx]
        if op.ok:
            op.ok, op.error = False, why
            print(f"[perfbench] check failed (op {op_idx}): {why}",
                  file=sys.stderr)

    def spans(self, name: str):
        return self.tracer.by_name(name)


# ---------------------------------------------------------------------------
# ingest: PDF -> pages -> snippets -> serving table, then a lookup
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Write op: one 8-document upload batch (20 pages, 3 scanned
    documents with 9 pages) through scan -> extract -> links ->
    snippetize (punctuation mode) -> append to the serving table. Read
    ops: the snippets of three just-written documents, one by name each."""

    name, item = "ingest", "page"
    READS_PER_WRITE = 3

    def setup(self) -> None:
        from data_ingestion_py_spark import io

        self.io = io
        self.serving = str(self.work / "snippets.parquet")
        self.batches = gen.pdf_batches(self.seed, WARMUP_STEPS + self.n_ops)
        for b, docs in enumerate(self.batches):
            gen.write_batch(docs, str(self.work / "inbox" / f"b{b:03d}"))
        self.lookups: dict[int, tuple[str, list]] = {}  # op -> name, rows
        self.batch_of_op: dict[int, int] = {}
        self._batch = 0
        self.warm_up()

    def step(self) -> None:
        b = self._batch
        self._batch += 1
        docs = self.batches[b]
        op = self.timed("write", sum(len(d.pages) for d in docs), f"batch {b}",
                        self.write, b)
        if self._timing:
            self.batch_of_op[op.idx] = b
        for name in self.rng.sample([d.name for d in docs], self.READS_PER_WRITE):
            op = self.timed("read", 0, name, self.read, b, name)
            if self._timing:
                self.lookups[op.idx] = (name, self._rows)

    def write(self, b: int) -> None:
        from pyspark.sql import functions as F

        from data_ingestion_py_spark.operators.snippetize import snippetize
        from data_ingestion_py_spark.sources import pdf

        tr = self.tracer
        with tr.span("write.build"):
            pages = pdf.pages_with_links(
                pdf.extract_pages(
                    pdf.scan_pdf_directory(
                        self.spark, str(self.work / "inbox" / f"b{b:03d}")
                    )
                )
            ).withColumn("batch", F.lit(b))
            with tr.span("operators.snippetize"):
                sn = snippetize(
                    pages,
                    text_col="page_text",
                    id_cols=("document_name", "page_number"),
                    carry_cols=("batch", "page_link", "needs_ocr",
                                "document_metadata"),
                    mode="punctuation",
                )
        with tr.span("write.plan"):
            _plan(sn)
        with tr.span("write.exec"):
            self.io.write_partitioned(
                sn, self.serving, partition_by=["batch"], mode="append"
            )

    def read(self, b: int, name: str) -> None:
        from pyspark.sql import functions as F

        tr = self.tracer
        with tr.span("read.build"):
            df = self.io.load_table(self.spark, str(self.work), "snippets").where(
                (F.col("batch") == b) & (F.col("document_name") == name)
            ).select("page_number", "snippet_id", "snippet_text")
        with tr.span("read.plan"):
            _plan(df)
        with tr.span("read.exec"):
            self._rows = df.collect()

    def check(self) -> None:
        expected = {}
        for b, docs in enumerate(self.batches):
            for d in docs:
                for pno, text in enumerate(d.pages, start=1):
                    for sid, stext in model.snippets(text, "punctuation"):
                        expected[(d.name, pno, sid)] = (b, stext, d.scanned)
        from pyspark.sql import functions as F

        rows = self.io.load_table(self.spark, str(self.work), "snippets").select(
            "batch", "document_name", "page_number", "snippet_id",
            "snippet_text", "needs_ocr",
            F.col("document_metadata")["extractor"].alias("extractor"),
        ).collect()
        got = {(r.document_name, r.page_number, r.snippet_id): r for r in rows}
        batch_of_write = {b: idx for idx, b in self.batch_of_op.items()}
        for key, (b, stext, scanned) in expected.items():
            if b not in batch_of_write:
                continue
            idx = batch_of_write[b]
            r = got.get(key)
            if r is None:
                self.fail(idx, f"snippet {key} missing")
            elif r.snippet_text != stext or r.batch != b:
                self.fail(idx, f"snippet {key} text differs")
            elif r.needs_ocr != scanned or r.extractor != (
                "ocr-lite" if scanned else "pure-byte"
            ):
                self.fail(idx, f"snippet {key} took the wrong extractor")
        extra = set(got) - set(expected)
        if extra:
            self.fail(max(self.batch_of_op), f"{len(extra)} unplanted snippets")
        for idx, (name, found) in self.lookups.items():
            want = sorted(
                (k[1], k[2], v[1]) for k, v in expected.items() if k[0] == name
            )
            if sorted(tuple(r) for r in found) != want:
                self.fail(idx, f"lookup of {name} differs")
        self.n_snippets = len(rows)

    def layer_metrics(self) -> dict:
        from data_ingestion_py_spark.sources.ocr_pure import (
            ALNUM_TEMPLATES,
            ocr_pdf_pages,
        )
        from data_ingestion_py_spark.sources.pdf_pure import parse_pdf_text

        text_s = ocr_s = 0.0
        text_pages = ocr_pages = decoded = failed = 0
        for b in self.batch_of_op.values():
            for d in self.batches[b]:
                t0 = time.perf_counter()
                parsed = parse_pdf_text(d.data)
                t1 = time.perf_counter()
                if d.scanned:
                    got = ocr_pdf_pages(
                        d.data, strict=True, templates=[None, ALNUM_TEMPLATES]
                    )
                    ocr_s += time.perf_counter() - t1
                    ocr_pages += len(d.pages)
                else:
                    text_s += t1 - t0
                    text_pages += len(d.pages)
                    got = parsed[0] if parsed else None
                ok = [a == b for a, b in zip(got or [], d.pages)]
                decoded += sum(ok)
                failed += len(d.pages) - sum(ok)
        out_bytes = sum(
            f.stat().st_size
            for f in Path(self.serving).rglob("*.parquet")
        )
        written = self.batches[: self._batch]  # warm-up and timed batches
        in_bytes = sum(len(d.data) for docs in written for d in docs)
        pages = sum(len(d.pages) for docs in written for d in docs)
        snip = [s.end - s.start for s in self.spans("operators.snippetize")]
        write = [s.end - s.start for s in self.spans("write.exec")]
        return {
            "sources.parse_pdf_text.s_per_page": text_s / max(1, text_pages),
            "sources.ocr_pdf_pages.s_per_page": ocr_s / max(1, ocr_pages),
            "sources.pages_decoded": decoded,
            "sources.pages_failed": failed,
            "operators.snippetize.build_s": p50(snip),
            "operators.snippetize.snippets_per_page": self.n_snippets / pages,
            "io.write_partitioned.s": p50(write),
            "io.bytes_written_per_input_byte": out_bytes / in_bytes,
        }


# ---------------------------------------------------------------------------
# catalog: the bounded action queue against a live catalog
# ---------------------------------------------------------------------------

LIVE_DOCS = 5000


class Catalog(Workload):
    """Write op: one 40-command batch through
    ``streaming.pipeline.command_batch_processor``. Read ops after each
    write: the active snippets of one base category, and one
    document-name lookup, both on ``CatalogState.snippets()``."""

    name, item = "catalog", "command"

    def setup(self) -> None:
        from data_ingestion_py_spark.catalog import actions
        from data_ingestion_py_spark.streaming import pipeline

        self.plan = gen.catalog_plan(
            self.seed, LIVE_DOCS, WARMUP_STEPS + self.n_ops
        )
        state = self._preload()
        self.holder = pipeline.StateHolder(state=state, audits=[])
        self.proc = pipeline.command_batch_processor(self.holder)
        self.commands = [
            actions.commands_from_rows(self.spark, [_command_row(c) for c in b])
            for b in self.plan.batches
        ]
        self._batch = 0
        self.batch_of_op: dict[int, int] = {}
        # op -> (read kind, batch, category or name, rows)
        self.reads: dict[int, tuple[str, int, object, list]] = {}
        if self.tracer.enabled:
            self._instrument(pipeline)
        self.warm_up()

    def _preload(self):
        """Write the preload with pyarrow, load it through ``io.load_table``
        and build the live state from it."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from data_ingestion_py_spark.catalog.state import (
            CATEGORY_SCHEMA,
            CatalogState,
        )
        from data_ingestion_py_spark.io import load_table

        src = self.work / "preload"
        src.mkdir()
        docs = self.plan.documents
        pq.write_table(pa.table({
            "document_id": [d["document_id"] for d in docs],
            "document_name": [d["document_name"] for d in docs],
            "category_id": pa.array([d["category_id"] for d in docs], pa.int32()),
        }), src / "documents.parquet")
        pq.write_table(pa.table({
            "document_id": [d["document_id"] for d in docs for _ in d["pages"]],
            "page_number": pa.array(
                [i for d in docs for i in range(1, len(d["pages"]) + 1)],
                pa.int32()),
            "page_text": [p for d in docs for p in d["pages"]],
        }), src / "pages.parquet")
        documents = load_table(self.spark, str(src), "documents").select(
            "document_id", "document_name", "category_id",
            F.concat(F.lit("file:///catalog/"), "document_name").alias(
                "document_link"),
            F.array().cast("array<string>").alias("document_tags"),
            F.lit(None).cast("date").alias("document_expiryDate"),
            F.create_map().cast("map<string,string>").alias(
                "document_metadata"),
            F.lit("Active").alias("document_status"),
            F.current_date().alias("date_uploaded"),
        )
        state = CatalogState(
            categories=self.spark.createDataFrame(
                self.plan.categories, CATEGORY_SCHEMA),
            documents=documents,
            pages=load_table(self.spark, str(src), "pages"),
        )
        return state.materialize()

    def _instrument(self, pipeline) -> None:
        """Traced runs only: spans around the catalog calls the handler
        makes, by replacing the functions the handler module looks up for
        the rest of this process. The plan span forces each new table's
        physical plan, which the checkpoints then reuse."""
        from data_ingestion_py_spark.catalog.state import CatalogState

        tr = self.tracer
        apply_actions, pin = pipeline.apply_actions, pipeline._pin
        materialize = CatalogState.materialize

        def traced_apply(state, commands):
            with tr.span("catalog.apply_actions"):
                new_state, audit = apply_actions(state, commands)
            with tr.span("write.plan"):
                for df in (new_state.categories, new_state.documents,
                           new_state.pages, audit):
                    _plan(df)
            return new_state, audit

        def traced_materialize(state, path=None):
            with tr.span("catalog.materialize"):
                return materialize(state, path)

        def traced_pin(df):
            with tr.span("streaming.pin_audit"):
                return pin(df)

        pipeline.apply_actions = traced_apply
        pipeline._pin = traced_pin
        CatalogState.materialize = traced_materialize

    def step(self) -> None:
        b = self._batch
        self._batch += 1
        op = self.timed("write", gen.BATCH_SIZE, f"batch {b}", self.write, b)
        if self._timing:
            self.batch_of_op[op.idx] = b
        category = 1 + b % gen.BASE_CATEGORIES
        op = self.timed("read", 0, f"category {category}",
                        self.read_category, category)
        if self._timing:
            self.reads[op.idx] = ("category", b, category, self._rows)
        name = self.rng.choice(sorted(
            d["document_name"] for d in self.plan.batches[b]
            if d["action_code"] == 1
        ))
        op = self.timed("read", 0, name, self.read_document, name)
        if self._timing:
            self.reads[op.idx] = ("document", b, name, self._rows)

    def write(self, b: int) -> None:
        with self.tracer.span("streaming.command_batch"):
            self.proc(self.commands[b], b)

    def _read(self, predicate) -> None:
        tr = self.tracer
        with tr.span("read.build"):
            with tr.span("catalog.snippets"):
                sn = self.holder.state.snippets()
            df = sn.where(predicate).select(
                "document_name", "page_number", "snippet_id")
        with tr.span("read.plan"):
            _plan(df)
        with tr.span("read.exec"):
            self._rows = df.collect()

    def read_category(self, category: int) -> None:
        from pyspark.sql import functions as F

        self._read((F.col("category_id") == category)
                   & (F.col("document_status") == "Active"))

    def read_document(self, name: str) -> None:
        from pyspark.sql import functions as F

        self._read(F.col("document_name") == name)

    def check(self) -> None:
        m = model.CatalogModel(self.plan.categories, self.plan.documents)
        statuses, expect_reads = {}, {}
        for b, batch in enumerate(self.plan.batches[: self._batch]):
            statuses.update(m.apply(batch))
            for idx, (kind, rb, key, _rows) in self.reads.items():
                if rb == b:
                    expect_reads[idx] = (
                        m.category_snippets(key) if kind == "category"
                        else (m.doc_snippets(key) if key in m.docs else 0)
                    )
        op_of_batch = {b: idx for idx, b in self.batch_of_op.items()}
        audits = [r for a in self.holder.audits for r in a.collect()]
        for r in audits:
            b = r.seq // gen.BATCH_SIZE
            if b in op_of_batch and statuses.get(r.seq) != r.status:
                self.fail(op_of_batch[b], f"seq {r.seq}: audit {r.status}, "
                          f"model {statuses.get(r.seq)}")
        seen = {r.seq for r in audits}
        for b, idx in op_of_batch.items():
            for c in self.plan.batches[b]:
                if c["seq"] not in seen:
                    self.fail(idx, f"seq {c['seq']} has no audit row")
        for idx, want in expect_reads.items():
            if len(self.reads[idx][3]) != want:
                self.fail(idx, f"read got {len(self.reads[idx][3])} "
                          f"snippets, model {want}")
        live = {r.document_name for r in
                self.holder.state.documents.select("document_name").collect()}
        if live != set(m.docs):
            self.fail(max(op_of_batch.values()),
                      f"live set differs: {len(live)} vs {len(m.docs)}")
        self.live_docs = len(live)
        self.audit_ok = sum(r.status == "ok" for r in audits
                            if r.seq // gen.BATCH_SIZE in op_of_batch)
        self.audit_n = sum(r.seq // gen.BATCH_SIZE in op_of_batch
                           for r in audits)

    def layer_metrics(self) -> dict:
        tr = self.tracer

        def med(name, key=None):
            spans = self.spans(name)
            if key == "jobs":
                return p50([tr.inclusive(s, "jobs") for s in spans])
            return p50([s.end - s.start for s in spans])

        return {
            "catalog.apply_actions.s": med("catalog.apply_actions"),
            "catalog.materialize.s": med("catalog.materialize"),
            "catalog.materialize.jobs": med("catalog.materialize", "jobs"),
            "catalog.live_docs": self.live_docs,
            "catalog.audit_ok_ratio": self.audit_ok / self.audit_n,
            "catalog.snippets.s": med("catalog.snippets"),
            "streaming.command_batch.self_s": p50(
                [tr.self_s(s) for s in self.spans("streaming.command_batch")]
            ),
            "streaming.pin_audit.s": med("streaming.pin_audit"),
        }


def _command_row(c: dict) -> dict:
    row = dict(c)
    if "pages" in row:
        row["page_texts"] = row.pop("pages")
        row["file_link"] = "file:///catalog/" + row["document_name"]
        row["document_tags"] = []
    return row


# ---------------------------------------------------------------------------
# query: registry queries, built, planned and written to the noop sink
# ---------------------------------------------------------------------------

QUERY_SET = (
    "snippets_flat",
    "similarity_active_snippets",
    "text_bm25_topk",
    "dedup_minhash_lsh_pairs",
    "similarity_ivf_kmeans",
    "customer_rfm_segments",
    "graph_pagerank",
)
QUERY_SF = 0.1


class Query(Workload):
    """One op: one registry query, ``QUERIES[name].spark`` -> plan ->
    ``noop`` write. A pass runs the whole set in a seeded order."""

    name, item = "query", "query"
    pass_size = len(QUERY_SET)

    def setup(self) -> None:
        import data_ingestion_py_spark.queries_ext  # noqa: F401  (registers)
        from data_ingestion_py_spark.queries import QUERIES

        from tests.oracle_utils import canonical

        self.QUERIES = QUERIES
        self.sf_dir = str(self.work / "tables")
        self.rows = gen.write_tables(self.seed, QUERY_SF, self.sf_dir)
        self.results = {}
        # Warm-up: one pass, which also collects each result for the
        # check. Pass times fall from ~38 s cold to ~19 s and then hold
        # within a few percent, so one pass is where they stop falling.
        for name in QUERY_SET:
            t0 = time.perf_counter()
            pdf = QUERIES[name].spark(self.spark, self.sf_dir).toPandas()
            self.warmup_s.append(time.perf_counter() - t0)
            self.results[name] = (sorted(pdf.columns), len(pdf), canonical(pdf))
        self.order: list[str] = []
        self.canonical = canonical

    def step(self) -> None:
        if not self.order:
            self.order = list(QUERY_SET)
            self.rng.shuffle(self.order)
        name = self.order.pop()
        self.timed("query", 1, name, self.query, name)

    def query(self, name: str) -> None:
        tr = self.tracer
        with tr.span("query.build"):
            df = self.QUERIES[name].spark(self.spark, self.sf_dir)
        with tr.span("query.plan"):
            _plan(df)
        with tr.span("query.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        # Statistics propagation dominates DuckDB's planning of the
        # unrolled k-means twins (15 of 18 s for similarity_ivf_kmeans)
        # and never changes a result.
        con.execute("SET disabled_optimizers = 'statistics_propagation'")
        try:
            for t in self.rows:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            bad = {}
            for name in QUERY_SET:
                duck = con.execute(self.QUERIES[name].oracle).fetchdf()
                cols, n, canon = self.results[name]
                if cols != sorted(duck.columns) or n != len(duck):
                    bad[name] = f"{name}: shape {n} vs oracle {len(duck)}"
                elif canon != self.canonical(duck):
                    bad[name] = f"{name}: values differ from the oracle"
        finally:
            con.close()
        for op in self.ops:
            if op.label in bad:
                self.fail(op.idx, bad[op.label])

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {}
        for name in QUERY_SET:
            ops = {o.idx for o in self.ops if o.label == name}

            def of(span):
                return [s for s in self.spans(span) if s.op in ops]

            out[f"queries.{name}.build_s"] = p50(
                [s.end - s.start for s in of("query.build")])
            out[f"queries.{name}.build_jobs"] = p50(
                [tr.inclusive(s, "jobs") for s in of("query.build")])
            out[f"queries.{name}.plan_s"] = p50(
                [s.end - s.start for s in of("query.plan")])
            out[f"queries.{name}.exec_s"] = p50(
                [s.end - s.start for s in of("query.exec")])
        return out


WORKLOADS = {w.name: w for w in (Ingest, Catalog, Query)}
