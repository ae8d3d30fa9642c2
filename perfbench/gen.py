"""Seeded input generators for the three workloads.

Everything here is a pure function of its seed: the same seed gives
byte-identical PDFs, the same catalog command sequence and the same
tables. The program under test only ever sees these generated inputs.
"""

from __future__ import annotations

import os
import random
import zlib
from dataclasses import dataclass, field

import numpy as np

from perfbench.model import CatalogModel

# The fixture corpus draws its word soup from this vocabulary; the
# `dup` token marks planted near-duplicates.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SCAN_WORDS = (
    "GOLD IRON MOSS FERN OPAL JUTE ZINC TEAL RUBY JADE MINT SAGE ONYX "
    "PINE KELP WREN LYNX HAWK BEAR WOLF"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

CELL = 8  # pixels per font cell; the OCR-lite kernel pools 8x8 cells
SCAN_LINE_CHARS = 64
SCAN_LINES = 48
TEXT_LINES = 24


# ---------------------------------------------------------------------------
# PDF corpus (ingest)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PlantedDoc:
    name: str
    scanned: bool
    pages: tuple[str, ...]  # the text each page must extract/OCR to
    data: bytes = field(repr=False)


def _pdf_obj(num: int, body: bytes) -> bytes:
    return b"%d 0 obj\n" % num + body + b"\nendobj\n"


def _pdf_stream(num: int, data: bytes, extra: bytes = b"") -> bytes:
    packed = zlib.compress(data, 1)
    head = b"<< /Length %d /Filter /FlateDecode%s >>" % (len(packed), extra)
    return _pdf_obj(num, head + b"\nstream\n" + packed + b"\nendstream")


def render_scan_lines(lines: list[str]) -> np.ndarray:
    """Raster of ``lines`` (equal length) in the OCR-lite alphanumeric
    bitmap font: 4x3 cells of CELL pixels per glyph, ink 32 on paper
    224, one glyph row per line."""
    from data_ingestion_py_spark.sources.ocr_pure import ALNUM_TEMPLATES

    chars = sorted(ALNUM_TEMPLATES)
    cells = np.array([ALNUM_TEMPLATES[c] for c in chars], np.uint8)
    tiles = np.where(np.kron(cells, np.ones((1, CELL, CELL), np.uint8)), 32, 224)
    index = np.array([[chars.index(c) for c in line] for line in lines])
    rows, cols = index.shape
    glyph_h, glyph_w = tiles.shape[1:]
    return (
        tiles[index].astype(np.uint8)
        .transpose(0, 2, 1, 3)
        .reshape(rows * glyph_h, cols * glyph_w)
    )


def build_pdf(name: str, pages: list[str], scanned: bool) -> bytes:
    """A PDF whose page i carries ``pages[i]``: as a Flate text layer
    (one ``Tj`` per line, ``T*`` between lines), or, when ``scanned``,
    with an empty text layer and a Flate gray8 image of the lines."""
    n = len(pages)
    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n)).encode()
    out = [b"%PDF-1.7\n"]
    out.append(_pdf_obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"))
    out.append(
        _pdf_obj(2, b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n))
    )
    for i, text in enumerate(pages):
        page, content, image = 3 + 3 * i, 4 + 3 * i, 5 + 3 * i
        lines = text.split("\n")
        if scanned:
            raster = render_scan_lines(lines)
            h, w = raster.shape
            out.append(
                _pdf_obj(
                    page,
                    b"<< /Type /Page /Parent 2 0 R /Resources << /XObject "
                    b"<< /Im0 %d 0 R >> >> /Contents %d 0 R >>"
                    % (image, content),
                )
            )
            out.append(
                _pdf_stream(content, b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h))
            )
            out.append(
                _pdf_stream(
                    image,
                    raster.tobytes(),
                    b" /Type /XObject /Subtype /Image /Width %d /Height %d"
                    b" /ColorSpace /DeviceGray /BitsPerComponent 8" % (w, h),
                )
            )
        else:
            ops = b" T* ".join(b"(%s) Tj" % ln.encode() for ln in lines)
            out.append(
                _pdf_obj(
                    page,
                    b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>"
                    % content,
                )
            )
            out.append(_pdf_stream(content, b"BT /F1 11 Tf " + ops + b" ET"))
    info = 3 + 3 * n
    out.append(
        _pdf_obj(info, b"<< /Title (%s) /Author (perfbench) >>" % name.encode())
    )
    out.append(
        b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\nstartxref\n0\n%%%%EOF"
        % (info + 1, info)
    )
    return b"".join(out)


def _text_page(rng: random.Random) -> str:
    """TEXT_LINES lines of lowercase prose, each one or two sentences."""
    lines = []
    for _ in range(TEXT_LINES):
        sents = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(4, 9))) + "."
            for _ in range(rng.randint(1, 2))
        ]
        lines.append(" ".join(sents))
    return "\n".join(lines)


def _scan_page(rng: random.Random) -> str:
    """SCAN_LINES fixed-width lines of bitmap-font words, each line one
    sentence."""
    lines = []
    for _ in range(SCAN_LINES):
        words: list[str] = []
        while True:
            w = rng.choice(SCAN_WORDS)
            if len(" ".join(words + [w])) > SCAN_LINE_CHARS - 1:
                break
            words.append(w)
        lines.append((" ".join(words) + ".").ljust(SCAN_LINE_CHARS))
    return "\n".join(lines)


# Pages per document in every upload batch, and which of those documents
# are scans: each batch has the same page count (20) and OCR share (3 of
# 8 documents, 9 of 20 pages), so per-batch work does not depend on the
# seed, only the words do.
BATCH_PAGES = (1, 1, 2, 2, 3, 3, 4, 4)
BATCH_SCANNED = (False, False, True, False, True, False, True, False)


def pdf_batches(seed: int, n_batches: int) -> list[list[PlantedDoc]]:
    """``n_batches`` upload batches of PDFs with planted page texts,
    document order shuffled per batch."""
    rng = random.Random(seed * 7919 + 1)
    batches = []
    for b in range(n_batches):
        mix = list(zip(BATCH_PAGES, BATCH_SCANNED))
        rng.shuffle(mix)
        docs = []
        for d, (n_pages, scanned) in enumerate(mix):
            name = f"b{b:03d}-d{d:02d}-s{seed}.pdf"
            make = _scan_page if scanned else _text_page
            pages = [make(rng) for _ in range(n_pages)]
            docs.append(
                PlantedDoc(name, scanned, tuple(pages),
                           build_pdf(name, pages, scanned))
            )
        batches.append(docs)
    return batches


def write_batch(docs: list[PlantedDoc], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for d in docs:
        with open(os.path.join(directory, d.name), "wb") as f:
            f.write(d.data)


# ---------------------------------------------------------------------------
# Catalog preload and command batches (catalog)
# ---------------------------------------------------------------------------

BASE_CATEGORIES = 6
ROTATING_PER_BATCH = 2  # docs uploaded into the new rotating category
BATCH_SIZE = 40  # the reference's action-queue bound

# per batch: 1 category add + 1 cascade remove + uploads + removes +
# 2 duplicate uploads of live names + 1 same-batch duplicate upload +
# 2 not-found removes + 1 invalid code = 40; uploads = removes + the
# two docs the cascade takes, so the live size is constant.
N_REMOVES = 15
INVALID_CODE = 7


def word_soup(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def doc_pages(rng: random.Random) -> list[str]:
    return [word_soup(rng, 10, 60) for _ in range(rng.randint(1, 3))]


def rotating_category(k: int) -> tuple[int, str]:
    """The small category batch k adds (batch k+1 cascades it away)."""
    return 100 + k, f"rotating-{k}"


@dataclass
class CatalogPlan:
    categories: list[tuple[int, str]]
    documents: list[dict]  # document_id, document_name, category_id, pages
    batches: list[list[dict]]  # ACTION_SCHEMA-shaped command dicts


def catalog_plan(seed: int, live_docs: int, n_batches: int) -> CatalogPlan:
    """Preload of ``live_docs`` documents in BASE_CATEGORIES categories
    (two of them in rotating category -1), then ``n_batches``
    40-command batches, each drawn against the live set the previous
    batches leave behind (evolved through ``model.CatalogModel``)."""
    rng = random.Random(seed * 104729 + 3)
    cats = [(c, f"category-{c}") for c in range(1, BASE_CATEGORIES + 1)]
    cats.append(rotating_category(-1))
    next_id = 0

    def new_doc(category_id: int) -> dict:
        nonlocal next_id
        d = {
            "document_id": next_id,
            "document_name": f"doc-{next_id:07d}-s{seed}.pdf",
            "category_id": category_id,
            "pages": doc_pages(rng),
        }
        next_id += 1
        return d

    preload = [
        new_doc(rng.randint(1, BASE_CATEGORIES))
        for _ in range(live_docs - ROTATING_PER_BATCH)
    ] + [
        new_doc(rotating_category(-1)[0]) for _ in range(ROTATING_PER_BATCH)
    ]
    model = CatalogModel(cats, preload)
    batches = []
    for k in range(n_batches):
        prev_cat, _ = rotating_category(k - 1)
        new_cat, new_cat_name = rotating_category(k)
        stable = sorted(
            n for n, d in model.docs.items() if d["category_id"] != prev_cat
        )
        removed = rng.sample(stable, N_REMOVES)
        kept = sorted(set(stable) - set(removed))
        uploads = [new_doc(rng.randint(1, BASE_CATEGORIES))
                   for _ in range(N_REMOVES)]
        uploads += [new_doc(new_cat) for _ in range(ROTATING_PER_BATCH)]
        cmds = [{"action_code": 1, **d} for d in uploads]
        # duplicates: two live names, and one name uploaded twice here
        twins = [model.docs[n] for n in rng.sample(kept, 2)]
        twins.append(rng.choice(uploads))
        for d in twins:
            cmds.append({"action_code": 1, **new_doc(d["category_id"]),
                         "document_name": d["document_name"]})
        cmds += [{"action_code": 0, "document_name": n} for n in removed]
        cmds += [
            {"action_code": 0, "document_name": f"ghost-{k}-{g}-s{seed}.pdf"}
            for g in range(2)
        ]
        cmds.append({"action_code": 2, "category_id": new_cat,
                     "category_name": new_cat_name})
        cmds.append({"action_code": 3, "category_id": prev_cat})
        cmds.append({"action_code": INVALID_CODE, "document_name": "bogus"})
        rng.shuffle(cmds)
        for seq, c in enumerate(cmds):
            c["seq"] = k * BATCH_SIZE + seq
        if len(cmds) != BATCH_SIZE:
            raise ValueError(f"batch {k} has {len(cmds)} commands")
        batches.append(cmds)
        model.apply(cmds)
    return CatalogPlan(cats, preload, batches)


# ---------------------------------------------------------------------------
# Star-schema tables (query)
# ---------------------------------------------------------------------------


def write_tables(seed: int, sf: float, directory: str) -> dict[str, int]:
    """Write the tables the query set reads, one parquet file each, in
    the fixture layout (``<name>.parquet``); returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    n_cust = int(150_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_lines = int(6_000_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01", "us")

    def ids(n: int) -> np.ndarray:
        return np.arange(n, dtype=np.int64)

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    words = vocab[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    emb = centers[labels] + rng.normal(scale=0.8, size=(n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables = {
        "documents": {
            "doc_id": ids(n_docs),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        "embeddings": {
            "vec_id": ids(n_vec),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": labels,
        },
        "customer": {
            "c_custkey": ids(n_cust),
            "c_name": names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "orders": {
            "o_orderkey": ids(n_orders),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["O", "F", "P"])[
                rng.integers(0, 3, n_orders)
            ],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": t0 + rng.integers(0, 2400, n_orders) * day,
            "o_orderpriority": np.array(PRIORITIES)[
                rng.integers(0, 5, n_orders)
            ],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, n_part, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["N", "A", "R"])[
                rng.integers(0, 3, n_lines)
            ],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": t0 + rng.integers(1, 2500, n_lines) * day,
        },
        "supplier": {
            "s_suppkey": ids(n_supp),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        },
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
