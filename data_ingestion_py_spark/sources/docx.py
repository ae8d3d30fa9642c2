"""DOCX (OOXML WordprocessingML) text ingestion — the #2 document
format in enterprise corpora after PDF (r15, VERDICT task #7).

A .docx file is a ZIP package (ECMA-376 Part 2, OPC) whose main
document part is ``word/document.xml``; visible text lives in
``<w:t>`` runs inside ``<w:p>`` paragraphs. This module composes the
existing pure-byte ZIP walk (``sources/archive.zip_members`` — the
same central-directory read, reused rather than re-written) with a
WordprocessingML text extraction that mirrors what the tag-strip
column algebra does for HTML: paragraphs → lines, ``<w:t>`` runs
concatenated in document order, ``<w:tab/>`` → TAB, ``<w:br/>`` →
newline, the five XML named entities plus numeric character
references unescaped.

Scope and honesty: STORED and DEFLATE members only (every real DOCX
writer emits DEFLATE; the OPC spec allows nothing else), main
document part only — headers/footers/footnotes/comments live in
sibling parts and are deliberately not folded into the body text
(they are layout furniture, not document flow; divergence from
pandoc-class converters documented). Not-a-zip, missing
``word/document.xml``, an unsupported member method, or an
inflate failure → None, never garbage text.

Reference tie-in: the reference ingests PDFs only
(data_ingestion.py:110-135); this extends the S1 document-scan family
to the other format a real enterprise corpus is full of, feeding the
same snippetize/quality operators.
"""

from __future__ import annotations

from data_ingestion_py_spark.sources.bits import (
    Refused,
    bounded_decompress,
    none_on_refusal,
)
from data_ingestion_py_spark.sources.spread import kernel_rows

import re
import zlib

_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
}

#: one pass over a paragraph body: a text run, a tab, or a break
_RUN = re.compile(
    rb"<w:t(?:\s[^>]*)?>(.*?)</w:t>"
    rb"|<w:tab\s*/?>"
    rb"|<w:br\s*/?>",
    re.S,
)
_PARA = re.compile(rb"<w:p[\s>].*?</w:p>|<w:p/>", re.S)
_ENT = re.compile(r"&(#x?[0-9A-Fa-f]+|[a-z]+);")


def _unescape(s: str) -> str:
    def one(m: "re.Match[str]") -> str:
        body = m.group(1)
        if body.startswith("#x") or body.startswith("#X"):
            try:
                return chr(int(body[2:], 16))
            except ValueError:
                return m.group(0)
        if body.startswith("#"):
            try:
                return chr(int(body[1:]))
            except ValueError:
                return m.group(0)
        return _ENTITIES.get(body, m.group(0))

    return _ENT.sub(one, s)


@none_on_refusal
def docx_document_xml(payload: bytes | None) -> bytes | None:
    """``word/document.xml`` bytes out of a DOCX package: ZIP walk +
    member decompression (STORED as-is, DEFLATE via raw inflate
    bounded by the declared uncompressed size). None when the payload
    is not a ZIP, the part is absent, the method is unsupported, or
    inflation fails/overflows the declared size."""
    from data_ingestion_py_spark.sources.archive import zip_members

    for name, method, uncomp, comp, off in zip_members.__wrapped__(payload):
        if name != "word/document.xml":
            continue
        if method == 0:
            out = payload[off : off + comp]
        elif method == 8:
            out = bounded_decompress(
                zlib.decompressobj(-15), payload[off : off + comp], uncomp
            )
        else:
            raise Refused("OPC allows only STORED/DEFLATE")
        if out is None or len(out) != uncomp:
            raise Refused("document part does not inflate to its size")
        return out
    raise Refused("no word/document.xml part")


def docx_paragraphs(xml: bytes) -> list[str]:
    """Visible text per ``<w:p>`` paragraph, in document order:
    ``<w:t>`` runs concatenated, tabs and breaks materialized,
    entities unescaped. Paragraphs with no text yield empty
    strings (they are real vertical space in the document flow)."""
    out: list[str] = []
    for pm in _PARA.finditer(xml):
        parts: list[str] = []
        for m in _RUN.finditer(pm.group(0)):
            if m.group(1) is not None:
                parts.append(
                    _unescape(m.group(1).decode("utf-8", "replace"))
                )
            elif m.group(0).startswith(b"<w:tab"):
                parts.append("\t")
            else:
                parts.append("\n")
        out.append("".join(parts))
    return out


@none_on_refusal
def docx_text(payload: bytes | None) -> str | None:
    """Whole-document text: paragraphs joined by newlines (the same
    page_text convention the PDF path emits). None when the package
    or part does not parse."""
    return "\n".join(docx_paragraphs(docx_document_xml.__wrapped__(payload)))


def docx_paragraph_rows(media):
    """(media_id, payload) → one row per paragraph
    ``(media_id, para_index, text)`` via Arrow ``mapInPandas`` — the
    S1 scan shape for DOCX corpora; unparseable payloads emit no
    rows. One narrow stage, no shuffle; at 100 TB the stage is
    embarrassingly parallel per document exactly like
    ``pdf.extract_pages``."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("para_index", T.IntegerType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )

    def _paragraphs(mid, payload):
        xml = docx_document_xml(payload)
        if xml is None:
            return None
        return [(mid, i, t) for i, t in enumerate(docx_paragraphs(xml))]

    return kernel_rows(
        media, ("media_id", "payload"), _paragraphs, schema, spread=True
    )
