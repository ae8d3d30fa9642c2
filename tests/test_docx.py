"""DOCX text extraction (sources/docx.py) pinned against stdlib
``zipfile``-written packages — an independent writer the module
shares zero code with — plus WordprocessingML shape coverage."""

from __future__ import annotations

import io
import zipfile

from data_ingestion_py_spark.plans import explain as E
from data_ingestion_py_spark.sources.docx import (
    docx_document_xml,
    docx_paragraphs,
    docx_text,
)

_XML_HEAD = (
    b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    b'<w:document xmlns:w="http://schemas.openxmlformats.org/'
    b'wordprocessingml/2006/main"><w:body>'
)
_XML_TAIL = b"</w:body></w:document>"


def _docx(xml_body: bytes, compress=zipfile.ZIP_DEFLATED,
          extra_parts: bool = True) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compress) as z:
        if extra_parts:
            z.writestr(
                "[Content_Types].xml",
                '<Types xmlns="http://schemas.openxmlformats.org/'
                'package/2006/content-types"/>',
            )
            z.writestr("_rels/.rels", "<Relationships/>")
        z.writestr(
            "word/document.xml", _XML_HEAD + xml_body + _XML_TAIL
        )
        if extra_parts:
            z.writestr("word/styles.xml", "<w:styles/>")
    return buf.getvalue()


def _p(*runs: bytes) -> bytes:
    return b'<w:p w:rsidR="00AB">' + b"".join(runs) + b"</w:p>"


def _r(text: bytes, preserve: bool = False) -> bytes:
    t = (
        b'<w:t xml:space="preserve">' if preserve else b"<w:t>"
    )
    return b'<w:r><w:rPr><w:b/></w:rPr>' + t + text + b"</w:t></w:r>"


def test_docx_text_extracts_paragraphs_runs_tabs_breaks():
    body = (
        _p(_r(b"Hello "), _r(b"world."))
        + _p(_r(b"col1"), b"<w:r><w:tab/></w:r>", _r(b"col2"),
             b"<w:r><w:br/></w:r>", _r(b"after break"))
        + b"<w:p/>"  # empty paragraph = real vertical space
        + _p(_r(b"5 &lt; 6 &amp; 7 &gt; 2", preserve=True))
        + _p(_r(b"caf&#233; &#x41;BC"))
    )
    for compress in (zipfile.ZIP_DEFLATED, zipfile.ZIP_STORED):
        doc = _docx(body, compress)
        assert docx_paragraphs(docx_document_xml(doc)) == [
            "Hello world.",
            "col1\tcol2\nafter break",
            "",
            "5 < 6 & 7 > 2",
            "café ABC",
        ]
        assert docx_text(doc) == (
            "Hello world.\ncol1\tcol2\nafter break\n\n"
            "5 < 6 & 7 > 2\ncafé ABC"
        )


def test_docx_honest_refusals():
    assert docx_text(None) is None
    assert docx_text(b"not a zip at all") is None
    # a valid zip WITHOUT the main document part
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/styles.xml", "<w:styles/>")
    assert docx_text(buf.getvalue()) is None
    # truncated member data: zip walk's range check refuses
    doc = _docx(_p(_r(b"x" * 400)))
    assert docx_text(doc[:-30]) is None
    # a corrupted DEFLATE stream refuses (flip a byte mid-member)
    doc = bytearray(_docx(_p(_r(b"y" * 400))))
    off = bytes(doc).find(b"word/document.xml", 0)  # local header name
    doc[off + 60] ^= 0xFF
    assert docx_text(bytes(doc)) is None


def test_docx_paragraph_rows_spark(spark):
    from pyspark.sql import functions as F

    from data_ingestion_py_spark.sources.docx import docx_paragraph_rows

    docs = [
        (0, _docx(_p(_r(b"alpha")) + _p(_r(b"beta")))),
        (1, _docx(_p(_r(b"gamma")))),
        (2, b"junk, emits nothing"),
    ]
    media = spark.createDataFrame(docs, "media_id long, payload binary")
    flat = docx_paragraph_rows(media)
    rows = sorted(
        (r.media_id, r.para_index, r.text) for r in flat.collect()
    )
    assert rows == [(0, 0, "alpha"), (0, 1, "beta"), (1, 0, "gamma")]
    # plan lint: one Arrow stage, no shuffle before the scan rows land
    exchanges = [n for n in E.nodes(flat) if "Exchange" in n.nodeName()]
    assert exchanges == [], E.executed_plan(flat)
    n = docx_paragraph_rows(
        media.withColumn("payload", F.lit(None).cast("binary"))
    ).count()
    assert n == 0
