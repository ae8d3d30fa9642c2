"""Web-corpus ingestion: WARC record parsing as an Arrow stage.

The shape every LLM-pretraining text pipeline starts from: Common
Crawl ships as WARC files (ISO 28500) — concatenated records, each a
``WARC/1.x`` version line + CRLF-delimited named headers + blank line
+ ``Content-Length`` bytes of body + a two-CRLF record separator. A
100 TB crawl is millions of such members; the scalable read is
(shard_payload → record manifest) fan-out inside ``mapInPandas`` so
shard parsing parallelizes with the scan and bodies never route
through the driver.

Pure-Python byte parsing, no library — same honesty rules as
``sources/multimodal.py``: truncated or malformed records terminate
the walk (parsed prefix is returned), non-WARC payloads are None.

Reference contrast: the reference ingests one local PDF at a time
(data_ingestion.py:110-134); a web-scale corpus arrives as WARC shards
instead, and this module is that source done Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_ingestion_py_spark.sources.bits import bounded_decompress
from data_ingestion_py_spark.sources.spread import kernel_rows

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("rec_index", T.IntegerType(), False),
        T.StructField("warc_type", T.StringType(), False),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("content_length", T.LongType(), False),
        T.StructField("body", T.BinaryType(), False),
    ]
)


def warc_records(
    payload: bytes | None, max_records: int = 64
) -> list[tuple[str, str | None, int, bytes]] | None:
    """Walk a WARC payload into ``[(warc_type, target_uri,
    content_length, body_bytes), ...]``.

    Per ISO 28500: each record is ``WARC/`` version line, CRLF header
    lines (``name: value``, names case-insensitive), one blank line,
    exactly ``Content-Length`` body bytes, then CRLFCRLF before the
    next record. The walk stops at the first truncated or malformed
    record (parsed prefix is still returned — a torn tail shard yields
    its complete records, never garbage — the same truncate-don't-guess
    contract as the tar/Avro walkers); payloads that don't start with
    ``WARC/`` return None, and so does a FIRST record with a missing or
    non-integer Content-Length (the only format-recognition signal a
    magic-less framing offers); a later record with broken
    Content-Length truncates there, since every offset past it would be
    a guess."""
    if payload is None or not payload.startswith(b"WARC/"):
        return None
    out: list[tuple[str, str | None, int, bytes]] = []
    i = 0
    n = len(payload)
    while i < n and len(out) < max_records:
        if not payload.startswith(b"WARC/", i):
            break
        hdr_end = payload.find(b"\r\n\r\n", i)
        if hdr_end < 0:
            break  # truncated header
        lines = payload[i:hdr_end].decode("ascii", "replace").split("\r\n")
        fields: dict[str, str] = {}
        for line in lines[1:]:
            name, _, value = line.partition(":")
            fields[name.strip().lower()] = value.strip()
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError):
            clen = -1
        if clen < 0:
            # first record: not recognizably WARC. Later record:
            # truncate — offsets past a broken length are guesses.
            return None if not out else out
        body_off = hdr_end + 4
        if body_off + clen > n:
            break  # truncated body: keep the parsed prefix
        out.append(
            (
                fields.get("warc-type", ""),
                fields.get("warc-target-uri"),
                clen,
                payload[body_off : body_off + clen],
            )
        )
        i = body_off + clen
        if payload.startswith(b"\r\n\r\n", i):
            i += 4  # the spec's two-CRLF record separator
        elif i < n:
            break  # malformed separator: stop, keep prefix
    return out or None


WARC_GZ_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("member_index", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("comp_size", T.LongType(), False),
        T.StructField("decomp_size", T.LongType(), False),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
    ]
)


def warc_gz_members(
    payload: bytes | None,
    max_members: int = 64,
    max_member_bytes: int = 1 << 26,
) -> list[tuple[int, int, int, str | None, str | None, int | None]] | None:
    """Walk a ``.warc.gz`` shard — real Common Crawl framing: ONE gzip
    member per WARC record, concatenated — into ``[(offset, comp_size,
    decomp_size, warc_type, target_uri, content_length), ...]``.

    This is the byte-range PLAN for compressed crawl shards: gzip
    members are independently decompressible, so a 100 TB reader that
    knows each member's compressed offset+length can fetch and inflate
    exactly the records a query touches (the tar/MP4 sample-table
    pattern applied to the crawl corpus). Each member inflates through
    ``zlib.decompressobj(31)``, which VERIFIES the gzip trailer
    (CRC32 + ISIZE) — a corrupt member stops the walk at the last
    verified boundary. The WARC header fields come from the inflated
    bytes via ``warc_records``; a member that gunzips but isn't a WARC
    record keeps its exact byte-range row with null WARC fields (the
    framing is self-delimiting — offsets are never guesses).

    Corruption contract, matching the other walkers: payloads that
    don't start with the gzip magic return None; a torn tail member
    (truncated stream, bad CRC, or one inflating past
    ``max_member_bytes`` — the zip-bomb guard) truncates the walk,
    returning the verified prefix."""
    import zlib

    if payload is None or len(payload) < 18 or payload[:2] != b"\x1f\x8b":
        return None
    out: list[
        tuple[int, int, int, str | None, str | None, int | None]
    ] = []
    i, n = 0, len(payload)
    while i < n and len(out) < max_members:
        # 10-byte header + 8-byte trailer is the minimum member
        if (
            not payload.startswith(b"\x1f\x8b", i)
            or i + 18 > n
            or payload[i + 2] != 8  # CM must be deflate
        ):
            break
        d = zlib.decompressobj(31)
        data = bounded_decompress(d, payload[i:], max_member_bytes)
        if data is None or not d.eof:
            # corrupt stream / CRC / ISIZE, truncated tail member, or
            # zip-bomb guard tripped: keep the verified prefix
            break
        comp = (n - i) - len(d.unused_data)
        recs = warc_records(data, max_records=1)
        wtype, uri, clen = recs[0][:3] if recs else (None, None, None)
        out.append((i, comp, len(data), wtype, uri, clen))
        i += comp
    return out or None


def warc_gz_manifest(media: DataFrame, max_members: int = 64) -> DataFrame:
    """(media_id, payload) → one row per gzip member of a ``.warc.gz``
    shard (exact compressed byte range + inflated WARC header fields)
    via Arrow ``mapInPandas`` — the split plan for compressed crawl
    shards; non-gzip payloads emit no rows."""

    def _members(mid, payload):
        members = warc_gz_members(payload, max_members) or ()
        return [(mid, mi, *m) for mi, m in enumerate(members)]

    return kernel_rows(
        media, ("media_id", "payload"), _members, WARC_GZ_MEMBER_SCHEMA
    )


def warc_manifest(media: DataFrame, max_records: int = 64) -> DataFrame:
    """(media_id, payload) → one row per WARC record (type, target
    URI, declared length, body bytes) via Arrow ``mapInPandas`` — the
    shard fan-out a crawl-scale corpus read needs: shards parse in
    parallel with the scan, unparseable payloads emit no rows."""

    def _records(mid, payload):
        recs = warc_records(payload, max_records) or ()
        return [(mid, ri, *r) for ri, r in enumerate(recs)]

    return kernel_rows(
        media, ("media_id", "payload"), _records, WARC_RECORD_SCHEMA
    )
