"""Archive-shard ingestion: tar member manifests as an Arrow stage.

WebDataset — the de-facto layout for multimodal training corpora —
ships samples as tar shards (image/caption/metadata members side by
side); a 100 TB corpus is tens of thousands of such shards. The
scalable read is (shard payload → member manifest) fan-out inside
``mapInPandas``: each member's (name, size, absolute byte offset)
comes from a pure header walk, so downstream readers issue exact
byte-range GETs for just the members they want — the tar sibling of
``sources/multimodal.mp4_sample_plan``.

Pure-Python byte parsing of the POSIX ustar format, no library, with
the header checksum actually verified — a corrupted shard surfaces as
a truncated manifest, never as garbage offsets.

Reference contrast: the reference reads one local PDF per call
(data_ingestion.py:110-134); sharded-archive corpora are the
at-scale counterpart of that directory-of-files model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_ingestion_py_spark.sources.bits import (
    Refused,
    Truncated,
    bounded_decompress,
    decompress_members,
    none_on_refusal,
    read_varint,
    zigzag,
)
from data_ingestion_py_spark.sources.spread import kernel_rows

TAR_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("byte_offset", T.LongType(), False),
        T.StructField("typeflag", T.StringType(), False),
    ]
)


def _octal(field: bytes) -> int | None:
    """Parse a tar octal number field (NUL/space terminated)."""
    s = field.split(b"\0")[0].strip(b" ")
    if not s:
        return None
    try:
        return int(s, 8)
    except ValueError:
        return None


def tar_members(
    payload: bytes | None, max_members: int = 256
) -> list[tuple[str, int, int, str]] | None:
    """Walk a POSIX ustar payload into ``[(name, size, data_offset,
    typeflag), ...]``.

    Per the ustar spec: 512-byte header blocks (name at 0:100
    NUL-terminated, size at 124:136 octal, checksum at 148:156 octal
    computed with its own field as 8 spaces, typeflag at 156, magic
    ``ustar`` at 257), each followed by the member data padded to a
    512-byte boundary; the archive ends at a zero block. The checksum
    is VERIFIED — a header whose stored checksum doesn't match the
    recomputed byte sum terminates the walk (parsed prefix returned),
    so bit rot in a shard can't emit wrong offsets. Non-tar payloads
    (bad magic in the first header) return None."""
    if payload is None or len(payload) < 512:
        return None
    out: list[tuple[str, int, int, str]] = []
    i = 0
    n = len(payload)
    while i + 512 <= n and len(out) < max_members:
        hdr = payload[i : i + 512]
        if hdr == b"\0" * 512:
            break  # end-of-archive marker
        if hdr[257:262] != b"ustar":
            return None if not out else out
        size = _octal(hdr[124:136])
        stored = _octal(hdr[148:156])
        if size is None or stored is None:
            break
        summed = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if summed != stored:
            break  # corrupted header: truncate, never guess
        name = hdr[:100].split(b"\0")[0].decode("utf-8", "replace")
        typeflag = chr(hdr[156]) if hdr[156] else "0"
        data_off = i + 512
        if data_off + size > n:
            break  # truncated member
        out.append((name, size, data_off, typeflag))
        i = data_off + ((size + 511) // 512) * 512
    return out or None


def tar_manifest(media: DataFrame, max_members: int = 256) -> DataFrame:
    """(media_id, payload) → one row per tar member (name, size,
    absolute byte offset, typeflag) via Arrow ``mapInPandas`` — the
    WebDataset-shard manifest: shards parse in parallel with the scan,
    members become addressable by byte range, unparseable payloads
    emit no rows."""

    return kernel_rows(
        media,
        ("media_id", "payload"),
        lambda mid, p: [(mid, *m) for m in tar_members(p, max_members) or ()],
        TAR_MEMBER_SCHEMA,
    )


ZIP_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("method", T.IntegerType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("compressed_size", T.LongType(), False),
        T.StructField("byte_offset", T.LongType(), False),
    ]
)


@none_on_refusal
def zip_members(
    payload: bytes | None, max_members: int = 256
) -> list[tuple[str, int, int, int, int]] | None:
    """Walk a ZIP payload into ``[(name, method, uncompressed_size,
    compressed_size, data_offset), ...]`` — the APPNOTE central
    directory read every zip lister does: locate the end-of-central-
    directory record (``PK\\x05\\x06``, scanned from the tail so a
    trailing comment is tolerated), walk the central headers
    (``PK\\x01\\x02``: method/sizes/name at fixed offsets, three
    variable-length tails), and resolve each member's DATA offset by
    reading its local header (``PK\\x03\\x04`` — its own name/extra
    lengths differ from the central copy in real archives). STORED
    (method 0) members are directly byte-addressable at the returned
    offset; compressed members still carry exact ranges for a decoder.
    Bad signatures, truncated directories, or out-of-range offsets
    return None — never guessed geometry."""
    if payload is None or len(payload) < 22:
        raise Refused("not a readable ZIP")
    n = len(payload)
    eocd = payload.rfind(b"PK\x05\x06", max(0, n - 22 - 65536))
    if eocd < 0 or eocd + 22 > n:
        raise Refused("not a readable ZIP")

    def u16(off: int) -> int:
        return int.from_bytes(payload[off : off + 2], "little")

    def u32(off: int) -> int:
        return int.from_bytes(payload[off : off + 4], "little")

    count = u16(eocd + 10)
    cd_off = u32(eocd + 16)
    out: list[tuple[str, int, int, int, int]] = []
    i = cd_off
    for _ in range(min(count, max_members)):
        if i + 46 > n or payload[i : i + 4] != b"PK\x01\x02":
            raise Refused("not a readable ZIP")
        method = u16(i + 10)
        comp = u32(i + 20)
        uncomp = u32(i + 24)
        nlen, xlen, clen = u16(i + 28), u16(i + 30), u16(i + 32)
        local_off = u32(i + 42)
        if i + 46 + nlen > n:
            raise Refused("not a readable ZIP")
        name = payload[i + 46 : i + 46 + nlen].decode("utf-8", "replace")
        if local_off + 30 > n or payload[local_off : local_off + 4] != (
            b"PK\x03\x04"
        ):
            raise Refused("not a readable ZIP")
        lnlen = u16(local_off + 26)
        lxlen = u16(local_off + 28)
        data_off = local_off + 30 + lnlen + lxlen
        if data_off + comp > n:
            raise Refused("not a readable ZIP")
        out.append((name, method, uncomp, comp, data_off))
        i += 46 + nlen + xlen + clen
    if not out:
        raise Refused("no ZIP members")
    return out


def zip_manifest(media: DataFrame, max_members: int = 256) -> DataFrame:
    """(media_id, payload) → one row per ZIP member (name, method,
    sizes, absolute data offset) via Arrow ``mapInPandas`` — the same
    shard fan-out as ``tar_manifest`` for zip-packaged corpora;
    unparseable payloads emit no rows."""

    return kernel_rows(
        media,
        ("media_id", "payload"),
        lambda mid, p: [(mid, *m) for m in zip_members(p, max_members) or ()],
        ZIP_MEMBER_SCHEMA,
    )


def _build_crc32c_table() -> list[int]:
    poly = 0x82F63B78  # reflected Castagnoli
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _build_crc32c_table()


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) — the checksum TFRecord framing uses
    (zlib's crc32 is the wrong polynomial). Table-driven, pure
    Python."""
    c = 0xFFFFFFFF
    tab = _CRC32C_TABLE
    for b in data:
        c = tab[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's masked CRC: rotate right 15 and add the mask
    constant (TensorFlow record_writer.cc)."""
    c = crc32c(data)
    return (((c >> 15) | ((c << 17) & 0xFFFFFFFF)) + 0xA282EAD8) & 0xFFFFFFFF


TFRECORD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("rec_index", T.IntegerType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("byte_offset", T.LongType(), False),
    ]
)


def tfrecord_records(
    payload: bytes | None, max_records: int = 256, verify: bool = True
) -> list[tuple[int, int, int]] | None:
    """Walk a TFRecord shard into ``[(index, length, data_offset),
    ...]`` — the framing TensorFlow training shards use: per record, a
    little-endian uint64 length, the masked CRC-32C of those 8 length
    bytes, the data, and the masked CRC-32C of the data. With
    ``verify=True`` both checksums are checked — the format has no
    magic, so the length CRC is also the only way to RECOGNIZE a
    TFRecord (junk fails the first record → None; corruption mid-shard
    truncates the manifest, parsed prefix returned). ``verify=False``
    trusts the framing (structural bounds still guard the walk) and
    skips the per-byte CRC cost — the at-scale listing mode when
    integrity is checked elsewhere."""
    if payload is None or len(payload) < 16:
        return None
    n = len(payload)
    out: list[tuple[int, int, int]] = []
    i = 0
    while i + 12 <= n and len(out) < max_records:
        length = int.from_bytes(payload[i : i + 8], "little")
        data_off = i + 12
        if length > n or data_off + length + 4 > n:
            break  # truncated or absurd framing
        if verify:
            stored_len_crc = int.from_bytes(
                payload[i + 8 : i + 12], "little"
            )
            if masked_crc32c(payload[i : i + 8]) != stored_len_crc:
                break
            stored_data_crc = int.from_bytes(
                payload[data_off + length : data_off + length + 4], "little"
            )
            if (
                masked_crc32c(payload[data_off : data_off + length])
                != stored_data_crc
            ):
                break
        out.append((len(out), length, data_off))
        i = data_off + length + 4
    return out or None


def tfrecord_manifest(
    media: DataFrame, max_records: int = 256, verify: bool = True
) -> DataFrame:
    """(media_id, payload) → one row per TFRecord (index, declared
    length, absolute data offset) via Arrow ``mapInPandas`` — the
    TFRecord sibling of ``tar_manifest``; unparseable payloads emit no
    rows."""

    def _records(mid, payload):
        recs = tfrecord_records(payload, max_records, verify)
        return [(mid, *r) for r in recs or ()]

    return kernel_rows(
        media, ("media_id", "payload"), _records, TFRECORD_SCHEMA
    )


def _zigzag_varint(payload: bytes, i: int) -> tuple[int, int]:
    """Zigzag-varint long (Avro ``long``, thrift-compact i16/i32/i64)
    at offset ``i`` → (value, next_offset); ``Refused`` on truncation
    or overlong (>10 byte) encodings."""
    u, i = read_varint(payload, i)
    return zigzag(u), i


AVRO_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("block_index", T.IntegerType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("byte_offset", T.LongType(), False),
    ]
)


@none_on_refusal
def avro_blocks(
    payload: bytes | None, max_blocks: int = 256
) -> dict | None:
    """Walk an Avro Object Container File into its BLOCK manifest —
    the split/plan unit Avro readers parallelize by — without the
    reader library: ``{"codec": str, "blocks": [(index, n_records,
    byte_size, data_offset), ...]}``.

    Per the Avro spec: magic ``Obj\\x01``, a string→bytes metadata map
    (map encoding: zigzag-varint entry count per map block — a
    NEGATIVE count means |count| entries preceded by a byte-size long
    — terminated by count 0), a 16-byte sync marker, then data blocks
    of (record-count varint, byte-size varint, data, sync). Every
    block's trailing sync is VERIFIED against the file's marker — a
    mismatch (corruption / mis-sized block) truncates the manifest
    rather than emitting wrong offsets. The codec is read from
    ``avro.codec`` (absent = null). Non-Avro payloads return None."""
    if payload is None or len(payload) < 20 or payload[:4] != b"Obj\x01":
        return None
    n = len(payload)
    i = 4
    codec = "null"
    while True:  # metadata map blocks
        count, i = _zigzag_varint(payload, i)
        if count == 0:
            break
        if count < 0:  # block-size form: |count| entries, size long first
            count = -count
            _, i = _zigzag_varint(payload, i)
        for _ in range(count):
            klen, i = _zigzag_varint(payload, i)
            if klen < 0 or i + klen > n:
                return None
            key = payload[i : i + klen]
            i += klen
            vlen, i = _zigzag_varint(payload, i)
            if vlen < 0 or i + vlen > n:
                return None
            if key == b"avro.codec":
                codec = payload[i : i + vlen].decode("ascii", "replace")
            i += vlen
    if i + 16 > n:
        return None
    sync = payload[i : i + 16]
    i += 16
    blocks: list[tuple[int, int, int, int]] = []
    while i < n and len(blocks) < max_blocks:
        try:
            n_recs, j = _zigzag_varint(payload, i)
            size, j = _zigzag_varint(payload, j)
        except Refused:
            break  # torn block header: the manifest ends before it
        if n_recs < 0 or size < 0 or j + size + 16 > n:
            break  # truncated block
        if payload[j + size : j + size + 16] != sync:
            break  # sync mismatch: corruption, never guess
        blocks.append((len(blocks), n_recs, size, j))
        i = j + size + 16
    return {"codec": codec, "blocks": blocks} if blocks else None


def avro_block_manifest(media: DataFrame, max_blocks: int = 256) -> DataFrame:
    """(media_id, payload) → one row per Avro data block (record
    count, byte size, absolute data offset) via Arrow ``mapInPandas``
    — the split plan an Avro source builds before any record decode;
    unparseable payloads emit no rows."""

    def _blocks(mid, payload):
        tab = avro_blocks(payload, max_blocks)
        return None if tab is None else [(mid, *b) for b in tab["blocks"]]

    return kernel_rows(
        media, ("media_id", "payload"), _blocks, AVRO_BLOCK_SCHEMA
    )


def _tc_in(payload: bytes, end: int) -> int:
    """``end`` when it lies inside ``payload``, else ``Truncated``."""
    if end > len(payload):
        raise Truncated
    return end


def _tc_skip(payload: bytes, i: int, ftype: int) -> int:
    """Skip one thrift-compact value of wire type ``ftype``; returns
    the offset past it, ``Refused`` on truncation/unknown type. Knowing
    how to SKIP every type is what makes the targeted parquet walk
    forward-compatible: new footer fields pass through untouched."""
    if ftype in (1, 2):  # BOOLEAN_TRUE / BOOLEAN_FALSE: value in type
        return i
    if ftype == 3:  # BYTE
        return _tc_in(payload, i + 1)
    if ftype in (4, 5, 6):  # I16 / I32 / I64: zigzag varint
        return _zigzag_varint(payload, i)[1]
    if ftype == 7:  # DOUBLE: fixed 8 bytes
        return _tc_in(payload, i + 8)
    if ftype == 8:  # BINARY: varint length + bytes
        ln, i = read_varint(payload, i)
        return _tc_in(payload, i + ln)
    if ftype in (9, 10):  # LIST / SET
        if i >= len(payload):
            raise Truncated
        hdr = payload[i]
        i += 1
        size = hdr >> 4
        etype = hdr & 0x0F
        if size == 15:
            size, i = read_varint(payload, i)
        if size > len(payload) - i:
            # Every element consumes >= 1 byte (bool COLLECTION
            # elements occupy one 0x01/0x02 byte each, unlike bool
            # FIELDS whose value lives in the type header), so a
            # declared size beyond the remaining bytes is corruption,
            # not data — and the bound keeps a crafted huge count from
            # spinning the loop.
            raise Refused("collection size beyond the data")
        if etype in (1, 2):
            return i + size  # one byte per bool element, bound-checked
        for _ in range(size):
            i = _tc_skip(payload, i, etype)
        return i
    if ftype == 11:  # MAP: varint size, then key/val type byte + pairs
        size, i = read_varint(payload, i)
        if size == 0:
            return i
        if i >= len(payload):
            raise Truncated
        kv = payload[i]
        i += 1
        if size > len(payload) - i:
            # each pair consumes >= 2 bytes (bool keys/values occupy
            # one byte each inside collections — see the LIST guard)
            raise Refused("map size beyond the data")

        def _elem(j: int, t: int) -> int:
            if t in (1, 2):  # bool collection element: one byte
                return _tc_in(payload, j + 1)
            return _tc_skip(payload, j, t)

        for _ in range(size):
            i = _elem(i, kv >> 4)
            i = _elem(i, kv & 0x0F)
        return i
    if ftype == 12:  # STRUCT: fields until STOP
        return _tc_skip_struct(payload, i)
    raise Refused("unknown thrift-compact type")


def _tc_fields(payload: bytes, i: int):
    """Iterate a thrift-compact struct's fields: yields (field_id,
    wire_type, value_offset) and finally ("stop", end_offset). The
    caller either consumes the value (and reports where it ended via
    send()) — or the generator skips it."""
    fid = 0
    n = len(payload)
    while i < n:
        hdr = payload[i]
        i += 1
        if hdr == 0:
            yield None, 0, i  # STOP
            return
        ftype = hdr & 0x0F
        delta = hdr >> 4
        if delta:
            fid += delta
        else:
            try:
                fid, i = _zigzag_varint(payload, i)
            except Refused:
                return  # a torn field header ends the walk
        consumed = yield fid, ftype, i
        if consumed is not None:
            i = consumed
            yield None  # resume the send()
        else:
            try:
                i = _tc_skip(payload, i, ftype)
            except Refused:
                return  # so does a value that cannot be skipped
    return


def _tc_skip_struct(payload: bytes, i: int) -> int:
    for fid, ftype, off in _tc_fields(payload, i):
        if fid is None:
            return off
    raise Truncated


@none_on_refusal
def parquet_row_groups(payload: bytes | None) -> dict | None:
    """REAL parquet footer walk — the row-group manifest WITHOUT the
    parquet reader: parse the thrift-compact FileMetaData from the
    footer (``...metadata | u32-LE length | "PAR1"``) and return
    ``{"num_rows": total, "row_groups": [(index, num_rows,
    total_byte_size, n_columns), ...]}`` — the split plan every
    parquet scan starts from, here from nothing but bytes.

    Targeted extraction (FileMetaData field 3 num_rows, field 4
    row_groups; RowGroup fields 1 columns / 2 total_byte_size /
    3 num_rows) over a GENERIC thrift-compact skipper, so unknown or
    future footer fields (statistics, encryption, bloom offsets…) pass
    through untouched. Truncated or non-parquet payloads return None —
    never guessed geometry."""
    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"PAR1"
        or payload[-4:] != b"PAR1"
    ):
        return None
    mlen = int.from_bytes(payload[-8:-4], "little")
    start = len(payload) - 8 - mlen
    if start < 4:
        return None

    num_rows = None
    row_groups: list[tuple[int, int, int, int]] = []

    def _parse_row_group(i: int) -> int:
        n_cols = 0
        rg_bytes = None
        rg_rows = None
        gen = _tc_fields(payload, i)
        for fid, ftype, off in gen:
            if fid is None:
                if rg_bytes is None or rg_rows is None:
                    raise Refused("row group without size or row count")
                row_groups.append(
                    (len(row_groups), rg_rows, rg_bytes, n_cols)
                )
                return off
            if fid == 1 and ftype == 9:  # columns list<ColumnChunk>
                if off >= len(payload):
                    raise Truncated
                hdr = payload[off]
                j = off + 1
                size = hdr >> 4
                etype = hdr & 0x0F
                if size == 15:
                    size, j = read_varint(payload, j)
                if etype != 12 or size > len(payload) - j:
                    # ColumnChunk elements are structs (>= 1 byte each);
                    # anything else — including a declared size beyond
                    # the remaining bytes, which would also overflow the
                    # int32 n_columns column — is corruption.
                    raise Refused("columns list")
                n_cols = size
                for _ in range(size):
                    j = _tc_skip(payload, j, etype)
                gen.send(j)
            elif fid == 2 and ftype == 6:
                rg_bytes, j = _zigzag_varint(payload, off)
                gen.send(j)
            elif fid == 3 and ftype == 6:
                rg_rows, j = _zigzag_varint(payload, off)
                gen.send(j)
        raise Truncated

    gen = _tc_fields(payload, start)
    for fid, ftype, off in gen:
        if fid is None:
            break
        if fid == 3 and ftype == 6:  # FileMetaData.num_rows
            num_rows, j = _zigzag_varint(payload, off)
            gen.send(j)
        elif fid == 4 and ftype == 9:  # row_groups list<RowGroup>
            if off >= len(payload):
                return None
            hdr = payload[off]
            j = off + 1
            size = hdr >> 4
            etype = hdr & 0x0F
            if size == 15:
                size, j = read_varint(payload, j)
            if etype != 12 or size > len(payload) - j:
                return None
            for _ in range(size):
                j = _parse_row_group(j)
            gen.send(j)
    if num_rows is None or not row_groups:
        return None
    return {"num_rows": num_rows, "row_groups": row_groups}


PARQUET_RG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("row_group_id", T.IntegerType(), False),
        T.StructField("num_rows", T.LongType(), False),
        T.StructField("total_byte_size", T.LongType(), False),
        T.StructField("n_columns", T.IntegerType(), False),
    ]
)


def parquet_rg_manifest(media: DataFrame) -> DataFrame:
    """(media_id, payload) → one row per parquet row group via Arrow
    ``mapInPandas`` — the split plan for a directory of parquet files
    read as opaque binaries (federation / audit / foreign-layout
    scenarios); unparseable payloads emit no rows."""

    def _row_groups(mid, payload):
        tab = parquet_row_groups(payload)
        return None if tab is None else [(mid, *g) for g in tab["row_groups"]]

    return kernel_rows(
        media, ("media_id", "payload"), _row_groups, PARQUET_RG_SCHEMA
    )


SAFETENSORS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("tensor_name", T.StringType(), False),
        T.StructField("dtype", T.StringType(), False),
        T.StructField("shape", T.ArrayType(T.LongType()), False),
        T.StructField("begin", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
    ]
)


def safetensors_index(payload: bytes | None) -> list[tuple] | None:
    """Parse a safetensors payload's header — the format model weights
    and embedding shards ship in: a little-endian uint64 header
    length, then a JSON object mapping tensor name → {dtype, shape,
    data_offsets:[begin, end]} (offsets relative to the byte after the
    header). Returns ``[(name, dtype, shape, abs_begin, abs_end), ...]``
    sorted by name — absolute offsets, so a reader byte-range-fetches
    exactly the tensors it wants out of a multi-GB shard. The optional
    ``__metadata__`` entry is skipped. Truncated headers, non-JSON,
    malformed entries, or offsets past the payload return None."""
    if payload is None or len(payload) < 9:
        return None
    hlen = int.from_bytes(payload[:8], "little")
    if hlen <= 0 or 8 + hlen > len(payload):
        return None
    import json

    try:
        header = json.loads(payload[8 : 8 + hlen].decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError):
        return None
    if not isinstance(header, dict):
        return None
    base = 8 + hlen
    out = []
    for name, spec in header.items():
        if name == "__metadata__":
            continue
        try:
            dtype = spec["dtype"]
            shape = [int(x) for x in spec["shape"]]
            begin, end = (int(x) for x in spec["data_offsets"])
        except (TypeError, KeyError, ValueError):
            return None
        if not (
            isinstance(dtype, str)
            and 0 <= begin <= end
            and base + end <= len(payload)
        ):
            return None
        out.append((name, dtype, shape, base + begin, base + end))
    return sorted(out) or None


def safetensors_manifest(media: DataFrame) -> DataFrame:
    """(media_id, payload) → one row per tensor (name, dtype, shape,
    absolute byte range) via Arrow ``mapInPandas``; unparseable
    payloads emit no rows."""

    return kernel_rows(
        media,
        ("media_id", "payload"),
        lambda mid, p: [(mid, *t) for t in safetensors_index(p) or ()],
        SAFETENSORS_SCHEMA,
    )


def npy_header(payload: bytes | None) -> dict | None:
    """Parse a NumPy ``.npy`` header — magic ``\\x93NUMPY``, version,
    little-endian header length (u16 for v1, u32 for v2+), then the
    dict literal ``{'descr': ..., 'fortran_order': ..., 'shape':
    (...)}``. Returns ``{"descr", "fortran_order", "shape",
    "data_offset"}`` — enough to byte-range-read any slice of an
    embedding matrix shipped as .npy. Parsed with ast.literal_eval
    (the header is a Python literal by spec, never eval'd as code).
    Malformed or truncated payloads return None."""
    if payload is None or len(payload) < 10 or payload[:6] != b"\x93NUMPY":
        return None
    major = payload[6]
    if major >= 2:
        if len(payload) < 12:
            return None
        hlen = int.from_bytes(payload[8:12], "little")
        start = 12
    else:
        hlen = int.from_bytes(payload[8:10], "little")
        start = 10
    if start + hlen > len(payload):
        return None
    import ast

    try:
        d = ast.literal_eval(payload[start : start + hlen].decode("latin-1"))
    except (ValueError, SyntaxError, UnicodeDecodeError):
        return None
    if not isinstance(d, dict) or not {
        "descr", "fortran_order", "shape"
    } <= set(d):
        return None
    if not isinstance(d["shape"], tuple):
        return None
    return {
        "descr": d["descr"] if isinstance(d["descr"], str) else None,
        "fortran_order": bool(d["fortran_order"]),
        "shape": [int(x) for x in d["shape"]],
        "data_offset": start + hlen,
    }


# ---------------------------------------------------------------------------
# ORC — postscript/footer walk + stripe split plan (ORC v1 spec, public)
# ---------------------------------------------------------------------------

_ORC_COMPRESSION = {
    0: "none",
    1: "zlib",
    2: "snappy",
    3: "lzo",
    4: "lz4",
    5: "zstd",
}


def _pb_fields(payload: bytes, start: int, end: int):
    """Iterate protobuf fields of the message at ``payload[start:end]``
    as ``(field_no, wire_type, value)`` — varints decoded, length-
    delimited fields yielded as (offset, length) into ``payload``,
    fixed32/fixed64 skipped with their exact width (the forward-
    compatible walk: unknown fields never desync known ones). Yields
    nothing further on any malformed field: the varint reads are
    bounded at 10 bytes and at ``end``, so a crafted footer can
    neither run away nor read past its message."""
    i = start
    while i < end:
        try:
            key, i = read_varint(payload, i, end)
            fno, wt = key >> 3, key & 7
            if wt in (0, 2):  # a varint value, or a length
                v, i = read_varint(payload, i, end)
        except Refused:
            return
        if wt == 0:
            yield fno, wt, v
        elif wt == 2:
            if i + v > end:
                return
            yield fno, wt, (i, v)
            i += v
        elif wt == 1:
            if i + 8 > end:
                return
            yield fno, wt, None
            i += 8
        elif wt == 5:
            if i + 4 > end:
                return
            yield fno, wt, None
            i += 4
        else:
            return  # groups (3/4) are not valid in ORC protos


def _orc_decompress(
    payload: bytes,
    start: int,
    length: int,
    kind: str,
    max_bytes: int = 1 << 26,
) -> bytes:
    """Inflate an ORC compressed STREAM (footer/metadata/stripe-footer):
    a sequence of chunks, each with a 3-byte little-endian header
    ``(chunk_length << 1) | is_original`` — original chunks are stored
    raw, others decompress per the postscript's compression kind (raw
    deflate for ZLIB via stdlib; snappy via pyarrow with the exact size
    read from snappy's own leading varint; LZ4 block via the pure
    decoder in sources/shards; zstd via the FCS-aware frame kernel).
    ``kind == 'none'`` streams are not chunk-framed at all. Unknown
    codecs (lzo) or any undecodable chunk → ``Refused``."""
    if kind == "none":
        return payload[start : start + length]
    out = bytearray()
    i, end = start, start + length
    while i < end:
        if i + 3 > end:
            raise Truncated
        hdr = int.from_bytes(payload[i : i + 3], "little")
        clen = hdr >> 1
        i += 3
        if i + clen > end or len(out) + clen > max_bytes:
            raise Refused("ORC chunk past its stream or the cap")
        chunk = payload[i : i + clen]
        i += clen
        if hdr & 1:  # is_original: stored raw
            out += chunk
            continue
        if kind == "zlib":
            import zlib

            piece = bounded_decompress(
                zlib.decompressobj(-15), chunk, max_bytes - len(out)
            )
            if piece is None:
                raise Refused("undecodable or over-cap deflate chunk")
        elif kind == "snappy":
            size, _ = read_varint(chunk, 0)  # snappy leads with its size
            if size > max_bytes - len(out):
                raise Refused("snappy length over the cap")
            import pyarrow as pa

            try:
                piece = bytes(pa.Codec("snappy").decompress(chunk, size))
            except Exception:
                raise Refused("undecodable snappy chunk") from None
        elif kind == "lz4":
            from data_ingestion_py_spark.sources.shards import (
                lz4_block_decompress,
            )

            piece = lz4_block_decompress.__wrapped__(
                chunk, max_bytes - len(out)
            )
        elif kind == "zstd":
            from data_ingestion_py_spark.sources.shards import (
                zstd_frame_decompress,
            )

            piece = zstd_frame_decompress.__wrapped__(
                bytes(chunk), 0, max_bytes - len(out)
            )
        else:
            raise Refused(f"ORC compression {kind}")
        out += piece
        if len(out) > max_bytes:
            raise Refused("ORC stream over the cap")
    return bytes(out)


@none_on_refusal
def orc_file_info(payload: bytes | None, max_stripes: int = 4096):
    """Walk an ORC file TAIL-FIRST — the reader pattern the format is
    designed for: last byte = postscript length; the (never-compressed)
    postscript protobuf gives the footer length and compression kind;
    the footer protobuf gives row count, the type tree, and the STRIPE
    DIRECTORY. Returns ``{"n_rows", "compression", "n_stripes",
    "n_types", "field_names", "content_length", "stripes": [(offset,
    index_length, data_length, footer_length, n_rows), ...]}``.

    The stripe directory IS the split plan: ORC stripes are
    independently readable (each carries its own indexes, data, and
    footer), so these byte ranges are exactly what a 1000-executor
    scheduler fans out — the parquet row-group walk
    (``parquet_row_groups``) re-expressed for the other columnar
    format. Pinned in pytest against files written by pyarrow's C++
    ORC writer at every compression kind it ships.

    Corruption contract: missing 'ORC' magic in the postscript → None;
    truncated/malformed protobufs, a footer that overruns the file, or
    an undecodable compressed footer → None (tail-first walks have no
    verified prefix to keep)."""
    if payload is None or len(payload) < 5:
        return None
    n = len(payload)
    ps_len = payload[-1]
    if ps_len == 0 or 1 + ps_len > n:
        return None
    ps_start = n - 1 - ps_len
    footer_len = 0
    metadata_len = 0
    kind_code = 0
    magic_ok = False
    for fno, wt, v in _pb_fields(payload, ps_start, n - 1):
        if fno == 1 and wt == 0:
            footer_len = v
        elif fno == 2 and wt == 0:
            kind_code = v
        elif fno == 5 and wt == 0:
            metadata_len = v
        elif fno == 8000 and wt == 2:
            off, ln = v
            magic_ok = payload[off : off + ln] == b"ORC"
    if not magic_ok:
        return None
    kind = _ORC_COMPRESSION.get(kind_code)
    if kind is None:
        return None
    footer_start = ps_start - footer_len
    if footer_start < 3 or footer_len == 0:
        return None
    footer = _orc_decompress(payload, footer_start, footer_len, kind)
    info = {
        "n_rows": 0,
        "compression": kind,
        "n_stripes": 0,
        "n_types": 0,
        "field_names": [],
        "content_length": 0,
        "metadata_length": metadata_len,
        "stripes": [],
    }
    first_type = True
    for fno, wt, v in _pb_fields(footer, 0, len(footer)):
        if fno == 2 and wt == 0:
            info["content_length"] = v
        elif fno == 6 and wt == 0:
            info["n_rows"] = v
        elif fno == 3 and wt == 2 and len(info["stripes"]) < max_stripes:
            off, ln = v
            stripe = [0, 0, 0, 0, 0]
            for sfno, swt, sv in _pb_fields(footer, off, off + ln):
                if swt == 0 and 1 <= sfno <= 5:
                    stripe[sfno - 1] = sv
            info["stripes"].append(tuple(stripe))
            info["n_stripes"] += 1
        elif fno == 4 and wt == 2:
            info["n_types"] += 1
            if first_type:  # top-level struct: its fieldNames = columns
                first_type = False
                off, ln = v
                for tfno, twt, tv in _pb_fields(footer, off, off + ln):
                    if tfno == 3 and twt == 2:
                        noff, nln = tv
                        try:
                            info["field_names"].append(
                                footer[noff : noff + nln].decode("utf-8")
                            )
                        except UnicodeDecodeError:
                            return None
    return info


ORC_STRIPE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("stripe_index", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("index_length", T.LongType(), False),
        T.StructField("data_length", T.LongType(), False),
        T.StructField("footer_length", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("file_rows", T.LongType(), False),
        T.StructField("compression", T.StringType(), False),
    ]
)


def orc_stripe_manifest(media: DataFrame, max_stripes: int = 4096) -> DataFrame:
    """(media_id, payload) → one row per ORC stripe (the byte-range
    split plan) plus the file-level row count and compression, via
    Arrow ``mapInPandas``. Non-ORC payloads emit no rows. Narrow
    stage, no shuffle."""

    def _stripes(mid, payload):
        info = orc_file_info(payload, max_stripes)
        if info is None:
            return None
        return [
            (mid, si, *stripe, info["n_rows"], info["compression"])
            for si, stripe in enumerate(info["stripes"])
        ]

    return kernel_rows(
        media, ("media_id", "payload"), _stripes, ORC_STRIPE_SCHEMA
    )


def avro_block_decompress(
    payload: bytes | None,
    data_offset: int,
    byte_size: int,
    codec: str,
    max_bytes: int = 1 << 26,
) -> bytes | None:
    """Decompress ONE Avro data block (located by ``avro_blocks``) per
    the spec's codec registry: ``null`` (raw), ``deflate`` (raw
    DEFLATE, no zlib wrapper), ``snappy`` (block + 4-byte BIG-endian
    CRC32 of the UNCOMPRESSED bytes — VERIFIED), ``zstandard`` (zstd
    frames via the FCS-aware pure/pyarrow kernel in sources/shards),
    ``bzip2`` and ``xz`` (stdlib decompressors, every stream, bounded by
    ``max_bytes``). Unknown codecs or any undecodable / checksum-failing
    block → None. Blocks decompress independently —
    with the ``avro_blocks`` byte ranges this is the executor-side
    half of the Avro split plan."""
    if payload is None or data_offset + byte_size > len(payload):
        return None
    raw = payload[data_offset : data_offset + byte_size]
    if codec == "null":
        return bytes(raw)
    if codec == "deflate":
        import zlib

        d = zlib.decompressobj(-15)
        out = bounded_decompress(d, raw, max_bytes)
        return out if out is not None and d.eof else None
    if codec == "snappy":
        if len(raw) < 4:
            return None
        import zlib

        body, crc = raw[:-4], int.from_bytes(raw[-4:], "big")
        try:
            size, _ = read_varint(body, 0)  # snappy leads with its size
        except Refused:
            return None
        if size > max_bytes:
            return None
        import pyarrow as pa

        try:
            out = bytes(pa.Codec("snappy").decompress(body, size))
        except Exception:
            return None
        return out if zlib.crc32(out) == crc else None
    if codec == "zstandard":
        from data_ingestion_py_spark.sources.shards import (
            zstd_decompress_all,
        )

        return zstd_decompress_all(bytes(raw), max_bytes)
    if codec == "bzip2":
        import bz2

        return decompress_members(bz2.BZ2Decompressor, raw, max_bytes)
    if codec == "xz":
        import lzma

        return decompress_members(lzma.LZMADecompressor, raw, max_bytes)
    return None
