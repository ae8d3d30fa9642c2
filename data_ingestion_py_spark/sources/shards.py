"""Compressed text-shard ingestion — the containers LLM corpora ship in.

The reference ingests one local file at a time (data_ingestion.py:110-134);
a 100 TB corpus arrives as compressed shards instead: ``.jsonl.zst`` /
``.jsonl.gz`` (Dolma, The Pile, RedPajama), ``.tar.zst`` (WebDataset),
raw ``.lz4`` / ``.bz2`` / ``.xz``. This module re-expresses that ingestion
surface the way ``sources/web.warc_gz_members`` and the tar/MP4 byte-range
plans do: HAND-WRITTEN FRAME WALKS produce exact compressed byte ranges
WITHOUT decompressing — zstd frames and (independence-flagged) LZ4 blocks
are independently decompressible, so a 1000-executor reader can split one
multi-GB shard at frame/block boundaries, fan the ranges out, and inflate
only the ranges a query touches. Decompression itself then runs
executor-side per range, inside narrow Arrow ``mapInPandas`` stages — no
shuffle anywhere in this module.

Decode kernels, in the established honest-seam order:

- LZ4 blocks: a PURE-BYTE decoder (``lz4_block_decompress`` — token walk,
  literal runs, 16-bit back-references with overlap-safe copy). No optional
  dependency; pinned in pytest against pyarrow's C encoder.
- zstd raw/RLE-block frames: pure byte walk (``_zstd_pure_decode``) — these
  are exactly the frames the planted column-algebra fixtures emit, so the
  oracle-gated queries decode with zero libraries.
- zstd compressed blocks: ``pyarrow.Codec("zstd")`` (baked into this
  container) when the frame carries its exact content size; frames
  WITHOUT a Frame_Content_Size field (streaming writers) decode through
  the r12 pure FSE/Huffman decoder (``sources/zstd_pure`` — RFC 8878
  complete), so the former no-FCS seam is closed.
- gzip / bz2 / xz: stdlib (``zlib``/``bz2``/``lzma``), multi-member gzip
  via the same trailer-verifying loop as the warc.gz walker.

Frame checksums are VERIFIED, not skipped: XXH32 (LZ4 header-checksum byte,
optional block and content checksums) and XXH64 low-32 (zstd content
checksum) are implemented in pure Python below and pinned two independent
ways in tests — the LZ4 header-checksum byte that pyarrow's C encoder
writes, and Spark's own ``F.xxhash64`` (XXH64 with seed 42 over binary
columns) — so a corrupt shard stops the walk at the last verified boundary
instead of shipping garbage downstream.

Corruption contract, matching every other walker in this repo: payloads
that don't start with a known magic return ``None``; a torn tail frame /
block / member truncates the walk to the verified prefix; regenerated
sizes are bounded (``max_content_bytes``) so a crafted shard cannot
zstd-bomb an executor.
"""

from __future__ import annotations


import struct
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from data_ingestion_py_spark.sources.bits import (
    Refused,
    Truncated,
    decompress_members,
    none_on_refusal,
)
from data_ingestion_py_spark.sources.spread import kernel_rows

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def _schema(*fields: tuple[str, "T.DataType", bool]) -> "T.StructType":
    return T.StructType([T.StructField(n, t, nul) for n, t, nul in fields])


JSONL_RECORD_SCHEMA = _schema(
    ("media_id", T.LongType(), False),
    ("line_index", T.IntegerType(), False),
    ("line_bytes", T.IntegerType(), False),
    ("json_ok", T.BooleanType(), False),
    ("rec_id", T.StringType(), True),
    ("n_text_chars", T.IntegerType(), True),
)

ZSTD_FRAME_SCHEMA = _schema(
    ("media_id", T.LongType(), False),
    ("frame_index", T.IntegerType(), False),
    ("offset", T.LongType(), False),
    ("comp_size", T.LongType(), False),
    ("content_size", T.LongType(), True),
    ("kind", T.StringType(), False),
    ("n_blocks", T.IntegerType(), False),
)

LZ4_BLOCK_SCHEMA = _schema(
    ("media_id", T.LongType(), False),
    ("frame_index", T.IntegerType(), False),
    ("block_index", T.IntegerType(), False),
    ("offset", T.LongType(), False),
    ("comp_size", T.LongType(), False),
    ("stored", T.BooleanType(), False),
)

CTAR_MEMBER_SCHEMA = _schema(
    ("media_id", T.LongType(), False),
    ("member_index", T.IntegerType(), False),
    ("name", T.StringType(), False),
    ("size", T.LongType(), False),
    ("typeflag", T.StringType(), False),
    ("byte_offset", T.LongType(), False),
)


# ---------------------------------------------------------------------------
# XXH32 / XXH64 — pure-Python, spec-exact (xxHash spec v0.7.x)
# ---------------------------------------------------------------------------

_M32 = 0xFFFFFFFF
_P32_1, _P32_2, _P32_3, _P32_4, _P32_5 = (
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
)
_M64 = 0xFFFFFFFFFFFFFFFF
_P64_1, _P64_2, _P64_3, _P64_4, _P64_5 = (
    11400714785074694791,
    14029467366897019727,
    1609587929392839161,
    9650029242287828579,
    2870177450012600261,
)


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh32(data: bytes, seed: int = 0) -> int:
    """XXH32 of ``data`` — verifies LZ4 frame header / block / content
    checksums. Pinned in pytest against the header-checksum byte that
    pyarrow's C LZ4 encoder emits (an independent C implementation)."""
    n = len(data)
    i = 0
    if n >= 16:
        a1 = (seed + _P32_1 + _P32_2) & _M32
        a2 = (seed + _P32_2) & _M32
        a3 = seed & _M32
        a4 = (seed - _P32_1) & _M32
        for i in range(0, n - 15, 16):
            l1, l2, l3, l4 = struct.unpack_from("<IIII", data, i)
            a1 = (_rotl32((a1 + l1 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a2 = (_rotl32((a2 + l2 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a3 = (_rotl32((a3 + l3 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a4 = (_rotl32((a4 + l4 * _P32_2) & _M32, 13) * _P32_1) & _M32
        i += 16
        acc = (
            _rotl32(a1, 1) + _rotl32(a2, 7) + _rotl32(a3, 12) + _rotl32(a4, 18)
        ) & _M32
    else:
        acc = (seed + _P32_5) & _M32
    acc = (acc + n) & _M32
    while i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        acc = (_rotl32((acc + lane * _P32_3) & _M32, 17) * _P32_4) & _M32
        i += 4
    while i < n:
        acc = (_rotl32((acc + data[i] * _P32_5) & _M32, 11) * _P32_1) & _M32
        i += 1
    acc ^= acc >> 15
    acc = (acc * _P32_2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P32_3) & _M32
    acc ^= acc >> 16
    return acc


def _xxh64_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _P64_2) & _M64, 31) * _P64_1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` — the zstd content checksum is its low 32 bits.
    Pinned in pytest against Spark's own ``F.xxhash64`` (XXH64, seed 42,
    over binary columns — an independent JVM implementation) plus the
    published empty/'abc' spec vectors."""
    n = len(data)
    i = 0
    if n >= 32:
        a1 = (seed + _P64_1 + _P64_2) & _M64
        a2 = (seed + _P64_2) & _M64
        a3 = seed & _M64
        a4 = (seed - _P64_1) & _M64
        for i in range(0, n - 31, 32):
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, i)
            a1 = _xxh64_round(a1, l1)
            a2 = _xxh64_round(a2, l2)
            a3 = _xxh64_round(a3, l3)
            a4 = _xxh64_round(a4, l4)
        i += 32
        acc = (
            _rotl64(a1, 1) + _rotl64(a2, 7) + _rotl64(a3, 12) + _rotl64(a4, 18)
        ) & _M64
        for lane in (a1, a2, a3, a4):
            acc = ((acc ^ _xxh64_round(0, lane)) * _P64_1 + _P64_4) & _M64
    else:
        acc = (seed + _P64_5) & _M64
    acc = (acc + n) & _M64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        acc = (_rotl64(acc ^ _xxh64_round(0, lane), 27) * _P64_1 + _P64_4) & _M64
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        acc = (_rotl64(acc ^ (lane * _P64_1) & _M64, 23) * _P64_2 + _P64_3) & _M64
        i += 4
    while i < n:
        acc = (_rotl64(acc ^ (data[i] * _P64_5) & _M64, 11) * _P64_1) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P64_2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P64_3) & _M64
    acc ^= acc >> 32
    return acc


# ---------------------------------------------------------------------------
# LZ4 — pure-byte block decoder + frame/block walk (spec: lz4_Frame_format)
# ---------------------------------------------------------------------------

LZ4_FRAME_MAGIC = 0x184D2204
_SKIPPABLE_LO, _SKIPPABLE_HI = 0x184D2A50, 0x184D2A5F


@none_on_refusal
def lz4_block_decompress(
    src: bytes,
    max_out: int = 1 << 26,
    prefix: bytes = b"",
) -> bytes | None:
    """Decode ONE raw LZ4 block — the pure-byte kernel: token byte
    (literal-length high nibble / match-length low nibble, 15 = extension
    bytes follow), literal run, 16-bit little-endian back-reference offset,
    match length + 4, overlap-safe copy (offset < length replays the just
    written bytes — the RLE idiom). ``prefix`` is the already-decoded
    history for block-DEPENDENT frames (back-references may reach into it).
    Malformed input (offset 0, reference before the window start, torn
    extension/literal run) or output past ``max_out`` returns None — the
    bomb guard. Pinned against pyarrow's C encoder in pytest."""
    out = bytearray(prefix)
    base = len(prefix)
    i, n = 0, len(src)
    while True:
        if i >= n:
            raise Truncated  # a block must end on a literals-only tail
        tok = src[i]
        i += 1
        lit = tok >> 4
        if lit == 15:
            while True:
                if i >= n:
                    raise Refused("malformed LZ4 block")
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n or len(out) - base + lit > max_out:
            raise Refused("malformed LZ4 block")
        out += src[i : i + lit]
        i += lit
        if i == n:
            return bytes(out[base:])  # last sequence carries no match
        if i + 2 > n:
            raise Refused("malformed LZ4 block")
        off = src[i] | (src[i + 1] << 8)
        i += 2
        if off == 0 or off > len(out):
            raise Refused("malformed LZ4 block")
        mlen = tok & 15
        if mlen == 15:
            while True:
                if i >= n:
                    raise Refused("malformed LZ4 block")
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        mlen += 4
        if len(out) - base + mlen > max_out:
            raise Refused("malformed LZ4 block")
        start = len(out) - off
        if off >= mlen:
            out += out[start : start + mlen]
        else:  # overlapping copy: byte-at-a-time replay, per spec
            for k in range(mlen):
                out.append(out[start + k])


@none_on_refusal
def lz4_frames(
    payload: bytes | None,
    max_frames: int | None = None,
) -> list[tuple[int, int, int | None, int, bool, bool]] | None:
    """Walk concatenated LZ4 frames into ``[(offset, comp_size,
    content_size, n_blocks, block_independent, has_content_checksum),
    ...]`` WITHOUT decompressing — the shard split plan. The one-byte
    header checksum (XXH32 of the descriptor, second byte) is VERIFIED;
    a frame whose descriptor doesn't hash is treated as the torn tail.
    Skippable frames (magic 0x184D2A5x) emit ``content_size`` None with
    ``n_blocks`` 0. Non-LZ4 payloads return None; a torn tail frame
    truncates the walk to the verified prefix."""
    if payload is None or len(payload) < 7:
        raise Refused("not an LZ4 shard")
    n = len(payload)

    def u32(o: int) -> int:
        return int.from_bytes(payload[o : o + 4], "little")

    first = u32(0)
    if first != LZ4_FRAME_MAGIC and not (
        _SKIPPABLE_LO <= first <= _SKIPPABLE_HI
    ):
        raise Refused("not an LZ4 shard")
    out: list[tuple[int, int, int | None, int, bool, bool]] = []
    i = 0
    while i + 4 <= n and (max_frames is None or len(out) < max_frames):
        magic = u32(i)
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if i + 8 > n or i + 8 + u32(i + 4) > n:
                break
            sz = u32(i + 4)
            out.append((i, 8 + sz, None, 0, True, False))
            i += 8 + sz
            continue
        if magic != LZ4_FRAME_MAGIC or i + 7 > n:
            break
        flg = payload[i + 4]
        bd = payload[i + 5]
        if flg >> 6 != 1 or flg & 2 or (bd >> 4) & 7 not in (4, 5, 6, 7):
            break  # bad version / reserved bit / block-max code
        indep = bool((flg >> 5) & 1)
        bcksum = bool((flg >> 4) & 1)
        has_csize = bool((flg >> 3) & 1)
        ccksum = bool((flg >> 2) & 1)
        has_dict = bool(flg & 1)
        j = i + 6
        content: int | None = None
        if has_csize:
            if j + 8 > n:
                break
            content = int.from_bytes(payload[j : j + 8], "little")
            j += 8
        if has_dict:
            j += 4
        if j >= n:
            break
        hc = payload[j]
        if hc != (xxh32(payload[i + 4 : j]) >> 8) & 0xFF:
            break  # header checksum mismatch: torn/corrupt tail
        j += 1
        nb = 0
        ok = False
        while j + 4 <= n:
            word = u32(j)
            j += 4
            if word == 0:  # EndMark
                ok = True
                break
            bsz = word & 0x7FFFFFFF
            if j + bsz + (4 if bcksum else 0) > n:
                break
            if bcksum and u32(j + bsz) != xxh32(payload[j : j + bsz]):
                break  # block checksum mismatch
            j += bsz + (4 if bcksum else 0)
            nb += 1
        if not ok:
            break
        if ccksum:
            if j + 4 > n:
                break
            j += 4  # verified on decompress, where the content exists
        out.append((i, j - i, content, nb, indep, ccksum))
        i = j
    if not out:
        raise Refused("no LZ4 frame")
    return out


def lz4_blocks(
    payload: bytes | None,
    max_blocks: int = 256,
) -> list[tuple[int, int, int, int, bool]] | None:
    """Per-BLOCK byte ranges across every LZ4 frame of the shard:
    ``[(frame_index, block_index, offset, comp_size, stored), ...]`` —
    the fine-grained split plan (blocks of an independence-flagged frame
    decompress in any order on any executor; ``stored`` blocks need no
    decode at all). Offsets point at the block DATA (past the 4-byte size
    word); sizes exclude the optional per-block checksum."""
    frames = lz4_frames(payload)
    if frames is None or payload is None:
        return None
    out: list[tuple[int, int, int, int, bool]] = []
    for fi, (foff, fcomp, _c, nb, _ind, _cc) in enumerate(frames):
        if nb == 0:
            continue
        flg = payload[foff + 4]
        bcksum = bool((flg >> 4) & 1)
        j = foff + 6 + (8 if (flg >> 3) & 1 else 0) + (4 if flg & 1 else 0) + 1
        bi = 0
        while len(out) < max_blocks:
            word = int.from_bytes(payload[j : j + 4], "little")
            j += 4
            if word == 0:
                break
            bsz = word & 0x7FFFFFFF
            out.append((fi, bi, j, bsz, bool(word >> 31)))
            bi += 1
            j += bsz + (4 if bcksum else 0)
        if len(out) >= max_blocks:
            break
    return out or None


@none_on_refusal
def lz4_frame_decompress(
    payload: bytes,
    offset: int = 0,
    max_content_bytes: int = 1 << 26,
) -> bytes | None:
    """Decompress the LZ4 frame starting at ``offset`` with the PURE
    block decoder — stored blocks copied, compressed blocks token-walked,
    block-dependent frames threading the decoded history as each block's
    window. Verifies every checksum present: per-block XXH32, the content
    XXH32 trailer, and the optional declared content size. Any mismatch or
    malformed block returns None."""
    frames = lz4_frames(payload[offset:], max_frames=1)
    if not frames:
        raise Refused("malformed LZ4 frame")
    _off, _comp, declared, nb, indep, ccksum = frames[0]
    flg = payload[offset + 4]
    if flg & 1:
        raise Refused("dictionary-keyed frame, no dictionary")
    bcksum = bool((flg >> 4) & 1)
    j = (
        offset + 6 + (8 if (flg >> 3) & 1 else 0) + (4 if flg & 1 else 0) + 1
    )
    out = bytearray()
    for _ in range(nb):
        word = int.from_bytes(payload[j : j + 4], "little")
        j += 4
        bsz = word & 0x7FFFFFFF
        data = payload[j : j + bsz]
        j += bsz + (4 if bcksum else 0)
        if word >> 31:
            piece = bytes(data)
        else:
            piece = lz4_block_decompress.__wrapped__(
                data,
                max_content_bytes,
                prefix=b"" if indep else bytes(out[-65536:]),
            )
        if len(out) + len(piece) > max_content_bytes:
            raise Refused("LZ4 content over the cap")
        out += piece
    j += 4  # EndMark
    if ccksum and int.from_bytes(payload[j : j + 4], "little") != xxh32(
        bytes(out)
    ):
        raise Refused("malformed LZ4 frame")
    if declared is not None and declared != len(out):
        raise Refused("malformed LZ4 frame")
    return bytes(out)


# ---------------------------------------------------------------------------
# zstd — frame walk (RFC 8878) + raw/RLE pure decode + pyarrow seam
# ---------------------------------------------------------------------------

ZSTD_FRAME_MAGIC = 0xFD2FB528


def zstd_frames(
    payload: bytes | None,
    max_frames: int | None = None,
) -> list[tuple[int, int, int | None, str, int, bool]] | None:
    """Walk concatenated zstd frames into ``[(offset, comp_size,
    content_size, kind, n_blocks, has_checksum), ...]`` WITHOUT
    decompressing — RFC 8878 frame headers (FCS field sizes 0/1/2/4/8
    with the +256 two-byte bias, single-segment and dictionary-ID
    variants) and the 3-byte block headers (raw / RLE / compressed;
    an RLE block stores ONE byte but regenerates ``Block_Size``).
    ``kind`` is ``'zstd'`` or ``'skippable'``. zstd frames are
    independently decompressible, so these rows ARE the shard split
    plan. Non-zstd payloads return None; reserved block type, reserved
    descriptor bit, or a torn tail truncates to the verified prefix."""
    if payload is None or len(payload) < 4:
        return None
    n = len(payload)

    def u32(o: int) -> int:
        return int.from_bytes(payload[o : o + 4], "little")

    first = u32(0)
    if first != ZSTD_FRAME_MAGIC and not (
        _SKIPPABLE_LO <= first <= _SKIPPABLE_HI
    ):
        return None
    out: list[tuple[int, int, int | None, str, int, bool]] = []
    i = 0
    while i + 4 <= n and (max_frames is None or len(out) < max_frames):
        magic = u32(i)
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if i + 8 > n or i + 8 + u32(i + 4) > n:
                break
            sz = u32(i + 4)
            out.append((i, 8 + sz, sz, "skippable", 0, False))
            i += 8 + sz
            continue
        if magic != ZSTD_FRAME_MAGIC or i + 6 > n:
            break
        fhd = payload[i + 4]
        if (fhd >> 3) & 1:
            break  # reserved descriptor bit must be 0
        fcs_flag = fhd >> 6
        single = (fhd >> 5) & 1
        cksum = bool((fhd >> 2) & 1)
        did_flag = fhd & 3
        j = i + 5
        if not single:
            j += 1  # window descriptor
        j += (0, 1, 2, 4)[did_flag]
        fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
        if j + fcs_size > n:
            break
        content: int | None = None
        if fcs_size:
            content = int.from_bytes(payload[j : j + fcs_size], "little")
            if fcs_size == 2:
                content += 256
            j += fcs_size
        nb = 0
        ok = False
        while j + 3 <= n:
            bh = int.from_bytes(payload[j : j + 3], "little")
            j += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 3:
                break  # reserved block type: corrupt
            body = 1 if btype == 1 else bsize
            if j + body > n:
                break
            j += body
            nb += 1
            if last:
                ok = True
                break
        if not ok:
            break
        if cksum:
            if j + 4 > n:
                break
            j += 4
        out.append((i, j - i, content, "zstd", nb, cksum))
        i = j
    return out or None


def _zstd_pure_decode(
    payload: bytes,
    offset: int,
    max_content_bytes: int,
) -> bytes | None:
    """Decode a zstd frame whose blocks are ALL raw or RLE — no entropy
    coding, pure byte walk (these are exactly the frames the planted
    column-algebra fixtures emit, and what ``zstd --no-compress`` /
    store-mode writers produce). Returns None if any block is compressed
    (the caller falls through to the pyarrow kernel)."""
    fhd = payload[offset + 4]
    fcs_flag = fhd >> 6
    single = (fhd >> 5) & 1
    j = offset + 5 + (0 if single else 1) + (0, 1, 2, 4)[fhd & 3]
    j += (1 if single else 0, 2, 4, 8)[fcs_flag]
    out = bytearray()
    while True:
        bh = int.from_bytes(payload[j : j + 3], "little")
        j += 3
        last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
        if btype == 2:
            return None  # compressed block: not this kernel's job
        if len(out) + bsize > max_content_bytes:
            return None
        if btype == 0:
            out += payload[j : j + bsize]
            j += bsize
        else:  # RLE: one stored byte regenerates bsize copies
            out += payload[j : j + 1] * bsize
            j += 1
        if last:
            return bytes(out)


@none_on_refusal
def zstd_frame_decompress(
    payload: bytes,
    offset: int = 0,
    max_content_bytes: int = 1 << 26,
) -> bytes | None:
    """Decompress ONE zstd frame at ``offset``: pure byte walk when every
    block is raw/RLE; otherwise ``pyarrow.Codec('zstd')`` with the frame's
    declared content size (frames without a Frame_Content_Size field and
    with entropy-coded blocks are the documented seam → None — their
    byte-range rows still ship from ``zstd_frames``). The content
    checksum, when present, is VERIFIED as the low 32 bits of XXH64(content)
    per RFC 8878 §3.1.1; a mismatch returns None."""
    frames = zstd_frames(payload[offset:], max_frames=1)
    if not frames:
        raise Refused("no zstd frame")
    _off, comp, content_size, kind, _nb, has_cksum = frames[0]
    if kind == "skippable":
        return b""
    if payload[offset + 4] & 3:
        raise Refused("dictionary-keyed frame, no dictionary")
    data = _zstd_pure_decode(payload, offset, max_content_bytes)
    if data is None:
        if content_size is not None and content_size <= max_content_bytes:
            import pyarrow as pa

            try:
                data = bytes(
                    pa.Codec("zstd").decompress(
                        payload[offset : offset + comp], content_size
                    )
                )
            except Exception:
                data = None
        if data is None:
            # no FCS (streaming-written frame) or a C-kernel refusal:
            # the r12 pure FSE/Huffman decoder (sources/zstd_pure)
            from data_ingestion_py_spark.sources.zstd_pure import (
                zstd_decompress_frame,
            )

            data = zstd_decompress_frame.__wrapped__(
                bytes(payload), offset, max_content_bytes
            )
    if content_size is not None and len(data) != content_size:
        raise Refused("content size mismatch")
    if has_cksum:
        stored = int.from_bytes(
            payload[offset + comp - 4 : offset + comp], "little"
        )
        if stored != (xxh64(data) & 0xFFFFFFFF):
            raise Refused("content checksum mismatch")
    return data


@none_on_refusal
def zstd_decompress_all(
    payload: bytes | None,
    max_content_bytes: int = 1 << 26,
) -> bytes | None:
    """Concatenated-frame decompress (skippable frames contribute
    nothing) — how a ``.jsonl.zst`` shard regenerates. Any undecodable
    frame fails the whole shard (ingestion must not silently drop a
    frame's worth of documents). The frame walk is UNCAPPED (a pzstd /
    frame-per-chunk shard routinely holds hundreds of frames) and must
    cover the whole payload — a torn tail or mid-shard corruption fails
    the shard rather than returning a silent prefix."""
    frames = zstd_frames(payload)
    if frames is None or payload is None:
        raise Refused("undecodable zstd shard")
    last_off, last_comp = frames[-1][0], frames[-1][1]
    if last_off + last_comp != len(payload):
        raise Refused("walk stopped early")
    out = bytearray()
    for off, _comp, _cs, kind, _nb, _ck in frames:
        if kind == "skippable":
            continue
        out += zstd_frame_decompress.__wrapped__(
            payload, off, max_content_bytes - len(out)
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# Sniff-and-decompress + jsonl / tar shard readers
# ---------------------------------------------------------------------------


def sniff_compression(payload: bytes | None) -> str | None:
    """Magic-byte sniff: 'gzip' | 'bz2' | 'xz' | 'zstd' | 'lz4' | 'raw'
    (None for None/empty). The shard readers dispatch on this, so a
    corpus can mix compression per shard — which real corpora do."""
    if not payload:
        return None
    if payload[:2] == b"\x1f\x8b":
        return "gzip"
    if payload[:3] == b"BZh":
        return "bz2"
    if payload[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if len(payload) >= 4:
        magic = int.from_bytes(payload[:4], "little")
        if magic == ZSTD_FRAME_MAGIC:
            return "zstd"
        if magic == LZ4_FRAME_MAGIC:
            return "lz4"
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            # Skippable frames are shared by zstd AND lz4: peek past
            # them to the first non-skippable magic before choosing a
            # walker (a skippable-then-LZ4 shard routed to the zstd
            # walker would truncate at the LZ4 magic and ship b"").
            i = 0
            n = len(payload)
            while i + 8 <= n:
                m = int.from_bytes(payload[i : i + 4], "little")
                if not (_SKIPPABLE_LO <= m <= _SKIPPABLE_HI):
                    break
                i += 8 + int.from_bytes(payload[i + 4 : i + 8], "little")
            if i + 4 <= n:
                m = int.from_bytes(payload[i : i + 4], "little")
                if m == LZ4_FRAME_MAGIC:
                    return "lz4"
            return "zstd"  # all-skippable or zstd follower: zstd walk
    return "raw"


@none_on_refusal
def decompress_auto(
    payload: bytes | None,
    max_content_bytes: int = 1 << 26,
) -> bytes | None:
    """Sniff + decompress a whole shard. gzip / bz2 / xz walk EVERY
    member or stream (the jsonl.gz-of-concatenated-members layout) via
    ``bits.decompress_members``, which stops one byte past
    ``max_content_bytes``; zstd/lz4 via the frame kernels above; 'raw'
    passes through. Undecodable or over the cap → None."""
    codec = sniff_compression(payload)
    if codec is None:
        raise Refused("empty shard")
    if codec == "raw":
        return payload
    if codec in ("gzip", "bz2", "xz"):
        import bz2
        import lzma
        import zlib

        new = {
            "gzip": lambda: zlib.decompressobj(31),
            "bz2": bz2.BZ2Decompressor,
            "xz": lzma.LZMADecompressor,
        }[codec]
        out = decompress_members(new, payload, max_content_bytes)
        if out is None:
            raise Refused(f"undecodable {codec} shard or over the cap")
        return out
    if codec == "zstd":
        return zstd_decompress_all.__wrapped__(payload, max_content_bytes)
    frames = lz4_frames.__wrapped__(payload)
    if frames[-1][0] + frames[-1][1] != len(payload):
        raise Refused("walk stopped early: never ship a prefix as success")
    out = bytearray()
    for off, _comp, _cs, nb, _ind, _cc in frames:
        if nb == 0:
            continue  # skippable
        out += lz4_frame_decompress.__wrapped__(
            payload, off, max_content_bytes - len(out)
        )
    return bytes(out)


@none_on_refusal
def shard_text_lines(
    payload: bytes | None,
    max_lines: int = 1 << 20,
    max_content_bytes: int = 1 << 26,
) -> list[bytes] | None:
    """Decompress a text shard and split records on ``\\n`` (the jsonl
    framing; a trailing newline does not produce an empty record).
    Undecodable shards → None. A shard holding MORE than ``max_lines``
    records also returns None — ingestion must never silently drop the
    tail of a shard (the default of 2^20 lines is above any real
    Dolma/Pile shard at the 2^26-byte content bound; raise it alongside
    ``max_content_bytes`` for bigger shards)."""
    data = decompress_auto.__wrapped__(payload, max_content_bytes)
    lines = data.split(b"\n")
    if lines and lines[-1] == b"":
        lines.pop()
    return lines if len(lines) <= max_lines else None


def jsonl_shard_manifest(
    media: "DataFrame", max_lines: int = 1 << 20
) -> "DataFrame":
    """(media_id, payload) → one row per record of a compressed jsonl
    shard via Arrow ``mapInPandas``: (media_id, line_index, line_bytes,
    json_ok, rec_id, n_text_chars) — ``rec_id``/``n_text_chars`` parsed
    from the record's ``id``/``text`` fields when the line is JSON (the
    Dolma/Pile layout), nulls when it isn't. Narrow stage, no shuffle;
    undecodable shards emit no rows (the walk never guesses), and a
    shard exceeding ``max_lines`` records ALSO emits no rows rather
    than a silently-truncated prefix (``shard_text_lines`` returns None
    above the cap) — downstream counts are never quietly short."""
    import json

    def _records(mid, payload):
        out = []
        for li, line in enumerate(shard_text_lines(payload, max_lines) or ()):
            rec_id = None
            n_text = None
            ok = False
            try:
                rec = json.loads(line)
                ok = isinstance(rec, dict)
                if ok:
                    if isinstance(rec.get("id"), (int, str)):
                        rec_id = str(rec["id"])
                    if isinstance(rec.get("text"), str):
                        n_text = len(rec["text"])
            except (ValueError, UnicodeDecodeError):
                ok = False
            out.append((mid, li, len(line), ok, rec_id, n_text))
        return out

    # NOTE(r16): a spread_for_kernel rebalance here was driver-measured
    # as a REGRESSION (corpus_jsonl_zst_lines 0.46 → 1.13 s, BENCH_r15)
    # — the round-robin exchange moves the fat shard payloads for a
    # light frame-walk kernel, guide §8's "don't move heavy bytes for
    # light decisions". Reverted per VERDICT r15 #1.
    return kernel_rows(
        media, ("media_id", "payload"), _records, JSONL_RECORD_SCHEMA
    )


@none_on_refusal
def compressed_tar_members(
    payload: bytes | None,
    max_members: int = 256,
    max_content_bytes: int = 1 << 26,
):
    """``.tar.{zst,gz,bz2,xz,lz4}`` member walk: sniff + decompress, then
    delegate to the checksum-verifying ustar walker
    (``sources/archive.tar_members``). Offsets are into the DECOMPRESSED
    stream — with the zstd/LZ4 frame plans above, a reader maps them back
    to compressed ranges frame-by-frame."""
    from data_ingestion_py_spark.sources.archive import tar_members

    data = decompress_auto.__wrapped__(payload, max_content_bytes)
    return tar_members(data, max_members)


def compressed_tar_manifest(
    media: "DataFrame", max_members: int = 256
) -> "DataFrame":
    """(media_id, payload) → one row per member of a COMPRESSED tar shard
    (WebDataset's .tar.zst layout) via Arrow ``mapInPandas`` — same row
    shape as ``archive.tar_manifest``. Narrow stage, no shuffle."""
    def _members(mid, payload):
        members = compressed_tar_members(payload, max_members) or ()
        return [
            (mid, mi, name, size, typeflag, off)
            for mi, (name, size, off, typeflag) in enumerate(members)
        ]

    # NOTE(r16): a spread_for_kernel rebalance here was interleaved-A/B
    # measured and REVERTED — corpus_tar_zst_members 0.50 s without vs
    # 0.69 s with at sf0.1: decompress+walk is light next to the
    # payload exchange (guide §8), the same result as the sibling
    # jsonl_shard_manifest revert above.
    return kernel_rows(
        media, ("media_id", "payload"), _members, CTAR_MEMBER_SCHEMA
    )


def zstd_frame_manifest(
    media: "DataFrame", max_frames: int = 65536
) -> "DataFrame":
    """(media_id, payload) → one row per zstd frame (byte-range split
    plan) via Arrow ``mapInPandas``. Narrow stage, no shuffle.
    ``max_frames`` bounds per-shard output rows; a real pzstd shard is
    hundreds of frames, so the default is sized never to bite in
    practice — pass a smaller cap only for preview-style views where
    truncation is acceptable and visible to the caller."""
    def _frames(mid, payload):
        frames = zstd_frames(payload, max_frames) or ()
        return [
            (mid, fi, off, comp, cs, kind, nb)
            for fi, (off, comp, cs, kind, nb, _ck) in enumerate(frames)
        ]

    return kernel_rows(
        media, ("media_id", "payload"), _frames, ZSTD_FRAME_SCHEMA
    )


def lz4_block_manifest(media: "DataFrame", max_blocks: int = 256) -> "DataFrame":
    """(media_id, payload) → one row per LZ4 block (byte-range split
    plan; ``stored`` blocks need no decode) via Arrow ``mapInPandas``.
    Narrow stage, no shuffle."""
    return kernel_rows(
        media,
        ("media_id", "payload"),
        lambda mid, p: [(mid, *b) for b in lz4_blocks(p, max_blocks) or ()],
        LZ4_BLOCK_SCHEMA,
    )
