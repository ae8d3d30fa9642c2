"""Bit- and byte-level primitives shared by the pure-Python decode kernels.

- ``MsbBits``: MSB-first bit reader (CCITT T.4/T.6 fax codes, H.264
  RBSP syntax with its Exp-Golomb codes, FLAC frames), with a prefix-
  code walk over the tries ``prefix_trie`` builds.
- ``LsbBits``: LSB-first bit reader (WebP lossless, zstd FSE headers).
- ``read_varint`` / ``zigzag``: LEB128 varints (ORC's protobuf
  footers, parquet's thrift-compact footers, Avro container headers).
- ``rbsp_unescape``: H.264 emulation-prevention removal.
- ``riff_chunks``: the RIFF chunk walk (WAV, AVI, WebP), here rather
  than in ``multimodal`` because ``vp8l`` needs it and ``multimodal``
  imports ``vp8l``.
- ``bounded_decompress`` / ``decompress_members``: zlib / bz2 / xz
  inflation that stops one byte past an output cap, so a few hundred
  bytes of hostile input cannot make a decoder allocate far past it.

One refusal contract for every decoder in ``sources/``: below a public
entry point, bytes a decoder will not decode (corrupt, unsupported, or
over a size bound) raise ``Refused`` (a ``ValueError``), and a read
past the end of the data raises its subclass ``Truncated``; each public
entry point catches it once and returns None (``none_on_refusal``), so
callers test decoded values only, never per-read or per-helper
sentinels. A public entry point that builds on another calls that one's
``__wrapped__``, so the refusal passes up to the outer catch. Row
functions (``spread.kernel_rows``) see only that None and pick their own
reaction: a NULL row, no row, or a fallback.
``MsbBits.peek`` alone never raises: past the end it pads with zero
bits, which the CCITT look-ahead needs for its EOL and mode codes (an
all-zero peek matches no mode code). Multi-bit reads slice the bytes
and convert them with one ``int.from_bytes``, so they cost no per-bit
loop.

Three readers stay with their kernels, because each has a byte rule of
its own that sharing would turn into per-caller branches here:

- ``multimodal._JpegBitReader``: JPEG entropy segments are unstuffed
  first and their last byte is padded with 1 bits, so its 16-bit
  Huffman peek pads with 0xFF instead of zeros.
- ``jpeg2000._HdrBits``: JPEG 2000 packet headers stuff a 0 bit after
  every 0xFF byte, so a byte there may carry only 7 bits.
- ``zstd_pure._RevBits``: the zstd entropy streams are read backward
  from the marker bit in their last byte.

Like the two shared readers, each of them raises ``Truncated`` past the
end of its data.
"""

from __future__ import annotations

import functools
import lzma
import sys
import zlib
from collections.abc import Iterator


#: bound on the rows of one bilevel raster (a CCITT fax image, a JBIG2
#: region): an all-white fax line costs one bit, so without it a few KB
#: of input decode to hundreds of thousands of one-array-per-line rows
MAX_ROWS = 1 << 16
#: bound on the pixels of one raster (a 600-dpi A4 scan is ~35 Mpx): a
#: few header bytes must not size a GB buffer
MAX_PIXELS = 1 << 26


class Refused(ValueError):
    """The decoder refuses these bytes: corrupt, unsupported, or over
    one of its size bounds."""


class Truncated(Refused):
    """A read ran past the end of the data, or an Exp-Golomb prefix
    ran past the 31 zeros a conforming stream can hold."""


def none_on_refusal(decode):
    """Decorator for a public decode entry point: ``Refused`` raised
    anywhere below it returns None."""

    @functools.wraps(decode)
    def wrapper(*args, **kwargs):
        try:
            return decode(*args, **kwargs)
        except Refused:
            return None

    return wrapper


class MsbBits:
    """MSB-first bit reader. ``pos`` is the bit cursor; callers may
    move it directly (skip, look-ahead then consume)."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.n = len(data) * 8

    def read1(self) -> int:
        p = self.pos
        if p >= self.n:
            raise Truncated
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def read(self, k: int) -> int:
        """k bits as an unsigned int."""
        p = self.pos
        end = p + k
        if end > self.n:
            raise Truncated
        self.pos = end
        chunk = int.from_bytes(self.data[p >> 3 : (end + 7) >> 3], "big")
        return (chunk >> (-end & 7)) & ((1 << k) - 1)

    def read_signed(self, k: int) -> int:
        """k bits as a two's-complement int (k >= 1)."""
        v = self.read(k)
        return v - (1 << k) if v >> (k - 1) else v

    def peek(self, k: int) -> int:
        """The next k bits without moving the cursor, zero-padded past
        the end; never raises."""
        p = self.pos
        lo, hi = p >> 3, (p + k + 7) >> 3
        chunk = int.from_bytes(self.data[lo:hi], "big") << (
            8 * max(0, hi - len(self.data))
        )
        return (chunk >> (-(p + k) & 7)) & ((1 << k) - 1)

    def unary(self) -> int:
        """Count 0 bits up to the next 1 bit and consume both (the Rice
        quotient, the Exp-Golomb prefix). Skips whole zero bytes and
        finds the 1 with ``bit_length`` — no per-bit loop."""
        data, p, n = self.data, self.pos, self.n
        q = 0
        while p < n:
            cur = data[p >> 3] & (0xFF >> (p & 7))
            if cur == 0:
                q += 8 - (p & 7)
                p = (p | 7) + 1
                continue
            lead = 8 - cur.bit_length()  # zeros before the 1 in this byte
            q += lead - (p & 7)
            self.pos = (p & ~7) + lead + 1
            return q
        raise Truncated

    def ue(self) -> int:
        """Unsigned Exp-Golomb code (H.264 §9.1)."""
        zeros = self.unary()
        if zeros > 31:
            raise Truncated("Exp-Golomb prefix longer than 31 zeros")
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        """Signed Exp-Golomb code (H.264 §9.1.1)."""
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def align(self) -> None:
        """Move the cursor to the next byte boundary."""
        self.pos = (self.pos + 7) & ~7

    def rest_is_zero(self) -> bool:
        """True when no 1 bit remains from the cursor to the end —
        encoder zero padding, or nothing left at all."""
        p = self.pos
        if p >= self.n:
            return True
        lo = p >> 3
        return not (self.data[lo] & (0xFF >> (p & 7))) and not any(
            self.data[lo + 1 :]
        )

    def read_code(self, trie: dict):
        """Walk a ``prefix_trie`` one bit at a time → the leaf's value,
        or None when the bits spell no code of the table."""
        data, n, p = self.data, self.n, self.pos
        node = trie
        while True:
            if p >= n:
                self.pos = p
                raise Truncated
            node = node.get((data[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
            if node is None:
                self.pos = p
                return None
            if type(node) is tuple:
                self.pos = p
                return node[0]


class LsbBits:
    """LSB-first bit reader: bits fill each value from its low end and
    are taken from each byte's low end first."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.n = len(data) * 8

    def read1(self) -> int:
        p = self.pos
        if p >= self.n:
            raise Truncated
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1

    def read(self, k: int) -> int:
        """k bits as an unsigned int."""
        p = self.pos
        end = p + k
        if end > self.n:
            raise Truncated
        self.pos = end
        chunk = int.from_bytes(self.data[p >> 3 : (end + 7) >> 3], "little")
        return (chunk >> (p & 7)) & ((1 << k) - 1)


def read_varint(
    data: bytes, i: int, end: int | None = None
) -> tuple[int, int]:
    """Unsigned LEB128 varint (protobuf, thrift compact, Avro longs) at
    ``data[i:end]`` → (value, next offset). ``Truncated`` when it runs
    past ``end`` (default: the end of ``data``); ``Refused`` when it is
    longer than 10 bytes, the 64-bit maximum."""
    end = len(data) if end is None else end
    v = 0
    for k in range(10):
        if i + k >= end:
            raise Truncated
        b = data[i + k]
        v |= (b & 0x7F) << (7 * k)
        if not b & 0x80:
            return v, i + k + 1
    raise Refused("varint longer than 10 bytes")


def zigzag(u: int) -> int:
    """Zigzag-decode a varint's value: 0, 1, 2, 3, … → 0, −1, 1, −2, …"""
    return (u >> 1) ^ -(u & 1)


def prefix_trie(codes) -> dict:
    """(bit string, value) pairs → a binary trie for
    ``MsbBits.read_code``: interior nodes are ``{bit: child}`` dicts,
    a leaf is the 1-tuple ``(value,)``. Raises ValueError at build time
    when one code is a prefix of another (a transcription slip in a
    code table)."""
    root: dict = {}
    for bits, value in codes:
        node = root
        for ch in bits[:-1]:
            node = node.setdefault(int(ch), {})
            if type(node) is not dict:
                raise ValueError(f"prefix collision at {bits}")
        last = int(bits[-1])
        if last in node:
            raise ValueError(f"prefix collision at {bits}")
        node[last] = (value,)
    return root


def rbsp_unescape(data: bytes) -> bytes:
    """Strip H.264 emulation-prevention bytes (00 00 03 → 00 00,
    ISO 14496-10 §7.4.1.1) from a NAL payload."""
    return bytes(data).replace(b"\x00\x00\x03", b"\x00\x00")


def riff_chunks(
    data: bytes, start: int, end: int
) -> Iterator[tuple[bytes, int, int]]:
    """Walk the RIFF chunks in ``data[start:end)``, yielding
    ``(fourcc, data_start, data_end)`` per chunk. Sizes are
    little-endian uint32 and chunks are word-aligned: an odd size is
    followed by one pad byte. ``data_end`` is the declared end and may
    pass ``end``; a reader that needs the bytes checks it. A LIST
    chunk's data opens with its list-type fourcc, and its children are
    ``riff_chunks(data, data_start + 4, data_end)``."""
    i = start
    n = min(end, len(data))
    while i + 8 <= n:
        size = int.from_bytes(data[i + 4 : i + 8], "little")
        yield data[i : i + 4], i + 8, i + 8 + size
        i += 8 + size + (size & 1)


def bounded_decompress(d, data: bytes, cap: int) -> bytes | None:
    """Inflate ``data`` through a fresh decompressor ``d``
    (``zlib.decompressobj(wbits)``, ``bz2.BZ2Decompressor()`` or
    ``lzma.LZMADecompressor()``), producing at most ``cap + 1`` bytes.
    None on a codec error or when the output passes ``cap``. The
    stream need not end inside ``data``: callers that require it, or
    that need the bytes after it, read ``d.eof`` / ``d.unused_data``."""
    try:
        out = d.decompress(data, min(cap, sys.maxsize - 1) + 1)
    except (zlib.error, OSError, lzma.LZMAError):
        return None
    return None if len(out) > cap else out


def decompress_members(new, data: bytes, cap: int) -> bytes | None:
    """Every member of a concatenation — gzip members, bz2 or xz
    streams — each made by ``new()`` and inflated by
    ``bounded_decompress`` against what is left of ``cap``. None when
    any member fails, does not end, or the total passes ``cap``; bytes
    after the last member must themselves be a member (no trailing
    junk is skipped)."""
    out = bytearray()
    while True:
        d = new()
        piece = bounded_decompress(d, data, cap - len(out))
        if piece is None or not d.eof:
            return None
        out += piece
        data = d.unused_data
        if not data:
            return bytes(out)

