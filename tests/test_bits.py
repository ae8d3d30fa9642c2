"""The shared decode primitives in ``sources/bits.py``: the two bit
readers against a bit-string model, the prefix trie's collision guard,
RBSP unescaping, and the bounded decompression every zlib / bz2 / xz
call site goes through — a hostile stream that inflates far past the
caller's cap must return None with a memory peak near the cap, not
near the inflated size."""

from __future__ import annotations

import bz2
import lzma
import random
import struct
import tracemalloc
import zlib

import pytest

from data_ingestion_py_spark.sources import shards
from data_ingestion_py_spark.sources.archive import avro_block_decompress
from data_ingestion_py_spark.sources.bits import (
    LsbBits,
    MsbBits,
    Refused,
    Truncated,
    bounded_decompress,
    decompress_members,
    prefix_trie,
    rbsp_unescape,
    read_varint,
    zigzag,
)
from data_ingestion_py_spark.sources.multimodal import decode_png_array

MIB = 1 << 20


def _bit_string(data: bytes, msb: bool) -> str:
    return "".join(
        f"{b:08b}" if msb else f"{b:08b}"[::-1] for b in data
    )


def test_readers_match_a_bit_string_model():
    rng = random.Random(5)
    for _ in range(2000):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(6)))
        pos = rng.randrange(len(data) * 8 + 3)
        k = rng.randrange(20)
        msb, lsb = _bit_string(data, True), _bit_string(data, False)
        fits = pos + k <= len(msb)
        # peek pads with zeros past the end and never raises
        want = int((msb[pos : pos + k] + "0" * k)[:k] or "0", 2)
        assert MsbBits(data, pos).peek(k) == want
        for reader, bits, value in (
            (MsbBits(data, pos), msb, lambda s: int(s or "0", 2)),
            (LsbBits(data, pos), lsb, lambda s: int(s[::-1] or "0", 2)),
        ):
            if fits:
                assert reader.read(k) == value(bits[pos : pos + k])
                assert reader.pos == pos + k
            else:
                with pytest.raises(Truncated):
                    reader.read(k)
        m = MsbBits(data, pos)
        rest = msb[pos:]
        assert m.rest_is_zero() == ("1" not in rest)
        if "1" in rest:
            assert m.unary() == rest.index("1")
            assert m.pos == pos + rest.index("1") + 1
        else:
            with pytest.raises(Truncated):
                m.unary()


def test_exp_golomb_and_truncation():
    # ue: 1 → 0, 010 → 1, 011 → 2, 00100 → 3; se maps 1,2,3 → 1,-1,2
    b = MsbBits(bytes([0b10100110, 0b01000000]))
    assert [b.ue(), b.ue(), b.ue(), b.ue()] == [0, 1, 2, 3]
    b = MsbBits(bytes([0b01001100, 0b10000000]))
    assert [b.se(), b.se(), b.se()] == [1, -1, 2]
    with pytest.raises(Truncated):
        MsbBits(b"\x00").ue()  # prefix never terminates
    with pytest.raises(Truncated):  # 32 zeros: no conforming code
        MsbBits(bytes(4) + b"\xff" * 5).ue()
    with pytest.raises(Truncated):
        MsbBits(b"\x01").ue()  # 7 zeros, then 7 suffix bits missing
    assert issubclass(Truncated, ValueError)


def test_prefix_trie_reads_codes_and_guards_collisions():
    trie = prefix_trie([("0", "a"), ("10", "b"), ("110", 0)])
    b = MsbBits(bytes([0b01011011, 0b00000000]))  # 0 10 110 110 0
    assert [b.read_code(trie) for _ in range(4)] == ["a", "b", 0, 0]
    assert b.read_code(trie) == "a"
    b = MsbBits(b"\xff")
    assert b.read_code(trie) is None  # 111 spells no code
    with pytest.raises(Truncated):
        MsbBits(b"").read_code(trie)
    with pytest.raises(ValueError):
        prefix_trie([("01", 1), ("0", 2)])  # a leaf on the path
    with pytest.raises(ValueError):
        prefix_trie([("0", 1), ("01", 2)])  # a path through a leaf
    with pytest.raises(ValueError):
        prefix_trie([("1", 1), ("1", 2)])


def test_rbsp_unescape_drops_emulation_prevention():
    assert (
        rbsp_unescape(b"\x00\x00\x03\x01\x00\x00\x03")
        == b"\x00\x00\x01\x00\x00"
    )
    assert rbsp_unescape(b"\x00\x00\x00\x03\x00") == b"\x00\x00\x00\x00"
    assert rbsp_unescape(b"\x00\x03\x00") == b"\x00\x03\x00"


def test_varint_bounds_and_zigzag():
    assert read_varint(b"\x00", 0) == (0, 1)
    assert read_varint(b"\xff\xac\x02\x05", 1) == (300, 3)
    top = b"\xff" * 9 + b"\x01"  # 2**64 - 1, the 10-byte maximum
    assert read_varint(top, 0) == (2**64 - 1, 10)
    with pytest.raises(Refused):
        read_varint(b"\x80" * 10 + b"\x01", 0)  # an 11-byte encoding
    with pytest.raises(Truncated):
        read_varint(b"\xac\x02", 0, end=1)  # runs past ``end``
    with pytest.raises(Truncated):
        read_varint(b"\xac", 0)
    assert [zigzag(u) for u in range(5)] == [0, -1, 1, -2, 2]
    assert zigzag(2**64 - 1) == -(2**63)


def test_bounded_decompress_cap_and_members():
    data = b"abc" * 1000
    d = zlib.decompressobj()
    assert bounded_decompress(d, zlib.compress(data), len(data)) == data
    assert d.eof
    assert bounded_decompress(
        zlib.decompressobj(), zlib.compress(data), len(data) - 1
    ) is None
    assert bounded_decompress(zlib.decompressobj(), b"junk", 10) is None
    assert bounded_decompress(bz2.BZ2Decompressor(), b"BZh9junk", 10) is None
    assert bounded_decompress(lzma.LZMADecompressor(), b"junk", 10) is None
    two = bz2.compress(b"a") + bz2.compress(b"b")
    assert decompress_members(bz2.BZ2Decompressor, two, 2) == b"ab"
    assert decompress_members(bz2.BZ2Decompressor, two, 1) is None
    assert decompress_members(bz2.BZ2Decompressor, two[:-3], 2) is None
    assert decompress_members(bz2.BZ2Decompressor, two + b"x", 2) is None
    assert decompress_members(lzma.LZMADecompressor, b"", 2) is None


def _bomb(compressor, size: int = 64 * MIB) -> bytes:
    zeros = bytes(MIB)
    out = b"".join(compressor.compress(zeros) for _ in range(size // MIB))
    return out + compressor.flush()


def _peak(fn):
    tracemalloc.start()
    try:
        return fn(), tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


@pytest.mark.parametrize("codec", ["bz2", "xz"])
def test_shard_bomb_stops_at_the_cap(codec):
    """A 64 MiB-of-zeros bz2 / xz shard read with a 1 MiB cap: None,
    with a peak near the cap, not near 64 MiB."""
    payload = _bomb(
        bz2.BZ2Compressor() if codec == "bz2"
        else lzma.LZMACompressor(preset=0)
    )
    assert shards.sniff_compression(payload) == codec
    got, peak = _peak(lambda: shards.decompress_auto(payload, MIB))
    assert got is None
    assert peak < 4 * MIB, peak


@pytest.mark.parametrize("codec", ["bzip2", "xz"])
def test_avro_block_bomb_stops_at_the_cap(codec):
    raw = _bomb(
        bz2.BZ2Compressor() if codec == "bzip2"
        else lzma.LZMACompressor(preset=0)
    )
    got, peak = _peak(
        lambda: avro_block_decompress(raw, 0, len(raw), codec, MIB)
    )
    assert got is None
    assert peak < 4 * MIB, peak


def _png(w: int, h: int, idat: bytes) -> bytes:
    def chunk(kind: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + kind + body
            + struct.pack(">I", zlib.crc32(kind + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


def test_png_idat_bomb_stops_at_the_ihdr_size():
    """A PNG declaring 1×1 gray whose IDAT inflates to 64 MiB: None, with
    a peak far below the inflated size; the honest 1×1 still decodes."""
    png = _png(1, 1, _bomb(zlib.compressobj(9)))
    got, peak = _peak(lambda: decode_png_array(png))
    assert got is None
    assert peak < 4 * MIB, peak
    w, h, gray = decode_png_array(_png(1, 1, zlib.compress(b"\x00\x7f")))
    assert (w, h, gray.tolist()) == (1, 1, [127])
    # an IHDR size past any C length still caps (clamped), then refuses
    huge = (1 << 32) - 1
    assert decode_png_array(
        _png(huge, huge, zlib.compress(b"\x00\x7f"))
    ) is None
