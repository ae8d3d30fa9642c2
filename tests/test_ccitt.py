"""CCITT Group 4 decoder (sources/ccitt.py) pinned against an
INDEPENDENT from-the-spec T.6 encoder written here: mode decisions
(pass / vertical / horizontal) per §4.2.1.3 of ITU-T T.6, T.4
run-length tables for horizontal runs, EOFB termination. The encoder
shares only the code-table CONSTANTS with the decoder (transcription
errors there are cross-checked by the skipif Pillow interop test in
test_optional_kernels.py, which decodes libtiff-written G4)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from data_ingestion_py_spark.sources.ccitt import (
    _BLACK_CODES,
    _EXT_CODES,
    _WHITE_CODES,
    g4_decode,
)


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, s: str):
        self.bits.extend(int(c) for c in s)

    def bytes(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )


_W = {run: code for run, code in _WHITE_CODES + _EXT_CODES}
_B = {run: code for run, code in _BLACK_CODES + _EXT_CODES}


def _emit_run(w: _BitWriter, run: int, white: bool):
    table = _W if white else _B
    while run >= 64:
        mk = min(run - run % 64, 2560)
        while mk not in table:
            mk -= 64
        w.write(table[mk])
        run -= mk
    w.write(table[run])


def _transitions(line: np.ndarray) -> list[int]:
    """Positions where color changes; lines start white (255)."""
    out = []
    prev = 255
    for i, v in enumerate(line):
        if v != prev:
            out.append(i)
            prev = v
    return out


def _write_2d_line(out: "_BitWriter", cur: list[int],
                   ref: list[int], w_cols: int) -> None:
    """Code one line's transitions 2D against ``ref`` (pass /
    vertical / horizontal mode decisions per T.6 §4.2.1.3 — shared
    verbatim by T.4 K>0 2D lines)."""
    padded = cur + [w_cols, w_cols]
    a0 = -1
    white = True
    ci = 0  # index of next transition in cur after a0
    while a0 < w_cols:
        a1 = padded[ci] if ci < len(padded) else w_cols
        a2 = padded[ci + 1] if ci + 1 < len(padded) else w_cols
        # b1/b2 against the reference line
        idx = 0
        while idx < len(ref) and ref[idx] <= a0:
            idx += 1
        if (idx % 2 == 0) != white:
            idx += 1
        b1 = ref[idx] if idx < len(ref) else w_cols
        b2 = ref[idx + 1] if idx + 1 < len(ref) else w_cols
        if b2 < a1:
            out.write("0001")  # pass
            a0 = b2
            continue
        d = a1 - b1
        if -3 <= d <= 3:
            out.write(
                {0: "1", 1: "011", 2: "000011", 3: "0000011",
                 -1: "010", -2: "000010", -3: "0000010"}[d]
            )
            a0 = a1
            white = not white
            ci += 1
        else:
            out.write("001")
            _emit_run(out, a1 - max(a0, 0), white)
            _emit_run(out, a2 - a1, not white)
            a0 = a2
            ci += 2


def g4_encode(img: np.ndarray) -> bytes:
    """Independent T.6 encoder: 0 = black, 255 = white."""
    h, w_cols = img.shape
    out = _BitWriter()
    ref = [w_cols, w_cols]
    for y in range(h):
        cur = _transitions(img[y])
        _write_2d_line(out, cur, ref, w_cols)
        ref = cur + [w_cols, w_cols]
    out.write("000000000001" * 2)  # EOFB
    return out.bytes()


def _write_1d_line(out: "_BitWriter", line: np.ndarray) -> None:
    white = True
    total = 0
    cols = len(line)
    while total < cols:
        run = 0
        val = 255 if white else 0
        while total + run < cols and line[total + run] == val:
            run += 1
        _emit_run(out, run, white)
        total += run
        white = not white


def g3_2d_encode(img: np.ndarray, k: int = 2,
                 byte_align: bool = False) -> bytes:
    """Independent mixed-2D T.4 encoder (K>0): EOL + tag bit per line
    (1 = 1D modified Huffman, 0 = 2D), a 1D line at least every k-th
    row, RTC termination. ``byte_align`` uses the TIFF T4Options
    bit-2 convention — zero FILL so each EOL ENDS on a byte boundary
    (xxxx0000 00000001)."""
    h, w_cols = img.shape
    out = _BitWriter()
    ref: list[int] | None = None
    for y in range(h):
        if byte_align:
            out.bits.extend([0] * (-(len(out.bits) + 12) % 8))
        out.write("000000000001")
        one_d = ref is None or y % k == 0
        out.write("1" if one_d else "0")
        cur = _transitions(img[y])
        if one_d:
            _write_1d_line(out, img[y])
        else:
            _write_2d_line(out, cur, ref, w_cols)
        ref = cur + [w_cols, w_cols]
    for _ in range(6):  # RTC
        out.write("000000000001" + "1")
    return out.bytes()


def _rand_img(rng, h, w, p=0.3):
    return np.where(
        np.array([[rng.random() < p for _ in range(w)] for _ in range(h)]),
        0, 255,
    ).astype(np.uint8)


def test_g4_roundtrip_random_bitmaps():
    rng = random.Random(13)
    for trial in range(40):
        h = rng.randrange(1, 24)
        w = rng.choice([1, 7, 8, 17, 64, 100, 250])
        p = rng.choice([0.05, 0.3, 0.5, 0.9])
        img = _rand_img(rng, h, w, p)
        got = g4_decode(g4_encode(img), w, h)
        assert got is not None, (trial, h, w)
        assert (got == img).all(), (trial, h, w)


def test_g4_degenerate_and_wide_runs():
    # all-white, all-black, single pixel, and make-up-code-deep runs
    for img in (
        np.full((3, 50), 255, np.uint8),
        np.full((3, 50), 0, np.uint8),
        np.full((1, 1), 0, np.uint8),
        np.full((2, 4000), 0, np.uint8),   # 2560+ make-up accumulation
        np.full((2, 4000), 255, np.uint8),
    ):
        got = g4_decode(g4_encode(img), img.shape[1], img.shape[0])
        assert got is not None and (got == img).all(), img.shape
    # checkerboard: vertical-mode stress with 1-px runs
    img = np.indices((8, 32)).sum(axis=0) % 2
    img = np.where(img.astype(bool), 0, 255).astype(np.uint8)
    got = g4_decode(g4_encode(img), 32, 8)
    assert got is not None and (got == img).all()


def test_g4_decode_without_rows_uses_eofb():
    rng = random.Random(7)
    img = _rand_img(rng, 9, 40)
    got = g4_decode(g4_encode(img), 40, None)
    assert got is not None and got.shape == (9, 40) and (got == img).all()


def test_fax_decoders_refuse_over_the_row_bound():
    """More than 2^16 rows refuses, stated or decoded. An all-white G4
    line costs one bit, so 16 KB of 0xFF stating 2^17 rows would
    otherwise decode 2^17 one-pixel lines, one array each, before the
    stack; a stated count over the bound refuses before decoding."""
    import tracemalloc

    from data_ingestion_py_spark.sources.ccitt import (
        g3_1d_decode,
        g3_2d_decode,
    )

    tracemalloc.start()
    try:
        got = g4_decode(b"\xff" * 16384, 1, 1 << 17)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert got is None
    assert peak < 1 << 20
    assert g3_1d_decode(b"\xff" * 16, 8, 1 << 17) is None
    assert g3_2d_decode(b"\xff" * 16, 8, 1 << 17) is None
    # no stated rows: the stream itself runs past the bound
    assert g4_decode(b"\xff" * ((1 << 16) // 8 + 1), 1, None) is None
    assert g4_decode(b"\xff" * ((1 << 16) // 8), 1, None).shape == (
        1 << 16,
        1,
    )


def test_g4_glyph_page_reads_through_ocr_matcher():
    """The scanned-document composition: a bitmap-font glyph page G4
    round-trips and glyph-matches — fax-scan bilevel is exactly the
    raster class OCR-lite targets."""
    from data_ingestion_py_spark.sources.ocr_pure import match_glyph_grid
    from tests.test_ocr_pure import render

    img = render("0857")  # 24 x 64, ink 32 / paper 224
    bilevel = np.where(img < 128, 0, 255).astype(np.uint8)
    got = g4_decode(g4_encode(bilevel), 64, 24)
    assert got is not None and (got == bilevel).all()
    assert match_glyph_grid(got) == "0857"


def test_g4_corruption_refuses():
    rng = random.Random(3)
    img = _rand_img(rng, 6, 64)
    enc = g4_encode(img)
    # wrong declared rows
    assert g4_decode(enc, 64, 7) is None
    # truncation: fewer lines decode than declared
    assert g4_decode(enc[: len(enc) // 4], 64, 6) is None
    # an invalid mode code (an EOL inside G4 data) refuses
    assert g4_decode(b"\x00\x18" * 8, 64, 6) is None
    # all-padding stream: zero lines, not six
    assert g4_decode(b"\x00" * 30, 64, 6) is None
    # absurd column counts
    assert g4_decode(enc, 0, 6) is None
    assert g4_decode(enc, 1 << 20, 6) is None
    # NOTE: G4 has no checksum — RANDOM bits can legally decode (e.g.
    # alternating V0/VL1 codes), so "garbage refuses" is deliberately
    # NOT asserted; structural violations above are what the format
    # can actually detect.


def test_tiff_compression4_g4_strips():
    """Fax TIFF: Compression 4 bilevel strips decode through the G4
    kernel and the existing sub-byte + WhiteIsZero machinery."""
    from data_ingestion_py_spark.sources.multimodal import decode_tiff_array
    from tests.test_sources import _tiff_bytes

    rng = random.Random(21)
    w, h = 37, 12
    img = _rand_img(rng, h, w, 0.4)
    # photo 0 (WhiteIsZero) — the fax norm; two strips of 6 rows each
    strips = [g4_encode(img[:6]), g4_encode(img[6:])]
    tif = _tiff_bytes("II", w, h, 0, strips, comp=4, rps=6, bps=1)
    got = decode_tiff_array(tif)
    assert got is not None
    gw, gh, pix = got
    assert (gw, gh) == (w, h)
    assert (pix.reshape(h, w) == img).all()
    # photo 1 (BlackIsZero) is legal for Compression 2/4 per TIFF 6.0
    # — same fax raster must decode to the SAME pixels, not inverted
    # (advisor finding, r13: the re-pack must honor the declared
    # photometric, not assume the fax norm)
    tif_b0 = _tiff_bytes("II", w, h, 1, strips, comp=4, rps=6, bps=1)
    got = decode_tiff_array(tif_b0)
    assert got is not None
    gw, gh, pix = got
    assert (gw, gh) == (w, h)
    assert (pix.reshape(h, w) == img).all()
    # torn strip refuses
    tif2 = _tiff_bytes("II", w, h, 0, [strips[0][:4], strips[1]],
                       comp=4, rps=6, bps=1)
    assert decode_tiff_array(tif2) is None
    # G4 with non-bilevel depth refuses
    tif3 = _tiff_bytes("II", w, h, 0, strips, comp=4, rps=6, bps=8)
    assert decode_tiff_array(tif3) is None


def test_pdf_ccittfaxdecode_image_xobject_and_ocr():
    """Scanned-PDF path #2: /CCITTFaxDecode (K -1) image XObjects
    decode through the G4 kernel into gray rasters — together with
    /DCTDecode this covers what wild scanned PDFs actually contain —
    and OCR-lite reads a glyph page end-to-end."""
    from data_ingestion_py_spark.sources.ocr_pure import ocr_pdf_pages
    from data_ingestion_py_spark.sources.pdf_pure import (
        extract_page_images,
    )
    from tests.test_ocr_pure import render, scanned_pdf

    img = render("7305")
    bilevel = np.where(img < 128, 0, 255).astype(np.uint8)
    h, w = bilevel.shape
    enc = g4_encode(bilevel)
    pdf = scanned_pdf("7305", jpeg=enc, filters="/CCITTFaxDecode")
    pdf = pdf.replace(
        b"/Filter /CCITTFaxDecode",
        b"/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns %d"
        b" /Rows %d >>" % (w, h),
    )
    imgs = extract_page_images(pdf)
    assert imgs is not None and len(imgs) == 1
    assert imgs[0][6] == "raw"
    assert np.frombuffer(imgs[0][7], np.uint8).reshape(h, w).tolist() \
        == bilevel.tolist()
    assert ocr_pdf_pages(pdf) == ["7305"]
    # mixed-2D Group 3 (K > 0) stays the honest seam
    pdf3 = pdf.replace(b"/K -1", b"/K 4")
    assert extract_page_images(pdf3) == []


def test_query_fixture_constants_regenerate_from_font():
    """The _G4_DIGIT_HEX plan-time constants in queries_mm must equal
    fresh encodings of the font glyphs — a font or encoder change
    can't silently diverge the oracle-gated fixture."""
    from data_ingestion_py_spark.queries_mm import _G4_DIGIT_HEX
    from data_ingestion_py_spark.sources.ocr_pure import DIGIT_TEMPLATES

    for d, want_hex in _G4_DIGIT_HEX.items():
        img = np.full((24, 16), 255, np.uint8)
        t = DIGIT_TEMPLATES[d]
        for r in range(3):
            for c in range(2):
                if t[r][c]:
                    img[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8] = 0
        assert g4_encode(img).hex().upper() == want_hex, d
        got = g4_decode(bytes.fromhex(want_hex), 16, 24)
        assert got is not None and (got == img).all(), d


def g3_1d_encode(img: np.ndarray, byte_align: bool = False,
                 eol: bool = False) -> bytes:
    """Independent T.4 one-dimensional encoder (modified Huffman)."""
    out = _BitWriter()
    for y in range(img.shape[0]):
        if eol:
            out.write("000000000001")
        if byte_align:
            out.bits.extend([0] * (-len(out.bits) % 8))
        white = True
        total = 0
        line = img[y]
        while total < img.shape[1]:
            run = 0
            val = 255 if white else 0
            while total + run < img.shape[1] and line[total + run] == val:
                run += 1
            _emit_run(out, run, white)
            total += run
            white = not white
    return out.bytes()


def test_g3_1d_roundtrip_and_wirings():
    """r13: Group 3 one-dimensional (T.4 MH) — the legacy fax shape —
    decodes: plain back-to-back lines, byte-aligned rows (the TIFF
    Compression-2 convention), and clean EOL separators."""
    from data_ingestion_py_spark.sources.ccitt import g3_1d_decode
    from data_ingestion_py_spark.sources.multimodal import decode_tiff_array
    from tests.test_sources import _tiff_bytes

    rng = random.Random(31)
    for trial in range(20):
        h = rng.randrange(1, 12)
        w = rng.choice([8, 17, 40, 100])
        img = _rand_img(rng, h, w, rng.choice([0.1, 0.5]))
        assert (g3_1d_decode(g3_1d_encode(img), w, h) == img).all()
        assert (
            g3_1d_decode(
                g3_1d_encode(img, byte_align=True), w, h, byte_align=True
            )
            == img
        ).all()
        assert (
            g3_1d_decode(g3_1d_encode(img, eol=True), w, h) == img
        ).all()
    # run overflow (wrong columns) refuses
    img = _rand_img(rng, 4, 40)
    assert g3_1d_decode(g3_1d_encode(img), 39, 4) is None
    # TIFF Compression 2: byte-aligned rows, no EOLs
    img = _rand_img(rng, 10, 37, 0.4)
    strips = [
        g3_1d_encode(img[:5], byte_align=True),
        g3_1d_encode(img[5:], byte_align=True),
    ]
    tif = _tiff_bytes("II", 37, 10, 0, strips, comp=2, rps=5, bps=1)
    got = decode_tiff_array(tif)
    assert got is not None and (got[2].reshape(10, 37) == img).all()


def test_pdf_ccitt_g3_k0_decodes():
    from data_ingestion_py_spark.sources.ocr_pure import ocr_pdf_pages
    from data_ingestion_py_spark.sources.pdf_pure import extract_page_images
    from tests.test_ocr_pure import render, scanned_pdf

    img = render("4242")
    bilevel = np.where(img < 128, 0, 255).astype(np.uint8)
    h, w = bilevel.shape
    enc = g3_1d_encode(bilevel)
    pdf = scanned_pdf("4242", jpeg=enc, filters="/CCITTFaxDecode")
    pdf = pdf.replace(
        b"/Filter /CCITTFaxDecode",
        b"/Filter /CCITTFaxDecode /DecodeParms << /K 0 /Columns %d"
        b" /Rows %d >>" % (w, h),
    )
    imgs = extract_page_images(pdf)
    assert imgs and imgs[0][6] == "raw"
    assert ocr_pdf_pages(pdf) == ["4242"]


def _jbig2_embedded(img: np.ndarray, *, mmr: bool = True,
                    with_page_info: bool = True,
                    seg_type: int = 38) -> bytes:
    """Independent embedded-JBIG2 writer (T.88 Annex D.2): optional
    page-info segment, then one immediate generic region whose body is
    the test G4 encoder's output (MMR == T.6)."""
    h, w = img.shape
    out = bytearray()

    def seg(num: int, stype: int, payload: bytes) -> bytes:
        s = bytearray()
        s += num.to_bytes(4, "big")
        s += bytes([stype])          # flags: type, 1-byte page assoc
        s += bytes([0])              # 0 referred-to segments
        s += bytes([1])              # page association = 1
        s += len(payload).to_bytes(4, "big")
        s += payload
        return bytes(s)

    if with_page_info:
        pi = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes(8)               # x/y resolution: unknown
            + bytes([0]) + bytes(2)  # page flags + striping info
        )
        out += seg(0, 48, pi)
    body = g4_encode(img)
    region = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes(4) + bytes(4)        # x = y = 0
        + bytes([0])                 # region flags: OR
        + bytes([1 if mmr else 0])   # generic flags: MMR bit
        + body
    )
    out += seg(1, seg_type, region)
    return bytes(out)


def test_jbig2_mmr_generic_region_decodes():
    """r14 (VERDICT stretch #4): MMR-coded JBIG2 generic regions — the
    modern scanned-fax encoding — decode through the segment walk +
    T.6 kernel; arithmetic regions and image-bearing segment types we
    can't decode refuse honestly."""
    from data_ingestion_py_spark.sources.jbig2 import (
        jbig2_generic_decode,
    )

    rng = random.Random(17)
    img = _rand_img(rng, 14, 41, 0.4)
    got = jbig2_generic_decode(_jbig2_embedded(img))
    assert got is not None and (got == img).all()
    # no page-info segment: page sized from the region extent
    got2 = jbig2_generic_decode(
        _jbig2_embedded(img, with_page_info=False)
    )
    assert got2 is not None and (got2 == img).all()
    # immediate-lossless type (39) decodes the same
    got3 = jbig2_generic_decode(_jbig2_embedded(img, seg_type=39))
    assert got3 is not None and (got3 == img).all()
    # arithmetic-coded region: honest None
    assert jbig2_generic_decode(
        _jbig2_embedded(img, mmr=False)
    ) is None
    # torn body / malformed header: honest None
    full = _jbig2_embedded(img)
    assert jbig2_generic_decode(full[: len(full) - 4]) is None
    assert jbig2_generic_decode(b"\x00\x01") is None


def test_pdf_jbig2_xobject_reads_through_ocr():
    """/JBIG2Decode image XObject end-to-end: planted PDF -> segment
    walk -> G4 kernel -> glyph OCR; a glyph page reads its digits."""
    from data_ingestion_py_spark.sources.ocr_pure import match_glyph_grid
    from data_ingestion_py_spark.sources.pdf_pure import (
        extract_page_images,
    )
    from tests.test_ocr_pure import render

    img = render("3142")
    bilevel = np.where(img < 128, 0, 255).astype(np.uint8)
    stream = _jbig2_embedded(bilevel)
    h, w = bilevel.shape
    c = b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)
    pdf = (
        b"%PDF-1.7\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        b"<< /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        + (b"4 0 obj\n<< /Length %d >>\nstream\n" % len(c))
        + c + b"\nendstream\nendobj\n"
        + (b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width %d"
           b" /Height %d /ColorSpace /DeviceGray /BitsPerComponent 1"
           b" /Filter /JBIG2Decode /Length %d >>\nstream\n"
           % (w, h, len(stream)))
        + stream + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )
    imgs = extract_page_images(pdf)
    assert imgs is not None and len(imgs) == 1
    _pno, _idx, _name, gw, gh, _bpc, kind, data = imgs[0]
    assert (gw, gh, kind) == (w, h, "raw")
    gray = np.frombuffer(data, np.uint8).reshape(h, w)
    assert match_glyph_grid(gray) == "3142"


# ---------------------------------------------------------------------
# r15: MQ arithmetic coder + arithmetic generic regions (T.88 Annex E
# + §6.2.5.7). The encoder below is INDEPENDENT — written from the
# spec's ENCODER flowcharts (CODEMPS/CODELPS/BYTEOUT/FLUSH, Figures
# E.5–E.9) while the package decoder implements the DECODER flowcharts
# — and the pair is pinned against the Annex E conformance vector
# (the same test data ISO/IEC 15444-1 ships for its identical MQ
# coder), so compensating transcription errors cannot hide.
# ---------------------------------------------------------------------

from data_ingestion_py_spark.sources.jbig2 import _QE  # noqa: E402
from data_ingestion_py_spark.sources.jbig2 import _MQDecoder  # noqa: E402


class _MQEncoder:
    """T.88 Annex E MQ encoder (test-side, spec flowcharts)."""

    def __init__(self):
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray()

    def _byteout(self):
        if self.out and self.out[-1] == 0xFF:
            self.out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            self.out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            assert self.out, "carry before first byte"
            self.out[-1] += 1
            if self.out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                self.out.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                self.out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def _renorme(self):
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def encode(self, cx, label, d):
        idx, mps = cx[label]
        qe, nmps, nlps, switch = _QE[idx]
        if d == mps:  # CODEMPS
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
            else:
                if self.a < qe:
                    self.a = qe
                else:
                    self.c += qe
                cx[label] = (nmps, mps)
                self._renorme()
        else:  # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            cx[label] = (nlps, 1 - mps if switch else mps)
            self._renorme()

    def flush(self) -> bytes:
        tempc = self.c + self.a - 1  # SETBITS
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        if not self.out or self.out[-1] != 0xFF:
            self.out.append(0xFF)
        self.out.append(0xAC)
        return bytes(self.out)


#: fixed template pixels + nominal ATs + TPGDON contexts, duplicated
#: here from the spec figures (NOT imported) so a transcription slip
#: on either side breaks the cross-tests
_T_FIXED = {
    0: [(-1, -2), (0, -2), (1, -2), (-2, -1), (-1, -1), (0, -1),
        (1, -1), (2, -1), (-4, 0), (-3, 0), (-2, 0), (-1, 0)],
    1: [(-1, -2), (0, -2), (1, -2), (2, -2), (-2, -1), (-1, -1),
        (0, -1), (1, -1), (2, -1), (-3, 0), (-2, 0), (-1, 0)],
    2: [(-1, -2), (0, -2), (1, -2), (-2, -1), (-1, -1), (0, -1),
        (1, -1), (-2, 0), (-1, 0)],
    3: [(-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), (-4, 0),
        (-3, 0), (-2, 0), (-1, 0)],
}
_T_AT = {0: [(3, -1), (-3, -1), (2, -2), (-2, -2)],
         1: [(3, -1)], 2: [(2, -1)], 3: [(2, -1)]}
_T_SLTP = (0x9B25, 0x0795, 0x00E5, 0x0195)


def mq_generic_encode(img01, template=0, at=None, tpgdon=False):
    """Independent arithmetic generic-region encoder (T.88 §6.2.5.7
    run in reverse): same fixed-bijection context labels as the
    decoder's docstring describes — (row, column) sorted, MSB first."""
    h = len(img01)
    w = len(img01[0])
    ats = list(at) if at is not None else _T_AT[template]
    pixels = sorted(_T_FIXED[template] + list(ats),
                    key=lambda p: (p[1], p[0]))
    enc = _MQEncoder()
    cx = [(0, 0)] * (1 << 16)
    ltp = 0
    for y in range(h):
        if tpgdon:
            typical = 1 if (
                y > 0 and list(img01[y]) == list(img01[y - 1])
            ) else 0
            enc.encode(cx, _T_SLTP[template], typical ^ ltp)
            ltp = typical
            if ltp:
                continue
        for x in range(w):
            label = 0
            for dx, dy in pixels:
                yy, xx = y + dy, x + dx
                v = (
                    int(img01[yy][xx])
                    if 0 <= yy and 0 <= xx < w and yy < h
                    else 0
                )
                label = (label << 1) | v
            enc.encode(cx, label, int(img01[y][x]))
    return enc.flush()


def test_mq_coder_conformance_vector():
    """Pin both coder sides against the Annex E conformance pair: 256
    bits under ONE context from state (0, MPS=0). The expected stream
    is the published MQ test vector (T.88 / ISO 15444-1 share the
    coder and the test data)."""
    test_in = bytes.fromhex(
        "00020051000000C00352872AAAAAAAAA"
        "82C02000FCD79EF6BF7FED904F46A3BF"
    )
    expected = bytes.fromhex(
        "84C73BFCE1A1430402200000410DBB86"
        "F4317FFF88FF37471ADB6ADFFFAC"
    )
    bits = [(b >> k) & 1 for b in test_in for k in range(7, -1, -1)]
    enc = _MQEncoder()
    cx = [(0, 0)]
    for b in bits:
        enc.encode(cx, 0, b)
    assert enc.flush() == expected
    dec = _MQDecoder(expected)
    cxd = [(0, 0)]
    assert [dec.decode(cxd, 0) for _ in bits] == bits


def test_mq_coder_roundtrip_random():
    """Self-consistency across context counts and bit biases,
    including streams that exercise byte stuffing and carries."""
    rng = random.Random(99)
    for _ in range(60):
        nbits = rng.randrange(1, 800)
        nctx = rng.choice([1, 3, 64])
        p = rng.choice([0.05, 0.5, 0.95])
        bits = [1 if rng.random() < p else 0 for _ in range(nbits)]
        labels = [rng.randrange(nctx) for _ in range(nbits)]
        enc = _MQEncoder()
        cxe = [(0, 0)] * nctx
        for b, lab in zip(bits, labels):
            enc.encode(cxe, lab, b)
        data = enc.flush()
        dec = _MQDecoder(data)
        cxd = [(0, 0)] * nctx
        assert [dec.decode(cxd, lab) for lab in labels] == bits


def test_jbig2_tall_narrow_region_refuses_before_decoding():
    """A region taller than 2^16 rows refuses on its header even when
    its pixel count is small: an all-white MMR line costs one bit, so
    without the row bound 16 KB of 0xFF would decode 2^17 one-pixel
    lines, one array each, before the stack."""
    import tracemalloc

    from data_ingestion_py_spark.sources.jbig2 import (
        jbig2_generic_decode,
    )

    w, h = 1, 1 << 17

    def seg(num, stype, payload):
        return (num.to_bytes(4, "big") + bytes([stype]) + bytes([0])
                + bytes([1]) + len(payload).to_bytes(4, "big") + payload)

    pi = (w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(8)
          + bytes([0]) + bytes(2))
    region = (w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(8)
              + bytes([0]) + bytes([1]) + b"\xff" * (h // 8))
    stream = seg(0, 48, pi) + seg(1, 38, region)
    tracemalloc.start()
    try:
        got = jbig2_generic_decode(stream)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert got is None
    assert peak < 1 << 20


def test_jbig2_arith_generic_region_all_templates():
    """The generic region decoding procedure against the independent
    encoder: every GB template, TPGDON on/off (including rows that
    genuinely repeat so typical prediction engages), and moved AT
    pixels."""
    from data_ingestion_py_spark.sources.jbig2 import (
        generic_region_arith,
    )

    rng = random.Random(5)
    for template in range(4):
        for tpgdon in (False, True):
            img = _rand_img(rng, 13, 23, 0.35)
            bits = (img == 0).astype(np.uint8)  # 1 = black ink
            if tpgdon:
                bits[4] = bits[3]  # a typical row
                bits[5] = bits[4]
            data = mq_generic_encode(
                bits.tolist(), template=template, tpgdon=tpgdon
            )
            got = generic_region_arith(
                data, 23, 13, template=template, tpgdon=tpgdon
            )
            assert got is not None, (template, tpgdon)
            assert (got == bits).all(), (template, tpgdon)
    # moved AT pixels (template 0: all four; template 1: one)
    img = _rand_img(rng, 9, 17, 0.4)
    bits = (img == 0).astype(np.uint8)
    for template, at in ((0, [(1, -1), (-2, -1), (3, -2), (-3, -2)]),
                         (1, [(-1, -2)])):
        data = mq_generic_encode(bits.tolist(), template=template, at=at)
        got = generic_region_arith(
            data, 17, 9, template=template, at=tuple(at)
        )
        assert got is not None and (got == bits).all(), template
    # refusals: AT referencing unseen data, bad geometry
    assert generic_region_arith(b"\x00", 4, 4, at=((0, 0),) * 4) is None
    assert generic_region_arith(b"\x00", 4, 4, at=((1, 1),) * 4) is None
    assert generic_region_arith(b"\x00", 0, 4) is None
    assert generic_region_arith(b"\x00", 4, 4, template=9) is None


def _jbig2_embedded_arith(img: np.ndarray, *, template: int = 0,
                          tpgdon: bool = False) -> bytes:
    """Embedded-JBIG2 writer for an ARITHMETIC immediate generic
    region (nominal ATs serialized in the segment header)."""
    h, w = img.shape
    bits = (img == 0).astype(np.uint8)
    body = mq_generic_encode(bits.tolist(), template=template,
                             tpgdon=tpgdon)
    at_bytes = b"".join(
        bytes([ax & 0xFF, ay & 0xFF]) for ax, ay in _T_AT[template]
    )
    gflags = ((template & 3) << 1) | (8 if tpgdon else 0)

    def seg(num, stype, payload):
        return (num.to_bytes(4, "big") + bytes([stype]) + bytes([0])
                + bytes([1]) + len(payload).to_bytes(4, "big") + payload)

    pi = (w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(8)
          + bytes([0]) + bytes(2))
    region = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
              + bytes(4) + bytes(4) + bytes([0]) + bytes([gflags])
              + at_bytes + body)
    return seg(0, 48, pi) + seg(1, 38, region)


def test_jbig2_arith_segment_walk_decodes():
    """r15 (VERDICT task #1): arithmetic generic regions — the
    MAJORITY encoding of modern scanned PDFs — decode through the
    segment walk; EXTTEMPLATE still refuses."""
    from data_ingestion_py_spark.sources.jbig2 import (
        jbig2_generic_decode,
    )

    rng = random.Random(23)
    img = _rand_img(rng, 21, 33, 0.4)
    for template in range(4):
        got = jbig2_generic_decode(
            _jbig2_embedded_arith(img, template=template)
        )
        assert got is not None and (got == img).all(), template
    got = jbig2_generic_decode(_jbig2_embedded_arith(img, tpgdon=True))
    assert got is not None and (got == img).all()
    # EXTTEMPLATE bit: honest refusal
    stream = bytearray(_jbig2_embedded_arith(img))
    # generic flags byte = segment 2's region payload offset 17
    # (11-byte header + 17 into payload); flip EXTTEMPLATE
    pi_len = 11 + 19  # segment header + page-info payload
    flags_off = pi_len + 11 + 17  # region seg header + info bytes
    stream[flags_off] |= 0x10
    assert jbig2_generic_decode(bytes(stream)) is None
    # torn stream (data length past the end): segment-level refusal —
    # MQ data itself is not self-delimiting, so the dlen guard is the
    # only honest torn-file detector
    full = _jbig2_embedded_arith(img)
    assert jbig2_generic_decode(full[:-4]) is None


def test_pdf_jbig2_arith_xobject_reads_through_ocr():
    """/JBIG2Decode ARITHMETIC XObject end-to-end: planted PDF ->
    segment walk -> MQ generic region -> glyph OCR."""
    from data_ingestion_py_spark.sources.ocr_pure import match_glyph_grid
    from data_ingestion_py_spark.sources.pdf_pure import (
        extract_page_images,
    )
    from tests.test_ocr_pure import render

    img = render("7709")
    bilevel = np.where(img < 128, 0, 255).astype(np.uint8)
    stream = _jbig2_embedded_arith(bilevel)
    h, w = bilevel.shape
    c = b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)
    pdf = (
        b"%PDF-1.7\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        b"<< /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        + (b"4 0 obj\n<< /Length %d >>\nstream\n" % len(c))
        + c + b"\nendstream\nendobj\n"
        + (b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width %d"
           b" /Height %d /ColorSpace /DeviceGray /BitsPerComponent 1"
           b" /Filter /JBIG2Decode /Length %d >>\nstream\n"
           % (w, h, len(stream)))
        + stream + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )
    imgs = extract_page_images(pdf)
    assert imgs is not None and len(imgs) == 1
    _pno, _idx, _name, gw, gh, _bpc, kind, data = imgs[0]
    assert (gw, gh, kind) == (w, h, "raw")
    gray = np.frombuffer(data, np.uint8).reshape(h, w)
    assert match_glyph_grid(gray) == "7709"


def test_g3_2d_mixed_roundtrip_and_refusals():
    """r15 (VERDICT #4): mixed-2D Group 3 (T.4 K>0) — EOL+tag framed
    lines interleaving 1D modified-Huffman and G4-style 2D coding —
    round-trips against the independent encoder across K values and
    both fill conventions; malformed framing refuses."""
    from data_ingestion_py_spark.sources.ccitt import g3_2d_decode

    rng = random.Random(47)
    for trial in range(25):
        h = rng.randrange(1, 14)
        w = rng.choice([8, 23, 40, 100])
        img = _rand_img(rng, h, w, rng.choice([0.1, 0.4, 0.7]))
        k = rng.choice([1, 2, 4, 100])
        ba = rng.random() < 0.5
        data = g3_2d_encode(img, k=k, byte_align=ba)
        got = g3_2d_decode(data, w, h)
        assert got is not None and (got == img).all(), (trial, k, ba)
    # rows=None: RTC terminates
    img = _rand_img(rng, 7, 21, 0.4)
    got = g3_2d_decode(g3_2d_encode(img, k=3), 21)
    assert got is not None and (got == img).all()
    # wrong columns -> run overflow refuses
    assert g3_2d_decode(g3_2d_encode(img, k=3), 20, 7) is None
    # row-count mismatch refuses
    assert g3_2d_decode(g3_2d_encode(img, k=3), 21, 8) is None
    # a stray 1 bit before the first EOL refuses
    assert g3_2d_decode(b"\x80" + g3_2d_encode(img), 21, 7) is None
    # a 2D-tagged FIRST line (nothing above it) refuses
    bad = _BitWriter()
    bad.write("000000000001" + "0" + "1")
    assert g3_2d_decode(bad.bytes(), 21) is None


def test_g3_2d_tiff_compression3_and_pdf_k1():
    """The two real-world carriers of mixed-2D G3: TIFF Compression 3
    with T4Options bit 0 (+ bit-2 aligned-EOL fill), and PDF
    /CCITTFaxDecode /K 1 — decoded end-to-end through OCR; T4Options
    bit 1 (uncompressed mode) refuses."""
    from data_ingestion_py_spark.sources.multimodal import decode_tiff_array
    from data_ingestion_py_spark.sources.ocr_pure import ocr_pdf_pages
    from data_ingestion_py_spark.sources.pdf_pure import extract_page_images
    from tests.test_ocr_pure import render, scanned_pdf
    from tests.test_sources import _tiff_bytes

    rng = random.Random(53)
    img = _rand_img(rng, 10, 37, 0.4)
    for t4opts, ba in ((1, False), (5, True)):
        strips = [
            g3_2d_encode(img[:5], k=2, byte_align=ba),
            g3_2d_encode(img[5:], k=2, byte_align=ba),
        ]
        tif = _tiff_bytes("II", 37, 10, 0, strips, comp=3, rps=5,
                          bps=1, t4options=t4opts)
        got = decode_tiff_array(tif)
        assert got is not None, t4opts
        assert (got[2].reshape(10, 37) == img).all(), t4opts
    # T4Options bit 0 clear: 1D-with-EOLs lines per strip
    strips = [
        g3_1d_encode(img[:5], eol=True),
        g3_1d_encode(img[5:], eol=True),
    ]
    tif = _tiff_bytes("II", 37, 10, 0, strips, comp=3, rps=5, bps=1,
                      t4options=0)
    got = decode_tiff_array(tif)
    assert got is not None and (got[2].reshape(10, 37) == img).all()
    # uncompressed mode (bit 1): honest refusal
    tif = _tiff_bytes("II", 37, 10, 0, strips, comp=3, rps=5, bps=1,
                      t4options=2)
    assert decode_tiff_array(tif) is None

    # PDF /K 1 through the image walk + OCR
    glyph = render("8051")
    bilevel = np.where(glyph < 128, 0, 255).astype(np.uint8)
    h, w = bilevel.shape
    enc = g3_2d_encode(bilevel, k=2)
    pdf = scanned_pdf("8051", jpeg=enc, filters="/CCITTFaxDecode")
    pdf = pdf.replace(
        b"/Filter /CCITTFaxDecode",
        b"/Filter /CCITTFaxDecode /DecodeParms << /K 1 /Columns %d"
        b" /Rows %d >>" % (w, h),
    )
    imgs = extract_page_images(pdf)
    assert imgs and imgs[0][6] == "raw"
    assert ocr_pdf_pages(pdf) == ["8051"]


def test_jbig2_template0_fast_path_matches_generic(monkeypatch):
    """r16: the template-0 nominal-AT context now updates by
    incremental shifts instead of a 16-entry template walk. Pin the
    fast path bit-for-bit against the generic walk on ARBITRARY MQ
    streams (random bytes are a valid MQ decoder input) across
    geometries, with and without TPGDON."""
    from data_ingestion_py_spark.sources import jbig2

    rng = random.Random(42)
    nominal = jbig2._AT_DEFAULTS[0]
    for _ in range(8):
        w = rng.randint(1, 40)
        h = rng.randint(1, 30)
        data = bytes(rng.randrange(256) for _ in range(rng.randint(4, 300)))
        tp = rng.random() < 0.5
        fast = jbig2.generic_region_arith(data, w, h, 0, None, tp)
        with monkeypatch.context() as m:
            # disable the fast-path equality so the SAME nominal ATs
            # route through the generic template walk
            m.setitem(jbig2._AT_DEFAULTS, 0, ((99, -9),) * 4)
            slow = jbig2.generic_region_arith(data, w, h, 0, nominal, tp)
        assert fast is not None and slow is not None
        assert np.array_equal(fast, slow), (w, h, tp)
