"""CCITT Group 4 (ITU-T T.6) bilevel decoder — pure stdlib.

With the r12 JPEG kernel this closes the other half of the real
scanned-document world: wild scanned PDFs/TIFFs are overwhelmingly
either /DCTDecode (photographic scans) or /CCITTFaxDecode Group 4
(bilevel fax-style scans, TIFF Compression 4). T.6 is pure 2D MMR
coding: each line is coded against the line above through pass /
vertical / horizontal modes, with the T.4 modified-Huffman run-length
tables for horizontal runs.

Decoder surface: ``g4_decode(data, columns, rows) -> np.ndarray``
(uint8, 0 = black ink, 255 = white paper — the raster convention the
glyph matcher and pixel checksums already use; CCITT's native "1 =
black" maps onto it, and /BlackIs1 only flips the PDF's *stored*
convention, handled by the callers). Corrupt streams, over-long
lines, or truncation → None, never guessed pixels.

Scope (grown across rounds): ``g4_decode`` — K < 0 pure Group 4 (TIFF
Compression 4 / PDF ``/K -1``, what modern scanners emit);
``g3_1d_decode`` — 1D Group 3 (r13: TIFF Compression 2, PDF /K 0,
EncodedByteAlign); ``g3_2d_decode`` — mixed-2D Group 3, T.4 K > 0
(r15: TIFF Compression 3 with T4Options bit 0, PDF /K 1), EOL+tag
framed lines sharing the G4 mode decoder. Byte-flipped ``/BlackIs1``
rasters remain the callers' documented seam.

The code tables are transcribed from ITU-T T.4 Tables 2/3 (terminating
and make-up codes) and the shared extended make-up set; the pytest
suite round-trips against an independent from-the-spec encoder, and a
test skipped without Pillow cross-checks against libtiff's G4
writer where available.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

from data_ingestion_py_spark.sources.bits import (
    MAX_ROWS,
    MsbBits,
    Refused,
    none_on_refusal,
    prefix_trie,
)

# (run_length, bits_as_string) — ITU-T T.4 Table 2 (white) / 3 (black)
_WHITE_CODES = [
    (0, "00110101"), (1, "000111"), (2, "0111"), (3, "1000"),
    (4, "1011"), (5, "1100"), (6, "1110"), (7, "1111"),
    (8, "10011"), (9, "10100"), (10, "00111"), (11, "01000"),
    (12, "001000"), (13, "000011"), (14, "110100"), (15, "110101"),
    (16, "101010"), (17, "101011"), (18, "0100111"), (19, "0001100"),
    (20, "0001000"), (21, "0010111"), (22, "0000011"), (23, "0000100"),
    (24, "0101000"), (25, "0101011"), (26, "0010011"), (27, "0100100"),
    (28, "0011000"), (29, "00000010"), (30, "00000011"),
    (31, "00011010"), (32, "00011011"), (33, "00010010"),
    (34, "00010011"), (35, "00010100"), (36, "00010101"),
    (37, "00010110"), (38, "00010111"), (39, "00101000"),
    (40, "00101001"), (41, "00101010"), (42, "00101011"),
    (43, "00101100"), (44, "00101101"), (45, "00000100"),
    (46, "00000101"), (47, "00001010"), (48, "00001011"),
    (49, "01010010"), (50, "01010011"), (51, "01010100"),
    (52, "01010101"), (53, "00100100"), (54, "00100101"),
    (55, "01011000"), (56, "01011001"), (57, "01011010"),
    (58, "01011011"), (59, "01001010"), (60, "01001011"),
    (61, "00110010"), (62, "00110011"), (63, "00110100"),
    (64, "11011"), (128, "10010"), (192, "010111"), (256, "0110111"),
    (320, "00110110"), (384, "00110111"), (448, "01100100"),
    (512, "01100101"), (576, "01101000"), (640, "01100111"),
    (704, "011001100"), (768, "011001101"), (832, "011010010"),
    (896, "011010011"), (960, "011010100"), (1024, "011010101"),
    (1088, "011010110"), (1152, "011010111"), (1216, "011011000"),
    (1280, "011011001"), (1344, "011011010"), (1408, "011011011"),
    (1472, "010011000"), (1536, "010011001"), (1600, "010011010"),
    (1664, "011000"), (1728, "010011011"),
]
_BLACK_CODES = [
    (0, "0000110111"), (1, "010"), (2, "11"), (3, "10"),
    (4, "011"), (5, "0011"), (6, "0010"), (7, "00011"),
    (8, "000101"), (9, "000100"), (10, "0000100"), (11, "0000101"),
    (12, "0000111"), (13, "00000100"), (14, "00000111"),
    (15, "000011000"), (16, "0000010111"), (17, "0000011000"),
    (18, "0000001000"), (19, "00001100111"), (20, "00001101000"),
    (21, "00001101100"), (22, "00000110111"), (23, "00000101000"),
    (24, "00000010111"), (25, "00000011000"), (26, "000011001010"),
    (27, "000011001011"), (28, "000011001100"), (29, "000011001101"),
    (30, "000001101000"), (31, "000001101001"), (32, "000001101010"),
    (33, "000001101011"), (34, "000011010010"), (35, "000011010011"),
    (36, "000011010100"), (37, "000011010101"), (38, "000011010110"),
    (39, "000011010111"), (40, "000001101100"), (41, "000001101101"),
    (42, "000011011010"), (43, "000011011011"), (44, "000001010100"),
    (45, "000001010101"), (46, "000001010110"), (47, "000001010111"),
    (48, "000001100100"), (49, "000001100101"), (50, "000001010010"),
    (51, "000001010011"), (52, "000000100100"), (53, "000000110111"),
    (54, "000000111000"), (55, "000000100111"), (56, "000000101000"),
    (57, "000001011000"), (58, "000001011001"), (59, "000000101011"),
    (60, "000000101100"), (61, "000001011010"), (62, "000001100110"),
    (63, "000001100111"),
    (64, "0000001111"), (128, "000011001000"), (192, "000011001001"),
    (256, "000001011011"), (320, "000000110011"), (384, "000000110100"),
    (448, "000000110101"), (512, "0000001101100"),
    (576, "0000001101101"), (640, "0000001001010"),
    (704, "0000001001011"), (768, "0000001001100"),
    (832, "0000001001101"), (896, "0000001110010"),
    (960, "0000001110011"), (1024, "0000001110100"),
    (1088, "0000001110101"), (1152, "0000001110110"),
    (1216, "0000001110111"), (1280, "0000001010010"),
    (1344, "0000001010011"), (1408, "0000001010100"),
    (1472, "0000001010101"), (1536, "0000001011010"),
    (1600, "0000001011011"), (1664, "0000001100100"),
    (1728, "0000001100101"),
]
# extended make-up codes, shared by both colors (T.4 Table 4)
_EXT_CODES = [
    (1792, "00000001000"), (1856, "00000001100"), (1920, "00000001101"),
    (1984, "000000010010"), (2048, "000000010011"),
    (2112, "000000010100"), (2176, "000000010101"),
    (2240, "000000010110"), (2304, "000000010111"),
    (2368, "000000011100"), (2432, "000000011101"),
    (2496, "000000011110"), (2560, "000000011111"),
]


_WHITE_TREE = prefix_trie(
    (bits, run) for run, bits in _WHITE_CODES + _EXT_CODES
)
_BLACK_TREE = prefix_trie(
    (bits, run) for run, bits in _BLACK_CODES + _EXT_CODES
)


def _read_run(bits: MsbBits, white: bool) -> int:
    """One T.4 run length: make-up codes accumulate until a
    terminating (<64) code arrives."""
    tree = _WHITE_TREE if white else _BLACK_TREE
    total = 0
    for _ in range(16):  # ≥2560/64 make-ups would be corrupt anyway
        run = bits.read_code(tree)
        if run is None:
            raise Refused("no T.4 run code")
        total += run
        if run < 64:
            return total
    raise Refused("too many make-up codes")


def _row_limit(rows: int | None) -> int:
    """Lines to decode at most: ``rows`` when the container states it
    (refused above ``MAX_ROWS``), else one past ``MAX_ROWS`` so that an
    over-tall stream reaches ``_stacked``'s refusal."""
    if rows is not None and rows > MAX_ROWS:
        raise Refused("fax row count over the bound")
    return MAX_ROWS + 1 if rows is None else rows


def _stacked(out: list[np.ndarray], rows: int | None) -> np.ndarray:
    """The decoded lines as one raster; refused when their count is
    over ``MAX_ROWS``, differs from the stated ``rows``, or is zero."""
    if len(out) > MAX_ROWS or (rows is not None and len(out) != rows):
        raise Refused("fax row count")
    if not out:
        raise Refused("no fax lines")
    return np.stack(out)


@none_on_refusal
def g3_1d_decode(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
    allow_eol: bool = True,
) -> "np.ndarray | None":
    """Group 3 one-dimensional (T.4 modified Huffman) → (h, columns)
    uint8 raster, 0=black/255=white: each line is a plain run-length
    sequence starting white that must sum to EXACTLY ``columns``.
    ``byte_align`` starts every line on a byte boundary (TIFF
    Compression 2, and PDF ``/EncodedByteAlign true``);
    ``allow_eol`` skips clean 12-bit EOL codes (and their RTC tail)
    between lines. None on run-sum overflow/underflow, bad codes, or a
    row-count mismatch."""
    if columns <= 0 or columns > 1 << 16:
        raise Refused("fax line width")
    bits = MsbBits(data)
    out: list[np.ndarray] = []
    max_rows = _row_limit(rows)
    while len(out) < max_rows:
        if byte_align:
            bits.align()
        while allow_eol and bits.peek(12) == 0b000000000001:
            bits.pos += 12
        if bits.rest_is_zero():
            break  # zero padding after the last line
        line = np.full(columns, 255, np.uint8)
        total = 0
        white = True
        while total < columns:
            run = _read_run(bits, white)
            if total + run > columns:
                raise Refused("1D runs overflow the line")
            if not white:
                line[total : total + run] = 0
            total += run
            white = not white
        out.append(line)
    return _stacked(out, rows)


@none_on_refusal
def g4_decode(
    data: bytes, columns: int, rows: int | None = None
) -> "np.ndarray | None":
    """Group 4 (T.6, K<0) → (h, columns) uint8 raster, 0=black ink /
    255=white paper. ``rows`` bounds the output (PDF /Rows, TIFF
    ImageLength); decoding also stops at EOFB or stream end. None on
    any malformed mode code, run overflow, or truncated line, and on
    more than ``bits.MAX_ROWS`` rows, stated or decoded."""
    if columns <= 0 or columns > 1 << 16:
        raise Refused("fax line width")
    bits = MsbBits(data)
    # reference transitions for the imaginary all-white line above
    ref: list[int] = [columns, columns]
    out: list[np.ndarray] = []
    max_rows = _row_limit(rows)
    while len(out) < max_rows:
        # encoder zero-padding to the byte boundary after the last line
        if bits.rest_is_zero():
            break
        # EOFB: 000000000001 000000000001
        if bits.peek(24) == 0b000000000001000000000001:
            break
        cur = _decode_2d_line(bits, ref, columns)
        out.append(_render_line(cur, columns))
        ref = cur + [columns, columns]
    return _stacked(out, rows)


def _decode_2d_line(
    bits: MsbBits, ref: list[int], columns: int
) -> list[int]:
    """One 2D-coded line (pass / vertical / horizontal modes against
    the reference line's changing elements) → its transition
    positions; ``Refused`` on any malformed code. Shared by T.6 Group 4
    and the 2D lines of mixed-2D Group 3 (T.4 K>0) — the coding is
    identical; only framing differs (T.88 §6.2.6 makes the same
    observation for JBIG2 MMR)."""
    cur: list[int] = []  # transition positions of this line
    a0 = -1
    color_white = True
    guard = 0
    while a0 < columns:
        guard += 1
        if guard > 4 * columns + 16:
            raise Refused("2D line does not end")
        # Changing elements alternate: EVEN index = white→black,
        # ODD = black→white (lines start white). b1 = first ref
        # transition strictly right of a0 whose change is to the
        # OPPOSITE of the current color — i.e. even index while
        # the current run is white, odd while black.
        idx = bisect_right(ref, a0 if a0 >= 0 else -1)
        if (idx % 2 == 0) != color_white:
            idx += 1
        b1 = ref[idx] if idx < len(ref) else columns
        b2 = ref[idx + 1] if idx + 1 < len(ref) else columns
        p = bits.peek(7)
        if p >> 6 == 0b1:  # V0
            bits.pos += 1
            a1 = b1
        elif p >> 4 == 0b011:  # VR1
            bits.pos += 3
            a1 = b1 + 1
        elif p >> 4 == 0b010:  # VL1
            bits.pos += 3
            a1 = b1 - 1
        elif p >> 4 == 0b001:  # horizontal
            bits.pos += 3
            start = max(a0, 0)
            t1 = start + _read_run(bits, color_white)
            t2 = t1 + _read_run(bits, not color_white)
            if t2 > columns:
                raise Refused("horizontal runs overflow the line")
            cur.append(t1)
            cur.append(t2)
            a0 = t2
            continue  # color unchanged (two runs consumed)
        elif p >> 3 == 0b0001:  # pass
            bits.pos += 4
            a0 = b2
            continue
        elif p >> 1 == 0b000011:  # VR2
            bits.pos += 6
            a1 = b1 + 2
        elif p >> 1 == 0b000010:  # VL2
            bits.pos += 6
            a1 = b1 - 2
        elif p == 0b0000011:  # VR3
            bits.pos += 7
            a1 = b1 + 3
        elif p == 0b0000010:  # VL3
            bits.pos += 7
            a1 = b1 - 3
        else:
            raise Refused("no 2D mode code")  # EOL mid-line, or garbage
        if a1 < 0 or a1 > columns or (cur and a1 < cur[-1]):
            raise Refused("vertical mode leaves the line")
        cur.append(a1)
        a0 = a1
        color_white = not color_white
    return cur


def _render_line(cur: list[int], columns: int) -> "np.ndarray":
    """Transition positions → uint8 line (0=black/255=white)."""
    line = np.full(columns, 255, np.uint8)
    for i in range(0, len(cur) - (len(cur) % 2), 2):
        line[cur[i] : cur[i + 1] if i + 1 < len(cur) else columns] = 0
    if len(cur) % 2 == 1:
        line[cur[-1] :] = 0
    return line


def _decode_1d_line(bits: MsbBits, columns: int) -> list[int]:
    """One T.4 modified-Huffman 1D line → transition positions (run
    sums must hit ``columns`` exactly); used by the 1D-tagged lines
    of mixed-2D Group 3, where the next line's 2D coding needs the
    transitions, not just the pixels."""
    cur: list[int] = []
    total = 0
    white = True
    while total < columns:
        total += _read_run(bits, white)
        if total > columns:
            raise Refused("1D runs overflow the line")
        if total < columns:
            cur.append(total)
        white = not white
    return cur


@none_on_refusal
def g3_2d_decode(
    data: bytes,
    columns: int,
    rows: int | None = None,
) -> "np.ndarray | None":
    """Mixed two-dimensional Group 3 (T.4 K>0 — PDF ``/CCITTFaxDecode
    /K 1``, TIFF Compression 3 with T4Options bit 0) → (h, columns)
    uint8 raster, 0=black/255=white. Every line is framed EOL
    (000000000001, after optional zero FILL) + a 1-bit tag: 1 = the
    line is 1D modified-Huffman coded, 0 = 2D-coded against the line
    above with the SAME pass/vertical/horizontal modes as Group 4.
    The encoder's K parameter only bounds how often 1D lines recur —
    the tag bits are self-describing, so the decoder needs no K. No
    byte-align parameter either: FILL bits are zeros wherever the
    writer put them (TIFF T4Options bit 2 aligns the EOL's END; PDF
    /EncodedByteAlign its start), and the zero-skip before each EOL
    subsumes every placement. Ends at RTC (consecutive EOLs) or
    stream end; None on a stray bit before an EOL, a 2D-tagged FIRST
    line, any malformed code, or a row-count mismatch."""
    if columns <= 0 or columns > 1 << 16:
        raise Refused("fax line width")
    bits = MsbBits(data)
    ref: list[int] | None = None  # no reference before the first line
    out: list[np.ndarray] = []
    max_rows = _row_limit(rows)
    while len(out) < max_rows:
        # FILL (zero bits) then EOL; a 1 before 11 zeros is garbage
        if bits.rest_is_zero():
            break
        if bits.unary() < 11:
            raise Refused("stray bit before EOL")
        if bits.pos >= bits.n:
            break
        tag = bits.read1()
        # RTC: the next thing after EOL+tag is another EOL (no T.4
        # code has 11 leading zeros, so this cannot shadow line data)
        if bits.peek(12) == 0b000000000001:
            break
        if tag:
            cur = _decode_1d_line(bits, columns)
        else:
            if ref is None:
                raise Refused("first line is 2D-coded")
            cur = _decode_2d_line(bits, ref + [columns, columns],
                                  columns)
        out.append(_render_line(cur, columns))
        ref = cur
    return _stacked(out, rows)
