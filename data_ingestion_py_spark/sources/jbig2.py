"""JBIG2 (ITU-T T.88) embedded-stream decode for generic regions —
the modern scanned-fax encoding (r14 MMR; r15 adds the MQ arithmetic
coder, the MAJORITY encoding of real scanner output).

Two generic-region codings exist (T.88 §6.2):

- **MMR** (Modified Modified READ) is EXACTLY T.6 Group-4 coding
  (T.88 §6.2.6 delegates to T.4/T.6), routed to the r13 fax kernel
  (``sources/ccitt.g4_decode``).
- **Arithmetic** (r15, VERDICT task #1): the MQ coder of T.88 Annex E
  (the same coder JPEG 2000 uses) driving the template-based generic
  region decoding procedure of §6.2.5.7 — GB templates 0–3, adaptive
  (AT) pixels, and TPGDON typical-prediction row skipping. This is
  what today's scanners overwhelmingly emit.

Context-label convention: neighbours are ordered by (row, column)
with the AT pixels merged in, MSB first. For nominal AT positions
this IS the spec's figure layout; for moved ATs it is a fixed
bijection of neighbourhood patterns onto labels, which decodes
identically because both coder sides adapt per-label state under the
same map (the well-known property production decoders rely on).

Honesty contract: symbol/text/halftone/refinement segments, the
EXTTEMPLATE extension, unknown data lengths (0xFFFFFFFF), and
multi-region composition beyond simple top-level placement all return
None — the documented seam; never guessed pixels. Bit convention:
JBIG2's 1 = black maps to the fax kernel's 0=black/255=white gray8
output unchanged.

Reference tie-in: the reference reads scanned pages through fitz
(data_ingestion.py:116), which inlines its own JBIG2 decoder; this is
the extras-free counterpart for the generic-region class.
"""

from __future__ import annotations

import numpy as np

from data_ingestion_py_spark.sources.bits import (
    MAX_PIXELS,
    MAX_ROWS,
    Refused,
    none_on_refusal,
)

#: segment types (T.88 §7.3)
_IMMEDIATE_GENERIC = (38, 39)  # immediate / immediate lossless
_INTERMEDIATE_GENERIC = 36
_PAGE_INFO = 48

# ---------------------------------------------------------------------
# MQ arithmetic decoder (T.88 Annex E, software conventions): the
# probability-state table E.1 — (Qe, NMPS, NLPS, SWITCH) per index —
# and the INITDEC/BYTEIN/DECODE/RENORMD procedures of Figures
# E.17–E.20. Reading past the end of the data feeds 0xFF bytes (the
# marker-terminated convention every embedded stream relies on).
# ---------------------------------------------------------------------

_QE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)


class _MQDecoder:
    """T.88 Annex E MQ decoder over one byte string. ``decode(cx,
    label)`` returns the next bit under the adaptive context ``label``
    where ``cx`` is a mutable list of per-label ``(index, mps)``
    state pairs shared across calls."""

    __slots__ = ("data", "bp", "c", "a", "ct")

    def __init__(self, data: bytes):
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        data, bp, n = self.data, self.bp, len(self.data)
        b = data[bp] if bp < n else 0xFF
        if b == 0xFF:
            b1 = data[bp + 1] if bp + 1 < n else 0xFF
            if b1 > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            b1 = data[bp + 1] if bp + 1 < n else 0xFF
            self.c += b1 << 8
            self.ct = 8

    def decode(self, cx: list, label: int) -> int:
        # State fully localized and written back once (r16, guide §1.2
        # per-task work — this is the shared inner loop of the JPX
        # EBCOT and JBIG2 generic-region kernels): the common
        # MPS-no-renorm path is two attribute writes. Decision logic
        # is the unchanged T.88 E.16/E.18 flow, pinned by the Annex H
        # conformance vector test.
        idx, mps = cx[label]
        qe, nmps, nlps, switch = _QE[idx]
        a = self.a - qe
        c = self.c
        if ((c >> 16) & 0xFFFF) < qe:
            # LPS exchange (Figure E.18)
            if a < qe:
                d = mps
                cx[label] = (nmps, mps)
            else:
                d = 1 - mps
                cx[label] = (nlps, 1 - mps if switch else mps)
            a = qe
        else:
            c -= qe << 16
            if a & 0x8000:
                self.a = a
                self.c = c
                return mps
            # MPS exchange (Figure E.16)
            if a < qe:
                d = 1 - mps
                cx[label] = (nlps, 1 - mps if switch else mps)
            else:
                d = mps
                cx[label] = (nmps, mps)
        # RENORMD
        ct = self.ct
        while True:
            if ct == 0:
                self.c = c
                self._bytein()
                c = self.c
                ct = self.ct
            a = (a << 1) & 0xFFFF
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
            if a & 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct
        return d


#: fixed (non-AT) neighbours per GB template (T.88 Figures 4–7),
#: already in (row, column) order
_GB_FIXED = {
    0: ((-1, -2), (0, -2), (1, -2), (-2, -1), (-1, -1), (0, -1),
        (1, -1), (2, -1), (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
    1: ((-1, -2), (0, -2), (1, -2), (2, -2), (-2, -1), (-1, -1),
        (0, -1), (1, -1), (2, -1), (-3, 0), (-2, 0), (-1, 0)),
    2: ((-1, -2), (0, -2), (1, -2), (-2, -1), (-1, -1), (0, -1),
        (1, -1), (-2, 0), (-1, 0)),
    3: ((-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), (-4, 0),
        (-3, 0), (-2, 0), (-1, 0)),
}

#: nominal AT positions per template (T.88 §6.2.5.3)
_AT_DEFAULTS = {
    0: ((3, -1), (-3, -1), (2, -2), (-2, -2)),
    1: ((3, -1),),
    2: ((2, -1),),
    3: ((2, -1),),
}

#: TPGDON pseudo-pixel context per template (T.88 §6.2.5.7)
_TPGDON_CTX = (0x9B25, 0x0795, 0x00E5, 0x0195)


@none_on_refusal
def generic_region_arith(
    data: bytes,
    w: int,
    h: int,
    template: int = 0,
    at: "tuple[tuple[int, int], ...] | None" = None,
    tpgdon: bool = False,
) -> "np.ndarray | None":
    """Arithmetic generic region decoding procedure (T.88 §6.2.5.7):
    MQ-decode an (h, w) bilevel raster under GB ``template`` with AT
    pixels ``at`` (nominal when None) and optional TPGDON
    typical-prediction (an LTP flip bit per row; a 'typical' row
    copies the previous row). Returns a 0/1 uint8 array (1 = black
    ink) — the segment walk maps it to the fax-kernel gray
    convention — or None for bad geometry / out-of-range params.
    An AT pixel must not reference unseen data (dy > 0, or dy == 0
    with dx >= 0): refused."""
    if template not in _GB_FIXED or w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise Refused("generic region geometry")
    ats = tuple(at) if at is not None else _AT_DEFAULTS[template]
    if len(ats) != len(_AT_DEFAULTS[template]):
        raise Refused("AT pixel count")
    pixels = list(_GB_FIXED[template])
    for ax, ay in ats:
        if ay > 0 or (ay == 0 and ax >= 0):
            raise Refused("AT pixel references unseen data")
        if not (-128 <= ax <= 127 and -128 <= ay <= 127):
            raise Refused("AT pixel out of range")
        pixels.append((ax, ay))
    # (row, column) order, MSB first — the fixed label bijection
    pixels.sort(key=lambda p: (p[1], p[0]))
    dec = _MQDecoder(data)
    cx = [(0, 0)] * (1 << 16)
    bitmap = np.zeros((h, w), dtype=np.uint8)
    rows: list = bitmap.tolist()
    ltp = 0
    pseudo = _TPGDON_CTX[template]
    # r16 fast path (guide §1.2 per-task work): template 0 with the
    # NOMINAL ATs — the overwhelming majority encoding of real scanner
    # output — has a fully CONTIGUOUS context window in exactly the
    # sorted (row, column) label order the generic walk produces:
    # row −2: dx −2..2 (5 bits), row −1: dx −3..3 (7 bits), row 0:
    # dx −4..−1 (4 bits). The 16-bit label therefore updates with
    # three shifts per pixel instead of a 16-entry template walk —
    # bit-identical labels by construction, pinned against the generic
    # walk on arbitrary MQ streams in tests/test_ccitt.py. Every other
    # template/AT combination takes the generic walk below.
    if template == 0 and ats == _AT_DEFAULTS[0]:
        pad = [0, 0, 0, 0]
        zero_row = [0] * (w + 4)
        for y in range(h):
            if tpgdon:
                ltp ^= dec.decode(cx, pseudo)
                if ltp:
                    if y > 0:
                        rows[y] = list(rows[y - 1])
                    continue
            row = rows[y]
            rm1 = (rows[y - 1] + pad) if y >= 1 else zero_row
            rm2 = (rows[y - 2] + pad) if y >= 2 else zero_row
            r2 = (rm2[0] << 2) | (rm2[1] << 1) | rm2[2]
            r1 = (rm1[0] << 3) | (rm1[1] << 2) | (rm1[2] << 1) | rm1[3]
            r0 = 0
            decode = dec.decode
            for x in range(w):
                v = decode(cx, (r2 << 11) | (r1 << 4) | r0)
                row[x] = v
                r2 = ((r2 << 1) & 31) | rm2[x + 3]
                r1 = ((r1 << 1) & 127) | rm1[x + 4]
                r0 = ((r0 << 1) & 15) | v
        return np.array(rows, dtype=np.uint8)
    for y in range(h):
        if tpgdon:
            ltp ^= dec.decode(cx, pseudo)
            if ltp:
                if y > 0:
                    rows[y] = list(rows[y - 1])
                continue
        row = rows[y]
        for x in range(w):
            label = 0
            for dx, dy in pixels:
                yy = y + dy
                xx = x + dx
                if yy < 0 or xx < 0 or xx >= w:
                    v = 0
                else:
                    v = rows[yy][xx]
                label = (label << 1) | v
            row[x] = dec.decode(cx, label)
    return np.array(rows, dtype=np.uint8)


def _segments(data: bytes):
    """Yield ``(type, payload)`` for each segment of an EMBEDDED
    JBIG2 stream (T.88 §7.2 headers, Annex D.2 organization). Stops
    (truncating the iteration) on any malformed header — the caller
    sees fewer segments and, finding no region, refuses."""
    i, n = 0, len(data)
    while i + 11 <= n:
        num = int.from_bytes(data[i : i + 4], "big")
        i += 4
        flags = data[i]
        i += 1
        page_assoc_4 = bool(flags & 0x40)
        if i >= n:
            return
        rts = data[i]
        cnt = rts >> 5
        if cnt == 7:  # long form: 29-bit count + retain bits
            if i + 4 > n:
                return
            cnt = int.from_bytes(data[i : i + 4], "big") & 0x1FFFFFFF
            i += 4 + (cnt + 8) // 8
        else:
            i += 1
        ref_sz = 1 if num <= 256 else (2 if num <= 65536 else 4)
        i += cnt * ref_sz
        i += 4 if page_assoc_4 else 1
        if i + 4 > n:
            return
        dlen = int.from_bytes(data[i : i + 4], "big")
        i += 4
        if dlen == 0xFFFFFFFF or i + dlen > n:
            return  # unknown/torn data length: unsupported
        yield flags & 0x3F, data[i : i + dlen]
        i += dlen


@none_on_refusal
def jbig2_generic_decode(
    data: bytes, globals_data: bytes | None = None
) -> "np.ndarray | None":
    """Decode an embedded JBIG2 stream whose image content is one or
    more immediate generic regions — MMR-coded (routed to the T.6
    fax kernel) or MQ-arithmetic-coded (GB templates 0–3, AT pixels,
    TPGDON; r15) → (H, W) uint8 raster, 0=black/255=white (the
    fax-kernel convention). The page buffer is sized from the
    page-info segment when present (unknown-height 0xFFFFFFFF falls
    back to the regions' extent), else from the region extents;
    regions compose by simple placement (OR of ink — the only
    operator a full-page scan uses). None for symbol/text segments
    carrying image data, the EXTTEMPLATE extension, or any malformed
    geometry."""
    from data_ingestion_py_spark.sources.ccitt import g4_decode

    if globals_data:
        # globals hold symbol dictionaries etc. — nothing an
        # MMR-generic-only stream may reference; their presence with
        # image-bearing segment types is the arithmetic/symbol seam
        for stype, _p in _segments(globals_data):
            if stype not in (_PAGE_INFO, 50, 51, 62):  # info-ish only
                raise Refused("unsupported or malformed JBIG2 stream")
    page_w = page_h = None
    regions: list[tuple[int, int, "np.ndarray"]] = []
    for stype, payload in _segments(data):
        if stype == _PAGE_INFO:
            if len(payload) < 8:
                raise Refused("unsupported or malformed JBIG2 stream")
            page_w = int.from_bytes(payload[0:4], "big")
            page_h = int.from_bytes(payload[4:8], "big")
            if page_h == 0xFFFFFFFF:
                page_h = None
        elif stype in _IMMEDIATE_GENERIC:
            if len(payload) < 18:
                raise Refused("unsupported or malformed JBIG2 stream")
            w = int.from_bytes(payload[0:4], "big")
            h = int.from_bytes(payload[4:8], "big")
            x = int.from_bytes(payload[8:12], "big")
            y = int.from_bytes(payload[12:16], "big")
            gflags = payload[17]
            if gflags & 0x10:
                raise Refused("EXTTEMPLATE (12 ATs)")
            if (
                w <= 0
                or h <= 0
                or w > 1 << 16
                or h > MAX_ROWS
                or w * h > MAX_PIXELS
            ):
                raise Refused("unsupported or malformed JBIG2 stream")
            if gflags & 1:  # MMR == T.6
                arr = g4_decode.__wrapped__(payload[18:], w, h)
            else:  # MQ arithmetic (r15)
                template = (gflags >> 1) & 3
                tpgdon = bool(gflags & 8)
                n_at = 4 if template == 0 else 1
                off = 18
                if off + 2 * n_at > len(payload):
                    raise Refused("unsupported or malformed JBIG2 stream")
                at = []
                for _k in range(n_at):
                    ax = int.from_bytes(
                        payload[off : off + 1], "big", signed=True
                    )
                    ay = int.from_bytes(
                        payload[off + 1 : off + 2], "big", signed=True
                    )
                    at.append((ax, ay))
                    off += 2
                bits = generic_region_arith.__wrapped__(
                    payload[off:], w, h, template, tuple(at), tpgdon
                )
                arr = np.where(bits != 0, 0, 255).astype(np.uint8)
            regions.append((x, y, arr))
        elif stype in (_INTERMEDIATE_GENERIC, 4, 6, 7, 20, 22, 23,
                       40, 42, 43):
            raise Refused("image-bearing segment we can't decode")
        # else: dictionaries/extensions/end markers — no pixels, skip
    if not regions:
        raise Refused("unsupported or malformed JBIG2 stream")
    if page_w is None:
        page_w = max(x + r.shape[1] for x, _y, r in regions)
    if page_h is None:
        page_h = max(y + r.shape[0] for _x, y, r in regions)
    for x, y, r in regions:
        if x + r.shape[1] > page_w or y + r.shape[0] > page_h:
            raise Refused("region outside the page")
    if page_w * page_h > MAX_PIXELS:
        raise Refused("page over the pixel bound")
    page = np.full((page_h, page_w), 255, dtype=np.uint8)
    for x, y, r in regions:
        tgt = page[y : y + r.shape[0], x : x + r.shape[1]]
        np.minimum(tgt, r, out=tgt)  # OR of ink (0 = black wins)
    return page
