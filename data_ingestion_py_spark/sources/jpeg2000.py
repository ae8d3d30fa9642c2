"""JPEG 2000 Part 1 (ITU-T T.800) lossless decode — the /JPXDecode
profile book-scan PDF pipelines emit (r15, VERDICT task #6 stretch).

Scope — the reversible path, honestly bounded:

- codestream (JPC) parse: SOC/SIZ/COD/QCD/SOT/SOD/EOC, single tile
  at the canvas origin, single component (grayscale) or three
  components without MCT, 8-bit unsigned;
- Tier-2: packet headers for single-layer LRCP with default
  precincts (one precinct per resolution) — inclusion + zero-bitplane
  TAG TREES (B.10.2), coding-pass counts, Lblock length decoding,
  0xFF bit-stuffing;
- Tier-1: the EBCOT block coder (D): three coding passes per
  bit-plane (significance propagation, magnitude refinement, cleanup
  with run-length mode), 19 adaptive contexts over the SAME MQ
  arithmetic decoder T.88 shares (``sources/jbig2._MQDecoder`` — the
  coder the r15 conformance vector pins byte-exact);
- 5/3 reversible inverse DWT (F.3) with symmetric extension, any
  number of decomposition levels, exact integer lifting; DC level
  shift back to unsigned.

Refused honestly (None, never guessed pixels): irreversible 9/7
wavelets or scalar quantization, multiple tiles/layers, custom
precincts, SOP/EPH markers, coder bypass/termination/VCAUSAL options
(COD flags), MCT, subsampled or >8-bit components, JP2 boxes around
a raw codestream are unwrapped but other boxes are ignored.

Verification: an independent test-side ENCODER (forward DWT, Tier-1
MQ encoder, tag-tree builder — tests/test_jpeg2000.py) round-trips
random images at every decomposition level; the MQ kernel itself is
pinned by the published Annex conformance vector in test_ccitt.py.

Reference tie-in: the reference reads book scans through fitz
(data_ingestion.py:116-122) which bundles OpenJPEG; this is the
extras-free reversible core of that path.
"""

from __future__ import annotations

import numpy as np

from data_ingestion_py_spark.sources.bits import (
    Refused,
    Truncated,
    none_on_refusal,
)
from data_ingestion_py_spark.sources.jbig2 import _MQDecoder

# ---------------------------------------------------------------------
# EBCOT context tables (T.800 Table D.1-D.3) — algorithmic, per band
# ---------------------------------------------------------------------

#: context state initialisation (D.2): all (0,0) except these
_CTX_INIT = {0: 4, 17: 3, 18: 46}
_N_CTX = 19
_RLC = 17
_UNI = 18


def _zc_context(h: int, v: int, d: int, band: str) -> int:
    if band == "HL":  # transpose
        h, v = v, h
    if band != "HH":
        if h == 2:
            return 8
        if h == 1:
            return 7 if v >= 1 else (6 if d >= 1 else 5)
        if v == 2:
            return 4
        if v == 1:
            return 3
        return 2 if d >= 2 else (1 if d == 1 else 0)
    if d >= 3:
        return 8
    hv = h + v
    if d == 2:
        return 7 if hv >= 1 else 6
    if d == 1:
        return 5 if hv >= 2 else (4 if hv == 1 else 3)
    return 2 if hv >= 2 else (1 if hv == 1 else 0)


def _sc_context(hc: int, vc: int) -> tuple[int, int]:
    """(context, xor_bit) from clipped horizontal/vertical sign
    contributions (Table D.3)."""
    if hc == 1:
        return (13, 0) if vc == 1 else (12, 0) if vc == 0 else (11, 0)
    if hc == 0:
        return (10, 0) if vc == 1 else (9, 0) if vc == 0 else (10, 1)
    return (11, 1) if vc == 1 else (12, 1) if vc == 0 else (13, 1)


class _BlockCoder:
    """EBCOT Tier-1 state for one code block (decoder side)."""

    def __init__(self, w: int, h: int, band: str):
        self.w, self.h, self.band = w, h, band
        self.sig = [[0] * w for _ in range(h)]   # significance
        self.sign = [[0] * w for _ in range(h)]  # 1 = negative
        self.mag = [[0] * w for _ in range(h)]   # magnitude bits
        self.visited = [[0] * w for _ in range(h)]
        self.refined = [[0] * w for _ in range(h)]
        # incremental neighbor-significance counters (r16, guide §1.2
        # per-task work): nh/nv/nd[y][x] always equal the number of
        # significant horizontal / vertical / diagonal neighbors of
        # (y,x) — updated in _become_sig the moment a coefficient turns
        # significant, so reads are O(1) instead of an 8-cell rescan.
        # _neigh was ~40% of the whole JPX decode under cProfile.
        self.nh = [[0] * w for _ in range(h)]
        self.nv = [[0] * w for _ in range(h)]
        self.nd = [[0] * w for _ in range(h)]

    def _neigh(self, y: int, x: int) -> tuple[int, int, int]:
        return self.nh[y][x], self.nv[y][x], self.nd[y][x]

    def mark_significant(self, y: int, x: int) -> None:
        """Set ``sig[y][x]`` and update the neighbor counters — the
        ONLY way significance may be written (a direct ``sig[y][x] =
        1`` would silently stale the counters; the test encoder goes
        through here too)."""
        self.sig[y][x] = 1
        w, h = self.w, self.h
        nh, nv, nd = self.nh, self.nv, self.nd
        if x > 0:
            nh[y][x - 1] += 1
        if x + 1 < w:
            nh[y][x + 1] += 1
        if y > 0:
            nv[y - 1][x] += 1
        if y + 1 < h:
            nv[y + 1][x] += 1
        for yy in (y - 1, y + 1):
            if 0 <= yy < h:
                if x > 0:
                    nd[yy][x - 1] += 1
                if x + 1 < w:
                    nd[yy][x + 1] += 1

    def _sign_ctx(self, y: int, x: int) -> tuple[int, int]:
        sig, sign = self.sig, self.sign
        w, h = self.w, self.h

        def contrib(yy, xx):
            if not (0 <= yy < h and 0 <= xx < w) or not sig[yy][xx]:
                return 0
            return -1 if sign[yy][xx] else 1

        hc = max(-1, min(1, contrib(y, x - 1) + contrib(y, x + 1)))
        vc = max(-1, min(1, contrib(y - 1, x) + contrib(y + 1, x)))
        return _sc_context(hc, vc)

    def _become_sig(self, dec, cx, y, x):
        ctx, xor = self._sign_ctx(y, x)
        s = dec.decode(cx, ctx) ^ xor
        self.mark_significant(y, x)
        self.sign[y][x] = s
        self.mag[y][x] = 1

    # The three coding passes below hoist row references and unroll the
    # 4-row strip checks (r16, guide §1.2 per-task work): the per-cell
    # any()/min() generator churn was the top profile line after the
    # neighbor counters landed. Decode decisions and their order are
    # untouched — byte-identical output, pinned by the T.88/conformance
    # suites and a HEAD-vs-new digit comparison.

    def sig_prop_pass(self, dec, cx):
        h, w, band = self.h, self.w, self.band
        sig, visited = self.sig, self.visited
        nh, nv, nd = self.nh, self.nv, self.nd
        for y0 in range(0, h, 4):
            yend = y0 + 4 if y0 + 4 <= h else h
            for x in range(w):
                for y in range(y0, yend):
                    if sig[y][x]:
                        continue
                    hh, vv, dd = nh[y][x], nv[y][x], nd[y][x]
                    if hh + vv + dd == 0:
                        continue
                    visited[y][x] = 1
                    if dec.decode(cx, _zc_context(hh, vv, dd, band)):
                        self._become_sig(dec, cx, y, x)

    def mag_ref_pass(self, dec, cx):
        h, w = self.h, self.w
        sig, visited, refined, mag = (
            self.sig,
            self.visited,
            self.refined,
            self.mag,
        )
        nh, nv, nd = self.nh, self.nv, self.nd
        for y0 in range(0, h, 4):
            yend = y0 + 4 if y0 + 4 <= h else h
            for x in range(w):
                for y in range(y0, yend):
                    if not sig[y][x] or visited[y][x]:
                        continue
                    if refined[y][x]:
                        ctx = 16
                    else:
                        ctx = (
                            15
                            if nh[y][x] + nv[y][x] + nd[y][x]
                            else 14
                        )
                        refined[y][x] = 1
                    bit = dec.decode(cx, ctx)
                    mag[y][x] = (mag[y][x] << 1) | bit
                    visited[y][x] = 1

    def cleanup_pass(self, dec, cx):
        h, w, band = self.h, self.w, self.band
        sig, visited = self.sig, self.visited
        nh, nv, nd = self.nh, self.nv, self.nd
        for y0 in range(0, h, 4):
            full = y0 + 4 <= h
            yend = y0 + 4 if full else h
            if full:
                s0, s1, s2, s3 = sig[y0], sig[y0 + 1], sig[y0 + 2], sig[y0 + 3]
                v0, v1, v2, v3 = (
                    visited[y0],
                    visited[y0 + 1],
                    visited[y0 + 2],
                    visited[y0 + 3],
                )
                a0, a1, a2, a3 = nh[y0], nh[y0 + 1], nh[y0 + 2], nh[y0 + 3]
                b0, b1, b2, b3 = nv[y0], nv[y0 + 1], nv[y0 + 2], nv[y0 + 3]
                c0, c1, c2, c3 = nd[y0], nd[y0 + 1], nd[y0 + 2], nd[y0 + 3]
            for x in range(w):
                y = y0
                if (
                    full
                    and not (
                        v0[x] or s0[x] or v1[x] or s1[x]
                        or v2[x] or s2[x] or v3[x] or s3[x]
                    )
                    and not (
                        a0[x] or b0[x] or c0[x]
                        or a1[x] or b1[x] or c1[x]
                        or a2[x] or b2[x] or c2[x]
                        or a3[x] or b3[x] or c3[x]
                    )
                ):
                    # run-length mode: one RLC bit covers the column
                    if dec.decode(cx, _RLC) == 0:
                        continue
                    r = (dec.decode(cx, _UNI) << 1) | dec.decode(cx, _UNI)
                    y = y0 + r
                    self._become_sig(dec, cx, y, x)
                    y += 1
                while y < yend:
                    if not visited[y][x] and not sig[y][x]:
                        hh, vv, dd = nh[y][x], nv[y][x], nd[y][x]
                        if dec.decode(
                            cx, _zc_context(hh, vv, dd, band)
                        ):
                            self._become_sig(dec, cx, y, x)
                    y += 1
        for y in range(h):
            row = visited[y]
            for x in range(w):
                row[x] = 0


@none_on_refusal
def decode_codeblock(
    data: bytes, w: int, h: int, band: str, n_passes: int
) -> list[list[int]] | None:
    """Decode one code block's coefficient values from its Tier-1
    codeword segment (``n_passes`` coding passes, first coded
    bit-plane first). Returns signed coefficients."""
    if w <= 0 or h <= 0 or n_passes <= 0:
        raise Refused("code block geometry")
    dec = _MQDecoder(data)
    cx = [(0, 0)] * _N_CTX
    for ctx, st in _CTX_INIT.items():
        cx[ctx] = (st, 0)
    bc = _BlockCoder(w, h, band)
    # pass sequence: the first coded bit-plane has only a cleanup
    # pass; each following bit-plane runs SPP, MRP, CP — with every
    # pass present down to the LSB plane (the lossless layout), the
    # accumulated magnitude IS the coefficient value
    passes = ["CP"]
    while len(passes) < n_passes:
        passes += ["SPP", "MRP", "CP"]
    for p in passes:
        if p == "SPP":
            bc.sig_prop_pass(dec, cx)
        elif p == "MRP":
            bc.mag_ref_pass(dec, cx)
        else:
            bc.cleanup_pass(dec, cx)
    out = [[0] * w for _ in range(h)]
    for y in range(h):
        for x in range(w):
            if bc.sig[y][x]:
                v = bc.mag[y][x]
                out[y][x] = -v if bc.sign[y][x] else v
    return out


# ---------------------------------------------------------------------
# Tier-2: tag trees + packet headers (T.800 B.10)
# ---------------------------------------------------------------------


class _HdrBits:
    """Packet-header bit reader with the 0xFF stuffing rule: a byte
    following 0xFF carries only 7 bits (its MSB is a stuffed 0)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos  # byte position
        self.bit = 0
        self.prev_ff = False

    def read1(self) -> int:
        if self.pos >= len(self.data):
            raise Truncated
        if self.bit == 0 and self.prev_ff:
            self.bit = 1  # skip the stuffed MSB
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.prev_ff = self.data[self.pos] == 0xFF
            self.pos += 1
            self.bit = 0
        return b

    def read(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read1()
        return v

    def align(self) -> None:
        if self.bit:
            self.prev_ff = self.data[self.pos] == 0xFF
            self.pos += 1
            self.bit = 0
        if self.prev_ff:  # header may not end on a raw 0xFF
            self.pos += 1
            self.prev_ff = False


class _TagTree:
    """B.10.2 tag tree (decoder): per-node monotone lower bounds."""

    def __init__(self, w: int, h: int):
        self.sizes = []
        while True:
            self.sizes.append((w, h))
            if w == 1 and h == 1:
                break
            w, h = (w + 1) // 2, (h + 1) // 2
        self.low = [[0] * (sw * sh) for sw, sh in self.sizes]
        self.val = [[0] * (sw * sh) for sw, sh in self.sizes]
        self.known = [[False] * (sw * sh) for sw, sh in self.sizes]

    def update(self, bits: _HdrBits, x: int, y: int,
               threshold: int) -> bool:
        """Read bits until it is known whether value(x, y) >=
        ``threshold``; True = still >= threshold, False = the exact
        value is < threshold."""
        nodes = []
        xx, yy = x, y
        for lvl in range(len(self.sizes)):
            nodes.append((lvl, xx, yy))
            xx >>= 1
            yy >>= 1
        low = 0
        for lvl, xx, yy in reversed(nodes):
            k = yy * self.sizes[lvl][0] + xx
            if self.low[lvl][k] < low:
                self.low[lvl][k] = low
            while not self.known[lvl][k] and self.low[lvl][k] < threshold:
                if bits.read1():
                    self.known[lvl][k] = True
                    self.val[lvl][k] = self.low[lvl][k]
                else:
                    self.low[lvl][k] += 1
            low = (
                self.val[lvl][k]
                if self.known[lvl][k]
                else self.low[lvl][k]
            )
            if low >= threshold:
                return True
        return False

    def decode_value(self, bits: _HdrBits, x: int, y: int) -> int:
        t = 1
        while self.update(bits, x, y, t):
            t += 1
        return t - 1


def _read_n_passes(bits: _HdrBits) -> int:
    if bits.read1() == 0:
        return 1
    if bits.read1() == 0:
        return 2
    v = bits.read(2)
    if v != 3:
        return 3 + v
    v = bits.read(5)
    if v != 31:
        return 6 + v
    return 37 + bits.read(7)


# ---------------------------------------------------------------------
# 5/3 reversible inverse DWT (T.800 F.3) — exact integer lifting
# ---------------------------------------------------------------------


def _idwt53_1d(lo, hi):
    """One inverse lifting step: lowpass ``lo`` (len ceil(n/2)) +
    highpass ``hi`` (len floor(n/2)) → signal of length
    len(lo)+len(hi); numpy int64 arrays."""
    n = len(lo) + len(hi)
    x = np.zeros(n, dtype=np.int64)
    if n == 1:
        x[0] = lo[0] if len(lo) else hi[0]
        return x
    x[0::2] = lo
    x[1::2] = hi
    # even update: x[2i] -= (x[2i-1] + x[2i+1] + 2) >> 2, symmetric ext
    ev = x[0::2].copy()
    od = x[1::2]
    left = np.empty_like(ev)
    right = np.empty_like(ev)
    left[0] = od[0] if len(od) else 0
    left[1:] = od[: len(ev) - 1]
    if n % 2 == 0:  # last even has an odd neighbour on the right
        right[:] = od[: len(ev)]
    else:
        right[: len(ev) - 1] = od
        right[len(ev) - 1] = od[-1] if len(od) else 0
    ev -= (left + right + 2) >> 2
    # odd update: x[2i+1] += (x[2i] + x[2i+2]) >> 1, symmetric ext
    l2 = ev[: len(od)]
    r2 = np.empty_like(od)
    if len(ev) > len(od):
        r2[:] = ev[1 : len(od) + 1]
    else:  # even length: last odd mirrors the last even
        r2[:-1] = ev[1:]
        r2[-1] = ev[-1]
    od = od + ((l2 + r2) >> 1)
    x[0::2] = ev
    x[1::2] = od
    return x


def idwt53(ll, bands):
    """Multi-level inverse: ``ll`` is the lowest-resolution LL array;
    ``bands`` is a list (coarsest first) of (hl, lh, hh) arrays.
    Returns the reconstructed tile (int64)."""
    cur = ll.astype(np.int64)
    for hl, lh, hh in bands:
        h_lo, w_lo = cur.shape
        h_hi, w_hi = hh.shape
        H, W = h_lo + h_hi, w_lo + w_hi
        # columns first: interleave (LL over LH) and (HL over HH)
        left = np.zeros((H, w_lo), dtype=np.int64)
        right = np.zeros((H, w_hi), dtype=np.int64)
        for c in range(w_lo):
            left[:, c] = _idwt53_1d(cur[:, c], lh[:, c].astype(np.int64))
        for c in range(w_hi):
            right[:, c] = _idwt53_1d(
                hl[:, c].astype(np.int64), hh[:, c].astype(np.int64)
            )
        out = np.zeros((H, W), dtype=np.int64)
        for r in range(H):
            out[r] = _idwt53_1d(left[r], right[r])
        cur = out
    return cur


# ---------------------------------------------------------------------
# codestream parse + full decode
# ---------------------------------------------------------------------


def _band_geometry(w: int, h: int, levels: int):
    """Subband dimensions per resolution for tile origin 0: returns
    (ll_w, ll_h, [(hl_w,hl_h),(lh_w,lh_h),(hh_w,hh_h)] per level,
    coarsest first)."""
    dims = []
    cw, ch = w, h
    for _ in range(levels):
        lw, lh_ = (cw + 1) // 2, (ch + 1) // 2
        hw, hh_ = cw - lw, ch - lh_
        dims.append(((hw, lh_), (lw, hh_), (hw, hh_)))  # HL, LH, HH
        cw, ch = lw, lh_
    dims.reverse()
    return cw, ch, dims


def jp2_codestream(payload: bytes) -> bytes | None:
    """Unwrap a JP2 box container to its contiguous codestream, or
    return the payload itself when it already starts with SOC."""
    if payload[:4] == b"\xff\x4f\xff\x51":
        return payload
    if payload[4:8] != b"jP  ":
        return None
    i, n = 0, len(payload)
    while i + 8 <= n:
        size = int.from_bytes(payload[i : i + 4], "big")
        btype = payload[i + 4 : i + 8]
        if size == 1 or size == 0:
            if btype == b"jp2c":
                return payload[i + 8 :] if size == 0 else None
            return None
        if btype == b"jp2c":
            return payload[i + 8 : i + size]
        if size < 8 or i + size > n:
            return None
        i += size
    return None


@none_on_refusal
def decode_jp2k(payload: bytes | None) -> dict | None:
    """Decode a lossless Part-1 codestream (optionally JP2-boxed) →
    ``{"width", "height", "components": [np.uint8 arrays]}``.
    Unsupported shapes (see module docstring) return None."""
    if payload is None or len(payload) < 4:
        raise Refused("unsupported or malformed JPEG 2000 codestream")
    data = jp2_codestream(payload)
    if data is None or data[:2] != b"\xff\x4f":
        raise Refused("unsupported or malformed JPEG 2000 codestream")
    i, n = 2, len(data)
    siz = cod = None
    tile_data = None
    while i + 4 <= n:
        if data[i] != 0xFF:
            raise Refused("unsupported or malformed JPEG 2000 codestream")
        marker = data[i : i + 2]
        i += 2
        if marker == b"\xff\x93":  # SOD
            tile_data = data[i:]
            break
        if marker == b"\xff\xd9":
            break
        if i + 2 > n:
            raise Refused("unsupported or malformed JPEG 2000 codestream")
        ln = int.from_bytes(data[i : i + 2], "big")
        seg = data[i + 2 : i + ln]
        if marker == b"\xff\x51":  # SIZ
            if len(seg) < 36:
                raise Refused("unsupported or malformed JPEG 2000 codestream")
            xs = int.from_bytes(seg[2:6], "big")
            ys = int.from_bytes(seg[6:10], "big")
            xo = int.from_bytes(seg[10:14], "big")
            yo = int.from_bytes(seg[14:18], "big")
            xt = int.from_bytes(seg[18:22], "big")
            yt = int.from_bytes(seg[22:26], "big")
            xto = int.from_bytes(seg[26:30], "big")
            yto = int.from_bytes(seg[30:34], "big")
            ncomp = int.from_bytes(seg[34:36], "big")
            if xo or yo or xto or yto or xt < xs or yt < ys:
                raise Refused("multi-tile / offset canvas")
            if ncomp not in (1, 3) or len(seg) < 36 + 3 * ncomp:
                raise Refused("unsupported or malformed JPEG 2000 codestream")
            for c in range(ncomp):
                ssiz, xr, yr = seg[36 + 3 * c : 39 + 3 * c]
                if ssiz != 7 or xr != 1 or yr != 1:
                    raise Refused("only 8-bit unsigned, no subsampling")
            siz = {"w": xs, "h": ys, "ncomp": ncomp}
        elif marker == b"\xff\x52":  # COD
            if len(seg) < 10:
                raise Refused("unsupported or malformed JPEG 2000 codestream")
            scod = seg[0]
            if scod & 0x07:
                raise Refused("custom precincts / SOP / EPH")
            prog = seg[1]
            layers = int.from_bytes(seg[2:4], "big")
            mct = seg[4]
            levels = seg[5]
            cbw = seg[6] & 0x0F
            cbh = seg[7] & 0x0F
            cbstyle = seg[8]
            transform = seg[9]
            if (
                prog != 0  # LRCP only
                or layers != 1
                or mct != 0
                or levels > 8
                or cbstyle != 0  # bypass/termination etc.: refuse
                or transform != 1  # 5/3 reversible only
            ):
                raise Refused("unsupported or malformed JPEG 2000 codestream")
            cod = {
                "levels": levels,
                "cb_w": 1 << (cbw + 2),
                "cb_h": 1 << (cbh + 2),
            }
        elif marker == b"\xff\x5c":  # QCD
            if not seg or (seg[0] & 0x1F) != 0:
                raise Refused("only no-quantization (reversible)")
        elif marker == b"\xff\x90":  # SOT
            pass  # single tile assumed; Psot unchecked (EOC-bounded)
        i += ln
    if siz is None or cod is None or tile_data is None:
        raise Refused("unsupported or malformed JPEG 2000 codestream")
    if tile_data.endswith(b"\xff\xd9"):
        tile_data = tile_data[:-2]
    W, H = siz["w"], siz["h"]
    if W <= 0 or H <= 0 or W > 1 << 15 or H > 1 << 15:
        raise Refused("unsupported or malformed JPEG 2000 codestream")
    levels = cod["levels"]
    llw, llh, level_dims = _band_geometry(W, H, levels)
    comps = []
    hdr = _HdrBits(tile_data)
    body_parts: list[tuple] = []

    # LRCP, 1 layer: for each resolution, for each component, one
    # packet (one precinct).  Parse ALL headers/bodies in stream
    # order: packet header then its body follows immediately.
    pos = 0
    data_bytes = tile_data
    band_coeffs: dict[tuple, "np.ndarray"] = {}
    for res in range(levels + 1):
        for comp in range(siz["ncomp"]):
            if res == 0:
                bands = [("LL", llw, llh)]
            else:
                (hw, lh_h), (lw, hh_h), (hw2, hh2) = (
                    level_dims[res - 1][0],
                    level_dims[res - 1][1],
                    level_dims[res - 1][2],
                )
                bands = [
                    ("HL", level_dims[res - 1][0][0],
                     level_dims[res - 1][0][1]),
                    ("LH", level_dims[res - 1][1][0],
                     level_dims[res - 1][1][1]),
                    ("HH", level_dims[res - 1][2][0],
                     level_dims[res - 1][2][1]),
                ]
            hdr = _HdrBits(data_bytes, pos)
            segs: list[tuple] = []
            if hdr.read1():
                for bname, bw, bh in bands:
                    if bw <= 0 or bh <= 0:
                        continue
                    ncbx = (bw + cod["cb_w"] - 1) // cod["cb_w"]
                    ncby = (bh + cod["cb_h"] - 1) // cod["cb_h"]
                    inc_tree = _TagTree(ncbx, ncby)
                    zbp_tree = _TagTree(ncbx, ncby)
                    for cby in range(ncby):
                        for cbx in range(ncbx):
                            if inc_tree.update(hdr, cbx, cby, 1):
                                continue  # not included
                            # zero bit-planes: read to stay in step;
                            # nps fixes the first coded plane here
                            zbp_tree.decode_value(hdr, cbx, cby)
                            nps = _read_n_passes(hdr)
                            lblock = 3
                            while hdr.read1():
                                lblock += 1
                            nbits = lblock + max(
                                0, nps.bit_length() - 1
                            )
                            seg_len = hdr.read(nbits)
                            cw = min(
                                cod["cb_w"],
                                bw - cbx * cod["cb_w"],
                            )
                            ch = min(
                                cod["cb_h"],
                                bh - cby * cod["cb_h"],
                            )
                            segs.append(
                                (bname, bw, bh, cbx, cby, cw, ch,
                                 nps, seg_len)
                            )
            hdr.align()
            pos = hdr.pos
            for bname, bw, bh, cbx, cby, cw, ch, nps, seg_len in segs:
                seg_data = data_bytes[pos : pos + seg_len]
                if len(seg_data) != seg_len:
                    raise Truncated
                pos += seg_len
                coeffs = decode_codeblock.__wrapped__(
                    seg_data, cw, ch, bname, nps
                )
                key = (comp, res, bname)
                if key not in band_coeffs:
                    band_coeffs[key] = np.zeros(
                        (bh, bw), dtype=np.int64
                    )
                band_coeffs[key][
                    cby * cod["cb_h"] : cby * cod["cb_h"] + ch,
                    cbx * cod["cb_w"] : cbx * cod["cb_w"] + cw,
                ] = np.array(coeffs, dtype=np.int64)

    out_comps = []
    for comp in range(siz["ncomp"]):
        ll = band_coeffs.get(
            (comp, 0, "LL"), np.zeros((llh, llw), dtype=np.int64)
        )
        seq = []
        for res in range(1, levels + 1):
            dims = level_dims[res - 1]
            hl = band_coeffs.get(
                (comp, res, "HL"),
                np.zeros((dims[0][1], dims[0][0]), dtype=np.int64),
            )
            lh = band_coeffs.get(
                (comp, res, "LH"),
                np.zeros((dims[1][1], dims[1][0]), dtype=np.int64),
            )
            hh = band_coeffs.get(
                (comp, res, "HH"),
                np.zeros((dims[2][1], dims[2][0]), dtype=np.int64),
            )
            seq.append((hl, lh, hh))
        tile = idwt53(ll, seq)
        tile = tile + 128  # DC level shift (8-bit unsigned)
        if tile.shape != (H, W):
            raise Refused("unsupported or malformed JPEG 2000 codestream")
        if tile.min() < 0 or tile.max() > 255:
            raise Refused("not a conformant lossless 8-bit stream")
        out_comps.append(tile.astype(np.uint8))
    return {"width": W, "height": H, "components": out_comps}
