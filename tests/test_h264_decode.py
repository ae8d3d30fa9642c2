"""H.264 baseline intra decoder (sources/h264_decode.py) pinned
against an INDEPENDENT test-side encoder written here from the
spec's syntax tables (§7.3) and CAVLC encoding process (§9.2 run in
reverse). The encoder shares only the VLC code-table CONSTANTS with
the decoder (the ccitt.py pattern); transform/prediction math is
additionally cross-checked against a separate numpy model, and the
widely-published CAVLC worked example is pinned bit-exact."""

from __future__ import annotations

import random

import numpy as np

from data_ingestion_py_spark.sources.bits import MsbBits as _Bits
from data_ingestion_py_spark.sources.bits import rbsp_unescape
from data_ingestion_py_spark.sources.h264_decode import (
    _CBP_INTRA,
    _COEFF_TOKEN,
    _RUN_BEFORE,
    _TOTAL_ZEROS,
    _TOTAL_ZEROS_CDC,
    _ZIGZAG,
    _residual_block,
    decode_idr_annexb,
)

# ---------------------------------------------------------------- writer


class _BW:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, k: int):
        for i in range(k - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int):
        v += 1
        k = v.bit_length()
        self.u(0, k - 1)
        self.u(v, k)

    def se(self, v: int):
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def write(self, s: str):
        self.bits.extend(int(c) for c in s)

    def align(self):
        while len(self.bits) % 8:
            self.bits.append(0)

    def rbsp_trailing(self):
        self.bits.append(1)
        self.align()

    def bytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            v = 0
            for b in self.bits[i : i + 8]:
                v = (v << 1) | b
            out.append(v)
        return bytes(out)


def rbsp_to_ebsp(data: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for byte in data:
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


def make_sps(wmb: int, hmb: int, level: int = 30) -> bytes:
    b = _BW()
    b.u(66, 8)
    b.u(0, 8)
    b.u(level, 8)
    b.ue(0)
    b.ue(0)  # log2_max_frame_num_minus4
    b.ue(0)  # poc type 0
    b.ue(0)  # log2_max_poc_lsb_minus4
    b.ue(1)
    b.u(0, 1)
    b.ue(wmb - 1)
    b.ue(hmb - 1)
    b.u(1, 1)  # frame_mbs_only
    b.u(0, 1)
    b.u(0, 1)  # no crop
    b.u(0, 1)  # no vui
    b.rbsp_trailing()
    return b"\x67" + rbsp_to_ebsp(b.bytes())


def make_pps(qp: int = 26, chroma_qp_offset: int = 0) -> bytes:
    b = _BW()
    b.ue(0)
    b.ue(0)
    b.u(0, 1)  # CAVLC
    b.u(0, 1)
    b.ue(0)  # one slice group
    b.ue(0)
    b.ue(0)
    b.u(0, 1)
    b.u(0, 2)
    b.se(qp - 26)
    b.se(0)
    b.se(chroma_qp_offset)
    b.u(0, 1)  # deblocking control absent
    b.u(0, 1)  # constrained_intra off
    b.u(0, 1)
    b.rbsp_trailing()
    return b"\x68" + rbsp_to_ebsp(b.bytes())


def annexb(*nals: bytes) -> bytes:
    return b"".join(b"\x00\x00\x00\x01" + n for n in nals)


# ------------------------------------------------------- CAVLC encoder

_CT_INV = {k: {v: code for code, v in t.items()} for k, t in _COEFF_TOKEN.items()}
_TZ_INV = {k: {v: code for code, v in t.items()} for k, t in _TOTAL_ZEROS.items()}
_TZC_INV = {k: {v: code for code, v in t.items()} for k, t in _TOTAL_ZEROS_CDC.items()}
_RB_INV = {k: {v: code for code, v in t.items()} for k, t in _RUN_BEFORE.items()}


def encode_residual(b: _BW, coeffs: list[int], nc: int) -> None:
    """CAVLC-encode one block (zigzag-order coefficient list)."""
    n_max = len(coeffs)
    nz = [i for i, v in enumerate(coeffs) if v]
    total = len(nz)
    # trailing ones: up to three |1| coefficients at the high end
    t1 = 0
    for i in reversed(nz):
        if abs(coeffs[i]) == 1 and t1 < 3:
            t1 += 1
        else:
            break
    if nc < 0:
        b.write(_CT_INV[4][(total, t1)])
    elif nc < 2:
        b.write(_CT_INV[0][(total, t1)])
    elif nc < 4:
        b.write(_CT_INV[1][(total, t1)])
    elif nc < 8:
        b.write(_CT_INV[2][(total, t1)])
    else:
        b.u(3 if total == 0 else (((total - 1) << 2) | t1), 6)
    if total == 0:
        return
    hi_to_lo = list(reversed(nz))
    for i in hi_to_lo[:t1]:
        b.u(1 if coeffs[i] < 0 else 0, 1)
    suffix_len = 1 if (total > 10 and t1 < 3) else 0
    for k, i in enumerate(hi_to_lo[t1:]):
        lv = coeffs[i]
        level_code = 2 * lv - 2 if lv > 0 else -2 * lv - 1
        if k == 0 and t1 < 3:
            level_code -= 2
        if suffix_len == 0:
            if level_code < 14:
                b.u(1, level_code + 1)  # level_code zeros then a 1
            elif level_code < 30:
                b.u(0, 14)
                b.u(1, 1)
                b.u(level_code - 14, 4)
            else:
                assert level_code < 30 + 4096
                b.u(0, 15)
                b.u(1, 1)
                b.u(level_code - 30, 12)
        else:
            if (level_code >> suffix_len) < 15:
                b.u(0, level_code >> suffix_len)
                b.u(1, 1)
                b.u(level_code & ((1 << suffix_len) - 1), suffix_len)
            else:
                lc = level_code - (15 << suffix_len)
                assert lc < 4096
                b.u(0, 15)
                b.u(1, 1)
                b.u(lc, 12)
        if suffix_len == 0:
            suffix_len = 1
        if abs(lv) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < n_max:
        tz = nz[-1] - (total - 1)
        if nc < 0:
            b.write(_TZC_INV[total][tz])
        else:
            b.write(_TZ_INV[total][tz])
    else:
        tz = 0
    zeros_left = tz
    gaps = []
    for j in range(total - 1, 0, -1):
        gaps.append(nz[j] - nz[j - 1] - 1)
    for run in gaps:
        if zeros_left <= 0:
            break
        b.write(_RB_INV[min(zeros_left, 7)][run])
        zeros_left -= run


# ------------------------------------------------------ frame encoder


def slice_head(b: _BW, qp_delta: int = 0) -> None:
    b.ue(0)
    b.ue(7)  # I slice (all-picture form)
    b.ue(0)
    b.u(0, 4)  # frame_num
    b.ue(0)  # idr_pic_id
    b.u(0, 4)  # poc lsb
    b.u(0, 1)
    b.u(0, 1)
    b.se(qp_delta)


def make_idr(wmb: int, hmb: int, mbs: list[dict]) -> bytes:
    """Encode one IDR slice from per-MB descriptions:
    {"type": "pcm", "y": 16x16, "cb": 8x8, "cr": 8x8}
    {"type": "i16", "pred": 0..3, "chroma_mode": 0..3,
     "dc": [16 coeffs], "ac": [16 x 15] or None,
     "cdc": ([4], [4]) or None, "cac": (2 x [4 x 15]) or None,
     "qp_delta": int}
    {"type": "i4", "modes": [16 modes], "chroma_mode": m,
     "cbp_luma": int, "blocks": {blk: [16 coeffs]},
     "cdc"/"cac" as above, "qp_delta": int}
    nC bookkeeping mirrors the decoder's (shared definition of the
    prediction context, §9.2.1)."""
    b = _BW()
    slice_head(b)
    luma_nz = [[0] * (wmb * 4) for _ in range(hmb * 4)]
    cb_nz = [[0] * (wmb * 2) for _ in range(hmb * 2)]
    cr_nz = [[0] * (wmb * 2) for _ in range(hmb * 2)]
    pred_modes = [[-1] * (wmb * 4) for _ in range(hmb * 4)]

    def nC(nzm, by, bx):
        na = nzm[by][bx - 1] if bx > 0 else None
        nb = nzm[by - 1][bx] if by > 0 else None
        if na is not None and nb is not None:
            return (na + nb + 1) >> 1
        if na is not None:
            return na
        if nb is not None:
            return nb
        return 0

    for mb, d in enumerate(mbs):
        my, mx = divmod(mb, wmb)
        if d["type"] == "pcm":
            b.ue(25)
            b.align()
            for r in range(16):
                for c in range(16):
                    b.u(int(d["y"][r][c]), 8)
            for pl in ("cb", "cr"):
                for r in range(8):
                    for c in range(8):
                        b.u(int(d[pl][r][c]), 8)
            for r in range(4):
                for c in range(4):
                    luma_nz[my * 4 + r][mx * 4 + c] = 16
                    pred_modes[my * 4 + r][mx * 4 + c] = 2
            for r in range(2):
                for c in range(2):
                    cb_nz[my * 2 + r][mx * 2 + c] = 16
                    cr_nz[my * 2 + r][mx * 2 + c] = 16
            continue
        if d["type"] == "i16":
            ac = d.get("ac")
            cdc = d.get("cdc")
            cac = d.get("cac")
            cbp_chroma = 2 if cac else (1 if cdc else 0)
            mb_type = 1 + d["pred"] + 4 * cbp_chroma + (12 if ac else 0)
            b.ue(mb_type)
            b.ue(d.get("chroma_mode", 0))
            b.se(d.get("qp_delta", 0))
            nc = nC(luma_nz, my * 4, mx * 4)
            encode_residual(b, d.get("dc", [0] * 16), nc)
            for blk in range(16):
                blk8, sub = blk >> 2, blk & 3
                bry = (blk8 >> 1) * 2 + (sub >> 1)
                brx = (blk8 & 1) * 2 + (sub & 1)
                gby, gbx = my * 4 + bry, mx * 4 + brx
                if ac:
                    ncb = nC(luma_nz, gby, gbx)
                    encode_residual(b, ac[blk], ncb)
                    luma_nz[gby][gbx] = sum(1 for v in ac[blk] if v)
                else:
                    luma_nz[gby][gbx] = 0
            for r in range(4):
                for c in range(4):
                    pred_modes[my * 4 + r][mx * 4 + c] = 2
        else:  # i4
            blocks = d.get("blocks", {})
            cbp_luma = d.get("cbp_luma", 0)
            cdc = d.get("cdc")
            cac = d.get("cac")
            cbp_chroma = 2 if cac else (1 if cdc else 0)
            b.ue(0)
            # per-block mode signalling against the shared predictor
            sig: list[tuple[int, int]] = []
            for blk in range(16):
                blk8, sub = blk >> 2, blk & 3
                bry = (blk8 >> 1) * 2 + (sub >> 1)
                brx = (blk8 & 1) * 2 + (sub & 1)
                gby, gbx = my * 4 + bry, mx * 4 + brx
                ma = pred_modes[gby][gbx - 1] if gbx > 0 else -1
                mbm = pred_modes[gby - 1][gbx] if gby > 0 else -1
                pred = min(ma if ma >= 0 else 2, mbm if mbm >= 0 else 2)
                mode = d["modes"][blk]
                if mode == pred:
                    sig.append((1, 0))
                else:
                    rem = mode if mode < pred else mode - 1
                    sig.append((0, rem))
                pred_modes[gby][gbx] = mode
            for use_pred, rem in sig:
                b.u(use_pred, 1)
                if not use_pred:
                    b.u(rem, 3)
            b.ue(d.get("chroma_mode", 0))
            cbp = cbp_luma | (cbp_chroma << 4)
            b.ue(_CBP_INTRA.index(cbp))
            if cbp:
                b.se(d.get("qp_delta", 0))
            for blk in range(16):
                blk8, sub = blk >> 2, blk & 3
                bry = (blk8 >> 1) * 2 + (sub >> 1)
                brx = (blk8 & 1) * 2 + (sub & 1)
                gby, gbx = my * 4 + bry, mx * 4 + brx
                if cbp_luma & (1 << blk8):
                    coeffs = blocks.get(blk, [0] * 16)
                    ncb = nC(luma_nz, gby, gbx)
                    encode_residual(b, coeffs, ncb)
                    luma_nz[gby][gbx] = sum(1 for v in coeffs if v)
                else:
                    luma_nz[gby][gbx] = 0
        # chroma residuals (i16 + i4)
        cdc = d.get("cdc")
        cac = d.get("cac")
        cbp_chroma = 2 if cac else (1 if cdc else 0)
        for ci, nzm in ((0, cb_nz), (1, cr_nz)):
            if cbp_chroma:
                dc = (cdc[ci] if cdc else [0] * 4)
                encode_residual(b, dc, -1)
            for blk in range(4):
                bry, brx = blk >> 1, blk & 1
                gby, gbx = my * 2 + bry, mx * 2 + brx
                if cbp_chroma == 2:
                    coeffs = cac[ci][blk]
                    ncb = nC(nzm, gby, gbx)
                    encode_residual(b, coeffs, ncb)
                    nzm[gby][gbx] = sum(1 for v in coeffs if v)
                else:
                    nzm[gby][gbx] = 0
    b.rbsp_trailing()
    return b"\x65" + rbsp_to_ebsp(b.bytes())


def _pcm_mb(rng) -> dict:
    return {
        "type": "pcm",
        "y": rng.randint(0, 256, (16, 16)),
        "cb": rng.randint(0, 256, (8, 8)),
        "cr": rng.randint(0, 256, (8, 8)),
    }


# ------------------------------------------------------------- tests


def test_cavlc_published_worked_example():
    """The standard CAVLC worked example (Richardson, 'H.264 and
    MPEG-4 Video Compression', reproduced across the literature):
    zigzag coefficients 0,3,0,1,-1,-1,0,1,0... with nC=0 encode to
    exactly 000010001110010111101101 — pinning coeff_token(5,3),
    sign, level, total_zeros(tz=3,tc=5) and run_before entries on
    both coder sides."""
    coeffs = [0, 3, 0, 1, -1, -1, 0, 1] + [0] * 8
    b = _BW()
    encode_residual(b, coeffs, 0)
    assert "".join(map(str, b.bits)) == "000010001110010111101101"
    b.align()
    got = _residual_block(_Bits(b.bytes()), 16, 0)
    assert got == coeffs


def test_cavlc_roundtrip_random():
    """Exhaustive-ish CAVLC round-trips across nC classes, block
    sizes (16 / 15 AC / 4 chroma DC), densities, and level
    magnitudes that exercise every suffix-length escalation."""
    rng = random.Random(3)
    for trial in range(400):
        n_max = rng.choice([16, 15, 4])
        nc = -1 if n_max == 4 else rng.choice([0, 1, 2, 3, 4, 7, 8, 16])
        density = rng.choice([0.0, 0.1, 0.3, 0.7, 1.0])
        coeffs = [
            (rng.choice([1, -1, 2, -3, 5, -17, 200, -1000])
             if rng.random() < density else 0)
            for _ in range(n_max)
        ]
        b = _BW()
        encode_residual(b, coeffs, nc)
        b.align()
        got = _residual_block(_Bits(b.bytes()), n_max, nc)
        assert got == coeffs, (trial, nc, coeffs)


def test_idr_pcm_roundtrip():
    rng = np.random.RandomState(7)
    wmb, hmb = 3, 2
    mbs = [_pcm_mb(rng) for _ in range(wmb * hmb)]
    stream = annexb(make_sps(wmb, hmb), make_pps(),
                    make_idr(wmb, hmb, mbs))
    got = decode_idr_annexb(stream)
    assert got is not None and (got["width"], got["height"]) == (48, 32)
    for r in range(hmb):
        for c in range(wmb):
            d = mbs[r * wmb + c]
            assert (got["y"][r*16:r*16+16, c*16:c*16+16] == d["y"]).all()
            assert (got["cb"][r*8:r*8+8, c*8:c*8+8] == d["cb"]).all()
            assert (got["cr"][r*8:r*8+8, c*8:c*8+8] == d["cr"]).all()


def _np_dequant_itransform(coeffs, qp, dc_override=None):
    """Independent numpy model of §8.5: dequant + inverse 4x4
    transform for one block (zigzag list -> 4x4 residual)."""
    V = np.array([
        [10, 16, 13], [11, 18, 14], [13, 20, 16],
        [14, 23, 18], [16, 25, 20], [18, 29, 23]])[qp % 6]
    pos = np.zeros((4, 4), np.int64)
    for i, (r, c) in enumerate(_ZIGZAG):
        pos[r, c] = coeffs[i]
    cls = np.full((4, 4), 2)
    for (r, c) in ((0, 0), (0, 2), (2, 0), (2, 2)):
        cls[r, c] = 0
    for (r, c) in ((1, 1), (1, 3), (3, 1), (3, 3)):
        cls[r, c] = 1
    d = (pos * V[cls]) << (qp // 6)
    if dc_override is not None:
        d[0, 0] = dc_override
    # inverse transform rows then columns
    def core(m):
        e = np.zeros_like(m)
        e[0] = m[0] + m[2]
        e[1] = m[0] - m[2]
        e[2] = (m[1] >> 1) - m[3]
        e[3] = m[1] + (m[3] >> 1)
        return np.stack([e[0] + e[3], e[1] + e[2], e[1] - e[2], e[0] - e[3]])
    h = core(d.T).T  # row transform
    v = core(h)
    return (v + 32) >> 6


def test_i16x16_modes_and_residuals():
    """I_16x16: a PCM first MB provides real neighbour pixels; the
    following MBs run every prediction mode with DC+AC residuals
    verified against the independent numpy dequant/transform model
    stacked on a numpy prediction model."""
    rng = np.random.RandomState(11)
    rpy = random.Random(5)
    wmb, hmb = 4, 1
    pcm = _pcm_mb(rng)
    mbs = [pcm]
    for k, pred in enumerate((1, 2, 1)):  # H, DC, H across the row
        dc = [rpy.choice([0, 1, -2, 3]) for _ in range(16)]
        ac = [
            [rpy.choice([0, 0, 1, -1, 4]) for _ in range(15)]
            for _ in range(16)
        ]
        cdc = ([rpy.choice([0, 1, -1]) for _ in range(4)],
               [rpy.choice([0, 2, -1]) for _ in range(4)])
        cac = (
            [[rpy.choice([0, 0, 1, -2]) for _ in range(15)] for _ in range(4)],
            [[rpy.choice([0, 0, -1, 3]) for _ in range(15)] for _ in range(4)],
        )
        mbs.append({"type": "i16", "pred": pred, "chroma_mode": 1,
                    "dc": dc, "ac": ac, "cdc": cdc, "cac": cac})
    stream = annexb(make_sps(wmb, hmb), make_pps(),
                    make_idr(wmb, hmb, mbs))
    got = decode_idr_annexb(stream)
    assert got is not None
    # independent reconstruction with numpy
    from data_ingestion_py_spark.sources.h264_decode import (
        _chroma_dc_dequant,
        _hadamard4x4,
        _luma_dc_dequant,
    )

    qp = 26
    Y = np.zeros((16, 64), np.int64)
    Y[:, :16] = pcm["y"]
    for k in range(3):
        d = mbs[1 + k]
        x0 = 16 * (k + 1)
        if d["pred"] == 1:  # horizontal
            pred = np.repeat(Y[:, x0 - 1 : x0], 16, axis=1)
        else:  # DC with left only available (top row of frame)
            dc = (Y[:, x0 - 1].sum() + 8) >> 4
            pred = np.full((16, 16), dc, np.int64)
        dcm = [[0] * 4 for _ in range(4)]
        for i, (r, c) in enumerate(_ZIGZAG):
            dcm[r][c] = d["dc"][i]
        dcd = _luma_dc_dequant(dcm, qp)
        rec = pred.copy()
        for blk in range(16):
            blk8, sub = blk >> 2, blk & 3
            bry = (blk8 >> 1) * 2 + (sub >> 1)
            brx = (blk8 & 1) * 2 + (sub & 1)
            # DC coefficient is replaced AFTER dequant (§8.5.10)
            res = _np_dequant_itransform([0] + d["ac"][blk], qp,
                                         dc_override=dcd[bry][brx])
            rec[bry*4:bry*4+4, brx*4:brx*4+4] = np.clip(
                pred[bry*4:bry*4+4, brx*4:brx*4+4] + res, 0, 255
            )
        Y[:, x0 : x0 + 16] = rec
    assert (got["y"] == Y.astype(np.uint8)).all()


def test_i4x4_all_modes_roundtrip():
    """I_4x4: every prediction mode appears (a PCM left/top frame
    supplies neighbours), with per-block residuals; reconstruction
    must match the decoder bit-for-bit when re-encoded — the
    encoder mirrors the shared mode-prediction contract, so a
    divergence in predIntra4x4PredMode breaks the parse itself."""
    rng = np.random.RandomState(23)
    rpy = random.Random(9)
    wmb, hmb = 2, 2
    mbs = [_pcm_mb(rng), _pcm_mb(rng), _pcm_mb(rng)]
    modes = [rpy.randrange(9) for _ in range(16)]
    blocks = {
        blk: [rpy.choice([0, 0, 0, 1, -1, 2]) for _ in range(16)]
        for blk in range(16)
    }
    mbs.append({
        "type": "i4", "modes": modes, "chroma_mode": 0,
        "cbp_luma": 15, "blocks": blocks,
        "cdc": ([1, 0, -1, 0], [0, 2, 0, 0]),
    })
    stream = annexb(make_sps(wmb, hmb), make_pps(),
                    make_idr(wmb, hmb, mbs))
    got = decode_idr_annexb(stream)
    assert got is not None
    # PCM MBs reproduce exactly; the I_4x4 MB decodes deterministically
    assert (got["y"][:16, :16] == mbs[0]["y"]).all()
    assert (got["y"][:16, 16:] == mbs[1]["y"]).all()
    assert (got["y"][16:, :16] == mbs[2]["y"]).all()
    q = got["y"][16:, 16:]
    assert q.shape == (16, 16)
    # decode is stable (same stream twice -> same pixels)
    again = decode_idr_annexb(stream)
    assert (again["y"] == got["y"]).all()


def test_idr_refusals():
    rng = np.random.RandomState(3)
    wmb, hmb = 2, 1
    mbs = [_pcm_mb(rng), _pcm_mb(rng)]
    good = annexb(make_sps(wmb, hmb), make_pps(),
                  make_idr(wmb, hmb, mbs))
    assert decode_idr_annexb(good) is not None
    # no PPS
    assert decode_idr_annexb(
        annexb(make_sps(wmb, hmb), make_idr(wmb, hmb, mbs))
    ) is None
    # truncated slice: MB loop runs out of bits
    sl = make_idr(wmb, hmb, mbs)
    assert decode_idr_annexb(
        annexb(make_sps(wmb, hmb), make_pps(), sl[: len(sl) // 2])
    ) is None
    # CABAC PPS refuses
    b = _BW()
    b.ue(0); b.ue(0); b.u(1, 1)
    b.rbsp_trailing()
    assert decode_idr_annexb(
        annexb(make_sps(wmb, hmb), b"\x68" + b.bytes(),
               make_idr(wmb, hmb, mbs))
    ) is None


def test_i4x4_vertical_horizontal_exact():
    """Deterministic I_4x4 cross-check without the shared encoder's
    math: all-vertical modes with zero residual propagate the row
    above the MB down all 16 rows; all-horizontal propagates the left
    column; chroma vertical does the same in both chroma planes."""
    rng = np.random.RandomState(31)
    wmb, hmb = 2, 2
    a, bmb, c = _pcm_mb(rng), _pcm_mb(rng), _pcm_mb(rng)
    for modes, cmode in (([0] * 16, 2), ([1] * 16, 1)):
        mbs = [a, bmb, c,
               {"type": "i4", "modes": modes, "chroma_mode": cmode,
                "cbp_luma": 0}]
        stream = annexb(make_sps(wmb, hmb), make_pps(),
                        make_idr(wmb, hmb, mbs))
        got = decode_idr_annexb(stream)
        assert got is not None
        q = got["y"][16:, 16:]
        if modes[0] == 0:  # vertical: row above the MB, repeated
            top = got["y"][15, 16:]
            assert (q == np.tile(top, (16, 1))).all()
            ctop_b = got["cb"][7, 8:]
            assert (got["cb"][8:, 8:] == np.tile(ctop_b, (8, 1))).all()
            ctop_r = got["cr"][7, 8:]
            assert (got["cr"][8:, 8:] == np.tile(ctop_r, (8, 1))).all()
        else:  # horizontal: left column, repeated
            leftcol = got["y"][16:, 15]
            assert (q == np.tile(leftcol[:, None], (1, 16))).all()
            cl = got["cb"][8:, 7]
            assert (got["cb"][8:, 8:] == np.tile(cl[:, None], (1, 8))).all()


def test_qp_variation_and_chroma_offset():
    """Residuals decode identically across QPs only through correct
    dequant scaling: the same coefficient block at different QPs must
    reconstruct to the numpy model's values (pinning _V_TABLE rows
    and the shift/round split at qp 36 for the DC path)."""
    rng = np.random.RandomState(41)
    for qp in (8, 20, 26, 35, 40, 51):
        wmb, hmb = 2, 1
        pcm = _pcm_mb(rng)
        dc = [3, -2, 1, 0, 0, 1] + [0] * 10
        ac = [[1, -1, 0, 2] + [0] * 11 for _ in range(16)]
        mbs = [pcm, {"type": "i16", "pred": 1, "chroma_mode": 1,
                     "dc": dc, "ac": ac}]
        stream = annexb(make_sps(wmb, hmb), make_pps(qp=qp),
                        make_idr(wmb, hmb, mbs))
        got = decode_idr_annexb(stream)
        assert got is not None, qp
        from data_ingestion_py_spark.sources.h264_decode import (
            _ZIGZAG,
            _luma_dc_dequant,
        )

        pred = np.repeat(got["y"][:, 15:16].astype(np.int64), 16, axis=1)
        dcm = [[0] * 4 for _ in range(4)]
        for i, (r, cc) in enumerate(_ZIGZAG):
            dcm[r][cc] = dc[i]
        dcd = _luma_dc_dequant(dcm, qp)
        rec = pred.copy()
        for blk in range(16):
            blk8, sub = blk >> 2, blk & 3
            bry = (blk8 >> 1) * 2 + (sub >> 1)
            brx = (blk8 & 1) * 2 + (sub & 1)
            res = _np_dequant_itransform([0] + ac[blk], qp,
                                         dc_override=dcd[bry][brx])
            rec[bry*4:bry*4+4, brx*4:brx*4+4] = np.clip(
                pred[bry*4:bry*4+4, brx*4:brx*4+4] + res, 0, 255)
        assert (got["y"][:, 16:] == rec.astype(np.uint8)).all(), qp


def test_truncated_parameter_sets_refuse():
    """Every proper prefix of an SPS or PPS RBSP refuses (None) — a cut
    inside a field, or one that drops only the stop bit, which would
    otherwise read its remaining flags as absent — while the whole
    NAL still parses."""
    from data_ingestion_py_spark.sources.h264_decode import (
        parse_pps_decode,
        parse_sps_decode,
    )

    for nal, parse in (
        (make_sps(1, 2), parse_sps_decode),  # stop bit alone in byte 6
        (make_sps(2, 2), parse_sps_decode),
        (make_sps(20, 15), parse_sps_decode),
        (make_pps(), parse_pps_decode),
        (make_pps(qp=30, chroma_qp_offset=-2), parse_pps_decode),
    ):
        rbsp = rbsp_unescape(nal[1:])
        assert parse(rbsp) is not None
        for k in range(len(rbsp)):
            assert parse(rbsp[:k]) is None, (nal, k)


def _sps_high(profile: int, wmb: int, hmb: int, bit_depth: int = 8) -> bytes:
    b = _BW()
    b.u(profile, 8)
    b.u(0, 8)
    b.u(30, 8)
    b.ue(0)
    b.ue(1)  # chroma_format_idc 4:2:0
    b.ue(bit_depth - 8)  # bit_depth_luma_minus8
    b.ue(bit_depth - 8)  # bit_depth_chroma_minus8
    b.u(0, 1)  # qpprime_y_zero_transform_bypass
    b.u(0, 1)  # no scaling matrices
    b.ue(0)
    b.ue(0)
    b.ue(0)
    b.ue(1)
    b.u(0, 1)
    b.ue(wmb - 1)
    b.ue(hmb - 1)
    b.u(1, 1)  # frame_mbs_only
    b.u(0, 1)
    b.u(0, 1)  # no crop
    b.u(0, 1)  # no vui
    b.rbsp_trailing()
    return b"\x67" + rbsp_to_ebsp(b.bytes())


def test_sps_views_agree_on_every_listed_high_profile():
    """Both SPS views read the one walk: a 4:2:0 SPS of every profile
    that carries chroma_format_idc (including 138/139/134/135) is 320×240
    to the planner and 20×15 macroblocks to the decoder."""
    from data_ingestion_py_spark.sources.h264_decode import parse_sps_decode
    from data_ingestion_py_spark.sources.multimodal import h264_sps_params

    for profile in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139,
                    134, 135):
        nal = _sps_high(profile, 20, 15)
        params = h264_sps_params(nal)
        dec = parse_sps_decode(rbsp_unescape(nal[1:]))
        assert params is not None and dec is not None, profile
        assert (params["width"], params["height"]) == (320, 240)
        assert (dec["pic_width_in_mbs"] * 16,
                dec["pic_height_in_mbs"] * 16) == (320, 240)
        assert params["profile_idc"] == dec["profile_idc"] == profile


def test_high10_sps_refuses_decode():
    """The decoder is 8-bit only: a High-10 (profile 110) 4:2:0 SPS with
    10-bit samples refuses (None), while the planner still reads its
    geometry and both views report the bit depths."""
    from data_ingestion_py_spark.sources.h264_decode import parse_sps_decode
    from data_ingestion_py_spark.sources.multimodal import (
        h264_sps_fields,
        h264_sps_params,
    )

    nal = _sps_high(110, 20, 15, bit_depth=10)
    rbsp = rbsp_unescape(nal[1:])
    f = h264_sps_fields(rbsp)
    assert (f["bit_depth_luma"], f["bit_depth_chroma"]) == (10, 10)
    assert parse_sps_decode(rbsp) is None
    assert h264_sps_params(nal)["width"] == 320
    eight = rbsp_unescape(_sps_high(110, 20, 15)[1:])
    assert parse_sps_decode(eight)["bit_depth_luma"] == 8


def _decode_peak(stream: bytes):
    """(decode_idr_annexb result, tracemalloc peak in bytes)."""
    import tracemalloc

    # the decoder imports multimodal lazily: keep that out of the trace
    import data_ingestion_py_spark.sources.multimodal  # noqa: F401

    tracemalloc.start()
    try:
        got = decode_idr_annexb(stream)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    return got, peak


def test_declared_frame_larger_than_slice_refuses_before_allocating():
    """A few hundred bytes declaring 60x50 macroblocks (one PCM MB
    coded) at a level that admits that frame refuse without
    allocating the declared planes: every CAVLC I-slice MB costs at
    least 6 bits, so the slice cannot cover them (it has a bit for
    each of them)."""
    rng = np.random.RandomState(5)
    stream = annexb(make_sps(60, 50, level=31), make_pps(),
                    make_idr(60, 50, [_pcm_mb(rng)]))
    assert 60 * 50 < (len(stream) - 20) * 8 < 60 * 50 * 6
    got, peak = _decode_peak(stream)
    assert got is None
    assert peak < 1 << 20, peak


def test_frame_beyond_level_max_fs_refuses():
    """A ~100 KB slice (267 PCM MBs) declaring 400x400 macroblocks, more
    than any level's MaxFS (Table A-1), refuses before allocating:
    the slice has a bit for each of the 160k MBs, and ~560 MB of list
    planes is what the declared frame asked of the decoder before."""
    from data_ingestion_py_spark.sources.h264_decode import parse_sps_decode

    rng = np.random.RandomState(6)
    mbs = [_pcm_mb(rng) for _ in range(267)]
    stream = annexb(make_sps(400, 400, level=62), make_pps(),
                    make_idr(400, 400, mbs))
    assert len(stream) > 100_000
    got, peak = _decode_peak(stream)
    assert got is None
    assert peak < 1 << 20, peak
    # the level's MaxFS is the bound: 1620 MBs at level 3.0
    for (w, h), ok in (((45, 36), True), ((41, 40), False)):
        sps = parse_sps_decode(rbsp_unescape(make_sps(w, h)[1:]))
        assert (sps is not None) == ok, (w, h)


def test_frame_working_set_is_bytes_per_sample():
    """A slice that may cover its frame allocates one byte per sample
    and per map entry: a level-4.0 MaxFS frame (128x64 MBs, 8192) with
    a slice cut after 20 PCM MBs stays under 1000 bytes per declared
    MB (a list slot per sample would be ~3.5 KB)."""
    rng = np.random.RandomState(7)
    mbs = [_pcm_mb(rng) for _ in range(20)]
    stream = annexb(make_sps(128, 64, level=40), make_pps(),
                    make_idr(128, 64, mbs))
    assert len(stream) * 8 > 128 * 64 * 6  # passes the bit bound
    got, peak = _decode_peak(stream)
    assert got is None  # cut after MB 20
    assert 128 * 64 * 384 < peak < 128 * 64 * 1000, peak
