"""Baseline JPEG decoder (sources/decode_jpeg_array) pinned
against an INDEPENDENT encoder: a reference baseline-JPEG compressor
(FDCT + quantization + spec Annex K Huffman tables + byte stuffing +
restart markers) written here, sharing no code with the decoder, plus
an independent direct-cosine-sum IDCT for the expected pixels. The
expectation is computed from the encoder's QUANTIZED coefficients —
the decoder must reproduce it bit-for-bit (Huffman walk, dequant,
IDCT rounding, plane assembly, upsampling, color conversion).

Reference tie-in: the reference's OCR fallback rasterizes PDF pages to
.jpg and re-reads them (data_ingestion.py:148-155) — this kernel is
what makes that pixel path real with no codec library.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from data_ingestion_py_spark.sources.multimodal import (
    average_hash,
    decode_avi_frames,
    decode_bmp_array,
    decode_image_pixels,
    decode_jpeg_array,
    decode_pnm_array,
)

# ITU T.81 Annex K standard Huffman tables (luminance; legal for any
# component) — public spec constants, what real encoders emit.
_STD_DC_COUNTS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
_STD_DC_VALS = bytes(range(12))
_STD_AC_COUNTS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D])
_STD_AC_VALS = bytes.fromhex(
    "01020300041105122131410613516107"
    "227114328191a1082342b1c11552d1"
    "f02433627282090a161718191a252627"
    "28292a3435363738393a434445464748"
    "494a535455565758595a636465666768"
    "696a737475767778797a838485868788"
    "898a92939495969798999aa2a3a4a5a6"
    "a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4"
    "c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1"
    "e2e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7"
    "f8f9fa"
)

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# deterministic, mild quantization (values 8..22) — enough loss to be
# a real JPEG, small enough that coefficients stay interesting
_QTABLE = np.array([8 + (k * 7) % 15 for k in range(64)], dtype=np.int32)


def _huff_codes(counts: bytes, vals: bytes) -> dict[int, tuple[int, int]]:
    """Canonical code assignment (T.81 Annex C): symbol -> (code, len)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit packer with JPEG byte stuffing (FF -> FF 00)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, val: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def byte_align(self) -> None:  # pad the final byte with 1s (spec)
        while self.nbits:
            self.put(1, 1)


def _fdct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Reference FDCT + quantize: plane (H, W) uint8 with H, W multiples
    of 8 -> (H//8, W//8, 64) int32 quantized coefficients in NATURAL
    order. Matrix form F = C f C^T on the level-shifted samples."""
    hh, ww = plane.shape
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.where(u == 0, 1.0 / math.sqrt(2.0), 1.0) / 2.0
    cm = c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    f = plane.astype(np.float64) - 128.0
    blocks = (
        f.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)
    )  # (by, bx, 8, 8)
    coef = np.einsum("ux,byxz,vz->byuv", cm, blocks, cm)
    qmat = q.reshape(8, 8).astype(np.float64)
    return np.round(coef / qmat).astype(np.int32).reshape(
        hh // 8, ww // 8, 64
    )


def _idct_block_direct(deq64: np.ndarray) -> np.ndarray:
    """Independent IDCT: the direct quadruple cosine sum from the spec,
    no matrix tricks — slow and obviously-correct."""
    out = np.zeros((8, 8), dtype=np.float64)
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
                    cv = (1.0 / math.sqrt(2.0)) if v == 0 else 1.0
                    acc += (
                        cu
                        * cv
                        * deq64[u * 8 + v]
                        * math.cos((2 * x + 1) * u * math.pi / 16.0)
                        * math.cos((2 * y + 1) * v * math.pi / 16.0)
                    )
            out[x, y] = acc / 4.0
    return np.clip(np.round(out) + 128.0, 0.0, 255.0).astype(np.uint8)


def _expected_plane(qcoef: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(by, bx, 64) quantized coefs -> assembled pixel plane."""
    by, bx, _ = qcoef.shape
    plane = np.zeros((by * 8, bx * 8), dtype=np.uint8)
    for r in range(by):
        for c in range(bx):
            deq = qcoef[r, c] * q
            plane[8 * r : 8 * r + 8, 8 * c : 8 * c + 8] = (
                _idct_block_direct(deq.astype(np.float64))
            )
    return plane


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate to multiples of (mh, mw) — standard encoder pad."""
    h, w = plane.shape
    ph = (h + mh - 1) // mh * mh
    pw = (w + mw - 1) // mw * mw
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _encode_block(bw, zz, pred, dc, ac):
    """Huffman-encode one block's zigzag coefficients (T.81 F.1.2)."""
    diff = int(zz[0]) - pred
    s = abs(diff).bit_length()
    code, ln = dc[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    run = 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac[0x00]  # EOB
        bw.put(code, ln)
    return int(zz[0])


def _jpeg_bytes(
    planes: list[np.ndarray],
    sampling: list[tuple[int, int]],
    w: int,
    h: int,
    restart: int = 0,
    sof_marker: int = 0xC0,
) -> tuple[bytes, list[np.ndarray]]:
    """Reference baseline encoder. ``planes`` are the component rasters
    at their OWN resolution (caller subsamples chroma); returns
    (jpeg bytes, per-component quantized coefficient arrays) so tests
    can compute expected pixels independently of the decoder."""
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    interleaved = len(planes) > 1
    qcoefs = []
    for p, (hf, vf) in zip(planes, sampling):
        if interleaved:
            padded = np.zeros((mcus_y * vf * 8, mcus_x * hf * 8), p.dtype)
            rep = _pad_to(p, vf * 8, hf * 8)
            padded[: rep.shape[0], : rep.shape[1]] = rep[
                : padded.shape[0], : padded.shape[1]
            ]
        else:
            padded = _pad_to(p, 8, 8)
        qcoefs.append(_fdct_quant(padded, _QTABLE))

    out = bytearray(b"\xff\xd8")
    qz = bytes(int(_QTABLE[_ZIGZAG[k]]) for k in range(64))
    out += _seg(0xDB, b"\x00" + qz)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([len(planes)])
    for ci, (hf, vf) in enumerate(sampling):
        sof += bytes([ci + 1, (hf << 4) | vf, 0])
    out += _seg(sof_marker, sof)
    out += _seg(0xC4, b"\x00" + _STD_DC_COUNTS + _STD_DC_VALS)
    out += _seg(0xC4, b"\x10" + _STD_AC_COUNTS + _STD_AC_VALS)
    if restart:
        out += _seg(0xDD, restart.to_bytes(2, "big"))
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    dc = _huff_codes(_STD_DC_COUNTS, _STD_DC_VALS)
    ac = _huff_codes(_STD_AC_COUNTS, _STD_AC_VALS)
    bw = _BitWriter()
    preds = [0] * len(planes)
    n_mcus = mcus_x * mcus_y
    rst = 0
    for mcu in range(n_mcus):
        if restart and mcu and mcu % restart == 0:
            bw.byte_align()
            bw.out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0] * len(planes)
        my, mx = divmod(mcu, mcus_x)
        for ci, (hf, vf) in enumerate(sampling):
            hf, vf = (hf, vf) if interleaved else (1, 1)
            for by in range(vf):
                for bx in range(hf):
                    blk = qcoefs[ci][my * vf + by, mx * hf + bx]
                    zz = [int(blk[_ZIGZAG[k]]) for k in range(64)]
                    preds[ci] = _encode_block(bw, zz, preds[ci], dc, ac)
    bw.byte_align()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out), qcoefs


def _rng_raster(w: int, h: int, seed: int) -> np.ndarray:
    k = np.arange(w * h, dtype=np.int64)
    return (((k * 2654435761 + seed * 97) % 4093) % 256).astype(
        np.uint8
    ).reshape(h, w)


def test_jpeg_gray_roundtrip_bit_exact_vs_independent_idct():
    for w, h, seed in ((16, 16, 1), (13, 10, 2), (24, 8, 3), (7, 7, 4)):
        raster = _rng_raster(w, h, seed)
        payload, (qc,) = _jpeg_bytes([raster], [(1, 1)], w, h)
        got = decode_jpeg_array(payload)
        assert got is not None, (w, h)
        gw, gh, pix = got
        assert (gw, gh) == (w, h)
        expect = _expected_plane(qc, _QTABLE)[:h, :w]
        assert (pix.reshape(h, w) == expect).all(), (w, h, seed)


def test_jpeg_extended_sequential_sof1_decodes_too():
    raster = _rng_raster(16, 16, 9)
    payload, (qc,) = _jpeg_bytes([raster], [(1, 1)], 16, 16, sof_marker=0xC1)
    got = decode_jpeg_array(payload)
    assert got is not None
    expect = _expected_plane(qc, _QTABLE)
    assert (got[2].reshape(16, 16) == expect).all()


def _expected_color(qcoefs, sampling, w, h):
    """Mirror the decoder's documented assembly: per-plane IDCT (via
    the independent direct IDCT), crop to component resolution,
    replicate-upsample, JFIF YCbCr->RGB with np.round, (r+g+b)//3."""
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    planes = []
    for qc, (hf, vf) in zip(qcoefs, sampling):
        plane = _expected_plane(qc, _QTABLE)
        cw = (w * hf + hmax - 1) // hmax
        chh = (h * vf + vmax - 1) // vmax
        plane = plane[:chh, :cw]
        if hmax // hf > 1:
            plane = np.repeat(plane, hmax // hf, axis=1)
        if vmax // vf > 1:
            plane = np.repeat(plane, vmax // vf, axis=0)
        planes.append(plane[:h, :w])
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    r = np.clip(np.round(y + 1.402 * cr), 0, 255).astype(np.int16)
    g = np.clip(
        np.round(y - 0.344136 * cb - 0.714136 * cr), 0, 255
    ).astype(np.int16)
    b = np.clip(np.round(y + 1.772 * cb), 0, 255).astype(np.int16)
    return ((r + g + b) // 3).astype(np.uint8)


def test_jpeg_color_444_and_420():
    w, h = 20, 14
    yp = _rng_raster(w, h, 5)
    cbp = _rng_raster(w, h, 6)
    crp = _rng_raster(w, h, 7)

    payload, qcoefs = _jpeg_bytes(
        [yp, cbp, crp], [(1, 1), (1, 1), (1, 1)], w, h
    )
    got = decode_jpeg_array(payload)
    assert got is not None
    expect = _expected_color(qcoefs, [(1, 1), (1, 1), (1, 1)], w, h)
    assert (got[2].reshape(h, w) == expect).all()

    # 4:2:0: chroma at half resolution (2x2 Y blocks per MCU)
    sampling = [(2, 2), (1, 1), (1, 1)]
    cb_half = cbp[::2, ::2]
    cr_half = crp[::2, ::2]
    payload, qcoefs = _jpeg_bytes([yp, cb_half, cr_half], sampling, w, h)
    got = decode_jpeg_array(payload)
    assert got is not None
    gw, gh, pix = got
    assert (gw, gh) == (w, h)
    expect = _expected_color(qcoefs, sampling, w, h)
    assert (pix.reshape(h, w) == expect).all()


def test_jpeg_restart_markers_reset_dc_prediction():
    w, h = 40, 16  # 10 MCUs at 4:4:4 gray -> restarts at 3, 6, 9
    raster = _rng_raster(w, h, 8)
    payload, (qc,) = _jpeg_bytes([raster], [(1, 1)], w, h, restart=3)
    assert b"\xff\xd0" in payload or b"\xff\xd1" in payload
    got = decode_jpeg_array(payload)
    assert got is not None
    expect = _expected_plane(qc, _QTABLE)[:h, :w]
    assert (got[2].reshape(h, w) == expect).all()


def test_jpeg_honest_nones():
    raster = _rng_raster(16, 16, 11)
    payload, _ = _jpeg_bytes([raster], [(1, 1)], 16, 16)
    assert decode_jpeg_array(payload) is not None
    assert decode_jpeg_array(None) is None
    assert decode_jpeg_array(b"") is None
    assert decode_jpeg_array(b"\xff\xd8\xff\xd9") is None  # no frame
    assert decode_jpeg_array(b"not a jpeg") is None
    # progressive frames are declined, not mis-decoded
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2")
    assert decode_jpeg_array(prog) is None
    # truncated entropy stream: never guessed pixels
    assert decode_jpeg_array(payload[:-10]) is None
    # a Huffman table overflowing its code space is rejected
    bad = payload.replace(
        b"\xff\xc4" + (2 + 17 + 12).to_bytes(2, "big") + b"\x00",
        b"\xff\xc4" + (2 + 17 + 12).to_bytes(2, "big") + b"\x00", 1
    )
    corrupt = bytearray(payload)
    i = corrupt.find(b"\xff\xc4") + 5  # first DHT count byte (len 1)
    corrupt[i] = 250  # 250 codes of length 1: impossible
    assert decode_jpeg_array(bytes(corrupt)) is None


def test_jpeg_crafted_huge_sof_rejected_before_allocation():
    """A forged SOF declaring 65535x65535 implies a ~17 GB coefficient
    allocation backed by a few entropy bytes — the parquet-footer
    crafted-input lesson applied here: more blocks than entropy bits
    is structurally impossible (>= 2 Huffman bits per block), so the
    decoder must reject BEFORE allocating. Bounded-time check: the
    whole call must come back None in well under a second."""
    import time as _t

    raster = _rng_raster(8, 8, 13)
    payload, _ = _jpeg_bytes([raster], [(1, 1)], 8, 8)
    i = payload.find(b"\xff\xc0")
    forged = bytearray(payload)
    forged[i + 5 : i + 9] = (65535).to_bytes(2, "big") * 2  # h, w
    t0 = _t.perf_counter()
    assert decode_jpeg_array(bytes(forged)) is None
    assert _t.perf_counter() - t0 < 1.0


def test_jpeg_flows_through_dispatch_and_phash():
    raster = _rng_raster(32, 32, 12)
    payload, (qc,) = _jpeg_bytes([raster], [(1, 1)], 32, 32)
    # the one dispatcher routes JPEG to the pure kernel
    got = decode_image_pixels(payload)
    assert got is not None and got[0] == 32
    expect = _expected_plane(qc, _QTABLE)
    assert (got[2].reshape(32, 32) == expect).all()
    # and the phash pipeline accepts JPEG
    hv = average_hash(payload)
    assert hv is not None and 0 <= hv < (1 << 16)
    # the hash equals the hash of the DECODED raster re-encoded as PGM
    pgm = b"P5\n32 32\n255\n" + expect.tobytes()
    assert hv == average_hash(pgm)


def _mjpg_avi(jpegs: list[bytes], w: int, h: int) -> bytes:
    """Independent Motion-JPEG AVI builder: RIFF 'AVI ' with a
    spec-shaped hdrl (avih + strl(strh 'vids'/'MJPG' + strf
    BITMAPINFOHEADER biCompression='MJPG')) and one word-aligned
    '00dc' movi chunk per supplied JPEG."""
    import struct

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\0" if len(data) & 1 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack("<10I", 40000, 0, 0, 0, len(jpegs), 0, 1, 0, w, h)
    avih += b"\0" * 16
    strh = b"vids" + b"MJPG" + b"\0" * 48
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24,
        int.from_bytes(b"MJPG", "little"),
        max(len(j) for j in jpegs), 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_mjpeg_avi_frames_decode_bit_exact():
    # two frames with different rasters — each decoded frame must be a
    # valid PGM whose pixels match the independent IDCT expectation
    rasters = [_rng_raster(16, 16, 21), _rng_raster(16, 16, 22)]
    jpegs, expects = [], []
    for r in rasters:
        payload, (qc,) = _jpeg_bytes([r], [(1, 1)], 16, 16)
        jpegs.append(payload)
        expects.append(_expected_plane(qc, _QTABLE))
    frames = decode_avi_frames(_mjpg_avi(jpegs, 16, 16), 4)
    assert frames is not None and len(frames) == 2
    for fb, expect in zip(frames, expects):
        gw, gh, pix = decode_pnm_array(fb)
        assert (gw, gh) == (16, 16)
        assert (pix.reshape(16, 16) == expect).all()
    # frame geometry comes from each JPEG's own SOF, not the advisory
    # strf dims: a 24x8 JPEG inside a 16x16-declared stream decodes
    # at 24x8
    r = _rng_raster(24, 8, 23)
    payload, (qc,) = _jpeg_bytes([r], [(1, 1)], 24, 8)
    (fb,) = decode_avi_frames(_mjpg_avi([payload], 16, 16), 4)
    gw, gh, pix = decode_pnm_array(fb)
    assert (gw, gh) == (24, 8)
    assert (pix.reshape(8, 24) == _expected_plane(qc, _QTABLE)[:8, :24]).all()


def test_mjpeg_avi_honest_gates_and_max_frames():
    raster = _rng_raster(16, 16, 24)
    payload, _ = _jpeg_bytes([raster], [(1, 1)], 16, 16)
    # max_frames truncates
    avi = _mjpg_avi([payload] * 3, 16, 16)
    assert len(decode_avi_frames(avi, 2)) == 2
    # an undecodable chunk (truncated entropy stream) is skipped, the
    # valid neighbor still decodes
    avi = _mjpg_avi([payload[:-40], payload], 16, 16)
    frames = decode_avi_frames(avi, 4)
    assert frames is not None and len(frames) == 1
    # all chunks undecodable -> honest None, never guessed pixels
    assert decode_avi_frames(_mjpg_avi([payload[:-40]], 16, 16), 4) is None
    assert decode_avi_frames(_mjpg_avi([b"not a jpeg"], 16, 16), 4) is None


def _bmp_bytes(
    gray: np.ndarray, bpp: int = 24, bottom_up: bool = True,
    palette_scale: int = 1,
) -> bytes:
    """Reference BMP writer (independent of the decoder): BM header +
    BITMAPINFOHEADER + optional palette + aligned raster."""
    h, w = gray.shape
    nb = bpp // 8
    stride = ((w * nb + 3) // 4) * 4
    rows = gray[::-1] if bottom_up else gray
    raster = bytearray()
    for r in range(h):
        if bpp == 24:
            line = bytearray()
            for x in range(w):
                v = int(rows[r, x])
                line += bytes([v, v, v])  # B, G, R equal -> gray
        else:
            line = bytearray(int(v) // palette_scale for v in rows[r])
        line += b"\x00" * (stride - len(line))
        raster += line
    palette = b""
    if bpp == 8:
        n = 256 // palette_scale
        palette = b"".join(
            bytes([i * palette_scale, i * palette_scale, i * palette_scale, 0])
            for i in range(n)
        )
    data_off = 14 + 40 + len(palette)
    hdr = b"BM" + (data_off + len(raster)).to_bytes(4, "little")
    hdr += b"\x00\x00\x00\x00" + data_off.to_bytes(4, "little")
    dib = (40).to_bytes(4, "little")
    dib += w.to_bytes(4, "little")
    hh = h if bottom_up else -h
    dib += hh.to_bytes(4, "little", signed=True)
    dib += (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
    dib += (0).to_bytes(4, "little")  # BI_RGB
    dib += len(raster).to_bytes(4, "little")
    dib += b"\x00" * 8
    n_colors = (256 // palette_scale) if bpp == 8 else 0
    dib += n_colors.to_bytes(4, "little") + b"\x00\x00\x00\x00"
    return bytes(hdr + dib + palette + raster)


def test_bmp_decode_24_and_8_bit_palette_and_orientation():
    gray = _rng_raster(13, 6, 20)  # odd width exercises row padding
    for bottom_up in (True, False):
        got = decode_bmp_array(_bmp_bytes(gray, 24, bottom_up))
        assert got is not None
        w, h, pix = got
        assert (w, h) == (13, 6)
        assert (pix.reshape(6, 13) == gray).all(), bottom_up
    # 8-bit palettized: index i -> gray via the palette's (r+g+b)//3
    quant = (gray // 2) * 2  # values even so index = v/2 in a 128-palette
    got = decode_bmp_array(_bmp_bytes(quant, 8, True, palette_scale=2))
    assert got is not None
    assert (got[2].reshape(6, 13) == quant).all()
    # pipeline: a BMP of the same raster hashes like its PGM
    pgm = b"P5\n13 6\n255\n" + gray.tobytes()
    assert average_hash(_bmp_bytes(gray, 24)) == average_hash(pgm)


def test_bmp_image_dimensions_header_parse():
    from data_ingestion_py_spark.sources.multimodal import image_dimensions

    gray = _rng_raster(13, 6, 22)
    assert image_dimensions(_bmp_bytes(gray, 24, True)) == (13, 6)
    assert image_dimensions(_bmp_bytes(gray, 24, False)) == (13, 6)
    assert image_dimensions(b"BM" + bytes(10)) is None


def test_bmp_honest_nones():
    gray = _rng_raster(8, 8, 21)
    ok = _bmp_bytes(gray, 24)
    assert decode_bmp_array(ok) is not None
    assert decode_bmp_array(None) is None
    assert decode_bmp_array(b"BM" + b"\x00" * 20) is None  # truncated
    assert decode_bmp_array(b"notabmp" + b"\x00" * 60) is None
    assert decode_bmp_array(ok[:-8]) is None  # raster truncated
    rle = bytearray(ok)
    rle[30] = 1  # biCompression = BI_RLE8: declined, not guessed
    assert decode_bmp_array(bytes(rle)) is None


def test_pil_vs_pure_kernels_bit_identical():
    """Pillow (an independent decoder, skipped where absent) and the
    pure kernels must agree BIT-FOR-BIT on lossless formats: PNG/GIF
    are lossless, and the test applies the kernels' integer
    (r+g+b)//3 gray rule to Pillow's RGB output."""
    Image = pytest.importorskip("PIL.Image")
    from data_ingestion_py_spark.sources.multimodal import (
        decode_gif_array,
        decode_png_array,
    )
    import io as _io

    raster = _rng_raster(24, 16, 40)
    img = Image.fromarray(np.stack([raster] * 3, axis=-1), "RGB")
    for fmt, pure in (("PNG", decode_png_array), ("GIF", decode_gif_array)):
        buf = _io.BytesIO()
        img.save(buf, fmt)
        payload = buf.getvalue()
        a = pure(payload)
        rgb = np.asarray(Image.open(_io.BytesIO(payload)).convert("RGB"))
        gray = (rgb.sum(axis=2, dtype=np.int16) // 3).astype(np.uint8)
        assert a is not None
        assert a[:2] == (gray.shape[1], gray.shape[0]), fmt
        assert (a[2] == gray.reshape(-1)).all(), fmt


# ------------------------------------------------- progressive (SOF2)

# The Annex K sequential AC table has no EOBn symbols (0x10..0xE0), so
# progressive scans use a full 256-symbol canonical table: 254 codes of
# 9 bits + 2 of 10 (fits the code space, all-ones code unused).
_PROG_AC_COUNTS = bytes([0] * 8 + [254, 2] + [0] * 6)
_PROG_AC_VALS = bytes(range(256))


def _emit_eobrun(bw, ac, eobrun, pending):
    """Flush a pending EOB run: symbol r<<4, r extra bits encoding
    eobrun - 2^r, then the buffered correction bits of every block the
    run covers, in block order (the decoder reads them in its per-block
    refinement tails)."""
    if eobrun == 0:
        return
    r = eobrun.bit_length() - 1
    code, ln = ac[r << 4]
    bw.put(code, ln)
    if r:
        bw.put(eobrun - (1 << r), r)
    for bit in pending:
        bw.put(bit, 1)
    pending.clear()


def _encode_ac_first(bw, ac, band_vals, al, state):
    """One block of an AC first scan (T.81 G.1.2.2): EOB-run coded
    runs of point-transformed coefficients. ``state`` carries the
    cross-block EOB run."""
    t = [
        (abs(v) >> al) * (1 if v > 0 else -1) if v else 0
        for v in band_vals
    ]
    last_nz = max((i for i, v in enumerate(t) if v), default=-1)
    if last_nz < 0:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun(bw, ac, state["eobrun"], state["pending"])
            state["eobrun"] = 0
        return
    _emit_eobrun(bw, ac, state["eobrun"], state["pending"])
    state["eobrun"] = 0
    run = 0
    for i in range(last_nz + 1):
        v = t[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac[0xF0]
            bw.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < len(t) - 1:
        state["eobrun"] += 1


def _encode_ac_refine(bw, ac, band_vals, al, state):
    """One block of an AC refinement scan, mirroring the decoder's
    control flow exactly: newly-significant coefficients (|v|>>al == 1)
    emit a (zero-history-run, 1) symbol + sign bit, with correction
    bits for every already-nonzero coefficient crossed; trailing
    corrections ride the EOB run's buffered bits."""
    L = len(band_vals)
    hist = [(abs(v) >> (al + 1)) != 0 for v in band_vals]
    sig = [(abs(v) >> al) == 1 for v in band_vals]
    corr = [(abs(v) >> al) & 1 for v in band_vals]
    sign = [1 if v > 0 else 0 for v in band_vals]
    if not any(sig):
        state["eobrun"] += 1
        state["pending"] += [corr[j] for j in range(L) if hist[j]]
        return
    _emit_eobrun(bw, ac, state["eobrun"], state["pending"])
    state["eobrun"] = 0
    k = 0
    while k < L:
        nxt = next((j for j in range(k, L) if sig[j]), None)
        if nxt is None:
            break
        r = sum(1 for j in range(k, nxt) if not hist[j])
        while r > 15:  # ZRL crosses exactly 16 zero-history positions
            code, ln = ac[0xF0]
            bw.put(code, ln)
            cnt = 0
            while cnt < 16:
                if hist[k]:
                    bw.put(corr[k], 1)
                else:
                    cnt += 1
                k += 1
            r -= 16
        code, ln = ac[(r << 4) | 1]
        bw.put(code, ln)
        bw.put(sign[nxt], 1)
        for j in range(k, nxt):  # corrections crossed before the store
            if hist[j]:
                bw.put(corr[j], 1)
        k = nxt + 1
    if k < L:  # block tail joins the EOB run
        state["eobrun"] += 1
        state["pending"] += [corr[j] for j in range(k, L) if hist[j]]


def _jpeg_progressive_from_coefs(
    qcoefs,
    sampling,
    w,
    h,
    al_dc=1,
    al_ac=1,
    ac_bands=((1, 63),),
    restart=0,
):
    """Independent progressive encoder from per-component quantized
    coefficient arrays (by, bx, 64 natural order). Scan script: one
    interleaved DC first scan at Al=al_dc, DC refinement chain down to
    0, then per component and band an AC first scan at Al=al_ac and
    the refinement chain down to 0. Shares NO code with the decoder."""
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    ncomp = len(qcoefs)

    out = bytearray(b"\xff\xd8")
    qz = bytes(int(_QTABLE[_ZIGZAG[k]]) for k in range(64))
    out += _seg(0xDB, b"\x00" + qz)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([ncomp])
    for ci, (hf, vf) in enumerate(sampling):
        sof += bytes([ci + 1, (hf << 4) | vf, 0])
    out += _seg(0xC2, sof)
    out += _seg(0xC4, b"\x00" + _STD_DC_COUNTS + _STD_DC_VALS)
    out += _seg(0xC4, b"\x10" + _PROG_AC_COUNTS + _PROG_AC_VALS)
    if restart:
        out += _seg(0xDD, restart.to_bytes(2, "big"))
    dc = _huff_codes(_STD_DC_COUNTS, _STD_DC_VALS)
    ac = _huff_codes(_PROG_AC_COUNTS, _PROG_AC_VALS)

    def sos_header(comp_ids, ss, se, ah, al):
        sos = bytes([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, sos)

    def comp_grid(ci):
        if ncomp == 1:
            return (w + 7) // 8, (h + 7) // 8
        hf, vf = sampling[ci]
        cw = (w * hf + hmax - 1) // hmax
        ch = (h * vf + vmax - 1) // vmax
        return (cw + 7) // 8, (ch + 7) // 8

    def dc_scan(al, refine):
        nonlocal out
        out += sos_header(list(range(ncomp)), 0, 0, al + 1 if refine else 0, al)
        bw = _BitWriter()
        preds = [0] * ncomp
        rst = 0
        n_mcus = mcus_x * mcus_y
        for mcu in range(n_mcus):
            if restart and mcu and mcu % restart == 0:
                bw.byte_align()
                bw.out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * ncomp
            my, mx = divmod(mcu, mcus_x)
            for ci in range(ncomp):
                hf, vf = sampling[ci] if ncomp > 1 else (1, 1)
                for by in range(vf):
                    for bx in range(hf):
                        dcv = int(qcoefs[ci][my * vf + by, mx * hf + bx][0])
                        if refine:
                            bw.put((dcv >> al) & 1, 1)
                            continue
                        diff = (dcv >> al) - preds[ci]
                        preds[ci] = dcv >> al
                        s = abs(diff).bit_length()
                        code, ln = dc[s]
                        bw.put(code, ln)
                        if s:
                            bw.put(
                                diff if diff > 0 else diff + (1 << s) - 1, s
                            )
        bw.byte_align()
        out += bw.out

    def ac_scan(ci, ss, se, al, refine):
        nonlocal out
        out += sos_header([ci], ss, se, al + 1 if refine else 0, al)
        bw = _BitWriter()
        bw_t, bh_t = comp_grid(ci)
        state = {"eobrun": 0, "pending": []}
        rst = 0
        for u in range(bw_t * bh_t):
            if restart and u and u % restart == 0:
                _emit_eobrun(bw, ac, state["eobrun"], state["pending"])
                state["eobrun"] = 0
                bw.byte_align()
                bw.out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
            row, col = divmod(u, bw_t)
            blk = qcoefs[ci][row, col]
            band = [int(blk[_ZIGZAG[k]]) for k in range(ss, se + 1)]
            if refine:
                _encode_ac_refine(bw, ac, band, al, state)
            else:
                _encode_ac_first(bw, ac, band, al, state)
        _emit_eobrun(bw, ac, state["eobrun"], state["pending"])
        bw.byte_align()
        out += bw.out

    dc_scan(al_dc, refine=False)
    for a in range(al_dc - 1, -1, -1):
        dc_scan(a, refine=True)
    for ci in range(ncomp):
        for ss, se in ac_bands:
            ac_scan(ci, ss, se, al_ac, refine=False)
    for a in range(al_ac - 1, -1, -1):
        for ci in range(ncomp):
            for ss, se in ac_bands:
                ac_scan(ci, ss, se, a, refine=True)
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_progressive_bytes(planes, sampling, w, h, **kw):
    """Progressive encoder from pixel planes: FDCT+quant per component
    (MCU-padded like the baseline encoder), then the scan script."""
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    interleaved = len(planes) > 1
    qcoefs = []
    for p, (hf, vf) in zip(planes, sampling):
        if interleaved:
            padded = np.zeros((mcus_y * vf * 8, mcus_x * hf * 8), p.dtype)
            rep = _pad_to(p, vf * 8, hf * 8)
            padded[: rep.shape[0], : rep.shape[1]] = rep[
                : padded.shape[0], : padded.shape[1]
            ]
        else:
            padded = _pad_to(p, 8, 8)
        qcoefs.append(_fdct_quant(padded, _QTABLE))
    return _jpeg_progressive_from_coefs(qcoefs, sampling, w, h, **kw), qcoefs


def test_jpeg_progressive_gray_matches_baseline_and_direct_idct():
    for w, h, seed, kw in (
        (16, 16, 1, {}),
        (13, 10, 2, {"ac_bands": ((1, 5), (6, 63))}),
        (24, 8, 3, {"al_dc": 2, "al_ac": 2}),
        (7, 7, 4, {"al_dc": 0, "al_ac": 0}),  # no refinement scans
    ):
        raster = _rng_raster(w, h, seed)
        prog, qcoefs = _jpeg_progressive_bytes([raster], [(1, 1)], w, h, **kw)
        base, _ = _jpeg_bytes([raster], [(1, 1)], w, h)
        got = decode_jpeg_array(prog)
        assert got is not None, (w, h, seed, kw)
        gw, gh, px = got
        assert (gw, gh) == (w, h)
        bw_, bh_, bpx = decode_jpeg_array(base)
        assert np.array_equal(px, bpx), (w, h, seed, kw)
        exp = _expected_plane(qcoefs[0], _QTABLE)[:h, :w]
        assert np.array_equal(px.reshape(h, w), exp)


def test_jpeg_progressive_color_444_and_420():
    for sampling in ([(1, 1), (1, 1), (1, 1)], [(2, 2), (1, 1), (1, 1)]):
        w, h = 20, 12
        hmax = max(s[0] for s in sampling)
        vmax = max(s[1] for s in sampling)
        planes = []
        for ci, (hf, vf) in enumerate(sampling):
            cw = (w * hf + hmax - 1) // hmax
            ch = (h * vf + vmax - 1) // vmax
            planes.append(_rng_raster(cw, ch, 10 + ci))
        prog, _ = _jpeg_progressive_bytes(planes, sampling, w, h)
        base, _ = _jpeg_bytes(planes, sampling, w, h)
        got = decode_jpeg_array(prog)
        assert got is not None
        _, _, px = got
        _, _, bpx = decode_jpeg_array(base)
        assert np.array_equal(px, bpx), sampling


def test_jpeg_progressive_restart_markers():
    w, h = 32, 24
    raster = _rng_raster(w, h, 7)
    prog, _ = _jpeg_progressive_bytes([raster], [(1, 1)], w, h, restart=3)
    base, _ = _jpeg_bytes([raster], [(1, 1)], w, h)
    got = decode_jpeg_array(prog)
    assert got is not None
    _, _, px = got
    _, _, bpx = decode_jpeg_array(base)
    assert np.array_equal(px, bpx)


def test_jpeg_progressive_refine_zrl_and_long_runs():
    # crafted coefficients exercising the refinement ZRL path: history
    # coefficients, >16-zero-history gaps before newly-significant
    # ones, and corrections riding EOB runs across blocks
    qcoefs = np.zeros((2, 2, 64), dtype=np.int32)
    qcoefs[0, 0][_ZIGZAG[1]] = 5    # history (|v|>>1 = 2)
    qcoefs[0, 0][_ZIGZAG[40]] = -1  # newly significant after a long gap
    qcoefs[0, 1][_ZIGZAG[2]] = -3   # history with a correction bit = 1
    qcoefs[0, 1][_ZIGZAG[63]] = 1   # significant at the band's last slot
    qcoefs[1, 0][_ZIGZAG[30]] = 1   # lone late significance
    # block (1,1) has nothing: pure EOB-run member
    dc_vals = ((37, -22), (15, 4))
    for r in range(2):
        for c in range(2):
            qcoefs[r, c][0] = dc_vals[r][c]
    w = h = 16
    prog = _jpeg_progressive_from_coefs(
        [qcoefs], [(1, 1)], w, h, al_dc=1, al_ac=1
    )
    got = decode_jpeg_array(prog)
    assert got is not None
    _, _, px = got
    exp = _expected_plane(qcoefs, _QTABLE)[:h, :w]
    assert np.array_equal(px.reshape(h, w), exp)


def test_jpeg_progressive_honest_nones():
    w, h = 16, 16
    raster = _rng_raster(w, h, 5)
    prog, _ = _jpeg_progressive_bytes([raster], [(1, 1)], w, h)
    # truncated mid-scan
    assert decode_jpeg_array(prog[: len(prog) // 2]) is None
    # a scan with Ss > Se is structurally invalid
    bad = bytearray(prog)
    i = bad.find(bytes([0xFF, 0xDA]))
    ns = bad[i + 4]
    bad[i + 5 + 2 * ns] = 40  # Ss
    bad[i + 6 + 2 * ns] = 10  # Se < Ss
    assert decode_jpeg_array(bytes(bad)) is None
    # EOI with zero scans
    no_scan = prog[: prog.find(bytes([0xFF, 0xDA]))] + b"\xff\xd9"
    assert decode_jpeg_array(no_scan) is None
