"""Tests for ingestion sources: PDF page extraction + multimodal stubs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_py_spark.sources import multimodal, pdf


@pytest.fixture()
def fake_pdf_dir(tmp_path):
    """UTF-8 'PDFs' with form-feed page breaks (fallback extractor)."""
    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes("page one text\fpage two text".encode())
    (d / "b.pdf").write_bytes("single page".encode())
    (d / "empty.pdf").write_bytes("\f".encode())  # all-empty → needs OCR
    (d / "ignore.txt").write_bytes(b"not a pdf")
    return str(d)


def test_scan_and_extract_pages(spark, fake_pdf_dir):
    binary = pdf.scan_pdf_directory(spark, fake_pdf_dir)
    assert binary.count() == 3  # glob filters the .txt
    pages = pdf.extract_pages(binary)
    rows = {(r.document_name, r.page_number): r for r in pages.collect()}
    assert rows[("a.pdf", 1)].page_text == "page one text"
    assert rows[("a.pdf", 2)].page_text == "page two text"
    assert rows[("b.pdf", 1)].page_text == "single page"
    # P9: whole-doc-empty predicate flags OCR need per document
    assert rows[("empty.pdf", 1)].needs_ocr is True
    assert rows[("a.pdf", 1)].needs_ocr is False


def test_page_links(spark, fake_pdf_dir):
    pages = pdf.extract_pages(pdf.scan_pdf_directory(spark, fake_pdf_dir))
    linked = pdf.pages_with_links(pages)
    r = linked.where(
        (F.col("document_name") == "a.pdf") & (F.col("page_number") == 2)
    ).first()
    assert r.page_link.endswith("a.pdf#page=2")


@pytest.fixture()
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNG fake image bytes", ("image/png", 64, 64, None)),
        (2, "image", b"\x89PNG fake image bytes", ("image/png", 64, 64, None)),
        (3, "audio", b"RIFF fake wav", ("audio/wav", None, None, 1200)),
        (4, "video", b"\x00" * 5000, ("video/mp4", 320, 240, 9000)),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
        + b"\xde\xad\xbe\xef"
    )


def _jpeg(w: int, h: int, with_app0: bool = False) -> bytes:
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0\x00\x11\x08"
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + b"\x03" + b"\x00" * 9
    )
    return b"\xff\xd8" + (app0 if with_app0 else b"") + sof0 + b"\xff\xd9"


def test_image_dimensions_real_headers():
    """The REAL decode kernel against hand-built-but-valid header bytes."""
    assert multimodal.image_dimensions(_png(640, 480)) == (640, 480)
    assert multimodal.image_dimensions(_png(1, 1)) == (1, 1)
    assert multimodal.image_dimensions(_jpeg(320, 240)) == (320, 240)
    # SOF behind an APP0 (JFIF) segment — the marker walk must skip it
    assert multimodal.image_dimensions(_jpeg(1920, 1080, with_app0=True)) == (
        1920,
        1080,
    )
    # GIF logical screen descriptor, little-endian
    assert multimodal.image_dimensions(
        b"GIF89a" + (12).to_bytes(2, "little") + (34).to_bytes(2, "little")
    ) == (12, 34)
    # garbage / truncated / None → None, never an exception
    assert multimodal.image_dimensions(b"not an image") is None
    assert multimodal.image_dimensions(_png(640, 480)[:20]) is None
    assert multimodal.image_dimensions(b"\xff\xd8\xff") is None
    assert multimodal.image_dimensions(None) is None


def test_extract_features_populates_image_meta(spark):
    rows = [
        (1, "image", _png(800, 600), (None, None, None, None)),
        (2, "image", _jpeg(64, 32, with_app0=True), (None, None, None, None)),
        (3, "image", b"opaque", (None, None, None, None)),
        (4, "audio", _png(9, 9), (None, None, None, None)),  # kind gates parse
    ]
    feats = multimodal.extract_features(
        spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    ).collect()
    by_id = {r.media_id: (r.width, r.height) for r in feats}
    assert by_id[1] == (800, 600)
    assert by_id[2] == (64, 32)
    assert by_id[3] == (None, None)
    assert by_id[4] == (None, None)


def test_feature_extraction_stub(spark, media_df):
    feats = multimodal.extract_features(media_df).collect()
    by_id = {r.media_id: r for r in feats}
    assert len(feats) == 4
    assert by_id[1].content_hash == by_id[2].content_hash  # same payload
    assert by_id[1].feature == by_id[2].feature  # deterministic
    assert len(by_id[1].feature) == 8
    assert by_id[4].n_bytes == 5000


def test_frame_sampling_fanout(spark, media_df):
    frames = multimodal.sample_frames(media_df, every_n_bytes=1024).collect()
    # only the video row fans out; 5000 bytes → 4 frames (max_frames cap)
    assert {r.media_id for r in frames} == {4}
    assert sorted(r.frame_index for r in frames) == [0, 1, 2, 3]
    assert all(len(r.frame_payload) == 1024 for r in frames)


def test_media_dedup_by_content(spark, media_df):
    feats = multimodal.extract_features(media_df)
    dd = multimodal.dedup_by_content(feats).collect()
    copies = {r.canonical_media_id: r.n_copies for r in dd}
    assert copies[1] == 2  # ids 1+2 share payload
    assert copies[3] == 1 and copies[4] == 1


def test_compact_reduces_file_count(spark, tmp_path):
    from data_ingestion_py_spark.io import compact, load_table
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "fragmented")
    load_table(spark, SF_SMOKE, "events").repartition(16).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/part-*")) == 16
    compact(spark, src, target_files=2)
    out = src + "_compacted"
    assert len(glob.glob(out + "/part-*")) == 2
    assert (
        spark.read.parquet(out).count() == spark.read.parquet(src).count()
    )

def test_jpeg_fill_bytes_before_marker():
    """Spec-legal 0xFF padding before a marker (ITU T.81 B.1.1.2) must
    not derail the segment walk, and EOI/SOS must terminate it."""
    sof0 = (
        b"\xff\xc0\x00\x11\x08"
        + (77).to_bytes(2, "big")
        + (99).to_bytes(2, "big")
        + b"\x03" + b"\x00" * 9
    )
    padded = b"\xff\xd8" + b"\xff\xff\xff" + sof0 + b"\xff\xd9"
    assert multimodal.image_dimensions(padded) == (99, 77)
    # SOS before any SOF: walk must stop (entropy data follows), not
    # misread compressed bytes as segments
    sos_first = b"\xff\xd8" + b"\xff\xda\x00\x04\x01\x00" + b"\x12\x34"
    assert multimodal.image_dimensions(sos_first) is None


def _wav_stdlib(n_frames: int, rate: int) -> bytes:
    """A REAL wav file via the stdlib wave module (mono 16-bit PCM)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * n_frames)
    return buf.getvalue()


def _mp4(timescale: int, duration: int, version: int = 0) -> bytes:
    ftyp = (16).to_bytes(4, "big") + b"ftypisom" + (0).to_bytes(4, "big")
    if version == 0:
        mvhd_body = (
            b"\x00\x00\x00\x00"
            + (0).to_bytes(4, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
        )
    else:
        mvhd_body = (
            b"\x01\x00\x00\x00"
            + (0).to_bytes(8, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
        )
    mvhd = (8 + len(mvhd_body)).to_bytes(4, "big") + b"mvhd" + mvhd_body
    moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
    return ftyp + moov


def test_media_duration_real_bytes():
    """The WAV/MP4 duration kernel against REAL stdlib-generated WAV
    bytes and hand-built-but-valid ISO BMFF boxes (v0 AND v1 mvhd)."""
    # 8000 frames at 16kHz mono 16-bit = exactly 500 ms
    assert multimodal.media_duration_ms(_wav_stdlib(8000, 16000)) == 500
    assert multimodal.media_duration_ms(_wav_stdlib(44100, 44100)) == 1000
    assert multimodal.media_duration_ms(_mp4(600, 3000)) == 5000
    assert multimodal.media_duration_ms(_mp4(1000, 1500, version=1)) == 1500
    # leading non-moov box is skipped by declared size; free box padding
    free = (16).to_bytes(4, "big") + b"free" + b"\x00" * 8
    ftyp_free = _mp4(600, 1200)
    with_free = ftyp_free[:16] + free + ftyp_free[16:]
    assert multimodal.media_duration_ms(with_free) == 2000
    # garbage / truncated / zero timescale / None → None, no exception
    assert multimodal.media_duration_ms(b"RIFFxxxxWAVE") is None
    assert multimodal.media_duration_ms(_mp4(0, 500)) is None
    assert multimodal.media_duration_ms(_wav_stdlib(100, 8000)[:30]) is None
    assert multimodal.media_duration_ms(b"not media") is None
    assert multimodal.media_duration_ms(None) is None


def test_probe_metadata_mixed_kinds(spark):
    """The Arrow probe stage routes each kind to its kernel and leaves
    the other columns NULL."""
    rows = [
        (1, "image", _png(64, 32)),
        (2, "audio", _wav_stdlib(4000, 8000)),
        (3, "video", _mp4(600, 600)),
        (4, "audio", b"garbage"),
        (5, "video", None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    got = {
        r.media_id: (r.width, r.height, r.duration_ms)
        for r in multimodal.probe_metadata(df).collect()
    }
    assert got == {
        1: (64, 32, None),
        2: (None, None, 500),
        3: (None, None, 1000),
        4: (None, None, None),
        5: (None, None, None),
    }


def test_decode_pnm_p5_p6_and_edge_cases():
    from data_ingestion_py_spark.sources.multimodal import decode_pnm

    # P5 grayscale 2x2 with a header comment
    p5 = b"P5\n# a comment\n2 2\n255\n" + bytes([10, 20, 30, 40])
    assert decode_pnm(p5) == (2, 2, [10, 20, 30, 40])
    # P6 RGB 2x1: gray = (r+g+b)//3
    p6 = b"P6\n2 1\n255\n" + bytes([30, 60, 90, 10, 10, 11])
    assert decode_pnm(p6) == (2, 1, [60, 10])
    # truncated raster, bad magic, 16-bit maxval -> None
    assert decode_pnm(b"P5\n2 2\n255\n" + bytes([1, 2, 3])) is None
    assert decode_pnm(b"P4\n2 2\n255\n\x00\x00\x00\x00") is None
    assert decode_pnm(b"P5\n2 2\n65535\n" + bytes(8)) is None
    assert decode_pnm(None) is None


def test_average_hash_shift_invariance_and_discrimination():
    from data_ingestion_py_spark.sources.multimodal import average_hash

    def pgm(pixels, w, h):
        return f"P5\n{w} {h}\n255\n".encode() + bytes(pixels)

    base = [(i * 13 + (i // 16) * 7) % 240 for i in range(256)]
    shifted = [p + 8 for p in base]  # uniform brightness shift
    inverted = [239 - p for p in base]
    h_base = average_hash(pgm(base, 16, 16))
    assert h_base == average_hash(pgm(shifted, 16, 16))  # invariant
    assert h_base != average_hash(pgm(inverted, 16, 16))  # discriminates
    # P6 with r=g=b equals the P5 hash (gray reduction is exact)
    p6 = b"P6\n16 16\n255\n" + bytes(
        v for p in base for v in (p, p, p)
    )
    assert average_hash(p6) == h_base


def test_perceptual_hashes_spark_matches_kernel(spark):
    from data_ingestion_py_spark.sources.multimodal import (
        average_hash,
        perceptual_hashes,
    )

    rows = []
    for mid in range(6):
        pix = bytes(((mid * 31 + i * 7) % 240) for i in range(256))
        rows.append((mid, b"P5\n16 16\n255\n" + pix))
    rows.append((99, b"not an image"))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.phash for r in perceptual_hashes(df).collect()}
    for mid, payload in rows:
        assert got[mid] == average_hash(payload)
    assert got[99] is None


def _wav(samples, *, channels=1, bits=16, audio_format=1):
    import struct

    data = b"".join(
        struct.pack("<h", s) if bits == 16 else bytes([s & 0xFF])
        for s in samples
    )
    fmt = struct.pack(
        "<HHIIHH", audio_format, channels, 8000, 16000, 2, bits
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_pcm_known_samples():
    from data_ingestion_py_spark.sources.multimodal import decode_wav_pcm

    out = decode_wav_pcm(_wav([0, 1000, -1000, 5]))
    assert out == (4, 1000, 0 + 1000000 + 1000000 + 25)


def test_decode_wav_pcm_int16_min_peak():
    from data_ingestion_py_spark.sources.multimodal import decode_wav_pcm

    n, peak, energy = decode_wav_pcm(_wav([-32768, 100]))
    assert (n, peak) == (2, 32768)
    assert energy == 32768 * 32768 + 10000


def test_decode_wav_pcm_rejects_non_mono_non_pcm():
    from data_ingestion_py_spark.sources.multimodal import decode_wav_pcm

    assert decode_wav_pcm(_wav([1, 2], channels=2)) is None
    assert decode_wav_pcm(_wav([1, 2], audio_format=3)) is None
    assert decode_wav_pcm(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert decode_wav_pcm(None) is None
    assert decode_wav_pcm(b"\x00" * 4) is None


def test_decode_wav_pcm_truncated_data_chunk():
    from data_ingestion_py_spark.sources.multimodal import decode_wav_pcm

    full = _wav([7, -7, 300])
    # cut mid-sample: only the complete samples are decoded
    out = decode_wav_pcm(full[:-1])
    assert out == (2, 7, 98)


def _codec_wav(data: bytes, *, audio_format, bits, block_align, channels=1):
    import struct

    fmt = struct.pack(
        "<HHIIHH", audio_format, channels, 8000, 8000, block_align, bits
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_g711_luts_match_independent_decoders_and_anchors():
    from data_ingestion_py_spark.sources.multimodal import (
        _ALAW_LUT, _ULAW_LUT,
    )

    # published anchors (CCITT g711.c): the two μ-law zeros, both maxima
    assert _ULAW_LUT[0xFF] == 0 and _ULAW_LUT[0x7F] == 0
    assert _ULAW_LUT[0x00] == -32124 and _ULAW_LUT[0x80] == 32124
    assert _ALAW_LUT[0x55] == -8 and _ALAW_LUT[0xD5] == 8
    assert _ALAW_LUT[0x2A] == -32256 and _ALAW_LUT[0xAA] == 32256

    # independent straightforward per-byte decoders, written from the
    # G.711 spec separately from the vectorized table builder
    def ulaw(b):
        u = ~b & 0xFF
        mag = (((u & 0xF) * 8 + 0x84) << ((u >> 4) & 7)) - 0x84
        return -mag if u & 0x80 else mag

    def alaw(b):
        a = b ^ 0x55
        t, seg = (a & 0xF) << 4, (a >> 4) & 7
        t = t + 8 if seg == 0 else (t + 0x108) << (seg - 1)
        return t if a & 0x80 else -t

    for b in range(256):
        assert _ULAW_LUT[b] == ulaw(b), b
        assert _ALAW_LUT[b] == alaw(b), b


def _ref_ima_adpcm(data: bytes, block_align: int) -> list[int]:
    """Independent per-spec IMA ADPCM reference (IMA rev 3.00)."""
    from data_ingestion_py_spark.sources.multimodal import (
        _IMA_ADJ, _IMA_STEP,
    )

    out = []
    for off in range(0, len(data) - 3, block_align):
        blk = data[off : off + block_align]
        pred = int.from_bytes(blk[:2], "little", signed=True)
        idx = blk[2]
        out.append(pred)
        for byte in blk[4:]:
            for nib in (byte & 0xF, byte >> 4):
                s = _IMA_STEP[idx]
                d = (s >> 3) + (s >> 2 if nib & 1 else 0)
                d += (s >> 1 if nib & 2 else 0) + (s if nib & 4 else 0)
                pred = max(-32768, min(32767, pred - d if nib & 8 else pred + d))
                idx = max(0, min(88, idx + _IMA_ADJ[nib]))
                out.append(pred)
    return out


def test_ima_adpcm_matches_reference_including_clamps():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import _ima_adpcm_decode

    rng = np.random.default_rng(7)
    for trial in range(12):
        ba = int(rng.integers(4, 40))
        data = bytearray()
        for _ in range(int(rng.integers(1, 4))):
            pred = int(rng.integers(-32768, 32768))  # extremes can clamp
            data += pred.to_bytes(2, "little", signed=True)
            data += bytes([int(rng.integers(0, 89)), 0])
            data += bytes(rng.integers(0, 256, ba - 4, dtype=np.uint8))
        got = _ima_adpcm_decode(bytes(data), ba)
        assert got is not None
        assert got.tolist() == _ref_ima_adpcm(bytes(data), ba), trial
    # guaranteed clamp exercise: max predictor, max step, all-add codes
    blk = (32767).to_bytes(2, "little", signed=True) + bytes([88, 0]) + b"\x77" * 4
    got = _ima_adpcm_decode(blk, len(blk))
    assert got.tolist() == _ref_ima_adpcm(blk, len(blk))
    assert got.max() == 32767  # clamped
    # short final block decodes the codes it has
    two = blk + blk[:6]
    assert _ima_adpcm_decode(two, len(blk)).tolist() == _ref_ima_adpcm(
        two, len(blk)
    )


def test_decode_wav_samples_codec_formats_end_to_end():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import (
        _ALAW_LUT, _ULAW_LUT, decode_audio_pcm, decode_wav_pcm,
        decode_wav_samples, resample_wav,
    )

    codes = bytes(range(256))
    for fmt, lut in ((7, _ULAW_LUT), (6, _ALAW_LUT)):
        wav = _codec_wav(codes, audio_format=fmt, bits=8, block_align=1)
        rate, v = decode_wav_samples(wav)
        assert rate == 8000 and (v == lut[np.frombuffer(codes, np.uint8)]).all()
    adata = (64).to_bytes(2, "little") + bytes([5, 0]) + b"\x03" * 8
    wav = _codec_wav(adata, audio_format=0x11, bits=4, block_align=12)
    rate, v = decode_wav_samples(wav)
    assert v.tolist() == _ref_ima_adpcm(adata, 12)
    # decoded codec audio flows through stats and the resampler
    n, peak, energy = decode_wav_pcm(wav)
    assert n == 17 and energy == sum(x * x for x in v.tolist())
    out = resample_wav(
        _codec_wav(codes, audio_format=7, bits=8, block_align=1), 4000
    )
    assert out is not None and decode_wav_samples(out)[0] == 4000
    # honest gates: corrupt step index, stereo, truncated header
    bad = _codec_wav(
        bytes([0, 0, 89, 0]) + bytes(8), audio_format=0x11, bits=4,
        block_align=12,
    )
    assert decode_wav_samples(bad) is None
    assert decode_wav_samples(
        _codec_wav(codes, audio_format=7, bits=8, block_align=1, channels=2)
    ) is None
    assert decode_wav_samples(
        _codec_wav(codes, audio_format=2, bits=4, block_align=12)
    ) is None  # MS-ADPCM: still the honest seam
    # an IMA data chunk under one block header (cut after the header)
    for data in (b"", b"\x01\x02\x03"):
        short = _codec_wav(data, audio_format=0x11, bits=4, block_align=12)
        assert decode_wav_samples(short) is None
        assert decode_wav_pcm(short) is None
        assert decode_audio_pcm(short) is None
        assert resample_wav(short, 4000) is None


def _png_multi(chunks: list[tuple[bytes, bytes]]) -> bytes:
    out = b"\x89PNG\r\n\x1a\n"
    for ctype, data in chunks:
        out += len(data).to_bytes(4, "big") + ctype + data + b"\x00" * 4
    return out


def test_png_chunks_walk_and_iend_stop():
    from data_ingestion_py_spark.sources.multimodal import png_chunks

    payload = _png_multi(
        [(b"IHDR", b"\x00" * 13), (b"tEXt", b"C\x00AA"),
         (b"IDAT", b"\x00" * 5), (b"IEND", b""), (b"JUNK", b"xx")]
    )
    # walk stops AT IEND — trailing garbage after it is never read
    assert png_chunks(payload) == [
        (0, "IHDR", 13), (1, "tEXt", 4), (2, "IDAT", 5), (3, "IEND", 0)
    ]


def test_png_chunks_rejects_and_truncates():
    from data_ingestion_py_spark.sources.multimodal import png_chunks

    assert png_chunks(None) is None
    assert png_chunks(b"\xff\xd8\xff\xe0 not a png") is None
    assert png_chunks(b"\x89PNG\r\n\x1a\n") == []
    # truncated mid-chunk-header: only complete chunk headers listed
    full = _png_multi([(b"IHDR", b"\x00" * 13), (b"IDAT", b"\x00" * 9)])
    assert png_chunks(full[:-15]) == [(0, "IHDR", 13)]


def test_tiff_dimensions_kernel():
    """Byte-level TIFF IFD walk: both endiannesses, the left-justified
    SHORT rule, and malformed-input rejection."""
    from data_ingestion_py_spark.sources.multimodal import tiff_dimensions

    def le(v, n):
        return v.to_bytes(n, "little")

    def be(v, n):
        return v.to_bytes(n, "big")

    # little-endian: width SHORT 300, height LONG 200
    tif_le = (
        b"II" + le(42, 2) + le(8, 4)
        + le(2, 2)
        + le(256, 2) + le(3, 2) + le(1, 4) + le(300, 2) + b"\x00\x00"
        + le(257, 2) + le(4, 2) + le(1, 4) + le(200, 4)
        + le(0, 4)
    )
    assert tiff_dimensions(tif_le) == (300, 200)

    # big-endian: SHORT value must be read from the FIRST two bytes
    tif_be = (
        b"MM" + be(42, 2) + be(8, 4)
        + be(2, 2)
        + be(256, 2) + be(3, 2) + be(1, 4) + be(300, 2) + b"\x00\x00"
        + be(257, 2) + be(4, 2) + be(1, 4) + be(200, 4)
        + be(0, 4)
    )
    assert tiff_dimensions(tif_be) == (300, 200)

    assert tiff_dimensions(None) is None
    assert tiff_dimensions(b"II") is None  # truncated
    assert tiff_dimensions(b"XX" + le(42, 2) + le(8, 4)) is None  # order
    assert tiff_dimensions(b"II" + le(41, 2) + le(8, 4)) is None  # magic
    # IFD offset past the end
    assert tiff_dimensions(b"II" + le(42, 2) + le(999, 4)) is None
    # entries truncated mid-walk
    assert tiff_dimensions(b"II" + le(42, 2) + le(8, 4) + le(5, 2)) is None


def test_resize_pnm_nearest_neighbor_hand_values():
    from data_ingestion_py_spark.sources.multimodal import (
        decode_pnm,
        resize_pnm,
    )

    # 4x2 gradient -> 2x1: target (0,c) samples source (0, 2c)
    img = b"P5\n4 2\n255\n" + bytes(range(8))
    out = resize_pnm(img, 2, 1)
    assert out == b"P5\n2 1\n255\n" + bytes([0, 2])
    assert decode_pnm(out) == (2, 1, [0, 2])  # valid PGM round-trip
    # upscale replicates (2x1 -> 4x2: every target samples src row 0)
    up = resize_pnm(b"P5\n2 1\n255\n" + bytes([9, 200]), 4, 2)
    assert decode_pnm(up) == (4, 2, [9, 9, 200, 200] * 2)
    # P6 input resizes through the grayscale mean
    p6 = b"P6\n2 1\n255\n" + bytes([30, 60, 90, 10, 10, 10])
    assert decode_pnm(resize_pnm(p6, 1, 1)) == (1, 1, [60])
    # honest failures: undecodable payloads and bad targets
    assert resize_pnm(b"\xff\xd8not-pnm", 2, 2) is None
    assert resize_pnm(img, 0, 2) is None
    assert resize_pnm(None, 2, 2) is None


def test_resize_images_then_checksums_spark(spark):
    from data_ingestion_py_spark.sources import multimodal as mm

    rows = [
        (1, b"P5\n4 2\n255\n" + bytes(range(8))),
        (2, b"not an image"),
        (3, None),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    )
    got = {
        r.media_id: (r.width, r.height, r.px_sum, r.px_wsum)
        for r in mm.pixel_checksums(
            mm.resize_images(media, 2, 1)
        ).collect()
    }
    assert got[1] == (2, 1, 2, 4)  # pixels [0, 2]: sum 2, 1*0+2*2
    assert got[2] == (None, None, None, None)
    assert got[3] == (None, None, None, None)


# ---------------------------------------------------------------- AVI


def _avi(
    frames_px=None,
    usec=40000,
    bit_count=24,
    compression=0,
    w=4,
    h=4,
    top_down=False,
    n_frames=None,
):
    """Build a minimal valid AVI: hdrl(avih + strl(strh 'vids' + strf
    BITMAPINFOHEADER)) + movi('00db' DIB frames). ``frames_px`` is a
    list of top-down grayscale rasters (len w*h each); stored bottom-up
    unless ``top_down`` (negative biHeight)."""
    import struct

    def chunk(cid, data):
        pad = b"\0" if len(data) & 1 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    frames_px = frames_px if frames_px is not None else []
    nf = n_frames if n_frames is not None else len(frames_px)
    avih = struct.pack("<10I", usec, 0, 0, 0, nf, 0, 1, 0, w, h) + b"\0" * 16
    strh = b"vids" + b"DIB " + b"\0" * 48
    bi_h = -h if top_down else h
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, bi_h, 1, bit_count, compression,
        ((w * (bit_count // 8) + 3) // 4 * 4) * h, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    stride = ((w * (bit_count // 8) + 3) // 4) * 4
    movi_body = b""
    for px in frames_px:
        dib = bytearray()
        row_order = range(h) if top_down else range(h - 1, -1, -1)
        for r in row_order:
            row = bytearray()
            for c in range(w):
                v = px[r * w + c]
                row += bytes([v] * (bit_count // 8))
            row += b"\0" * (stride - len(row))
            dib += row
        movi_body += chunk(b"00db", bytes(dib))
    movi = lst(b"movi", movi_body)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_headers_and_duration():
    from data_ingestion_py_spark.sources import multimodal as mm

    avi = _avi(usec=40000, n_frames=250)
    hdr = mm.avi_headers(avi)
    assert hdr == {
        "usec_per_frame": 40000,
        "total_frames": 250,
        "width": 4,
        "height": 4,
        "bit_count": 24,
        "compression": 0,
    }
    assert mm.media_duration_ms(avi) == 10000  # 250 frames at 25 fps
    assert mm.avi_headers(b"RIFFxxxxWAVE") is None
    assert mm.avi_headers(b"RIFF\x04\0\0\0AVI ") == {
        "usec_per_frame": None,
        "total_frames": None,
        "width": None,
        "height": None,
        "bit_count": None,
        "compression": None,
    }
    assert mm.media_duration_ms(b"RIFF\x04\0\0\0AVI ") is None
    assert mm.avi_headers(None) is None


def test_decode_avi_frames_bottom_up_and_top_down():
    from data_ingestion_py_spark.sources import multimodal as mm

    px0 = list(range(16))            # top-down reading order
    px1 = [v * 3 % 251 for v in range(16)]
    for top_down in (False, True):
        avi = _avi([px0, px1], top_down=top_down)
        frames = mm.decode_avi_frames(avi, 4)
        assert len(frames) == 2
        got0 = mm.decode_pnm(frames[0])
        got1 = mm.decode_pnm(frames[1])
        assert got0 == (4, 4, px0), f"top_down={top_down}"
        assert got1 == (4, 4, px1), f"top_down={top_down}"


def test_decode_avi_frames_respects_max_and_8bit_stride():
    from data_ingestion_py_spark.sources import multimodal as mm

    px = [list(range(16)), list(range(16, 32)), list(range(32, 48))]
    assert len(mm.decode_avi_frames(_avi(px), 2)) == 2
    # 8-bit 5x2: stride pads rows 5 -> 8 bytes; decode must drop padding
    raster = list(range(10))
    avi8 = _avi([raster], bit_count=8, w=5, h=2)
    (frame,) = mm.decode_avi_frames(avi8, 4)
    assert mm.decode_pnm(frame) == (5, 2, raster)


def test_decode_avi_frames_honest_gates():
    from data_ingestion_py_spark.sources import multimodal as mm

    px = [list(range(16))]
    # MJPG stream whose chunks are NOT decodable JPEGs (raw DIB bytes
    # here): every chunk is skipped, honest None (real MJPEG decode is
    # pinned in tests/test_jpeg.py)
    assert mm.decode_avi_frames(_avi(px, compression=0x47504A4D), 4) is None
    # a genuinely unknown codec fourcc stays behind the ffmpeg seam
    assert mm.decode_avi_frames(_avi(px, compression=0x34363248), 4) is None
    # unsupported depth
    assert mm.decode_avi_frames(_avi(px, bit_count=16), 4) is None
    # truncated frame chunk: skipped, not misdecoded
    avi = _avi(px)
    assert mm.decode_avi_frames(avi[:-20], 4) is None
    assert mm.decode_avi_frames(b"not avi", 4) is None
    assert mm.decode_avi_frames(None, 4) is None


def test_sample_frames_decodes_real_avi_payloads(spark):
    from data_ingestion_py_spark.sources import multimodal as mm

    px = [list(range(16)), list(range(100, 116))]
    rows = [
        (1, "video", _avi(px), None),
        (2, "video", b"x" * 2048, None),  # non-AVI: stub slices
        (3, "image", _avi(px), None),     # wrong kind: skipped
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = mm.sample_frames(media, every_n_bytes=1024, max_frames=4).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append(r)
    assert sorted(by_id) == [1, 2]
    avi_frames = sorted(by_id[1], key=lambda r: r.frame_index)
    assert [r.frame_index for r in avi_frames] == [0, 1]
    assert mm.decode_pnm(bytes(avi_frames[0].frame_payload)) == (4, 4, px[0])
    assert mm.decode_pnm(bytes(avi_frames[1].frame_payload)) == (4, 4, px[1])
    assert len(by_id[2]) == 2  # 2048 bytes / 1024 stub slices


# ---------------------------------------------------------------- MP4 stbl


def _mp4_box(fourcc, data):
    import struct

    return struct.pack(">I", len(data) + 8) + fourcc + data


def _mp4_with_stbl(
    sizes, stts_runs, chunks, timescale=600, mdhd_version=0, co64=False
):
    """Minimal valid MP4: ftyp + moov/trak/mdia{mdhd, minf/stbl{stts,
    stsz, stsc, stco|co64}}. ``stts_runs`` = [(count, delta)],
    ``chunks`` = [(offset, samples_per_chunk_run_start_or_None)] as
    plain offsets with one uniform stsc run of 3."""
    import struct

    if mdhd_version:
        mdhd = _mp4_box(
            b"mdhd",
            struct.pack(">I", 1 << 24)
            + struct.pack(">QQIQ", 0, 0, timescale, 0)
            + struct.pack(">I", 0),
        )
    else:
        mdhd = _mp4_box(
            b"mdhd", struct.pack(">6I", 0, 0, 0, timescale, 0, 0)
        )
    stts = _mp4_box(
        b"stts",
        struct.pack(">2I", 0, len(stts_runs))
        + b"".join(struct.pack(">2I", c, d) for c, d in stts_runs),
    )
    stsz = _mp4_box(
        b"stsz",
        struct.pack(">3I", 0, 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stsc = _mp4_box(
        b"stsc", struct.pack(">2I", 0, 1) + struct.pack(">3I", 1, 3, 1)
    )
    if co64:
        cbox = _mp4_box(
            b"co64",
            struct.pack(">2I", 0, len(chunks))
            + b"".join(struct.pack(">Q", o) for o in chunks),
        )
    else:
        cbox = _mp4_box(
            b"stco",
            struct.pack(">2I", 0, len(chunks))
            + b"".join(struct.pack(">I", o) for o in chunks),
        )
    stbl = _mp4_box(b"stbl", stts + stsz + stsc + cbox)
    mdia = _mp4_box(b"mdia", mdhd + _mp4_box(b"minf", stbl))
    moov = _mp4_box(b"moov", _mp4_box(b"trak", mdia))
    return _mp4_box(b"ftyp", b"isom\0\0\0\0") + moov


def test_mp4_sample_table_hand_values():
    from data_ingestion_py_spark.sources import multimodal as mm

    sizes = [111, 222, 333, 444, 555, 666]
    mp4 = _mp4_with_stbl(
        sizes, [(3, 100), (3, 150)], [1000, 1000 + 666 + 32]
    )
    tab = mm.mp4_sample_table(mp4)
    assert tab["timescale"] == 600
    # dts: run-length expansion; offsets: intra-chunk accumulation
    assert tab["samples"] == [
        (0, 0, 111, 1000),
        (1, 100, 222, 1111),
        (2, 200, 333, 1333),
        (3, 300, 444, 1698),
        (4, 450, 555, 2142),
        (5, 600, 666, 2697),
    ]


def test_mp4_sample_table_v1_co64_and_gates():
    from data_ingestion_py_spark.sources import multimodal as mm

    sizes = [10, 20, 30]
    big = 5_000_000_000
    mp4 = _mp4_with_stbl(
        sizes, [(3, 40)], [big], timescale=1000, mdhd_version=1, co64=True
    )
    tab = mm.mp4_sample_table(mp4)
    assert tab["timescale"] == 1000
    assert tab["samples"] == [(0, 0, 10, big), (1, 40, 20, big + 10),
                              (2, 80, 30, big + 30)]
    # honest gates: truncation, junk, stco covering fewer samples than stsz
    assert mm.mp4_sample_table(mp4[:48]) is None
    assert mm.mp4_sample_table(b"junk") is None
    assert mm.mp4_sample_table(None) is None
    short = _mp4_with_stbl([1] * 6, [(6, 10)], [100])  # 1 chunk x 3 < 6
    assert mm.mp4_sample_table(short) is None
    assert len(mm.mp4_sample_table(short, max_samples=3)["samples"]) == 3


def test_mp4_sample_plan_spark(spark):
    from data_ingestion_py_spark.sources import multimodal as mm

    mp4 = _mp4_with_stbl([5, 6, 7], [(3, 200)], [64])
    rows = [(1, mp4), (2, b"not mp4"), (3, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = sorted(
        (r.media_id, r.sample_index, r.dts_ms, r.sample_size, r.byte_offset)
        for r in mm.mp4_sample_plan(media).collect()
    )
    # dts_ms = dts_units * 1000 // 600
    assert got == [
        (1, 0, 0, 5, 64),
        (1, 1, 333, 6, 69),
        (1, 2, 666, 7, 75),
    ]


# ------------------------------------------------------------ WAV resample


def test_resample_wav_hand_values():
    import struct

    from data_ingestion_py_spark.sources import multimodal as mm

    samples = list(range(-8, 8))  # 16 samples at 8000 Hz
    wav = mm._encode_wav(8000, __import__("numpy").array(samples, "<i2"))
    # integer decimation 8000 -> 2000: every 4th sample
    out = mm.resample_wav(wav, 2000)
    rate, v = mm.decode_wav_samples(out)
    assert rate == 2000 and list(v) == samples[::4]
    # non-integer ratio 8000 -> 3000: n_dst=6, src_j = j*8//3
    out = mm.resample_wav(wav, 3000)
    rate, v = mm.decode_wav_samples(out)
    assert rate == 3000
    assert list(v) == [samples[j * 8 // 3] for j in range(6)]
    # upsample 8000 -> 16000: every source sample twice
    out = mm.resample_wav(wav, 16000)
    rate, v = mm.decode_wav_samples(out)
    assert rate == 16000 and list(v) == [s for s in samples for _ in (0, 1)]
    # honest gates
    assert mm.resample_wav(wav, 0) is None
    assert mm.resample_wav(wav, 100) is None  # n_dst = 16*100//8000 = 0
    assert mm.resample_wav(b"not audio", 2000) is None
    assert mm.resample_wav(None, 2000) is None


def test_decode_wav_samples_matches_pcm_stats():
    import numpy as np

    from data_ingestion_py_spark.sources import multimodal as mm

    v = np.array([-32768, 32767, 0, -1], "<i2")
    wav = mm._encode_wav(44100, v)
    rate, got = mm.decode_wav_samples(wav)
    assert rate == 44100 and list(got) == list(v)
    # vectorized stats keep the -32768 asymmetry exact
    assert mm.decode_wav_pcm(wav) == (4, 32768, 32768**2 + 32767**2 + 1)


def test_resample_audio_spark_roundtrip(spark):
    import numpy as np

    from data_ingestion_py_spark.sources import multimodal as mm

    wav = mm._encode_wav(8000, np.array([100, -200, 300, -400], "<i2"))
    ima_cut = _codec_wav(b"", audio_format=0x11, bits=4, block_align=12)
    media = spark.createDataFrame(
        [(1, wav), (2, b"junk"), (3, None), (4, ima_cut)],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: (r.n_samples, r.peak_abs, r.energy)
        for r in mm.pcm_stats(mm.resample_audio(media, 4000)).collect()
    }
    assert got[1] == (2, 300, 100**2 + 300**2)  # samples 0 and 2
    assert got[2] == (None, None, None)
    assert got[3] == (None, None, None)
    assert got[4] == (None, None, None)
    (row,) = mm.pcm_stats(media.where("media_id = 4")).collect()
    assert (row.n_samples, row.peak_abs, row.energy) == (None, None, None)


# ---------------------------------------------------------------- WARC


def _warc(*recs):
    out = b""
    for headers, body in recs:
        head = "\r\n".join(
            ["WARC/1.0"]
            + [f"{k}: {v}" for k, v in headers.items()]
            + [f"Content-Length: {len(body)}"]
        )
        out += head.encode() + b"\r\n\r\n" + body + b"\r\n\r\n"
    return out


def test_warc_records_hand_values():
    from data_ingestion_py_spark.sources.web import warc_records

    w = _warc(
        ({"WARC-Type": "response", "WARC-Target-URI": "https://a/b"}, b"hello"),
        ({"WARC-Type": "metadata"}, b""),
    )
    got = warc_records(w)
    assert got == [
        ("response", "https://a/b", 5, b"hello"),
        ("metadata", None, 0, b""),
    ]
    # header names are case-insensitive; binary bodies (even with CRLFs
    # inside) are framed by Content-Length, not by delimiters
    tricky = (
        b"WARC/1.0\r\nwarc-type: resource\r\ncontent-length: 8\r\n\r\n"
        b"\r\n\r\nWA\r\n" + b"\r\n\r\n"
    )
    assert warc_records(tricky) == [("resource", None, 8, b"\r\n\r\nWA\r\n")]


def test_warc_records_honest_gates():
    from data_ingestion_py_spark.sources.web import warc_records

    w = _warc(({"WARC-Type": "response"}, b"hello world"))
    # truncated body: no garbage record
    assert warc_records(w[: len(w) - 8]) is None
    # torn tail shard: complete prefix records survive
    two = _warc(
        ({"WARC-Type": "response"}, b"first"),
        ({"WARC-Type": "response"}, b"second"),
    )
    got = warc_records(two[: len(two) - 9])
    assert [r[3] for r in got] == [b"first"]
    # missing/invalid Content-Length: framing unrecoverable
    assert warc_records(b"WARC/1.0\r\nWARC-Type: x\r\n\r\nbody") is None
    assert (
        warc_records(b"WARC/1.0\r\nContent-Length: nope\r\n\r\n\r\n\r\n")
        is None
    )
    assert warc_records(b"HTTP/1.1 200 OK\r\n\r\n") is None
    assert warc_records(None) is None
    # max_records caps the walk
    assert len(warc_records(two, max_records=1)) == 1


def test_warc_manifest_spark(spark):
    from data_ingestion_py_spark.sources import web

    w = _warc(
        ({"WARC-Type": "response", "WARC-Target-URI": "u1"}, b"abc"),
        ({"WARC-Type": "metadata"}, b"m"),
    )
    media = spark.createDataFrame(
        [(1, w), (2, b"not warc"), (3, None)],
        "media_id long, payload binary",
    )
    got = sorted(
        (r.media_id, r.rec_index, r.warc_type, r.target_uri,
         r.content_length, bytes(r.body))
        for r in web.warc_manifest(media).collect()
    )
    assert got == [
        (1, 0, "response", "u1", 3, b"abc"),
        (1, 1, "metadata", None, 1, b"m"),
    ]


# ---------------------------------------------------------------- tar


def _stdlib_tar(members, fmt=None):
    """Real tar bytes via the stdlib — independent ground truth."""
    import io
    import tarfile

    buf = io.BytesIO()
    kw = {"format": fmt} if fmt is not None else {}
    with tarfile.open(fileobj=buf, mode="w", **kw) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_tar_members_against_stdlib():
    import tarfile

    from data_ingestion_py_spark.sources.archive import tar_members

    members = [
        ("sample/0001.jpg", b"\xff\xd8" + b"j" * 700),
        ("sample/0001.txt", b"a caption"),
        ("sample/0001.json", b"{}"),
    ]
    for fmt in (tarfile.USTAR_FORMAT, tarfile.GNU_FORMAT, tarfile.PAX_FORMAT):
        tar = _stdlib_tar(members, fmt)
        got = tar_members(tar)
        files = [(m[0], m[1]) for m in got if m[3] == "0"]
        assert files == [(n, len(d)) for n, d in members], fmt
        # offsets address the real bytes
        for (name, size, off, flag), (_, data) in zip(
            [m for m in got if m[3] == "0"], members
        ):
            assert tar[off : off + size] == data, (fmt, name)


def test_tar_members_checksum_and_gates():
    from data_ingestion_py_spark.sources.archive import tar_members

    tar = _stdlib_tar([("a.txt", b"A" * 10), ("b.txt", b"B" * 20)])
    # flip a byte inside the SECOND header: checksum mismatch truncates
    # the manifest at the corruption, never emits a wrong offset
    second_hdr = 512 + 512  # hdr a + 10 bytes padded to one block
    corrupted = bytearray(tar)
    corrupted[second_hdr] ^= 0xFF
    got = tar_members(bytes(corrupted))
    assert [m[0] for m in got] == ["a.txt"]
    # member data truncated mid-archive: prefix survives
    got = tar_members(tar[: second_hdr + 512 + 5])
    assert [m[0] for m in got] == ["a.txt"]
    assert tar_members(b"\0" * 1024) is None   # empty archive
    assert tar_members(b"not a tar" * 100) is None
    assert tar_members(b"short") is None
    assert tar_members(None) is None
    assert len(tar_members(tar, max_members=1)) == 1


def test_tar_manifest_spark(spark):
    from data_ingestion_py_spark.sources import archive

    tar = _stdlib_tar([("x.bin", b"xyz")])
    media = spark.createDataFrame(
        [(1, tar), (2, b"junk" * 200), (3, None)],
        "media_id long, payload binary",
    )
    got = [
        (r.media_id, r.name, r.size, r.byte_offset, r.typeflag)
        for r in archive.tar_manifest(media).collect()
    ]
    assert got == [(1, "x.bin", 3, 512, "0")]


def test_mp4_sync_only_stss_filter_and_absence():
    import struct

    from data_ingestion_py_spark.sources import multimodal as mm

    sizes = [10, 20, 30, 40, 50, 60]
    mp4 = _mp4_with_stbl(sizes, [(6, 100)], [1000, 2000])
    # no stss: every sample is sync -> filter is a no-op
    assert mm.mp4_sample_table(mp4, sync_only=True)["samples"] == \
        mm.mp4_sample_table(mp4)["samples"]
    # inject an stss into the stbl marking samples 1 and 5 (1-based)
    stss = _mp4_box(b"stss", struct.pack(">2I", 0, 2) + struct.pack(">2I", 1, 5))
    pos = mp4.rindex(b"stbl") - 8
    old_sz = struct.unpack(">I", mp4[pos : pos + 4])[0]
    patched = bytearray(mp4)
    # grow stbl and every ancestor box by len(stss)
    for four in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        p = mp4.rindex(four) - 4
        sz = struct.unpack(">I", mp4[p : p + 4])[0]
        patched[p : p + 4] = struct.pack(">I", sz + len(stss))
    patched = bytes(patched[: pos + old_sz]) + stss + bytes(patched[pos + old_sz:])
    tab = mm.mp4_sample_table(patched, sync_only=True)
    assert [s[0] for s in tab["samples"]] == [0, 4]
    # truncated stss is unrecoverable under sync_only
    bad = patched[:-4]
    assert mm.mp4_sample_table(bad, sync_only=True) is None
    # ...but fine when sync info isn't requested
    assert mm.mp4_sample_table(bad) is not None


# ---------------------------------------------------------------- zip


def _stdlib_zip(members, compression=None):
    import io
    import zipfile

    comp = zipfile.ZIP_STORED if compression is None else compression
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=comp) as zf:
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


def test_zip_members_against_stdlib():
    import zipfile

    from data_ingestion_py_spark.sources.archive import zip_members

    members = [("a/im.jpg", b"\xff\xd8" + b"J" * 300), ("a/cap.txt", b"hi")]
    z = _stdlib_zip(members)
    got = zip_members(z)
    assert [(m[0], m[1], m[2]) for m in got] == [
        ("a/im.jpg", 0, 302),
        ("a/cap.txt", 0, 2),
    ]
    # STORED members are byte-addressable at the returned offset
    for (name, method, uncomp, comp, off), (_, data) in zip(got, members):
        assert z[off : off + comp] == data
    # deflated members carry exact compressed ranges
    zd = _stdlib_zip(members, zipfile.ZIP_DEFLATED)
    import zlib

    for (name, method, uncomp, comp, off), (_, data) in zip(
        zip_members(zd), members
    ):
        assert method == 8 and uncomp == len(data)
        assert zlib.decompress(zd[off : off + comp], -15) == data


def test_zip_members_honest_gates():
    from data_ingestion_py_spark.sources.archive import zip_members

    z = _stdlib_zip([("x.txt", b"abc")])
    assert zip_members(b"PK\x03\x04 but no directory") is None
    assert zip_members(z[:-4]) is None          # truncated EOCD
    assert zip_members(b"short") is None
    assert zip_members(None) is None
    # comment after EOCD still resolves (tail scan)
    assert zip_members(z + b"trailing comment")[0][0] == "x.txt"
    assert len(zip_members(_stdlib_zip([("a", b"1"), ("b", b"2")]),
                           max_members=1)) == 1


def test_zip_manifest_spark(spark):
    from data_ingestion_py_spark.sources import archive

    z = _stdlib_zip([("m.bin", b"xyz")])
    media = spark.createDataFrame(
        [(1, z), (2, b"junk" * 50), (3, None)],
        "media_id long, payload binary",
    )
    got = [
        (r.media_id, r.name, r.method, r.size, r.compressed_size,
         r.byte_offset)
        for r in archive.zip_manifest(media).collect()
    ]
    assert len(got) == 1 and got[0][:5] == (1, "m.bin", 0, 3, 3)
    assert z[got[0][5] : got[0][5] + 3] == b"xyz"


# ------------------------------------------------------------- TFRecord


def _tfrecord_shard(*datas):
    import struct

    from data_ingestion_py_spark.sources.archive import masked_crc32c

    out = b""
    for d in datas:
        ln = struct.pack("<Q", len(d))
        out += ln + struct.pack("<I", masked_crc32c(ln))
        out += d + struct.pack("<I", masked_crc32c(d))
    return out


def test_crc32c_canonical_vectors():
    from data_ingestion_py_spark.sources.archive import crc32c, masked_crc32c

    assert crc32c(b"123456789") == 0xE3069283  # the RFC 3720 check value
    assert crc32c(b"") == 0
    # mask is the TF rotate-right-15 + constant
    assert masked_crc32c(b"") == 0xA282EAD8


def test_tfrecord_records_and_gates():
    from data_ingestion_py_spark.sources.archive import tfrecord_records

    shard = _tfrecord_shard(b"abc", b"d" * 200, b"")
    got = tfrecord_records(shard)
    assert got == [(0, 3, 12), (1, 200, 31), (2, 0, 247)]
    assert shard[12:15] == b"abc"
    # corrupt the SECOND record's data: manifest truncates there
    bad = bytearray(shard)
    bad[40] ^= 1
    assert tfrecord_records(bytes(bad)) == [(0, 3, 12)]
    # ...unless verification is off (structural walk still bounded)
    assert len(tfrecord_records(bytes(bad), verify=False)) == 3
    # junk has no valid first length-CRC
    assert tfrecord_records(b"junk" * 10) is None
    assert tfrecord_records(b"tiny") is None
    assert tfrecord_records(None) is None
    assert len(tfrecord_records(shard, max_records=2)) == 2


def test_tfrecord_manifest_spark(spark):
    from data_ingestion_py_spark.sources import archive

    shard = _tfrecord_shard(b"payload-one", b"x")
    media = spark.createDataFrame(
        [(1, shard), (2, b"junk" * 10), (3, None)],
        "media_id long, payload binary",
    )
    got = sorted(
        (r.media_id, r.rec_index, r.length, r.byte_offset)
        for r in archive.tfrecord_manifest(media).collect()
    )
    assert got == [(1, 0, 11, 12), (1, 1, 1, 39)]


# ---------------------------------------------------------------- Avro


def _avro_zz(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
    out = b""
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out += bytes([b | 0x80])
        else:
            return out + bytes([b])


def _avro_file(blocks, codec=b"null", sync=bytes(range(16)), neg_map=False):
    entries = [(b"avro.schema", b'"bytes"'), (b"avro.codec", codec)]
    if neg_map:
        body = b"".join(
            _avro_zz(len(k)) + k + _avro_zz(len(v)) + v for k, v in entries
        )
        meta = _avro_zz(-len(entries)) + _avro_zz(len(body)) + body
    else:
        meta = _avro_zz(len(entries)) + b"".join(
            _avro_zz(len(k)) + k + _avro_zz(len(v)) + v for k, v in entries
        )
    out = b"Obj\x01" + meta + _avro_zz(0) + sync
    for nr, data in blocks:
        out += _avro_zz(nr) + _avro_zz(len(data)) + data + sync
    return out


def test_avro_blocks_hand_values_and_gates():
    from data_ingestion_py_spark.sources.archive import avro_blocks

    f = _avro_file([(3, b"A" * 10), (200, b"B" * 300)], codec=b"deflate")
    got = avro_blocks(f)
    assert got["codec"] == "deflate"
    assert [(b[1], b[2]) for b in got["blocks"]] == [(3, 10), (200, 300)]
    for _, nr, size, off in got["blocks"]:
        assert len(f[off : off + size]) == size
    # negative map-count form (spec's block-size variant)
    got2 = avro_blocks(_avro_file([(1, b"xy")], neg_map=True))
    assert got2["codec"] == "null" and got2["blocks"][0][1:3] == (1, 2)
    # gates: magic, truncation, per-block sync verification
    assert avro_blocks(b"not avro") is None
    assert len(avro_blocks(f[:-5])["blocks"]) == 1
    bad = bytearray(f)
    bad[-3] ^= 1
    assert len(avro_blocks(bytes(bad))["blocks"]) == 1
    assert avro_blocks(None) is None
    assert len(avro_blocks(f, max_blocks=1)["blocks"]) == 1


def test_avro_block_manifest_spark(spark):
    from data_ingestion_py_spark.sources import archive

    f = _avro_file([(5, b"12345")])
    media = spark.createDataFrame(
        [(1, f), (2, b"junk" * 20), (3, None)],
        "media_id long, payload binary",
    )
    got = [
        (r.media_id, r.block_index, r.n_records, r.size, r.byte_offset)
        for r in archive.avro_block_manifest(media).collect()
    ]
    assert len(got) == 1
    mid, bi, nr, size, off = got[0]
    assert (mid, bi, nr, size) == (1, 0, 5, 5) and f[off : off + 5] == b"12345"


def test_warc_records_prefix_on_late_framing_break():
    """A LATER record with broken Content-Length truncates the walk
    (same contract as tar/Avro corruption) instead of discarding the
    already-parsed records; only a broken FIRST record reads as
    not-WARC."""
    from data_ingestion_py_spark.sources.web import warc_records

    good = _warc(({"WARC-Type": "response"}, b"keep me"))
    broken = b"WARC/1.0\r\nWARC-Type: x\r\nContent-Length: nope\r\n\r\n"
    got = warc_records(good + broken)
    assert [r[3] for r in got] == [b"keep me"]
    assert warc_records(broken) is None


# ---------------------------------------------------------- parquet footer


def test_parquet_row_groups_vs_pyarrow_and_duckdb():
    """The thrift-compact footer walk against TWO independent writers'
    own metadata reports: pyarrow (multiple row groups, zstd) and
    DuckDB's COPY (its own parquet writer + parquet_metadata)."""
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_ingestion_py_spark.sources.archive import parquet_row_groups

    with tempfile.TemporaryDirectory() as d:
        t = pa.table(
            {"a": list(range(1000)), "b": [f"s{i}" for i in range(1000)]}
        )
        p1 = f"{d}/pa.parquet"
        pq.write_table(t, p1, row_group_size=128, compression="zstd")
        got = parquet_row_groups(open(p1, "rb").read())
        md = pq.ParquetFile(p1).metadata
        assert got["num_rows"] == 1000 and len(got["row_groups"]) == 8
        for gi, nr, bs, nc in got["row_groups"]:
            rg = md.row_group(gi)
            assert (nr, bs, nc) == (
                rg.num_rows, rg.total_byte_size, rg.num_columns
            )

        p2 = f"{d}/duck.parquet"
        con = duckdb.connect()
        con.execute(
            "COPY (SELECT range AS a, 'x' || range AS b FROM range(500)) "
            f"TO '{p2}' (FORMAT parquet, ROW_GROUP_SIZE 200)"
        )
        got2 = parquet_row_groups(open(p2, "rb").read())
        meta = con.execute(
            "SELECT DISTINCT row_group_id, row_group_num_rows, "
            "row_group_num_columns, row_group_bytes "
            f"FROM parquet_metadata('{p2}') ORDER BY row_group_id"
        ).fetchall()
        assert [(g, r, c, b) for g, r, b, c in got2["row_groups"]] == [
            (g, r, c, b) for g, r, c, b in meta
        ]
        assert got2["num_rows"] == 500


def test_parquet_row_groups_gates():
    from data_ingestion_py_spark.sources.archive import parquet_row_groups

    path = "/root/testdata/sf0.001/nation.parquet"
    payload = open(path, "rb").read()
    assert parquet_row_groups(payload) is not None
    assert parquet_row_groups(payload[:-4]) is None   # magic gone
    assert parquet_row_groups(payload[10:]) is None   # leading magic gone
    assert parquet_row_groups(b"PAR1" + b"\0" * 3 + b"PAR1") is None
    assert parquet_row_groups(b"junk") is None
    assert parquet_row_groups(None) is None


def _tc_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _wrap_footer(meta: bytes) -> bytes:
    return b"PAR1" + meta + len(meta).to_bytes(4, "little") + b"PAR1"


def test_parquet_row_groups_corrupt_footer_no_hang():
    """A crafted footer declaring a huge boolean-element list must
    return None (or skip it) in bounded time — bool elements consume
    zero bytes, so an unguarded size loop would spin forever."""
    import signal

    from data_ingestion_py_spark.sources.archive import parquet_row_groups

    def _bounded(payload):
        def _alarm(signum, frame):  # pragma: no cover - only on hang
            raise TimeoutError("parquet footer walk hung")

        old = signal.signal(signal.SIGALRM, _alarm)
        signal.alarm(10)
        try:
            return parquet_row_groups(payload)
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, old)

    huge = _tc_uvarint(10**18)
    # field 1 (delta 1), wire type 9 = list; list hdr 0xF1 = size-follows,
    # element type 1 (BOOLEAN_TRUE); then a 10^18 element count.
    assert _bounded(_wrap_footer(b"\x19\xf1" + huge + b"\x00")) is None
    # same via a LIST whose declared non-bool size exceeds the payload
    assert _bounded(_wrap_footer(b"\x19\xf3" + huge + b"\x00")) is None
    # bool->bool MAP with a huge pair count (zero bytes per pair)
    assert (
        _bounded(_wrap_footer(b"\x1b" + huge + b"\x11" + b"\x00")) is None
    )
    # row_groups list (field 4) declaring more structs than bytes remain
    assert _bounded(_wrap_footer(b"\x49\xfc" + huge + b"\x00")) is None
    # RowGroup.columns list with a huge size: must reject, not accept a
    # >int32 n_cols (Arrow IntegerType would raise later otherwise)
    rg = b"\x19\xfc" + huge  # field 1 list<struct>, absurd size
    meta = b"\x49\x1c" + rg + b"\x00" + b"\x00"  # one RowGroup, then STOPs
    assert _bounded(_wrap_footer(meta)) is None
    # valid footers still parse after the guards
    path = "/root/testdata/sf0.001/nation.parquet"
    assert _bounded(open(path, "rb").read()) is not None


def test_parquet_footer_bool_list_elements_consume_one_byte_each():
    """Thrift compact LIST/SET elements of bool type occupy ONE byte
    each (0x01/0x02) — unlike bool FIELDS whose value lives in the
    type header. A skip that consumes zero bytes per element (the r11
    guard) desyncs the walk on a VALID footer carrying a bool
    collection; this pins the fixed walk staying in sync across one."""
    from data_ingestion_py_spark.sources.archive import parquet_row_groups

    rowgroup = (
        b"\x19\x1c" + b"\x00"  # field 1: columns = [<empty struct>]
        + b"\x16" + b"\xc8\x01"  # field 2: total_byte_size = 100
        + b"\x16" + b"\x32"  # field 3: num_rows = 25
        + b"\x00"  # STOP
    )
    meta = (
        b"\x19" + b"\x31" + b"\x01\x02\x01"  # field 1: list<bool> [T,F,T]
        + b"\x26" + b"\x32"  # field 3: num_rows = 25
        + b"\x19" + b"\x1c" + rowgroup  # field 4: row_groups = [rg]
        + b"\x00"  # STOP
    )
    got = parquet_row_groups(_wrap_footer(meta))
    assert got == {"num_rows": 25, "row_groups": [(0, 25, 100, 1)]}
    # and a bool-valued MAP (string keys) stays in sync the same way
    meta2 = (
        b"\x1b"  # field 1: map
        + b"\x02"  # size 2
        + b"\x81"  # key type 8 (binary), value type 1 (bool)
        + b"\x01a" + b"\x01"  # "a" -> one bool byte
        + b"\x01b" + b"\x02"  # "b" -> one bool byte
        + b"\x26" + b"\x32"  # field 3: num_rows = 25
        + b"\x19" + b"\x1c" + rowgroup
        + b"\x00"
    )
    got2 = parquet_row_groups(_wrap_footer(meta2))
    assert got2 == {"num_rows": 25, "row_groups": [(0, 25, 100, 1)]}


def test_parquet_rg_manifest_spark(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_ingestion_py_spark.sources import archive

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(300))}), p, row_group_size=100)
    media = spark.createDataFrame(
        [(1, open(p, "rb").read()), (2, b"junk"), (3, None)],
        "media_id long, payload binary",
    )
    got = sorted(
        (r.media_id, r.row_group_id, r.num_rows, r.n_columns)
        for r in archive.parquet_rg_manifest(media).collect()
    )
    assert got == [(1, 0, 100, 1), (1, 1, 100, 1), (1, 2, 100, 1)]


# ------------------------------------------------- safetensors / npy


def test_safetensors_index_hand_values_and_gates():
    import json

    from data_ingestion_py_spark.sources.archive import safetensors_index

    hdr = {
        "__metadata__": {"format": "pt"},
        "emb.weight": {"dtype": "F32", "shape": [10, 4],
                       "data_offsets": [0, 160]},
        "bias": {"dtype": "F16", "shape": [4], "data_offsets": [160, 168]},
    }
    hj = json.dumps(hdr).encode()
    payload = len(hj).to_bytes(8, "little") + hj + b"\x01" * 168
    got = safetensors_index(payload)
    base = 8 + len(hj)
    assert got == [
        ("bias", "F16", [4], base + 160, base + 168),
        ("emb.weight", "F32", [10, 4], base + 0, base + 160),
    ]
    # the byte range addresses real tensor bytes
    assert payload[got[0][3] : got[0][4]] == b"\x01" * 8
    assert safetensors_index(payload[:-5]) is None  # truncated data
    assert safetensors_index(b"\xff" * 20) is None  # absurd header len
    assert safetensors_index(
        (5).to_bytes(8, "little") + b"notjs" + b"\0" * 5
    ) is None
    assert safetensors_index(None) is None


def test_npy_header_matches_numpy_writer():
    import io

    import numpy as np

    from data_ingestion_py_spark.sources.archive import npy_header

    for arr in (
        np.arange(12, dtype="<f4").reshape(3, 4),
        np.zeros((5,), dtype="<i8"),
        np.asfortranarray(np.ones((2, 3), dtype="<f8")),
        np.array(7, dtype="<i4"),  # 0-d
    ):
        buf = io.BytesIO()
        np.save(buf, arr)
        raw = buf.getvalue()
        h = npy_header(raw)
        assert h["shape"] == list(arr.shape)
        assert h["descr"] == arr.dtype.str
        got = np.frombuffer(raw[h["data_offset"] :], dtype=h["descr"])
        want = arr.T.flatten() if h["fortran_order"] else arr.flatten()
        assert got.tolist() == want.tolist()
    assert npy_header(b"not npy") is None
    assert npy_header(b"\x93NUMPY\x01\x00\xff\xff") is None  # truncated
    assert npy_header(None) is None


def test_flac_duration_streaminfo():
    """FLAC STREAMINFO: the bit-packed sample_rate(20)/total_samples(36)
    group, behind an optional leading non-STREAMINFO block."""

    def flac(rate, total, lead_padding=False):
        packed = (rate << 44) | (1 << 41) | (15 << 36) | total
        si_hdr = bytes([0x80, 0, 0, 34])
        si = (
            (4096).to_bytes(2, "big") * 2
            + (0).to_bytes(3, "big") * 2
            + packed.to_bytes(8, "big")
            + bytes(16)
        )
        body = si_hdr + si
        if lead_padding:
            body = bytes([0x01, 0, 0, 4]) + b"padd" + body
        return b"fLaC" + body

    assert multimodal.media_duration_ms(flac(44100, 44100 * 5)) == 5000
    assert multimodal.media_duration_ms(flac(8000, 4000, True)) == 500
    # 36-bit total_samples: a >4G sample count survives the unpack
    assert multimodal.media_duration_ms(flac(1000, 1 << 35)) == (
        (1 << 35) * 1000 // 1000
    )
    assert multimodal.media_duration_ms(flac(0, 100)) is None
    assert multimodal.media_duration_ms(b"fLaC") is None
    assert multimodal.media_duration_ms(flac(44100, 100)[:20]) is None


def _mp3_frame(kbps_idx=9, rate_idx=0, ver=3, pad=0, mode=0, body=None):
    """One MPEG Layer III frame with a zeroed body sized per the spec
    formula — independent of the kernel's own length math only in the
    sense that a wrong kernel formula desyncs and returns None."""
    kbps = (
        (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
        if ver == 3
        else (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
    )[kbps_idx]
    rate = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
            0: (11025, 12000, 8000)}[ver][rate_idx]
    flen = (144 if ver == 3 else 72) * kbps * 1000 // rate + pad
    h = (0x7FF << 21) | (ver << 19) | (1 << 17) | (1 << 16)
    h |= (kbps_idx << 12) | (rate_idx << 10) | (pad << 9) | (mode << 6)
    out = bytearray(h.to_bytes(4, "big"))
    out += body or b""
    out += bytes(flen - len(out))
    return bytes(out), flen, rate, 1152 if ver == 3 else 576


def test_mp3_duration_frame_walk():
    f, _, rate, spf = _mp3_frame()  # 128 kbps, 44100, MPEG1
    assert multimodal.media_duration_ms(f * 10) == 10 * spf * 1000 // rate
    # mixed bitrates (headerless VBR): the walk sums per-frame samples
    f2, _, _, _ = _mp3_frame(kbps_idx=14)
    assert (
        multimodal.media_duration_ms(f + f2 + f) == 3 * spf * 1000 // rate
    )
    # padding bit lengthens the frame by one byte; walk must not desync
    fp, flen, _, _ = _mp3_frame(pad=1)
    assert len(fp) == flen
    assert multimodal.media_duration_ms(fp * 4) == 4 * spf * 1000 // rate
    # MPEG2 (576 samples/frame, 72-factor length) and MPEG2.5
    for ver in (2, 0):
        g, _, grate, gspf = _mp3_frame(kbps_idx=5, rate_idx=2, ver=ver)
        assert (
            multimodal.media_duration_ms(g * 6) == 6 * gspf * 1000 // grate
        )


def test_mp3_duration_id3_xing_and_honest_nones():
    f, _, rate, spf = _mp3_frame()
    # ID3v2 container with a syncsafe size is skipped
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 1, 3]) + bytes(131)
    assert multimodal.media_duration_ms(id3 + f * 5) == 5 * spf * 1000 // rate
    # trailing ID3v1 'TAG' block (exactly 128 bytes) is tolerated
    assert (
        multimodal.media_duration_ms(f * 5 + b"TAG" + bytes(125))
        == 5 * spf * 1000 // rate
    )
    # Xing frame count overrides the walk (stereo MPEG1: side info 32)
    xing = b"Xing" + (1).to_bytes(4, "big") + (250).to_bytes(4, "big")
    fx, _, _, _ = _mp3_frame(body=bytes(32) + xing)
    assert (
        multimodal.media_duration_ms(fx + f)  # walk would say 2 frames
        == 250 * spf * 1000 // rate
    )
    # mono MPEG1 places Xing after 17 side-info bytes
    fm, _, _, _ = _mp3_frame(mode=3, body=bytes(17) + xing)
    assert multimodal.media_duration_ms(fm) == 250 * spf * 1000 // rate
    # honest Nones: truncated final frame, free bitrate, Layer II,
    # reserved rate index, mid-stream garbage
    assert multimodal.media_duration_ms((f * 3)[:-10]) is None
    bad = bytearray(f)
    bad[2] = 0x00  # bitrate index 0 = free format
    assert multimodal.media_duration_ms(bytes(bad)) is None
    bad = bytearray(f)
    bad[1] = 0xFC  # layer bits 10 = Layer II
    assert multimodal.media_duration_ms(bytes(bad)) is None
    assert multimodal.media_duration_ms(f + b"junkjunk") is None
    assert multimodal.media_duration_ms(b"ID3\x04\x00\x00" + b"\x80\x00\x00\x00") is None


def _ogg_page(body, granule, htype, seq):
    segs = []
    rem = len(body)
    while True:  # lacing: 255-chunks, final chunk < 255
        segs.append(min(rem, 255))
        rem -= segs[-1]
        if segs[-1] < 255:
            break
    hdr = b"OggS" + bytes([0, htype])
    hdr += granule.to_bytes(8, "little", signed=True)
    hdr += (7).to_bytes(4, "little") + seq.to_bytes(4, "little")
    hdr += bytes(4) + bytes([len(segs)]) + bytes(segs)
    return hdr + body


def _vorbis_id(rate):
    return (
        b"\x01vorbis" + bytes(4) + bytes([2])
        + rate.to_bytes(4, "little") + bytes(12) + b"\xb8\x01"
    )


def test_ogg_duration_vorbis_and_opus():
    pages = _ogg_page(_vorbis_id(8000), 0, 0x02, 0)
    pages += _ogg_page(b"\x00" * 20, 12000, 0x04, 1)
    assert multimodal.media_duration_ms(pages) == 12000 * 1000 // 8000
    # continuation page with granule -1 is skipped, later granule wins
    pages = _ogg_page(_vorbis_id(16000), 0, 0x02, 0)
    pages += _ogg_page(b"\x00" * 300, -1, 0x01, 1)  # exercises lacing
    pages += _ogg_page(b"\x00", 48000, 0x04, 2)
    assert multimodal.media_duration_ms(pages) == 3000
    # Opus: granule at 48 kHz minus the OpusHead pre-skip
    opus_id = (
        b"OpusHead\x01\x01" + (312).to_bytes(2, "little")
        + (48000).to_bytes(4, "little") + bytes(2) + b"\x00"
    )
    pages = _ogg_page(opus_id, 0, 0x02, 0)
    pages += _ogg_page(b"\x00", 96312, 0x04, 1)
    assert multimodal.media_duration_ms(pages) == 96000 * 1000 // 48000
    # honest Nones: foreign first packet, truncated page, bad capture
    pages = _ogg_page(b"\x7fFLAC__", 0, 0x02, 0)
    assert multimodal.media_duration_ms(pages) is None
    good = _ogg_page(_vorbis_id(8000), 0, 0x02, 0) + _ogg_page(
        b"\x00" * 50, 4000, 0x04, 1
    )
    assert multimodal.media_duration_ms(good[:-20]) is None
    assert multimodal.media_duration_ms(b"OggS\x01" + bytes(40)) is None


# ------------------------------------------------- stdlib-zlib PNG decode


def _png_bytes(
    w,
    h,
    color_type,
    samples,
    filters=(0,),
    bit_depth=8,
    interlace=0,
    split_idat=False,
    corrupt_zlib=False,
    palette=None,
):
    """Reference PNG encoder for the tests: real zlib stream, real
    CRCs, per-row filter choice — the decoder under test shares no
    code with this."""
    import binascii
    import zlib

    import numpy as np

    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]

    def filter_image(arr, wi):
        out = bytearray()
        prev = np.zeros(wi * ch, dtype=np.int32)
        for r in range(arr.shape[0]):
            f = filters[r % len(filters)]
            line = arr[r]
            left = np.concatenate(
                [np.zeros(ch, dtype=np.int32), line[:-ch]]
            )
            if f == 0:
                enc = line
            elif f == 1:
                enc = (line - left) % 256
            elif f == 2:
                enc = (line - prev) % 256
            elif f == 3:
                enc = (line - (left + prev) // 2) % 256
            else:  # Paeth
                upleft = np.concatenate(
                    [np.zeros(ch, dtype=np.int32), prev[:-ch]]
                )
                enc = np.empty_like(line)
                for x in range(wi * ch):
                    a, b, c = int(left[x]), int(prev[x]), int(upleft[x])
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a
                        if pa <= pb and pa <= pc
                        else (b if pb <= pc else c)
                    )
                    enc[x] = (int(line[x]) - pred) % 256
            out.append(f)
            out += bytes(enc.astype(np.uint8))
            prev = line
        return out

    arr = np.asarray(samples, dtype=np.int32).reshape(h, w * ch)
    if interlace:  # Adam7: filter each pass as its own sub-image
        arr3 = arr.reshape(h, w, ch)
        raw = bytearray()
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = arr3[y0::dy, x0::dx, :]
            hp, wp = sub.shape[:2]
            if hp and wp:
                raw += filter_image(sub.reshape(hp, wp * ch), wp)
    else:
        raw = filter_image(arr, w)
    z = zlib.compress(bytes(raw))
    if corrupt_zlib:
        z = z[:-3] + b"\x00\x00\x00"

    def chunk(ctype, data):
        body = ctype + data
        return (
            len(data).to_bytes(4, "big")
            + body
            + binascii.crc32(body).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([bit_depth, color_type, 0, 0, interlace])
    )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    if split_idat:
        mid = len(z) // 2
        out += chunk(b"IDAT", z[:mid]) + chunk(b"IDAT", z[mid:])
    else:
        out += chunk(b"IDAT", z)
    return out + chunk(b"IEND", b"")


def test_decode_png_gray_all_filter_types():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import decode_png_array

    w, h = 7, 10
    pix = ((np.arange(w * h) * 37 + 11) % 251).astype(np.uint8)
    for filters in ((0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)):
        payload = _png_bytes(w, h, 0, pix, filters=filters)
        got = decode_png_array(payload)
        assert got is not None, filters
        gw, gh, gpix = got
        assert (gw, gh) == (w, h)
        assert gpix.tolist() == pix.tolist(), filters


def test_decode_png_color_types_and_gray_rule():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import decode_png_array

    w, h = 5, 4
    base = ((np.arange(w * h) * 53 + 7) % 250).astype(np.int32)
    # RGB: gray must be the integer mean (r+g+b)//3 of the samples
    rgb = np.stack([base, (base + 85) % 256, (base + 170) % 256], axis=1)
    got = decode_png_array(_png_bytes(w, h, 2, rgb, filters=(0, 1, 4)))
    assert got is not None
    assert got[2].tolist() == (rgb.sum(axis=1) // 3).tolist()
    # RGBA: alpha dropped
    rgba = np.concatenate([rgb, np.full((w * h, 1), 7)], axis=1)
    got = decode_png_array(_png_bytes(w, h, 6, rgba, filters=(2, 3)))
    assert got[2].tolist() == (rgb.sum(axis=1) // 3).tolist()
    # gray+alpha: the gray sample survives
    ga = np.stack([base, (base + 9) % 256], axis=1)
    got = decode_png_array(_png_bytes(w, h, 4, ga, filters=(4,)))
    assert got[2].tolist() == base.tolist()
    # multi-IDAT streams concatenate
    got = decode_png_array(_png_bytes(w, h, 0, base, split_idat=True))
    assert got[2].tolist() == base.tolist()
    # palette (color type 3): an indexed re-encode of the SAME RGB
    # image must decode to the identical grayscale
    uniq = sorted({tuple(px) for px in rgb.tolist()})
    pal = b"".join(bytes(px) for px in uniq)
    idx2entry = {px: i for i, px in enumerate(uniq)}
    indices = np.array(
        [idx2entry[tuple(px)] for px in rgb.tolist()], dtype=np.int32
    )
    got = decode_png_array(
        _png_bytes(w, h, 3, indices, filters=(0, 1, 2, 3, 4), palette=pal)
    )
    assert got is not None
    assert got[2].tolist() == (rgb.sum(axis=1) // 3).tolist()
    # honest Nones for broken palettes: truncated entry / missing PLTE
    assert (
        decode_png_array(
            _png_bytes(w, h, 3, indices, palette=pal[:-1])
        )
        is None
    )


def test_decode_png_honest_nones():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import decode_png_array

    w, h = 4, 3
    pix = (np.arange(w * h) % 256).astype(np.int32)
    ok = _png_bytes(w, h, 0, pix)
    assert decode_png_array(ok) is not None
    assert decode_png_array(None) is None
    assert decode_png_array(b"not a png") is None
    assert decode_png_array(ok[:20]) is None  # truncated
    # unsupported-by-design shapes return None, never garbage
    assert decode_png_array(_png_bytes(w, h, 3, pix)) is None  # no PLTE
    assert decode_png_array(_png_bytes(w, h, 0, pix, interlace=7)) is None
    assert (
        decode_png_array(_png_bytes(w, h, 0, pix, corrupt_zlib=True)) is None
    )
    # declared geometry must match the decompressed raster
    lying = bytearray(ok)
    lying[16:20] = (w + 1).to_bytes(4, "big")
    import binascii

    body = b"IHDR" + bytes(lying[16:29])
    lying[29:33] = binascii.crc32(body).to_bytes(4, "big")
    assert decode_png_array(bytes(lying)) is None


def test_png_feeds_phash_and_checksums():
    """The phash pipeline and pixel_checksums accept PNG input: a PNG
    and a PGM of the SAME raster produce the same hash/checksums."""
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import average_hash

    w, h = 16, 16
    pix = ((np.arange(w * h) * 31 + 5) % 240).astype(np.uint8)
    pgm = b"P5\n16 16\n255\n" + pix.tobytes()
    png = _png_bytes(w, h, 0, pix, filters=(0, 1, 2, 3, 4))
    assert average_hash(png) == average_hash(pgm)
    assert average_hash(png) is not None


def test_png_pixel_checksums_spark(spark):
    import numpy as np

    from data_ingestion_py_spark.sources import multimodal as mm

    w, h = 6, 5
    pix = ((np.arange(w * h) * 13 + 3) % 251).astype(np.uint8)
    png = _png_bytes(w, h, 0, pix, filters=(0, 1, 2, 3, 4))
    pgm = b"P5\n%d %d\n255\n" % (w, h) + pix.tobytes()
    media = spark.createDataFrame(
        [(1, png), (2, pgm), (3, b"junk"), (4, None)],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: (r.width, r.height, r.px_sum, r.px_wsum)
        for r in mm.pixel_checksums(media).collect()
    }
    assert got[1] == got[2]
    assert got[1][0] == w and got[1][1] == h
    assert got[3] == (None, None, None, None)
    assert got[4] == (None, None, None, None)
    # the resize stage accepts PNG too
    resized = {
        r.media_id: (r.width, r.height)
        for r in mm.resize_images(media, 3, 3).collect()
    }
    assert resized[1] == (3, 3) and resized[2] == (3, 3)
    assert resized[3] == (None, None)


def test_pixel_checksums_exact_next_to_null_rows(spark):
    """px_wsum stays exact when undecodable and NULL payloads share the
    Arrow batch: a 3000x3000 PGM's weighted sum (~1.03e16) is not a
    float64 value, so a column that fell back to float64 would be off."""
    import numpy as np

    from data_ingestion_py_spark.sources import multimodal as mm

    w = h = 3000
    pix = np.full(w * h, 255, dtype=np.uint8)
    pix[0] = 254
    pgm = b"P5\n%d %d\n255\n" % (w, h) + pix.tobytes()
    p64 = pix.astype(np.int64)
    want = int(np.dot(np.arange(1, p64.size + 1, dtype=np.int64), p64))
    assert float(want) != want  # the check below can tell
    media = spark.createDataFrame(
        [(1, pgm), (2, b"junk"), (3, None)], "media_id long, payload binary"
    ).coalesce(1)
    got = {r.media_id: r for r in mm.pixel_checksums(media).collect()}
    assert got[1].px_wsum == want
    assert got[1].px_sum == int(p64.sum())
    assert got[2].px_wsum is None and got[3].px_wsum is None


# ---------------------------------------------------------- warc.gz members


def _warcgz(*recs, compresslevel=6):
    """Real per-record gzip members (actual Common Crawl framing),
    built with stdlib gzip — independent of the walker under test."""
    import gzip

    return b"".join(
        gzip.compress(_warc((headers, body)), compresslevel=compresslevel)
        for headers, body in recs
    )


def test_warc_gz_members_hand_values():
    import gzip

    from data_ingestion_py_spark.sources.web import warc_gz_members

    recs = [
        ({"WARC-Type": "response", "WARC-Target-URI": "https://a/1"}, b"hello"),
        ({"WARC-Type": "metadata", "WARC-Target-URI": "https://a/2"}, b"wo"),
        ({"WARC-Type": "response"}, b"x" * 100),
    ]
    payload = _warcgz(*recs)
    got = warc_gz_members(payload)
    assert got is not None and len(got) == 3
    # offsets/sizes must tile the payload exactly
    expect_off = 0
    for (off, comp, dec, wtype, uri, clen), (hdrs, body) in zip(got, recs):
        assert off == expect_off
        expect_off += comp
        member = payload[off : off + comp]
        assert member[:2] == b"\x1f\x8b"
        assert gzip.decompress(member) == _warc((hdrs, body))
        assert dec == len(_warc((hdrs, body)))
        assert wtype == hdrs["WARC-Type"]
        assert uri == hdrs.get("WARC-Target-URI")
        assert clen == len(body)
    assert expect_off == len(payload)


def test_warc_gz_members_corruption_contract():
    from data_ingestion_py_spark.sources.web import warc_gz_members

    recs = [
        ({"WARC-Type": "response"}, b"first"),
        ({"WARC-Type": "response"}, b"second"),
        ({"WARC-Type": "response"}, b"third"),
    ]
    payload = _warcgz(*recs)
    full = warc_gz_members(payload)
    assert [t[3] for t in full] == ["response"] * 3

    # torn tail: truncating the last member keeps the verified prefix
    assert len(warc_gz_members(payload[:-5])) == 2
    # corrupt CRC in member 2's trailer: walk stops after member 1
    off1, comp1 = full[1][0], full[1][1]
    bad = bytearray(payload)
    bad[off1 + comp1 - 8] ^= 0xFF
    assert len(warc_gz_members(bytes(bad))) == 1
    # flipping a data byte mid-member also fails the gzip CRC check
    bad2 = bytearray(payload)
    bad2[off1 + 12] ^= 0x55
    got2 = warc_gz_members(bytes(bad2))
    assert got2 is None or len(got2) <= 1
    # non-gzip payloads: None, never guessed geometry
    assert warc_gz_members(b"WARC/1.0\r\n...") is None
    assert warc_gz_members(b"") is None
    assert warc_gz_members(None) is None
    # trailing garbage after valid members: prefix kept
    assert len(warc_gz_members(payload + b"garbage")) == 3
    # zip-bomb guard: a member inflating past the cap stops the walk
    assert warc_gz_members(payload, max_member_bytes=4) is None
    # a member that gunzips but isn't WARC keeps its exact byte range
    # with null WARC fields (framing is self-delimiting)
    import gzip as _gz

    mixed = _gz.compress(b"not a warc record") + payload
    got3 = warc_gz_members(mixed)
    assert got3[0][3] is None and got3[0][5] is None
    assert got3[1][3] == "response"


def test_warc_gz_manifest_spark(spark):
    from data_ingestion_py_spark.sources import web

    payload = _warcgz(
        ({"WARC-Type": "response", "WARC-Target-URI": "https://b/1"}, b"abc"),
        ({"WARC-Type": "metadata"}, b"defg"),
    )
    media = spark.createDataFrame(
        [(1, payload), (2, b"junk"), (3, None)],
        "media_id long, payload binary",
    )
    rows = sorted(
        (r.media_id, r.member_index, r.offset, r.comp_size, r.warc_type)
        for r in web.warc_gz_manifest(media).collect()
    )
    assert len(rows) == 2
    assert rows[0][:2] == (1, 0) and rows[0][4] == "response"
    assert rows[1][:2] == (1, 1) and rows[1][4] == "metadata"
    assert rows[1][2] == rows[0][3]  # member 1 starts where member 0 ends


def test_decode_png_adam7_interlace():
    """Adam7-interlaced PNGs decode to the identical raster as their
    progressive (interlace 0) twins — every pass size, scatter
    position, and per-pass filter reset exercised, including rasters
    smaller than the 8×8 pass grid (empty passes)."""
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import decode_png_array

    for w, h in ((13, 11), (16, 16), (3, 2), (1, 1), (8, 5)):
        pix = ((np.arange(w * h) * 41 + 3) % 251).astype(np.int32)
        for filters in ((0,), (0, 1, 2, 3, 4)):
            plain = decode_png_array(
                _png_bytes(w, h, 0, pix, filters=filters)
            )
            inter = decode_png_array(
                _png_bytes(w, h, 0, pix, filters=filters, interlace=1)
            )
            assert inter is not None, (w, h, filters)
            assert inter[2].tolist() == plain[2].tolist(), (w, h, filters)
    # RGB interlaced too
    w, h = 10, 9
    base = ((np.arange(w * h) * 29 + 17) % 249).astype(np.int32)
    rgb = np.stack([base, (base + 85) % 256, (base + 170) % 256], axis=1)
    inter = decode_png_array(
        _png_bytes(w, h, 2, rgb, filters=(2, 4), interlace=1)
    )
    assert inter[2].tolist() == (rgb.sum(axis=1) // 3).tolist()
    # torn interlaced stream: pass plan disagrees -> None
    ok = _png_bytes(w, h, 2, rgb, interlace=1)
    import zlib as _z

    # rebuild with one byte chopped from the decompressed stream
    raw = _z.decompress(
        ok[41 : 41 + int.from_bytes(ok[33:37], "big")]
    )  # IDAT data (after IHDR chunk: 8+25 = 33 offset to IDAT len)
    assert raw  # sanity: we located the IDAT stream


# -------------------------------------------------------- GIF LZW decode


def _gif_bytes(
    w,
    h,
    indices,
    palette=None,
    interlace=False,
    min_code_size=8,
    extensions=True,
    truncate_stream=0,
):
    """Reference GIF89a encoder for the tests: a REAL LZW compressor
    (dictionary growth, width bumps, 12-bit cap with mid-stream CLEAR)
    plus sub-block framing — shares no code with the decoder."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8).reshape(h, w)
    if interlace:
        order = [
            r
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for r in range(start, h, step)
        ]
        idx = idx[order]
    pixels = idx.reshape(-1).tolist()

    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    codes = [clear]
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    buf = ()
    for p in pixels:
        cand = buf + (p,)
        if cand in table:
            buf = cand
            continue
        codes.append(table[buf])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        else:  # dict full: clear and restart (exercises mid-stream CLEAR)
            codes.append(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
        buf = (p,)
    if buf:
        codes.append(table[buf])
    codes.append(end)

    # bit-pack LSB-first with the DECODER-side width schedule (the
    # decoder adds no dictionary entry for the first code after CLEAR)
    bits = []
    width = min_code_size + 1
    next_code = end + 1
    first_after_clear = True
    for c in codes:
        bits.extend((c >> j) & 1 for j in range(width))
        if c == clear:
            width = min_code_size + 1
            next_code = end + 1
            first_after_clear = True
        elif c != end:
            if first_after_clear:
                first_after_clear = False
            elif next_code < 4096:
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
    stream = bytearray()
    for i in range(0, len(bits), 8):
        stream.append(sum(b << j for j, b in enumerate(bits[i : i + 8])))
    if truncate_stream:
        stream = stream[:-truncate_stream]

    if palette is None:
        palette = bytes(v for i in range(256) for v in (i, i, i))
    pal_bits = max((len(palette) // 3 - 1).bit_length(), 1) - 1
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | pal_bits, 0, 0])  # GCT flag + size, bg, aspect
    out += palette
    if extensions:  # a GCE block the decoder must skip via sub-blocks
        out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    out += bytes([0x2C]) + bytes(4)  # image at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0])
    out += bytes([min_code_size])
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out += bytes([len(block)]) + block
    out += bytes([0, 0x3B])
    return bytes(out)


def test_decode_gif_real_lzw_roundtrip():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import decode_gif_array

    # gray-ramp palette: entry i = (i,i,i) -> decoded gray == index
    for w, h in ((16, 16), (7, 5), (40, 30), (1, 1)):
        pix = ((np.arange(w * h) * 37 + 11) % 251).astype(np.uint8)
        got = decode_gif_array(_gif_bytes(w, h, pix))
        assert got is not None, (w, h)
        assert (got[0], got[1]) == (w, h)
        assert got[2].tolist() == pix.tolist(), (w, h)
    # repetitive data exercises dictionary growth + width bumps hard
    w, h = 64, 48
    pix = (np.arange(w * h) % 7).astype(np.uint8) * 30
    got = decode_gif_array(_gif_bytes(w, h, pix))
    assert got[2].tolist() == pix.tolist()
    # small palette / small min_code_size path
    pix01 = (np.arange(20 * 10) % 4).astype(np.uint8)
    pal = bytes(v for i in (0, 90, 180, 255) for v in (i, i, i))
    got = decode_gif_array(
        _gif_bytes(20, 10, pix01, palette=pal, min_code_size=2)
    )
    assert got[2].tolist() == [(3 * [0, 90, 180, 255][p]) // 3 for p in pix01]


def test_decode_gif_interlace_and_gray_rule():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import decode_gif_array

    w, h = 13, 11
    pix = ((np.arange(w * h) * 53 + 7) % 251).astype(np.uint8)
    plain = decode_gif_array(_gif_bytes(w, h, pix))
    inter = decode_gif_array(_gif_bytes(w, h, pix, interlace=True))
    assert inter[2].tolist() == plain[2].tolist() == pix.tolist()
    # non-gray palette collapses by the shared (r+g+b)//3 rule
    pal = bytes(
        v
        for i in range(256)
        for v in (i, (i + 85) % 256, (i + 170) % 256)
    )
    got = decode_gif_array(_gif_bytes(w, h, pix, palette=pal))
    expect = [
        (p + (p + 85) % 256 + (p + 170) % 256) // 3 for p in pix.tolist()
    ]
    assert got[2].tolist() == expect


def test_decode_gif_honest_nones_and_pipeline():
    import numpy as np

    from data_ingestion_py_spark.sources.multimodal import (
        average_hash,
        decode_gif_array,
    )

    w, h = 16, 16
    pix = ((np.arange(w * h) * 31 + 5) % 240).astype(np.uint8)
    ok = _gif_bytes(w, h, pix)
    assert decode_gif_array(ok) is not None
    assert decode_gif_array(None) is None
    assert decode_gif_array(b"GIF89a") is None
    assert decode_gif_array(b"not a gif at all") is None
    assert decode_gif_array(ok[:30]) is None  # truncated mid-palette
    # torn LZW stream: short pixel output is None, never guessed
    assert (
        decode_gif_array(_gif_bytes(w, h, pix, truncate_stream=40)) is None
    )
    # the phash pipeline accepts GIF and agrees with PGM/PNG
    pgm = b"P5\n16 16\n255\n" + pix.tobytes()
    assert average_hash(ok) == average_hash(pgm)
    assert average_hash(ok) is not None


# --------------------------------------------- WebP / ADTS / EXIF (r12)


def _webp(fourcc: bytes, data: bytes) -> bytes:
    import struct

    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(data)) + b"WEBP"
        + fourcc + struct.pack("<I", len(data)) + data
    )


def test_webp_dimensions_all_variants():
    import struct

    w, h = 321, 205
    vp8 = _webp(
        b"VP8 ",
        b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h),
    )
    assert multimodal.image_dimensions(vp8) == (w, h)
    # the top 2 bits of each uint16 are the scale field, masked off
    vp8_scaled = _webp(
        b"VP8 ",
        b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + struct.pack("<HH", w | 0xC000, h | 0x4000),
    )
    assert multimodal.image_dimensions(vp8_scaled) == (w, h)
    bits = (w - 1) | ((h - 1) << 14)
    vp8l = _webp(b"VP8L", b"\x2f" + struct.pack("<I", bits))
    assert multimodal.image_dimensions(vp8l) == (w, h)
    vp8x = _webp(
        b"VP8X",
        bytes(4) + struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3],
    )
    assert multimodal.image_dimensions(vp8x) == (w, h)
    # honest Nones: bad start code, bad VP8L signature, truncation,
    # unknown first chunk
    bad_sc = _webp(
        b"VP8 ", b"\x00\x00\x00" + b"\x9d\x01\x2b" + struct.pack("<HH", w, h)
    )
    assert multimodal.image_dimensions(bad_sc) is None
    assert multimodal.image_dimensions(
        _webp(b"VP8L", b"\x30" + struct.pack("<I", bits))
    ) is None
    assert multimodal.image_dimensions(vp8[:20]) is None
    assert multimodal.image_dimensions(
        _webp(b"ANMF", bytes(10))
    ) is None


def _adts_frame(sfi: int, payload_len: int = 16, blocks: int = 1) -> bytes:
    flen = 7 + payload_len
    return bytes(
        [
            0xFF,
            0xF1,
            0x40 | (sfi << 2),
            0x40 | ((flen >> 11) & 3),
            (flen >> 3) & 0xFF,
            (flen & 7) << 5,
            blocks - 1,
        ]
    ) + b"\x00" * payload_len


def test_adts_duration_walk():
    # 5 frames at 44.1 kHz (sfi 4), one raw data block each
    s = _adts_frame(4) * 5
    assert multimodal.media_duration_ms(s) == 5 * 1024 * 1000 // 44100
    # per-frame rate scaling: mixed 44.1 kHz + 8 kHz frames
    mixed = _adts_frame(4) * 2 + _adts_frame(11) * 3
    assert multimodal.media_duration_ms(mixed) == (
        2 * 1024 * 1000 // 44100 + 3 * 1024 * 1000 // 8000
    )
    # multi-block frames carry blocks*1024 samples
    assert multimodal.media_duration_ms(_adts_frame(4, blocks=4) * 2) == (
        8 * 1024 * 1000 // 44100
    )
    # honest Nones: truncated final frame, reserved frequency index,
    # desync mid-stream, frame length below the header size
    assert multimodal.media_duration_ms(s[:-3]) is None
    assert multimodal.media_duration_ms(_adts_frame(13)) is None
    assert multimodal.media_duration_ms(
        _adts_frame(4) + b"\x00" + _adts_frame(4)
    ) is None
    short = bytearray(_adts_frame(4, payload_len=0))
    short[4] = 0  # flen -> 0
    short[5] = 3 << 5  # flen = 3 < 7
    assert multimodal.media_duration_ms(bytes(short)) is None
    # dispatch: the shared 0xFFF sync routes by layer bits — an MP3
    # Layer III frame still walks as MP3 (1152 samples, not 1024)
    f, _, rate, spf = _mp3_frame()
    assert multimodal.media_duration_ms(f * 2) == 2 * spf * 1000 // rate


def _exif_tiff(end: str, orient: int, make: str, model: str,
               w: int, h: int) -> bytes:
    """Independent EXIF/TIFF builder for the tests: fixed layout —
    IFD0 (Make via offset, Model inline, Orientation SHORT, Exif
    pointer) at 8, Exif sub-IFD (LONG width, SHORT height) at 62,
    Make bytes at 92."""
    import struct

    e = "<" if end == "II" else ">"
    u16 = lambda v: struct.pack(e + "H", v)  # noqa: E731
    u32 = lambda v: struct.pack(e + "I", v)  # noqa: E731
    mk = make.encode() + b"\x00"
    md = (model.encode() + b"\x00").ljust(4, b"\x00")[:4]
    ifd0 = u16(4)
    ifd0 += u16(271) + u16(2) + u32(len(mk)) + u32(92)
    ifd0 += u16(272) + u16(2) + u32(4) + md
    ifd0 += u16(274) + u16(3) + u32(1) + u16(orient) + b"\x00\x00"
    ifd0 += u16(34665) + u16(4) + u32(1) + u32(62)
    ifd0 += u32(0)
    sub = u16(2)
    sub += u16(40962) + u16(4) + u32(1) + u32(w)
    sub += u16(40963) + u16(3) + u32(1) + u16(h) + b"\x00\x00"
    sub += u32(0)
    hdr = (b"II" if end == "II" else b"MM") + u16(42) + u32(8)
    return hdr + ifd0 + sub + mk


def test_exif_metadata_both_orders_and_wrapping():
    import struct

    t = _exif_tiff("II", 6, "CAM42", "Mk7", 4032, 3024)
    got = multimodal.exif_metadata(t)
    assert got["orientation"] == 6
    assert got["make"] == "CAM42"
    assert got["model"] == "Mk7"
    assert (got["exif_width"], got["exif_height"]) == (4032, 3024)
    # big-endian body: SHORT left-justification is load-bearing
    got = multimodal.exif_metadata(_exif_tiff("MM", 3, "CAM07", "Mk1", 640, 480))
    assert got["orientation"] == 3 and got["exif_height"] == 480
    # JPEG APP1 wrapping, with a preceding APP0 segment to skip
    app1 = b"Exif\x00\x00" + t
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
        + b"\xff\xe1" + struct.pack(">H", 2 + len(app1)) + app1
        + b"\xff\xd9"
    )
    got = multimodal.exif_metadata(jpeg)
    assert got["make"] == "CAM42" and got["orientation"] == 6


def test_exif_metadata_honest_nones_and_bounds():
    t = _exif_tiff("II", 1, "CAM00", "Mk0", 16, 16)
    # no APP1 at all / no EXIF fields / wrong magic
    assert multimodal.exif_metadata(b"\xff\xd8\xff\xd9") is None
    assert multimodal.exif_metadata(b"II\x2b\x00" + bytes(8)) is None
    assert multimodal.exif_metadata(None) is None
    # crafted out-of-range value offset: field skipped, no crash
    bad = bytearray(t)
    bad[18:22] = (10**6).to_bytes(4, "little")  # Make value offset
    got = multimodal.exif_metadata(bytes(bad))
    assert got is not None and got["make"] is None
    assert got["orientation"] == 1  # later entries still parsed
    # truncated mid-directory: bounds stop the walk, partial result
    got = multimodal.exif_metadata(t[:40])
    assert got is not None and got["model"] == "Mk0"
    assert got["exif_width"] is None


# --------------------------------------------------- TIFF strip decode


def _tiff_bytes(end, w, h, photo, strips, comp=1, rps=None, cmap=None,
                spp=1, predictor=None, bps=8, t4options=None):
    """Independent TIFF writer for the tests (shares no code with the
    decoder): header, IFD0 with inline or offset-valued fields, value
    blobs, then the strip data."""
    import struct

    e = "<" if end == "II" else ">"
    u16 = lambda v: struct.pack(e + "H", v)  # noqa: E731
    u32 = lambda v: struct.pack(e + "I", v)  # noqa: E731
    rps = rps or h
    entries = []

    def add(tag, typ, vals):
        raw = b"".join((u16(v) if typ == 3 else u32(v)) for v in vals)
        entries.append([tag, typ, len(vals), raw, len(raw) > 4, None])

    add(256, 4, [w])
    add(257, 4, [h])
    add(258, 3, [bps] * spp)
    add(259, 3, [comp])
    add(262, 3, [photo])
    add(277, 3, [spp])
    add(278, 4, [rps])
    add(273, 4, [0] * len(strips))
    add(279, 4, [len(s) for s in strips])
    if cmap is not None:
        add(320, 3, cmap)
    if predictor is not None:
        add(317, 3, [predictor])
    if t4options is not None:
        add(292, 4, [t4options])
    n = len(entries)
    dir_end = 8 + 2 + 12 * n + 4
    blobs = bytearray()
    for ent in entries:
        if ent[4]:
            ent[5] = dir_end + len(blobs)
            blobs += ent[3]
    pos = dir_end + len(blobs)
    offs = []
    for s in strips:
        offs.append(pos)
        pos += len(s)
    for ent in entries:
        if ent[0] == 273:
            ent[3] = b"".join(u32(v) for v in offs)
            if ent[4]:
                j = ent[5] - dir_end
                blobs[j : j + len(ent[3])] = ent[3]
    out = (b"II" if end == "II" else b"MM") + u16(42) + u32(8) + u16(n)
    for tag, typ, cnt, raw, is_off, voff in entries:
        out += u16(tag) + u16(typ) + u32(cnt)
        out += u32(voff) if is_off else raw.ljust(4, b"\x00")[:4]
    out += u32(0) + bytes(blobs) + b"".join(strips)
    return bytes(out)


def test_tiff_decode_gray_strips_and_byte_orders():
    import numpy as np

    w, h = 16, 12
    pix = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    for end in ("II", "MM"):
        t = _tiff_bytes(
            end, w, h, 1, [pix[:6].tobytes(), pix[6:].tobytes()], rps=6
        )
        got = multimodal.decode_tiff_array(t)
        assert got is not None and got[:2] == (w, h)
        assert np.array_equal(got[2].reshape(h, w), pix)
    # WhiteIsZero inverts
    got = multimodal.decode_tiff_array(
        _tiff_bytes("II", w, h, 0, [pix.tobytes()])
    )
    assert np.array_equal(got[2].reshape(h, w), 255 - pix)


def test_tiff_decode_rgb_palette_and_deflate():
    import zlib

    import numpy as np

    w, h = 16, 12
    pix = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    rgb = ((np.arange(w * h * 3, dtype=np.int64) * 37 + 11) % 256).astype(
        np.uint8
    ).reshape(h, w, 3)
    got = multimodal.decode_tiff_array(
        _tiff_bytes("II", w, h, 2, [rgb.tobytes()], spp=3)
    )
    exp = (
        (rgb[..., 0].astype(int) + rgb[..., 1] + rgb[..., 2]) // 3
    ).astype(np.uint8)
    assert np.array_equal(got[2].reshape(h, w), exp)
    # palette: 16-bit ColorMap (all R, all G, all B), gray from the
    # high bytes
    cmap = (
        [i * 257 for i in range(256)]
        + [(i * 131) % 65536 for i in range(256)]
        + [(i * 17) % 65536 for i in range(256)]
    )
    got = multimodal.decode_tiff_array(
        _tiff_bytes("II", w, h, 3, [pix.tobytes()], cmap=cmap)
    )
    cm = np.array(cmap).reshape(3, 256)
    lut = (((cm[0] >> 8) + (cm[1] >> 8) + (cm[2] >> 8)) // 3).astype(
        np.uint8
    )
    assert np.array_equal(got[2].reshape(h, w), lut[pix])
    # Deflate strips (Compression 8), multi-strip
    t = _tiff_bytes(
        "II", w, h, 1,
        [zlib.compress(pix[:8].tobytes()), zlib.compress(pix[8:].tobytes())],
        comp=8, rps=8,
    )
    got = multimodal.decode_tiff_array(t)
    assert np.array_equal(got[2].reshape(h, w), pix)


def test_tiff_decode_honest_nones_and_bomb_guard():
    import zlib

    import numpy as np

    w, h = 16, 12
    pix = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    good = _tiff_bytes("II", w, h, 1, [pix.tobytes()])
    assert multimodal.decode_tiff_array(good[:-10]) is None  # short strip
    # unsupported compression (LZW=5) / planar / 16-bit samples
    assert multimodal.decode_tiff_array(
        _tiff_bytes("II", w, h, 1, [pix.tobytes()], comp=5)
    ) is None
    # strip offset out of range
    bad = bytearray(good)
    i = bad.find((273).to_bytes(2, "little"))
    bad[i + 8 : i + 12] = (10**7).to_bytes(4, "little")
    assert multimodal.decode_tiff_array(bytes(bad)) is None
    # a deflate bomb can't inflate past the strip's declared rows
    bomb = zlib.compress(b"\x00" * 10_000_000)
    got = multimodal.decode_tiff_array(
        _tiff_bytes("II", w, h, 1, [bomb], comp=8)
    )
    assert got is not None and len(got[2]) == w * h
    # flows through the one dispatcher + average_hash
    assert multimodal.decode_image_pixels(good)[:2] == (w, h)
    assert multimodal.average_hash(good) is not None


# ------------------------------------------------------ ID3v2 text tags


def _syncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _id3_frame(fid: str, text: str, ver: int = 3, enc: int = 0) -> bytes:
    codec = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}[enc]
    body = bytes([enc]) + text.encode(codec)
    size = _syncsafe(len(body)) if ver == 4 else len(body).to_bytes(4, "big")
    return fid.encode() + size + b"\x00\x00" + body


def _id3(frames: list[bytes], ver: int = 3, pad: int = 8) -> bytes:
    body = b"".join(frames) + b"\x00" * pad
    return b"ID3" + bytes([ver, 0, 0]) + _syncsafe(len(body)) + body


def test_id3v2_tags_both_versions_and_encodings():
    t = _id3(
        [
            _id3_frame("TIT2", "Hello"),
            _id3_frame("TPE1", "Band"),
            _id3_frame("TALB", "LP"),
            _id3_frame("TYER", "1999"),
        ]
    )
    assert multimodal.id3v2_tags(t) == {
        "title": "Hello", "artist": "Band", "album": "LP", "year": "1999"
    }
    # v2.4: syncsafe frame sizes, UTF-8, TDRC date
    t4 = _id3(
        [
            _id3_frame("TIT2", "Héllo", ver=4, enc=3),
            _id3_frame("TDRC", "2024-01", ver=4),
        ],
        ver=4,
    )
    got = multimodal.id3v2_tags(t4)
    assert got["title"] == "Héllo" and got["year"] == "2024-01"
    # UTF-16 with BOM and UTF-16BE bodies decode
    assert multimodal.id3v2_tags(
        _id3([_id3_frame("TIT2", "Wide", enc=1)])
    )["title"] == "Wide"
    assert multimodal.id3v2_tags(
        _id3([_id3_frame("TIT2", "BE", enc=2)])
    )["title"] == "BE"
    # unknown text frames skipped, first value wins
    t = _id3([_id3_frame("TXXX", "x"), _id3_frame("TIT2", "A"),
              _id3_frame("TIT2", "B")])
    assert multimodal.id3v2_tags(t)["title"] == "A"


def test_id3v2_tags_honest_nones_and_bounds():
    assert multimodal.id3v2_tags(None) is None
    assert multimodal.id3v2_tags(b"RIFF....") is None
    # v2.2 (3-byte frame ids) unsupported
    assert multimodal.id3v2_tags(
        b"ID3\x02\x00\x00" + _syncsafe(10) + b"\x00" * 10
    ) is None
    # a crafted frame size past the container bound
    t = bytearray(_id3([_id3_frame("TIT2", "Hi")]))
    t[14] = 0xFF
    assert multimodal.id3v2_tags(bytes(t)) is None
    # garbage where a frame id should be desyncs honestly
    t = _id3([b"\x01\x02\x03\x04" + b"\x00\x00\x00\x02" + b"\x00\x00" + b"ab"])
    assert multimodal.id3v2_tags(t) is None
    # trailing MP3 frames after the container are ignored (bounded walk)
    good = _id3([_id3_frame("TIT2", "Hi")])
    f, _, rate, spf = _mp3_frame()
    assert multimodal.id3v2_tags(good + f)["title"] == "Hi"
    # and the DURATION walk still skips the container to the frames
    assert multimodal.media_duration_ms(good + f * 2) == 2 * spf * 1000 // rate


def _packbits(data: bytes) -> bytes:
    """Independent PackBits encoder (TIFF 6.0 §9) for the tests."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
        else:
            lit = i
            while i < n and i - lit < 128:
                if i + 2 < n and data[i + 1] == data[i] == data[i + 2]:
                    break
                i += 1
            out.append(i - lit - 1)
            out += data[lit:i]
    return bytes(out)


def test_tiff_decode_packbits():
    import numpy as np

    w, h = 16, 12
    pix = np.array(
        [[(r * 7 + c // 3) % 256 for c in range(w)] for r in range(h)],
        dtype=np.uint8,
    )
    t = _tiff_bytes(
        "II", w, h, 1,
        [_packbits(pix[:6].tobytes()), _packbits(pix[6:].tobytes())],
        comp=32773, rps=6,
    )
    got = multimodal.decode_tiff_array(t)
    assert got is not None and np.array_equal(got[2].reshape(h, w), pix)
    # long repeat runs + a leading no-op (0x80) byte
    row = bytes([42]) * w
    t = _tiff_bytes(
        "II", w, h, 1, [b"\x80" + _packbits(row * h)], comp=32773
    )
    got = multimodal.decode_tiff_array(t)
    assert got is not None and set(got[2].tolist()) == {42}
    # torn PackBits stream: honest None
    t = _tiff_bytes(
        "II", w, h, 1, [_packbits(pix.tobytes())[:-5]], comp=32773
    )
    assert multimodal.decode_tiff_array(t) is None


def test_avro_block_decompress_all_codecs():
    """Every codec in the Avro spec registry this container can decode:
    deflate (raw DEFLATE), snappy (+ big-endian CRC32 of the PLAIN
    bytes, verified), zstandard, bzip2, xz, null. Each block located by
    avro_blocks, then inflated independently — the executor-side half
    of the split plan."""
    import bz2
    import lzma
    import zlib

    import pyarrow as pa

    from data_ingestion_py_spark.sources.archive import (
        avro_block_decompress,
        avro_blocks,
    )

    plain = b"record-bytes " * 100
    comp = {
        "null": plain,
        "deflate": zlib.compressobj(wbits=-15).compress(plain)
        + zlib.compressobj(wbits=-15).flush(),
        "snappy": bytes(pa.Codec("snappy").compress(plain))
        + zlib.crc32(plain).to_bytes(4, "big"),
        "zstandard": bytes(pa.Codec("zstd").compress(plain)),
        "bzip2": bz2.compress(plain),
        "xz": lzma.compress(plain),
    }
    # deflate flush: compressobj is stateful — rebuild properly
    c = zlib.compressobj(wbits=-15)
    comp["deflate"] = c.compress(plain) + c.flush()
    for codec, data in comp.items():
        payload = _avro_file([(3, data)], codec=codec.encode())
        got = avro_blocks(payload)
        assert got is not None and got["codec"] == codec
        _idx, _nr, size, off = got["blocks"][0]
        out = avro_block_decompress(payload, off, size, codec)
        assert out == plain, codec
    # corrupt snappy CRC → None
    payload = _avro_file([(1, comp["snappy"][:-1] + b"\x00")], b"snappy")
    got = avro_blocks(payload)
    _i, _n, size, off = got["blocks"][0]
    assert avro_block_decompress(payload, off, size, "snappy") is None
    # unknown codec → None
    assert avro_block_decompress(b"xx", 0, 2, "lzo") is None


def _lzw_msb_encode(data: bytes, early_change: bool = True) -> bytes:
    """Independent MSB-first LZW compressor for the tests (TIFF
    Compression 5 / PDF LZWDecode conventions: CLEAR first, EOI last,
    early-change width bumps, CLEAR before the table overflows 12
    bits). Shares no code with the decoder."""
    codes = [256]
    table = {bytes([i]): i for i in range(256)}
    nxt = 258
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        codes.append(table[w])
        table[wc] = nxt
        nxt += 1
        if nxt > 4093:
            codes.append(256)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
        w = bytes([ch])
    if w:
        codes.append(table[w])
    codes.append(257)
    bits = []
    width, size, first = 9, 258, True
    for c in codes:
        for k in reversed(range(width)):
            bits.append((c >> k) & 1)
        if c == 256:
            width, size, first = 9, 258, True
            continue
        if c == 257:
            break
        if first:
            first = False
        else:
            size += 1
        if width < 12 and size >= (1 << width) - (1 if early_change else 0):
            width += 1
    out = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        out[i >> 3] |= b << (7 - (i & 7))
    return bytes(out)


def test_lzw_msb_hand_vector_and_kwkwk():
    """'AAAAA' by hand: CLEAR(256), 'A'(65), 258 (KwKwK — a code equal
    to the table size), 258, EOI — packed MSB-first at width 9."""
    from data_ingestion_py_spark.sources.multimodal import lzw_msb_decode

    bits = []
    for c in (256, 65, 258, 258, 257):
        for k in reversed(range(9)):
            bits.append((c >> k) & 1)
    enc = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        enc[i >> 3] |= b << (7 - (i & 7))
    assert lzw_msb_decode(bytes(enc), 1 << 10) == b"AAAAA"


def test_lzw_msb_roundtrip_widths_and_clears():
    import random

    from data_ingestion_py_spark.sources.multimodal import lzw_msb_decode

    rng = random.Random(42)
    # low-entropy 60k bytes: width climbs 9->12 and CLEAR fires mid-
    # stream; high-entropy 10k: the no-matches path
    lo = bytes(rng.randrange(8) for _ in range(60_000))
    hi = bytes(rng.randrange(256) for _ in range(10_000))
    for data in (lo, hi, b"", b"x"):
        assert lzw_msb_decode(_lzw_msb_encode(data), 1 << 20) == data
    # non-early-change variant (PDF EarlyChange 0)
    assert (
        lzw_msb_decode(
            _lzw_msb_encode(lo, early_change=False),
            1 << 20,
            early_change=False,
        )
        == lo
    )
    # torn stream (EOI cut off) and bomb guard
    enc = _lzw_msb_encode(lo)
    assert lzw_msb_decode(enc[:-2], 1 << 20) is None
    assert lzw_msb_decode(enc, 1000) is None
    # a code past the table (not KwKwK) is corrupt
    bits = []
    for c in (256, 65, 300, 257):
        for k in reversed(range(9)):
            bits.append((c >> k) & 1)
    bad = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        bad[i >> 3] |= b << (7 - (i & 7))
    assert lzw_msb_decode(bytes(bad), 1 << 10) is None


def test_tiff_decode_lzw_and_predictor2():
    from data_ingestion_py_spark.sources.multimodal import decode_tiff_array

    w, h = 13, 6
    raster = bytes((r * 31 + c * 7) % 256 for r in range(h) for c in range(w))
    # comp 5, no predictor
    tif = _tiff_bytes("II", w, h, 1, [_lzw_msb_encode(raster)], comp=5)
    got = decode_tiff_array(tif)
    assert got is not None and bytes(got[2]) == raster
    # comp 5 + horizontal differencing (predictor 2): strip carries the
    # per-row deltas; the decoder must cumsum them back
    diffed = bytearray(raster)
    for r in range(h):
        for c in range(w - 1, 0, -1):
            diffed[r * w + c] = (raster[r * w + c] - raster[r * w + c - 1]) % 256
    tif2 = _tiff_bytes(
        "MM", w, h, 1, [_lzw_msb_encode(bytes(diffed))], comp=5, predictor=2
    )
    got2 = decode_tiff_array(tif2)
    assert got2 is not None and bytes(got2[2]) == raster
    # predictor 2 over RGB: per-channel lanes
    rgb = bytes((r * 5 + c * 3 + ch * 11) % 256
                for r in range(h) for c in range(w) for ch in range(3))
    diff3 = bytearray(rgb)
    for r in range(h):
        for c in range(w - 1, 0, -1):
            for ch in range(3):
                k = (r * w + c) * 3 + ch
                diff3[k] = (rgb[k] - rgb[k - 3]) % 256
    tif3 = _tiff_bytes(
        "II", w, h, 2, [_lzw_msb_encode(bytes(diff3))], comp=5, spp=3,
        predictor=2,
    )
    got3 = decode_tiff_array(tif3)
    expect = bytes(
        (rgb[k * 3] + rgb[k * 3 + 1] + rgb[k * 3 + 2]) // 3
        for k in range(w * h)
    )
    assert got3 is not None and bytes(got3[2]) == expect
    # float predictor (3): honest None
    tif4 = _tiff_bytes(
        "II", w, h, 1, [_lzw_msb_encode(raster)], comp=5, predictor=3
    )
    assert decode_tiff_array(tif4) is None
    # corrupt LZW stream: honest None
    bad = _tiff_bytes("II", w, h, 1, [b"\xff\xff\xff\xff"], comp=5)
    assert decode_tiff_array(bad) is None


def test_tiff_decode_bilevel_and_4bit():
    """r12: sub-byte TIFF depths — 1-bit bilevel (the scanned-document
    norm) and 4-bit gray, MSB-first (FillOrder 1) with row padding,
    scaled to the exact full 8-bit range; WhiteIsZero inverts; LZW
    composes; predictor 2 at sub-byte depth is the honest None."""
    from data_ingestion_py_spark.sources.multimodal import decode_tiff_array

    w, h = 11, 3
    bits = [[(r * 3 + c * 5) % 2 for c in range(w)] for r in range(h)]
    raw = b""
    for r in range(h):
        row = 0
        for c in range(w):
            row |= bits[r][c] << (15 - c)
        raw += row.to_bytes(2, "big")
    want = [b * 255 for row in bits for b in row]
    got = decode_tiff_array(_tiff_bytes("II", w, h, 1, [raw], bps=1))
    assert got is not None and list(got[2]) == want
    got = decode_tiff_array(_tiff_bytes("MM", w, h, 0, [raw], bps=1))
    assert got is not None and list(got[2]) == [255 - v for v in want]
    # 1-bit + LZW (how fax-scanned TIFFs actually ship, minus CCITT)
    got = decode_tiff_array(
        _tiff_bytes("II", w, h, 1, [_lzw_msb_encode(raw)], comp=5, bps=1)
    )
    assert got is not None and list(got[2]) == want
    # 4-bit gray: two samples per byte, x17 scaling
    vals = [[(r * 5 + c * 3) % 16 for c in range(w)] for r in range(h)]
    raw4 = b""
    for r in range(h):
        packed = bytearray((w + 1) // 2)
        for c in range(w):
            packed[c // 2] |= vals[r][c] << (4 if c % 2 == 0 else 0)
        raw4 += bytes(packed)
    got = decode_tiff_array(_tiff_bytes("II", w, h, 1, [raw4], bps=4))
    assert got is not None and list(got[2]) == [
        v * 17 for row in vals for v in row
    ]
    # predictor 2 at sub-byte depth: honest None
    assert (
        decode_tiff_array(
            _tiff_bytes("II", w, h, 1, [raw], bps=1, predictor=2)
        )
        is None
    )
    # 1-bit RGB: not a thing -> None
    assert (
        decode_tiff_array(_tiff_bytes("II", w, h, 2, [raw], spp=3, bps=1))
        is None
    )


def test_png_decode_low_and_high_depths():
    """r12: PNG bit depths 1/2/4 (gray + palette, MSB-first packing,
    byte-unit filters) and 16 (big-endian, high byte = the 8-bit
    reduction, filters on 2-byte units); Adam7 at non-8 depth stays
    the honest None."""
    import struct
    import zlib

    from data_ingestion_py_spark.sources.multimodal import decode_png_array

    def chunk(tag, body):
        c = tag + body
        return struct.pack(">I", len(body)) + c + struct.pack(
            ">I", zlib.crc32(c)
        )

    def png(w, h, depth, ctype, raw, plte=None, interlace=0):
        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                                 interlace)
        )
        if plte:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # 2-bit gray with an Up filter row (filters act on bytes)
    w, h = 9, 3
    vals = [[(r + c) % 4 for c in range(w)] for r in range(h)]
    rows = []
    for r in range(h):
        packed = bytearray(3)
        for c in range(w):
            packed[c // 4] |= vals[r][c] << (6 - 2 * (c % 4))
        rows.append(bytes(packed))
    raw = b"\x00" + rows[0] + b"\x00" + rows[1]
    up = bytes((rows[2][i] - rows[1][i]) % 256 for i in range(3))
    raw += b"\x02" + up
    got = decode_png_array(png(w, h, 2, 0, raw))
    assert got is not None and list(got[2]) == [
        v * 85 for row in vals for v in row
    ]
    # 1-bit palette (two entries)
    plte = bytes([10, 20, 30, 200, 100, 60])  # grays 20 and 120
    bits = [[(r * c) % 2 for c in range(w)] for r in range(h)]
    raw = b""
    for r in range(h):
        packed = bytearray(2)
        for c in range(w):
            packed[c // 8] |= bits[r][c] << (7 - (c % 8))
        raw += b"\x00" + bytes(packed)
    got = decode_png_array(png(w, h, 1, 3, raw, plte=plte))
    assert got is not None and list(got[2]) == [
        (20, 120)[b] for row in bits for b in row
    ]
    # 16-bit gray with a Sub filter row (2-byte filter unit)
    w16, h16 = 5, 2
    vals16 = [[(r * 9000 + c * 777) % 65536 for c in range(w16)]
              for r in range(h16)]
    line0 = b"".join(v.to_bytes(2, "big") for v in vals16[0])
    plain1 = b"".join(v.to_bytes(2, "big") for v in vals16[1])
    sub1 = bytearray(plain1)
    for x in range(len(sub1) - 1, 1, -1):
        sub1[x] = (plain1[x] - plain1[x - 2]) % 256
    raw16 = b"\x00" + line0 + b"\x01" + bytes(sub1)
    got = decode_png_array(png(w16, h16, 16, 0, raw16))
    assert got is not None and list(got[2]) == [
        v >> 8 for row in vals16 for v in row
    ]
    # Adam7 at depth 1: honest None
    assert decode_png_array(png(w, h, 1, 0, raw, interlace=1)) is None
    # depth 2 RGB is not legal PNG: None
    assert decode_png_array(png(w, h, 2, 2, raw)) is None


def test_tiff_predictor2_on_uncompressed_strip():
    """r13 advisor regression: Predictor=2 on an UNCOMPRESSED strip is
    legal (if unusual) per TIFF 6.0 §14 — the differencing inverse
    used to be skipped when comp == 1, emitting differenced bytes as
    pixels."""
    from data_ingestion_py_spark.sources.multimodal import decode_tiff_array

    w, h = 11, 5
    raster = bytes((r * 29 + c * 13) % 256 for r in range(h) for c in range(w))
    diffed = bytearray(raster)
    for r in range(h):
        for c in range(w - 1, 0, -1):
            diffed[r * w + c] = (raster[r * w + c] - raster[r * w + c - 1]) % 256
    tif = _tiff_bytes("II", w, h, 1, [bytes(diffed)], comp=1, predictor=2)
    got = decode_tiff_array(tif)
    assert got is not None and bytes(got[2]) == raster


def test_mp4_mjpeg_frame_decode_end_to_end():
    """r13: MJPEG samples inside an independently-written ISO-BMFF
    container decode through the sample-table → JPEG-kernel
    composition; a non-JPEG sample fails honestly."""
    import struct

    from data_ingestion_py_spark.sources.multimodal import (
        decode_mp4_mjpeg_frames,
        decode_pnm,
    )
    from tests.test_ocr_pure import jpeg_digits

    def box(fourcc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    def mp4(samples: list[bytes], ts: int = 600, delta: int = 200) -> bytes:
        ftyp = box(b"ftyp", b"isom" + b"\x00" * 4)
        stts = box(b"stts", struct.pack(">III I", 0, 1, len(samples), delta))
        sizes = {len(s) for s in samples}
        if len(sizes) == 1:
            stsz = box(b"stsz", struct.pack(">III", 0, sizes.pop(), len(samples)))
        else:
            stsz = box(b"stsz", struct.pack(">III", 0, 0, len(samples))
                       + b"".join(struct.pack(">I", len(s)) for s in samples))
        stsc = box(b"stsc", struct.pack(">II III", 0, 1, 1, len(samples), 1))
        # stco offset filled after sizes known: compute moov size first
        def build(base: int) -> bytes:
            stco = box(b"stco", struct.pack(">III", 0, 1, base))
            stbl = box(b"stbl", stts + stsz + stsc + stco)
            minf = box(b"minf", stbl)
            mdhd = box(b"mdhd", struct.pack(">I II I I HH", 0, 0, 0, ts, 0, 0, 0))
            mdia = box(b"mdia", mdhd + minf)
            trak = box(b"trak", mdia)
            return box(b"moov", trak)
        moov = build(0)
        base = len(ftyp) + len(moov) + 8
        moov = build(base)
        mdat = box(b"mdat", b"".join(samples))
        return ftyp + moov + mdat

    j0, j1 = jpeg_digits("01234"), jpeg_digits("98765")
    got = decode_mp4_mjpeg_frames(mp4([j0, j1]))
    assert got is not None
    ts, frames = got
    assert ts == 600 and [f[0] for f in frames] == [0, 1]
    assert [f[1] for f in frames] == [0, 200]
    for pgm, src in zip(frames, (j0, j1)):
        w, h, pix = decode_pnm(pgm[2])
        assert (w, h) == (80, 24)
    # distinct content survives: frame pixel sums differ
    s0 = sum(decode_pnm(frames[0][2])[2])
    s1 = sum(decode_pnm(frames[1][2])[2])
    assert s0 != s1
    # a sample that is not a JPEG → honest None
    assert decode_mp4_mjpeg_frames(mp4([j0, b"\x00" * len(j1)])) is None
    # truncated mdat (sample range past EOF) → honest None
    full = mp4([j0, j1])
    assert decode_mp4_mjpeg_frames(full[:-10]) is None


class _SpsBits:
    """Independent SPS bit-writer (test side of the r14 H.264 walk)."""

    def __init__(self):
        self.bits: list[int] = []

    def u(self, n: int, v: int):
        for k in range(n - 1, -1, -1):
            self.bits.append((v >> k) & 1)

    def ue(self, v: int):
        n = (v + 1).bit_length() - 1
        self.u(n, 0)
        self.u(n + 1, v + 1)

    def se(self, v: int):
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def nal(self, header: int) -> bytes:
        bits = self.bits + [1]
        bits += [0] * (-len(bits) % 8)
        raw = bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )
        # emulation prevention: 00 00 0x -> 00 00 03 0x
        out = bytearray([header])
        zeros = 0
        for b in raw:
            if zeros == 2 and b <= 3:
                out.append(3)
                zeros = 0
            out.append(b)
            zeros = zeros + 1 if b == 0 else 0
        return bytes(out)


def _sps_bytes(w_mbs, h_units, profile=66, level=30, frame_mbs_only=1,
               crop=(0, 0, 0, 0)):
    w = _SpsBits()
    w.u(8, profile)
    w.u(8, 0)
    w.u(8, level)
    w.ue(0)          # sps id
    w.ue(0)          # log2_max_frame_num_minus4
    w.ue(0)          # poc type 0
    w.ue(0)          # log2_max_poc_lsb_minus4
    w.ue(1)          # max_num_ref_frames
    w.u(1, 0)        # gaps allowed
    w.ue(w_mbs - 1)
    w.ue(h_units - 1)
    w.u(1, frame_mbs_only)
    if not frame_mbs_only:
        w.u(1, 0)
    w.u(1, 0)        # direct_8x8
    if any(crop):
        w.u(1, 1)
        for c in crop:
            w.ue(c)
    else:
        w.u(1, 0)
    return w.nal(0x67)


def _avc_mp4(sample_nals, sps, pps=b"\x68\xce\x38\x80"):
    """ftyp + mdat(samples in AVCC 4-byte-length layout) + moov with
    stsd/avc1/avcC — offsets exact because mdat precedes moov."""
    import struct

    mdat_data = b""
    sizes = []
    for nals in sample_nals:
        s = b"".join(
            struct.pack(">I", len(n)) + n for n in nals
        )
        sizes.append(len(s))
        mdat_data += s
    ftyp = _mp4_box(b"ftyp", b"isom\0\0\0\0")
    mdat = _mp4_box(b"mdat", mdat_data)
    base = len(ftyp) + 8
    avcc = _mp4_box(
        b"avcC",
        bytes([1, sps[1], sps[2], sps[3], 0xFC | 3, 0xE0 | 1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps,
    )
    avc1 = _mp4_box(b"avc1", bytes(78) + avcc)
    stsd = _mp4_box(b"stsd", struct.pack(">2I", 0, 1) + avc1)
    mdhd = _mp4_box(b"mdhd", struct.pack(">6I", 0, 0, 0, 600, 0, 0))
    stts = _mp4_box(
        b"stts", struct.pack(">2I", 0, 1)
        + struct.pack(">2I", len(sizes), 100)
    )
    stsz = _mp4_box(
        b"stsz", struct.pack(">3I", 0, 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes)
    )
    stsc = _mp4_box(
        b"stsc", struct.pack(">2I", 0, 1)
        + struct.pack(">3I", 1, len(sizes), 1)
    )
    stco = _mp4_box(b"stco", struct.pack(">3I", 0, 1, base))
    stbl = _mp4_box(b"stbl", stsd + stts + stsz + stsc + stco)
    mdia = _mp4_box(b"mdia", mdhd + _mp4_box(b"minf", stbl))
    moov = _mp4_box(b"moov", _mp4_box(b"trak", mdia))
    return ftyp + mdat + moov


def _audio_trak(sizes=(11, 13), offset=0):
    """Minimal 'soun'-handler trak with its own complete stbl — the
    decoy an audio-first file puts BEFORE the video trak."""
    import struct

    hdlr = _mp4_box(
        b"hdlr", struct.pack(">2I", 0, 0) + b"soun" + bytes(12)
    )
    stts = _mp4_box(
        b"stts", struct.pack(">2I", 0, 1)
        + struct.pack(">2I", len(sizes), 42)
    )
    stsz = _mp4_box(
        b"stsz", struct.pack(">3I", 0, 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes)
    )
    stsc = _mp4_box(
        b"stsc", struct.pack(">2I", 0, 1)
        + struct.pack(">3I", 1, len(sizes), 1)
    )
    stco = _mp4_box(b"stco", struct.pack(">3I", 0, 1, offset))
    mp4a = _mp4_box(b"mp4a", bytes(28))
    stsd = _mp4_box(b"stsd", struct.pack(">2I", 0, 1) + mp4a)
    stbl = _mp4_box(b"stbl", stsd + stts + stsz + stsc + stco)
    mdhd = _mp4_box(b"mdhd", struct.pack(">6I", 0, 0, 0, 48000, 0, 0))
    return _mp4_box(
        b"trak", _mp4_box(b"mdia", mdhd + hdlr + _mp4_box(b"minf", stbl))
    )


def test_mp4_audio_first_track_selection():
    """r15 (advice): mp4_avc_config / mp4_sample_table used to stop at
    the FIRST trak; an MP4 whose first track is audio then returned
    None (or the audio sample table). Now the first trak whose stsd
    carries avc1 (config) / whose hdlr says 'vide' (sample table)
    wins, and a video trak with no hdlr still beats a declared-audio
    one."""
    from data_ingestion_py_spark.sources import multimodal as mm

    sps = _sps_bytes(40, 23)
    vid = _avc_mp4([[b"\x65\x88\x77\x66"]], sps)
    base = mm.mp4_avc_config(vid)
    assert base is not None and base["width"] == 640
    vtab = mm.mp4_sample_table(vid)
    assert vtab is not None

    # splice an audio trak BEFORE the video trak inside moov (mdat
    # precedes moov, so sample offsets stay exact)
    midx = vid.rfind(b"moov") - 4
    head, video_trak = vid[:midx], vid[midx + 8 :]
    out = head + _mp4_box(b"moov", _audio_trak() + video_trak)
    cfg = mm.mp4_avc_config(out)
    assert cfg is not None and cfg["width"] == 640
    tab = mm.mp4_sample_table(out)
    # video trak has no hdlr: the no-hdlr fallback must beat 'soun'
    assert tab is not None
    assert [s[2] for s in tab["samples"]] == [s[2] for s in vtab["samples"]]
    assert [s[2] for s in tab["samples"]] != [11, 13]


def test_h264_annexb_truncation_exact_sizes():
    """r15 (advice): at the max_nals cap the index used to emit
    max_nals+1 rows whose final size swallowed every un-walked NAL;
    now exactly max_nals rows, each with its true boundary."""
    from data_ingestion_py_spark.sources import multimodal as mm

    sps = _sps_bytes(40, 23)
    es = b"\x00\x00\x00\x01" + sps
    bodies = [bytes([0x41, k, k + 1, k + 2]) for k in range(6)]
    for b in bodies:
        es += b"\x00\x00\x01" + b
    idx = mm.h264_annexb_nals(es, max_nals=4)
    nals = idx["nals"]
    assert len(nals) == 4
    # sizes are exact: SPS then three 4-byte slices, not a tail-swallow
    assert [s for (_i, _o, s, _t, _k) in nals] == [len(sps), 4, 4, 4]
    for _i, o, s, _t, _k in nals[1:]:
        assert es[o : o + s] in bodies
    # untruncated walk still spans to the true end
    full = mm.h264_annexb_nals(es, max_nals=64)
    assert len(full["nals"]) == 7
    assert full["nals"][-1][1] + full["nals"][-1][2] == len(es)


def test_h264_sps_params_geometry_and_crop():
    from data_ingestion_py_spark.sources import multimodal as mm

    # 640x368 baseline, no crop
    p = mm.h264_sps_params(_sps_bytes(40, 23))
    assert p == {"profile_idc": 66, "level_idc": 30,
                 "width": 640, "height": 368}
    # 1920x1080: 120x68 MBs cropped 1088 -> 1080 (bottom crop 4 at
    # CropUnitY=2 for 4:2:0 frame_mbs_only)
    p = mm.h264_sps_params(_sps_bytes(120, 68, crop=(0, 0, 0, 4)))
    assert (p["width"], p["height"]) == (1920, 1080)
    # interlaced (frame_mbs_only=0): height doubles per map unit
    p = mm.h264_sps_params(_sps_bytes(40, 15, frame_mbs_only=0))
    assert (p["width"], p["height"]) == (640, 480)
    # truncated bits / wrong NAL type refuse
    assert mm.h264_sps_params(_sps_bytes(40, 23)[:4]) is None
    assert mm.h264_sps_params(b"\x41\x42") is None


def test_h264_nal_index_and_frame_plan(spark):
    from data_ingestion_py_spark.sources import multimodal as mm

    sps = _sps_bytes(20, 15)
    idr = b"\x65" + bytes(range(9))
    non = b"\x41" + bytes(range(5))
    mp4 = _avc_mp4([[sps, b"\x68\xce\x38\x80", idr], [non], [non, idr]],
                   sps)
    idx = mm.h264_nal_index(mp4)
    assert idx is not None
    assert (idx["width"], idx["height"]) == (320, 240)
    assert (idx["profile_idc"], idx["level_idc"]) == (66, 30)
    [(i0, o0, s0, t0, k0), (i1, _o1, _s1, t1, k1),
     (i2, _o2, _s2, t2, k2)] = idx["samples"]
    assert (t0, k0) == ([7, 8, 5], True)
    assert (t1, k1) == ([1], False)
    assert (t2, k2) == ([1, 5], True)
    assert o0 == mp4.index(b"mdat") + 4
    assert s0 == (4 + len(sps)) + (4 + 4) + (4 + 10)
    # torn NAL length tiling refuses the whole index
    bad = mp4.replace(b"\x00\x00\x00\x0a\x65", b"\x00\x00\x00\x0b\x65")
    assert mm.h264_nal_index(bad) is None
    # non-AVC MP4 (no stsd/avc1) emits no plan
    plain = _mp4_with_stbl([10, 20, 30], [(3, 40)], [1000])
    assert mm.h264_nal_index(plain) is None
    # the DataFrame op: one row per sample, bitstream-derived keyframes
    df = spark.createDataFrame(
        [(1, bytearray(mp4)), (2, bytearray(plain))],
        "media_id long, payload binary",
    )
    rows = {
        (r.media_id, r.sample_index): r
        for r in mm.h264_frame_plan(df).collect()
    }
    assert len(rows) == 3  # non-AVC payload: no rows
    assert rows[(1, 0)].is_idr and not rows[(1, 1)].is_idr
    assert rows[(1, 2)].nal_types == "1,5"
    assert rows[(1, 0)].width == 320 and rows[(1, 0)].height == 240


def _tiff_tiled_bytes(end, w, h, photo, tiles, tw, th, comp=1,
                      cmap=None, spp=1, predictor=None, bps=8,
                      also_strips=False):
    """Independent TILED-TIFF writer: TileWidth/TileLength/TileOffsets/
    TileByteCounts instead of the strip tags (r14). ``also_strips``
    plants BOTH layouts (malformed — must refuse)."""
    import struct

    e = "<" if end == "II" else ">"
    u16 = lambda v: struct.pack(e + "H", v)  # noqa: E731
    u32 = lambda v: struct.pack(e + "I", v)  # noqa: E731
    entries = []

    def add(tag, typ, vals):
        raw = b"".join((u16(v) if typ == 3 else u32(v)) for v in vals)
        entries.append([tag, typ, len(vals), raw, len(raw) > 4, None])

    add(256, 4, [w])
    add(257, 4, [h])
    add(258, 3, [bps] * spp)
    add(259, 3, [comp])
    add(262, 3, [photo])
    add(277, 3, [spp])
    add(322, 4, [tw])
    add(323, 4, [th])
    add(324, 4, [0] * len(tiles))
    add(325, 4, [len(t) for t in tiles])
    if also_strips:
        add(273, 4, [0])
        add(279, 4, [1])
    if cmap is not None:
        add(320, 3, cmap)
    if predictor is not None:
        add(317, 3, [predictor])
    n = len(entries)
    dir_end = 8 + 2 + 12 * n + 4
    blobs = bytearray()
    for ent in entries:
        if ent[4]:
            ent[5] = dir_end + len(blobs)
            blobs += ent[3]
    pos = dir_end + len(blobs)
    offs = []
    for t in tiles:
        offs.append(pos)
        pos += len(t)
    for ent in entries:
        if ent[0] == 324:
            ent[3] = b"".join(u32(v) for v in offs)
            if ent[4]:
                j = ent[5] - dir_end
                blobs[j : j + len(ent[3])] = ent[3]
    out = (b"II" if end == "II" else b"MM") + u16(42) + u32(8) + u16(n)
    for tag, typ, cnt, raw, is_off, voff in entries:
        out += u16(tag) + u16(typ) + u32(cnt)
        out += u32(voff) if is_off else raw.ljust(4, b"\x00")[:4]
    out += u32(0) + bytes(blobs) + b"".join(tiles)
    return bytes(out)


def _tile_blocks(pix, tw, th, spp=1):
    """Split a (h, w[*spp]) sample array into padded tile blocks in
    the spec's row-major tile order."""
    import numpy as np

    h, wspp = pix.shape
    w = wspp // spp
    across = (w + tw - 1) // tw
    down = (h + th - 1) // th
    out = []
    for ty in range(down):
        for tx in range(across):
            blk = np.zeros((th, tw * spp), np.uint8)
            ys, xs = ty * th, tx * tw * spp
            hh = min(th, h - ys)
            ww = min(tw * spp, wspp - xs)
            blk[:hh, :ww] = pix[ys : ys + hh, xs : xs + ww]
            out.append(blk.tobytes())
    return out


def test_tiff_tiled_decode_gray_rgb_and_edges():
    """r14: tiled TIFFs (the large-scan/geo layout) — gray and RGB,
    edge tiles cropped, both byte orders; strips+tiles together is
    malformed and refuses."""
    import numpy as np

    w, h, tw, th = 21, 13, 8, 5  # non-multiples: real edge cropping
    pix = (np.arange(w * h, dtype=np.int64) * 7 % 251).astype(
        np.uint8
    ).reshape(h, w)
    for end in ("II", "MM"):
        t = _tiff_tiled_bytes(
            end, w, h, 1, _tile_blocks(pix, tw, th), tw, th
        )
        got = multimodal.decode_tiff_array(t)
        assert got is not None and got[:2] == (w, h)
        assert np.array_equal(got[2].reshape(h, w), pix)
    # RGB tiles collapse by the shared (r+g+b)//3 rule
    rgb = (np.arange(w * h * 3, dtype=np.int64) * 11 % 256).astype(
        np.uint8
    ).reshape(h, w * 3)
    t = _tiff_tiled_bytes(
        "II", w, h, 2, _tile_blocks(rgb, tw, th, spp=3), tw, th, spp=3
    )
    got = multimodal.decode_tiff_array(t)
    r3 = rgb.reshape(h, w, 3).astype(np.int32)
    assert np.array_equal(
        got[2].reshape(h, w), ((r3[..., 0] + r3[..., 1] + r3[..., 2]) // 3)
    )
    # both layouts present: refuse
    bad = _tiff_tiled_bytes(
        "II", w, h, 1, _tile_blocks(pix, tw, th), tw, th,
        also_strips=True,
    )
    assert multimodal.decode_tiff_array(bad) is None
    # torn tile payload refuses
    blocks = _tile_blocks(pix, tw, th)
    blocks[-1] = blocks[-1][:-3]
    t2 = _tiff_tiled_bytes("II", w, h, 1, blocks, tw, th)
    assert multimodal.decode_tiff_array(t2) is None


def test_tiff_tiled_compressed_bilevel_and_fax():
    """Tiled deflate, LZW+Predictor-2, 1-bit bilevel, and G4 fax
    tiles all route through the shared chunk decoder."""
    import zlib as _z

    import numpy as np

    from tests.test_ccitt import g4_encode

    w, h, tw, th = 20, 11, 8, 4
    pix = (np.arange(w * h, dtype=np.int64) * 13 % 256).astype(
        np.uint8
    ).reshape(h, w)
    blocks = _tile_blocks(pix, tw, th)
    t = _tiff_tiled_bytes(
        "II", w, h, 1, [_z.compress(b) for b in blocks], tw, th, comp=8
    )
    got = multimodal.decode_tiff_array(t)
    assert np.array_equal(got[2].reshape(h, w), pix)
    # LZW + horizontal-differencing predictor per tile row
    def hdiff(b):
        a = np.frombuffer(b, np.uint8).reshape(th, tw).astype(np.int64)
        d = np.diff(a, axis=1, prepend=a[:, :1] * 0) % 256
        d[:, 0] = a[:, 0]
        return _lzw_msb_encode(d.astype(np.uint8).tobytes())

    t = _tiff_tiled_bytes(
        "II", w, h, 1, [hdiff(b) for b in blocks], tw, th, comp=5,
        predictor=2,
    )
    got = multimodal.decode_tiff_array(t)
    assert np.array_equal(got[2].reshape(h, w), pix)
    # 1-bit bilevel tiles (WhiteIsZero): bit 1 = black = gray 0
    bil = (np.arange(w * h) % 3 == 0).astype(np.uint8).reshape(h, w)
    bb = []
    for ty in range((h + th - 1) // th):
        for tx in range((w + tw - 1) // tw):
            blk = np.zeros((th, tw), np.uint8)
            ys, xs = ty * th, tx * tw
            hh, ww = min(th, h - ys), min(tw, w - xs)
            blk[:hh, :ww] = bil[ys : ys + hh, xs : xs + ww]
            bb.append(np.packbits(blk, axis=1).tobytes())
    t = _tiff_tiled_bytes("II", w, h, 0, bb, tw, th, bps=1)
    got = multimodal.decode_tiff_array(t)
    assert np.array_equal(
        got[2].reshape(h, w), np.where(bil == 1, 0, 255)
    )
    # G4 fax tiles: 0=black rasters per tile, edge-cropped
    ink = np.where(bil == 1, 0, 255).astype(np.uint8)
    fb = []
    for ty in range((h + th - 1) // th):
        for tx in range((w + tw - 1) // tw):
            blk = np.full((th, tw), 255, np.uint8)
            ys, xs = ty * th, tx * tw
            hh, ww = min(th, h - ys), min(tw, w - xs)
            blk[:hh, :ww] = ink[ys : ys + hh, xs : xs + ww]
            fb.append(g4_encode(blk))
    t = _tiff_tiled_bytes("II", w, h, 0, fb, tw, th, comp=4, bps=1)
    got = multimodal.decode_tiff_array(t)
    assert np.array_equal(got[2].reshape(h, w), ink)


def test_h264_annexb_nal_index():
    """r14: Annex-B elementary streams (raw .h264) — 3- and 4-byte
    start codes, trailing-zero trimming before the next code, SPS
    geometry from the first SPS, bitstream IDR flags."""
    from data_ingestion_py_spark.sources import multimodal as mm

    sps = _sps_bytes(20, 15)
    pps = b"\x68\xce\x38\x80"
    idr = b"\x65" + bytes(range(7))
    non = b"\x41" + bytes(range(4))
    es = (
        b"\x00\x00\x00\x01" + sps
        + b"\x00\x00\x00\x01" + pps
        + b"\x00\x00\x01" + idr
        + b"\x00\x00\x00\x01" + non
    )
    idx = mm.h264_annexb_nals(es)
    assert idx is not None
    assert (idx["width"], idx["height"]) == (320, 240)
    types = [(t, k) for (_i, _o, _s, t, k) in idx["nals"]]
    assert types == [(7, False), (8, False), (5, True), (1, False)]
    # offsets/sizes span exactly the NAL payloads
    _i, o, s, _t, _k = idx["nals"][2]
    assert es[o : o + s] == idr
    # no SPS -> refuse; no start code -> refuse
    assert mm.h264_annexb_nals(
        b"\x00\x00\x01" + idr
    ) is None
    assert mm.h264_annexb_nals(b"\xff" * 20) is None


def _ts_packet(pid, payload, pusi=False, cc=0, scrambled=0):
    b1 = ((pid >> 8) & 0x1F) | (0x40 if pusi else 0)
    if len(payload) < 184:  # spec-correct: stuff the adaptation field
        stuff = 184 - len(payload) - 1
        af = bytes([stuff])
        if stuff:
            af += b"\x00" + b"\xff" * (stuff - 1)
        afc = 3
    else:
        af = b""
        afc = 1
    b3 = (afc << 4) | (cc & 0x0F) | (scrambled << 6)
    pkt = bytes([0x47, b1, pid & 0xFF, b3]) + af + payload
    assert len(pkt) == 188
    return pkt


def _psi(table_id, body, extra_hdr=b"\x00\x01\xc1\x00\x00"):
    sec_len = len(extra_hdr) + len(body) + 4
    sec = bytes([table_id, 0xB0 | (sec_len >> 8), sec_len & 0xFF])
    sec += extra_hdr + body + b"\x00\x00\x00\x00"  # CRC not checked
    return b"\x00" + sec  # pointer_field 0


def _ts_stream(es, video_pid=0x41, pmt_pid=0x20, stream_type=0x1B):
    """Independent single-program TS writer: PAT, PMT, then the ES in
    a PES packet split across packets."""
    pat = _psi(0x00, bytes([0x00, 0x01, 0xE0 | (pmt_pid >> 8),
                            pmt_pid & 0xFF]))
    pmt_body = bytes([0xE0 | (video_pid >> 8), video_pid & 0xFF,
                      0xF0, 0x00])
    pmt_body += bytes([stream_type, 0xE0 | (video_pid >> 8),
                       video_pid & 0xFF, 0xF0, 0x00])
    pmt = _psi(0x02, pmt_body)
    pes = b"\x00\x00\x01\xe0\x00\x00\x80\x00\x00" + es  # 0-len hdr
    out = _ts_packet(0, pat, pusi=True) + _ts_packet(
        pmt_pid, pmt, pusi=True
    )
    first = True
    for off in range(0, len(pes), 184):
        out += _ts_packet(video_pid, pes[off : off + 184],
                          pusi=first, cc=off // 184)
        first = False
    return out


def test_mpegts_h264_index():
    """r14: TS container walk — PAT -> PMT -> PES reassembly across
    packets -> Annex-B NAL index; scrambled PIDs and torn sync refuse
    honestly."""
    from data_ingestion_py_spark.sources import mpegts

    sps = _sps_bytes(40, 23)
    idr = b"\x65" + bytes(range(100))   # spans two TS packets
    non = b"\x41" + bytes(range(80))
    es = (
        b"\x00\x00\x00\x01" + sps
        + b"\x00\x00\x00\x01\x68\xce\x38\x80"
        + b"\x00\x00\x01" + idr
        + b"\x00\x00\x01" + non
    )
    ts = _ts_stream(es)
    pm = mpegts.ts_program_map(ts)
    assert pm == {0x41: 0x1B}
    got = mpegts.ts_elementary_stream(ts, 0x41)
    assert got == es
    idx = mpegts.ts_h264_index(ts)
    assert idx is not None
    assert (idx["width"], idx["height"]) == (640, 368)
    assert [t for (_i, _o, _s, t, _k) in idx["nals"]] == [7, 8, 5, 1]
    assert [k for (_i, _o, _s, _t, k) in idx["nals"]] == [
        False, False, True, False]
    assert idx["pid"] == 0x41 and idx["es_bytes"] == len(es)
    # non-H.264 stream type: no index
    assert mpegts.ts_h264_index(
        _ts_stream(es, stream_type=0x0F)
    ) is None
    assert mpegts.ts_h264_index(b"junk" + ts) is None  # lost sync
    # torn mid-stream sync: prefix stands, tail ignored
    cut = ts[: 188 * 3] + b"\x00" + ts[188 * 3 :]
    assert mpegts.ts_elementary_stream(cut, 0x41) is not None


def test_mpegts_continuity_and_scrambling_refusals():
    """r15 (advice): a scrambled packet anywhere on the PID refuses
    the whole ES; a continuity-counter gap (lost packet would shift
    every downstream NAL offset) refuses; the spec's allowed exact
    duplicate packet is dropped, not appended twice."""
    from data_ingestion_py_spark.sources import mpegts

    sps = _sps_bytes(40, 23)
    es = (
        b"\x00\x00\x00\x01" + sps
        + b"\x00\x00\x00\x01\x68\xce\x38\x80"
        + b"\x00\x00\x01\x65" + bytes(range(256)) * 2
    )
    ts = _ts_stream(es)
    assert mpegts.ts_elementary_stream(ts, 0x41) == es
    head, pkts = ts[: 188 * 2], ts[188 * 2 :]
    vid = [pkts[i : i + 188] for i in range(0, len(pkts), 188)]
    assert len(vid) >= 2
    # mid-stream scrambled continuation -> whole PID refused
    scr = bytearray(vid[1])
    scr[3] |= 0x80  # transport_scrambling_control
    assert mpegts.ts_elementary_stream(
        head + vid[0] + bytes(scr) + b"".join(vid[2:]), 0x41
    ) is None
    # continuity gap (drop packet 1 of >=2) -> refused
    assert mpegts.ts_elementary_stream(
        head + vid[0] + b"".join(vid[2:]), 0x41
    ) is None
    # exact duplicate packet (same cc) -> dropped, ES unchanged
    assert mpegts.ts_elementary_stream(
        head + vid[0] + vid[0] + b"".join(vid[1:]), 0x41
    ) == es


def _tiff_planar2_bytes(end, w, h, plane_strips, rps, comp=1,
                        predictor=None):
    """Independent PlanarConfiguration=2 RGB TIFF writer: strip tables
    are plane-major (all of plane 0's strips, then plane 1's, ...)."""
    import struct

    e = "<" if end == "II" else ">"
    u16 = lambda v: struct.pack(e + "H", v)  # noqa: E731
    u32 = lambda v: struct.pack(e + "I", v)  # noqa: E731
    strips = [s for plane in plane_strips for s in plane]
    entries = []

    def add(tag, typ, vals):
        raw = b"".join((u16(v) if typ == 3 else u32(v)) for v in vals)
        entries.append([tag, typ, len(vals), raw, len(raw) > 4, None])

    add(256, 4, [w])
    add(257, 4, [h])
    add(258, 3, [8, 8, 8])
    add(259, 3, [comp])
    add(262, 3, [2])
    add(277, 3, [3])
    add(284, 3, [2])
    add(278, 4, [rps])
    add(273, 4, [0] * len(strips))
    add(279, 4, [len(s) for s in strips])
    if predictor is not None:
        add(317, 3, [predictor])
    n = len(entries)
    dir_end = 8 + 2 + 12 * n + 4
    blobs = bytearray()
    for ent in entries:
        if ent[4]:
            ent[5] = dir_end + len(blobs)
            blobs += ent[3]
    pos = dir_end + len(blobs)
    offs = []
    for s in strips:
        offs.append(pos)
        pos += len(s)
    for ent in entries:
        if ent[0] == 273:
            ent[3] = b"".join(u32(v) for v in offs)
            if ent[4]:
                j = ent[5] - dir_end
                blobs[j : j + len(ent[3])] = ent[3]
    out = (b"II" if end == "II" else b"MM") + u16(42) + u32(8) + u16(n)
    for tag, typ, cnt, raw, is_off, voff in entries:
        out += u16(tag) + u16(typ) + u32(cnt)
        out += u32(voff) if is_off else raw.ljust(4, b"\x00")[:4]
    out += u32(0) + bytes(blobs) + b"".join(strips)
    return bytes(out)


def test_tiff_planar2_rgb_decodes():
    """r14: PlanarConfiguration=2 (separate RGB planes, plane-major
    strips) decodes to the same gray as the chunky layout; deflate and
    per-plane Predictor-2 compose; tiled+planar2 refuses."""
    import zlib as _z

    import numpy as np

    w, h, rps = 14, 9, 4
    rgb = (np.arange(w * h * 3, dtype=np.int64) * 17 % 256).astype(
        np.uint8
    ).reshape(h, w, 3)

    def plane_strips(pl, transform=lambda b: b):
        plane = np.ascontiguousarray(rgb[:, :, pl])
        return [
            transform(plane[y : y + rps].tobytes())
            for y in range(0, h, rps)
        ]

    expect = (
        (rgb[..., 0].astype(np.int32) + rgb[..., 1] + rgb[..., 2]) // 3
    ).astype(np.uint8)
    t = _tiff_planar2_bytes(
        "II", w, h, [plane_strips(p) for p in range(3)], rps
    )
    got = multimodal.decode_tiff_array(t)
    assert got is not None and got[:2] == (w, h)
    assert np.array_equal(got[2].reshape(h, w), expect)
    # deflate per strip
    t = _tiff_planar2_bytes(
        "MM", w, h,
        [plane_strips(p, _z.compress) for p in range(3)], rps, comp=8,
    )
    got = multimodal.decode_tiff_array(t)
    assert np.array_equal(got[2].reshape(h, w), expect)
    # predictor 2: single-lane horizontal differencing per plane row
    def hdiff(b):
        rows_n = len(b) // w
        a = np.frombuffer(b, np.uint8).reshape(rows_n, w).astype(np.int64)
        d = a.copy()
        d[:, 1:] = (a[:, 1:] - a[:, :-1]) % 256
        return _z.compress(d.astype(np.uint8).tobytes())

    t = _tiff_planar2_bytes(
        "II", w, h, [plane_strips(p, hdiff) for p in range(3)], rps,
        comp=8, predictor=2,
    )
    got = multimodal.decode_tiff_array(t)
    assert np.array_equal(got[2].reshape(h, w), expect)
    # short strip table (2 planes' worth) refuses
    t = _tiff_planar2_bytes(
        "II", w, h, [plane_strips(p) for p in range(2)] + [[]], rps
    )
    assert multimodal.decode_tiff_array(t) is None


# ------------------------------------------ container framing edge cases


def _walker_edge_cases():
    """(id, reader, payload, expected) rows: malformed or unusual
    framing for each container walker, judged by the public reader.
    Rows whose id ends in ``-changed`` pin a rule the walkers share
    where the hand-written walks they replaced disagreed (listed in
    CHANGES.md)."""
    import struct

    import numpy as np

    from tests.test_flac import _streaminfo
    from tests.test_jpeg import _jpeg_bytes
    from tests.test_vp8l import encode_vp8l

    def le32(v):
        return struct.pack("<I", v)

    rows = []

    def add(case_id, reader, payload, expected):
        rows.append((case_id, reader, payload, expected))

    # JPEG marker segments
    raster = np.arange(256, dtype=np.uint8).reshape(16, 16)
    jpg = _jpeg_bytes([raster], [(1, 1)], 16, 16)[0]
    soi, rest = jpg[:2], jpg[2:]  # rest opens with DQT, then SOF0
    clean = multimodal.decode_jpeg_array(jpg)
    add("jpeg-fill-bytes-dims", "image_dimensions",
        soi + b"\xff\xff" + rest, (16, 16))
    add("jpeg-fill-bytes-pixels", "decode_jpeg_array",
        soi + b"\xff\xff" + rest, clean)
    add("jpeg-standalone-markers-dims", "image_dimensions",
        soi + b"\xff\x01\xff\xd0" + rest, (16, 16))
    add("jpeg-length-below-2-dims", "image_dimensions",
        soi + b"\xff\xe0\x00\x00" + rest, None)
    add("jpeg-length-below-2-pixels", "decode_jpeg_array",
        soi + b"\xff\xe0\x00\x01" + rest, None)
    add("jpeg-standalone-markers-pixels-changed", "decode_jpeg_array",
        soi + b"\xff\x01\xff\xd0" + rest, clean)
    add("jpeg-sof-length-below-2-changed", "image_dimensions",
        soi + b"\xff\xc0\x00\x01\x08\x00\x10\x00\x10\x01", None)
    sof_at = 2 + 4 + 65  # SOI, then DQT: marker, length, 65-byte table
    add("jpeg-sof-past-end-changed", "image_dimensions",
        jpg[: sof_at + 9], None)
    tiff = _exif_tiff("II", 6, "CAM42", "Mk7", 4032, 3024)
    meta = {"make": "CAM42", "model": "Mk7", "orientation": 6,
            "datetime": None, "iso": None, "exif_width": 4032,
            "exif_height": 3024}

    def exif_jpeg(prefix, body=tiff):
        app1 = b"Exif\x00\x00" + body
        return (soi + prefix + b"\xff\xe1" + struct.pack(">H", 2 + len(app1))
                + app1 + b"\xff\xd9")

    add("jpeg-fill-bytes-exif", "exif_metadata", exif_jpeg(b"\xff"), meta)
    add("jpeg-length-below-2-exif", "exif_metadata",
        exif_jpeg(b"\xff\xe0\x00\x00"), None)
    add("jpeg-soi-standalone-exif-changed", "exif_metadata",
        exif_jpeg(b"\xff\xd8"), meta)
    mm_tiff = _exif_tiff("MM", 3, "CAM07", "Mk1", 640, 480)
    add("tiff-byte-order-mark-exif-changed", "exif_metadata",
        exif_jpeg(b"", b"XM" + mm_tiff[2:]), None)

    # RIFF chunks
    samples = [(k * 37) % 2000 - 1000 for k in range(1600)]
    wav = _wav(samples)  # 8000 Hz mono 16-bit: 3200 data bytes

    def riff(form, extra, body):
        return b"RIFF" + le32(4 + len(extra) + len(body)) + form + extra + body

    odd = b"junk" + le32(3) + b"abc\x00"
    info = b"LIST" + le32(14) + b"INFO" + b"ISFT" + le32(2) + b"x\x00"
    for tag, extra in (("odd-pad", odd), ("list", info)):
        payload = riff(b"WAVE", extra, wav[12:])
        add(f"riff-{tag}-duration", "media_duration_ms", payload, 200)
        add(f"riff-{tag}-samples", "decode_wav_samples", payload,
            (8000, np.array(samples, dtype="<i2")))
    avi = _avi(usec=40000, n_frames=250)
    add("riff-odd-pad-avi", "avi_headers", riff(b"AVI ", odd, avi[12:]),
        {"usec_per_frame": 40000, "total_frames": 250, "width": 4,
         "height": 4, "bit_count": 24, "compression": 0})
    argb = [0xFF000000 | (v * 0x010101) for v in range(64)]
    webp = encode_vp8l(8, 8, argb)
    add("riff-odd-pad-webp", "decode_webp_array",
        riff(b"WEBP", b"ICCP" + le32(3) + b"abc\x00", webp[12:]),
        (8, 8, np.arange(64, dtype=np.uint8)))
    add("riff-chunk-past-end-webp", "decode_webp_array",
        riff(b"WEBP", b"ICCP" + le32(1 << 20), webp[12:]), None)

    # ISO-BMFF boxes
    mp4 = _mp4(600, 1500)  # ftyp (16 bytes), moov > mvhd
    add("bmff-box-size-below-8", "media_duration_ms",
        mp4[:16] + b"\x00\x00\x00\x04free" + mp4[16:], None)
    add("bmff-mvhd-size-below-8-changed", "media_duration_ms",
        mp4[:24] + bytes(4) + mp4[28:], None)

    # PNG chunks
    png = _png_bytes(4, 3, 0, list(range(12)))
    cut = png[: len(png) - 12 - 2]  # IEND gone, IDAT's CRC cut short
    idat_len = len(png) - 8 - 25 - 12 - 12
    add("png-truncated-chunk-inventory", "png_chunks", cut,
        [(0, "IHDR", 13), (1, "IDAT", idat_len)])
    add("png-truncated-chunk-pixels", "decode_png_array", cut, None)

    # FLAC metadata blocks
    padding_last = b"fLaC" + b"\x81" + (4).to_bytes(3, "big") + bytes(4)
    add("flac-last-block-no-streaminfo-duration", "media_duration_ms",
        padding_last + bytes(16), None)
    add("flac-last-block-no-streaminfo-samples", "decode_flac_samples",
        padding_last + bytes(16), None)
    info34 = _streaminfo(8000, 16000)
    add("flac-streaminfo-cut-short-changed", "media_duration_ms",
        info34[: 8 + 20], None)
    add("flac-streaminfo-declared-18-changed", "media_duration_ms",
        info34[:5] + (18).to_bytes(3, "big") + info34[8:], None)

    # TIFF IFD entries
    def be_entry(tag, typ, value_field):
        return struct.pack(">HHI", tag, typ, 1) + value_field

    mm_short = (b"MM" + struct.pack(">HIH", 42, 8, 2)
                + be_entry(256, 3, struct.pack(">HH", 300, 0))
                + be_entry(257, 3, struct.pack(">HH", 200, 0))
                + bytes(4))
    add("tiff-mm-short-dims", "tiff_dimensions", mm_short, (300, 200))
    add("tiff-mm-short-image-dims", "image_dimensions", mm_short, (300, 200))
    add("tiff-mm-short-exif", "exif_metadata", mm_tiff,
        {"make": "CAM07", "model": "Mk1", "orientation": 3,
         "datetime": None, "iso": None, "exif_width": 640,
         "exif_height": 480})
    add("tiff-mm-short-pixels", "decode_tiff_array",
        _tiff_bytes("MM", 4, 3, 1, [bytes(range(12))]),
        (4, 3, np.arange(12, dtype=np.uint8)))

    # ID3v2 syncsafe sizes
    frames = _id3_frame("TIT2", "Hello", ver=4)
    ext = b"\x00\x00\x00\x86\x01\x00"  # size 6 with a high bit set
    body = ext + frames
    add("id3-ext-size-high-bit-changed", "id3v2_tags",
        b"ID3\x04\x00\x40" + _syncsafe(len(body)) + body, None)
    return rows


def _comparable(v):
    import numpy as np

    if isinstance(v, np.ndarray):
        return (v.dtype.str, v.shape, v.tobytes())
    if isinstance(v, tuple):
        return tuple(_comparable(x) for x in v)
    return v


WALKER_EDGE_CASES = _walker_edge_cases()


@pytest.mark.parametrize(
    "reader, payload, expected",
    [c[1:] for c in WALKER_EDGE_CASES],
    ids=[c[0] for c in WALKER_EDGE_CASES],
)
def test_container_walker_edge_cases(reader, payload, expected):
    got = getattr(multimodal, reader)(payload)
    assert _comparable(got) == _comparable(expected)
