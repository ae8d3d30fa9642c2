"""Decoder fuzz guard: hostile bytes never raise out of a row function.

Every public decoder in ``sources/`` refuses bytes it cannot decode by
returning None (``bits.none_on_refusal`` catches ``Refused`` once per
entry point), and the row function that called it picks its reaction:
a NULL row, no row, or a stub fallback. Anything that raises instead
fails its whole Arrow batch with a ``PythonException``.

This file fuzzes the per-row callables themselves: each row function
is run once against a stand-in ``kernel_rows`` that keeps the callable
it is handed (no Spark needed), and that callable then gets seeded
mutants of a valid seed payload: truncations, 1-4 bit flips and
self-splices. Each call must return. The seeds come from the same
independent writers the unit tests use. Decoders reached only inside a
container (JPEG 2000 and JBIG2 behind PDF filters) are fuzzed directly
as well, since a mutant PDF seldom reaches them.
"""

from __future__ import annotations

import gzip
import io
import random
import struct
import sys
import tarfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_ingestion_py_spark.sources import (
    archive,
    docx,
    h264_decode,
    mpegts,
    multimodal as mm,
    pdf,
    shards,
    spread,
    web,
)
from data_ingestion_py_spark.sources.jbig2 import jbig2_generic_decode
from data_ingestion_py_spark.sources.jpeg2000 import decode_jp2k
from tests.test_ccitt import _jbig2_embedded, g4_encode
from tests.test_docx import _docx
from tests.test_flac import _frame, _streaminfo, _wave
from tests.test_h264_decode import annexb, make_idr, make_pps, make_sps
from tests.test_jpeg import _bmp_bytes, _jpeg_bytes
from tests.test_jpeg2000 import encode_jp2k
from tests.test_ocr_pure import jpeg_digits, scanned_pdf
from tests.test_orc import _orc_bytes
from tests.test_pdf_pure import _basic_pdf, _obj, _stream_obj
from tests.test_sources import (
    _avc_mp4,
    _avi,
    _avro_file,
    _codec_wav,
    _exif_tiff,
    _gif_bytes,
    _id3,
    _id3_frame,
    _mp4,
    _mp4_with_stbl,
    _png_bytes,
    _sps_bytes,
    _tfrecord_shard,
    _tiff_bytes,
    _ts_stream,
    _wav,
    _warc,
    _warcgz,
)
from tests.test_vp8l import encode_vp8l


def row_callable(row_function, *args):
    """The callable ``row_function`` hands to ``kernel_rows``: the code
    its Arrow stage runs once per payload, called as
    ``fn(*keys, payload)``."""
    kept = []

    def keep(df, cols, fn, schema, **_):
        kept.append(fn)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(spread, "kernel_rows", keep)
        mp.setattr(sys.modules[row_function.__module__], "kernel_rows", keep,
                   raising=False)
        row_function(None, *args)
    (fn,) = kept
    return fn


def _img(h: int, w: int, seed: int) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, 256, (h, w))


def _h264() -> bytes:
    rng = random.Random(5)
    i16 = {
        "type": "i16", "pred": 2, "chroma_mode": 0,
        "dc": [rng.choice([0, 1, -2, 5]) for _ in range(16)],
        "ac": [[rng.choice([0, 0, 1, -1]) for _ in range(15)]
               for _ in range(16)],
        "cdc": ([1, 0, -1, 0], [0, 2, 0, 0]), "cac": None,
    }
    i4 = {
        "type": "i4", "modes": [2] * 16, "chroma_mode": 0,
        "cbp_luma": 15,
        "blocks": {b: [rng.choice([0, 0, 1, -1, 2]) for _ in range(16)]
                   for b in range(16)},
        "cdc": None,
    }
    return annexb(make_sps(2, 1), make_pps(), make_idr(2, 1, [i16, i4]))


def _mjpeg_mp4(samples: list[bytes]) -> bytes:
    """An MP4 whose one chunk holds ``samples`` (complete JPEG files)."""
    sizes = [len(s) for s in samples]
    runs = [(len(samples), 200)]
    head = _mp4_with_stbl(sizes, runs, [0])
    head = _mp4_with_stbl(sizes, runs, [len(head) + 8])
    body = b"".join(samples)
    return head + struct.pack(">I", len(body) + 8) + b"mdat" + body


def _annotated_pdf() -> bytes:
    out = b"%PDF-1.7\n"
    out += _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    out += _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    out += _obj(3, b"<< /Type /Page /Contents 5 0 R /Annots [7 0 R] >>")
    out += _stream_obj(5, b"BT (body) Tj ET", compress=True)
    out += _obj(7, b"<< /Type /Annot /Subtype /Text /Contents (a note) >>")
    return out + b"trailer\n<< /Size 8 /Root 1 0 R >>\nstartxref\n0\n%%EOF"


def _seeds() -> dict:
    """name -> (callable, keys, valid seed payload); the callable is
    called as ``fn(*keys, payload)``."""
    bits = _img(12, 37, 1) > 96
    gray = _img(8, 8, 2)
    jpeg = _jpeg_bytes([_img(16, 16, 3)], [(1, 1)], 16, 16, restart=2)[0]
    lines = b"".join(b'{"id": %d, "text": "doc %d"}\n' % (i, i)
                     for i in range(40))
    tar = io.BytesIO()
    with tarfile.open(fileobj=tar, mode="w") as tf:
        for name, data in (("a.txt", b"alpha" * 40), ("b.bin", bytes(300))):
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    tar = tar.getvalue()
    parquet = io.BytesIO()
    pq.write_table(pa.table({"x": list(range(50))}), parquet,
                   row_group_size=20)
    argb = [0xFF000000 | (v * 0x010101) for v in gray.reshape(-1).tolist()]
    sine = _wave(40, 7)
    ima = ((64).to_bytes(2, "little") + bytes([5, 0]) + bytes(range(8))) * 3
    flac = _streaminfo(8000, 32) + _frame(_wave(16, 3), 0, "fixed") + \
        _frame(_wave(16, 4), 1, "verbatim")
    tensors = (b'{"w": {"dtype": "F32", "shape": [2, 2], '
               b'"data_offsets": [0, 16]}}')
    warc = [({"WARC-Type": "response",
              "WARC-Target-URI": "http://a.example/"}, b"hello world"),
            ({"WARC-Type": "request"}, b"GET / HTTP/1.1\r\n\r\n")]
    zstd = bytes(pa.Codec("zstd").compress(lines * 4))
    lz4 = bytes(pa.Codec("lz4").compress(lines))
    text_pdf = _basic_pdf([b"BT /F1 12 Tf (hello world) Tj ET",
                           b"BT (second page) Tj ET"], compress=True)
    scan = scanned_pdf("00042")
    images = {
        "png": _png_bytes(8, 6, 0, gray[:6].reshape(-1).tolist(),
                          filters=(0, 1, 2, 3, 4)),
        "gif": _gif_bytes(8, 8, (gray.reshape(-1) % 4).tolist()),
        "jpeg": jpeg,
        "tiff_g4": _tiff_bytes("II", 37, 12, 0,
                               [g4_encode(bits[:6]), g4_encode(bits[6:])],
                               comp=4, rps=6, bps=1),
        "bmp": _bmp_bytes(gray.astype(np.uint8)),
        "webp": encode_vp8l(8, 8, argb, cache_bits=3, lz77=True,
                            subtract_green=True),
        "pgm": b"P5\n8 8\n255\n" + gray.astype(np.uint8).tobytes(),
    }
    audio = {
        "pcm": _wav(sine),
        "ulaw": _codec_wav(bytes(range(0, 256, 3)), audio_format=7, bits=8,
                           block_align=1),
        "ima": _codec_wav(ima, audio_format=0x11, bits=4, block_align=12),
    }
    seeds = {}

    def add(name, row_function, args, keys, payload):
        seeds[name] = (row_callable(row_function, *args), keys, payload)

    for fmt, data in images.items():
        add(f"resize_images-{fmt}", mm.resize_images, (5, 3), (1,), data)
    add("perceptual_hashes-png", mm.perceptual_hashes, (), (1,),
        images["png"])
    add("pixel_checksums-jpeg", mm.pixel_checksums, (), (1,), jpeg)
    add("extract_features-gif", mm.extract_features, (), (1, "image"),
        images["gif"])
    add("probe_metadata-jpeg", mm.probe_metadata, (), (1, "image"), jpeg)
    add("chunk_inventory-png", mm.chunk_inventory, (), (1,), images["png"])
    exif = _exif_tiff("II", 6, "CAM42", "Mk7", 4032, 3024)
    add("exif_probe-tiff", mm.exif_probe, (), (1,), exif)
    app1 = b"Exif\x00\x00" + exif
    add("exif_probe-jpeg", mm.exif_probe, (), (1,),
        b"\xff\xd8\xff\xe1" + struct.pack(">H", 2 + len(app1)) + app1
        + jpeg[2:])
    for fmt in ("tiff_g4", "webp"):
        add(f"probe_metadata-{fmt}", mm.probe_metadata, (), (1, "image"),
            images[fmt])
    for fmt, data in audio.items():
        add(f"pcm_stats-{fmt}", mm.pcm_stats, (), (1,), data)
        add(f"resample_audio-{fmt}", mm.resample_audio, (4000,), (1,), data)
    add("pcm_stats-flac", mm.pcm_stats, (), (1,), flac)
    add("probe_metadata-wav", mm.probe_metadata, (), (1, "audio"),
        audio["pcm"])
    add("probe_metadata-flac", mm.probe_metadata, (), (1, "audio"), flac)
    add("probe_metadata-mp4", mm.probe_metadata, (), (1, "video"),
        _mp4(600, 1500))
    add("probe_metadata-avi", mm.probe_metadata, (), (1, "video"),
        _avi([list(range(16)), [v * 5 % 251 for v in range(16)]]))
    add("id3_probe", mm.id3_probe, (), (1,),
        _id3([_id3_frame("TIT2", "Hello"), _id3_frame("TPE1", "Band")]))
    add("sample_frames-avi", mm.sample_frames, (), (1, "video"),
        _avi([list(range(16)), [v * 3 % 251 for v in range(16)]]))
    add("mp4_sample_plan", mm.mp4_sample_plan, (), (1,),
        _mp4_with_stbl([100, 80, 120, 90, 70, 60], [(3, 512), (3, 256)],
                       [1000, 1300]))
    add("mp4_mjpeg_frame_images", mm.mp4_mjpeg_frame_images, (), (1,),
        _mjpeg_mp4([jpeg_digits("01"), jpeg_digits("98")]))
    sps = _sps_bytes(20, 15)
    add("h264_frame_plan", mm.h264_frame_plan, (), (1,),
        _avc_mp4([[sps, b"\x68\xce\x38\x80", b"\x65" + bytes(range(9))],
                  [b"\x41" + bytes(range(5))]], sps))
    add("h264_annexb_plan", mm.h264_annexb_plan, (), (1,), _h264())
    add("h264_idr_mb_rows", h264_decode.h264_idr_mb_rows, (), (1,), _h264())
    add("h264_idr_phashes", h264_decode.h264_idr_phashes, (), (1,), _h264())
    add("ts_h264_plan", mpegts.ts_h264_plan, (), (1,),
        _ts_stream(_h264()))
    add("tar_manifest", archive.tar_manifest, (), (1,), tar)
    add("zip_manifest", archive.zip_manifest, (), (1,),
        _docx(b"<w:p><w:r><w:t>x</w:t></w:r></w:p>"))
    add("tfrecord_manifest", archive.tfrecord_manifest, (), (1,),
        _tfrecord_shard(b"first", b"second record"))
    add("avro_block_manifest", archive.avro_block_manifest, (), (1,),
        _avro_file([(3, b"A" * 10), (20, b"B" * 30)], codec=b"deflate"))
    add("parquet_rg_manifest", archive.parquet_rg_manifest, (), (1,),
        parquet.getvalue())
    add("safetensors_manifest", archive.safetensors_manifest, (), (1,),
        len(tensors).to_bytes(8, "little") + tensors + bytes(16))
    add("orc_stripe_manifest", archive.orc_stripe_manifest, (), (1,),
        _orc_bytes("zlib"))
    add("docx_paragraph_rows", docx.docx_paragraph_rows, (), (1,),
        _docx(b"<w:p><w:r><w:t>hello</w:t></w:r></w:p>"))
    add("jsonl_shard_manifest-gzip", shards.jsonl_shard_manifest, (), (1,),
        gzip.compress(lines))
    add("jsonl_shard_manifest-zlib", shards.jsonl_shard_manifest, (), (1,),
        zlib.compress(lines))
    add("jsonl_shard_manifest-lz4", shards.jsonl_shard_manifest, (), (1,),
        lz4)
    add("jsonl_shard_manifest-zstd", shards.jsonl_shard_manifest, (), (1,),
        zstd)
    add("compressed_tar_manifest", shards.compressed_tar_manifest, (),
        (1,), gzip.compress(tar))
    add("zstd_frame_manifest", shards.zstd_frame_manifest, (), (1,), zstd)
    add("lz4_block_manifest", shards.lz4_block_manifest, (), (1,), lz4)
    add("warc_manifest", web.warc_manifest, (), (1,), _warc(*warc))
    add("warc_gz_manifest", web.warc_gz_manifest, (), (1,), _warcgz(*warc))
    add("extract_pages-text", pdf.extract_pages, (), ("mem://a.pdf",),
        text_pdf)
    add("extract_pages-scan", pdf.extract_pages, (), ("mem://a.pdf",), scan)
    add("extract_image_xobjects", pdf.extract_image_xobjects, (),
        ("mem://a.pdf",), scan)
    add("extract_scanned_text", pdf.extract_scanned_text, (),
        ("mem://a.pdf",), scan)
    add("extract_annotation_text", pdf.extract_annotation_text, (),
        ("mem://a.pdf",), _annotated_pdf())
    seeds["decode_jp2k"] = (decode_jp2k, (),
                            encode_jp2k(_img(16, 16, 4), levels=1))
    seeds["jbig2_generic_decode"] = (jbig2_generic_decode, (),
                                     _jbig2_embedded(bits))
    return seeds


SEEDS = _seeds()
#: mutants per seed: the whole file runs in about 25 s on one core
N_MUTANTS = 2000


def _mutants(data: bytes, n: int, rng: random.Random):
    """``n`` mutants of ``data``: truncations, 1-4 bit flips and
    splices (a slice of the payload copied over another offset)."""
    size = len(data)
    for k in range(n):
        kind = k % 3
        if kind == 0:
            yield "truncate", data[: rng.randrange(size)]
            continue
        b = bytearray(data)
        if kind == 1:
            for _ in range(rng.randint(1, 4)):
                b[rng.randrange(size)] ^= 1 << rng.randrange(8)
            yield "flip", bytes(b)
        else:
            a = rng.randrange(size)
            piece = data[a : a + rng.randint(1, 32)]
            at = rng.randrange(size)
            b[at : at + len(piece)] = piece
            yield "splice", bytes(b)


@pytest.mark.parametrize("name", sorted(SEEDS))
def test_seed_decodes(name):
    """Each seed is valid: its result differs from the refusal an empty
    payload gets, so the mutants start from a decoding path."""
    fn, keys, data = SEEDS[name]
    got = fn(*keys, data)
    assert got is not None and repr(got) != repr(fn(*keys, b""))


@pytest.mark.parametrize("name", sorted(SEEDS))
def test_mutants_never_raise(name):
    fn, keys, data = SEEDS[name]
    rng = random.Random(f"fuzz-{name}")
    raised = []
    for i, (kind, mutant) in enumerate(_mutants(data, N_MUTANTS, rng)):
        try:
            fn(*keys, mutant)
        except Exception as exc:  # noqa: BLE001 — the property under test
            raised.append(f"#{i} {kind}: {type(exc).__name__}: {exc}")
    assert not raised, f"{name}: {len(raised)} raised\n" + "\n".join(
        raised[:5]
    )
