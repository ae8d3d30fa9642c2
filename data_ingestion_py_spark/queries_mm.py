"""Multimodal-column queries: binary payload + typed metadata through
Arrow-batched ``mapInPandas`` stages (sources/multimodal.py).

The media corpus is synthesized deterministically from ``documents``
so the *oracle side* can recompute every output arithmetically —
either from the text (pure ASCII, so char offsets == byte offsets) or
from planted byte-construction formulas. The Spark side does the real
thing: BinaryType columns through Arrow into pandas batches and back,
decoded by REAL pure-byte kernels (netpbm/PCM/AVI-frame pixel decode,
PNG/JPEG/TIFF/WAV/MP4/AVI header walks, tar/zip/TFRecord/WARC shard
manifests — see sources/multimodal.py, sources/archive.py,
sources/web.py). Only compressed video/audio codecs stay stubbed
(ffmpeg the one honest seam); for those, schema, batch shape,
fan-out, and hashing are still the production plumbing.

Reference tie-in: the PDF page images of data_ingestion.py:148-155 are
exactly (id, page, image_bytes) rows; this module is that shape done
Spark-first instead of one shared temp file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_py_spark.io import load_table
from data_ingestion_py_spark.queries import register
from data_ingestion_py_spark.sources import multimodal as mm

_KINDS = ("image", "audio", "video")
_SQL_KIND = "['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]"


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media rows (media_id, kind, payload, meta)."""
    d = load_table(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-"), kind).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


@register(
    "multimodal_features",
    f"""
SELECT doc_id AS media_id,
       {_SQL_KIND} AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash
FROM documents
""",
    tags=("multimodal",),
    bench=True,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads → per-item features via mapInPandas (Arrow batch
    in, Arrow batch out; narrow — parallelizes with the scan). The
    float feature vector is pytest-covered (float32 vs the oracle's
    float64 would hash-differ); the hash/size columns verify the same
    code path end-to-end."""
    return mm.extract_features(_media(spark, sf_dir)).select(
        "media_id", "kind", "n_bytes", "content_hash"
    )


@register(
    "multimodal_dedup",
    f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 = 0
)
SELECT md5(text) AS content_hash,
       min(doc_id) AS canonical_media_id,
       count(*) AS n_copies
FROM corpus
GROUP BY md5(text)
""",
    tags=("multimodal", "dedup"),
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup on content hash: mapInPandas feature stage →
    one hash-groupBy shuffle (sources/multimodal.dedup_by_content).
    Corpus = media ∪ byte-identical clones of every 10th item."""
    media = _media(spark, sf_dir)
    clones = media.where(F.col("media_id") % 10 == 0).withColumn(
        "media_id", F.col("media_id") + 2000000
    )
    feats = mm.extract_features(media.unionByName(clones))
    return mm.dedup_by_content(feats)


@register(
    "multimodal_image_meta",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
       CAST(doc_id % 640 + 16 AS INT) AS width,
       CAST(doc_id % 480 + 16 AS INT) AS height
FROM documents
""",
    tags=("multimodal", "decode"),
)
def q_multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: construct valid PNG IHDR / JPEG
    SOF0 headers in column algebra (hex → unhex, dimensions derived
    from doc_id), push the binary through the Arrow mapInPandas stage,
    and header-parse width/height back with the pure-Python kernel
    (sources/multimodal.image_dimensions). The oracle is *independent
    ground truth* — it recomputes the planted dimensions arithmetically,
    so a parser that misreads endianness, offsets, or marker layout
    hash-mismatches immediately."""
    d = load_table(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 640 + 16).cast("int")
    h = (F.col("doc_id") % 480 + 16).cast("int")
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),  # sig + IHDR len/type
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("0806000000DEADBEEF"),  # bit depth/color/CRC filler
    )
    jpeg_hex = F.concat(
        F.lit("FFD8FFC0001108"),  # SOI + SOF0 + len 17 + precision 8
        F.lpad(F.hex(h), 4, "0"),  # JPEG stores height first
        F.lpad(F.hex(w), 4, "0"),
        F.lit("03" + "00" * 9 + "FFD9"),  # 3 components + EOI
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(
            F.when(F.col("doc_id") % 2 == 0, png_hex).otherwise(jpeg_hex)
        ).alias("payload"),
        F.struct(
            F.lit("image/mixed").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    fmt = F.when(F.col("media_id") % 2 == 0, "png").otherwise("jpeg")
    return mm.extract_features(media).select(
        "media_id", fmt.alias("fmt"), "width", "height"
    )


@register(
    "multimodal_frame_sample",
    """
WITH vids AS (
    SELECT doc_id AS media_id, text,
           octet_length(encode(text)) AS n
    FROM documents WHERE doc_id % 3 = 2
), f AS (
    SELECT media_id, text,
           unnest(generate_series(
               0, CAST(least(4, greatest(n // 64, 1)) AS INT) - 1)) AS i
    FROM vids
)
SELECT media_id,
       CAST(i AS INT) AS frame_index,
       CAST(octet_length(encode(substr(text, i*64 + 1, 64))) AS BIGINT)
           AS frame_bytes,
       md5(substr(text, i*64 + 1, 64)) AS frame_hash
FROM f
""",
    tags=("multimodal",),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: 1 media row → ≤4 frame rows out of a
    mapInPandas stage (sources/multimodal.sample_frames; stride 64
    bytes on the stub payload). Frames are compared by size + md5 —
    byte-exact equality with the oracle's substring slicing."""
    frames = mm.sample_frames(
        _media(spark, sf_dir), every_n_bytes=64, max_frames=4
    )
    return frames.select(
        "media_id",
        "frame_index",
        F.length("frame_payload").cast("long").alias("frame_bytes"),
        F.md5("frame_payload").alias("frame_hash"),
    )


@register(
    "multimodal_resize_plan",
    """
WITH imgs AS (
    SELECT doc_id AS media_id,
           CAST(320 + (doc_id % 17) * 64 AS INT) AS src_w,
           CAST(200 + (doc_id % 23) * 48 AS INT) AS src_h
    FROM documents WHERE doc_id % 3 = 0
)
SELECT media_id, src_w, src_h,
       CAST(CASE WHEN src_w <= 512 AND src_h <= 512 THEN src_w
                 WHEN src_w * 512 >= src_h * 512 THEN 512
                 ELSE (src_w * 512) // src_h END AS INT) AS dst_w,
       CAST(CASE WHEN src_w <= 512 AND src_h <= 512 THEN src_h
                 WHEN src_w * 512 >= src_h * 512 THEN (src_h * 512) // src_w
                 ELSE 512 END AS INT) AS dst_h
FROM imgs
""",
    tags=("multimodal", "resize"),
)
def q_multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-in-512x512 resize planning through the Arrow mapInPandas
    stage (sources/multimodal.resize_plan): integer-only target-dim
    math, never upscaling. Source dims are synthesized deterministically
    into meta.width/height (the slot the real header parse fills) so
    the oracle can recompute the plan; planning reads no pixels
    (resize_images does the resample)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/png").alias("mime"),
            (320 + (F.col("doc_id") % 17) * 64).cast("int").alias("width"),
            (200 + (F.col("doc_id") % 23) * 48).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return mm.resize_plan(media, 512, 512)


@register(
    "multimodal_phash_dedup",
    """
WITH corpus AS (
    SELECT doc_id AS media_id, doc_id AS seed, 0 AS shift FROM documents
    UNION ALL
    SELECT doc_id + 3000000 AS media_id, doc_id AS seed, 8 AS shift
    FROM documents WHERE doc_id % 10 = 0
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 255),
               i -> (seed * 31 + i * (7 + seed % 11)) % 240 + shift) AS p
    FROM corpus
), bl AS (
    SELECT media_id,
           list_transform(generate_series(0, 15), b ->
               list_sum(list_transform(generate_series(0, 15), j ->
                   p[((b // 4) * 4 + (j // 4)) * 16
                     + (b % 4) * 4 + (j % 4) + 1]))) AS bs
    FROM px
), ph AS (
    SELECT media_id,
           list_sum(list_transform(generate_series(0, 15), b ->
               CASE WHEN bs[b + 1] * 256 > list_sum(bs) * 16
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS phash
    FROM bl
)
SELECT CAST(phash AS BIGINT) AS phash,
       min(media_id) AS canonical_media_id,
       count(*) AS n_copies
FROM ph GROUP BY phash
""",
    tags=("multimodal", "dedup", "phash"),
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL-LEVEL near-dup image dedup, end-to-end real within
    container limits: valid binary PGM (P5) / PPM (P6) images are
    built in column algebra (header + doc_id-derived 16×16 raster,
    P6 with r=g=b), pushed through the Arrow ``mapInPandas`` stage,
    pixel-DECODED by the pure-byte netpbm kernel
    (sources/multimodal.decode_pnm), and reduced to an integer
    average-hash (4×4 block means vs global mean, cross-multiplied —
    no division anywhere). Clones of every 10th image get a uniform
    +8 brightness shift: byte-distinct (md5/exact dedup misses them)
    but provably average-hash-invariant, so the phash groupBy is a
    genuine NEAR-dup pass over decoded pixels. The oracle recomputes
    the hash arithmetically from the planted pixel formula — it never
    sees the bytes, so any header-walk/raster-offset/endianness bug in
    the decoder hash-mismatches immediately. One shuffle on phash."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("shift"),
    )
    clones = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3000000).alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(8).alias("shift"),
    )
    corpus = base.unionByName(clones)

    def _pix_hex(i):  # 2-hex-char pixel byte, value in 8..247
        return F.lpad(
            F.hex(
                (F.col("seed") * 31 + i * (7 + F.col("seed") % 11)) % 240
                + F.col("shift")
            ),
            2,
            "0",
        )

    idx = F.sequence(F.lit(0), F.lit(255))
    p5 = F.concat(
        F.lit("50350A31362031360A3235350A"),  # "P5\n16 16\n255\n"
        F.concat_ws("", F.transform(idx, _pix_hex)),
    )
    p6 = F.concat(
        F.lit("50360A31362031360A3235350A"),  # "P6\n16 16\n255\n"
        F.concat_ws(
            "",
            F.transform(
                idx,
                lambda i: F.concat(_pix_hex(i), _pix_hex(i), _pix_hex(i)),
            ),
        ),
    )
    media = corpus.select(
        "media_id",
        F.unhex(F.when(F.col("media_id") % 2 == 0, p5).otherwise(p6)).alias(
            "payload"
        ),
    )
    return (
        mm.perceptual_hashes(media, grid=4)
        .groupBy("phash")
        .agg(
            F.min("media_id").alias("canonical_media_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _le_hex(c, nbytes: int):
    """Little-endian hex of an integer column (byte-swapped F.hex)."""
    h = F.lpad(F.hex(c), nbytes * 2, "0")
    return F.concat(
        *[
            F.substring(h, (nbytes - 1 - i) * 2 + 1, 2)
            for i in range(nbytes)
        ]
    )


@register(
    "multimodal_av_duration",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(CASE WHEN doc_id % 3 = 1
            THEN ((doc_id * 37) % 100000 + 1000) * 1000
                 // (16000 + (doc_id % 4) * 8000)
            ELSE ((doc_id * 13) % 36000 + 60) * 1000
                 // ((doc_id % 5) * 300 + 600)
       END AS BIGINT) AS duration_ms
FROM documents WHERE doc_id % 3 <> 0
""",
    tags=("multimodal", "decode"),
)
def q_multimodal_av_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio/video header decode end-to-end (the de-stubbed
    counterpart of multimodal_image_meta): construct valid WAV/RIFF
    headers (little-endian fmt/data chunks) and MP4 ftyp+moov+mvhd
    boxes (big-endian) in column algebra with doc_id-derived byte
    rates / data sizes / timescales, push the binary through the Arrow
    mapInPandas probe, and parse the duration back with the pure-byte
    kernel (sources/multimodal.media_duration_ms). The oracle
    recomputes the planted durations arithmetically — independent
    ground truth, so endianness/offset/chunk-walk bugs hash-mismatch
    immediately."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 != 0)
    is_audio = F.col("doc_id") % 3 == 1
    byte_rate = (16000 + (F.col("doc_id") % 4) * 8000).cast("long")
    data_size = ((F.col("doc_id") * 37) % 100000 + 1000).cast("long")
    wav_hex = F.concat(
        F.lit("52494646"),               # 'RIFF'
        _le_hex(data_size + 36, 4),      # riff size
        F.lit("57415645"),               # 'WAVE'
        F.lit("666D7420"),               # 'fmt '
        _le_hex(F.lit(16), 4),           # fmt chunk size
        _le_hex(F.lit(1), 2),            # PCM
        _le_hex(F.lit(1), 2),            # mono
        _le_hex((byte_rate / 2).cast("long"), 4),  # sample rate
        _le_hex(byte_rate, 4),           # byte rate  <- parsed
        _le_hex(F.lit(2), 2),            # block align
        _le_hex(F.lit(16), 2),           # bits/sample
        F.lit("64617461"),               # 'data'
        _le_hex(data_size, 4),           # data size  <- parsed
    )
    timescale = ((F.col("doc_id") % 5) * 300 + 600).cast("long")
    dur_units = ((F.col("doc_id") * 13) % 36000 + 60).cast("long")
    be4 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    mp4_hex = F.concat(
        F.lit("000000106674797069736F6D00000000"),  # ftyp isom
        F.lit("000000246D6F6F76"),                  # moov (size 36)
        F.lit("0000001C6D766864"),                  # mvhd v0 (size 28)
        F.lit("00000000" * 3),                      # ver/flags,ctime,mtime
        be4(timescale),
        be4(dur_units),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(is_audio, "audio").otherwise("video").alias("kind"),
        F.unhex(F.when(is_audio, wav_hex).otherwise(mp4_hex)).alias(
            "payload"
        ),
    )
    return mm.probe_metadata(media).select("media_id", "kind", "duration_ms")


@register(
    "multimodal_mp3_ogg_duration",
    """
SELECT doc_id AS media_id, 'audio' AS kind,
       CAST(CASE
            WHEN doc_id % 2 = 0
            THEN ((3 + doc_id % 5) * 1152 * 1000) // 44100
            WHEN doc_id % 4 = 1
            THEN (((doc_id * 37) % 500000 + 1000) * 1000)
                 // (8000 + (doc_id % 3) * 4000)
            ELSE (((doc_id * 53) % 900000 + 48000 - 312) * 1000) // 48000
       END AS BIGINT) AS duration_ms
FROM documents
""",
    tags=("multimodal", "decode", "audio"),
)
def q_multimodal_mp3_ogg_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 + Ogg duration walks end-to-end (the r12 compressed-audio
    metadata seam): even docs get a complete CBR MPEG-1 Layer III file
    — (3 + doc%5) identical frames whose header carries a doc-derived
    bitrate index 1..14 at 44.1 kHz, body zero-filled to the spec
    length floor(144000·kbps/44100), the whole file a plan-time
    ``repeat(frame, nf)`` — so the kernel's frame-length formula must
    step EXACTLY frame to frame or the walk desyncs to None. Odd docs
    get a two-page Ogg stream: docs ≡1 (mod 4) a Vorbis identification
    header (doc-derived rate 8/12/16 kHz) + an EOS page with a
    doc-derived granule position; docs ≡3 (mod 4) an OpusHead (fixed
    48 kHz granule clock, pre-skip 312) + EOS granule. The oracle
    recomputes every duration arithmetically (nf·1152·1000/44100,
    granule·1000/rate, (granule−312)·1000/48000) and never sees a
    byte. Xing/VBR headers, ID3 skips, lacing, and torn files are
    pinned in pytest (test_sources). One narrow Arrow stage, no
    shuffle; at 100 TB this is the pattern that prices out audio
    corpora without touching a codec."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    kbps_arr = F.array(
        *[F.lit(v) for v in (32, 40, 48, 56, 64, 80, 96, 112, 128,
                             160, 192, 224, 256, 320)]
    )
    mp3 = (
        d.where(doc % 2 == 0)
        .withColumn("bi", (doc % 14 + 1).cast("int"))
        .withColumn("kbps", F.element_at(kbps_arr, F.col("bi")))
        .withColumn(
            "flen",
            F.floor(F.lit(144000) * F.col("kbps") / F.lit(44100)).cast("int"),
        )
        .withColumn("nf", (doc % 5 + 3).cast("int"))
        .withColumn(
            "frame_hex",
            F.concat(
                F.lit("FFFB"),  # sync + MPEG1 + Layer III + no CRC
                F.lpad(F.hex(F.col("bi") * 16), 2, "0"),  # bitrate idx<<4
                F.lit("00"),  # stereo, no ext/copy/orig/emphasis
                F.expr("repeat('00', flen - 4)"),
            ),
        )
        .select(doc.alias("media_id"), F.expr("repeat(frame_hex, nf)").alias("hx"))
    )
    vorbis_g = (doc * 37) % 500000 + 1000
    vorbis_rate = F.lit(8000) + (doc % 3) * 4000
    vorbis_hx = F.concat(
        F.lit("4F676753" "00" "02" + "00" * 8),  # BOS page, granule 0
        F.lit("01000000" "00000000" "00000000" "01" "1E"),
        F.lit("01" "766F72626973" "00000000" "01"),  # \x01vorbis v0 ch1
        _le_hex(vorbis_rate, 4),
        F.lit("00" * 12 + "00" "01"),  # bitrates, blocksizes, framing
        F.lit("4F676753" "00" "04"),  # EOS page
        _le_hex(vorbis_g, 8),
        F.lit("01000000" "01000000" "00000000" "01" "01" "00"),
    )
    opus_g = (doc * 53) % 900000 + 48000
    opus_hx = F.concat(
        F.lit("4F676753" "00" "02" + "00" * 8),
        F.lit("01000000" "00000000" "00000000" "01" "13"),
        F.lit("4F70757348656164" "01" "01" "3801"),  # OpusHead, pre-skip 312
        F.lit("80BB0000" "0000" "00"),  # input rate 48k, gain, mapping
        F.lit("4F676753" "00" "04"),
        _le_hex(opus_g, 8),
        F.lit("01000000" "01000000" "00000000" "01" "01" "00"),
    )
    ogg = d.where(doc % 2 == 1).select(
        doc.alias("media_id"),
        F.when(doc % 4 == 1, vorbis_hx).otherwise(opus_hx).alias("hx"),
    )
    media = mp3.unionByName(ogg).select(
        "media_id",
        F.lit("audio").alias("kind"),
        F.unhex(F.col("hx")).alias("payload"),
    )
    return mm.probe_metadata(media).select("media_id", "kind", "duration_ms")


@register(
    "multimodal_wav_pcm_stats",
    """
WITH waves AS (
    SELECT doc_id AS media_id,
           list_transform(generate_series(0, 63),
               i -> (doc_id * 37 + i * 13) % 2001 - 1000) AS v
    FROM documents WHERE doc_id % 5 = 0
)
SELECT media_id,
       CAST(64 AS INT) AS n_samples,
       CAST(list_max(list_transform(v, x -> abs(x))) AS INT) AS peak_abs,
       CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS energy
FROM waves
""",
    tags=("multimodal", "decode", "audio"),
)
def q_multimodal_wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-LEVEL audio decode end-to-end (the waveform sibling of
    multimodal_phash_dedup's pixel decode): build complete valid PCM
    WAV files in column algebra — RIFF/fmt/data chunks plus 64
    doc_id-seeded little-endian int16 SAMPLES (range ±1000, signed
    two's-complement bytes) — push the binary through the Arrow
    mapInPandas stage, decode the actual waveform with the pure-byte
    kernel (sources/multimodal.decode_wav_pcm), and emit integer
    sample stats (count, peak, exact Σv² energy). The oracle
    recomputes the stats arithmetically from the planted waveform
    formula — it never sees the bytes, so any fmt-gate, endianness,
    sign-extension, or chunk-offset bug in the decoder mismatches
    immediately. No shuffle at all: plant → decode → project is one
    narrow Arrow stage."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    v = lambda i: (F.col("doc_id") * 37 + i * 13) % 2001 - 1000  # noqa: E731
    u16 = lambda i: (v(i) + 65536) % 65536  # noqa: E731  two's complement
    data_hex = F.concat_ws(
        "",
        F.transform(F.sequence(F.lit(0), F.lit(63)), lambda i: _le_hex(u16(i), 2)),
    )
    wav_hex = F.concat(
        F.lit("52494646"),            # 'RIFF'
        _le_hex(F.lit(128 + 36), 4),  # riff size
        F.lit("57415645"),            # 'WAVE'
        F.lit("666D7420"),            # 'fmt '
        _le_hex(F.lit(16), 4),        # fmt chunk size
        _le_hex(F.lit(1), 2),         # PCM
        _le_hex(F.lit(1), 2),         # mono
        _le_hex(F.lit(8000), 4),      # sample rate
        _le_hex(F.lit(16000), 4),     # byte rate
        _le_hex(F.lit(2), 2),         # block align
        _le_hex(F.lit(16), 2),        # bits/sample
        F.lit("64617461"),            # 'data'
        _le_hex(F.lit(128), 4),       # data size = 64 int16 samples
        data_hex,
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(wav_hex).alias("payload")
    )
    return mm.pcm_stats(media)


@register(
    "multimodal_wav_g711_stats",
    """
WITH w AS (
    SELECT doc_id AS media_id, doc_id % 2 AS par FROM documents
    WHERE doc_id % 4 = 1
), s AS (
    SELECT media_id, par, unnest(generate_series(0, 63)) AS j FROM w
), b AS (
    SELECT media_id, par,
           255 - (media_id * 7 + j * 13) % 256 AS uc,
           xor((media_id * 7 + j * 13) % 256, 85) AS ac
    FROM s
), v AS (
    SELECT media_id,
        CASE WHEN par = 0 THEN
          CASE WHEN uc & 128 = 128
               THEN -(((uc & 15) * 8 + 132) * (1 << ((uc >> 4) & 7)) - 132)
               ELSE ((uc & 15) * 8 + 132) * (1 << ((uc >> 4) & 7)) - 132
          END
        ELSE
          CASE WHEN ac & 128 = 128 THEN 1 ELSE -1 END *
          CASE WHEN (ac >> 4) & 7 = 0
               THEN (ac & 15) * 16 + 8
               ELSE ((ac & 15) * 16 + 264) * (1 << (((ac >> 4) & 7) - 1))
          END
        END AS val
    FROM b
)
SELECT media_id,
       CAST(count(*) AS INT) AS n_samples,
       CAST(max(abs(val)) AS INT) AS peak_abs,
       CAST(sum(val * val) AS BIGINT) AS energy
FROM v
GROUP BY media_id
""",
    tags=("multimodal", "decode", "audio"),
)
def q_multimodal_wav_g711_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode end-to-end — r12's first slice of
    the audio codec seam: complete valid G.711 WAV files are built in
    column algebra (even docs μ-law audio_format=7, odd A-law
    audio_format=6 — the two ITU telephony codecs every speech corpus
    carries — 8-bit mono, 64 seeded code bytes), pushed through the
    Arrow mapInPandas stage, expanded to int16 by the vectorized
    256-entry LUT gather in decode_wav_samples (built once from the
    G.711 piecewise-linear formulas), and reduced to integer stats.
    The oracle re-derives every sample from the SAME public formulas
    written independently in SQL (byte complement / XOR 0x55, 3-bit
    segment shift, mantissa bias) — it never sees the LUT, so a wrong
    sign convention, segment bias, or table entry mismatches the
    energy immediately. No shuffle: plant → LUT decode → stats is one
    narrow Arrow stage; at 100 TB the LUT gather is a single numpy
    take per batch, no per-sample Python."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 1)
    code = lambda j: (F.col("doc_id") * 7 + j * 13) % 256  # noqa: E731
    data_hex = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.lpad(F.hex(code(j)), 2, "0"),
        ),
    )
    fmt_code = F.when(F.col("doc_id") % 2 == 0, F.lit(7)).otherwise(F.lit(6))
    wav_hex = F.concat(
        F.lit("52494646"),           # 'RIFF'
        _le_hex(F.lit(64 + 36), 4),
        F.lit("57415645"),           # 'WAVE'
        F.lit("666D7420"),           # 'fmt '
        _le_hex(F.lit(16), 4),
        _le_hex(fmt_code, 2),        # μ-law 7 / A-law 6
        _le_hex(F.lit(1), 2),        # mono
        _le_hex(F.lit(8000), 4),     # sample rate
        _le_hex(F.lit(8000), 4),     # byte rate (1 byte/sample)
        _le_hex(F.lit(1), 2),        # block align
        _le_hex(F.lit(8), 2),        # bits/sample
        F.lit("64617461"),           # 'data'
        _le_hex(F.lit(64), 4),
        data_hex,
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(wav_hex).alias("payload")
    )
    return mm.pcm_stats(media)


@register(
    "multimodal_wav_adpcm_stats",
    """
WITH st AS (
    SELECT [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31] AS t
), w AS (
    SELECT doc_id AS media_id,
           (doc_id * 37) % 2001 - 1000 AS pred0,
           doc_id % 16 AS i0
    FROM documents WHERE doc_id % 4 = 3
), d AS (
    SELECT media_id, pred0,
           list_transform(generate_series(0, 63), k ->
               CASE WHEN k % 2 = 0
                    THEN (t[greatest(i0 - k, 0) + 1] >> 3)
                       + (t[greatest(i0 - k, 0) + 1] >> 2)
                       + (t[greatest(i0 - k, 0) + 1] >> 1)
                    ELSE t[greatest(i0 - k, 0) + 1] >> 3
               END) AS diffs
    FROM w, st
), v AS (
    SELECT media_id,
           list_prepend(pred0 + 0, list_transform(generate_series(1, 64),
               j -> pred0 + list_sum(diffs[1:j]))) AS smp
    FROM d
)
SELECT media_id,
       CAST(len(smp) AS INT) AS n_samples,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak_abs,
       CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS energy
FROM v
""",
    tags=("multimodal", "decode", "audio"),
)
def q_multimodal_wav_adpcm_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL IMA/DVI ADPCM decode end-to-end — the 4-bit quantizer walk
    (WAVE format 0x11) that compressed-speech WAV archives use:
    complete valid ADPCM WAVs are built in column algebra — one
    36-byte block whose header plants a doc_id-seeded int16 predictor
    and step index 0..15, then 32 constant 0x03 bytes (nibbles
    LOW-first: 3, 0, 3, 0, ...) — decoded by the sequential per-spec
    recurrence in sources/multimodal._ima_adpcm_decode and reduced to
    integer stats. The planting makes the recurrence CLOSED-FORM: both
    nibble values adjust the index by −1 (floor 0), so nibble k sees
    step table entry max(i0−k, 0); nibble 3 adds (s>>3)+(s>>2)+(s>>1),
    nibble 0 adds s>>3, nothing ever clamps — the oracle re-derives
    all 65 samples arithmetically from the first 16 step-table entries
    and never sees a byte. Nibble ORDER matters to the energy (the
    diff sequence alternates large/small), so a high-nibble-first bug
    mismatches; clamping, sign nibbles, and the full 89-entry table
    are pinned against an independent reference implementation in
    pytest. One narrow Arrow stage, no shuffle."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 3)
    pred0 = (F.col("doc_id") * 37) % 2001 - 1000
    i0 = F.col("doc_id") % 16
    wav_hex = F.concat(
        F.lit("52494646"),           # 'RIFF'
        _le_hex(F.lit(36 + 36), 4),
        F.lit("57415645"),           # 'WAVE'
        F.lit("666D7420"),           # 'fmt '
        _le_hex(F.lit(16), 4),
        _le_hex(F.lit(0x11), 2),     # IMA ADPCM
        _le_hex(F.lit(1), 2),        # mono
        _le_hex(F.lit(8000), 4),     # sample rate
        _le_hex(F.lit(4055), 4),     # avg byte rate (informative)
        _le_hex(F.lit(36), 2),       # block align
        _le_hex(F.lit(4), 2),        # bits/sample
        F.lit("64617461"),           # 'data'
        _le_hex(F.lit(36), 4),
        _le_hex((pred0 + 65536) % 65536, 2),   # predictor, two's compl.
        _le_hex(i0, 1),
        F.lit("00"),                 # reserved
        F.lit("03" * 32),            # 64 nibbles: 3,0,3,0,...
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(wav_hex).alias("payload")
    )
    return mm.pcm_stats(media)


@register(
    "multimodal_tiff_meta",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       CAST(doc_id % 640 + 16 AS INT) AS width,
       CAST(doc_id % 480 + 16 AS INT) AS height
FROM documents
""",
    tags=("multimodal", "decode"),
)
def q_multimodal_tiff_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF IFD walk end-to-end: construct valid TIFF files in
    BOTH byte orders in column algebra (even docs little-endian "II",
    odd big-endian "MM"; ImageWidth as a left-justified SHORT entry,
    ImageLength as a LONG — the two typed-value paths), push through
    the Arrow mapInPandas stage, and parse dimensions back with the
    directory-walking kernel (sources/multimodal.tiff_dimensions).
    The oracle recomputes the planted dimensions arithmetically —
    independent ground truth, so byte-order, left-justification, or
    entry-stride bugs hash-mismatch immediately."""
    d = load_table(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 640 + 16).cast("int")
    h = (F.col("doc_id") % 480 + 16).cast("int")

    def swap16(c):  # big-endian hex -> little-endian byte order
        x = F.lpad(F.hex(c), 4, "0")
        return F.concat(F.substring(x, 3, 2), F.substring(x, 1, 2))

    def swap32(c):
        x = F.lpad(F.hex(c), 8, "0")
        return F.concat(
            F.substring(x, 7, 2), F.substring(x, 5, 2),
            F.substring(x, 3, 2), F.substring(x, 1, 2),
        )

    le = F.concat(
        F.lit("49492A00" + "08000000" + "0200"),
        F.lit("0001" + "0300" + "01000000"), swap16(w), F.lit("0000"),
        F.lit("0101" + "0400" + "01000000"), swap32(h),
        F.lit("00000000"),
    )
    be = F.concat(
        F.lit("4D4D002A" + "00000008" + "0002"),
        F.lit("0100" + "0003" + "00000001"),
        F.lpad(F.hex(w), 4, "0"), F.lit("0000"),
        F.lit("0101" + "0004" + "00000001"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("00000000"),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(F.when(F.col("doc_id") % 2 == 0, le).otherwise(be)).alias(
            "payload"
        ),
        F.struct(
            F.lit("image/tiff").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    bo = F.when(F.col("media_id") % 2 == 0, "II").otherwise("MM")
    return mm.extract_features(media).select(
        "media_id", bo.alias("byte_order"), "width", "height"
    )


@register(
    "multimodal_resize_pixels",
    """
WITH corpus AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), rp AS (
    SELECT media_id,
           list_transform(generate_series(0, 15),
               k -> (seed * 31 + ((k // 4) * 64 + (k % 4) * 4)
                     * (7 + seed % 11)) % 240) AS p
    FROM corpus
)
SELECT media_id, 4 AS width, 4 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 15),
                k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM rp
""",
    tags=("multimodal", "resize"),
)
def q_multimodal_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, end-to-end within container limits
    (multimodal_phash_dedup's proof pattern applied to the resize
    stage): valid 16×16 binary PGMs are built in column algebra
    (doc_id-derived raster), REALLY resized to 4×4 by the
    nearest-neighbor netpbm kernel (sources/multimodal.resize_pnm —
    bytes in, valid PGM bytes out), then round-tripped through the
    real decoder for position-weighted integer pixel checksums. The
    oracle recomputes each resized pixel arithmetically from the
    planted formula (target (r,c) samples source (4r, 4c), flat index
    64r+4c) — it never sees the bytes, so a resize that picked wrong
    source pixels, scrambled raster order, or emitted an invalid PGM
    header hash-mismatches immediately. Two chained Arrow mapInPandas
    stages, no shuffle anywhere (reference contrast: the ref's only
    image work is the OCR temp-file write, data_ingestion.py:154-160).
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )

    def _pix_hex(i):  # 2-hex-char pixel byte, value in 0..239
        return F.lpad(
            F.hex(
                (F.col("seed") * 31 + i * (7 + F.col("seed") % 11)) % 240
            ),
            2,
            "0",
        )

    idx = F.sequence(F.lit(0), F.lit(255))
    p5 = F.concat(
        F.lit("50350A31362031360A3235350A"),  # "P5\n16 16\n255\n"
        F.concat_ws("", F.transform(idx, _pix_hex)),
    )
    media = corpus.select("media_id", F.unhex(p5).alias("payload"))
    return mm.pixel_checksums(mm.resize_images(media, 4, 4))


@register(
    "multimodal_png_decode",
    """
WITH g AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 63),
               k -> (seed * 31 + k * (7 + seed % 11)) % 240) AS p
    FROM g
), gray AS (
    SELECT media_id,
           CASE WHEN media_id % 2 = 0 THEN p
                ELSE list_transform(p, v ->
                    (v + (v + 85) % 256 + (v + 170) % 256) // 3)
           END AS gp
    FROM px
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(list_sum(gp) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 63),
            k -> (k + 1) * gp[k + 1])) AS BIGINT) AS px_wsum
FROM gray
""",
    tags=("multimodal", "decode", "png"),
)
def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end with NO image library anywhere:
    complete VALID PNGs are constructed in column algebra — real chunk
    CRCs via F.crc32, a real zlib stream (stored-deflate block +
    arithmetic adler32, which zlib.decompress VERIFIES, so one wrong
    byte anywhere nulls the row), per-scanline filters cycling
    None/Sub/Up (filters 3/4 are pytest-covered — Paeth has no sane
    closed column form), even docs grayscale (color type 0), odd docs
    RGB (color type 2, channels p/(p+85)%256/(p+170)%256) — then
    decoded by the stdlib-zlib kernel (sources/multimodal.
    decode_png_array) for position-weighted integer pixel checksums.
    The oracle recomputes the planted rasters arithmetically (RGB
    through the shared (r+g+b)//3 gray rule) and never sees a byte:
    a wrong filter reconstruction, channel order, or gray conversion
    hash-mismatches immediately. One narrow Arrow stage, no shuffle.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    seed = F.col("seed")

    def p(r, c):  # planted base value at (row, col), 0..239
        return (seed * 31 + (r * 8 + c) * (7 + seed % 11)) % 240

    media = corpus.select(
        "media_id",
        F.unhex(
            F.when(
                F.col("media_id") % 2 == 0, _planted_png_hex(p, 8, 8, 1)
            ).otherwise(_planted_png_hex(p, 8, 8, 3))
        ).alias("payload"),
    )
    return mm.pixel_checksums(media)


def _planted_png_hex(p, w: int, h: int, nch: int) -> "F.Column":
    """Hex of a COMPLETE valid PNG built in column algebra: ``p(r, c)``
    is the planted base pixel value (a Column, 0..255); nch=1 emits
    grayscale (color type 0), nch=3 RGB (color type 2, channels
    p/(p+85)%256/(p+170)%256). Chunk CRCs are real (F.crc32), the zlib
    stream is a stored-deflate block with an arithmetic adler32 that
    ``zlib.decompress`` VERIFIES, and scanline filters cycle
    None/Sub/Up (r % 3) to exercise the decoder's filter
    reconstruction — one wrong byte anywhere nulls the row."""

    def hx2(col):
        return F.lpad(F.hex(col), 2, "0")

    def crc_hex(body_hex):
        return F.lpad(F.hex(F.crc32(F.unhex(body_hex))), 8, "0")

    rows = F.sequence(F.lit(0), F.lit(h - 1))
    cols = F.sequence(F.lit(0), F.lit(w - 1))

    def sample(r, c, ch):
        return F.pmod(p(r, c) + F.lit(ch * 85), F.lit(256)) if nch == 3 else p(r, c)

    def enc_byte(r, c, ch):
        # scanline filter f = r % 3: 0 None, 1 Sub (left = previous
        # pixel's same channel), 2 Up (r % 3 == 2 implies r >= 2)
        f = F.pmod(r, F.lit(3))
        cur = sample(r, c, ch)
        sub = F.pmod(
            cur - F.when(c > 0, sample(r, c - 1, ch)).otherwise(F.lit(0)),
            F.lit(256),
        )
        up = F.pmod(cur - sample(r - 1, c, ch), F.lit(256))
        return F.when(f == 0, cur).when(f == 1, sub).otherwise(up)

    stride = w * nch
    ln = h * (stride + 1)  # filter byte + samples, per scanline
    vals = F.flatten(
        F.transform(
            rows,
            lambda r: F.concat(
                F.array(F.pmod(r, F.lit(3))),
                F.flatten(
                    F.transform(
                        cols,
                        lambda c: F.array(
                            *[enc_byte(r, c, ch) for ch in range(nch)]
                        ),
                    )
                ),
            ),
        )
    )
    d_hex = F.concat_ws("", F.transform(vals, hx2))
    # adler32 of the UNCOMPRESSED stream: A = 1 + Σd, B = L + Σ(L-i)·d_i
    a = F.pmod(
        1 + F.aggregate(vals, F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(65521),
    )
    b = F.pmod(
        F.lit(ln)
        + F.aggregate(
            F.zip_with(
                vals,
                F.sequence(F.lit(ln), F.lit(1), F.lit(-1)),
                lambda v, wt: (v * wt).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        F.lit(65521),
    )
    adler_hex = F.concat(F.lpad(F.hex(b), 4, "0"), F.lpad(F.hex(a), 4, "0"))
    # zlib: 0x78 0x01 | stored block (BFINAL=1): 0x01 LEN NLEN | data | adler
    idat_data_hex = F.concat(
        F.lit("780101"),
        _le_hex(F.lit(ln), 2),
        _le_hex(F.lit(0xFFFF - ln), 2),
        d_hex,
        adler_hex,
    )
    idat_body = F.concat(F.lit("49444154"), idat_data_hex)
    idat_hex = F.concat(
        F.lpad(F.hex(F.lit(11 + ln)), 8, "0"), idat_body, crc_hex(idat_body)
    )
    ihdr_body = F.concat(
        F.lit("49484452"),
        F.lpad(F.hex(F.lit(w)), 8, "0"),  # width, big-endian
        F.lpad(F.hex(F.lit(h)), 8, "0"),  # height, big-endian
        F.lit("08"),  # bit depth
        F.lit("00" if nch == 1 else "02"),  # color type gray/RGB
        F.lit("000000"),  # compression/filter/interlace
    )
    return F.concat(
        F.lit("89504E470D0A1A0A"),
        F.lit("0000000D"),
        ihdr_body,
        crc_hex(ihdr_body),
        idat_hex,
        F.lit("0000000049454E44AE426082"),
    )


@register(
    "multimodal_gif_decode",
    """
WITH g AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 63),
               k -> (seed * 31 + k * (7 + seed % 11)) % 240) AS p
    FROM g
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 63),
            k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "gif"),
)
def q_multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end-to-end, no image library: complete VALID
    GIF89a files are constructed in column algebra — gray-ramp global
    color table (entry i = (i,i,i), so index == gray), and a REAL LZW
    code stream (all-literal 9-bit codes with the single leading CLEAR
    placed so the decoder's dictionary never forces a width bump:
    CLEAR, 64 literals, END = 66 codes / 594 bits — bit-packed
    LSB-first in column algebra, framed into spec sub-blocks) — then
    LZW-DECOMPRESSED by
    the pure-byte kernel (sources/multimodal.decode_gif_array →
    _gif_lzw_decode) for position-weighted integer pixel checksums.
    Adaptive-dictionary streams (width bumps, KwKwK, mid-stream
    clears, interlace) are pinned in pytest against an independent
    compressing encoder; the oracle here recomputes the planted
    8×8 rasters arithmetically and never sees a byte — one wrong
    bit offset, code width, or palette lookup nulls or mismatches the
    row. The bit-pack projection is the heavy part of this plan, so
    the fixture corpus is round-robin repartitioned ahead of it (a
    real corpus scan arrives multi-partition already); Arrow stage
    after it, no keyed shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.repartition(32).select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    seed = F.col("seed")

    def p(k):  # planted pixel/palette-index at flat position k
        return (seed * 31 + k * (7 + seed % 11)) % 240

    # code stream: 66 all-9-bit codes — CLEAR, p(0..63), END (after
    # the clear, 63 dictionary adds keep next_code at 321 < 512, so
    # the width never bumps). Code k as a plan-time expression:
    def code_expr(k: int):
        if k >= 66:
            return F.lit(0)  # zero-padding past END
        if k == 0:
            return F.lit(256)  # CLEAR
        if k == 65:
            return F.lit(257)  # END
        return p(k - 1)

    # LSB-first bit-pack, 594 bits → 75 bytes. Output byte i spans AT
    # MOST two 9-bit codes, so every shift is a plan-time literal —
    # two small scalar exprs per byte (the array/aggregate form of
    # this measured ~50 ms/row interpreted; this is plain algebra).
    # Disjoint bit ranges make + equivalent to | under the mod-256 cut.
    byte_hexes = []
    for i in range(75):
        t0 = 8 * i
        k0, o0 = t0 // 9, t0 % 9
        expr = F.shiftright(code_expr(k0), o0)
        if 9 - o0 < 8:
            expr = expr + code_expr(k0 + 1) * F.lit(1 << (9 - o0))
        byte_hexes.append(F.lpad(F.hex(F.pmod(expr, F.lit(256))), 2, "0"))
    stream_hex = F.concat(*byte_hexes)
    gct_hex = "".join(f"{i:02X}" * 3 for i in range(256))
    payload_hex = F.concat(
        F.lit("474946383961"),        # "GIF89a"
        F.lit("0800" "0800"),          # 8×8 logical screen, LE
        F.lit("87" "00" "00"),         # GCT present, 256 entries
        F.lit(gct_hex),
        F.lit("2C" + "0000" * 2 + "0800" + "0800" + "00"),  # image desc
        F.lit("08"),                   # LZW min code size
        F.lit("4B"), stream_hex,       # one 75-byte data sub-block
        F.lit("00" "3B"),              # terminator + trailer
    )
    media = corpus.select(
        "media_id", F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


def _jpeg_dc_header_hex() -> str:
    """Constant marker-segment prefix of the planted DC-only baseline
    JPEGs (everything before the per-row 5-byte entropy stream): 16×16
    grayscale SOF0, Q[0]=8 (so pixel = dc + 128 exactly — the IDCT of
    a DC-only block is flat dc·Q00/8, binary-exact), a 4-bit-max DC
    Huffman table whose category-6 code is '110' (cats 0-6 at length
    3, cat 7 at 1110 so the all-ones code stays unused per Annex C),
    and a 1-bit AC table where '0' is EOB."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00"
    out += bytes([8] + [16] * 63)  # zigzag order; only Q[0] matters
    out += (
        b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8])
        + (16).to_bytes(2, "big") + (16).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    out += b"\xff\xc4" + (27).to_bytes(2, "big") + b"\x00"
    out += bytes([0, 0, 7, 1] + [0] * 12) + bytes(range(8))
    out += b"\xff\xc4" + (20).to_bytes(2, "big") + b"\x10"
    out += bytes([1] + [0] * 15) + bytes([0])
    out += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0, 0, 63, 0])
    return out.hex().upper()


@register(
    "multimodal_jpeg_decode",
    """
WITH g AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), d AS (
    SELECT media_id,
           list_transform(generate_series(0, 3),
               b -> CASE WHEN b % 2 = 0
                         THEN 32 + (seed * 13 + b * 7) % 32
                         ELSE -(32 + (seed * 13 + b * 7) % 32) END) AS diffs
    FROM g
), px AS (
    SELECT media_id,
           list_transform(generate_series(1, 4),
               b -> 128 + list_sum(diffs[1:b])) AS bp
    FROM d
)
SELECT media_id, 16 AS width, 16 AS height,
       CAST(64 * list_sum(bp) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 255),
            k -> (k + 1) * bp[(k // 128) * 2 + ((k % 16) // 8) + 1]))
            AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "jpeg"),
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode end-to-end, no image library: complete VALID
    baseline JPEGs are constructed in column algebra — the constant
    marker prefix (16×16 grayscale SOF0, custom minimal DC/AC Huffman
    tables, Q00=8) plus a per-row 40-bit entropy stream of four
    DC-only blocks, each 10 bits: the 3-bit category-6 code '110', 6
    magnitude bits (negative diffs in two's-category form v = d + 63,
    ITU T.81 F.2.2.1), and the 1-bit EOB. Diffs alternate sign
    (+/-(32 + (seed·13 + 7b) mod 32)) so the CUMULATIVE DC prediction
    stays in [-62, 94] and every pixel dc+128 avoids the clamp — the
    oracle recomputes the four flat 8×8 blocks arithmetically (a
    DC-only block IDCTs to exactly dc·Q00/8 + 128 = dc + 128) and
    never sees a byte. The decoder (sources/multimodal.
    decode_jpeg_array) must get marker parsing, canonical Huffman
    assignment, magnitude extension, DC prediction, dequantization,
    the IDCT constant term, and MCU raster placement ALL right — one
    wrong bit anywhere nulls or mismatches the row (the
    position-weighted checksum pins which 8×8 block lands where).
    AC-coefficient streams, restart markers, 4:2:0 chroma, and
    byte stuffing are pinned in pytest against an independent
    encoder (tests/test_jpeg.py). One narrow Arrow stage, no
    shuffle. Max run of 1-bits in the stream is 6, so no 0xFF byte
    ever needs stuffing — the 5 entropy bytes are a plan-time hex
    projection.

    Reference parity: the reference's OCR fallback writes page
    rasters to .jpg and re-reads them (data_ingestion.py:148-155);
    this kernel is what makes that path decodable in-container."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    seed = F.col("seed")

    def mag(b: int):  # |diff| of block b, 32..63
        return F.lit(32) + F.pmod(seed * 13 + b * 7, F.lit(32))

    # block b's 10 bits: 110 (cat 6) | bits6 | 0 (EOB); bits6 = d>0 ?
    # d : d + 63  (category-6 magnitude extension, F.2.2.1)
    block_bits = []
    for b in range(4):
        bits6 = mag(b) if b % 2 == 0 else F.lit(63) - mag(b)
        block_bits.append(F.lit(0b110 << 7) + bits6 * 2)
    v40 = (
        block_bits[0].cast("long") * F.lit(1 << 30)
        + block_bits[1].cast("long") * F.lit(1 << 20)
        + block_bits[2].cast("long") * F.lit(1 << 10)
        + block_bits[3].cast("long")
    )
    payload_hex = F.concat(
        F.lit(_jpeg_dc_header_hex()),
        F.lpad(F.hex(v40), 10, "0"),  # 40 bits, MSB-first, byte-aligned
        F.lit("FFD9"),
    )
    media = corpus.select(
        "media_id", F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


def _bmp_gray8_header_hex() -> str:
    """Constant prefix of the planted 8-bit 16×16 bottom-up BMPs: 'BM'
    file header + BITMAPINFOHEADER (BI_RGB) + a 256-entry gray-identity
    palette (entry i = (i,i,i,0), so palette index == gray via the
    shared (r+g+b)//3 rule). Width 16 means stride 16 — no row padding
    — so the raster is exactly the 256 planted bytes."""
    data_off = 14 + 40 + 1024
    hdr = b"BM" + (data_off + 256).to_bytes(4, "little")
    hdr += b"\x00\x00\x00\x00" + data_off.to_bytes(4, "little")
    dib = (40).to_bytes(4, "little")
    dib += (16).to_bytes(4, "little") + (16).to_bytes(4, "little")
    dib += (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    dib += (0).to_bytes(4, "little") + (256).to_bytes(4, "little")
    dib += b"\x00" * 8  # x/y pixels-per-meter
    dib += (256).to_bytes(4, "little") + (0).to_bytes(4, "little")
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    return (hdr + dib + pal).hex().upper()


@register(
    "multimodal_bmp_decode",
    """
WITH g AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 255),
               k -> (seed * 29 + k * (5 + seed % 13)) % 256) AS p
    FROM g
)
SELECT media_id, 16 AS width, 16 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 255),
            k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "bmp"),
)
def q_multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone BMP decode end-to-end: complete valid 8-bit
    palettized BI_RGB BMPs built in column algebra — constant 'BM' +
    BITMAPINFOHEADER + gray-identity palette prefix, then the 256
    planted raster bytes emitted BOTTOM-UP (file row r carries raster
    row 15−r, the BMP default orientation), decoded by the factored
    AVI-DIB kernel (sources/multimodal.decode_bmp_array → _dib_gray)
    through pixel_checksums. The oracle recomputes the planted TOP-DOWN
    raster arithmetically, so a decoder that forgets the bottom-up
    flip, mis-sizes the palette, or misreads the data offset
    position-weight-mismatches immediately. 24-bit BGR, top-down, row
    padding, and truncation gates are pinned in pytest
    (tests/test_jpeg.py). One narrow Arrow stage, no shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    seed = F.col("seed")

    def p(k):  # planted raster byte at flat TOP-DOWN position k
        return F.pmod(seed * 29 + k * (5 + F.pmod(seed, F.lit(13))), F.lit(256))

    # file rows bottom-up: file row fr = raster row 15 - fr
    raster_hex = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda i: F.lpad(
                F.hex(
                    p(
                        (F.lit(15) - F.floor(i / 16)) * 16
                        + F.pmod(i, F.lit(16))
                    )
                ),
                2,
                "0",
            ),
        ),
    )
    media = corpus.select(
        "media_id",
        F.unhex(
            F.concat(F.lit(_bmp_gray8_header_hex()), raster_hex)
        ).alias("payload"),
    )
    return mm.pixel_checksums(media)


@register(
    "multimodal_png_phash",
    """
WITH corpus AS (
    SELECT doc_id AS media_id, doc_id AS seed, 0 AS shift FROM documents
    UNION ALL
    SELECT doc_id + 3000000 AS media_id, doc_id AS seed, 8 AS shift
    FROM documents WHERE doc_id % 10 = 0
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 255),
               i -> (seed * 31 + i * (7 + seed % 11)) % 240 + shift) AS p
    FROM corpus
), bl AS (
    SELECT media_id,
           list_transform(generate_series(0, 15), b ->
               list_sum(list_transform(generate_series(0, 15), j ->
                   p[((b // 4) * 4 + (j // 4)) * 16
                     + (b % 4) * 4 + (j % 4) + 1]))) AS bs
    FROM px
), ph AS (
    SELECT media_id,
           list_sum(list_transform(generate_series(0, 15), b ->
               CASE WHEN bs[b + 1] * 256 > list_sum(bs) * 16
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS phash
    FROM bl
)
SELECT CAST(phash AS BIGINT) AS phash,
       min(media_id) AS canonical_media_id,
       count(*) AS n_copies
FROM ph GROUP BY phash
""",
    tags=("multimodal", "dedup", "phash", "png"),
)
def q_multimodal_png_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_phash_dedup with the COMPRESSED format as input —
    proof the stdlib-zlib PNG kernel feeds the near-dup pipeline
    end-to-end: the same 16×16 planted rasters (every 10th doc cloned
    at +8 brightness — byte-distinct, average-hash-invariant) arrive
    as complete valid grayscale PNGs (real zlib stream, verified
    adler32, None/Sub/Up filters), get pixel-decoded by
    decode_png_array inside perceptual_hashes, and collapse on the
    integer average-hash. The ORACLE IS IDENTICAL to the PGM query's —
    the planted pixels, not the container, determine the hash — which
    is itself the decoder-independence claim in executable form. One
    shuffle on phash."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("shift"),
    ).unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 3000000).alias("media_id"),
            F.col("doc_id").alias("seed"),
            F.lit(8).alias("shift"),
        )
    )
    seed, shift = F.col("seed"), F.col("shift")

    def p(r, c):  # planted pixel at (row, col), 8..247 for clones
        return (seed * 31 + (r * 16 + c) * (7 + seed % 11)) % 240 + shift

    media = corpus.select(
        "media_id",
        F.unhex(_planted_png_hex(p, 16, 16, 1)).alias("payload"),
    )
    return (
        mm.perceptual_hashes(media, grid=4)
        .groupBy("phash")
        .agg(
            F.min("media_id").alias("canonical_media_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_JPEG_PHASH_SIGNS = (
    (1, 1, -1, 1), (1, 1, -1, -1), (1, -1, 1, 1), (1, -1, 1, -1),
    (1, -1, -1, 1), (-1, 1, 1, -1), (-1, 1, -1, 1), (-1, 1, -1, -1),
    (-1, -1, 1, 1), (-1, -1, 1, -1),
)  # every sign pattern with no 3-run: cumulative DC stays in [-104,114]
_JPEG_PHASH_PRIMES = (13, 17, 19, 23)


@register(
    "multimodal_jpeg_phash",
    f"""
WITH corpus AS (
    SELECT doc_id AS media_id, doc_id AS seed, 0 AS boost FROM documents
    UNION ALL
    SELECT doc_id + 3000000 AS media_id, doc_id AS seed, 8 AS boost
    FROM documents WHERE doc_id % 10 = 0
), d AS (
    SELECT media_id,
           list_transform(generate_series(0, 3), b ->
               {str([list(p) for p in _JPEG_PHASH_SIGNS])}[seed % 10 + 1][b + 1]
               * (32 + (seed * {str(list(_JPEG_PHASH_PRIMES))}[b + 1]
                        + 7 * b) % 16
                  + CASE WHEN b = 0 THEN boost ELSE 0 END)) AS diffs
    FROM corpus
), dc AS (
    SELECT media_id,
           list_transform(generate_series(1, 4),
               b -> list_sum(diffs[1:b])) AS dcs
    FROM d
), ph AS (
    SELECT media_id,
           list_sum(list_transform(generate_series(0, 15), b ->
               CASE WHEN 4 * dcs[((b // 4) // 2) * 2 + ((b % 4) // 2) + 1]
                         > list_sum(dcs)
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS phash
    FROM dc
)
SELECT CAST(phash AS BIGINT) AS phash,
       min(media_id) AS canonical_media_id,
       count(*) AS n_copies
FROM ph GROUP BY phash
""",
    tags=("multimodal", "dedup", "phash", "jpeg"),
)
def q_multimodal_jpeg_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_png_phash with JPEG as the container — proof the r12
    baseline Huffman+IDCT kernel feeds the near-dup pipeline
    end-to-end with no extras: DC-only planted JPEGs (four flat 8×8
    blocks, pixel = dc + 128 exactly) whose DC walk takes a
    seed-chosen SIGN PATTERN (the ten no-3-run patterns keep every
    cumulative DC in [-104, 114] — pixels never clamp — while
    alternating-sign fixtures would make every hash bit provably
    constant: 3b+d>2c for magnitudes in one category) and
    seed-varied magnitudes 32..47, yielding 13 distinct hash
    patterns across the corpus. Every 10th doc is cloned at +8
    brightness via a +8 DC first-diff — byte-distinct entropy
    streams, but average-hash compares block sums cross-multiplied
    against the global sum, so a uniform DC shift provably cancels
    and clones collapse (magnitudes cap at 47+8 < 64, inside Huffman
    category 6 — one code path for original and clone). The oracle
    reduces each hash bit to 4·dc_q > Σdc arithmetically (the 128
    level-shift cancels) and never sees a byte. One shuffle on
    phash."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("boost"),
    ).unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 3000000).alias("media_id"),
            F.col("doc_id").alias("seed"),
            F.lit(8).alias("boost"),
        )
    )
    seed, boost = F.col("seed"), F.col("boost")
    signs_arr = F.array(
        *[F.array(*[F.lit(s) for s in pat]) for pat in _JPEG_PHASH_SIGNS]
    )

    def mag(b: int):  # |diff| of block b (block 0 carries the clone boost)
        m = F.lit(32) + F.pmod(
            seed * _JPEG_PHASH_PRIMES[b] + 7 * b, F.lit(16)
        )
        return m + boost if b == 0 else m

    block_bits = []
    for b in range(4):
        sign = F.element_at(
            F.element_at(signs_arr, F.pmod(seed, F.lit(10)).cast("int") + 1),
            b + 1,
        )
        # category-6 magnitude bits: d>0 -> d; d<0 -> d + 63 = 63 - |d|
        bits6 = F.when(sign > 0, mag(b)).otherwise(F.lit(63) - mag(b))
        block_bits.append(F.lit(0b110 << 7) + bits6 * 2)
    v40 = (
        block_bits[0].cast("long") * F.lit(1 << 30)
        + block_bits[1].cast("long") * F.lit(1 << 20)
        + block_bits[2].cast("long") * F.lit(1 << 10)
        + block_bits[3].cast("long")
    )
    media = corpus.select(
        "media_id",
        F.unhex(
            F.concat(
                F.lit(_jpeg_dc_header_hex()),
                F.lpad(F.hex(v40), 10, "0"),
                F.lit("FFD9"),
            )
        ).alias("payload"),
    )
    return (
        mm.perceptual_hashes(media, grid=4)
        .groupBy("phash")
        .agg(
            F.min("media_id").alias("canonical_media_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _planted_avi_hex(seed, shift):
    """Hex for a complete valid 2-frame 4×4 24-bit uncompressed AVI
    (hdrl with 'vids' strh + BITMAPINFOHEADER strf, movi with two
    '00db' BI_RGB frames). Planted pixel value in TOP-DOWN image order
    k for frame f: ``(seed·31 + f·97 + k·(7 + seed%11)) % 240 + shift``
    — the DIB raster stores it bottom-up as BGR byte triples per the
    BMP spec. ``shift`` must keep values ≤ 255."""

    def _pix_hex(f: int, k):
        v = (seed * 31 + f * 97 + k * (7 + seed % 11)) % 240 + shift
        return F.lpad(F.hex(v), 2, "0")

    def _frame_hex(f: int):  # DIB raster: bottom-up rows, BGR triples
        dib = F.sequence(F.lit(0), F.lit(15))
        return F.concat_ws(
            "",
            F.transform(
                dib,
                lambda m: F.repeat(
                    _pix_hex(f, (F.lit(3) - F.shiftright(m, 2)) * 4 + m % 4),
                    3,
                ),
            ),
        )

    avih_hex = F.concat(
        _le_hex(F.lit(40000), 4),  # 25 fps
        F.lit("00" * 12),          # maxbytes/padding/flags
        _le_hex(F.lit(2), 4),      # dwTotalFrames
        F.lit("00" * 4),           # dwInitialFrames
        _le_hex(F.lit(1), 4),      # dwStreams
        F.lit("00" * 4),           # dwSuggestedBufferSize
        _le_hex(F.lit(4), 4), _le_hex(F.lit(4), 4),  # dwWidth/dwHeight
        F.lit("00" * 16),          # dwReserved[4]
    )
    strh_hex = F.concat(
        F.lit("73747268"), _le_hex(F.lit(56), 4),   # strh
        F.lit("76696473"), F.lit("44494220"),       # 'vids' 'DIB '
        F.lit("00" * 48),
    )
    strf_hex = F.concat(
        F.lit("73747266"), _le_hex(F.lit(40), 4),   # strf BITMAPINFOHEADER
        _le_hex(F.lit(40), 4),                      # biSize
        _le_hex(F.lit(4), 4), _le_hex(F.lit(4), 4), # biWidth/biHeight (+down)
        _le_hex(F.lit(1), 2), _le_hex(F.lit(24), 2),  # planes / bits
        _le_hex(F.lit(0), 4),                       # BI_RGB
        _le_hex(F.lit(48), 4),                      # biSizeImage
        F.lit("00" * 16),
    )
    movi_hex = F.concat(
        F.lit("4C495354"), _le_hex(F.lit(116), 4), F.lit("6D6F7669"),
        F.lit("30306462"), _le_hex(F.lit(48), 4), _frame_hex(0),
        F.lit("30306462"), _le_hex(F.lit(48), 4), _frame_hex(1),
    )
    return F.concat(
        F.lit("52494646"), _le_hex(F.lit(328), 4), F.lit("41564920"),
        F.lit("4C495354"), _le_hex(F.lit(192), 4), F.lit("6864726C"),
        F.lit("61766968"), _le_hex(F.lit(56), 4), avih_hex,
        F.lit("4C495354"), _le_hex(F.lit(116), 4), F.lit("7374726C"),
        strh_hex, strf_hex,
        movi_hex,
    )


@register(
    "multimodal_avi_duration",
    """
SELECT doc_id AS media_id,
       'video' AS kind,
       CAST(((doc_id % 50) + 10) * ((doc_id * 7) % 1000 + 24) AS BIGINT)
           AS duration_ms
FROM documents
""",
    tags=("multimodal", "decode", "video"),
)
def q_multimodal_avi_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AVI container decode end-to-end (the third RIFF family
    after WAV and the MP4 boxes): construct valid RIFF 'AVI ' files in
    column algebra — LIST 'hdrl' wrapping a spec-shaped 56-byte 'avih'
    main header with doc_id-derived dwMicroSecPerFrame and
    dwTotalFrames — push the binary through the Arrow mapInPandas
    probe, and parse the duration back with the pure-byte chunk walker
    (sources/multimodal.avi_headers via media_duration_ms). The oracle
    recomputes the planted duration arithmetically (usec_per_frame ·
    total_frames ÷ 1000 with the ·1000 factored out exactly), so any
    LIST-recursion, alignment, or field-offset bug hash-mismatches
    immediately. Reference contrast: the reference's only video-ish
    artifact is rasterizing PDF pages to JPEG (data_ingestion.py:148)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    usec = ((F.col("doc_id") % 50 + 10) * 1000).cast("long")
    nframes = ((F.col("doc_id") * 7) % 1000 + 24).cast("long")
    avih_hex = F.concat(
        _le_hex(usec, 4),          # dwMicroSecPerFrame  <- parsed
        F.lit("00" * 12),          # maxbytes/padding/flags
        _le_hex(nframes, 4),       # dwTotalFrames       <- parsed
        F.lit("00" * 36),          # 5 more u32 + 16 reserved bytes
    )
    avi_hex = F.concat(
        F.lit("52494646"), _le_hex(F.lit(80), 4), F.lit("41564920"),  # RIFF/AVI
        F.lit("4C495354"), _le_hex(F.lit(68), 4), F.lit("6864726C"),  # LIST hdrl
        F.lit("61766968"), _le_hex(F.lit(56), 4),                     # avih
        avih_hex,
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.unhex(avi_hex).alias("payload"),
    )
    return mm.probe_metadata(media).select("media_id", "kind", "duration_ms")


@register(
    "multimodal_avi_frames",
    """
WITH vids AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
    WHERE doc_id % 3 = 2
), fr AS (
    SELECT media_id, seed, unnest([0, 1]) AS frame_index FROM vids
), px AS (
    SELECT media_id, frame_index,
           list_transform(generate_series(0, 15),
               k -> (seed * 31 + frame_index * 97
                     + k * (7 + seed % 11)) % 240) AS p
    FROM fr
)
SELECT media_id,
       CAST(frame_index AS INT) AS frame_index,
       4 AS width, 4 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 15),
                k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "video"),
    bench=True,
)
def q_multimodal_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame decode end-to-end, zero codec libraries — the
    de-stubbed core of the ffmpeg seam for uncompressed streams:
    complete valid AVI files (hdrl with 'vids' strh + BITMAPINFOHEADER
    strf, movi with two '00db' BI_RGB frames) are built in column
    algebra with doc_id-seeded 4×4 24-bit rasters — BGR byte triples,
    4-byte-aligned rows stored BOTTOM-UP per the BMP spec — pushed
    through the Arrow mapInPandas stage, frame-decoded by the pure-byte
    kernel (sources/multimodal.decode_avi_frames), re-encoded as valid
    PGM, and round-tripped through the netpbm decoder for
    position-weighted integer pixel checksums. The oracle recomputes
    every pixel arithmetically in TOP-DOWN image order from the planted
    formula — it never sees the bytes, so a decoder that forgot the
    vertical flip, misread the BGR stride, or emitted a broken PGM
    hash-mismatches immediately. 1 media row → 2 frame rows, two
    chained Arrow stages, no shuffle anywhere."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    avi_hex = _planted_avi_hex(F.col("doc_id"), F.lit(0))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.unhex(avi_hex).alias("payload"),
    )
    frames = mm.sample_frames(media, max_frames=4)
    # pixel_checksums keys on media_id alone; fold (media, frame) into
    # one id for the kernel pass and unfold after — pure arithmetic.
    packed = frames.select(
        (F.col("media_id") * 4 + F.col("frame_index")).alias("media_id"),
        F.col("frame_payload").alias("payload"),
    )
    cks = mm.pixel_checksums(packed)
    return cks.select(
        F.expr("media_id div 4").alias("media_id"),
        F.pmod("media_id", F.lit(4)).cast("int").alias("frame_index"),
        "width", "height", "px_sum", "px_wsum",
    )


def _mjpg_avi_parts_hex() -> tuple[str, str, str]:
    """Constant hex segments of the planted 2-frame Motion-JPEG AVI.
    Each '00dc' chunk carries one complete DC-only baseline JPEG —
    the SAME fixture family as multimodal_jpeg_decode (constant
    marker prefix ``_jpeg_dc_header_hex``, 5-byte entropy stream,
    EOI) — so only the two 40-bit entropy streams vary per row.
    Returns (prefix, mid, suffix): payload = prefix + ent0 + mid +
    ent1 + suffix. strf carries biCompression='MJPG' and 16×16
    advisory dims; RIFF chunks are word-aligned per spec (a JPEG of
    odd length gets a pad byte that is NOT counted in the chunk
    size)."""
    jhdr = bytes.fromhex(_jpeg_dc_header_hex())
    jlen = len(jhdr) + 5 + 2  # header + entropy + EOI
    pad = b"\x00" if jlen % 2 else b""
    mjpg = int.from_bytes(b"MJPG", "little")

    def chunk_hdr(cid: bytes, n: int) -> bytes:
        return cid + n.to_bytes(4, "little")

    strh = chunk_hdr(b"strh", 56) + b"vidsMJPG" + b"\x00" * 48
    strf = (
        chunk_hdr(b"strf", 40)
        + (40).to_bytes(4, "little")
        + (16).to_bytes(4, "little", signed=True)
        + (16).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + mjpg.to_bytes(4, "little")
        + jlen.to_bytes(4, "little")
        + b"\x00" * 16
    )
    strl = chunk_hdr(b"LIST", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    avih = (
        chunk_hdr(b"avih", 56)
        + (40000).to_bytes(4, "little")
        + b"\x00" * 12
        + (2).to_bytes(4, "little")
        + b"\x00" * 36
    )
    hdrl = chunk_hdr(b"LIST", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    fchunk = len(chunk_hdr(b"00dc", jlen)) + jlen + len(pad)
    movi_hdr = chunk_hdr(b"LIST", 4 + 2 * fchunk) + b"movi"
    riff = b"RIFF" + (
        4 + len(hdrl) + len(movi_hdr) + 2 * fchunk
    ).to_bytes(4, "little") + b"AVI "
    prefix = riff + hdrl + movi_hdr + chunk_hdr(b"00dc", jlen) + jhdr
    mid = b"\xff\xd9" + pad + chunk_hdr(b"00dc", jlen) + jhdr
    suffix = b"\xff\xd9" + pad
    return prefix.hex().upper(), mid.hex().upper(), suffix.hex().upper()


@register(
    "multimodal_avi_mjpeg_frames",
    """
WITH vids AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
    WHERE doc_id % 3 = 1
), fr AS (
    SELECT media_id, seed, unnest([0, 1]) AS f FROM vids
), d AS (
    SELECT media_id, f,
           list_transform(generate_series(0, 3),
               b -> CASE WHEN b % 2 = 0
                         THEN 32 + (seed * 13 + b * 7 + f * 5) % 32
                         ELSE -(32 + (seed * 13 + b * 7 + f * 5) % 32)
                    END) AS diffs
    FROM fr
), px AS (
    SELECT media_id, f,
           list_transform(generate_series(1, 4),
               b -> 128 + list_sum(diffs[1:b])) AS bp
    FROM d
)
SELECT media_id,
       CAST(f AS INT) AS frame_index,
       16 AS width, 16 AS height,
       CAST(64 * list_sum(bp) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 255),
            k -> (k + 1) * bp[(k // 128) * 2 + ((k % 16) // 8) + 1]))
            AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "video", "jpeg"),
)
def q_multimodal_avi_mjpeg_frames(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL Motion-JPEG video decode end-to-end, zero codec libraries
    — r12's extension of the de-stubbed ffmpeg seam from uncompressed
    AVI (multimodal_avi_frames) to the first COMPRESSED video codec:
    complete valid MJPG AVIs (strf biCompression='MJPG', movi with two
    '00dc' chunks each holding a complete DC-only baseline JPEG of the
    multimodal_jpeg_decode fixture family, frame index folded into the
    DC diffs) are built in column algebra, frame-decoded by
    decode_avi_frames routing each chunk through the in-container
    Huffman+IDCT kernel (sources/multimodal.decode_jpeg_array),
    re-encoded as valid PGM, and round-tripped through the netpbm
    decoder for position-weighted integer pixel checksums. The oracle
    recomputes the four flat 8×8 blocks per frame arithmetically (a
    DC-only block IDCTs to exactly dc·Q00/8 + 128 = dc + 128) and
    never sees a byte — one wrong bit in marker parsing, RIFF walking,
    Huffman decode, DC prediction, or MCU placement hash-mismatches
    the row. 1 media row → 2 frame rows, two chained Arrow stages, no
    shuffle anywhere. Reference contrast: the reference's only JPEG
    artifact is the OCR page raster (data_ingestion.py:148-155); here
    the same kernel decodes whole video streams."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    seed = F.col("seed")
    pre, mid, suf = _mjpg_avi_parts_hex()

    def ent_hex(f: int):
        # 40-bit entropy stream of frame f: four 10-bit DC-only blocks
        # (3-bit cat-6 code '110', 6 magnitude bits, 1-bit EOB); diffs
        # alternate sign so the cumulative DC stays clamp-free.
        block_bits = []
        for b in range(4):
            m = F.lit(32) + F.pmod(seed * 13 + b * 7 + f * 5, F.lit(32))
            bits6 = m if b % 2 == 0 else F.lit(63) - m
            block_bits.append(F.lit(0b110 << 7) + bits6 * 2)
        v40 = (
            block_bits[0].cast("long") * F.lit(1 << 30)
            + block_bits[1].cast("long") * F.lit(1 << 20)
            + block_bits[2].cast("long") * F.lit(1 << 10)
            + block_bits[3].cast("long")
        )
        return F.lpad(F.hex(v40), 10, "0")

    avi_hex = F.concat(
        F.lit(pre), ent_hex(0), F.lit(mid), ent_hex(1), F.lit(suf)
    )
    media = corpus.select(
        "media_id",
        F.lit("video").alias("kind"),
        F.unhex(avi_hex).alias("payload"),
    )
    frames = mm.sample_frames(media, max_frames=4)
    packed = frames.select(
        (F.col("media_id") * 4 + F.col("frame_index")).alias("media_id"),
        F.col("frame_payload").alias("payload"),
    )
    cks = mm.pixel_checksums(packed)
    return cks.select(
        F.expr("media_id div 4").alias("media_id"),
        F.pmod("media_id", F.lit(4)).cast("int").alias("frame_index"),
        "width", "height", "px_sum", "px_wsum",
    )


@register(
    "multimodal_mp4_samples",
    """
WITH m AS (
    SELECT doc_id AS media_id,
           (doc_id % 9 + 1) * 100 AS ts,
           (doc_id % 10 + 1) * 100 AS d1,
           (doc_id % 50) * 16 + 256 AS base
    FROM documents
), s AS (
    SELECT media_id, ts, d1, base,
           list_transform(generate_series(0, 5),
               i -> (media_id * 13 + i * 7) % 1000 + 100) AS sz
    FROM m
), e AS (
    SELECT media_id, ts, d1, base, sz,
           unnest(generate_series(0, 5)) AS i
    FROM s
)
SELECT media_id,
       CAST(i AS INT) AS sample_index,
       CAST((CASE WHEN i < 3 THEN i * d1
                  ELSE 3 * d1 + (i - 3) * (d1 + 50) END) * 1000 // ts
            AS BIGINT) AS dts_ms,
       CAST(sz[i + 1] AS BIGINT) AS sample_size,
       CAST(CASE WHEN i < 3
                 THEN base + CASE WHEN i >= 1 THEN sz[1] ELSE 0 END
                           + CASE WHEN i >= 2 THEN sz[2] ELSE 0 END
                 ELSE base + sz[1] + sz[2] + sz[3] + 32
                           + CASE WHEN i >= 4 THEN sz[4] ELSE 0 END
                           + CASE WHEN i >= 5 THEN sz[5] ELSE 0 END
            END AS BIGINT) AS byte_offset
FROM e
""",
    tags=("multimodal", "decode", "video"),
)
def q_multimodal_mp4_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF sample-table planning end-to-end — the
    metadata-only step a 100 TB video pipeline runs instead of
    decoding: complete valid MP4 structures (moov→trak→mdia with mdhd
    timescale, and an stbl carrying run-length stts, per-sample stsz,
    stsc chunk runs, and stco chunk offsets — all doc_id-derived) are
    built in column algebra, pushed through the Arrow mapInPandas
    stage, and walked back into per-sample (dts, size, absolute byte
    offset) rows by the pure-byte kernel
    (sources/multimodal.mp4_sample_table): two stts runs exercise the
    run-length expansion, two 3-sample chunks exercise the stsc×stco
    composition with intra-chunk size accumulation across a 32-byte
    inter-chunk gap. The oracle recomputes every row arithmetically
    from the planted formulas — a kernel that misreads a table stride,
    forgets the chunk gap, or mis-expands a run hash-mismatches
    immediately. 1 media row → 6 sample rows, one narrow Arrow stage,
    no shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    be4 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    ts = (F.col("doc_id") % 9 + 1) * 100
    d1 = (F.col("doc_id") % 10 + 1) * 100
    base = (F.col("doc_id") % 50) * 16 + 256

    def _sz(i: int):
        return (F.col("doc_id") * 13 + i * 7) % 1000 + 100

    chunk2 = base + _sz(0) + _sz(1) + _sz(2) + 32
    mp4_hex = F.concat(
        F.lit("000000106674797069736F6D00000000"),      # ftyp isom
        F.lit("000000C86D6F6F76"),                      # moov (200)
        F.lit("000000C07472616B"),                      # trak (192)
        F.lit("000000B86D646961"),                      # mdia (184)
        F.lit("000000206D646864" + "00000000" * 3),     # mdhd v0
        be4(ts), F.lit("00000000" * 2),                 # timescale, dur/lang
        F.lit("000000906D696E66"),                      # minf (144)
        F.lit("000000887374626C"),                      # stbl (136)
        F.lit("0000002073747473" + "00000000"), be4(F.lit(2)),   # stts
        be4(F.lit(3)), be4(d1), be4(F.lit(3)), be4(d1 + 50),
        F.lit("0000002C7374737A" + "00000000"),         # stsz
        be4(F.lit(0)), be4(F.lit(6)),
        *[be4(_sz(i)) for i in range(6)],
        F.lit("0000001C73747363" + "00000000"), be4(F.lit(1)),   # stsc
        be4(F.lit(1)), be4(F.lit(3)), be4(F.lit(1)),
        F.lit("000000187374636F" + "00000000"), be4(F.lit(2)),   # stco
        be4(base), be4(chunk2),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(mp4_hex).alias("payload")
    )
    return mm.mp4_sample_plan(media, max_samples=16)


@register(
    "multimodal_pcm_resample",
    """
WITH waves AS (
    SELECT doc_id AS media_id,
           list_transform(generate_series(0, 23),
               j -> ((doc_id * 37 + ((j * 8) // 3) * 13) % 2001 - 1000)) AS v
    FROM documents WHERE doc_id % 5 = 0
)
SELECT media_id,
       CAST(24 AS INT) AS n_samples,
       CAST(list_max(list_transform(v, x -> abs(x))) AS INT) AS peak_abs,
       CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS energy
FROM waves
""",
    tags=("multimodal", "decode", "audio", "resize"),
)
def q_multimodal_pcm_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample end-to-end — the waveform sibling of
    multimodal_resize_pixels: complete valid 64-sample 8 kHz PCM WAVs
    (the multimodal_wav_pcm_stats planting) are REALLY resampled to
    3 kHz by the nearest-neighbor kernel
    (sources/multimodal.resample_wav — bytes in, valid WAV bytes out,
    output sample j takes source sample j·8 div 3, a deliberately
    non-integer rate ratio), then round-tripped through the real PCM
    decoder for integer sample stats. The oracle recomputes the
    24-sample resampled waveform arithmetically from the planted
    formula — a resampler with an off-by-one index map, a broken
    output header, or float rounding hash-mismatches immediately. Two
    chained Arrow mapInPandas stages, no shuffle."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    v = lambda i: (F.col("doc_id") * 37 + i * 13) % 2001 - 1000  # noqa: E731
    u16 = lambda i: (v(i) + 65536) % 65536  # noqa: E731  two's complement
    data_hex = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(63)), lambda i: _le_hex(u16(i), 2)
        ),
    )
    wav_hex = F.concat(
        F.lit("52494646"),            # 'RIFF'
        _le_hex(F.lit(128 + 36), 4),  # riff size
        F.lit("57415645"),            # 'WAVE'
        F.lit("666D7420"),            # 'fmt '
        _le_hex(F.lit(16), 4),        # fmt chunk size
        _le_hex(F.lit(1), 2),         # PCM
        _le_hex(F.lit(1), 2),         # mono
        _le_hex(F.lit(8000), 4),      # sample rate
        _le_hex(F.lit(16000), 4),     # byte rate
        _le_hex(F.lit(2), 2),         # block align
        _le_hex(F.lit(16), 2),        # bits/sample
        F.lit("64617461"),            # 'data'
        _le_hex(F.lit(128), 4),       # data size = 64 int16 samples
        data_hex,
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(wav_hex).alias("payload")
    )
    return mm.pcm_stats(mm.resample_audio(media, 3000))


@register(
    "multimodal_video_phash",
    """
WITH corpus AS (
    SELECT doc_id AS media_id, doc_id AS seed, 0 AS shift FROM documents
    WHERE doc_id % 3 = 2
    UNION ALL
    SELECT doc_id + 5000000 AS media_id, doc_id AS seed, 8 AS shift
    FROM documents WHERE doc_id % 3 = 2 AND doc_id % 10 = 0
), fr AS (
    SELECT media_id, seed, shift, unnest([0, 1]) AS f FROM corpus
), px AS (
    SELECT media_id, f,
           list_transform(generate_series(0, 15),
               k -> (seed * 31 + f * 97 + k * (7 + seed % 11)) % 240
                    + shift) AS p
    FROM fr
), ph AS (
    SELECT media_id, f,
           list_sum(list_transform(generate_series(0, 15),
               k -> CASE WHEN p[k + 1] * 16 > list_sum(p)
                         THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS phash
    FROM px
), sig AS (
    SELECT media_id,
           max(CASE WHEN f = 0 THEN phash END) AS phash0,
           max(CASE WHEN f = 1 THEN phash END) AS phash1
    FROM ph GROUP BY media_id
)
SELECT CAST(phash0 AS BIGINT) AS phash0,
       CAST(phash1 AS BIGINT) AS phash1,
       min(media_id) AS canonical_media_id,
       count(*) AS n_copies
FROM sig
GROUP BY phash0, phash1
""",
    tags=("multimodal", "dedup", "phash", "video"),
)
def q_multimodal_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup VIDEO dedup over REALLY decoded frames, end-to-end with
    zero codec libraries — the video composition of
    multimodal_phash_dedup: complete uncompressed AVIs are built in
    column algebra (every 10th video also appears as a +8-brightness
    clone — byte-distinct, so md5/exact dedup misses it, but provably
    average-hash-invariant), REALLY frame-decoded by
    sources/multimodal.decode_avi_frames via sample_frames, each frame
    pixel-decoded and reduced to an integer average-hash, and videos
    grouped by their (frame0, frame1) hash signature — clones collapse
    onto their originals through actual pixel math, not metadata. The
    oracle recomputes both frame hashes arithmetically from the
    planted raster formula. One shuffle on the signature; everything
    before it is narrow Arrow stages."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    ).select("doc_id")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("shift"),
    )
    clones = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5000000).alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(8).alias("shift"),
    )
    corpus = base.unionByName(clones)
    media = corpus.select(
        "media_id",
        F.lit("video").alias("kind"),
        F.unhex(
            _planted_avi_hex(F.col("seed"), F.col("shift"))
        ).alias("payload"),
    )
    frames = mm.sample_frames(media, max_frames=4)
    packed = frames.select(
        (F.col("media_id") * 4 + F.col("frame_index")).alias("media_id"),
        F.col("frame_payload").alias("payload"),
    )
    hashes = mm.perceptual_hashes(packed, grid=4).select(
        F.expr("media_id div 4").alias("vid"),
        F.pmod("media_id", F.lit(4)).cast("int").alias("f"),
        "phash",
    )
    sig = hashes.groupBy("vid").agg(
        F.max(F.when(F.col("f") == 0, F.col("phash"))).alias("phash0"),
        F.max(F.when(F.col("f") == 1, F.col("phash"))).alias("phash1"),
    )
    return sig.groupBy("phash0", "phash1").agg(
        F.min("vid").alias("canonical_media_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "web_warc_records",
    """
WITH d AS (SELECT doc_id, text, lang FROM documents)
SELECT doc_id AS media_id,
       0 AS rec_index,
       'response' AS warc_type,
       'https://corpus.example/doc/' || doc_id AS target_uri,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       md5(text) AS body_hash
FROM d
UNION ALL
SELECT doc_id,
       1,
       'metadata',
       'https://corpus.example/doc/' || doc_id,
       CAST(octet_length(encode('lang=' || lang)) AS BIGINT),
       md5('lang=' || lang)
FROM d
""",
    tags=("multimodal", "web", "source"),
    bench=True,
)
def q_web_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WARC (ISO 28500 / Common Crawl) shard parsing end-to-end —
    the source format a web-scale pretraining corpus actually arrives
    in: spec-shaped WARC shards are built in column algebra (per doc, a
    'response' record carrying the document text and a 'metadata'
    record, each with a version line, CRLF headers, Content-Length
    framing, and the two-CRLF record separator), pushed through the
    Arrow mapInPandas stage, and walked back into per-record rows by
    the pure-byte parser (sources/web.warc_records). Record bodies are
    compared by md5 against the oracle's direct hash of the planted
    text — a parser that miscounts Content-Length, eats the separator,
    or mis-splits headers hash-mismatches immediately. 1 shard row →
    2 record rows, one narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources import web

    d = load_table(spark, sf_dir, "documents")
    uri = F.concat(F.lit("https://corpus.example/doc/"), F.col("doc_id"))
    meta_body = F.concat(F.lit("lang="), F.col("lang"))

    def _rec(wtype: str, body):
        return F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: " + wtype),
            F.lit("\r\nWARC-Target-URI: "), uri,
            F.lit("\r\nContent-Length: "), F.length(body),
            F.lit("\r\n\r\n"), body, F.lit("\r\n\r\n"),
        )

    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.concat(_rec("response", F.col("text")), _rec("metadata", meta_body)),
            "UTF-8",
        ).alias("payload"),
    )
    return web.warc_manifest(media).select(
        "media_id", "rec_index", "warc_type", "target_uri",
        "content_length", F.md5("body").alias("body_hash"),
    )


@register(
    "web_warcgz_members",
    """
WITH m AS (
    SELECT doc_id AS media_id, unnest([0, 1, 2]) AS member_index
    FROM documents
), r AS (
    SELECT media_id, member_index,
           'https://corpus.example/doc/' || media_id || '/' || member_index
               AS target_uri,
           CAST(media_id % 7 + member_index * 3 + 5 AS BIGINT)
               AS content_length
    FROM m
), u AS (
    SELECT *,
           CAST(length(
               'WARC/1.0' || chr(13) || chr(10) ||
               'WARC-Type: response' || chr(13) || chr(10) ||
               'WARC-Target-URI: ' || target_uri || chr(13) || chr(10) ||
               'Content-Length: ' || content_length || chr(13) || chr(10) ||
               chr(13) || chr(10)) + content_length + 4 AS BIGINT)
               AS decomp_size
    FROM r
)
SELECT media_id,
       CAST(member_index AS INT) AS member_index,
       CAST(COALESCE(SUM(decomp_size + 23) OVER (
            PARTITION BY media_id ORDER BY member_index
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS "offset",
       decomp_size + 23 AS comp_size,
       decomp_size,
       'response' AS warc_type,
       target_uri,
       content_length
FROM u
""",
    tags=("multimodal", "web", "source"),
)
def q_web_warcgz_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ``.warc.gz`` member-range walk end-to-end — the framing
    actual Common Crawl shards use (one gzip member per WARC record,
    concatenated): per doc, THREE complete gzip members are built in
    column algebra (10-byte header, stored-deflate block, CRC32 via
    F.crc32 + ISIZE trailer — which ``zlib.decompressobj(31)``
    VERIFIES on the decode side, so one wrong byte truncates the
    walk), then walked back by sources/web.warc_gz_members into exact
    (offset, comp_size, decomp_size) byte ranges + inflated WARC
    header fields. The oracle recomputes every byte range
    arithmetically from the planted record shapes (member size =
    uncompressed record + 23 bytes of gzip/deflate framing; offsets as
    a running sum) — a walker that misreads ISIZE, miscounts
    unused_data, or drops a member hash-mismatches immediately. 1
    shard row → 3 member rows, one narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources import web

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def member_hex(mi: int):
        uri = F.concat(
            F.lit("https://corpus.example/doc/"),
            F.col("doc_id").cast("string"),
            F.lit(f"/{mi}"),
        )
        body = F.repeat(
            F.lit("x"), (F.col("doc_id") % 7 + F.lit(mi * 3 + 5)).cast("int")
        )
        rec = F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
            uri,
            F.lit("\r\nContent-Length: "),
            F.length(body).cast("string"),
            F.lit("\r\n\r\n"),
            body,
            F.lit("\r\n\r\n"),
        )
        rb = F.encode(rec, "UTF-8")
        u = F.length(rb)
        return F.concat(
            # gzip header: magic, CM=8, no flags, mtime 0, XFL 0, OS 255
            F.lit("1F8B08000000000000FF"),
            # stored-deflate block (BFINAL=1): 0x01, LEN, NLEN
            F.lit("01"),
            _le_hex(u, 2),
            _le_hex(65535 - u, 2),
            F.hex(rb),
            # gzip trailer: CRC32 then ISIZE, both little-endian
            _le_hex(F.crc32(rb), 4),
            _le_hex(u, 4),
        )

    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.concat(member_hex(0), member_hex(1), member_hex(2))
        ).alias("payload"),
    )
    return web.warc_gz_manifest(media)


@register(
    "web_url_normalize",
    """
SELECT 'https://' || source || '.example.com/docs/' || doc_id
           || '?id=' || (doc_id % 100) AS canonical_url,
       doc_id * 10 AS canonical_media_id,
       CAST(3 AS BIGINT) AS n_variants
FROM documents
""",
    tags=("web", "dedup"),
)
def q_web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup — the normalization
    pass every crawl pipeline runs before URL-level dedup: three messy
    variants of each document's URL (clean; uppercased scheme+host with
    utm_* tracking params and a fragment; www-prefixed with a ref=
    param) are normalized entirely in column algebra — lowercase
    scheme/host, strip the www. prefix, drop the fragment, remove
    utm_*/ref= tracking params, re-sort surviving params — and grouped
    by canonical form. All three variants MUST collapse to one row per
    document: the oracle states the expected canonical URL directly
    (independent ground truth — a normalizer that forgets a step
    leaves >1 group per doc and fails the row count, one that
    over-strips fails the hash). One shuffle on the canonical key;
    everything before it is scan-side codegen, no UDFs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    base = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?id="), F.col("doc_id") % 100,
    )
    messy = F.concat(
        F.lit("HTTPS://WWW."), F.upper(F.col("source")),
        F.lit(".EXAMPLE.COM/docs/"), F.col("doc_id"),
        F.lit("?utm_source=feed&id="), F.col("doc_id") % 100,
        F.lit("&utm_campaign=x#sec"), F.col("doc_id") % 7,
    )
    www = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?id="), F.col("doc_id") % 100,
        F.lit("&ref=home"),
    )
    variants = None
    for v, raw in enumerate((base, messy, www)):
        part = d.select(
            (F.col("doc_id") * 10 + v).alias("media_id"), raw.alias("raw")
        )
        variants = part if variants is None else variants.unionByName(part)

    scheme = F.lower(
        F.regexp_extract("raw", r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(
                "raw", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1
            )
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_extract(
        "raw", r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    query = F.regexp_extract("raw", r"\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "")
            & ~F.startswith(x, F.lit("utm_"))
            & ~F.startswith(x, F.lit("ref=")),
        )
    )
    qjoin = F.array_join(kept, "&")
    canonical = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qjoin != "", F.concat(F.lit("?"), qjoin)).otherwise(F.lit("")),
    )
    return (
        variants.select("media_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("media_id").alias("canonical_media_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


@register(
    "archive_tar_manifest",
    """
SELECT doc_id AS media_id,
       'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || 'a.txt' AS name,
       CAST(64 AS BIGINT) AS size,
       CAST(512 AS BIGINT) AS byte_offset
FROM documents
UNION ALL
SELECT doc_id,
       'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || 'b.bin',
       CAST(doc_id % 400 + 64 AS BIGINT),
       CAST(1536 AS BIGINT)
FROM documents
""",
    tags=("multimodal", "web", "source"),
    bench=True,
)
def q_archive_tar_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL tar (WebDataset-shard) manifest extraction end-to-end:
    complete valid POSIX ustar archives — two members per document
    (a fixed-size .txt and a variable-size .bin), every header field
    spec-shaped INCLUDING the octal checksum, which is recomputed in
    column algebra as a constant base plus the digit sums of the two
    varying fields (name digits, octal size digits) — are built with
    hex/encode column functions, pushed through the Arrow mapInPandas
    stage, and walked back into (name, size, absolute byte offset)
    rows by the checksum-VERIFYING kernel
    (sources/archive.tar_members). The oracle states every member
    arithmetically — a walker that mis-sizes the 512-byte blocks,
    mis-parses octal, or a planting whose checksum math is off by one
    byte fails immediately (the kernel rejects bad checksums). The
    kernel itself is independently pinned against stdlib tarfile
    output in test_sources.py. 1 shard row → 2 member rows, one
    narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources import archive

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    digits = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    dsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: F.substring(digits, i, 1).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    size_b = F.col("doc_id") % 400 + 64  # 64..463: always 3 octal digits
    oct_b = F.conv(size_b.cast("string"), 10, 8)
    osum_b = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(3)),
            lambda i: F.substring(oct_b, i, 1).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )

    # byte sum of every constant header field (mode/uid/gid, the size
    # field's 8 leading zeros + NUL, mtime, checksum-as-spaces,
    # typeflag '0', magic+version) plus 'd' and the 8 lpad-zero floor
    # of the name digits = the checksum base (_TAR_CHK_BASE + suffix
    # byte sum + size-field octal digit sum); the data-dependent terms
    # are the name digit sum and the size octal digit sum.
    CHK_A = 4017  # base + "a.txt"(495) + osum(1); + dsum
    CHK_B = 3978  # base + "b.bin"(457); + dsum + osum_b

    hdr_a = _tar_header_hex(
        digits, "a.txt", F.lit("00000000100"), F.lit(CHK_A) + dsum
    )
    hdr_b = _tar_header_hex(
        digits,
        "b.bin",
        F.concat(F.lit("00000000"), oct_b),
        F.lit(CHK_B) + dsum + osum_b,
    )
    tar_hex = F.concat(
        hdr_a,
        F.lit("78" * 64 + "00" * 448),                # member a + padding
        hdr_b,
        F.repeat(F.lit("79"), size_b.cast("int")),    # member b content
        F.repeat(F.lit("00"), (F.lit(512) - size_b).cast("int")),
        F.lit("00" * 1024),                           # end-of-archive
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(tar_hex).alias("payload")
    )
    return archive.tar_manifest(media).where(F.col("typeflag") == "0").select(
        "media_id", "name", "size", "byte_offset"
    )


@register(
    "multimodal_mp4_keyframes",
    """
WITH m AS (
    SELECT doc_id AS media_id,
           (doc_id % 9 + 1) * 100 AS ts,
           (doc_id % 10 + 1) * 100 AS d1,
           (doc_id % 50) * 16 + 256 AS base,
           (doc_id % 4) + 2 AS key0
    FROM documents
), s AS (
    SELECT media_id, ts, d1, base, key0,
           list_transform(generate_series(0, 5),
               i -> (media_id * 13 + i * 7) % 1000 + 100) AS sz
    FROM m
), e AS (
    SELECT media_id, ts, d1, base, sz, unnest([0, key0]) AS i FROM s
)
SELECT media_id,
       CAST(i AS INT) AS sample_index,
       CAST((CASE WHEN i < 3 THEN i * d1
                  ELSE 3 * d1 + (i - 3) * (d1 + 50) END) * 1000 // ts
            AS BIGINT) AS dts_ms,
       CAST(sz[i + 1] AS BIGINT) AS sample_size,
       CAST(CASE WHEN i < 3
                 THEN base + CASE WHEN i >= 1 THEN sz[1] ELSE 0 END
                           + CASE WHEN i >= 2 THEN sz[2] ELSE 0 END
                 ELSE base + sz[1] + sz[2] + sz[3] + 32
                           + CASE WHEN i >= 4 THEN sz[4] ELSE 0 END
                           + CASE WHEN i >= 5 THEN sz[5] ELSE 0 END
            END AS BIGINT) AS byte_offset
FROM e
""",
    tags=("multimodal", "decode", "video"),
)
def q_multimodal_mp4_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe-only sampling plan — the multimodal_mp4_samples walk
    plus the optional 'stss' sync-sample table (ISO 14496-12 §8.6.2):
    planted MP4s carry an stss marking 1-based samples 1 and
    (doc_id%4)+3 as random-access points, and ``sync_only=True``
    filters the per-sample plan to exactly those two rows — the "fetch
    only frames a sampler can decode independently" plan, still
    metadata-only. The oracle enumerates the two expected keyframes
    per document with the same dts/size/offset arithmetic, so an
    off-by-one in the 1-based stss indexing surfaces as a wrong
    sample_index immediately."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    be4 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    ts = (F.col("doc_id") % 9 + 1) * 100
    d1 = (F.col("doc_id") % 10 + 1) * 100
    base = (F.col("doc_id") % 50) * 16 + 256
    key1 = (F.col("doc_id") % 4) + 3  # 1-based second keyframe: 3..6

    def _sz(i: int):
        return (F.col("doc_id") * 13 + i * 7) % 1000 + 100

    chunk2 = base + _sz(0) + _sz(1) + _sz(2) + 32
    mp4_hex = F.concat(
        F.lit("000000106674797069736F6D00000000"),      # ftyp isom
        F.lit("000000E06D6F6F76"),                      # moov (224)
        F.lit("000000D87472616B"),                      # trak (216)
        F.lit("000000D06D646961"),                      # mdia (208)
        F.lit("000000206D646864" + "00000000" * 3),     # mdhd v0
        be4(ts), F.lit("00000000" * 2),                 # timescale, dur/lang
        F.lit("000000A86D696E66"),                      # minf (168)
        F.lit("000000A07374626C"),                      # stbl (160)
        F.lit("0000002073747473" + "00000000"), be4(F.lit(2)),   # stts
        be4(F.lit(3)), be4(d1), be4(F.lit(3)), be4(d1 + 50),
        F.lit("0000002C7374737A" + "00000000"),         # stsz
        be4(F.lit(0)), be4(F.lit(6)),
        *[be4(_sz(i)) for i in range(6)],
        F.lit("0000001C73747363" + "00000000"), be4(F.lit(1)),   # stsc
        be4(F.lit(1)), be4(F.lit(3)), be4(F.lit(1)),
        F.lit("000000187374636F" + "00000000"), be4(F.lit(2)),   # stco
        be4(base), be4(chunk2),
        F.lit("0000001873747373" + "00000000"), be4(F.lit(2)),   # stss
        be4(F.lit(1)), be4(key1),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(mp4_hex).alias("payload")
    )
    return mm.mp4_sample_plan(media, max_samples=16, sync_only=True)


@register(
    "web_html_extract",
    """
SELECT doc_id AS media_id,
       'Doc ' || doc_id AS title,
       CAST(length(trim(regexp_replace(
           'Doc ' || doc_id || ' Doc ' || doc_id || ' ' || text
               || ' A & B <tag> "q"',
           '[ \t\n\r]+', ' ', 'g'))) AS BIGINT) AS n_chars,
       md5(trim(regexp_replace(
           'Doc ' || doc_id || ' Doc ' || doc_id || ' ' || text
               || ' A & B <tag> "q"',
           '[ \t\n\r]+', ' ', 'g'))) AS text_hash
FROM documents
""",
    tags=("web", "text"),
)
def q_web_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction — THE first transform of a web-crawl
    pretraining pipeline: spec-shaped HTML pages are built around each
    document's text (title, a script block containing '<' and quotes,
    a style block, headings, an entity-bearing footer) and reduced to
    clean text entirely in scan-side column algebra: strip
    script/style blocks (dotall non-greedy), replace tags with spaces,
    decode the common entities (&lt;/&gt;/&quot; first, &amp; LAST so
    nothing double-decodes), collapse whitespace. The oracle assembles
    the expected text from the planted parts directly — it never sees
    the HTML — so an extractor that lets script text leak, eats
    content around tags, or double-decodes entities hash-mismatches
    immediately. Narrow codegen end-to-end, no UDFs, no shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id"),
        F.lit('</title><script type="text/javascript">if (x < 2) '
              '{ alert("no"); }</script><style>p { color: red; }'
              "</style></head><body><h1>Doc "),
        F.col("doc_id"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><footer>A &amp; B &lt;tag&gt; &quot;q&quot;'
              "</footer></body></html>"),
    )
    title = F.regexp_extract(html, r"<title>([^<]*)</title>", 1)
    no_blocks = F.regexp_replace(
        F.regexp_replace(html, r"(?s)<script.*?</script>", " "),
        r"(?s)<style.*?</style>",
        " ",
    )
    no_tags = F.regexp_replace(no_blocks, r"<[^>]+>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(
                F.replace(no_tags, F.lit("&lt;"), F.lit("<")),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&quot;"),
            F.lit('"'),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    clean = F.trim(F.regexp_replace(decoded, r"[ \t\n\r]+", " "))
    return d.select(
        F.col("doc_id").alias("media_id"),
        title.alias("title"),
        F.length(clean).cast("long").alias("n_chars"),
        F.md5(clean).alias("text_hash"),
    )


@register(
    "archive_zip_manifest",
    """
SELECT doc_id AS media_id,
       'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || 'a.txt' AS name,
       CAST(0 AS INT) AS method,
       CAST(64 AS BIGINT) AS size,
       CAST(64 AS BIGINT) AS compressed_size,
       CAST(44 AS BIGINT) AS byte_offset
FROM documents
UNION ALL
SELECT doc_id,
       'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || 'b.bin',
       CAST(0 AS INT),
       CAST(doc_id % 400 + 64 AS BIGINT),
       CAST(doc_id % 400 + 64 AS BIGINT),
       CAST(152 AS BIGINT)
FROM documents
""",
    tags=("multimodal", "web", "source"),
)
def q_archive_zip_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ZIP central-directory walk end-to-end — the zip sibling of
    archive_tar_manifest: complete valid ZIP archives (two STORED
    members per document with real CRC-32s — the variable member's
    checksum computed in column algebra via F.crc32 over the planted
    bytes — local headers, central directory, EOCD) are built with
    hex/encode functions, pushed through the Arrow mapInPandas stage,
    and listed back by the pure-byte kernel
    (sources/archive.zip_members), which resolves every member's DATA
    offset through its local header like a real extractor. The oracle
    states each member arithmetically — wrong EOCD arithmetic,
    central-entry strides, or local-header skips all surface as
    offset/size mismatches. Kernel independently pinned against stdlib
    zipfile output (stored + deflated) in test_sources.py."""
    from data_ingestion_py_spark.sources import archive

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    digits = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    size_b = F.col("doc_id") % 400 + 64
    name_hex = lambda sfx: F.hex(  # noqa: E731
        F.encode(F.concat(F.lit("d"), digits, F.lit(sfx)), "UTF-8")
    )
    body_b_hex = F.repeat(F.lit("79"), size_b.cast("int"))
    crc_b = F.crc32(F.unhex(body_b_hex))
    CRC_A = 0x3AD2AC12  # zlib.crc32(b'x' * 64)

    def _local(crc, sz, name_h):
        return F.concat(
            F.lit("504B0304" + "1400" + "0000" + "0000" + "00000000"),
            _le_hex(crc, 4), _le_hex(sz, 4), _le_hex(sz, 4),
            F.lit("0E00" + "0000"), name_h,
        )

    def _central(crc, sz, local_off, name_h):
        return F.concat(
            F.lit("504B0102" + "1400" + "1400" + "0000" + "0000"
                  + "00000000"),
            _le_hex(crc, 4), _le_hex(sz, 4), _le_hex(sz, 4),
            F.lit("0E00" + "0000" + "0000" + "0000" + "0000"
                  + "00000000"),
            _le_hex(local_off, 4), name_h,
        )

    cd_off = F.lit(152) + size_b
    zip_hex = F.concat(
        _local(F.lit(CRC_A), F.lit(64), name_hex("a.txt")),
        F.lit("78" * 64),
        _local(crc_b, size_b, name_hex("b.bin")),
        body_b_hex,
        _central(F.lit(CRC_A), F.lit(64), F.lit(0), name_hex("a.txt")),
        _central(crc_b, size_b, F.lit(108), name_hex("b.bin")),
        F.lit("504B0506" + "0000" + "0000" + "0200" + "0200"),
        _le_hex(F.lit(120), 4), _le_hex(cd_off, 4), F.lit("0000"),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(zip_hex).alias("payload")
    )
    return archive.zip_manifest(media).select(
        "media_id", "name", "method", "size", "compressed_size",
        "byte_offset",
    )


@register(
    "archive_tfrecord_manifest",
    """
SELECT doc_id AS media_id,
       CAST(0 AS INT) AS rec_index,
       CAST(64 AS BIGINT) AS length,
       CAST(12 AS BIGINT) AS byte_offset
FROM documents
UNION ALL
SELECT doc_id,
       CAST(1 AS INT),
       CAST(doc_id % 400 + 64 AS BIGINT),
       CAST(92 AS BIGINT)
FROM documents
""",
    tags=("multimodal", "web", "source"),
)
def q_archive_tfrecord_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TFRecord shard walk end-to-end — the framing TensorFlow
    training shards use (uint64 length + masked CRC-32C of the length
    bytes + data + masked CRC-32C of the data): two-record shards are
    planted per document — a fixed 64-byte record and a variable one —
    with VALID checksums (the 400 possible variable-record CRCs are
    computed at plan-build time with the repo's own crc32c, which is
    itself pinned against the RFC 3720 check value in test_sources.py,
    and planted via a broadcast literal lookup array), pushed through
    the Arrow mapInPandas stage, and walked back with verification ON
    by sources/archive.tfrecord_records. The oracle states both
    records' (length, absolute data offset) arithmetically — framing
    arithmetic bugs (the 12-byte header, the +4 trailer) mis-place the
    second record immediately, and since TFRecord has no magic, a CRC
    mismatch anywhere yields missing rows, failing the row count."""
    import struct

    from data_ingestion_py_spark.sources import archive
    from data_ingestion_py_spark.sources.archive import masked_crc32c

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    size_b = F.col("doc_id") % 400 + 64
    ln8 = struct.pack("<Q", 64)
    rec_a_hex = (
        ln8
        + struct.pack("<I", masked_crc32c(ln8))
        + b"x" * 64
        + struct.pack("<I", masked_crc32c(b"x" * 64))
    ).hex()
    len_crcs = F.array(
        *[
            F.lit(masked_crc32c(struct.pack("<Q", n)))
            for n in range(64, 464)
        ]
    )
    data_crcs = F.array(
        *[F.lit(masked_crc32c(b"y" * n)) for n in range(64, 464)]
    )
    idx = (size_b - 63).cast("int")
    shard_hex = F.concat(
        F.lit(rec_a_hex),
        _le_hex(size_b, 8),
        _le_hex(F.element_at(len_crcs, idx), 4),
        F.repeat(F.lit("79"), size_b.cast("int")),
        _le_hex(F.element_at(data_crcs, idx), 4),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(shard_hex).alias("payload")
    )
    return archive.tfrecord_manifest(media, verify=True).select(
        "media_id", "rec_index", "length", "byte_offset"
    )


def _tar_digit_sum(s, n: int):
    """Integer sum of the first ``n`` decimal/octal digit characters
    of string column ``s`` (the data-dependent terms of a planted tar
    header checksum)."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(n)),
            lambda i: F.substring(s, i, 1).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


# byte sum of the constant fields of the planted ustar headers ('d' +
# eight lpad-zero name digits floor, mode/uid/gid, size-field zero
# floor, mtime, checksum-as-spaces, typeflag, magic+version); a
# header's full checksum = this + suffix byte sum + name digit sum +
# size octal digit sum.
_TAR_CHK_BASE = 3521


def _tar_header_hex(digits, suffix: str, size_oct11, chk):
    """Hex of one complete 512-byte ustar header for member
    ``d<digits><suffix>`` with the 11-octal-digit size field and the
    (column-computed) checksum."""

    def _hx(s: str) -> str:  # constant ASCII -> hex literal
        return s.encode().hex()

    name_hex = F.hex(
        F.encode(F.concat(F.lit("d"), digits, F.lit(suffix)), "UTF-8")
    )
    name_pad = 100 - (1 + 8 + len(suffix))  # 'd' + 8 digits + suffix
    chk_hex = F.hex(
        F.encode(F.lpad(F.conv(chk.cast("string"), 10, 8), 6, "0"), "UTF-8")
    )
    return F.concat(
        name_hex, F.lit("00" * name_pad),                # name[100]
        F.lit(_hx("0000644\0" + "0000000\0" * 2)),       # mode/uid/gid
        F.hex(F.encode(size_oct11, "UTF-8")), F.lit("00"),  # size[12]
        F.lit(_hx("00000000000") + "00"),                # mtime[12]
        chk_hex, F.lit("0020"),                          # chksum "%06o\\0 "
        F.lit("30"),                                     # typeflag '0'
        F.lit("00" * 100),                               # linkname
        F.lit(_hx("ustar") + "00" + _hx("00")),          # magic+version
        F.lit("00" * 247),                               # uname..prefix
    )


@register(
    "archive_tar_member_decode",
    """
WITH px AS (
    SELECT doc_id AS media_id,
           list_transform(generate_series(0, 15),
               k -> (doc_id * 29 + k * (11 + doc_id % 7)) % 251) AS p
    FROM documents
)
SELECT media_id, 4 AS width, 4 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 15),
                k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "web", "source", "decode"),
)
def q_archive_tar_member_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-range plan CLOSED END-TO-END — shard → manifest →
    range-read → real decode in one query: tar shards are planted
    whose second member is a valid 4×4 binary PGM, the
    checksum-verifying walker produces the member manifest, the
    manifest joins back to the shard store (the 'fetch' step — at
    scale, a byte-range GET per member; here, substring on the binary
    column with the MANIFEST's offset and size), and the sliced bytes
    go through the real netpbm pixel decoder for integer checksums.
    The oracle recomputes the pixels arithmetically — if the walker's
    offsets were wrong by even one byte, the slice isn't a valid PGM
    and every row nulls out. One media_id-keyed join (manifest ×
    store); everything else is narrow Arrow stages."""
    from data_ingestion_py_spark.sources import archive

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    digits = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    dsum = _tar_digit_sum(digits, 8)

    pgm_hdr_hex = b"P5\n4 4\n255\n".hex()  # 11 bytes; + 16 pixels = 27

    def _pix_hex(k: int):
        v = (F.col("doc_id") * 29 + k * (11 + F.col("doc_id") % 7)) % 251
        return F.lpad(F.hex(v), 2, "0")

    pgm_hex = F.concat(F.lit(pgm_hdr_hex), *[_pix_hex(k) for k in range(16)])
    # checksum: base + "p.pgm"(482) + size-27 octal "033" digit sum (6)
    hdr_a = _tar_header_hex(
        digits, "a.txt", F.lit("00000000100"), F.lit(4017) + dsum
    )
    hdr_p = _tar_header_hex(
        digits, "p.pgm", F.lit("00000000033"), F.lit(4009) + dsum
    )
    tar_hex = F.concat(
        hdr_a, F.lit("78" * 64 + "00" * 448),
        hdr_p, pgm_hex, F.lit("00" * 485),
        F.lit("00" * 1024),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(tar_hex).alias("payload")
    )
    manifest = archive.tar_manifest(media).where(
        F.col("name").endswith(".pgm")
    )
    fetched = manifest.join(media, "media_id").select(
        "media_id",
        F.expr("substring(payload, byte_offset + 1, size)").alias("payload"),
    )
    return mm.pixel_checksums(fetched)


@register(
    "archive_webdataset_samples",
    """
SELECT doc_id AS media_id,
       'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS sample_key,
       CAST(2 AS BIGINT) AS n_members,
       CAST(64 + doc_id % 400 + 64 AS BIGINT) AS total_bytes,
       'bin,txt' AS exts
FROM documents
""",
    tags=("multimodal", "web", "source"),
)
def q_archive_webdataset_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset SAMPLE assembly — the semantic layer above the tar
    manifest: in WebDataset, members sharing a basename stem form one
    training sample (0001.jpg + 0001.txt + 0001.json = one
    image/caption/meta triple). Planted shards carry two same-stem
    members per document (.txt fixed-size, .bin variable); the
    checksum-verified walk produces the manifest, and sample assembly
    is pure column algebra on member names — stem/extension split on
    the LAST dot, groupBy (shard, stem), member count, byte total, and
    the sorted extension set (the completeness check a loader uses to
    drop partial samples). The oracle states each sample
    arithmetically. One groupBy shuffle at sample grain — at corpus
    scale this is the index a WebDataset loader shuffles and shards
    by, built without reading member bytes."""
    from data_ingestion_py_spark.sources import archive

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    digits = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    dsum = _tar_digit_sum(digits, 8)
    size_b = F.col("doc_id") % 400 + 64
    oct_b = F.conv(size_b.cast("string"), 10, 8)
    osum_b = _tar_digit_sum(oct_b, 3)
    # checksum = _TAR_CHK_BASE + suffix byte sum + osum:
    #   ".txt" = 398 (+ osum 1 for size-64); ".bin" = 359 (+ osum_b)
    hdr_a = _tar_header_hex(
        digits, ".txt", F.lit("00000000100"), F.lit(3920) + dsum
    )
    hdr_b = _tar_header_hex(
        digits,
        ".bin",
        F.concat(F.lit("00000000"), oct_b),
        F.lit(3880) + dsum + osum_b,
    )
    tar_hex = F.concat(
        hdr_a, F.lit("78" * 64 + "00" * 448),
        hdr_b,
        F.repeat(F.lit("79"), size_b.cast("int")),
        F.repeat(F.lit("00"), (F.lit(512) - size_b).cast("int")),
        F.lit("00" * 1024),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(tar_hex).alias("payload")
    )
    manifest = archive.tar_manifest(media).where(F.col("typeflag") == "0")
    stem = F.regexp_extract("name", r"^(.*)\.[^.]+$", 1)
    ext = F.regexp_extract("name", r"\.([^.]+)$", 1)
    return (
        manifest.select("media_id", stem.alias("sample_key"),
                        ext.alias("ext"), "size")
        .groupBy("media_id", "sample_key")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("size").alias("total_bytes"),
            F.array_join(F.array_sort(F.collect_list("ext")), ",").alias(
                "exts"
            ),
        )
    )


@register(
    "archive_avro_blocks",
    """
SELECT doc_id AS media_id,
       CAST(0 AS INT) AS block_index,
       CAST(doc_id % 50 + 1 AS BIGINT) AS n_records,
       CAST(doc_id % 60 + 1 AS BIGINT) AS size,
       CAST(44 AS BIGINT) AS byte_offset
FROM documents
UNION ALL
SELECT doc_id,
       CAST(1 AS INT),
       CAST(doc_id % 30 + 1 AS BIGINT),
       CAST(40 AS BIGINT),
       CAST(62 + doc_id % 60 + 1 AS BIGINT)
FROM documents
""",
    tags=("multimodal", "web", "source"),
)
def q_archive_avro_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Avro Object Container File walk end-to-end — the
    block-level split plan an Avro source builds before touching a
    record, without the reader jar: spec-shaped OCFs are planted per
    document (magic, a string→bytes metadata map holding avro.schema,
    the 16-byte sync marker, two data blocks with zigzag-varint record
    counts and sizes — values kept under 64 so each varint is one
    planted byte; multi-byte and negative-map-count varint paths are
    pinned separately in pytest/hypothesis), pushed through the Arrow
    mapInPandas stage, and walked back by the sync-VERIFYING kernel
    (sources/archive.avro_blocks). The oracle states every block's
    (record count, size, absolute data offset) arithmetically —
    varint, map-walk, or sync arithmetic bugs surface as missing rows
    or wrong offsets immediately."""
    from data_ingestion_py_spark.sources import archive

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # constant header: Obj\x01 + map{avro.schema: "bytes"} + term + sync
    sync = bytes(range(16))
    hdr = (
        b"Obj\x01"
        + bytes([2])                      # map count 1 (zigzag)
        + bytes([22]) + b"avro.schema"    # key len 11 (zigzag 22)
        + bytes([14]) + b'"bytes"'        # val len 7 (zigzag 14)
        + bytes([0])                      # map terminator
        + sync
    )
    assert len(hdr) == 42
    n1 = F.col("doc_id") % 50 + 1
    s1 = F.col("doc_id") % 60 + 1
    n2 = F.col("doc_id") % 30 + 1
    zz1 = lambda c: F.lpad(F.hex(c * 2), 2, "0")  # noqa: E731  1-byte zigzag
    avro_hex = F.concat(
        F.lit(hdr.hex()),
        zz1(n1), zz1(s1),
        F.repeat(F.lit("7A"), s1.cast("int")),     # block 1: 'z' * s1
        F.lit(sync.hex()),
        zz1(n2), zz1(F.lit(40)),
        F.lit("77" * 40),                          # block 2: 'w' * 40
        F.lit(sync.hex()),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(avro_hex).alias("payload")
    )
    return archive.avro_block_manifest(media).select(
        "media_id", "block_index", "n_records", "size", "byte_offset"
    )


@register(
    "parquet_footer_audit",
    """
SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS num_rows
FROM customer
UNION ALL
SELECT 'events', CAST(count(*) AS BIGINT) FROM events
UNION ALL
SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
""",
    tags=("multimodal", "source", "dq"),
)
def q_parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL parquet footer decode end-to-end, oracle-gated as a
    metadata-vs-content audit: the fixture tables' parquet files are
    read as OPAQUE BINARIES (binaryFile source — the engine never uses
    its parquet reader here), the thrift-compact FileMetaData footer
    is walked by the pure-byte kernel
    (sources/archive.parquet_row_groups — the split plan every parquet
    scan starts from), and each table's row count is reconstructed by
    summing PER-ROW-GROUP num_rows from the manifest. The oracle
    counts the actual rows through DuckDB's own parquet reader — two
    completely independent implementations of the format must agree,
    at every scale factor. A varint, field-id-delta, or
    list-header bug in the thrift walk mis-sums immediately. The
    footer walk reads ~KB per file regardless of data size — the
    metadata-only audit shape that stays O(files) at 100 TB."""
    from data_ingestion_py_spark.sources import archive

    tables = ["customer", "events", "lineitem", "orders"]
    media = None
    for i, t in enumerate(tables):
        part = (
            spark.read.format("binaryFile")
            .load(f"{sf_dir}/{t}.parquet")
            .select(
                F.lit(i).cast("long").alias("media_id"),
                F.col("content").alias("payload"),
            )
        )
        media = part if media is None else media.unionByName(part)
    name = F.element_at(
        F.array(*[F.lit(t) for t in tables]),
        (F.col("media_id") + 1).cast("int"),
    )
    return (
        archive.parquet_rg_manifest(media)
        .groupBy("media_id")
        .agg(F.sum("num_rows").alias("num_rows"))
        .select(name.alias("table_name"), "num_rows")
    )


@register(
    "tensors_safetensors_index",
    """
WITH t AS (
    SELECT doc_id, doc_id % 20 + 1 AS n1 FROM documents
), h AS (
    SELECT doc_id, n1,
           8 + length(
               '{"doc_' || doc_id || '.bias":{"dtype":"F32","shape":[8],'
               || '"data_offsets":[' || n1 * 32 || ',' || n1 * 32 + 32
               || ']},"doc_' || doc_id || '.emb":{"dtype":"F32","shape":['
               || n1 || ',8],"data_offsets":[0,' || n1 * 32 || ']}}'
           ) AS base
    FROM t
)
SELECT doc_id AS media_id,
       'doc_' || doc_id || '.bias' AS tensor_name,
       'F32' AS dtype,
       '8' AS shape,
       CAST(base + n1 * 32 AS BIGINT) AS begin,
       CAST(base + n1 * 32 + 32 AS BIGINT) AS "end"
FROM h
UNION ALL
SELECT doc_id,
       'doc_' || doc_id || '.emb',
       'F32',
       n1 || 'x8',
       CAST(base AS BIGINT),
       CAST(base + n1 * 32 AS BIGINT)
FROM h
""",
    tags=("multimodal", "source", "tensors"),
)
def q_tensors_safetensors_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL safetensors parse end-to-end — the format model weights
    and embedding shards actually ship in: complete valid safetensors
    payloads are built in column algebra (a JSON header naming a
    bias + an embedding tensor with doc_id-derived shapes and
    data_offsets, the 8-byte little-endian header length taken from
    the CONSTRUCTED string's length, then the declared tensor bytes),
    pushed through the Arrow mapInPandas stage, and indexed back by
    the kernel (sources/archive.safetensors_index) into absolute
    byte ranges — what lets a 100 TB embedding store fetch exactly one
    tensor out of a multi-GB shard. The oracle constructs the SAME
    header string and derives every offset from its length
    arithmetically — it never parses bytes — so length-prefix, JSON,
    or offset-rebasing bugs mismatch immediately."""
    from data_ingestion_py_spark.sources import archive

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n1 = F.col("doc_id") % 20 + 1
    hdr = F.concat(
        F.lit('{"doc_'), F.col("doc_id"),
        F.lit('.bias":{"dtype":"F32","shape":[8],"data_offsets":['),
        n1 * 32, F.lit(","), n1 * 32 + 32,
        F.lit(']},"doc_'), F.col("doc_id"),
        F.lit('.emb":{"dtype":"F32","shape":['), n1,
        F.lit(',8],"data_offsets":[0,'), n1 * 32, F.lit("]}}"),
    )
    payload_hex = F.concat(
        _le_hex(F.length(hdr).cast("long"), 8),
        F.hex(F.encode(hdr, "UTF-8")),
        F.repeat(F.lit("00"), (n1 * 32 + 32).cast("int")),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(payload_hex).alias("payload"),
    )
    return archive.safetensors_manifest(media).select(
        "media_id",
        "tensor_name",
        "dtype",
        F.array_join("shape", "x").alias("shape"),
        "begin",
        "end",
    )


@register(
    "multimodal_flac_duration",
    """
SELECT doc_id AS media_id,
       'audio' AS kind,
       CAST(((doc_id * 11) % 500000 + 1000) * 1000
            // ((doc_id % 5) * 8000 + 8000) AS BIGINT) AS duration_ms
FROM documents
""",
    tags=("multimodal", "decode", "audio"),
)
def q_multimodal_flac_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC header decode end-to-end (the third audio container
    after WAV and MP4): valid fLaC STREAMINFO blocks are built in
    column algebra — the spec's bit-packed sample_rate(20 bits) /
    channels(3) / bits-per-sample(5) / total_samples(36) group planted
    as ONE 64-bit integer (rate·2⁴⁴ | 1·2⁴¹ | 15·2³⁶ | total, hex'd to
    16 digits) with doc_id-derived rate and sample count — pushed
    through the Arrow mapInPandas probe and parsed back by the
    pure-byte kernel (media_duration_ms). The oracle recomputes
    total_samples·1000 div sample_rate arithmetically, so a bit-shift,
    block-walk, or 36-bit-mask bug hash-mismatches immediately."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    rate = ((F.col("doc_id") % 5) * 8000 + 8000).cast("long")
    total = ((F.col("doc_id") * 11) % 500000 + 1000).cast("long")
    packed = (
        rate * F.lit(1 << 44).cast("long")
        + F.lit((1 << 41) + (15 << 36)).cast("long")
        + total
    )
    flac_hex = F.concat(
        F.lit("664C6143"),            # 'fLaC'
        F.lit("80000022"),            # last-block | STREAMINFO, len 34
        F.lit("1000" * 2),            # min/max blocksize 4096
        F.lit("000000" * 2),          # min/max framesize
        F.lpad(F.hex(packed), 16, "0"),
        F.lit("00" * 16),             # md5 placeholder
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.unhex(flac_hex).alias("payload"),
    )
    return mm.probe_metadata(media).select("media_id", "kind", "duration_ms")


def _flac_fixture_parts() -> dict:
    """Constant segments + CRC-16 linearity tables for the planted
    2-frame FLAC fixtures (frame 0: blocksize-16 CONSTANT subframe
    with value v0 ∈ [0,128); frame 1 — the legally-short last frame —
    blocksize-4 VERBATIM with samples s1..s4 ∈ [0,128)). FLAC's frame
    CRC-16 (poly 0x8005, init 0, no xor-out) is GF(2)-LINEAR, so the
    CRC of a mostly-constant frame is a constant base XOR one toggle
    mask per varying bit: crc = base ⊕ ⊕_{set bits} T — T for a bit
    with tz trailing zero BYTES is crc16(one-hot byte + tz zero
    bytes). That makes the whole payload, CRCs included, expressible
    in column algebra. CRC functions are the decoder's own, pinned
    against published check values in tests/test_flac.py so a wrong
    polynomial cannot cancel between planting and decoding."""
    crc8, crc16 = mm._crc8_flac, mm._crc16_flac
    si = bytearray(b"fLaC")
    body = (16).to_bytes(2, "big") * 2 + b"\x00\x00\x00" * 2
    body += ((8000 << 44) | (0 << 41) | (15 << 36) | 20).to_bytes(8, "big")
    body += b"\x00" * 16
    si += bytes([0x80]) + len(body).to_bytes(3, "big") + body
    # frame 0: sync+reserved FF F8, bs_code 6 | sr 0 -> 0x60,
    # chan 0 | ss 100 | res -> 0x08, frame_no 0, blocksize-1 = 15
    h0 = b"\xff\xf8\x60\x08\x00\x0f"
    f0_const = h0 + bytes([crc8(h0)]) + b"\x00"  # + 00 v0 crc16
    h1 = b"\xff\xf8\x60\x08\x01\x03"
    f1_const = h1 + bytes([crc8(h1)]) + b"\x02"  # + (00 sj)*4 crc16
    base0 = crc16(f0_const + b"\x00\x00")
    t0 = [crc16(bytes([1 << i])) for i in range(7)]
    base1 = crc16(f1_const + b"\x00" * 8)
    t1 = [
        [crc16(bytes([1 << i]) + b"\x00" * (2 * (4 - j))) for i in range(7)]
        for j in range(1, 5)
    ]
    return {
        "pre0": (si + f0_const + b"\x00").hex().upper(),
        "base0": base0,
        "t0": t0,
        "h1": f1_const.hex().upper(),
        "base1": base1,
        "t1": t1,
    }


@register(
    "multimodal_flac_decode",
    """
WITH w AS (
    SELECT doc_id AS media_id,
           (doc_id * 29) % 128 AS v0,
           list_transform(generate_series(1, 4),
               j -> (doc_id * 13 + j * 37) % 128) AS s
    FROM documents WHERE doc_id % 5 = 2
)
SELECT media_id,
       CAST(20 AS INT) AS n_samples,
       CAST(greatest(v0, list_max(s)) AS INT) AS peak_abs,
       CAST(16 * v0 * v0
            + list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS energy
FROM w
""",
    tags=("multimodal", "decode", "audio", "flac"),
)
def q_multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC sample decode end-to-end, no audio library — r12's
    closure of the lossless-audio seam (FLAC is the 'PNG of audio'):
    complete VALID two-frame FLAC streams are built in column algebra
    — STREAMINFO (8 kHz mono 16-bit, 20 total samples), a
    blocksize-16 CONSTANT subframe carrying a seeded value, and a
    legally-short blocksize-4 VERBATIM last frame carrying four
    seeded samples — including BOTH integrity fields: the constant
    frame-header CRC-8s and the per-row frame CRC-16s, synthesized in
    column algebra via the CRC's GF(2) linearity (constant base XOR a
    toggle mask per varying bit; see _flac_fixture_parts). The
    decoder (sources/multimodal.decode_flac_samples) must get the
    metadata walk, frame-header bit layout, UTF-8 frame numbers, both
    CRC verifications, subframe typing, and sample reconstruction ALL
    right — any wrong bit nulls the row (CRC gate) or mismatches the
    energy. The oracle recomputes the 20 samples arithmetically and
    never sees a byte. FIXED/LPC predictors, Rice partitions, escapes,
    and wasted bits are pinned against an independent encoder in
    tests/test_flac.py. One narrow Arrow stage, no shuffle."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 2)
    parts = _flac_fixture_parts()
    v0 = (F.col("doc_id") * 29) % 128
    s = [(F.col("doc_id") * 13 + j * 37) % 128 for j in range(1, 5)]

    def crc_hex(base: int, toggles, vals) -> "F.Column":
        crc = F.lit(base)
        for tbl, v in zip(toggles, vals):
            for i, mask in enumerate(tbl):
                crc = crc.bitwiseXOR(
                    F.when(F.shiftright(v, i) % 2 == 1, F.lit(mask))
                    .otherwise(F.lit(0))
                )
        return F.lpad(F.hex(crc), 4, "0")

    flac_hex = F.concat(
        F.lit(parts["pre0"]),                     # ... + 00 (v0 high byte)
        F.lpad(F.hex(v0), 2, "0"),
        crc_hex(parts["base0"], [parts["t0"]], [v0]),
        F.lit(parts["h1"]),
        F.concat(*[
            F.concat(F.lit("00"), F.lpad(F.hex(sj), 2, "0")) for sj in s
        ]),
        crc_hex(parts["base1"], parts["t1"], s),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"), F.unhex(flac_hex).alias("payload")
    )
    return mm.pcm_stats(media)


@register(
    "multimodal_webp_dims",
    """
SELECT doc_id AS media_id,
       ['vp8', 'vp8l', 'vp8x'][CAST(doc_id % 3 AS INT) + 1] AS variant,
       CAST(doc_id % 600 + 8 AS INT) AS width,
       CAST(doc_id % 400 + 8 AS INT) AS height
FROM documents
""",
    tags=("multimodal", "decode"),
)
def q_multimodal_webp_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP dimension probe end-to-end (r12): build all THREE WebP
    bitstream variants in column algebra — 'VP8 ' lossy (frame tag +
    9D 01 2A start code + uint14 LE dims), 'VP8L' lossless (0x2F
    signature + the 14+14-bit packed width-1/height-1 field), and
    'VP8X' extended (flag bytes + 24-bit LE canvas dims) — with
    doc_id-derived dimensions, push the bytes through the Arrow
    mapInPandas probe, and header-parse (width, height) back with the
    pure-byte kernel (sources/multimodal.image_dimensions). The oracle
    recomputes the planted dims arithmetically, so a bitfield-shift,
    endianness, or chunk-offset bug in any variant hash-mismatches.
    WebP is the #2 web image format — at 100 TB this prices out an
    image corpus (resize plans, aspect filters) reading ≤30 header
    bytes per item."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    w = (doc % 600 + 8).cast("int")
    h = (doc % 400 + 8).cast("int")
    vp8_hx = F.concat(
        F.lit("52494646"), _le_hex(F.lit(22), 4), F.lit("57454250"),
        F.lit("56503820"), _le_hex(F.lit(10), 4),
        F.lit("000000" "9D012A"),  # key-frame tag + start code
        _le_hex(w, 2), _le_hex(h, 2),
    )
    bits = (w - 1).cast("long") + (h - 1).cast("long") * 16384
    vp8l_hx = F.concat(
        F.lit("52494646"), _le_hex(F.lit(13), 4), F.lit("57454250"),
        F.lit("5650384C"), _le_hex(F.lit(5), 4),
        F.lit("2F"), _le_hex(bits, 4),
    )
    vp8x_hx = F.concat(
        F.lit("52494646"), _le_hex(F.lit(18), 4), F.lit("57454250"),
        F.lit("56503858"), _le_hex(F.lit(10), 4),
        F.lit("00000000"),  # flags + reserved
        _le_hex(w - 1, 3), _le_hex(h - 1, 3),
    )
    hx = (
        F.when(doc % 3 == 0, vp8_hx)
        .when(doc % 3 == 1, vp8l_hx)
        .otherwise(vp8x_hx)
    )
    media = d.select(
        doc.alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(hx).alias("payload"),
    )
    variant = F.element_at(
        F.array(F.lit("vp8"), F.lit("vp8l"), F.lit("vp8x")),
        (F.col("media_id") % 3 + 1).cast("int"),
    )
    return mm.probe_metadata(media).select(
        "media_id", variant.alias("variant"), "width", "height"
    )


@register(
    "multimodal_aac_duration",
    """
SELECT doc_id AS media_id,
       'audio' AS kind,
       CAST((doc_id % 6 + 2) * (doc_id % 2 + 1) * 1024 * 1000
            // ([96000, 88200, 64000, 48000, 44100, 32000, 24000,
                 22050, 16000, 12000, 11025, 8000, 7350]
                [CAST(doc_id % 13 AS INT) + 1]) AS BIGINT) AS duration_ms
FROM documents
""",
    tags=("multimodal", "decode", "audio"),
)
def q_multimodal_aac_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AAC ADTS duration walk end-to-end (r12, the fourth compressed
    audio container after MP3/Vorbis/Opus): build complete ADTS streams
    in column algebra — (doc%6 + 2) frames whose 7-byte headers carry a
    doc-derived sampling-frequency index (all 13 table entries
    exercised), a doc-derived raw-data-block count (1 or 2 blocks per
    frame, so the ×1024-samples-per-block rule is load-bearing), and a
    fixed 23-byte frame length the kernel must step EXACTLY or the
    walk desyncs to None — then parse duration back with the pure-byte
    kernel (sources/multimodal._adts_duration_ms via media_duration_ms;
    the layer-bits dispatch distinguishes ADTS from MP3 on the shared
    0xFFF sync). The oracle recomputes nf·blocks·1024·1000 div rate
    arithmetically and never sees a byte."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    sfi = (doc % 13).cast("int")
    rdb = (doc % 2).cast("int")  # raw_data_blocks - 1
    media = (
        d.withColumn("nf", (doc % 6 + 2).cast("int"))
        .withColumn(
            "frame_hex",
            F.concat(
                F.lit("FFF1"),  # sync + MPEG-4 + layer 00 + no CRC
                F.lpad(F.hex(F.lit(0x40) + sfi * 4), 2, "0"),  # LC,sfi,1ch
                F.lit("40" "02" "E0"),  # ch low bits + frame length 23
                F.lpad(F.hex(rdb), 2, "0"),  # fullness low + rdb count
                F.lit("00" * 16),  # raw data payload
            ),
        )
        .select(
            doc.alias("media_id"),
            F.lit("audio").alias("kind"),
            F.unhex(F.expr("repeat(frame_hex, nf)")).alias("payload"),
        )
    )
    return mm.probe_metadata(media).select("media_id", "kind", "duration_ms")


@register(
    "multimodal_exif_meta",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'tiff' END AS container,
       CAST(doc_id % 8 + 1 AS INT) AS orientation,
       'CAM' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS make,
       'Mk' || CAST(doc_id % 10 AS VARCHAR) AS model,
       CAST(doc_id % 4000 + 16 AS INT) AS exif_width,
       CAST(doc_id % 3000 + 16 AS INT) AS exif_height
FROM documents
""",
    tags=("multimodal", "decode"),
)
def q_multimodal_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction end-to-end (r12): build complete TIFF
    IFD structures in column algebra — IFD0 with Make (ASCII, 6 bytes,
    stored at an absolute OFFSET past the directories — the >4-byte
    indirection path), Model (ASCII, 4 bytes, stored INLINE in the
    value field), Orientation (SHORT, doc%8+1 — all eight EXIF
    orientations exercised), and the Exif sub-IFD pointer (34665),
    whose directory carries PixelXDimension as a LONG and
    PixelYDimension as a SHORT (both left-justification rules
    load-bearing) — wrapped for even docs in a JPEG APP1 'Exif\\0\\0'
    segment (little-endian 'II' body) and for odd docs as a bare
    big-endian 'MM' TIFF, so both byte orders AND both container
    paths of sources/multimodal.exif_metadata are on the hash. The
    oracle recomputes every field arithmetically. Orientation is the
    field a 100 TB image pipeline must read before phashing — a
    sideways phone photo dedups against its rotated twin only if this
    stage ran."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    orient = (doc % 8 + 1).cast("int")
    w = (doc % 4000 + 16).cast("int")
    h = (doc % 3000 + 16).cast("int")
    make_s = F.concat(
        F.lit("CAM"), F.lpad((doc % 100).cast("string"), 2, "0")
    )
    model_s = F.concat(F.lit("Mk"), (doc % 10).cast("string"))
    # Fixed layout: 8-byte header, IFD0 (4 entries) at 8 ending at 62,
    # Exif sub-IFD (2 entries) at 62 ending at 92, Make bytes at 92.
    ii_hex = F.concat(
        F.lit("49492A00" "08000000"),
        F.lit("0400"),
        F.lit("0F01" "0200" "06000000" "5C000000"),          # Make @92
        F.lit("1001" "0200" "04000000"), F.hex(model_s), F.lit("00"),
        F.lit("1201" "0300" "01000000"), _le_hex(orient, 2), F.lit("0000"),
        F.lit("6987" "0400" "01000000" "3E000000"),          # ExifIFD @62
        F.lit("00000000"),
        F.lit("0200"),
        F.lit("02A0" "0400" "01000000"), _le_hex(w, 4),
        F.lit("03A0" "0300" "01000000"), _le_hex(h, 2), F.lit("0000"),
        F.lit("00000000"),
        F.hex(make_s), F.lit("00"),
    )
    mm_hex = F.concat(
        F.lit("4D4D002A" "00000008"),
        F.lit("0004"),
        F.lit("010F" "0002" "00000006" "0000005C"),
        F.lit("0110" "0002" "00000004"), F.hex(model_s), F.lit("00"),
        F.lit("0112" "0003" "00000001"), F.lpad(F.hex(orient), 4, "0"),
        F.lit("0000"),
        F.lit("8769" "0004" "00000001" "0000003E"),
        F.lit("00000000"),
        F.lit("0002"),
        F.lit("A002" "0004" "00000001"), F.lpad(F.hex(w), 8, "0"),
        F.lit("A003" "0003" "00000001"), F.lpad(F.hex(h), 4, "0"),
        F.lit("0000"),
        F.lit("00000000"),
        F.hex(make_s), F.lit("00"),
    )
    # JPEG wrap: APP1 length = 2 (len field) + 6 (Exif\0\0) + 98 (TIFF)
    jpeg_hex = F.concat(
        F.lit("FFD8" "FFE1" "006A" "457869660000"), ii_hex, F.lit("FFD9")
    )
    media = d.select(
        doc.alias("media_id"),
        F.unhex(
            F.when(doc % 2 == 0, jpeg_hex).otherwise(mm_hex)
        ).alias("payload"),
    )
    container = F.when(F.col("media_id") % 2 == 0, "jpeg").otherwise("tiff")
    return mm.exif_probe(media).select(
        "media_id",
        container.alias("container"),
        "orientation",
        "make",
        "model",
        "exif_width",
        "exif_height",
    )


def _jpeg_prog_header_hex() -> tuple[str, str]:
    """(prefix, suffix) hex around the 4-byte DC-first entropy stream
    of the planted PROGRESSIVE JPEGs: prefix = SOI + DQT(Q00=8) + SOF2
    (16×16 gray) + the same custom DC table as the baseline query + a
    1-symbol AC table whose single code '0' is EOB2 (symbol 0x20) +
    the first SOS (DC scan, Ah=0, Al=1). suffix = the DC refinement
    scan (Ah=1, Al=0; its four 1-bits pad to one 0xFF entropy byte,
    which the encoder must STUFF to FF 00 — the stuffing path is on
    the oracle), the AC first scan (Ss=1, Se=63) whose whole payload
    is one EOB run covering all four blocks ('0' + 2 extra bits = 3
    bits, padded to 0x1F), and EOI."""
    pre = bytearray(b"\xff\xd8")
    pre += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00"
    pre += bytes([8] + [16] * 63)
    pre += (
        b"\xff\xc2" + (11).to_bytes(2, "big") + bytes([8])
        + (16).to_bytes(2, "big") + (16).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    pre += b"\xff\xc4" + (27).to_bytes(2, "big") + b"\x00"
    pre += bytes([0, 0, 7, 1] + [0] * 12) + bytes(range(8))
    pre += b"\xff\xc4" + (20).to_bytes(2, "big") + b"\x10"
    pre += bytes([1] + [0] * 15) + bytes([0x20])
    pre += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0, 0, 0, 0x01])
    suf = bytearray()
    suf += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0, 0, 0, 0x10])
    suf += b"\xff\x00"  # four '1' refinement bits + 1-pad, stuffed
    suf += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0, 1, 63, 0])
    suf += b"\x1f"  # EOB2 code '0' + extra bits '00' + 1-pad
    suf += b"\xff\xd9"
    return pre.hex().upper(), suf.hex().upper()


@register(
    "multimodal_jpeg_progressive",
    """
WITH g AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), d AS (
    SELECT media_id,
           list_transform(generate_series(0, 3),
               b -> CASE WHEN b = 0
                         THEN 2 * (16 + (seed * 13) % 16) + 1
                         WHEN b % 2 = 1
                         THEN -2 * (16 + (seed * 13 + b * 7) % 16)
                         ELSE 2 * (16 + (seed * 13 + b * 7) % 16) END)
               AS diffs
    FROM g
), px AS (
    SELECT media_id,
           list_transform(generate_series(1, 4),
               b -> 128 + list_sum(diffs[1:b])) AS bp
    FROM d
)
SELECT media_id, 16 AS width, 16 AS height,
       CAST(64 * list_sum(bp) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 255),
            k -> (k + 1) * bp[(k // 128) * 2 + ((k % 16) // 8) + 1]))
            AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "jpeg"),
)
def q_multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG decode end-to-end (r12, the SOF2 sibling of
    multimodal_jpeg_decode): complete valid three-scan progressive
    files built in column algebra — a DC first scan at Al=1 carrying
    four diff-coded blocks of the HALVED DC sequence (8 bits each:
    3-bit category-5 code '101' + 5 magnitude bits), a DC refinement
    scan whose four raw bits restore every block's odd low bit (the
    planted DCs are all odd: diff₀ = 2·(16+m₀)+1, later diffs even —
    so the decoder's two's-complement OR of 1<<0 into a possibly
    NEGATIVE int32 DC is on the hash), and an AC first scan that is
    one EOB run covering all four blocks (EOB2 + two extra bits).
    The successive-approximation arithmetic — floor-shift halving,
    point-transform <<Al on the first pass, bit OR on refinement —
    must compose to exactly the planted DC or the flat-block pixels
    dc+128 mismatch the oracle, which recomputes them from the diff
    formula and never sees a byte. Refinement/EOB-run/ZRL paths over
    dense AC spectra, color, and restart markers are pinned in pytest
    against an independent progressive encoder (tests/test_jpeg.py).
    Progressive is the dominant encoding for large web JPEGs — at
    100 TB this is the decode path most real crawl images take."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    seed = F.col("seed")

    def m(b: int):  # magnitude seed of block b, 0..15
        return F.pmod(seed * 13 + b * 7, F.lit(16))

    pre_hex, suf_hex = _jpeg_prog_header_hex()
    block_bytes = []
    for b in range(4):
        # byte = '101' (cat 5) << 5 | bits5; bits5 = v>0 ? v : v+31
        bits5 = (F.lit(16) + m(b)) if b % 2 == 0 else (F.lit(15) - m(b))
        block_bytes.append(F.lpad(F.hex(F.lit(0xA0) + bits5), 2, "0"))
    payload_hex = F.concat(
        F.lit(pre_hex), *block_bytes, F.lit(suf_hex)
    )
    media = corpus.select(
        "media_id", F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


def _tiff_gray_header_hex() -> str:
    """Constant prefix of the planted 16×16 8-bit grayscale TIFFs:
    little-endian header + a 9-entry IFD0 (dims, BitsPerSample 8,
    Compression 1, PhotometricInterpretation 1, SamplesPerPixel 1,
    RowsPerStrip 16, one strip at offset 122 of 256 bytes) — the
    raster follows immediately, so the planted bytes ARE the strip."""
    import struct

    u16 = lambda v: struct.pack("<H", v)  # noqa: E731
    u32 = lambda v: struct.pack("<I", v)  # noqa: E731
    out = b"II" + u16(42) + u32(8) + u16(9)
    for tag, typ, val in (
        (256, 4, 16), (257, 4, 16), (258, 3, 8), (259, 3, 1),
        (262, 3, 1), (273, 4, 122), (277, 3, 1), (278, 4, 16),
        (279, 4, 256),
    ):
        raw = u16(val) if typ == 3 else u32(val)
        out += u16(tag) + u16(typ) + u32(1) + raw.ljust(4, b"\x00")
    out += u32(0)
    assert len(out) == 122
    return out.hex().upper()


@register(
    "multimodal_tiff_decode",
    """
WITH g AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 255),
               k -> (seed * 31 + k * (7 + seed % 11)) % 256) AS p
    FROM g
)
SELECT media_id, 16 AS width, 16 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 255),
            k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "tiff"),
)
def q_multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip-based TIFF raster decode end-to-end (r12): complete valid
    8-bit grayscale TIFFs built in column algebra — the constant
    little-endian header + 9-entry IFD0 prefix, then 256 planted
    raster bytes as the single strip — decoded by the stdlib-only IFD
    walk + strip reassembly (sources/multimodal.decode_tiff_array) and
    checksummed through the Arrow mapInPandas stage. The oracle
    recomputes the planted top-down raster arithmetically (TIFF rows
    are stored top-down, unlike the BMP query's bottom-up fixtures —
    a decoder that flips mismatches the position-weighted checksum).
    Deflate strips (length-capped against bombs), RGB, 16-bit-ColorMap
    palettes, WhiteIsZero inversion, both byte orders, and multi-strip
    reassembly are pinned in pytest against an independent writer.
    TIFF is the scanned-document format — the reference's PDF/OCR
    corpus (data_ingestion.py:116-155) is exactly the population where
    these bytes show up at scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    seed = F.col("seed")
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    step = F.lit(7) + F.pmod(seed, F.lit(11))
    px_bytes = [
        F.lpad(F.hex(F.pmod(seed * 31 + k * step, F.lit(256))), 2, "0")
        for k in range(256)
    ]
    payload_hex = F.concat(F.lit(_tiff_gray_header_hex()), *px_bytes)
    media = corpus.select(
        "media_id", F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


@register(
    "multimodal_id3_tags",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'v2.3' ELSE 'v2.4' END AS ver,
       'T' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS title,
       'A' || CAST(doc_id % 10 AS VARCHAR) AS artist,
       'LP' || CAST(doc_id % 7 AS VARCHAR) AS album,
       CAST(1990 + doc_id % 30 AS VARCHAR) AS year
FROM documents
""",
    tags=("multimodal", "audio"),
)
def q_multimodal_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 text-tag extraction end-to-end (r12, the audio-metadata
    sibling of multimodal_exif_meta): complete ID3v2 containers built
    in column algebra — even docs a v2.3 container (plain big-endian
    frame sizes, latin-1 encoding byte) with TIT2/TPE1/TALB/TYER
    frames, odd docs a v2.4 container (SYNCSAFE frame sizes, UTF-8
    encoding byte, TDRC for the date) — all strings doc-derived, so
    the pure-byte frame walk (sources/multimodal.id3v2_tags) must get
    the container-size bound, both size encodings, both text
    encodings, and the frame-id map right or the row mismatches. The
    oracle recomputes every tag string arithmetically. One narrow
    Arrow stage; at 100 TB this is how an audio corpus groups by
    artist/album without decoding one sample."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    title_s = F.concat(F.lit("T"), F.lpad((doc % 100).cast("string"), 2, "0"))
    artist_s = F.concat(F.lit("A"), (doc % 10).cast("string"))
    album_s = F.concat(F.lit("LP"), (doc % 7).cast("string"))
    year_s = (doc % 30 + 1990).cast("string")

    def fr(fid_hex: str, body_len: int, enc: str, text_col):
        # frame sizes < 128, so the plain-BE and syncsafe encodings
        # coincide byte-for-byte; the header path still differs (v2.4
        # REJECTS high-bit size bytes, pinned in pytest)
        return F.concat(
            F.lit(fid_hex),
            F.lit(f"{body_len:08X}"),
            F.lit("0000"),
            F.lit(enc),
            F.hex(text_col),
        )

    def container(ver_hex: str, enc: str, year_fid: str):
        frames = F.concat(
            fr("54495432", 4, enc, title_s),    # TIT2
            fr("54504531", 3, enc, artist_s),   # TPE1
            fr("54414C42", 4, enc, album_s),    # TALB
            fr(year_fid, 5, enc, year_s),
        )
        return F.concat(
            F.lit("494433" + ver_hex + "00"),  # 'ID3' ver rev flags
            F.lit(f"{0:06X}" + f"{56:02X}"),  # syncsafe container size 56
            frames,
        )

    v23 = container("0300", "00", "54594552")  # TYER, latin-1
    v24 = container("0400", "03", "54445243")  # TDRC, UTF-8
    media = d.select(
        doc.alias("media_id"),
        F.unhex(F.when(doc % 2 == 0, v23).otherwise(v24)).alias("payload"),
    )
    ver = F.when(F.col("media_id") % 2 == 0, "v2.3").otherwise("v2.4")
    return mm.id3_probe(media).select(
        "media_id", ver.alias("ver"), "title", "artist", "album", "year"
    )


def _pdf_template() -> str:
    """``format_string`` template of the planted two-page PDFs: a
    classic-trailer document (catalog, pages node, two pages, two
    uncompressed content streams, an Info dict) whose five %s slots
    are (d6, d2, d6, d2, d6) — page 1 shows text via Tj + T*, page 2
    via a TJ array with kerning numbers the extractor must skip.
    Placeholder widths are fixed, so every /Length is a plan-time
    constant. Literal '%' bytes (header/EOF markers) are %%-escaped."""
    c1 = "BT /F1 12 Tf (Report %s) Tj T* (alpha %s) Tj ET"
    c2 = "BT [(P2-) -120 (%s)] TJ T* (tail %s) Tj ET"
    l1 = len(c1 % ("0" * 6, "00"))
    l2 = len(c2 % ("0" * 6, "00"))

    def obj(num: int, body: str) -> str:
        return f"{num} 0 obj\n{body}\nendobj\n"

    t = "%%PDF-1.7\n"
    t += obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    t += obj(2, "<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>")
    t += obj(3, "<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>")
    t += obj(4, "<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>")
    t += f"5 0 obj\n<< /Length {l1} >>\nstream\n{c1}\nendstream\nendobj\n"
    t += f"6 0 obj\n<< /Length {l2} >>\nstream\n{c2}\nendstream\nendobj\n"
    t += obj(7, "<< /Title (Doc %s) >>")
    t += "trailer\n<< /Size 8 /Root 1 0 R /Info 7 0 R >>\n"
    t += "startxref\n0\n%%%%EOF"
    return t


@register(
    "pdf_pure_text_extract",
    """
WITH g AS (
    SELECT doc_id,
           lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS d6,
           lpad(CAST(doc_id % 37 AS VARCHAR), 2, '0') AS d2
    FROM documents
), p AS (
    SELECT doc_id, d6, d2, unnest([1, 2]) AS pn FROM g
)
SELECT doc_id AS media_id,
       CAST(pn AS INT) AS page_number,
       CASE WHEN pn = 1
            THEN 'Report ' || d6 || chr(10) || 'alpha ' || d2
            ELSE 'P2-' || d6 || chr(10) || 'tail ' || d2
       END AS page_text,
       'Doc ' || d6 AS title,
       'pure-byte' AS extractor
FROM p
""",
    tags=("S1", "pdf"),
)
def q_pdf_pure_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction end-to-end, no fitz (r12): complete
    valid two-page PDFs are built in column algebra from one
    format_string template — catalog → pages → two page objects, two
    uncompressed content streams (page 1 Tj/T*, page 2 a TJ array
    whose kerning numbers must be skipped), and an Info dict — pushed
    through the binaryFile-shaped (path, content) frame into
    ``extract_pages``'s Arrow mapInPandas stage, where the PURE-BYTE
    parser (sources/pdf_pure.py: object scan, page-tree walk, content
    tokenizer) extracts per-page text and the Title. The oracle
    recomputes every page string arithmetically and never sees a PDF
    byte — a wrong /Length step, string-escape bug, page-tree
    mis-order, or operator mix-up mismatches immediately. FlateDecode
    streams, ObjStm, hex/escaped strings, broken /Length recovery,
    encryption refusal, and the deflate-bomb cap are pinned in pytest
    (tests/test_pdf_pure.py). This is the reference's CORE loop
    (data_ingestion.py:110-135) made executable in-container — page
    text from actual PDF bytes, not a UTF-8 stand-in."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d6 = F.lpad((doc % 1000000).cast("string"), 6, "0")
    d2 = F.lpad((doc % 37).cast("string"), 2, "0")
    binary = d.select(
        F.concat(
            F.lit("mem://doc-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.encode(
            F.format_string(_pdf_template(), d6, d2, d6, d2, d6), "UTF-8"
        ).alias("content"),
    )
    from data_ingestion_py_spark.sources.pdf import extract_pages

    pages = extract_pages(binary)
    return pages.select(
        F.regexp_extract("document_name", r"doc-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        F.col("document_metadata").getItem("Title").alias("title"),
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


@register(
    "multimodal_webp_decode",
    """
WITH m AS (
    SELECT doc_id AS media_id,
           40 + doc_id % 150 AS v0,
           list_transform(generate_series(0, 63),
               j -> (doc_id * 13 + j * (3 + doc_id % 7)) % 2) AS bits
    FROM documents
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(64 * v0 + 16 * list_sum(bits) AS BIGINT) AS px_sum,
       CAST(2080 * v0 + 16 * list_sum(list_transform(generate_series(0, 63),
                j -> (j + 1) * bits[j + 1])) AS BIGINT) AS px_wsum
FROM m
""",
    tags=("multimodal", "decode", "webp"),
)
def q_multimodal_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless pixel decode end-to-end — the pure VP8L
    decoder (sources/vp8l.py) closing the #2 web image format with no
    extras: complete valid .webp files built in column algebra (RIFF +
    VP8L chunk; 14+14-bit dims, a SUBTRACT_GREEN transform, a 2-symbol
    simple prefix code for green — canonical: the SMALLER symbol takes
    code 0 — zero-bit single-symbol codes for red/blue residuals,
    alpha 255, and distance, then 64 one-bit pixels). Only three byte
    runs vary per row (the two 8-bit gray symbols straddling bytes 6-8
    and the 8 pixel-bit bytes), so the whole 40-byte file is exact
    column arithmetic. decode_image_pixels routes the bytes
    through decode_webp_array into pixel_checksums; the oracle
    recomputes Σp and Σ(k+1)·p from the planted bits — a decoder that
    flips the canonical symbol order, mis-walks the simple-code
    header, or mis-applies subtract-green position-weight-mismatches.
    LZ77 plane codes, color cache, all 14 predictor modes, palette
    bundling, and meta groups are pinned against an independent
    from-the-spec encoder in tests/test_vp8l.py; WebP ≡ PNG gray
    equality is pinned there too. One narrow Arrow stage, no
    shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    seed = doc

    def bit(j: int) -> "F.Column":
        return F.pmod(seed * 13 + j * (3 + F.pmod(seed, F.lit(7))), F.lit(2))

    media = d.select(
        doc.alias("media_id"),
        F.unhex(_planted_webp_hex(doc % 150 + 40, bit)).alias("payload"),
    )
    return mm.pixel_checksums(media)


def _planted_webp_hex(v0, bit) -> "F.Column":
    """Hex of a COMPLETE valid .webp (RIFF + VP8L) built in column
    algebra: an 8x8 two-gray-value image — SUBTRACT_GREEN transform,
    2-symbol simple prefix code for green (symbols ``v0``/``v0+16``,
    canonical: the smaller takes code 0), zero-bit single-symbol codes
    for the red/blue residuals, alpha 255, and distance, then 64
    one-bit pixels from ``bit(j)``. Everything except the two symbol
    bytes (straddling bytes 6-8) and the 8 pixel-bit bytes is a
    constant hex literal; bit offsets were derived once and are pinned
    against the from-the-spec encoder in tests/test_vp8l.py."""
    v1 = v0 + 16

    def b2(col):
        return F.lpad(F.hex(col), 2, "0")

    pixel_hex = F.concat(
        *[
            b2(
                sum(
                    (bit(r * 8 + j) * (1 << j) for j in range(1, 8)),
                    bit(r * 8),
                )
            )
            for r in range(8)
        ]
    )
    return F.concat(
        F.lit("52494646" "20000000" "57454250" "5650384c" "13000000"),
        F.lit("2f07c00100c5"),                       # dims + transforms
        b2(v0 % 128 * 2 + 1),                        # green tree + v0 lo
        b2(F.shiftright(v0, 7) + v1 % 128 * 2),      # v0 hi + v1 lo
        b2(F.shiftright(v1, 7) + 0x22),              # v1 hi + red/blue
        F.lit("fa1f"),                               # alpha 255 + dist
        pixel_hex,
        F.lit("00"),                                 # RIFF pad byte
    )


@register(
    "multimodal_webp_phash",
    """
WITH corpus AS (
    SELECT doc_id AS media_id, doc_id AS seed, 0 AS shift FROM documents
    UNION ALL
    SELECT doc_id + 3000000 AS media_id, doc_id AS seed, 8 AS shift
    FROM documents WHERE doc_id % 10 = 0
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 63), j ->
               40 + seed % 150 + shift
               + 16 * ((seed * 29 + j * (j + seed % 13)) % 7 % 2)) AS p
    FROM corpus
), bl AS (
    SELECT media_id,
           list_transform(generate_series(0, 15), b ->
               list_sum(list_transform(generate_series(0, 3), k ->
                   p[((b // 4) * 2 + (k // 2)) * 8
                     + (b % 4) * 2 + (k % 2) + 1]))) AS bs
    FROM px
), ph AS (
    SELECT media_id,
           list_sum(list_transform(generate_series(0, 15), b ->
               CASE WHEN bs[b + 1] * 64 > list_sum(bs) * 4
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS phash
    FROM bl
)
SELECT CAST(phash AS BIGINT) AS phash,
       min(media_id) AS canonical_media_id,
       count(*) AS n_copies
FROM ph GROUP BY phash
""",
    tags=("multimodal", "dedup", "phash", "webp"),
)
def q_multimodal_webp_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_phash_dedup with WEBP as input — proof the pure VP8L
    kernel feeds the near-dup pipeline end-to-end: the same planted
    two-value rasters (every 10th doc cloned at +8 brightness —
    byte-distinct, average-hash-invariant by the cross-multiplied
    integer compare) arrive as complete valid .webp files, get decoded
    by decode_webp_array inside perceptual_hashes, and collapse on the
    integer average-hash. The oracle recomputes the hash from the
    planted bits and never sees a byte — the same arithmetic the PGM/
    PNG/GIF/JPEG phash queries pin, which IS the decoder-independence
    claim across all five formats. One shuffle on phash."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("shift"),
    ).unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 3000000).alias("media_id"),
            F.col("doc_id").alias("seed"),
            F.lit(8).alias("shift"),
        )
    )
    seed = F.col("seed")

    def bit(j: int) -> "F.Column":
        # j-quadratic so block sums genuinely vary (a linear-in-j
        # pattern makes every 2x2 block equal and the hash constant)
        return F.pmod(
            F.pmod(seed * 29 + j * (j + F.pmod(seed, F.lit(13))), F.lit(7)),
            F.lit(2),
        )

    media = corpus.select(
        "media_id",
        F.unhex(
            _planted_webp_hex(seed % 150 + 40 + F.col("shift"), bit)
        ).alias("payload"),
    )
    return (
        mm.perceptual_hashes(media, grid=4)
        .groupBy("phash")
        .agg(
            F.min("media_id").alias("canonical_media_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "multimodal_tiff_lzw_decode",
    """
WITH px AS (
    SELECT doc_id AS media_id,
           list_transform(generate_series(0, 15),
               j -> (doc_id * 37 + j * (11 + doc_id % 9)) % 256) AS p
    FROM documents
)
SELECT media_id, 4 AS width, 4 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 15),
                k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "tiff", "lzw"),
)
def q_multimodal_tiff_lzw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF-LZW decode end-to-end (r12): complete valid TIFF 6.0
    files with Compression 5 built in column algebra — a constant
    little-endian header+IFD (strip length is constant because the
    planted stream is all-literal), then a REAL MSB-first LZW stream:
    CLEAR, 16 planted 9-bit literal codes, EOI, bit-packed by emitting
    each stream byte as plan-time-constant bits plus
    ``shiftright(pixel, 8-k) % 2`` terms for the pixel codes (the GIF
    query's planting pattern in the OTHER bit order). Decoded by
    ``lzw_msb_decode`` inside ``decode_tiff_array`` through
    pixel_checksums; the oracle recomputes the planted raster
    arithmetically — one wrong bit in the width/packing/table math
    desyncs the stream and nulls the row (the kernel never guesses).
    Width bumps to 12 bits, CLEAR resets, KwKwK, early-change OFF, and
    the TIFF Predictor-2 path are pinned against an independent
    compressing encoder in test_sources.py; the same kernel decodes
    PDF /LZWDecode streams (test_pdf_pure.py). One narrow Arrow
    stage, no shuffle."""
    import struct

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")

    def p(j: int) -> "F.Column":
        return F.pmod(doc * 37 + j * (11 + F.pmod(doc, F.lit(9))), F.lit(256))

    # constant header + IFD (II, 4x4 gray, comp 5, one 21-byte strip)
    entries = [
        (256, 3, 1, 4), (257, 3, 1, 4), (258, 3, 1, 8), (259, 3, 1, 5),
        (262, 3, 1, 1), (273, 4, 1, None), (277, 3, 1, 1),
        (278, 4, 1, 4), (279, 4, 1, 21),
    ]
    strip_off = 8 + 2 + 12 * len(entries) + 4
    hdr = (
        b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
        + struct.pack("<H", len(entries))
    )
    for tag, typ, cnt, val in entries:
        raw = struct.pack("<H" if typ == 3 else "<I",
                          strip_off if val is None else val)
        hdr += struct.pack("<HHI", tag, typ, cnt) + raw.ljust(4, b"\x00")
    hdr += struct.pack("<I", 0)

    # the 21 stream bytes: 18 MSB-first 9-bit codes CLEAR,p0..p15,EOI
    codes: list = [256] + [("px", j) for j in range(16)] + [257]
    byte_cols = []
    for n in range(21):
        const = 0
        terms = []
        for jbit in range(8):
            g = n * 8 + jbit
            if g >= 18 * 9:
                break  # zero padding after EOI
            ci, k = divmod(g, 9)
            weight = 1 << (7 - jbit)
            if isinstance(codes[ci], int):
                const += ((codes[ci] >> (8 - k)) & 1) * weight
            else:
                terms.append(
                    F.pmod(F.shiftright(p(codes[ci][1]), 8 - k), F.lit(2))
                    * weight
                )
        byte_cols.append(
            F.lpad(F.hex(sum(terms, F.lit(const))), 2, "0")
        )
    payload_hex = F.concat(F.lit(hdr.hex()), *byte_cols)
    media = d.select(
        doc.alias("media_id"), F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


# --------------------------------------------------------------- scanned PDFs


def _scanned_pdf_parts(w: int, h: int, jpeg_len: int) -> tuple[str, str]:
    """(prefix_hex, suffix_hex) of the planted one-page scanned PDF
    around its JPEG bytes: catalog → pages → one page whose /Contents
    paints /Im0 and says NOTHING in text operators (so the P9
    empty-text predicate fires, exactly the reference's OCR trigger,
    data_ingestion.py:136-143), plus the image XObject header with
    /Filter /DCTDecode. Every /Length is a plan-time constant."""
    c4 = f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q"
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        "<< /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {len(c4)} >>\nstream\n{c4}\nendstream\nendobj\n"
    pre += (
        f"5 0 obj\n<< /Type /XObject /Subtype /Image /Width {w} "
        f"/Height {h} /ColorSpace /DeviceGray /BitsPerComponent 8 "
        f"/Filter /DCTDecode /Length {jpeg_len} >>\nstream\n"
    )
    suf = (
        "\nendstream\nendobj\ntrailer\n"
        "<< /Size 6 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )
    return pre.encode().hex().upper(), suf.encode().hex().upper()


@register(
    "pdf_dct_image_extract",
    """
WITH g AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
), d AS (
    SELECT media_id,
           list_transform(generate_series(0, 3),
               b -> CASE WHEN b % 2 = 0
                         THEN 32 + (seed * 13 + b * 7) % 32
                         ELSE -(32 + (seed * 13 + b * 7) % 32) END) AS diffs
    FROM g
), px AS (
    SELECT media_id,
           list_transform(generate_series(1, 4),
               b -> 128 + list_sum(diffs[1:b])) AS bp
    FROM d
)
SELECT media_id, 1 AS page_number, 0 AS image_index, 'jpeg' AS kind,
       16 AS width, 16 AS height,
       CAST(64 * list_sum(bp) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 255),
            k -> (k + 1) * bp[(k // 128) * 2 + ((k % 16) // 8) + 1]))
            AS BIGINT) AS px_wsum
FROM px
""",
    tags=("S2", "pdf", "multimodal", "decode"),
    # bench=True (r13): standing driver number for the scanned-PDF
    # pipeline (pure parse → XObject walk → JPEG kernel → checksums)
    bench=True,
)
def q_pdf_dct_image_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/DCTDecode XObject extraction through the in-container JPEG
    kernel (r13, VERDICT task #4) — the reference's scanned-page image
    access (data_ingestion.py:148-155) extras-free: each doc plants a
    COMPLETE one-page scanned PDF whose image XObject stream is the
    multimodal_jpeg_decode DC-only baseline JPEG (16×16 gray, four
    flat blocks, per-doc 40-bit entropy stream). The pure-byte PDF
    parser walks catalog → page → /Resources → /XObject, applies the
    filter chain UP TO the terminal /DCTDecode (pdf_pure.image_stream),
    and ships the JPEG bytes out of sources/pdf.extract_image_xobjects;
    pixel_checksums then decodes them with decode_jpeg_array. The
    oracle recomputes the four flat blocks arithmetically and never
    sees a byte — a wrong stream boundary, filter-chain slip, or
    XObject walk bug mismatches the position-weighted checksum. Two
    narrow Arrow stages + one broadcast-sized join, no wide shuffle."""
    from data_ingestion_py_spark.sources import pdf as pdf_src

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    seed = F.col("doc_id")

    def mag(b: int):
        return F.lit(32) + F.pmod(seed * 13 + b * 7, F.lit(32))

    block_bits = []
    for b in range(4):
        bits6 = mag(b) if b % 2 == 0 else F.lit(63) - mag(b)
        block_bits.append(F.lit(0b110 << 7) + bits6 * 2)
    v40 = (
        block_bits[0].cast("long") * F.lit(1 << 30)
        + block_bits[1].cast("long") * F.lit(1 << 20)
        + block_bits[2].cast("long") * F.lit(1 << 10)
        + block_bits[3].cast("long")
    )
    jpeg_hex = F.concat(
        F.lit(_jpeg_dc_header_hex()),
        F.lpad(F.hex(v40), 10, "0"),
        F.lit("FFD9"),
    )
    jpeg_len = len(_jpeg_dc_header_hex()) // 2 + 5 + 2
    pre, suf = _scanned_pdf_parts(16, 16, jpeg_len)
    binary = d.select(
        F.concat(
            F.lit("mem://scan-"), seed.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(F.concat(F.lit(pre), jpeg_hex, F.lit(suf))).alias("content"),
    )
    imgs = pdf_src.extract_image_xobjects(binary).select(
        F.regexp_extract("document_name", r"scan-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "image_index",
        "kind",
        F.col("data").alias("payload"),
    )
    checks = mm.pixel_checksums(
        imgs.select("media_id", "payload")
    )
    return imgs.select(
        "media_id", "page_number", "image_index", "kind"
    ).join(checks, "media_id")


def _scan_jpeg_header_hex(w: int, h: int) -> str:
    """Constant marker prefix of the planted GLYPH-GRID scanned-page
    JPEGs: the _jpeg_dc_header_hex table set (Q00=8, cat-7 DC code
    1110, 1-bit AC EOB) at w×h gray with a DRI=1 segment — restart
    markers reset DC prediction every MCU, so each 8×8 block is one of
    exactly TWO byte-aligned 2-byte constants (dark dc −96 → pixel 32:
    E3EF; light dc +96 → pixel 224: EC0F) and the whole entropy stream
    is column-algebra-composable per glyph bit."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00"
    out += bytes([8] + [16] * 63)
    out += (
        b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8])
        + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    out += b"\xff\xc4" + (27).to_bytes(2, "big") + b"\x00"
    out += bytes([0, 0, 7, 1] + [0] * 12) + bytes(range(8))
    out += b"\xff\xc4" + (20).to_bytes(2, "big") + b"\x10"
    out += bytes([1] + [0] * 15) + bytes([0])
    out += b"\xff\xdd" + (4).to_bytes(2, "big") + (1).to_bytes(2, "big")
    out += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0, 0, 63, 0])
    return out.hex().upper()


@register(
    "pdf_scanned_text_extract",
    """
SELECT doc_id AS media_id,
       1 AS page_number,
       lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0') AS page_text,
       TRUE AS needs_ocr,
       'ocr-lite' AS extractor,
       1 AS snippet_id,
       lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0') AS snippet_text
FROM documents
""",
    tags=("S2", "pdf", "ocr"),
)
def q_pdf_scanned_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SECOND entry point — scanned-PDF OCR
    (data_ingestion.py:136-168) — end-to-end extras-free (r13, VERDICT
    task #5): each doc plants a one-page PDF with NO text operators and
    one /DCTDecode image XObject whose JPEG paints the document id's
    five digits in the house bitmap font (3×2 cells of 8×8 flat
    blocks per glyph, restart markers resetting DC prediction so every
    block is one of two 2-byte constants). extract_pages finds zero
    text (the P9 predicate), falls into the OCR branch, and runs
    OCR-lite: XObject walk →
    filter chain → JPEG kernel decode → strict glyph-grid match
    (sources/ocr_pure). The recovered text then runs through the REAL
    snippetize operator (T2), closing scanned PDF → raster → text →
    snippets. The oracle recomputes the expected digits arithmetically
    and never sees a byte: one wrong Huffman bit, restart slip, block
    placement, threshold, or glyph template mismatches the row. One
    narrow Arrow stage + the snippetize explode, no wide shuffle."""
    from data_ingestion_py_spark.operators.snippetize import snippetize
    from data_ingestion_py_spark.sources import pdf as pdf_src
    from data_ingestion_py_spark.sources.ocr_pure import DIGIT_TEMPLATES

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d5 = F.lpad(F.pmod(doc, F.lit(100000)).cast("string"), 5, "0")
    bw, bh = 10, 3  # blocks: 5 glyphs × 2 cols, 3 rows
    hdr = _scan_jpeg_header_hex(bw * 8, bh * 8)
    parts: list = [F.lit(hdr)]
    n = bw * bh
    for i in range(n):
        r, c = divmod(i, bw)
        g, gc = divmod(c, 2)
        digit = F.substring(d5, g + 1, 1).cast("int")
        cells = F.array(
            *[
                F.lit("E3EF" if DIGIT_TEMPLATES[str(t)][r][gc] else "EC0F")
                for t in range(10)
            ]
        )
        parts.append(F.element_at(cells, digit + 1))
        if i != n - 1:
            parts.append(F.lit(f"FFD{i % 8:X}"))
    parts.append(F.lit("FFD9"))
    jpeg_hex = F.concat(*parts)
    jpeg_len = len(hdr) // 2 + n * 2 + (n - 1) * 2 + 2
    pre, suf = _scanned_pdf_parts(bw * 8, bh * 8, jpeg_len)
    binary = d.select(
        F.concat(
            F.lit("mem://scan-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(F.concat(F.lit(pre), jpeg_hex, F.lit(suf))).alias("content"),
    )
    pages = pdf_src.extract_pages(binary).select(
        F.regexp_extract("document_name", r"scan-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        "needs_ocr",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )
    return snippetize(
        pages,
        text_col="page_text",
        id_cols=("media_id", "page_number"),
        carry_cols=("page_text", "needs_ocr", "extractor"),
    )


@register(
    "multimodal_mp4_mjpeg_frames",
    """
WITH vids AS (
    SELECT doc_id AS media_id, doc_id AS seed,
           (doc_id % 9 + 1) * 100 AS ts,
           (doc_id % 10 + 1) * 100 AS d1
    FROM documents WHERE doc_id % 3 = 2
), fr AS (
    SELECT media_id, seed, ts, d1, unnest([0, 1]) AS f FROM vids
), d AS (
    SELECT media_id, f, ts, d1,
           list_transform(generate_series(0, 3),
               b -> CASE WHEN b % 2 = 0
                         THEN 32 + (seed * 13 + b * 7 + f * 5) % 32
                         ELSE -(32 + (seed * 13 + b * 7 + f * 5) % 32)
                    END) AS diffs
    FROM fr
), px AS (
    SELECT media_id, f, ts, d1,
           list_transform(generate_series(1, 4),
               b -> 128 + list_sum(diffs[1:b])) AS bp
    FROM d
)
SELECT media_id,
       CAST(f AS INT) AS frame_index,
       CAST(f * d1 * 1000 // ts AS BIGINT) AS dts_ms,
       16 AS width, 16 AS height,
       CAST(64 * list_sum(bp) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 255),
            k -> (k + 1) * bp[(k // 128) * 2 + ((k % 16) // 8) + 1]))
            AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "video", "jpeg"),
)
def q_multimodal_mp4_mjpeg_frames(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL Motion-JPEG decode inside the ISO-BMFF container (r13,
    VERDICT stretch #8 — composing r12's two halves): complete valid
    MP4s are built in column algebra — ftyp, moov→trak→mdia with a
    doc-varying mdhd timescale, an stbl whose stts run covers two
    samples at a doc-varying delta, UNIFORM stsz (the branch the
    multimodal_mp4_samples fixture's per-sample list never hits), one
    stsc chunk run, an stco entry pointing into the mdat — and an mdat
    holding two complete DC-only baseline JPEGs of the
    multimodal_jpeg_decode family (frame index folded into the DC
    diffs). decode_mp4_mjpeg_frames plans each frame's byte range from
    the sample table and decodes it through the in-container
    Huffman+IDCT kernel; frames re-encode as valid PGM and round-trip
    through the netpbm decoder for position-weighted checksums. The
    oracle recomputes the sample geometry (dts in ms, floor division
    by the timescale) AND the flat-block pixels arithmetically — a
    wrong stco base, uniform-stsz misread, or any JPEG-kernel slip
    hash-mismatches. 1 media row → 2 frame rows, two chained Arrow
    stages + one derived-key join, no wide shuffle. This shrinks the
    ffmpeg seam to true inter-frame codecs."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    corpus = d.select(
        F.col("doc_id").alias("media_id"), F.col("doc_id").alias("seed")
    )
    seed = F.col("seed")
    be4 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    ts = (seed % 9 + 1) * 100
    d1 = (seed % 10 + 1) * 100

    def ent_hex(f: int):
        # 40-bit entropy stream of frame f (the AVI-MJPEG formula)
        block_bits = []
        for b in range(4):
            m = F.lit(32) + F.pmod(seed * 13 + b * 7 + f * 5, F.lit(32))
            bits6 = m if b % 2 == 0 else F.lit(63) - m
            block_bits.append(F.lit(0b110 << 7) + bits6 * 2)
        v40 = (
            block_bits[0].cast("long") * F.lit(1 << 30)
            + block_bits[1].cast("long") * F.lit(1 << 20)
            + block_bits[2].cast("long") * F.lit(1 << 10)
            + block_bits[3].cast("long")
        )
        return F.lpad(F.hex(v40), 10, "0")

    jpeg_len = len(_jpeg_dc_header_hex()) // 2 + 5 + 2  # 152
    base = 16 + 164 + 8  # ftyp + moov + mdat header
    mp4_hex = F.concat(
        F.lit("000000106674797069736F6D00000000"),      # ftyp isom
        F.lit("000000A46D6F6F76"),                      # moov (164)
        F.lit("0000009C7472616B"),                      # trak (156)
        F.lit("000000946D646961"),                      # mdia (148)
        F.lit("000000206D646864" + "00000000" * 3),     # mdhd v0
        be4(ts), F.lit("00000000" * 2),                 # timescale, dur/lang
        F.lit("0000006C6D696E66"),                      # minf (108)
        F.lit("000000647374626C"),                      # stbl (100)
        F.lit("0000001873747473" + "00000000"), be4(F.lit(1)),   # stts
        be4(F.lit(2)), be4(d1),
        F.lit("000000147374737A" + "00000000"),         # stsz UNIFORM
        be4(F.lit(jpeg_len)), be4(F.lit(2)),
        F.lit("0000001C73747363" + "00000000"), be4(F.lit(1)),   # stsc
        be4(F.lit(1)), be4(F.lit(2)), be4(F.lit(1)),
        F.lit("000000147374636F" + "00000000"), be4(F.lit(1)),   # stco
        be4(F.lit(base)),
        F.lit(f"{8 + 2 * jpeg_len:08X}6D646174"),       # mdat
        F.lit(_jpeg_dc_header_hex()), ent_hex(0), F.lit("FFD9"),
        F.lit(_jpeg_dc_header_hex()), ent_hex(1), F.lit("FFD9"),
    )
    media = corpus.select(
        "media_id", F.unhex(mp4_hex).alias("payload")
    )
    frames = mm.mp4_mjpeg_frame_images(media, max_frames=4)
    packed = frames.select(
        (F.col("media_id") * 4 + F.col("frame_index")).alias("media_id"),
        "dts_ms",
        F.col("frame_payload").alias("payload"),
    )
    cks = mm.pixel_checksums(packed.select("media_id", "payload"))
    return cks.join(packed.select("media_id", "dts_ms"), "media_id").select(
        F.expr("media_id div 4").alias("media_id"),
        F.pmod("media_id", F.lit(4)).cast("int").alias("frame_index"),
        "dts_ms", "width", "height", "px_sum", "px_wsum",
    )


def _cid_pdf_template() -> str:
    """``format_string`` template of the planted Type0/Identity-H PDFs
    (r13): one page mixing a simple Type1 line with a CID line whose
    show string is 2-byte codes through a ToUnicode CMap that
    exercises BOTH mapping forms — an offset bfrange (<0020><007E> →
    identity ASCII, covering the d6 digit codes) and a bfchar
    (<E000> → '#'). Slots: (d2 plain-text, 36-hex-char code string,
    d6 title) — all fixed width, so every /Length is a plan-time
    constant."""
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "begincmap\n"
        "1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        "1 beginbfrange\n<0020> <007E> <0020>\nendbfrange\n"
        "1 beginbfchar\n<E000> <0023>\nendbfchar\n"
        "endcmap end"
    )
    c = "BT /F1 12 Tf (plain %s) Tj T* /F2 12 Tf <%s> Tj ET"
    lc = len(c % ("00", "0" * 36))

    def obj(num: int, body: str) -> str:
        return f"{num} 0 obj\n{body}\nendobj\n"

    t = "%%PDF-1.7\n"
    t += obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    t += obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    t += obj(
        3,
        "<< /Type /Page /Parent 2 0 R /Resources "
        "<< /Font << /F1 6 0 R /F2 7 0 R >> >> /Contents 4 0 R >>",
    )
    t += f"4 0 obj\n<< /Length {lc} >>\nstream\n{c}\nendstream\nendobj\n"
    t += (
        f"5 0 obj\n<< /Length {len(cmap)} >>\nstream\n{cmap}"
        "\nendstream\nendobj\n"
    )
    t += obj(6, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    t += obj(
        7,
        "<< /Type /Font /Subtype /Type0 /BaseFont /Planted "
        "/Encoding /Identity-H /ToUnicode 5 0 R >>",
    )
    t += obj(8, "<< /Title (CID %s) >>")
    t += "trailer\n<< /Size 9 /Root 1 0 R /Info 8 0 R >>\n"
    t += "startxref\n0\n%%%%EOF"
    return t


@register(
    "pdf_cid_text_extract",
    """
WITH g AS (
    SELECT doc_id,
           lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS d6,
           lpad(CAST(doc_id % 37 AS VARCHAR), 2, '0') AS d2
    FROM documents
)
SELECT doc_id AS media_id,
       1 AS page_number,
       'plain ' || d2 || chr(10) || 'id ' || d6 || '#' AS page_text,
       'CID ' || d6 AS title,
       'pure-byte' AS extractor
FROM g
""",
    tags=("S1", "pdf", "cid"),
)
def q_pdf_cid_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type0/Identity-H (CID) text extraction end-to-end (r13) — the
    encoding nearly every MODERN PDF writer emits, previously the
    documented 2-byte-code seam (module docstring): planted one-page
    PDFs mix a simple Type1 line with a CID line whose show string is
    2-byte big-endian codes — 'id ' + six digits + '#' — decoded
    through a real ToUnicode CMap (offset-form bfrange for the ASCII
    range, bfchar for the '#' private code). The pure-byte parser must
    track the active font across Tf operators, split the hex string
    into 2-byte codes, and apply the right mapping form; the oracle
    recomputes both lines arithmetically and never sees a PDF byte —
    a code-splitting slip, bfrange offset bug, or font-tracking miss
    mismatches every row. Torn cmaps, unmapped-code U+FFFD, and the
    no-ToUnicode honest refusal are pinned in tests/test_pdf_pure.py.
    One narrow Arrow stage, no shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d6 = F.lpad((doc % 1000000).cast("string"), 6, "0")
    d2 = F.lpad((doc % 37).cast("string"), 2, "0")
    # 2-byte codes of 'id ' + d6 + '#': constant prefix, per-digit
    # "003X" identity codes, bfchar E000 for '#' — 36 hex chars total
    codes = F.concat(
        F.lit("006900640020"),  # 'i' 'd' ' '
        F.concat(
            *[F.concat(F.lit("003"), F.substring(d6, k, 1))
              for k in range(1, 7)]
        ),
        F.lit("E000"),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://cid-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.encode(
            F.format_string(_cid_pdf_template(), d2, codes, d6), "UTF-8"
        ).alias("content"),
    )
    from data_ingestion_py_spark.sources.pdf import extract_pages

    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"cid-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        F.col("document_metadata").getItem("Title").alias("title"),
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


def _encrypted_pdf_parts() -> tuple[str, list[list[str]], str, list[list[str]], str]:
    """Plan-time constants of the planted RC4-encrypted PDFs (r13):
    (hex before the content ciphertext's digit bytes — including the
    ciphertext of the constant plaintext prefix —, per-digit-position
    10-entry hex tables for the content, hex between content and
    title digits, per-digit tables for the title, trailing hex).

    Why this is column-algebra-able at all: with constant /O, /P and
    /ID the file key — and so each object's RC4 KEYSTREAM — is one
    plan-time constant, and RC4 is a stream cipher: cipher[i] =
    plain[i] XOR ks[i]. Constant plaintext positions XOR to constant
    hex; each of the six doc-varying digit positions XORs to one of
    ten plan-time constants selected by the digit. The security
    handler math itself (Algorithms 2/3/5, the 50-fold MD5, /U
    verification) runs ONCE here on the driver — never per row."""
    import hashlib

    from data_ingestion_py_spark.sources.pdf_pure import _PW_PAD, _rc4

    md5 = lambda b: hashlib.md5(b).digest()  # noqa: E731
    nbytes, r, p = 16, 3, -44
    id0 = bytes(range(16))
    h = md5((b"graft-owner" + _PW_PAD)[:32])
    for _ in range(50):
        h = md5(h[:nbytes])
    okey = h[:nbytes]
    o = _rc4(okey, _PW_PAD)
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in okey), o)
    h = md5(_PW_PAD + o + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0)
    for _ in range(50):
        h = md5(h[:nbytes])
    key = h[:nbytes]
    u = _rc4(key, md5(_PW_PAD + id0))
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    u += b"\x00" * 16

    def objkey(num: int) -> bytes:
        return md5(
            key + (num & 0xFFFFFF).to_bytes(3, "little") + b"\x00\x00"
        )[:16]

    c_pt = b"BT /F1 12 Tf (Doc %s) Tj ET"
    c_pos = c_pt.index(b"%s")
    c_pt = c_pt % (b"0" * 6)
    ks4 = _rc4(objkey(4), bytes(len(c_pt)))
    t_pt = b"Doc " + b"0" * 6
    t_pos = 4
    ks8 = _rc4(objkey(8), bytes(len(t_pt)))

    def xor_hex(pt: bytes, ks: bytes, lo: int, hi: int) -> str:
        return bytes(a ^ b for a, b in zip(pt[lo:hi], ks[lo:hi])).hex().upper()

    def tables(ks: bytes, pos: int) -> list[list[str]]:
        return [
            [f"{(0x30 + d) ^ ks[pos + k]:02X}" for d in range(10)]
            for k in range(6)
        ]

    def obj(num: int, body: bytes) -> bytes:
        return b"%d 0 obj\n%s\nendobj\n" % (num, body)

    head = b"%PDF-1.7\n"
    head += obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    head += obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    head += obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    head += b"4 0 obj\n<< /Length %d >>\nstream\n" % len(c_pt)
    pre = head.hex().upper() + xor_hex(c_pt, ks4, 0, c_pos)
    mid_bytes = b"\nendstream\nendobj\n"
    mid_bytes += obj(
        5,
        b"<< /Filter /Standard /V 2 /R 3 /Length 128 /O <"
        + o.hex().encode() + b"> /U <" + u.hex().encode()
        + b"> /P %d >>" % p,
    )
    mid_bytes += b"8 0 obj\n<< /Title <"
    # mid = content-cipher tail + the bytes up to the title hex
    # string + the title's CONSTANT cipher prefix. The title lives in
    # a PDF HEX string, so its cipher bytes appear in the FILE as
    # ASCII hex chars — hex-of-hex here: 4 output chars per byte.
    mid = xor_hex(c_pt, ks4, c_pos + 6, len(c_pt)) + mid_bytes.hex().upper()
    mid += xor_hex(t_pt, ks8, 0, t_pos).encode().hex().upper()
    tail_bytes = b"> >>\nendobj\n"
    tail_bytes += (
        b"trailer\n<< /Size 9 /Root 1 0 R /Info 8 0 R /Encrypt 5 0 R"
        b" /ID [<" + id0.hex().encode() + b"> <" + id0.hex().encode()
        + b">] >>\nstartxref\n0\n%%EOF"
    )
    tail = tail_bytes.hex().upper()
    c_tables = tables(ks4, c_pos)
    # title digit bytes live inside a hex string: each cipher byte is
    # TWO ASCII hex chars in the file, i.e. four hex chars here
    t_tables = [
        [f"{(0x30 + d) ^ ks8[t_pos + k]:02X}".encode().hex().upper()
         for d in range(10)]
        for k in range(6)
    ]
    return pre, c_tables, mid, t_tables, tail


@register(
    "pdf_encrypted_text_extract",
    """
WITH g AS (
    SELECT doc_id,
           lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS d6
    FROM documents
)
SELECT doc_id AS media_id,
       1 AS page_number,
       'Doc ' || d6 AS page_text,
       'Doc ' || d6 AS title,
       'pure-byte' AS extractor
FROM g
""",
    tags=("S1", "pdf", "crypto"),
)
def q_pdf_encrypted_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RC4-ENCRYPTED PDF text extraction end-to-end (r13) — the
    /Encrypt refusal narrowed to what is genuinely unreadable: each doc
    plants a complete V2/R3 128-bit standard-security PDF (the
    owner-locked-but-readable shape most encrypted PDFs in the wild
    have: owner password set, USER password empty) whose content
    stream and Info /Title are real RC4 ciphertext. The pure-byte
    parser must verify the empty user password against /U (Algorithm
    5 with the 50-fold MD5), derive the file key from /O + /P + /ID
    (Algorithm 2), derive each object's key (Algorithm 1), and RC4
    the stream AND the title string before any text shows. The
    ciphertext is exact column algebra — cipher = plaintext XOR the
    plan-time-constant keystream (see _encrypted_pdf_parts) — and the
    oracle recomputes the expected text arithmetically, never seeing a
    byte: one wrong MD5 round, key truncation, object-key byte, or
    stream boundary mismatches every row. Wrong-password and
    non-standard-handler refusals are pinned in tests/test_pdf_pure.py.
    One narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    pre, c_tables, mid, t_tables, tail = _encrypted_pdf_parts()
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d6 = F.lpad((doc % 1000000).cast("string"), 6, "0")

    def digit_hex(tables: list[list[str]]) -> F.Column:
        return F.concat(
            *[
                F.element_at(
                    F.array(*[F.lit(h) for h in tables[k]]),
                    F.substring(d6, k + 1, 1).cast("int") + 1,
                )
                for k in range(6)
            ]
        )

    pdf_hex = F.concat(
        F.lit(pre), digit_hex(c_tables),
        F.lit(mid), digit_hex(t_tables),
        F.lit(tail),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://enc-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"enc-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        F.col("document_metadata").getItem("Title").alias("title"),
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


def _glyph_jpeg_hex(glyph_rows: list) -> tuple["F.Column", int]:
    """(hex column, byte length) of a DC-only glyph-grid JPEG (the
    _scan_jpeg_header_hex fixture family): ``glyph_rows`` is rows of
    glyph items — a constant char from the TEXT font ('.'/' '/digit)
    or a Column holding a digit 0..9 (rendered as a 10-entry lookup
    per 8×8 block). Every block is one of two 2-byte constants thanks
    to the DRI=1 restart discipline, so the whole image is column
    algebra."""
    from data_ingestion_py_spark.sources.ocr_pure import TEXT_TEMPLATES

    bw = len(glyph_rows[0]) * 2
    bh = 3 * len(glyph_rows)
    hdr = _scan_jpeg_header_hex(bw * 8, bh * 8)
    parts: list = [F.lit(hdr)]
    n = bw * bh
    for i in range(n):
        r, c = divmod(i, bw)
        grow, rr = divmod(r, 3)
        g, gc = divmod(c, 2)
        item = glyph_rows[grow][g]
        if isinstance(item, str):
            bit = TEXT_TEMPLATES[item][rr][gc]
            parts.append(F.lit("E3EF" if bit else "EC0F"))
        else:
            cells = F.array(
                *[
                    F.lit(
                        "E3EF"
                        if TEXT_TEMPLATES[str(t)][rr][gc]
                        else "EC0F"
                    )
                    for t in range(10)
                ]
            )
            parts.append(F.element_at(cells, item + 1))
        if i != n - 1:
            parts.append(F.lit(f"FFD{i % 8:X}"))
    parts.append(F.lit("FFD9"))
    return F.concat(*parts), len(hdr) // 2 + n * 2 + (n - 1) * 2 + 2


def _scanned_pdf2_parts(
    w1: int, h1: int, len1: int, w2: int, h2: int, len2: int
) -> tuple[str, str, str]:
    """(pre, mid, tail) hex of a TWO-page scanned PDF: each page shows
    only its image XObject (no text operators — the P9 predicate fires
    on the whole doc); the JPEGs slot between the segments."""
    c5 = f"q {w1} 0 0 {h1} 0 0 cm /Im0 Do Q"
    c6 = f"q {w2} 0 0 {h2} 0 0 cm /Im0 Do Q"
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        "<< /XObject << /Im0 7 0 R >> >> /Contents 5 0 R >>\nendobj\n"
    )
    pre += (
        "4 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        "<< /XObject << /Im0 8 0 R >> >> /Contents 6 0 R >>\nendobj\n"
    )
    pre += f"5 0 obj\n<< /Length {len(c5)} >>\nstream\n{c5}\nendstream\nendobj\n"
    pre += f"6 0 obj\n<< /Length {len(c6)} >>\nstream\n{c6}\nendstream\nendobj\n"
    pre += (
        f"7 0 obj\n<< /Type /XObject /Subtype /Image /Width {w1} "
        f"/Height {h1} /ColorSpace /DeviceGray /BitsPerComponent 8 "
        f"/Filter /DCTDecode /Length {len1} >>\nstream\n"
    )
    mid = (
        "\nendstream\nendobj\n"
        f"8 0 obj\n<< /Type /XObject /Subtype /Image /Width {w2} "
        f"/Height {h2} /ColorSpace /DeviceGray /BitsPerComponent 8 "
        f"/Filter /DCTDecode /Length {len2} >>\nstream\n"
    )
    tail = (
        "\nendstream\nendobj\ntrailer\n"
        "<< /Size 9 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )
    return (
        pre.encode().hex().upper(),
        mid.encode().hex().upper(),
        tail.encode().hex().upper(),
    )


@register(
    "pdf_scanned_multipage_snippets",
    """
WITH g AS (
    SELECT doc_id,
           lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS sa,
           lpad(CAST(doc_id * 7 % 100 AS VARCHAR), 2, '0') AS sb,
           lpad(CAST(doc_id * 13 % 100 AS VARCHAR), 2, '0') AS sc,
           lpad(CAST(doc_id * 31 % 100 AS VARCHAR), 2, '0') AS sd,
           lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS se
    FROM documents WHERE doc_id % 5 = 0
), r AS (
    SELECT doc_id, unnest([
        {'pn': 1, 'sid': 1,
         'pt': sa || '. ' || sb || '.' || chr(10) || sc || '. ' || sd || '.',
         'txt': sa || '. ' || sb || '. ' || sc || '. ' || sd || '.'},
        {'pn': 1, 'sid': 2,
         'pt': sa || '. ' || sb || '.' || chr(10) || sc || '. ' || sd || '.',
         'txt': sd || '.'},
        {'pn': 2, 'sid': 1, 'pt': se || '.', 'txt': se || '.'}
    ]) AS u
    FROM g
)
SELECT doc_id AS media_id,
       CAST(u.pn AS INT) AS page_number,
       u.pt AS page_text,
       CAST(u.sid AS INT) AS snippet_id,
       u.txt AS snippet_text
FROM r
""",
    tags=("S2", "pdf", "ocr", "T2"),
)
def q_pdf_scanned_multipage_snippets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL reference pipeline on scanned input (r13 — deepening
    pdf_scanned_text_extract from one glyph row to real documents):
    two-page scanned PDFs whose page images are MULTI-ROW glyph grids
    in the extended bitmap font (digits + '.' + space), so the OCR'd
    text has sentence structure — page 1 reads two lines of two
    sentences each, page 2 one sentence. extract_scanned_text (the
    caller-chosen-font OCR-lite stage) recovers the text, then the
    REAL snippetize operator windows it in punctuation mode: page 1's
    four sentences produce TWO overlapping windows (stride 3 over
    num_sent 5 — the reference's 181-191 loop shape actually
    exercised, not the single-window degenerate case). The oracle
    recomputes every page text AND every snippet window arithmetically
    — a glyph slip, row-join bug, sentence-split or window-boundary
    error mismatches rows. Two narrow Arrow stages + the snippetize
    explode, no wide shuffle."""
    from data_ingestion_py_spark.operators.snippetize import snippetize
    from data_ingestion_py_spark.sources import pdf as pdf_src
    from data_ingestion_py_spark.sources.ocr_pure import TEXT_TEMPLATES

    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    ).select("doc_id")
    doc = F.col("doc_id")

    def digits(col: "F.Column", width: int) -> list:
        s = F.lpad(col.cast("string"), width, "0")
        return [
            F.substring(s, k + 1, 1).cast("int") for k in range(width)
        ]

    a = digits(doc % 100, 2)
    b = digits(doc * 7 % 100, 2)
    c2 = digits(doc * 13 % 100, 2)
    dd = digits(doc * 31 % 100, 2)
    e3 = digits(doc % 1000, 3)
    jpeg1, len1 = _glyph_jpeg_hex(
        [
            [a[0], a[1], ".", " ", b[0], b[1], "."],
            [c2[0], c2[1], ".", " ", dd[0], dd[1], "."],
        ]
    )
    jpeg2, len2 = _glyph_jpeg_hex([[e3[0], e3[1], e3[2], "."]])
    pre, mid, tail = _scanned_pdf2_parts(
        7 * 16, 2 * 24, len1, 4 * 16, 24, len2
    )
    binary = d.select(
        F.concat(
            F.lit("mem://scan2-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(
            F.concat(F.lit(pre), jpeg1, F.lit(mid), jpeg2, F.lit(tail))
        ).alias("content"),
    )
    pages = pdf_src.extract_scanned_text(
        binary, templates=TEXT_TEMPLATES
    ).select(
        F.regexp_extract("document_name", r"scan2-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
    )
    return snippetize(
        pages,
        text_col="page_text",
        id_cols=("media_id", "page_number"),
        carry_cols=("page_text",),
        mode="punctuation",
    )


#: G4 (ITU-T T.6) streams of the ten single-glyph 16×24 bitmap-font
#: pages — plan-time constants for the CCITT fixture. Regenerable from
#: the independent test encoder; tests/test_ccitt.py asserts these
#: exact bytes re-encode from the font (so a font or encoder change
#: can't silently diverge from the fixture).
_G4_DIGIT_HEX = {
    "0": "26A0BFFFFFFFFFFFE0020020",
    "1": "3317FFFFFFFFFFF0010010",
    "2": "26A0BFFFE662FFFE4D45FFFFFC004004",
    "3": "26A0BFFFE662FFFE4D417FFFC0040040",
    "4": "26A2FFFFFF20B9AFFFE662FFFE002002",
    "5": "26A0BFFFF22CFFFFFE662FFFE0020020",
    "6": "26A2FFFFFF20B9AFFFFFFFE0020020",
    "7": "26A0BFFFE662FFFFFFFE002002",
    "8": "3317FFF26A0BFFFFFFFE002002",
    "9": "26A0BFFFFFFFE662FFFE002002",
}


@register(
    "pdf_ccitt_scanned_digits",
    """
SELECT doc_id AS media_id,
       1 AS page_number,
       CAST(doc_id % 10 AS VARCHAR) || chr(10) ||
       CAST((doc_id // 10) % 10 AS VARCHAR) AS page_text,
       TRUE AS needs_ocr,
       'ocr-lite' AS extractor
FROM documents
""",
    tags=("S2", "pdf", "ocr", "ccitt"),
)
def q_pdf_ccitt_scanned_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER wild scanned-PDF encoding end-to-end (r13): fax-style
    /CCITTFaxDecode (pure Group 4, /K -1) image XObjects — with
    /DCTDecode this covers what real scanned PDFs actually contain.
    Each doc plants a one-page PDF with TWO bilevel CCITT XObjects
    (the doc id's last two digits as single-glyph pages); the pure
    parser routes each stream through the T.6 kernel (sources/ccitt:
    pass/vertical/horizontal modes against the reference line, T.4
    run tables), the raster feeds strict OCR-lite, and the page text
    is the two recognized digits. Streams are plan-time constants
    selected per digit (G4's 2D context makes doc-varying ciphertext
    non-composable, unlike the XOR-able RC4 fixture); /Length lookup
    tables vary with them. The oracle recomputes the digits
    arithmetically — a mode-code slip, run-table transcription error,
    reference-line bug, or EOFB mishandling mismatches rows. One
    narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    digits = [
        F.pmod(doc, F.lit(10)).cast("int"),
        F.pmod(F.floor(doc / 10), F.lit(10)).cast("int"),
    ]
    hex_tab = F.array(*[F.lit(_G4_DIGIT_HEX[str(t)]) for t in range(10)])
    len_tab = F.array(
        *[F.lit(str(len(_G4_DIGIT_HEX[str(t)]) // 2)) for t in range(10)]
    )

    def obj_hex(s: str) -> "F.Column":
        return F.lit(s.encode().hex().upper())

    # ascii pieces as hex; the digit-chosen /Length decimal as hex
    def ascii_hex(col: "F.Column") -> "F.Column":
        return F.upper(F.hex(F.encode(col, "UTF-8")))

    c4 = "q 16 0 0 24 0 0 cm /Im0 Do Q q 16 0 0 24 16 0 cm /Im1 Do Q"
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        "<< /Im0 5 0 R /Im1 6 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {len(c4)} >>\nstream\n{c4}\nendstream\nendobj\n"

    def img_piece(num: int, digit: "F.Column") -> "F.Column":
        head = (
            f"{num} 0 obj\n<< /Type /XObject /Subtype /Image /Width 16 "
            "/Height 24 /ColorSpace /DeviceGray /BitsPerComponent 1 "
            "/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns 16 "
            "/Rows 24 >> /Length "
        )
        return F.concat(
            obj_hex(head),
            ascii_hex(F.element_at(len_tab, digit + 1)),
            obj_hex(" >>\nstream\n"),
            F.element_at(hex_tab, digit + 1),
            obj_hex("\nendstream\nendobj\n"),
        )

    tail = "trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    pdf_hex = F.concat(
        obj_hex(pre),
        img_piece(5, digits[0]),
        img_piece(6, digits[1]),
        obj_hex(tail),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://fax-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"fax-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        "needs_ocr",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


def _fax_tiff_parts() -> tuple[str, int, str, dict, dict]:
    """Plan-time constants for the planted Compression-2 fax TIFFs:
    (header hex BEFORE the StripByteCounts value, strip-data offset,
    header hex AFTER it, per-digit strip hex, per-digit count hex).
    The G3-1D row codes are computed here from the ccitt tables and
    the house font: a glyph row is one of three byte-aligned run
    patterns (cells 11 → W0+B16, 10 → W0+B8+W8, 01 → W8+B8), each
    band repeats its row code 8×, so the whole strip is per-digit
    constant — line-independence is exactly what G4's 2D context
    lacks, and why THIS fax flavor gets an oracle gate."""
    import struct

    from data_ingestion_py_spark.sources.ccitt import (
        _BLACK_CODES,
        _WHITE_CODES,
    )
    from data_ingestion_py_spark.sources.ocr_pure import DIGIT_TEMPLATES

    wt = dict(_WHITE_CODES)
    bk = dict(_BLACK_CODES)

    def row_code(b0: int, b1: int) -> bytes:
        if b0 and b1:
            bits = wt[0] + bk[16]
        elif b0:
            bits = wt[0] + bk[8] + wt[8]
        elif b1:
            bits = wt[8] + bk[8]
        else:
            bits = wt[16]
        bits += "0" * (-len(bits) % 8)
        return bytes(
            int(bits[i : i + 8], 2) for i in range(0, len(bits), 8)
        )

    strips = {}
    for dch, t in DIGIT_TEMPLATES.items():
        strips[dch] = b"".join(row_code(*t[r]) * 8 for r in range(3))

    # single-strip 16×24 bilevel WhiteIsZero TIFF, little-endian
    entries = [
        (256, 4, 16), (257, 4, 24), (258, 3, 1), (259, 3, 2),
        (262, 3, 0), (277, 3, 1), (278, 4, 24), (273, 4, None),
        (279, 4, None),  # None values patched below
    ]
    n = len(entries)
    ifd_end = 8 + 2 + 12 * n + 4
    strip_off = ifd_end
    hdr = bytearray(b"II*\x00" + struct.pack("<I", 8))
    hdr += struct.pack("<H", n)
    count_field_off = None
    for tag, typ, val in entries:
        if tag == 273:
            val = strip_off
        if tag == 279:
            count_field_off = len(hdr) + 8
            val = 0  # per-digit, patched by the column expression
        hdr += struct.pack("<HHI", tag, typ, 1)
        hdr += struct.pack("<I", val) if typ == 4 else struct.pack(
            "<HH", val, 0
        )
    hdr += struct.pack("<I", 0)
    assert len(hdr) == ifd_end and count_field_off is not None
    pre = bytes(hdr[:count_field_off]).hex().upper()
    post = bytes(hdr[count_field_off + 4 :]).hex().upper()
    strip_hex = {d: s.hex().upper() for d, s in strips.items()}
    count_hex = {
        d: struct.pack("<I", len(s)).hex().upper()
        for d, s in strips.items()
    }
    return pre, strip_off, post, strip_hex, count_hex


@register(
    "multimodal_tiff_fax_decode",
    """
WITH t AS (
    SELECT ['111111','010101','110110','110111','101101',
            '111001','101111','110101','011111','111101'] AS tmpl
), g AS (
    SELECT doc_id AS media_id,
           tmpl[CAST(doc_id % 10 AS INT) + 1] AS bits
    FROM documents, t
)
SELECT media_id, 16 AS width, 24 AS height,
       CAST(list_sum(list_transform(generate_series(0, 383),
            k -> CASE WHEN substr(bits,
                        ((k // 16) // 8) * 2 + ((k % 16) // 8) + 1,
                        1) = '1'
                      THEN 0 ELSE 255 END)) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 383),
            k -> CASE WHEN substr(bits,
                        ((k // 16) // 8) * 2 + ((k % 16) // 8) + 1,
                        1) = '1'
                      THEN 0 ELSE 255 * (k + 1) END)) AS BIGINT)
            AS px_wsum
FROM g
""",
    tags=("multimodal", "decode", "tiff", "ccitt"),
)
def q_multimodal_tiff_fax_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL fax-TIFF decode end-to-end (r13): complete Compression-2
    (CCITT modified-Huffman 1D) bilevel WhiteIsZero TIFFs built in
    column algebra — G3-1D's line INDEPENDENCE (every row a
    self-contained byte-aligned run sequence) is what makes fax
    ciphertext column-composable, unlike G4's cross-line 2D context.
    Each doc's single strip selects per-digit row codes derived at
    plan time from the ccitt run tables + the house font (three
    byte-aligned patterns per glyph row, repeated 8× per band); the
    StripByteCounts field patches per digit. decode_tiff_array routes
    Compression 2 through g3_1d_decode, re-packs through the sub-byte
    + WhiteIsZero machinery, and pixel_checksums emits the
    position-weighted sums the oracle recomputes arithmetically from
    the template bits — a run-table transcription error, byte-align
    slip, or inversion bug mismatches every row. One narrow Arrow
    stage, no shuffle."""
    pre, _off, post, strip_hex, count_hex = _fax_tiff_parts()
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    digit = F.pmod(doc, F.lit(10)).cast("int")
    strip_tab = F.array(
        *[F.lit(strip_hex[str(t)]) for t in range(10)]
    )
    count_tab = F.array(
        *[F.lit(count_hex[str(t)]) for t in range(10)]
    )
    payload_hex = F.concat(
        F.lit(pre),
        F.element_at(count_tab, digit + 1),
        F.lit(post),
        F.element_at(strip_tab, digit + 1),
    )
    media = d.select(
        doc.alias("media_id"), F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


@register(
    "pdf_differences_text_extract",
    """
WITH g AS (
    SELECT doc_id,
           lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS d6
    FROM documents
)
SELECT doc_id AS media_id,
       1 AS page_number,
       'id ' || d6 AS page_text,
       'pure-byte' AS extractor
FROM g
""",
    tags=("S1", "pdf", "fonts"),
)
def q_pdf_differences_text_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Subset-font text extraction (r13): simple fonts whose /Encoding
    carries a /Differences array — the remapping every font-subsetting
    writer emits — decode through the AGL glyph-name table. Each doc
    plants a one-page PDF whose show string is codes 200.. remapped by
    ``[200 /i /d /space /zero ... /nine]``; a parser that ignores the
    encoding (latin-1-ing the raw bytes) produces 'ÈÉÊ…' and
    mismatches every row, so the gate checks the Differences walk,
    glyph-name resolution, AND the Tf font tracking. The oracle
    recomputes 'id ' + the six digits arithmetically. One narrow
    Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d6 = F.lpad((doc % 1000000).cast("string"), 6, "0")
    # codes: 200='i' 201='d' 202=' ' 203..212=digits
    digit_hex = F.concat(
        *[
            F.element_at(
                F.array(*[F.lit(f"{203 + t:02X}") for t in range(10)]),
                F.substring(d6, k, 1).cast("int") + 1,
            )
            for k in range(1, 7)
        ]
    )
    enc = (
        "<< /Type /Encoding /Differences [ 200 /i /d /space "
        "/zero /one /two /three /four /five /six /seven /eight /nine "
        "] >>"
    )
    shown_len = 9  # 3 prefix codes + 6 digit codes
    c_pre = "BT /F1 12 Tf ("
    c_suf = ") Tj ET"
    clen = len(c_pre) + shown_len + len(c_suf)
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        "<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {clen} >>\nstream\n{c_pre}"
    mid = f"{c_suf}\nendstream\nendobj\n"
    mid += (
        "5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Sub-AAA "
        f"/Encoding {enc} >>\nendobj\n"
    )
    mid += "trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    pdf_hex = F.concat(
        F.lit(pre.encode().hex().upper()),
        F.lit("C8C9CA"),  # 'i' 'd' ' '
        digit_hex,
        F.lit(mid.encode().hex().upper()),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://sub-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"sub-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


def _flate_stored_hex(vals, ln: int) -> "F.Column":
    """Hex of a COMPLETE valid zlib stream holding ``vals`` (an array
    Column of ``ln`` byte values 0..255) as one stored-deflate block —
    header 78 01, BFINAL/stored tag, LE length pair, the raw bytes,
    and an ARITHMETIC adler32 that ``zlib.decompress`` verifies (the
    q_multimodal_png_decode trick, factored out r14): one wrong byte
    anywhere fails the checksum and the whole stream refuses."""

    def hx2(col):
        return F.lpad(F.hex(col), 2, "0")

    d_hex = F.concat_ws("", F.transform(vals, hx2))
    a = F.pmod(
        1 + F.aggregate(vals, F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(65521),
    )
    b = F.pmod(
        F.lit(ln)
        + F.aggregate(
            F.zip_with(
                vals,
                F.sequence(F.lit(ln), F.lit(1), F.lit(-1)),
                lambda v, wt: (v * wt).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        F.lit(65521),
    )
    return F.concat(
        F.lit("780101"),
        _le_hex(F.lit(ln), 2),
        _le_hex(F.lit(0xFFFF - ln), 2),
        d_hex,
        F.lpad(F.hex(b), 4, "0"),
        F.lpad(F.hex(a), 4, "0"),
    )


@register(
    "pdf_predictor_streams",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS d6,
           20 + doc_id % 100 AS base,
           1 + doc_id % 5 AS ra,
           1 + doc_id % 3 AS rc
    FROM documents
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 127),
               k -> base + (k // 16) * ra + (k % 16) * rc) AS p
    FROM g
)
SELECT g.media_id,
       1 AS page_number,
       'P' || d6 AS page_text,
       'raw' AS kind, 16 AS width, 8 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 127),
            k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM g JOIN px ON g.media_id = px.media_id
""",
    tags=("S2", "pdf", "multimodal", "decode"),
)
def q_pdf_predictor_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/DecodeParms /Predictor decoding end-to-end (r14, VERDICT task
    #1) — the real-world PDF stream shape every generator emits: each
    doc plants a COMPLETE one-page PDF whose CONTENT stream is
    FlateDecode + Predictor 2 (TIFF horizontal differencing over one
    Columns-wide row — the test writer emits per-byte diffs, so a
    parser that skips the inverse shows differenced garbage, not
    text) and whose image XObject is FlateDecode + Predictor 12 (PNG
    row filters: a Sub row then seven Up rows over a 16x8 gray ramp
    raster p(r,x) = base + r*ra + x*rc). Both zlib streams are
    stored-deflate blocks with arithmetic adler32s built in column
    algebra (_flate_stored_hex); pdf_pure._unpredict inverts the
    predictors inside the SAME filter chain used for text, ObjStm and
    xref streams. The oracle recomputes the page string and the
    position-weighted pixel checksums arithmetically and never sees a
    byte. Two narrow Arrow stages + one equi-join on the planted key,
    no wide shuffle."""
    from data_ingestion_py_spark.sources import pdf as pdf_src
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d6 = F.lpad((doc % 1000000).cast("string"), 6, "0")

    def dig(k: int) -> "F.Column":
        return F.substring(d6, k + 1, 1).cast("int")

    # ---- content stream: Predictor 2 (one row, Columns = clen) ----
    c_pre = "BT /F1 12 Tf (P"
    c_suf = ") Tj ET q 16 0 0 8 0 0 cm /Im0 Do Q"
    clen = len(c_pre) + 6 + len(c_suf)
    fvals: list = [ord(c_pre[0])]
    for i in range(1, len(c_pre)):
        fvals.append((ord(c_pre[i]) - ord(c_pre[i - 1])) & 0xFF)
    fvals.append(F.pmod(dig(0) + F.lit(48 - ord("P")), F.lit(256)))
    for k in range(1, 6):
        fvals.append(F.pmod(dig(k) - dig(k - 1), F.lit(256)))
    fvals.append(F.pmod(F.lit(ord(")") - 48) - dig(5), F.lit(256)))
    for i in range(1, len(c_suf)):
        fvals.append((ord(c_suf[i]) - ord(c_suf[i - 1])) & 0xFF)
    assert len(fvals) == clen
    content_arr = F.array(
        *[F.lit(v) if isinstance(v, int) else v for v in fvals]
    )
    content_flate_hex = _flate_stored_hex(content_arr, clen)
    content_flate_len = clen + 11  # 78 01 | 01 LEN NLEN | data | adler

    # ---- image XObject: Predictor 12 (PNG Sub row + 7 Up rows) ----
    base = F.lit(20) + F.pmod(doc, F.lit(100))
    ra = F.lit(1) + F.pmod(doc, F.lit(5))
    rc = F.lit(1) + F.pmod(doc, F.lit(3))
    ivals: list = [F.lit(1), base] + [rc] * 15
    for _r in range(7):
        ivals += [F.lit(2)] + [ra] * 16
    iln = 8 * 17
    img_flate_hex = _flate_stored_hex(F.array(*ivals), iln)
    img_flate_len = iln + 11

    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        "<< /XObject << /Im0 6 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += (
        f"4 0 obj\n<< /Length {content_flate_len} /Filter /FlateDecode"
        f" /DecodeParms << /Predictor 2 /Columns {clen} >> >>\nstream\n"
    )
    mid = (
        "\nendstream\nendobj\n"
        "6 0 obj\n<< /Type /XObject /Subtype /Image /Width 16 /Height 8"
        " /ColorSpace /DeviceGray /BitsPerComponent 8"
        " /Filter /FlateDecode /DecodeParms << /Predictor 12"
        f" /Columns 16 >> /Length {img_flate_len} >>\nstream\n"
    )
    suf = (
        "\nendstream\nendobj\ntrailer\n"
        "<< /Size 7 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )
    pdf_hex = F.concat(
        F.lit(pre.encode().hex().upper()),
        content_flate_hex,
        F.lit(mid.encode().hex().upper()),
        img_flate_hex,
        F.lit(suf.encode().hex().upper()),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://pred-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    pages = extract_pages(binary).select(
        F.regexp_extract("document_name", r"pred-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
    )
    px = F.expr(
        "transform(sequence(0, 127), i ->"
        " cast(conv(substr(hex(data), i*2+1, 2), 16, 10) as int))"
    )
    imgs = pdf_src.extract_image_xobjects(binary).select(
        F.regexp_extract("document_name", r"pred-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "kind",
        "width",
        "height",
        px.alias("p"),
    )
    checks = imgs.select(
        "media_id",
        "kind",
        "width",
        "height",
        F.aggregate(
            "p", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("px_sum"),
        F.aggregate(
            F.zip_with(
                F.col("p"),
                F.sequence(F.lit(1), F.lit(128)),
                lambda v, w: (v * w).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("px_wsum"),
    )
    return pages.join(checks, "media_id")


@register(
    "pdf_inline_fax_ocr",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS d2
    FROM documents
)
SELECT media_id,
       1 AS page_number,
       substr(d2, 1, 1) || chr(10) || substr(d2, 2, 1) AS page_text,
       TRUE AS needs_ocr,
       'ocr-lite' AS extractor
FROM g
""",
    tags=("S2", "pdf", "ocr", "inline"),
)
def q_pdf_inline_fax_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline BI/ID/EI images end-to-end (r14, VERDICT task #2) — the
    classic scanned-fax shape: one CCITT raster inlined per paint,
    abbreviated keys (/W /H /BPC /IM /F /CCF /DP), no XObjects at all.
    Each doc plants a one-page PDF whose content stream holds TWO
    inline Group-4 fax images (the doc id's last two digits as
    single-glyph 16x24 rasters from the _G4_DIGIT_HEX plan-time
    table); the page shows NO text, so the P9 empty-text predicate
    fires the OCR branch (reference's trigger, data_ingestion.py:
    136-143): pdf_pure._inline_images tokenizes the stream at operator
    boundaries, _decode_inline_image expands the abbreviations and
    routes the data through the T.6 kernel with a DECODE-VERIFIED EI
    scan, and strict OCR-lite reads the glyphs. The content stream's
    /Length is exact per digit pair (a two-table lookup sum). The
    oracle recomputes both digits arithmetically — an abbreviation-map
    slip, a mis-found EI boundary, or a fax-kernel bug mismatches
    every row. One narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    tens = F.pmod(F.floor(doc / 10), F.lit(10)).cast("int")
    ones = F.pmod(doc, F.lit(10)).cast("int")
    hex_tab = F.array(*[F.lit(_G4_DIGIT_HEX[str(t)]) for t in range(10)])
    blen_tab = F.array(
        *[F.lit(len(_G4_DIGIT_HEX[str(t)]) // 2) for t in range(10)]
    )

    def obj_hex(s: str) -> "F.Column":
        return F.lit(s.encode().hex().upper())

    bi_pre = (
        "BI /W 16 /H 24 /BPC 1 /IM true /F /CCF"
        " /DP << /K -1 /Columns 16 /Rows 24 >> ID "
    )
    base_const = 2 * (len(bi_pre) + 4)  # + ' EI ' per image
    total_len = (
        F.lit(base_const)
        + F.element_at(blen_tab, tens + 1)
        + F.element_at(blen_tab, ones + 1)
    )

    def piece(digit: "F.Column") -> "F.Column":
        return F.concat(
            obj_hex(bi_pre),
            F.element_at(hex_tab, digit + 1),
            obj_hex(" EI "),
        )

    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
    pre += "4 0 obj\n<< /Length "
    tail = "trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    pdf_hex = F.concat(
        obj_hex(pre),
        F.upper(F.hex(F.encode(total_len.cast("string"), "UTF-8"))),
        obj_hex(" >>\nstream\n"),
        piece(tens),
        piece(ones),
        obj_hex("\nendstream\nendobj\n"),
        obj_hex(tail),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://bi-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"bi-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        "needs_ocr",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


_PROSE_WORDS = ("GOLD", "IRON", "MOSS", "REED", "FERN", "OPAL",
                "ZINC", "JUTE")


def _prose_scan_binary(d: DataFrame) -> DataFrame:
    """(doc_id) → (path, content) one-page scanned-prose PDFs: an
    inline raw-gray BI/ID/EI image typesetting ``W1 W2 W3.`` in the
    full A-Z house font, words selected from ``_PROSE_WORDS`` by
    doc_id base-8 digits (i1=doc%8, i2=doc//8%8, i3=doc//64%8). No
    text operators, so the P9 empty-text predicate fires OCR. Shared
    by the scanned-prose quality and dedup queries — their oracles
    recompute from the SAME word selection."""
    from data_ingestion_py_spark.sources.ocr_pure import ALNUM_TEMPLATES

    doc = F.col("doc_id")

    def char_rowhex(ch: str, tr: int) -> str:
        t = ALNUM_TEMPLATES[ch]
        return "".join(
            ("20" if t[tr][c] else "E0") * 8 for c in range(3)
        )

    def word_rowhex(wd: str, tr: int) -> str:
        return "".join(char_rowhex(ch, tr) for ch in wd)

    w_tab = [
        F.array(*[F.lit(word_rowhex(w, tr)) for w in _PROSE_WORDS])
        for tr in range(4)
    ]
    i1 = F.pmod(doc, F.lit(8)).cast("int") + 1
    i2 = F.pmod(F.floor(doc / 8), F.lit(8)).cast("int") + 1
    i3 = F.pmod(F.floor(doc / 64), F.lit(8)).cast("int") + 1

    def pixel_row(tr: int) -> "F.Column":
        sp = char_rowhex(" ", tr)
        return F.concat(
            F.element_at(w_tab[tr], i1),
            F.lit(sp),
            F.element_at(w_tab[tr], i2),
            F.lit(sp),
            F.element_at(w_tab[tr], i3),
            F.lit(char_rowhex(".", tr)),
        )

    raster_hex = F.concat(*[F.repeat(pixel_row(tr), 8) for tr in range(4)])
    bi_pre = "BI /W 360 /H 32 /BPC 8 /CS /G ID "
    clen = len(bi_pre) + 15 * 24 * 32 + 3  # + ' EI'
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
    pre += f"4 0 obj\n<< /Length {clen} >>\nstream\n{bi_pre}"
    tail = (
        " EI\nendstream\nendobj\ntrailer\n"
        "<< /Size 5 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )
    return d.select(
        F.concat(
            F.lit("mem://prose-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(F.concat(
            F.lit(pre.encode().hex().upper()),
            raster_hex,
            F.lit(tail.encode().hex().upper()),
        )).alias("content"),
    )


@register(
    "pdf_scanned_prose_quality",
    """
WITH w AS (
    SELECT ['GOLD','IRON','MOSS','REED','FERN','OPAL','ZINC','JUTE'] AS ws
), g AS (
    SELECT doc_id AS media_id,
           ws[CAST(doc_id % 8 AS INT) + 1] AS w1,
           ws[CAST((doc_id // 8) % 8 AS INT) + 1] AS w2,
           ws[CAST((doc_id // 64) % 8 AS INT) + 1] AS w3
    FROM documents, w
), t AS (
    SELECT media_id,
           w1 || ' ' || w2 || ' ' || w3 || '.' AS page_text,
           len(list_distinct([w1, w2, w3])) AS n_distinct
    FROM g
)
SELECT media_id, page_text, TRUE AS needs_ocr, 'ocr-lite' AS extractor,
       3 AS n_tokens, n_distinct,
       CASE WHEN n_distinct < 3 THEN 'repetitive' ELSE '' END
           AS reject_reason,
       CASE WHEN n_distinct < 3 THEN 0 ELSE 1 END AS keep,
       1 AS snippet_id, page_text AS snippet_text
FROM t
""",
    tags=("S2", "pdf", "ocr", "quality"),
    # bench=True (r14): standing driver number for the inline-image +
    # A-Z-font scanned-prose pipeline (BI decode -> OCR-lite -> gates
    # -> snippetize)
    bench=True,
)
def q_pdf_scanned_prose_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The first scanned→quality pipeline (r14, VERDICT task #3):
    scanned PDF → OCR-lite PROSE → Gopher repetition gate →
    snippetize. Each doc plants a one-page PDF whose only content is
    an inline raw-gray image (BI/ID/EI, r14) typesetting three words
    from an 8-word list in the full A-Z house font (ALNUM_TEMPLATES,
    min pairwise Hamming distance 3); the page shows no text, so the
    OCR branch fires and extract_pages' two-font fallback runs: the
    digits font strictly REFUSES (the inter-word space windows match
    no digit), then the alphanumeric font reads the real words. The
    prose then feeds the Gopher-style repetition gate (integer
    arithmetic: distinct-word count over 3 tokens — repeated words
    reject) and the REAL snippetize operator in punctuation mode. The
    oracle recomputes the recognized text, the gate, and the snippet
    from the same word selection and never sees a pixel. Two narrow
    Arrow stages + the snippetize explode, no wide shuffle."""
    from data_ingestion_py_spark.operators.snippetize import snippetize
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    binary = _prose_scan_binary(d)
    pages = extract_pages(binary).select(
        F.regexp_extract("document_name", r"prose-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_text",
        "needs_ocr",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )
    words = F.split(F.regexp_replace("page_text", r"\.$", ""), " ")
    n_tokens = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    gated = pages.select(
        "media_id",
        "page_text",
        "needs_ocr",
        "extractor",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.when(n_distinct < n_tokens, "repetitive")
        .otherwise("")
        .alias("reject_reason"),
        (n_distinct >= n_tokens).cast("int").alias("keep"),
    )
    return snippetize(
        gated,
        text_col="page_text",
        id_cols=("media_id",),
        carry_cols=(
            "page_text", "needs_ocr", "extractor", "n_tokens",
            "n_distinct", "reject_reason", "keep",
        ),
        mode="punctuation",
    )


def _jbig2_wrap_hex(g4_hex: str, w: int, h: int) -> str:
    """Embed one MMR generic region (body = a G4 stream, T.88 §6.2.6)
    in the embedded-JBIG2 segment format: page-info segment + one
    immediate generic region. Plan-time constant per G4 body."""
    body = bytes.fromhex(g4_hex)

    def seg(num: int, stype: int, payload: bytes) -> bytes:
        return (
            num.to_bytes(4, "big") + bytes([stype]) + bytes([0])
            + bytes([1]) + len(payload).to_bytes(4, "big") + payload
        )

    pi = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(8)
        + bytes([0]) + bytes(2)
    )
    region = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(8)
        + bytes([0]) + bytes([1]) + body
    )
    return (seg(0, 48, pi) + seg(1, 38, region)).hex().upper()


@register(
    "pdf_jbig2_scanned_digits",
    """
SELECT doc_id AS media_id,
       1 AS page_number,
       CAST(doc_id % 10 AS VARCHAR) || chr(10) ||
       CAST((doc_id // 10) % 10 AS VARCHAR) AS page_text,
       TRUE AS needs_ocr,
       'ocr-lite' AS extractor
FROM documents
""",
    tags=("S2", "pdf", "ocr", "jbig2"),
)
def q_pdf_jbig2_scanned_digits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MODERN scanned-fax encoding end-to-end (r14, VERDICT
    stretch #4): /JBIG2Decode image XObjects with MMR-coded generic
    regions — what today's scanners emit where older ones used
    /CCITTFaxDecode. Each doc plants a one-page PDF with TWO bilevel
    JBIG2 XObjects (the doc id's last two digits as single-glyph
    pages): embedded-format segment headers (page info + immediate
    generic region) wrap the SAME per-digit T.6 bodies as the CCITT
    fixture, the segment walk (sources/jbig2.py) routes MMR to the G4
    kernel, the raster feeds strict OCR-lite, and the page text is the
    two recognized digits. Arithmetic-coded regions stay the honest
    seam. The oracle recomputes the digits arithmetically — a segment-
    header slip, region-geometry bug, or MMR routing error mismatches
    every row. One narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    digits = [
        F.pmod(doc, F.lit(10)).cast("int"),
        F.pmod(F.floor(doc / 10), F.lit(10)).cast("int"),
    ]
    jb_hex = {
        t: _jbig2_wrap_hex(_G4_DIGIT_HEX[str(t)], 16, 24)
        for t in range(10)
    }
    hex_tab = F.array(*[F.lit(jb_hex[t]) for t in range(10)])
    len_tab = F.array(
        *[F.lit(str(len(jb_hex[t]) // 2)) for t in range(10)]
    )

    def obj_hex(s: str) -> "F.Column":
        return F.lit(s.encode().hex().upper())

    def ascii_hex(col: "F.Column") -> "F.Column":
        return F.upper(F.hex(F.encode(col, "UTF-8")))

    c4 = "q 16 0 0 24 0 0 cm /Im0 Do Q q 16 0 0 24 16 0 cm /Im1 Do Q"
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        "<< /Im0 5 0 R /Im1 6 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {len(c4)} >>\nstream\n{c4}\nendstream\nendobj\n"

    def img_piece(num: int, digit: "F.Column") -> "F.Column":
        head = (
            f"{num} 0 obj\n<< /Type /XObject /Subtype /Image /Width 16 "
            "/Height 24 /ColorSpace /DeviceGray /BitsPerComponent 1 "
            "/Filter /JBIG2Decode /Length "
        )
        return F.concat(
            obj_hex(head),
            ascii_hex(F.element_at(len_tab, digit + 1)),
            obj_hex(" >>\nstream\n"),
            F.element_at(hex_tab, digit + 1),
            obj_hex("\nendstream\nendobj\n"),
        )

    tail = "trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    pdf_hex = F.concat(
        obj_hex(pre),
        img_piece(5, digits[0]),
        img_piece(6, digits[1]),
        obj_hex(tail),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://jb2-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"jb2-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        "needs_ocr",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


#: MQ-arithmetic-coded generic-region bodies of the SAME 16x24 digit
#: glyphs as _G4_DIGIT_HEX (template 0, nominal ATs, no TPGDON) —
#: generated by the independent test-side encoder
#: (tests/test_ccitt.py::mq_generic_encode, itself pinned against the
#: Annex E conformance vector) from the rasters g4_decode yields for
#: the MMR constants, and round-trip-verified against
#: sources/jbig2.generic_region_arith at generation time.
_JB2A_DIGIT_HEX = {
    "0": "FF1E388AC40FFDFFAC",
    "1": "72D80A1134807FFF7FBFFFAC",
    "2": "FF1E388AC3B4FA42ADD47F05F489ED8F7FFFAC",
    "3": "FF1E388AC3B4FA42ADD47F0660E7FFAC",
    "4": "FE999AC801AE01FF60DA478139611823FFAC",
    "5": "FF1E388AC3D5246B79CC5366D474D8BBFFAC",
    "6": "FE999AC801AE01FF60DA47EFFFAC",
    "7": "FF1E388AC3B4FA42ADD47FFF5FFFAC",
    "8": "72D80A1134807CC8B87257FFAC",
    "9": "FF1E388AC40FABE7C8FBD0ACFFAC",
}


@register(
    "pdf_jbig2_arith_scanned_digits",
    """
SELECT doc_id AS media_id,
       1 AS page_number,
       CAST((doc_id // 10) % 10 AS VARCHAR) ||
       CAST(doc_id % 10 AS VARCHAR) AS page_text,
       TRUE AS needs_ocr,
       'ocr-lite' AS extractor
FROM documents
""",
    tags=("S2", "pdf", "ocr", "jbig2"),
    # bench=True (r15): standing driver number for the MQ arithmetic
    # decode path — the majority encoding of modern scanned PDFs
    bench=True,
)
def q_pdf_jbig2_arith_scanned_digits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MAJORITY modern scanned-fax encoding end-to-end (r15,
    VERDICT task #1): /JBIG2Decode image XObjects whose generic
    regions are MQ-ARITHMETIC-coded (T.88 Annex E + §6.2.5.7) — what
    real scanner output overwhelmingly uses where r14's fixture used
    the minority MMR form. Each doc plants a one-page PDF with ONE
    bilevel JBIG2 XObject containing BOTH glyphs of the doc id's last
    two digits side by side via two regions on one page: embedded
    segment headers (page info + two immediate generic regions at
    x=0 and x=16) wrap per-digit MQ bodies (template 0, nominal
    ATs), the segment walk routes MMR=0 to the MQ generic-region
    decoder, the composed raster feeds strict OCR-lite, and the page
    text is the two recognized digits in reading order. The oracle
    recomputes the digits arithmetically — an MQ state slip, context
    bijection error, or region-placement bug mismatches every row.
    One narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    tens = F.pmod(F.floor(doc / 10), F.lit(10)).cast("int")
    ones = F.pmod(doc, F.lit(10)).cast("int")

    def region_hex(body_hex: str, x: int) -> str:
        body = bytes.fromhex(body_hex)
        at = bytes([0x03, 0xFF, 0xFD, 0xFF, 0x02, 0xFE, 0xFE, 0xFE])
        region = (
            (16).to_bytes(4, "big") + (24).to_bytes(4, "big")
            + x.to_bytes(4, "big") + bytes(4)
            + bytes([0]) + bytes([0]) + at + body
        )
        return (
            (1 + x // 16).to_bytes(4, "big") + bytes([38]) + bytes([0])
            + bytes([1]) + len(region).to_bytes(4, "big") + region
        ).hex().upper()

    pi = (
        (32).to_bytes(4, "big") + (24).to_bytes(4, "big") + bytes(8)
        + bytes([0]) + bytes(2)
    )
    pi_hex = (
        (0).to_bytes(4, "big") + bytes([48]) + bytes([0]) + bytes([1])
        + len(pi).to_bytes(4, "big") + pi
    ).hex().upper()
    left_tab = F.array(
        *[F.lit(region_hex(_JB2A_DIGIT_HEX[str(t)], 0)) for t in range(10)]
    )
    right_tab = F.array(
        *[F.lit(region_hex(_JB2A_DIGIT_HEX[str(t)], 16)) for t in range(10)]
    )
    jb_hex = F.concat(
        F.lit(pi_hex),
        F.element_at(left_tab, tens + 1),
        F.element_at(right_tab, ones + 1),
    )
    jb_len = (F.length(jb_hex) / 2).cast("long")

    def obj_hex(s: str) -> "F.Column":
        return F.lit(s.encode().hex().upper())

    def ascii_hex(col: "F.Column") -> "F.Column":
        return F.upper(F.hex(F.encode(col, "UTF-8")))

    c4 = "q 32 0 0 24 0 0 cm /Im0 Do Q"
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        "<< /Im0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {len(c4)} >>\nstream\n{c4}\nendstream\nendobj\n"
    head = (
        "5 0 obj\n<< /Type /XObject /Subtype /Image /Width 32 "
        "/Height 24 /ColorSpace /DeviceGray /BitsPerComponent 1 "
        "/Filter /JBIG2Decode /Length "
    )
    tail = "trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    pdf_hex = F.concat(
        obj_hex(pre),
        obj_hex(head),
        ascii_hex(jb_len.cast("string")),
        obj_hex(" >>\nstream\n"),
        jb_hex,
        obj_hex("\nendstream\nendobj\n"),
        obj_hex(tail),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://jb2a-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"jb2a-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        "needs_ocr",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


def _avc_mp4_template() -> tuple[str, str, str, str]:
    """Hex pieces of the planted AVC MP4 around its three varying
    bytes (SPS bytes 5-6 carrying pic_width/height Exp-Golomb fields,
    and sample 2's NAL header): ftyp + mdat(3 one-NAL samples, AVCC
    4-byte lengths) + moov/stbl with stsd/avc1/avcC. The fixed-length
    ue(v) trick: w_mbs in 16..31 and map-units in 8..15 keep every
    Exp-Golomb code at constant bit width, so the whole SPS is two
    splice bytes (layout verified against the independent test
    bit-writer in tests/test_sources.py)."""
    import struct

    def box(fourcc: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data) + 8) + fourcc + data

    sps = bytes([0x67, 0x42, 0x00, 0x1E, 0xF4, 0xAA, 0xBB, 0x90])
    pps = bytes([0x68, 0xCE, 0x38, 0x80])
    samples = [
        b"\x00\x00\x00\x02\x65\x88",
        b"\x00\x00\x00\x02\x41\x88",
        b"\x00\x00\x00\x02\xCC\x88",
    ]
    ftyp = box(b"ftyp", b"isom\0\0\0\0")
    mdat = box(b"mdat", b"".join(samples))
    base = len(ftyp) + 8
    avcc = box(
        b"avcC",
        bytes([1, sps[1], sps[2], sps[3], 0xFC | 3, 0xE0 | 1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps,
    )
    avc1 = box(b"avc1", bytes(78) + avcc)
    stsd = box(b"stsd", struct.pack(">2I", 0, 1) + avc1)
    mdhd = box(b"mdhd", struct.pack(">6I", 0, 0, 0, 600, 0, 0))
    stts = box(b"stts", struct.pack(">4I", 0, 1, 3, 100))
    stsz = box(b"stsz", struct.pack(">6I", 0, 0, 3, 6, 6, 6))
    stsc = box(b"stsc", struct.pack(">5I", 0, 1, 1, 3, 1))
    stco = box(b"stco", struct.pack(">3I", 0, 1, base))
    stbl = box(b"stbl", stsd + stts + stsz + stsc + stco)
    mdia = box(b"mdia", mdhd + box(b"minf", stbl))
    moov = box(b"moov", box(b"trak", mdia))
    full = (ftyp + mdat + moov).hex().upper()
    for marker in ("AA", "BB", "CC"):
        assert full.count(marker) == 1, marker
    p1, rest = full.split("CC", 1)   # mdat precedes moov/avcC
    p2, rest = rest.split("AA", 1)
    p3, p4 = rest.split("BB", 1)
    return p1, p2, p3, p4


@register(
    "multimodal_h264_frame_plan",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           16 + doc_id % 16 AS w5,
           8 + doc_id % 8 AS h4,
           doc_id % 3 = 0 AS idr2
    FROM documents
)
SELECT media_id,
       CAST(i AS INT) AS sample_index,
       CAST(24 + 6 * i AS BIGINT) AS byte_offset,
       CAST(6 AS BIGINT) AS sample_size,
       CASE WHEN i = 0 THEN TRUE
            WHEN i = 1 THEN FALSE
            ELSE idr2 END AS is_idr,
       CASE WHEN i = 0 THEN '5'
            WHEN i = 1 THEN '1'
            ELSE CASE WHEN idr2 THEN '5' ELSE '1' END END AS nal_types,
       CAST(16 * w5 AS INT) AS width,
       CAST(16 * h4 AS INT) AS height,
       66 AS profile_idc, 30 AS level_idc
FROM g, generate_series(0, 2) AS t(i)
""",
    tags=("multimodal", "video", "h264"),
    # bench=True (r14): standing driver number for the H.264 NAL-walk
    # frame planner
    bench=True,
)
def q_multimodal_h264_frame_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-range frame planning for the DOMINANT video codec (r14 —
    the inter-frame seam narrowed): H.264-in-MP4 through the pure-byte
    NAL-unit walk — avcC decoder-config parse, SPS geometry via
    Exp-Golomb (width/height/profile/level), and per-sample AVCC
    length-prefix tiling with IDR keyframes detected from the
    BITSTREAM (NAL type 5), not the container's optional stss. Pixel
    reconstruction stays the honest ffmpeg seam; everything a sampler
    needs to fetch exactly the keyframe byte ranges from object
    storage is real and oracle-gated. Each doc plants a complete AVC
    MP4 whose SPS width/height fields and third sample's NAL header
    splice per doc (fixed-width Exp-Golomb codes — layout verified
    against the independent SPS bit-writer in pytest); the oracle
    recomputes every row arithmetically. One narrow Arrow stage, no
    shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    p1, p2, p3, p4 = _avc_mp4_template()
    w5 = F.lit(16) + F.pmod(doc, F.lit(16))
    h4 = F.lit(8) + F.pmod(doc, F.lit(8))

    def b2(col):
        return F.lpad(F.hex(col), 2, "0")

    payload_hex = F.concat(
        F.lit(p1),
        b2(F.when(F.pmod(doc, F.lit(3)) == 0, 0x65).otherwise(0x41)),
        F.lit(p2),
        b2(F.shiftright(w5, 1)),
        F.lit(p3),
        b2(F.pmod(w5, F.lit(2)) * 128 + h4),
        F.lit(p4),
    )
    media = d.select(
        doc.alias("media_id"),
        F.unhex(payload_hex).alias("payload"),
    )
    return mm.h264_frame_plan(media)


@register(
    "pdf_scanned_prose_dedup",
    """
WITH w AS (
    SELECT ['GOLD','IRON','MOSS','REED','FERN','OPAL','ZINC','JUTE'] AS ws
), g AS (
    SELECT doc_id AS media_id,
           ws[CAST(doc_id % 8 AS INT) + 1] || ' ' ||
           ws[CAST((doc_id // 8) % 8 AS INT) + 1] || ' ' ||
           ws[CAST((doc_id // 64) % 8 AS INT) + 1] || '.' AS page_text
    FROM documents, w
)
SELECT page_text,
       COUNT(*) AS n_docs,
       MIN(media_id) AS representative_id,
       COUNT(*) - 1 AS n_duplicates
FROM g
GROUP BY page_text
""",
    tags=("S2", "pdf", "ocr", "dedup"),
)
def q_pdf_scanned_prose_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multimodal → text → dedup, end-to-end (r14): the scanned-prose
    corpus (inline raw-gray BI images OCR'd by the A-Z font — the
    SAME planted binaries as pdf_scanned_prose_quality) flows into
    EXACT deduplication the way a real pipeline dedups an OCR'd PDF
    corpus: group by the recognized text, count the cluster, keep the
    lowest media_id as representative. 512 distinct word triples over
    the corpus give real duplicate clusters at every SF. One narrow
    Arrow stage + one keyed aggregation (md5-class exact dedup shape:
    the single shuffle is on the dedup key). The oracle recomputes
    every cluster from the word selection and never sees a pixel."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    pages = extract_pages(_prose_scan_binary(d)).select(
        F.regexp_extract("document_name", r"prose-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_text",
    )
    return pages.groupBy("page_text").agg(
        F.count("*").alias("n_docs"),
        F.min("media_id").alias("representative_id"),
        (F.count("*") - 1).alias("n_duplicates"),
    )


@register(
    "pdf_form_xobject_text",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS d6,
           lpad(CAST(doc_id % 37 AS VARCHAR), 2, '0') AS d2
    FROM documents
)
SELECT media_id,
       1 AS page_number,
       'body ' || d6 || chr(10) || 'header ' || d2 AS page_text,
       'pure-byte' AS extractor
FROM g
""",
    tags=("S1", "pdf", "forms"),
)
def q_pdf_form_xobject_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/Subtype /Form XObject text extraction (r14): the nesting real
    writers use for headers, stamps, and n-up imposition — text the
    page paints with ``Do`` out of a separate content stream with its
    own (or inherited) resources, previously invisible to the text
    path. Each doc plants a one-page PDF whose body shows six digits
    and whose header FORM shows two more; the tokenizer executes the
    form inline at the paint position (depth-bounded). The oracle
    recomputes both strings — a parser that ignores Do (or executes it
    at the wrong position) mismatches every row. One narrow Arrow
    stage, no shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d6 = F.lpad((doc % 1000000).cast("string"), 6, "0")
    d2 = F.lpad((doc % 37).cast("string"), 2, "0")
    c_page = "BT (body "  # + d6 + ") Tj ET /Hdr Do"
    c_page_tail = ") Tj ET /Hdr Do"
    c_form = "BT (header "  # + d2 + ") Tj ET"
    c_form_tail = ") Tj ET"
    page_len = len(c_page) + 6 + len(c_page_tail)
    form_len = len(c_form) + 2 + len(c_form_tail)
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
        "<< /XObject << /Hdr 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {page_len} >>\nstream\n{c_page}"
    mid = f"{c_page_tail}\nendstream\nendobj\n"
    mid += (
        "5 0 obj\n<< /Type /XObject /Subtype /Form /BBox [0 0 100 20]"
        f" /Length {form_len} >>\nstream\n{c_form}"
    )
    tail = (
        f"{c_form_tail}\nendstream\nendobj\ntrailer\n"
        "<< /Size 6 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )

    def ahex(col: "F.Column") -> "F.Column":
        return F.upper(F.hex(F.encode(col, "UTF-8")))

    pdf_hex = F.concat(
        F.lit(pre.encode().hex().upper()),
        ahex(d6),
        F.lit(mid.encode().hex().upper()),
        ahex(d2),
        F.lit(tail.encode().hex().upper()),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://form-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"form-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )


def _tiled_tiff_header_hex(
    w: int, h: int, tw: int, th: int, n_tiles: int, tile_bytes: int
) -> str:
    """Constant header of the planted TILED gray TIFF (r14):
    little-endian IFD0 with TileWidth/TileLength/TileOffsets/
    TileByteCounts; uncompressed equal-size tiles make every offset a
    plan-time constant, so only the pixel bytes vary per doc."""
    import struct

    entries = [
        (256, 4, w), (257, 4, h), (258, 3, 8), (259, 3, 1),
        (262, 3, 1), (277, 3, 1), (322, 4, tw), (323, 4, th),
        (324, 4, None), (325, 4, None),
    ]
    n = len(entries)
    dir_end = 8 + 2 + 12 * n + 4
    # offset-valued arrays for the two tile tables
    offs_blob_at = dir_end
    cnts_blob_at = offs_blob_at + 4 * n_tiles
    data_at = cnts_blob_at + 4 * n_tiles
    hdr = bytearray(b"II*\x00" + struct.pack("<I", 8))
    hdr += struct.pack("<H", n)
    for tag, typ, val in entries:
        hdr += struct.pack("<HHI", tag, typ,
                           n_tiles if val is None else 1)
        if val is None:
            hdr += struct.pack(
                "<I", offs_blob_at if tag == 324 else cnts_blob_at
            )
        elif typ == 4:
            hdr += struct.pack("<I", val)
        else:
            hdr += struct.pack("<HH", val, 0)
    hdr += struct.pack("<I", 0)
    assert len(hdr) == dir_end
    for t in range(n_tiles):
        hdr += struct.pack("<I", data_at + t * tile_bytes)
    for _t in range(n_tiles):
        hdr += struct.pack("<I", tile_bytes)
    return bytes(hdr).hex().upper()


@register(
    "multimodal_tiff_tiled_decode",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           20 + doc_id % 100 AS base,
           1 + doc_id % 7 AS ra
    FROM documents
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 143),
               k -> (base + (k // 12) * ra + (k % 12)) % 251) AS p
    FROM g
)
SELECT media_id, 12 AS width, 12 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 143),
            k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "tiff", "tiled"),
)
def q_multimodal_tiff_tiled_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TILED TIFF decode end-to-end (r14) — the large-scan/geo layout
    previously an honest None: complete valid 12x12 gray TIFFs whose
    pixel data lives in four 8x8 tiles (right/bottom tiles
    edge-cropped — the part a strip decoder can't fake), planted in
    column algebra over a constant tile-table header. decode_tiff_array
    assembles the tile grid through the same chunk decoder as strips;
    pixel_checksums emits position-weighted sums the oracle recomputes
    from p(r,x) = (base + r*ra + x) mod 251 — a tile-order slip,
    padding leak, or crop bug mismatches every row. One narrow Arrow
    stage, no shuffle."""
    w = h = 12
    tw = th = 8
    hdr = _tiled_tiff_header_hex(w, h, tw, th, 4, tw * th)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    base = F.lit(20) + F.pmod(doc, F.lit(100))
    ra = F.lit(1) + F.pmod(doc, F.lit(7))

    def hx2(col):
        return F.lpad(F.hex(col), 2, "0")

    def tile_hex(ty: int, tx: int) -> "F.Column":
        idx = F.sequence(F.lit(0), F.lit(tw * th - 1))
        return F.concat_ws(
            "",
            F.transform(
                idx,
                lambda i: hx2(
                    F.when(
                        (F.lit(ty * th) + F.floor(i / tw) < h)
                        & (F.lit(tx * tw) + F.pmod(i, F.lit(tw)) < w),
                        F.pmod(
                            base
                            + (F.lit(ty * th) + F.floor(i / tw)) * ra
                            + F.lit(tx * tw) + F.pmod(i, F.lit(tw)),
                            F.lit(251),
                        ),
                    ).otherwise(F.lit(0))
                ),
            ),
        )

    payload_hex = F.concat(
        F.lit(hdr),
        tile_hex(0, 0), tile_hex(0, 1), tile_hex(1, 0), tile_hex(1, 1),
    )
    media = d.select(
        doc.alias("media_id"), F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


@register(
    "multimodal_h264_annexb_index",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           16 + doc_id % 16 AS w5,
           8 + doc_id % 8 AS h4,
           2 + CAST(doc_id % 3 AS INT) AS nf
    FROM documents
)
SELECT media_id,
       CAST(i AS INT) AS nal_index,
       CAST(CASE WHEN i = 0 THEN 4
                 WHEN i = 1 THEN 16
                 ELSE 24 + 8 * (i - 2) END AS BIGINT) AS byte_offset,
       CAST(CASE WHEN i = 0 THEN 8
                 WHEN i = 1 THEN 4
                 ELSE 4 END AS BIGINT) AS nal_size,
       CAST(CASE WHEN i = 0 THEN 7
                 WHEN i = 1 THEN 8
                 WHEN i = 2 THEN 5
                 ELSE 1 END AS INT) AS nal_type,
       i = 2 AS is_idr,
       CAST(16 * w5 AS INT) AS width,
       CAST(16 * h4 AS INT) AS height,
       66 AS profile_idc, 30 AS level_idc
FROM g, generate_series(0, 9) AS t(i)
WHERE i < nf + 2
""",
    tags=("multimodal", "video", "h264"),
)
def q_multimodal_h264_annexb_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Annex-B H.264 ELEMENTARY streams (r14 — raw .h264 / broadcast
    PES payloads, the other container-less shape of the dominant
    codec): start-code delimited NAL walk with SPS geometry and
    bitstream IDR flags, per-doc varying frame COUNT (2 + doc%3
    frames, the first an IDR) and SPS width/height splice bytes (the
    same fixed-width Exp-Golomb trick as the MP4 fixture). The oracle
    recomputes every NAL's offset/size/type arithmetically from the
    framing — a start-code scan slip or trailing-zero mishandling
    shifts every offset and mismatches. One narrow Arrow stage, no
    shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    w5 = F.lit(16) + F.pmod(doc, F.lit(16))
    h4 = F.lit(8) + F.pmod(doc, F.lit(8))

    def b2(col):
        return F.lpad(F.hex(col), 2, "0")

    # SC4 + SPS(8: 67 42 00 1E F4 [w] [h] 90) + SC4 + PPS(4) then
    # frames: SC4 + hdr + 3 payload bytes (frame 0 IDR, rest non-IDR)
    sps_hex = F.concat(
        F.lit("00000001" "6742001EF4"),
        b2(F.shiftright(w5, 1)),
        b2(F.pmod(w5, F.lit(2)) * 128 + h4),
        F.lit("90"),
    )
    pre = F.concat(
        sps_hex,
        F.lit("00000001" "68CE3880"),
        F.lit("00000001" "65887766"),  # frame 0: IDR
    )
    payload_hex = F.concat(
        pre,
        F.repeat(
            F.lit("00000001" "41887766"),
            (F.lit(1) + F.pmod(doc, F.lit(3))).cast("int"),
        ),
    )
    media = d.select(
        doc.alias("media_id"),
        F.unhex(payload_hex).alias("payload"),
    )
    return mm.h264_annexb_plan(media)


def _mpegts_template() -> tuple[str, str, str, str]:
    """Hex pieces of the planted single-program TS around its three
    varying bytes (SPS width/height splices + frame 1's NAL header):
    PAT + PMT + one PES packet carrying a 44-byte Annex-B ES of five
    NALs, adaptation-field stuffing per spec."""
    def pkt(pid: int, payload: bytes, pusi: bool) -> bytes:
        b1 = ((pid >> 8) & 0x1F) | (0x40 if pusi else 0)
        stuff = 184 - len(payload) - 1
        af = bytes([stuff]) + (
            b"\x00" + b"\xff" * (stuff - 1) if stuff else b""
        )
        out = bytes([0x47, b1, pid & 0xFF, 0x30]) + af + payload
        assert len(out) == 188
        return out

    def psi(table_id: int, body: bytes) -> bytes:
        hdr = b"\x00\x01\xc1\x00\x00"
        sec_len = len(hdr) + len(body) + 4
        return (
            b"\x00"
            + bytes([table_id, 0xB0 | (sec_len >> 8), sec_len & 0xFF])
            + hdr + body + bytes(4)
        )

    pat = psi(0x00, bytes([0x00, 0x01, 0xE0, 0x20]))
    pmt = psi(0x02, bytes([0xE0, 0x41, 0xF0, 0x00,
                           0x1B, 0xE0, 0x41, 0xF0, 0x00]))
    es = (
        b"\x00\x00\x00\x01" + bytes(
            [0x67, 0x42, 0x00, 0x1E, 0xF4, 0xAA, 0xBB, 0x90])
        + b"\x00\x00\x00\x01\x68\xce\x38\x80"
        + b"\x00\x00\x00\x01\x65\x88\x77\x66"
        + b"\x00\x00\x00\x01\xCC\x88\x77\x66"
        + b"\x00\x00\x00\x01\x41\x88\x77\x66"
    )
    pes = b"\x00\x00\x01\xe0\x00\x00\x80\x00\x00" + es
    ts = (
        pkt(0, pat, True) + pkt(0x20, pmt, True) + pkt(0x41, pes, True)
    )
    full = ts.hex().upper()
    for marker in ("AA", "BB", "CC"):
        assert full.count(marker) == 1, marker
    p1, rest = full.split("AA", 1)
    p2, rest = rest.split("BB", 1)
    p3, p4 = rest.split("CC", 1)
    return p1, p2, p3, p4


@register(
    "multimodal_mpegts_h264_index",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           16 + doc_id % 16 AS w5,
           8 + doc_id % 8 AS h4,
           doc_id % 2 = 0 AS idr1
    FROM documents
)
SELECT media_id, 65 AS pid, CAST(44 AS BIGINT) AS es_bytes,
       CAST(i AS INT) AS nal_index,
       CAST(CASE WHEN i = 0 THEN 4 WHEN i = 1 THEN 16
                 ELSE 24 + 8 * (i - 2) END AS BIGINT) AS byte_offset,
       CAST(CASE WHEN i = 0 THEN 8 ELSE 4 END AS BIGINT) AS nal_size,
       CAST(CASE WHEN i = 0 THEN 7 WHEN i = 1 THEN 8
                 WHEN i = 2 THEN 5
                 WHEN i = 3 THEN CASE WHEN idr1 THEN 5 ELSE 1 END
                 ELSE 1 END AS INT) AS nal_type,
       i = 2 OR (i = 3 AND idr1) AS is_idr,
       CAST(16 * w5 AS INT) AS width,
       CAST(16 * h4 AS INT) AS height
FROM g, generate_series(0, 4) AS t(i)
""",
    tags=("multimodal", "video", "h264", "mpegts"),
)
def q_multimodal_mpegts_h264_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MPEG-TS ingestion end-to-end (r14): the broadcast/capture
    container — 188-byte packet walk, PAT → PMT program resolution,
    PES reassembly, then the Annex-B NAL index over the recovered
    elementary stream (SPS geometry + bitstream IDR flags). Each doc
    plants a complete single-program TS (PAT + PMT + one
    adaptation-field-stuffed PES packet) whose SPS width/height and
    middle frame's NAL header splice per doc; the oracle recomputes
    every NAL row from the framing. Pixel decode stays the ffmpeg
    seam. One narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources import mpegts

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    p1, p2, p3, p4 = _mpegts_template()
    w5 = F.lit(16) + F.pmod(doc, F.lit(16))
    h4 = F.lit(8) + F.pmod(doc, F.lit(8))

    def b2(col):
        return F.lpad(F.hex(col), 2, "0")

    payload_hex = F.concat(
        F.lit(p1),
        b2(F.shiftright(w5, 1)),
        F.lit(p2),
        b2(F.pmod(w5, F.lit(2)) * 128 + h4),
        F.lit(p3),
        b2(F.when(F.pmod(doc, F.lit(2)) == 0, 0x65).otherwise(0x41)),
        F.lit(p4),
    )
    media = d.select(
        doc.alias("media_id"),
        F.unhex(payload_hex).alias("payload"),
    )
    return mpegts.ts_h264_plan(media)


@register(
    "corpus_srt_cues",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           10 + doc_id % 50 AS base_s,
           1 + doc_id % 4 AS dur_s,
           250 * (CAST(doc_id % 4 AS INT)) AS ms_off,
           lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS d3
    FROM documents
)
SELECT media_id,
       CAST(i + 1 AS INT) AS cue_index,
       CAST((base_s + i * 10) * 1000 + ms_off AS BIGINT) AS start_ms,
       CAST((base_s + i * 10 + dur_s) * 1000 + ms_off AS BIGINT)
           AS end_ms,
       CASE WHEN i = 2
            THEN 'closing words ' || d3 || chr(10) || 'second line'
            ELSE 'cue ' || CAST(i + 1 AS VARCHAR) || ' text ' || d3
       END AS cue_text
FROM g, generate_series(0, 2) AS t(i)
""",
    # NOT tagged "multimodal": the whole point is there is no Arrow
    # stage — SRT is text, parsed in pure column algebra (the
    # registry-wide lint checks multimodal queries KEEP their
    # mapInPandas stage, which this query rightly never had)
    tags=("video", "text", "subtitles", "corpus"),
)
def q_corpus_srt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SubRip subtitle parsing (r14) — the TEXT modality of a video
    corpus, extracted entirely JVM-side (zero Python): each doc plants
    a complete 3-cue .srt (index line, ``HH:MM:SS,mmm --> …``
    timestamp line, one- and two-line cue bodies, blank-line
    separators, trailing newline), then PARSES it back with column
    algebra — split on blank lines → posexplode → regexp timestamp
    fields → integer millisecond arithmetic → body re-join. The oracle
    recomputes every cue's times and text from the same per-doc
    parameters; a split-boundary, regex, or ms-arithmetic slip
    mismatches rows. One narrow codegen stage + the explode, no
    shuffle, no UDF — at 100 TB this is the bandwidth-bound shape a
    subtitle-harvest stage should be."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    base_s = F.lit(10) + F.pmod(doc, F.lit(50))
    dur_s = F.lit(1) + F.pmod(doc, F.lit(4))
    ms_off = F.pmod(doc, F.lit(4)).cast("int") * 250
    d3 = F.lpad((doc % 1000).cast("string"), 3, "0")

    def ts(total_s: "F.Column", ms: "F.Column") -> "F.Column":
        return F.format_string(
            "%02d:%02d:%02d,%03d",
            F.floor(total_s / 3600).cast("int"),
            F.pmod(F.floor(total_s / 60), F.lit(60)).cast("int"),
            F.pmod(total_s, F.lit(60)).cast("int"),
            ms.cast("int"),
        )

    def cue(i: int) -> "F.Column":
        s = base_s + i * 10
        body = (
            F.concat(F.lit("closing words "), d3,
                     F.lit("\nsecond line"))
            if i == 2
            else F.concat(F.lit(f"cue {i + 1} text "), d3)
        )
        return F.concat(
            F.lit(f"{i + 1}\n"),
            ts(s, ms_off), F.lit(" --> "), ts(s + dur_s, ms_off),
            F.lit("\n"), body, F.lit("\n"),
        )

    srt = F.concat_ws("\n", cue(0), cue(1), cue(2))
    files = d.select(
        doc.alias("media_id"), srt.alias("srt_text")
    )
    # ---- the parse (what a harvest stage runs on REAL .srt bytes) ----
    blocks = F.split(F.col("srt_text"), r"\n\s*\n")
    exploded = files.select(
        "media_id", F.posexplode(blocks).alias("pos", "block")
    ).where(F.trim("block") != "")
    # the final block keeps the file's trailing newline: rtrim before
    # splitting so the cue body has no phantom empty last line
    lines = F.split(F.regexp_replace("block", r"\s+$", ""), "\n")
    tl = F.element_at(lines, 2)
    t_re = (
        r"(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> "
        r"(\d{2}):(\d{2}):(\d{2}),(\d{3})"
    )

    def ms_of(first: bool) -> "F.Column":
        o = 0 if first else 4
        return (
            F.regexp_extract(tl, t_re, o + 1).cast("long") * 3600000
            + F.regexp_extract(tl, t_re, o + 2).cast("long") * 60000
            + F.regexp_extract(tl, t_re, o + 3).cast("long") * 1000
            + F.regexp_extract(tl, t_re, o + 4).cast("long")
        )

    return exploded.select(
        "media_id",
        F.element_at(lines, 1).cast("int").alias("cue_index"),
        ms_of(True).alias("start_ms"),
        ms_of(False).alias("end_ms"),
        F.array_join(
            F.slice(lines, 3, F.size(lines) - 2), "\n"
        ).alias("cue_text"),
    )


@register(
    "catalog_mongoexport_ingest",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           lpad(lower(to_hex(doc_id)), 24, '0') AS oid,
           'doc-' || CAST(doc_id AS VARCHAR) || '.pdf' AS document_name,
           ['active','expired','pending'][CAST(doc_id % 3 AS INT) + 1]
               AS status,
           1700000000000 + doc_id * 1000 AS upload_ms,
           1 + doc_id % 40 AS n_pages
    FROM documents
)
SELECT media_id, oid AS _id, document_name, status,
       CAST(upload_ms AS BIGINT) AS upload_date,
       CAST(n_pages AS BIGINT) AS n_pages,
       CAST(NULL AS VARCHAR) AS _corrupt
FROM g
""",
    tags=("S3", "mongo", "catalog"),
)
def q_catalog_mongoexport_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's store, ingested the way Mongo data reaches a
    data lake (r14 — data_ingestion.py:318-331): ``mongoexport``
    Extended-JSON lines with the real type envelopes (_id ``$oid``,
    ``$date``+``$numberLong`` timestamps, ``$numberLong`` counts) are
    planted per doc in column algebra, then parsed by the extras-free
    dump path (``sources/mongo.parse_extended_json``: envelope
    normalization + ``from_json`` + corrupt-record column — one narrow
    codegen stage, no UDF, no shuffle). The live-connector path is the
    documented optional-JAR seam, pytest-gated. The oracle recomputes
    every typed field from doc_id — an envelope-regex or schema slip
    mismatches rows."""
    from pyspark.sql import types as T

    from data_ingestion_py_spark.sources import mongo

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    oid = F.lpad(F.lower(F.hex(doc)), 24, "0")
    line = F.concat(
        F.lit('{"_id": {"$oid": "'), oid,
        F.lit('"}, "document_name": "doc-'), doc.cast("string"),
        F.lit('.pdf", "status": "'),
        F.element_at(
            F.array(F.lit("active"), F.lit("expired"), F.lit("pending")),
            F.pmod(doc, F.lit(3)).cast("int") + 1,
        ),
        F.lit('", "upload_date": {"$date": {"$numberLong": "'),
        (F.lit(1700000000000) + doc * 1000).cast("string"),
        F.lit('"}}, "n_pages": {"$numberLong": "'),
        (F.lit(1) + F.pmod(doc, F.lit(40))).cast("string"),
        F.lit('"}}'),
    )
    dump = d.select(doc.alias("media_id"), line.alias("value"))
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("document_name", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("upload_date", T.LongType()),
            T.StructField("n_pages", T.LongType()),
        ]
    )
    return mongo.parse_extended_json(dump, schema)


@register(
    "corpus_webvtt_cues",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           5 + doc_id % 40 AS base_s,
           2 + doc_id % 3 AS dur_s,
           125 * (CAST(doc_id % 8 AS INT)) AS ms_off,
           lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS d3
    FROM documents
)
SELECT media_id,
       CAST(i + 1 AS INT) AS cue_order,
       CASE WHEN i = 0 THEN 'intro' ELSE '' END AS cue_id,
       CAST((base_s + i * 15) * 1000 + ms_off AS BIGINT) AS start_ms,
       CAST((base_s + i * 15 + dur_s) * 1000 + ms_off AS BIGINT)
           AS end_ms,
       CASE WHEN i = 1
            THEN 'speaker one ' || d3 || chr(10) || 'speaker two'
            ELSE 'vtt cue ' || CAST(i + 1 AS VARCHAR) || ' ' || d3
       END AS cue_text
FROM g, generate_series(0, 1) AS t(i)
""",
    tags=("video", "text", "subtitles", "corpus"),
)
def q_corpus_webvtt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebVTT parsing (r14) — the web-native sibling of
    ``corpus_srt_cues``, again entirely JVM-side: each doc plants a
    complete .vtt (``WEBVTT`` header block, a ``NOTE`` comment block
    that must be SKIPPED, one identified cue and one bare-timestamp
    cue, dot-millisecond ``HH:MM:SS.mmm`` timestamps, cue-settings
    text after the arrow that must be ignored). The parse: blank-line
    block split → header/NOTE filtering by predicate → optional-id
    detection (a cue's first line is an id iff it has no arrow) →
    regexp timestamp fields → integer ms. The oracle recomputes every
    cue; a block-filter, id-detection, or settings-handling slip
    mismatches rows. One narrow codegen stage + the explode, no
    shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    base_s = F.lit(5) + F.pmod(doc, F.lit(40))
    dur_s = F.lit(2) + F.pmod(doc, F.lit(3))
    ms_off = F.pmod(doc, F.lit(8)).cast("int") * 125
    d3 = F.lpad((doc % 1000).cast("string"), 3, "0")

    def ts(total_s: "F.Column", ms: "F.Column") -> "F.Column":
        return F.format_string(
            "%02d:%02d:%02d.%03d",
            F.floor(total_s / 3600).cast("int"),
            F.pmod(F.floor(total_s / 60), F.lit(60)).cast("int"),
            F.pmod(total_s, F.lit(60)).cast("int"),
            ms.cast("int"),
        )

    def cue(i: int, cue_id: str) -> "F.Column":
        s = base_s + i * 15
        body = (
            F.concat(F.lit("speaker one "), d3,
                     F.lit("\nspeaker two"))
            if i == 1
            else F.concat(F.lit(f"vtt cue {i + 1} "), d3)
        )
        settings = " align:start position:10%" if i == 0 else ""
        return F.concat(
            F.lit(f"{cue_id}\n" if cue_id else ""),
            ts(s, ms_off), F.lit(" --> "), ts(s + dur_s, ms_off),
            F.lit(settings), F.lit("\n"), body,
        )

    vtt = F.concat_ws(
        "\n\n",
        F.lit("WEBVTT - planted corpus"),
        F.lit("NOTE\nthis comment block must be skipped"),
        cue(0, "intro"),
        cue(1, ""),
    )
    files = d.select(doc.alias("media_id"), vtt.alias("vtt_text"))
    blocks = F.split(F.col("vtt_text"), r"\n\s*\n")
    exploded = files.select(
        "media_id", F.posexplode(blocks).alias("pos", "block")
    ).where(
        (F.trim("block") != "")
        & ~F.col("block").startswith("WEBVTT")
        & ~F.col("block").startswith("NOTE")
        & F.col("block").contains("-->")
    )
    lines = F.split(F.regexp_replace("block", r"\s+$", ""), "\n")
    has_id = ~F.element_at(lines, 1).contains("-->")
    tl = F.when(has_id, F.element_at(lines, 2)).otherwise(
        F.element_at(lines, 1)
    )
    t_re = (
        r"(\d{2}):(\d{2}):(\d{2})\.(\d{3}) --> "
        r"(\d{2}):(\d{2}):(\d{2})\.(\d{3})"
    )

    def ms_of(first: bool) -> "F.Column":
        o = 0 if first else 4
        return (
            F.regexp_extract(tl, t_re, o + 1).cast("long") * 3600000
            + F.regexp_extract(tl, t_re, o + 2).cast("long") * 60000
            + F.regexp_extract(tl, t_re, o + 3).cast("long") * 1000
            + F.regexp_extract(tl, t_re, o + 4).cast("long")
        )

    body_from = F.when(has_id, F.lit(3)).otherwise(F.lit(2))
    return exploded.select(
        "media_id",
        F.row_number()
        .over(Window.partitionBy("media_id").orderBy("pos"))
        .alias("cue_order"),
        F.when(has_id, F.element_at(lines, 1)).otherwise("")
        .alias("cue_id"),
        ms_of(True).alias("start_ms"),
        ms_of(False).alias("end_ms"),
        F.array_join(
            F.slice(lines, body_from, F.size(lines)), "\n"
        ).alias("cue_text"),
    )


@register(
    "pdf_annotation_text",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS d6,
           ['low','medium','high'][CAST(doc_id % 3 AS INT) + 1] AS sev
    FROM documents
)
SELECT media_id, 1 AS page_number,
       CAST(i AS INT) AS annot_index,
       CASE WHEN i = 0 THEN 'Text' ELSE 'FreeText' END AS subtype,
       CASE WHEN i = 0 THEN 'review note ' || d6
            ELSE 'severity ' || sev END AS contents
FROM g, generate_series(0, 1) AS t(i)
""",
    tags=("S1", "pdf", "annotations"),
)
def q_pdf_annotation_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation-layer text (r14) — the markup real PDFs carry
    OUTSIDE content streams (review comments, sticky notes, free-text
    boxes), previously invisible: each doc plants a one-page PDF with
    a /Text annotation (doc-varying review note), a /FreeText
    annotation (cycling severity), and a /Widget with NO /Contents
    that must be skipped. ``extract_annotation_text`` walks /Annots
    per page through the pure parser (Arrow mapInPandas, one narrow
    stage, no shuffle); the oracle recomputes every row — an /Annots
    walk, subtype, or skip-rule slip mismatches immediately."""
    from data_ingestion_py_spark.sources import pdf as pdf_src

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    d6 = F.lpad((doc % 1000000).cast("string"), 6, "0")
    sev = F.element_at(
        F.array(F.lit("low"), F.lit("medium"), F.lit("high")),
        F.pmod(doc, F.lit(3)).cast("int") + 1,
    )
    c = "BT (body) Tj ET"
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        " /Annots [6 0 R 7 0 R 8 0 R] >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {len(c)} >>\nstream\n{c}\nendstream\nendobj\n"
    pre += (
        "6 0 obj\n<< /Type /Annot /Subtype /Text /Rect [0 0 9 9]"
        " /Contents (review note "
    )
    mid = (
        ") >>\nendobj\n"
        "7 0 obj\n<< /Type /Annot /Subtype /Widget /Rect [0 0 9 9]"
        " >>\nendobj\n"
        "8 0 obj\n<< /Type /Annot /Subtype /FreeText"
        " /Contents (severity "
    )
    tail = (
        ") >>\nendobj\ntrailer\n"
        "<< /Size 9 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    )

    def ahex(col: "F.Column") -> "F.Column":
        return F.upper(F.hex(F.encode(col, "UTF-8")))

    pdf_hex = F.concat(
        F.lit(pre.encode().hex().upper()),
        ahex(d6),
        F.lit(mid.encode().hex().upper()),
        ahex(sev),
        F.lit(tail.encode().hex().upper()),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://ann-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return pdf_src.extract_annotation_text(binary).select(
        F.regexp_extract("document_name", r"ann-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "annot_index",
        "subtype",
        "contents",
    )


def _planar2_tiff_header_hex(w: int, h: int) -> str:
    """Constant header of the planted PlanarConfiguration-2 RGB TIFF
    (r14): one uncompressed strip per plane, plane-major offsets —
    all plan-time constants, only the 3×w×h pixel bytes vary."""
    import struct

    plane_bytes = w * h
    entries = [
        (256, 4, w), (257, 4, h), (258, 3, None), (259, 3, 1),
        (262, 3, 2), (277, 3, 3), (284, 3, 2), (278, 4, h),
        (273, 4, "offs"), (279, 4, "cnts"),
    ]
    n = len(entries)
    dir_end = 8 + 2 + 12 * n + 4
    bps_at = dir_end
    offs_at = bps_at + 6
    cnts_at = offs_at + 12
    data_at = cnts_at + 12
    hdr = bytearray(b"II*\x00" + struct.pack("<I", 8))
    hdr += struct.pack("<H", n)
    for tag, typ, val in entries:
        cnt = 3 if val in (None, "offs", "cnts") else 1
        hdr += struct.pack("<HHI", tag, typ, cnt)
        if val is None:
            hdr += struct.pack("<I", bps_at)
        elif val == "offs":
            hdr += struct.pack("<I", offs_at)
        elif val == "cnts":
            hdr += struct.pack("<I", cnts_at)
        elif typ == 4:
            hdr += struct.pack("<I", val)
        else:
            hdr += struct.pack("<HH", val, 0)
    hdr += struct.pack("<I", 0)
    assert len(hdr) == dir_end
    hdr += struct.pack("<3H", 8, 8, 8)
    for pl in range(3):
        hdr += struct.pack("<I", data_at + pl * plane_bytes)
    for _pl in range(3):
        hdr += struct.pack("<I", plane_bytes)
    return bytes(hdr).hex().upper()


@register(
    "multimodal_tiff_planar_decode",
    """
WITH g AS (
    SELECT doc_id AS media_id,
           20 + doc_id % 60 AS base,
           1 + doc_id % 5 AS ra
    FROM documents
), px AS (
    SELECT media_id,
           list_transform(generate_series(0, 47),
               k -> base + 50 + (k // 8) * ra + (k % 8)) AS p
    FROM g
)
SELECT media_id, 8 AS width, 6 AS height,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(generate_series(0, 47),
            k -> (k + 1) * p[k + 1])) AS BIGINT) AS px_wsum
FROM px
""",
    tags=("multimodal", "decode", "tiff", "planar"),
)
def q_multimodal_tiff_planar_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PlanarConfiguration=2 TIFF decode (r14) — separate RGB planes
    in plane-major strips, previously an honest None: each doc plants
    a complete 8x6 RGB planar-2 TIFF whose plane p carries
    (base + 50·p + r·ra + x), so the (r+g+b)//3 gray collapse is
    EXACTLY base + 50 + r·ra + x and the oracle recomputes the
    position-weighted sums arithmetically — a plane-order slip or
    interleave bug shifts every value by a plane constant and
    mismatches. One narrow Arrow stage, no shuffle."""
    w, h = 8, 6
    hdr = _planar2_tiff_header_hex(w, h)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    base = F.lit(20) + F.pmod(doc, F.lit(60))
    ra = F.lit(1) + F.pmod(doc, F.lit(5))

    def hx2(col):
        return F.lpad(F.hex(col), 2, "0")

    def plane_hex(pl: int) -> "F.Column":
        idx = F.sequence(F.lit(0), F.lit(w * h - 1))
        return F.concat_ws(
            "",
            F.transform(
                idx,
                lambda i: hx2(
                    base + F.lit(pl * 50)
                    + F.floor(i / w) * ra + F.pmod(i, F.lit(w))
                ),
            ),
        )

    payload_hex = F.concat(
        F.lit(hdr), plane_hex(0), plane_hex(1), plane_hex(2)
    )
    media = d.select(
        doc.alias("media_id"), F.unhex(payload_hex).alias("payload")
    )
    return mm.pixel_checksums(media)


_DOCX_XML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<w:document xmlns:w="http://schemas.openxmlformats.org/'
    'wordprocessingml/2006/main"><w:body>'
)
_DOCX_XML_TAIL = "</w:body></w:document>"


@register(
    "docx_text_extract",
    """
WITH w AS (
    SELECT ['GOLD','IRON','MOSS','REED','FERN','OPAL','ZINC','JUTE'] AS ws
), g AS (
    SELECT doc_id AS media_id,
           ws[CAST(doc_id % 8 AS INT) + 1] AS w1,
           ws[CAST((doc_id // 8) % 8 AS INT) + 1] AS w2,
           ws[CAST((doc_id // 64) % 8 AS INT) + 1] AS w3,
           lpad(CAST(doc_id % 97 AS VARCHAR), 4, '0') AS n4
    FROM documents, w
), p AS (
    SELECT media_id, 0 AS para_index,
           w1 || ' ore. ' || w2 || ' moss rises. ' || w3 || ' ends.'
               AS text,
           1 AS snippet_id,
           w1 || ' ore. ' || w2 || ' moss rises.' AS snippet_text
    FROM g
    UNION ALL
    SELECT media_id, 0, 
           w1 || ' ore. ' || w2 || ' moss rises. ' || w3 || ' ends.',
           2, w3 || ' ends.'
    FROM g
    UNION ALL
    SELECT media_id, 1,
           'Sum & diff:' || chr(9) || n4 || '.',
           1, 'Sum & diff:' || chr(9) || n4 || '.'
    FROM g
)
SELECT * FROM p
""",
    tags=("S1", "docx", "source"),
    # bench=True (r15): standing driver number for the DOCX family
    bench=True,
)
def q_docx_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX ingestion end-to-end (r15, VERDICT #7) — the #2 enterprise
    document format: complete valid DOCX packages built in column
    algebra (a real ZIP whose ``word/document.xml`` member is
    DEFLATE-compressed as a raw stored-deflate block with an
    arithmetic CRC-32 via ``F.crc32``, local header + central
    directory + EOCD all hex-composed) flow through the pure-byte ZIP
    walk + WordprocessingML extraction (``sources/docx.py``:
    paragraphs → lines, ``<w:t>`` runs, ``<w:tab/>``, the XML
    entities) into the REAL snippetize operator in punctuation mode
    (num_sent=2, stride=2 — paragraph 0's three sentences produce two
    overlap-free windows, paragraph 1's single sentence one). The
    oracle recomputes every paragraph and window arithmetically — a
    ZIP-layout slip, inflate bug, entity mishandling, or window
    arithmetic error mismatches every row. One narrow Arrow stage +
    the snippetize explode, no shuffle."""
    from data_ingestion_py_spark.operators.snippetize import snippetize
    from data_ingestion_py_spark.sources.docx import docx_paragraph_rows

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    ws = ["GOLD", "IRON", "MOSS", "REED", "FERN", "OPAL", "ZINC", "JUTE"]
    wtab = F.array(*[F.lit(x) for x in ws])
    w1 = F.element_at(wtab, F.pmod(doc, F.lit(8)).cast("int") + 1)
    w2 = F.element_at(
        wtab, F.pmod(F.floor(doc / 8), F.lit(8)).cast("int") + 1
    )
    w3 = F.element_at(
        wtab, F.pmod(F.floor(doc / 64), F.lit(8)).cast("int") + 1
    )
    n4 = F.lpad(F.pmod(doc, F.lit(97)).cast("string"), 4, "0")
    xml = F.concat(
        F.lit(_DOCX_XML_HEAD + "<w:p><w:r><w:t>"),
        w1, F.lit(" ore. "), w2, F.lit(" moss rises. "), w3,
        F.lit(" ends.</w:t></w:r></w:p>"
              '<w:p><w:r><w:t xml:space="preserve">Sum &amp; diff:'
              "</w:t></w:r><w:r><w:tab/></w:r><w:r><w:t>"),
        n4,
        F.lit(".</w:t></w:r></w:p>" + _DOCX_XML_TAIL),
    )
    # every varying field is fixed-width (4-letter words, lpad-4
    # number), so the member length is a plan-time constant
    ln = len(
        _DOCX_XML_HEAD + "<w:p><w:r><w:t>" + "AAAA" + " ore. " + "AAAA"
        + " moss rises. " + "AAAA" + " ends.</w:t></w:r></w:p>"
        + '<w:p><w:r><w:t xml:space="preserve">Sum &amp; diff:'
        + "</w:t></w:r><w:r><w:tab/></w:r><w:r><w:t>" + "0000"
        + ".</w:t></w:r></w:p>" + _DOCX_XML_TAIL
    )
    xml_bytes = F.encode(xml, "UTF-8")
    crc = F.crc32(xml_bytes)
    xml_hex = F.hex(xml_bytes)
    comp = ln + 5  # one raw stored-deflate block: 5-byte header
    name = "word/document.xml"
    name_hex = name.encode().hex().upper()
    local = F.concat(
        F.lit("504B0304" + "1400" + "0000" + "0800" + "00000000"),
        _le_hex(crc, 4), _le_hex(F.lit(comp), 4), _le_hex(F.lit(ln), 4),
        F.lit("1100" + "0000"), F.lit(name_hex),
        F.lit("01"), _le_hex(F.lit(ln), 2),
        _le_hex(F.lit(0xFFFF - ln), 2), xml_hex,
    )
    central = F.concat(
        F.lit("504B0102" + "1400" + "1400" + "0000" + "0800"
              + "00000000"),
        _le_hex(crc, 4), _le_hex(F.lit(comp), 4), _le_hex(F.lit(ln), 4),
        F.lit("1100" + "0000" + "0000" + "0000" + "0000" + "00000000"
              + "00000000"),
        F.lit(name_hex),
    )
    cd_off = 30 + len(name) + comp
    zip_hex = F.concat(
        local, central,
        F.lit("504B0506" + "0000" + "0000" + "0100" + "0100"),
        _le_hex(F.lit(46 + len(name)), 4), _le_hex(F.lit(cd_off), 4),
        F.lit("0000"),
    )
    media = d.select(
        doc.alias("media_id"), F.unhex(zip_hex).alias("payload")
    )
    paras = docx_paragraph_rows(media)
    return snippetize(
        paras,
        text_col="text",
        id_cols=("media_id", "para_index"),
        carry_cols=("text",),
        num_sent=2,
        stride=2,
        mode="punctuation",
    )


#: r15 H.264 IDR fixture template (generated by the independent test
#: encoder in tests/test_h264_decode.py and round-trip-verified at
#: generation time): a 32x32 baseline IDR — SPS(qp26)+PPS+slice with
#: MB0 = I_PCM (the 256 luma bytes spliced between these constants;
#: chroma planes fixed 0x80), MB1 = I_16x16 horizontal, MB2 =
#: vertical, MB3 = DC, all zero residual. PCM values are kept in
#: [4, 244] so no emulation-prevention byte can ever be needed and a
#: +8 brightness shift never clips.
_H264_IDR_PREFIX = (
    "000000016742001EF44A200000000168CE3880000000016588840868"
)
_H264_IDR_CHROMA = "80" * 128
_H264_IDR_TAIL = "786B0C9E"


def _h264_idr_hex(seed, shift: int) -> "F.Column":
    def hx2(col):
        return F.lpad(F.hex(col), 2, "0")

    luma = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda k: hx2(
                F.lit(4 + shift) + F.pmod(seed * 7 + k, F.lit(241))
            ),
        ),
    )
    return F.concat(
        F.lit(_H264_IDR_PREFIX), luma,
        F.lit(_H264_IDR_CHROMA), F.lit(_H264_IDR_TAIL),
    )


@register(
    "multimodal_h264_idr_decode",
    """
WITH m AS (SELECT doc_id AS media_id, doc_id AS seed FROM documents),
u AS (
    SELECT media_id, 0 AS mb_row, 0 AS mb_col,
           1024 + list_sum(list_transform(range(0, 256),
               k -> (seed*7 + k) % 241)) AS y_sum
    FROM m
    UNION ALL
    SELECT media_id, 0, 1,
           16 * (64 + list_sum(list_transform(range(0, 16),
               r -> (seed*7 + r*16 + 15) % 241)))
    FROM m
    UNION ALL
    SELECT media_id, 1, 0,
           16 * (64 + list_sum(list_transform(range(0, 16),
               c -> (seed*7 + 240 + c) % 241)))
    FROM m
    UNION ALL
    SELECT media_id, 1, 1, 256 * (4 + (seed*7 + 255) % 241)
    FROM m
)
SELECT media_id, mb_row, mb_col, CAST(y_sum AS BIGINT) AS y_sum,
       32 AS width, 32 AS height
FROM u
""",
    tags=("multimodal", "video", "h264"),
    # bench=True (r15): standing driver number for the intra-frame
    # pixel decode path — the pixel half of the r14 frame planner
    bench=True,
)
def q_multimodal_h264_idr_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H.264 IDR pixel decode end-to-end (r15, VERDICT #3): complete
    baseline Annex-B streams built in column algebra around the
    template constants (PCM luma spliced per doc), decoded by the
    pure-Python CAVLC intra kernel (sources/h264_decode.py — slice
    parse, I_PCM + three I_16x16 prediction modes, the always-present
    Intra16x16DC CAVLC blocks, chroma DC prediction), one row per
    macroblock with its reconstructed luma sum. The oracle recomputes
    every MB arithmetically — horizontal prediction propagates MB0's
    right column, vertical its bottom row, and the DC MB collapses to
    MB0's corner pixel — so a prediction, CAVLC, or availability slip
    mismatches specific MBs. One narrow Arrow stage, no shuffle."""
    from data_ingestion_py_spark.sources.h264_decode import (
        h264_idr_mb_rows,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    media = d.select(
        doc.alias("media_id"),
        F.unhex(_h264_idr_hex(doc, 0)).alias("payload"),
    )
    return h264_idr_mb_rows(media)


@register(
    "multimodal_h264_video_phash",
    """
WITH c AS (
    SELECT doc_id AS media_id, doc_id AS seed FROM documents
    WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id + 5000000, doc_id FROM documents
    WHERE doc_id % 3 = 1 AND doc_id % 10 = 0
), q AS (
    SELECT media_id, seed,
        list_transform(range(0, 16), b ->
            CASE
            WHEN b % 4 < 2 AND b // 4 < 2 THEN
                256 + list_sum(list_transform(range(0, 64), i ->
                    (seed*7 + ((b//4)*8 + i//8)*16
                     + ((b%4)*8 + i%8)) % 241))
            WHEN b // 4 < 2 THEN
                8 * list_sum(list_transform(range(0, 8), r ->
                    4 + (seed*7 + ((b//4)*8 + r)*16 + 15) % 241))
            WHEN b % 4 < 2 THEN
                8 * list_sum(list_transform(range(0, 8), cc ->
                    4 + (seed*7 + 240 + (b%4)*8 + cc) % 241))
            ELSE 64 * (4 + (seed*7 + 255) % 241)
            END) AS bs
    FROM c
), ph AS (
    SELECT media_id,
        list_sum(list_transform(range(0, 16), b ->
            CASE WHEN bs[b + 1] * 16 > list_sum(bs)
                 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS phash
    FROM q
)
SELECT CAST(phash AS BIGINT) AS phash,
       min(media_id) AS canonical_media_id,
       count(*) AS n_copies
FROM ph
GROUP BY phash
""",
    tags=("multimodal", "dedup", "phash", "video", "h264"),
)
def q_multimodal_h264_video_phash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The H.264 leg of video near-dup dedup (r15): every third doc
    is a compressed baseline IDR stream, every tenth of those ALSO
    appears as a +8-brightness clone (byte-distinct at the PCM layer,
    so exact dedup misses it) — REALLY decoded by the CAVLC intra
    kernel, luma hashed by the SAME integer average-hash still images
    use, and videos grouped by hash: clones collapse onto their
    originals through actual pixel math propagated through intra
    prediction. The oracle recomputes each block sum from the
    reconstruction formulas and proves the brightness shift cancels
    out of the cross-multiplied compare. One shuffle on the hash."""
    from data_ingestion_py_spark.sources.h264_decode import (
        h264_idr_phashes,
    )

    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 1
    ).select("doc_id")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(0).alias("shift"),
    )
    clones = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5000000).alias("media_id"),
        F.col("doc_id").alias("seed"),
        F.lit(8).alias("shift"),
    )
    pieces = []
    for src, shift in ((base, 0), (clones, 8)):
        pieces.append(
            src.select(
                "media_id",
                F.unhex(
                    _h264_idr_hex(F.col("seed"), shift)
                ).alias("payload"),
            )
        )
    media = pieces[0].unionByName(pieces[1])
    hashes = h264_idr_phashes(media, grid=4)
    return hashes.groupBy("phash").agg(
        F.min("media_id").alias("canonical_media_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


#: lossless JPEG 2000 codestreams of the SAME 16x24 digit glyphs as
#: _G4_DIGIT_HEX (levels=1, 5/3 reversible, single layer) — generated
#: by the independent test-side encoder
#: (tests/test_jpeg2000.py::encode_jp2k, whose MQ kernel is pinned by
#: the T.88 conformance vector) from the rasters g4_decode yields,
#: and round-trip-verified against sources/jpeg2000.decode_jp2k at
#: generation time.
_JPX_DIGIT_HEX = {
    "0": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A0000000000250001FF93FF0040115054AC02BFFFACE3C78CBFFFACBFFFACBFFFACFFD9",
    "1": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A0000000000760001FF93FF02982217808525C27B98D2A1A5C0000E4EC8E9410060414F69479B0FCD87E6C3F361F9B0FCD87E6C3F361F9B0FCD87E6C3F361F9B0FCD87E6C3F361F9B0FCD87E6C3F361F9B0FCD87E6C3F361F9B0FCD87E6C3FFACFF003E3C60221A10E7B7FFACBFFFACBFFFACFFD9",
    "2": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A0000000000990001FF93FF02881150531B7A48CBFE54EB7AEB0984BF049DBF23803F6AC787B6709D65EB9EE077D012D46C0A6B4800A8053843F351B029ACFCA3F02FDE0DFF694F0C0B5000A80605A800540302D4002A01816A001500FFACFF0087F018FE00E049CC433414983ED8BD279F21B4FDFFAC24C7A19BAC6666342E31404BC806F2EA60F880F2FF7FFFAC4D339759C4FFACFFD9",
    "3": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A00000000007E0001FF93FF01E81150531B7A48CBFE54F30D4658C430546B3792A1A103F390002FB4F41A8E93E00600A54D2A18FDD2F7AE62BE6A2A4F80181054895E054060415223FFACFF0067F014FDA10049CC430549164D3DC4DFFFAC24C7A19BAB7E18E25BC31F8A08A7A96382B1FFAC24D36316917FFFACFFD9",
    "4": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A0000000000970001FF93FF0280115041C95A7F29A5ED026EF1C2610EB6630E06EA9855328D2A420806041520652D829AD2002A01816A001500C0B4FF25AC322CD3DBBAA031CF9FF4A78605A800540302D4002A01816A001500C0B4FFACFF009FF013FDA10024D9869A9027D55A64BE091EA40688645FFFAC2E3E081CCECFCD76784130A2324356841BFFAC4DE4D295C65AFFACFFD9",
    "5": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A0000000000970001FF93FF026811503E6F6D37052E49E65A61F931AD5A8ECE0E90B02E3C3C04D438F6B320F84C992A7184798A711F5A7C82690438F7198FAD3E6986C23DA54090912CE00C23CC53890912CE00C23CC5387FFFACFF0097F016FDA1204DDAA8DF98211F0E865E424EED389A0FFFAC4DC8926029AC12F1C641C1FC8A018647D4CFABC9FFAC24206A3F63A53FFFACFFD9",
    "6": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A00000000006D0001FF93FF01B8115041C95A7F604BD8FA793CC61C0DEE263C454003003269607580030032695E0584624148761922E406041522578150181054893FFFACFF0067F00BFD40C024DC664B3A072DD1A77FFFAC2E4238367465B4FF7FFFAC24DCD39FFFACFFD9",
    "7": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A00000000007F0001FF93FF02501150531E23D81098CEC30A08FAA7148088933F62E72E80030031E252E6C420FB9F860795069479B107EE8F2EBFBC1BA6C3F362107DCFC303CA834A3CD8841F73F0C0F2A0D28F361FFFACFF005FF00BFDA0C049CE0094F685CC623FFFAC24DBAAB5EDD5857087FFAC24DD6537FFACFFD9",
    "8": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A00000000006C0001FF93FF01D803688AED4C3BE49272AEE72D56C401A8E7DD284000000016963B13C87E8030052A6951927C00C014A9A54649F003020A912BC0A80C082A44AFFFACFF004FF009FDA0C022190718C8381FFFAC037AE07E87101FFFAC242C4E9FFFACFFD9",
    "9": "FF4FFF510029000000000010000000180000000000000000000000100000001800000000000000000001070101FF52000C00000001000104040001FF5C00074048484848FF90000A00000000006B0001FF93FF01B01150548E9B4991F892A20C25392A24448CDA40980005F8A2B6189A0030032692A2FBAA2E709644ADCA803020A912BC0A80C0829FFFACFF0057F00CFDA0C072D5DF1439DF95BFFFAC4DE4E8320DE568DAD55BFFAC4DE56537FFACFFD9",
}


@register(
    "pdf_jpx_scanned_digits",
    """
SELECT doc_id AS media_id,
       1 AS page_number,
       CAST(doc_id % 10 AS VARCHAR) || chr(10) ||
       CAST((doc_id // 10) % 10 AS VARCHAR) AS page_text,
       TRUE AS needs_ocr,
       'ocr-lite' AS extractor
FROM documents
""",
    tags=("S2", "pdf", "ocr", "jpx"),
    # bench=True (r15): standing driver number for the JPEG 2000
    # wavelet decode path (book-scan PDFs)
    bench=True,
)
def q_pdf_jpx_scanned_digits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The book-scan PDF shape end-to-end (r15, VERDICT stretch #6):
    /JPXDecode image XObjects carrying LOSSLESS JPEG 2000 codestreams
    (5/3 reversible DWT + EBCOT + the T.88-conformance-pinned MQ
    coder) — archive.org-style pipelines emit this where fax-era ones
    used CCITT. Each doc plants a one-page PDF with TWO gray JPX
    XObjects (the doc id's last two digits), decoded through
    Tier-2 packet headers → Tier-1 block coder → inverse wavelet →
    OCR-lite; the page text is the two recognized digits. Quantized /
    9-7 / multi-tile streams stay the honest seam. The oracle
    recomputes the digits arithmetically. One narrow Arrow stage, no
    shuffle."""
    from data_ingestion_py_spark.sources.pdf import extract_pages

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    digits = [
        F.pmod(doc, F.lit(10)).cast("int"),
        F.pmod(F.floor(doc / 10), F.lit(10)).cast("int"),
    ]
    hex_tab = F.array(*[F.lit(_JPX_DIGIT_HEX[str(t)]) for t in range(10)])
    len_tab = F.array(
        *[F.lit(str(len(_JPX_DIGIT_HEX[str(t)]) // 2)) for t in range(10)]
    )

    def obj_hex(s: str) -> "F.Column":
        return F.lit(s.encode().hex().upper())

    def ascii_hex(col: "F.Column") -> "F.Column":
        return F.upper(F.hex(F.encode(col, "UTF-8")))

    c4 = "q 16 0 0 24 0 0 cm /Im0 Do Q q 16 0 0 24 16 0 cm /Im1 Do Q"
    pre = "%PDF-1.7\n"
    pre += "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    pre += "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    pre += (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        "<< /Im0 5 0 R /Im1 6 0 R >> >> /Contents 4 0 R >>\nendobj\n"
    )
    pre += f"4 0 obj\n<< /Length {len(c4)} >>\nstream\n{c4}\nendstream\nendobj\n"

    def img_piece(num: int, digit: "F.Column") -> "F.Column":
        head = (
            f"{num} 0 obj\n<< /Type /XObject /Subtype /Image /Width 16 "
            "/Height 24 /ColorSpace /DeviceGray /BitsPerComponent 8 "
            "/Filter /JPXDecode /Length "
        )
        return F.concat(
            obj_hex(head),
            ascii_hex(F.element_at(len_tab, digit + 1)),
            obj_hex(" >>\nstream\n"),
            F.element_at(hex_tab, digit + 1),
            obj_hex("\nendstream\nendobj\n"),
        )

    tail = "trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
    pdf_hex = F.concat(
        obj_hex(pre),
        img_piece(5, digits[0]),
        img_piece(6, digits[1]),
        obj_hex(tail),
    )
    binary = d.select(
        F.concat(
            F.lit("mem://jpx-"), doc.cast("string"), F.lit(".pdf")
        ).alias("path"),
        F.unhex(pdf_hex).alias("content"),
    )
    return extract_pages(binary).select(
        F.regexp_extract("document_name", r"jpx-(\d+)\.pdf", 1)
        .cast("long")
        .alias("media_id"),
        "page_number",
        "page_text",
        "needs_ocr",
        F.col("document_metadata").getItem("extractor").alias("extractor"),
    )
