"""MPEG transport streams (ISO 13818-1) — the broadcast/capture
container a video corpus actually arrives in (r14): pure-byte packet
walk, PAT → PMT program resolution, PES reassembly per elementary PID,
and (for H.264 streams) the Annex-B NAL index from
``multimodal.h264_annexb_nals``.

Scope and honesty: single-program streams with 188-byte packets, no
scrambling (transport_scrambling_control != 0 refuses the PID),
adaptation fields skipped by their declared length. Everything here is
byte-range planning and stream classification — pixel decode stays the
documented ffmpeg seam.

Reference tie-in: the reference ingests documents only
(data_ingestion.py); this module extends the multimodal column family
the same way the MP4/AVI walkers do — metadata-only plans a 100 TB
pipeline runs before any decode.
"""

from __future__ import annotations

from data_ingestion_py_spark.sources.bits import Refused, none_on_refusal


_SYNC = 0x47
_PKT = 188


def _packets(payload: bytes):
    """Yield ``(pid, pusi, cc, scrambled, data)`` for each 188-byte
    packet that carries a payload (afc 1/3 — the only packets whose
    continuity_counter increments). Scrambled packets yield with their
    flag set and the raw (cipher) slice so consumers can REFUSE the
    PID rather than silently gap it. Stops at the first lost sync
    byte (torn capture — the prefix parsed so far stands, nothing
    after is guessed)."""
    n = len(payload)
    i = 0
    while i + _PKT <= n:
        if payload[i] != _SYNC:
            return
        b1, b2, b3 = payload[i + 1], payload[i + 2], payload[i + 3]
        pid = ((b1 & 0x1F) << 8) | b2
        pusi = bool(b1 & 0x40)
        scrambled = (b3 >> 6) & 0x3
        cc = b3 & 0x0F
        afc = (b3 >> 4) & 0x3
        j = i + 4
        if afc in (2, 3):  # adaptation field present
            if j >= i + _PKT:
                return
            j += 1 + payload[j]
        if afc in (1, 3) and j <= i + _PKT:
            yield pid, pusi, cc, bool(scrambled), payload[j : i + _PKT]
        i += _PKT


def _psi_table(data: bytes) -> bytes | None:
    """Section bytes of a PSI payload that starts in this packet:
    pointer_field skip + section header validation; returns the body
    between the header and the CRC (exclusive), or None."""
    if not data:
        return None
    p = data[0]
    s = 1 + p
    if s + 8 > len(data):
        return None
    sec_len = ((data[s + 1] & 0x0F) << 8) | data[s + 2]
    end = s + 3 + sec_len
    if end > len(data) or sec_len < 9:
        return None
    return data[s + 8 : end - 4]  # skip to after last_section_number


@none_on_refusal
def ts_program_map(payload: bytes) -> dict | None:
    """{elementary_pid: stream_type} of the FIRST program: PAT on PID
    0 → PMT PID → PMT stream list (descriptor loops skipped by their
    declared lengths). None when no complete PAT+PMT parses."""
    pmt_pid = None
    for pid, pusi, _cc, scrambled, data in _packets(payload):
        if pid == 0 and pusi and not scrambled:
            body = _psi_table(data)
            if body is None:
                continue
            for k in range(0, len(body) - 3, 4):
                prog = (body[k] << 8) | body[k + 1]
                if prog != 0:  # 0 = network PID, skip
                    pmt_pid = ((body[k + 2] & 0x1F) << 8) | body[k + 3]
                    break
            if pmt_pid is not None:
                break
    if pmt_pid is None:
        raise Refused("no complete PAT and PMT")
    for pid, pusi, _cc, scrambled, data in _packets(payload):
        if pid == pmt_pid and pusi and not scrambled:
            body = _psi_table(data)
            if body is None or len(body) < 4:
                continue
            pinfo_len = ((body[2] & 0x0F) << 8) | body[3]
            k = 4 + pinfo_len
            out: dict[int, int] = {}
            while k + 5 <= len(body):
                stype = body[k]
                epid = ((body[k + 1] & 0x1F) << 8) | body[k + 2]
                es_len = ((body[k + 3] & 0x0F) << 8) | body[k + 4]
                out[epid] = stype
                k += 5 + es_len
            if out:
                return out
    raise Refused("no complete PAT and PMT")


@none_on_refusal
def ts_elementary_stream(payload: bytes, pid: int) -> bytes | None:
    """Reassembled elementary-stream bytes of one PID: PES packets
    (start code 00 00 01, stream id, header-length skip) concatenated
    in packet order. None when the PID never starts a valid PES, when
    ANY of its packets is scrambled (a partially-decipherable ES is
    worse than a refusal), or on a continuity-counter gap (a lost
    mid-stream packet would silently shift every downstream NAL byte
    offset); an exact CC repeat — the spec's allowed duplicate — is
    dropped, not appended twice."""
    out = bytearray()
    started = False
    last_cc = None
    for p, pusi, cc, scrambled, data in _packets(payload):
        if p != pid:
            continue
        if scrambled:
            raise Refused("scrambled packet")
        if last_cc is not None:
            if cc == last_cc:
                continue  # duplicate packet
            if cc != (last_cc + 1) % 16:
                raise Refused("continuity gap")  # never guess
        last_cc = cc
        if pusi:
            if (
                len(data) < 9
                or data[0] != 0
                or data[1] != 0
                or data[2] != 1
            ):
                if not started:
                    raise Refused("no valid PES start")
                return bytes(out)
            hdr_len = data[8]
            body = data[9 + hdr_len :]
            out += body
            started = True
        elif started:
            out += data
    if not started:
        raise Refused("no valid PES start")
    return bytes(out)


@none_on_refusal
def ts_h264_index(payload: bytes, max_nals: int = 256) -> dict | None:
    """End-to-end TS → H.264 plan: resolve the program map, find the
    first H.264 stream (type 0x1B), reassemble its PES payload, and
    NAL-index it with ``h264_annexb_nals`` — geometry + per-NAL types
    + bitstream IDR flags, no pixel decode. None when the stream has
    no parseable program, no H.264 track, or no SPS."""
    from data_ingestion_py_spark.sources.multimodal import (
        h264_annexb_nals,
    )

    pm = ts_program_map.__wrapped__(payload)
    h264_pids = [p for p, t in sorted(pm.items()) if t == 0x1B]
    if not h264_pids:
        return None
    es = ts_elementary_stream.__wrapped__(payload, h264_pids[0])
    idx = h264_annexb_nals.__wrapped__(es, max_nals)
    return {**idx, "pid": h264_pids[0], "es_bytes": len(es)}


def ts_h264_plan(media, max_nals: int = 256):
    """(media_id, payload) → one row per NAL of the stream's first
    H.264 track (``ts_h264_index``) via Arrow ``mapInPandas`` — the
    TS sibling of ``multimodal.h264_annexb_plan``; offsets are within
    the REASSEMBLED elementary stream (the fetch plan a reader applies
    after PES extraction). Unparseable / non-H.264 payloads emit no
    rows."""
    from pyspark.sql import types as T

    from data_ingestion_py_spark.sources.spread import kernel_rows

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("pid", T.IntegerType(), False),
            T.StructField("es_bytes", T.LongType(), False),
            T.StructField("nal_index", T.IntegerType(), False),
            T.StructField("byte_offset", T.LongType(), False),
            T.StructField("nal_size", T.LongType(), False),
            T.StructField("nal_type", T.IntegerType(), False),
            T.StructField("is_idr", T.BooleanType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
        ]
    )

    def _nals(mid, payload):
        idx = ts_h264_index(b"" if payload is None else payload, max_nals)
        if idx is None:
            return None
        track = (idx["pid"], idx["es_bytes"])
        geo = (idx["width"], idx["height"])
        return [(mid, *track, *nal, *geo) for nal in idx["nals"]]

    # NOTE(r16): a spread_for_kernel rebalance here was interleaved-A/B
    # measured and REVERTED — multimodal_mpegts_h264_index 0.66 s
    # without vs 0.70/0.93 s with at sf0.1: the TS demux is a light
    # header walk, so the round-robin exchange of fat payloads costs
    # more than the parallelism it buys (guide §8).
    return kernel_rows(media, ("media_id", "payload"), _nals, schema)
