"""Ogg demux (functions/ogg.py) vs an independent test-side muxer.

The muxer below builds RFC 3533 pages (lacing tables, packet spans across
pages, bos/continuation flags) from scratch; the Ogg-FLAC payloads wrap
native streams from tests/test_flac.py's independent encoder, so the
decode oracle stays exact end to end: demux + native decode must equal
decoding the native bytes directly.
"""

from __future__ import annotations

import random
import struct

import numpy as np

from py_stringsimjoin_spark.functions.ogg import (
    decode_ogg_flac,
    ogg_duration_ms,
    ogg_packets,
    parse_ogg_info,
)
from tests.test_flac import _frame, _rand_samples, _streaminfo


def mux_ogg(packets, serial=0x1234, final_granule=0, segs_per_page=50):
    """Independent Ogg muxer: packets -> lacing values -> pages of at most
    ``segs_per_page`` segments (small values force packets to span pages).
    Intermediate pages carry granule -1; the last page carries
    ``final_granule``. CRCs are zero (the demux treats them as data)."""
    laces = []
    for p in packets:
        q, r = divmod(len(p), 255)
        laces += [255] * q + [r]  # r == 0 terminates a 255-multiple packet
    pages, i, pos = [], 0, 0
    flat = b"".join(packets)
    first = True
    mid_packet = False
    while i < len(laces) or first:
        n = min(segs_per_page, len(laces) - i)
        table = laces[i:i + n]
        size = sum(table)
        body = flat[pos:pos + size]
        pos += size
        i += n
        last = i >= len(laces)
        flags = (0x02 if first else 0) | (0x01 if mid_packet else 0) | (
            0x04 if last else 0)
        granule = final_granule if last else -1
        hdr = (b"OggS" + bytes([0, flags])
               + struct.pack("<q", granule)
               + struct.pack("<I", serial)
               + struct.pack("<I", len(pages))
               + b"\x00\x00\x00\x00"
               + bytes([n]) + bytes(table))
        pages.append(hdr + body)
        mid_packet = bool(table) and table[-1] == 255
        first = False
    return b"".join(pages)


def _flac_packets(seed=1, nframes=3, bsz=576):
    rng = random.Random(seed)
    frames, all_samples = [], []
    for k in range(nframes):
        samples = _rand_samples(rng, bsz, 16)
        all_samples += samples
        frames.append(_frame([samples], 16, frame_no=k,
                             sub_kw=[{"kind": "fixed", "order": 2,
                                      "porder": 1}]))
    native_head = _streaminfo(44100, 1, 16, nframes * bsz)
    # xiph mapping 1.0: packet 0 embeds the native stream from 'fLaC' onward
    head_pkt = b"\x7fFLAC" + bytes([1, 0]) + struct.pack(">H", 1) + native_head
    return [head_pkt] + frames, native_head + b"".join(frames), nframes * bsz


def test_packet_reassembly_across_pages():
    rng = random.Random(3)
    pkts = [bytes(rng.randrange(256) for _ in range(n))
            for n in (10, 255, 300, 0, 1000, 510)]
    blob = mux_ogg(pkts, final_granule=7, segs_per_page=3)
    got, granule, _ = ogg_packets(blob)
    assert got == pkts and granule == 7


def test_ogg_flac_decode_matches_native():
    from py_stringsimjoin_spark.functions.flac import decode_flac

    pkts, native, total = _flac_packets(seed=11, nframes=4)
    for spp in (50, 2):  # large pages and pathological 2-segment pages
        blob = mux_ogg(pkts, final_granule=total, segs_per_page=spp)
        got = decode_ogg_flac(blob)
        assert got is not None
        want = decode_flac(native)
        np.testing.assert_array_equal(got[0], want[0])
        assert got[1] == want[1] == 44100
        info = parse_ogg_info(blob)
        assert info == {"codec": "flac", "sample_rate": 44100,
                        "total_samples": total}
        assert ogg_duration_ms(blob) == total * 1000 // 44100


def test_vorbis_and_opus_duration():
    # type(1) 'vorbis'(6) version(4) channels(1) rate(4 LE) ...
    vorbis_id = (b"\x01vorbis" + b"\x00" * 4 + bytes([2])
                 + struct.pack("<I", 44100) + b"\x00" * 8)
    blob = mux_ogg([vorbis_id, b"\x05vorbis-cmt"], final_granule=88200)
    assert parse_ogg_info(blob)["codec"] == "vorbis"
    assert ogg_duration_ms(blob) == 2000

    opus_head = (b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
                 + struct.pack("<I", 16000) + b"\x00\x00\x00")
    blob = mux_ogg([opus_head, b"OpusTags"], final_granule=48000 + 312)
    info = parse_ogg_info(blob)
    # granules are 48 kHz ticks regardless of the 16 kHz input rate
    assert info == {"codec": "opus", "sample_rate": 48000,
                    "total_samples": 48000}
    assert ogg_duration_ms(blob) == 1000


def test_rejects_non_audio_and_malformed():
    assert parse_ogg_info(b"") is None
    assert parse_ogg_info(b"OggS") is None
    assert ogg_duration_ms(b"RIFF" + b"\x00" * 40) is None
    blob = mux_ogg([b"\x01theora-like"], final_granule=100)
    assert parse_ogg_info(blob) is None          # unknown mapping
    blob = mux_ogg([b"\x01vorbis" + b"\x00" * 16], final_granule=0)
    assert ogg_duration_ms(blob) is None          # zero-length stream
    assert decode_ogg_flac(mux_ogg([b"OpusHead" + b"\x00" * 10],
                                   final_granule=5)) is None


def test_second_logical_stream_is_skipped():
    pkts, _, total = _flac_packets(seed=13, nframes=2)
    audio = mux_ogg(pkts, serial=7, final_granule=total)
    other = mux_ogg([b"\x01textstream"], serial=9, final_granule=999)
    # audio's bos page comes first -> its serial wins; foreign pages ignored
    blob = audio + other
    info = parse_ogg_info(blob)
    assert info and info["codec"] == "flac" and info["total_samples"] == total


def test_fuzz_never_raises():
    pkts, _, total = _flac_packets(seed=17, nframes=2)
    base = mux_ogg(pkts, final_granule=total, segs_per_page=5)
    rng = random.Random(0x066)
    for _ in range(300):
        b = bytearray(base)
        k = rng.randrange(3)
        if k == 0:
            b = b[: rng.randrange(len(b) + 1)]
        elif k == 1:
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        else:
            b += bytes(rng.randrange(256)
                       for _ in range(rng.randrange(1, 40)))
        ogg_duration_ms(bytes(b))      # must not raise
        out = decode_ogg_flac(bytes(b))
        if out is not None:
            assert out[0].dtype == np.float32


def test_jvm_tags_ogg_and_duration_stays_null(spark):
    """media_format_col tags the OggS magic; duration is honestly NULL on
    BOTH engines (the unbounded page walk is Python-probe-only)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from py_stringsimjoin_spark.functions.media import (
        media_duration_col,
        media_format_col,
        py_container_duration_ms,
    )

    pkts, _, total = _flac_packets(seed=23, nframes=2)
    blob = mux_ogg(pkts, final_granule=total)
    row = (
        spark.createDataFrame([Row(payload=blob)])
        .select(
            media_format_col(F.col("payload")).alias("f"),
            media_duration_col(F.col("payload")).alias("d"),
        )
        .collect()[0]
    )
    assert row["f"] == "ogg" and row["d"] is None
    assert py_container_duration_ms(blob) is None  # mirror agrees
