"""Media header parsing (functions/media.py): the JVM expression parser vs
Python-built container bytes, including JPEGs whose SOF sits behind several
variable-length segments, truncated payloads, and the synth builders'
round-trip."""

import random
import struct

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from py_stringsimjoin_spark.functions.media import (
    media_dims_col,
    media_duration_col,
    media_format_col,
    py_container_duration_ms,
    synth_media_bytes,
)
from py_stringsimjoin_spark.operators.multimodal import attach_media_meta

from .test_avi import avi_write


def _avi_mut(avi: bytes, off: int, val: int) -> bytes:
    out = bytearray(avi)
    out[off:off + 4] = struct.pack("<I", val)
    return bytes(out)


def _wav(sample_rate, data_size, channels=1, bits=16, pre_chunks=()):
    """Python-built RIFF/WAVE bytes. ``pre_chunks`` is a list of
    (chunk_id, payload) inserted before the fmt chunk; RIFF pads odd-sized
    payloads to even."""
    byte_rate = sample_rate * channels * bits // 8
    body = b""
    for cid, payload in pre_chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"
    body += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, channels * bits // 8, bits
    )
    body += b"data" + struct.pack("<I", data_size) + b"\x00" * data_size
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _png(w, h):
    ihdr = struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"
    )


def _gif(w, h, ver=b"89a"):
    return b"GIF" + ver + struct.pack("<HH", w, h)


def _jpeg(w, h, pre_segments=()):
    """SOI + arbitrary leading segments + SOF0. ``pre_segments`` is a list of
    (marker_byte, payload_bytes)."""
    out = b"\xff\xd8"
    for marker, payload in pre_segments:
        out += b"\xff" + bytes([marker]) + struct.pack(">H", len(payload) + 2) + payload
    sof = struct.pack(">HBHHB", 17, 8, h, w, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return out + b"\xff\xc0" + sof


CASES = [
    ("png_small", _png(16, 9), "png", 16, 9),
    ("png_big", _png(70000, 54321), "png", 70000, 54321),
    ("gif87", _gif(320, 200, b"87a"), "gif", 320, 200),
    ("gif89", _gif(641, 479), "gif", 641, 479),
    ("jpeg_bare", _jpeg(800, 600), "jpeg", 800, 600),
    (
        "jpeg_app0",
        _jpeg(1024, 768, [(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")]),
        "jpeg",
        1024,
        768,
    ),
    (
        "jpeg_many_segments",
        _jpeg(
            12,
            34,
            [
                (0xE0, b"JFIF\x00" + b"\x00" * 9),
                (0xE1, b"Exif\x00\x00" + b"\x00" * 40),
                (0xFE, b"a comment"),
                (0xDB, b"\x00" + b"\x01" * 64),
                (0xC4, b"\x00" + b"\x02" * 16),
            ],
        ),
        "jpeg",
        12,
        34,
    ),
    # progressive (SOF2)
    (
        "jpeg_sof2",
        b"\xff\xd8\xff\xfe\x00\x03x"
        + b"\xff\xc2"
        + struct.pack(">HBHHB", 17, 8, 66, 55, 3)
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01",
        "jpeg",
        55,
        66,
    ),
    ("avi_dims", avi_write([b"\xff\xd8xx"], 320, 240, fps=25), "avi", 320, 240),
    ("avi_truncated", avi_write([b"\xff\xd8xx"], 320, 240)[:60], None, None, None),
    ("garbage", b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b", None, None, None),
    ("png_truncated", _png(16, 9)[:12], None, None, None),
    ("jpeg_truncated_mid_walk", _jpeg(800, 600)[:6], "jpeg", None, None),
    ("jpeg_eoi_before_sof", b"\xff\xd8\xff\xd9\xff\xc0", "jpeg", None, None),
    ("empty", b"", None, None, None),
]


def test_parser_vs_python_built_bytes(spark):
    rows = [Row(name=n, payload=p) for n, p, _, _, _ in CASES]
    df = spark.createDataFrame(rows)
    got = {
        r["name"]: r
        for r in df.select(
            "name",
            media_format_col(F.col("payload")).alias("fmt"),
            media_dims_col(F.col("payload")).alias("dims"),
        ).collect()
    }
    for name, _, fmt, w, h in CASES:
        r = got[name]
        assert r["fmt"] == fmt, name
        assert r["dims"]["width"] == w, name
        assert r["dims"]["height"] == h, name


def test_null_payload(spark):
    df = spark.createDataFrame([Row(payload=None)], "payload binary")
    r = df.select(
        media_format_col(F.col("payload")).alias("fmt"),
        media_dims_col(F.col("payload")).alias("dims"),
    ).first()
    assert r["fmt"] is None and r["dims"]["width"] is None


@pytest.mark.parametrize("fmt", ["png", "gif", "jpeg"])
def test_synth_roundtrip(spark, fmt):
    """JVM-built fixture bytes parse back to the exact dims, and byte counts
    match the closed form the oracle uses (png 33, gif 10, jpeg 25+pad)."""
    df = spark.range(0, 50).select(
        F.lit(fmt).alias("fmt"),
        (1 + F.col("id") % 640).cast("int").alias("w"),
        (1 + F.col("id") % 480).cast("int").alias("h"),
        (F.col("id") % 32).cast("int").alias("pad"),
    )
    out = df.select(
        "fmt", "w", "h", "pad",
        synth_media_bytes(F.col("fmt"), F.col("w"), F.col("h"), F.col("pad")).alias("b"),
    ).select(
        "fmt", "w", "h", "pad",
        media_format_col(F.col("b")).alias("got_fmt"),
        media_dims_col(F.col("b")).alias("dims"),
        F.length("b").alias("n"),
    )
    for r in out.collect():
        assert r["got_fmt"] == fmt
        assert r["dims"]["width"] == r["w"]
        assert r["dims"]["height"] == r["h"]
        expect_n = {"png": 33, "gif": 10}.get(fmt, 25 + r["pad"])
        assert r["n"] == expect_n


def test_synth_matches_python_struct(spark):
    """The JVM hex assembly is byte-identical to the Python struct builders."""
    df = spark.createDataFrame([Row(w=123, h=45)])
    b_png, b_gif, b_jpg = df.select(
        synth_media_bytes(F.lit("png"), F.col("w"), F.col("h"), F.lit(0)),
        synth_media_bytes(F.lit("gif"), F.col("w"), F.col("h"), F.lit(0)),
        synth_media_bytes(F.lit("jpeg"), F.col("w"), F.col("h"), F.lit(3)),
    ).first()
    assert bytes(b_png) == _png(123, 45)
    assert bytes(b_gif) == _gif(123, 45)
    assert bytes(b_jpg) == _jpeg(123, 45, [(0xFE, b"\x00\x00\x00")])


WAV_CASES = [
    # (name, payload, expect_fmt, expect_duration_ms)
    ("wav_canonical", _wav(8000, 16000), "wav", 1000),
    # 44100 Hz stereo 16-bit -> 176400 B/s; 44100 bytes = 250 ms
    ("wav_stereo", _wav(44100, 44100, channels=2), "wav", 250),
    # LIST + odd-sized bext chunks before fmt: exercises the chunk walk and
    # the even-padding rule — layouts synth_wav_hex never produces
    (
        "wav_list_before_fmt",
        _wav(16000, 8000, pre_chunks=[(b"LIST", b"INFOIART" + b"\x00" * 8),
                                      (b"bext", b"\x01" * 7)]),
        "wav",
        250,
    ),
    ("wav_zero_data", _wav(8000, 0), "wav", 0),
    # fractional ms floor: 999 bytes at 16000 B/s = 62.4375 ms -> 62
    ("wav_floor", _wav(8000, 999), "wav", 62),
    # header says RIFF/WAVE but the chunk chain is cut mid-header
    ("wav_truncated", _wav(8000, 16000)[:18], None, None),
    ("wav_header_only", _wav(8000, 16000)[:20], "wav", None),
    ("not_wav", b"RIFX" + b"\x00" * 40, None, None),
]


def _mp4_box(btype, payload, largesize=False):
    if largesize:
        return struct.pack(">I", 1) + btype + struct.pack(">Q", 16 + len(payload)) + payload
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mp4(timescale, duration, version=0, pre_boxes=(), moov_largesize=False):
    """Python-built ISO BMFF bytes: ftyp + arbitrary siblings + moov[mvhd]."""
    if version == 0:
        mvhd = b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, timescale, duration)
        mvhd += b"\x00" * 80
    else:
        mvhd = b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, timescale, duration)
        mvhd += b"\x00" * 80
    out = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00")
    for btype, payload in pre_boxes:
        out += _mp4_box(btype, payload)
    return out + _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd), largesize=moov_largesize)


MP4_CASES = [
    ("mp4_v0", _mp4(1000, 2500), "mp4", 2500),
    # 90 kHz timescale, floor of a fractional ms
    ("mp4_90k", _mp4(90000, 90000 * 3 + 45000 + 7), "mp4", 3500),
    ("mp4_v1_64bit", _mp4(600, 3000, version=1), "mp4", 5000),
    # free + mdat siblings before moov: the walker must skip by size
    ("mp4_moov_last", _mp4(1000, 42, pre_boxes=[(b"free", b"\x00" * 11),
                                                (b"mdat", b"\xab" * 300)]), "mp4", 42),
    ("mp4_largesize_moov", _mp4(1000, 1234, moov_largesize=True), "mp4", 1234),
    ("mp4_zero_timescale", _mp4(0, 1000), "mp4", None),
    ("mp4_truncated", _mp4(1000, 2500)[:20], "mp4", None),
    ("mp4_no_moov", _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00")
     + _mp4_box(b"free", b"\x00" * 8), "mp4", None),
    ("not_mp4", b"\x00\x00\x00\x08abcd" + b"\x00" * 24, None, None),
]


def test_mp4_duration_vs_python_built_bytes(spark):
    rows = [Row(name=n, payload=p) for n, p, _, _ in MP4_CASES]
    df = spark.createDataFrame(rows)
    got = {
        r["name"]: r
        for r in df.select(
            "name",
            media_format_col(F.col("payload")).alias("fmt"),
            media_duration_col(F.col("payload")).alias("dur"),
        ).collect()
    }
    for name, _, fmt, dur in MP4_CASES:
        r = got[name]
        assert r["fmt"] == fmt, name
        assert r["dur"] == dur, name


def test_synth_mp4_matches_python_struct(spark):
    """JVM hex assembly byte-identical to the Python builder with a 5-byte
    free box between ftyp and moov (the driver fixture layout)."""
    df = spark.createDataFrame([Row(ts=1000, dur=2500)])
    b = df.select(
        synth_media_bytes(F.lit("mp4"), F.col("ts"), F.col("dur"), F.lit(5)).alias("b")
    ).first()["b"]
    assert bytes(b) == _mp4(1000, 2500, pre_boxes=[(b"free", b"\x00" * 5)])
    assert len(b) == 140 + 5


# duration = avih dwMicroSecPerFrame x dwTotalFrames (HEADER count: the
# fixed-offset JVM read can't walk movi; the chunk-counting demux lives in
# functions/avi.py and is tested in test_avi.py)
_AVI3 = avi_write([b"\xff\xd8ab"] * 3, 640, 480, fps=10)  # usf=100000
AVI_CASES = [
    ("avi_3frames", _AVI3, "avi", 300),
    ("avi_hdr_count_wins", avi_write([b"\xff\xd8ab"] * 3, 640, 480, fps=10,
                                     total_frames=7), "avi", 700),
    ("avi_zero_usf", _avi_mut(_AVI3, 32, 0), "avi", None),
    # u32max x u32max: 20-digit product must not overflow ANSI long math
    ("avi_huge_product", _avi_mut(_avi_mut(_AVI3, 32, 0xFFFFFFFF), 48,
                                  0xFFFFFFFF), "avi",
     ((0xFFFFFFFF * 0xFFFFFFFF) // 1000)),
    ("avi_truncated_hdr", _AVI3[:60], None, None),
]


def test_avi_duration_and_dims_vs_python_built_bytes(spark):
    rows = [Row(name=n, payload=p) for n, p, _, _ in AVI_CASES]
    df = spark.createDataFrame(rows)
    got = {
        r["name"]: r
        for r in df.select(
            "name",
            media_format_col(F.col("payload")).alias("fmt"),
            media_duration_col(F.col("payload")).alias("dur"),
            media_dims_col(F.col("payload")).alias("dims"),
        ).collect()
    }
    for name, _, fmt, dur in AVI_CASES:
        r = got[name]
        assert r["fmt"] == fmt, name
        assert r["dur"] == dur, (name, r["dur"])
        if fmt == "avi":
            assert (r["dims"]["width"], r["dims"]["height"]) == (640, 480), name


def test_wav_duration_vs_python_built_bytes(spark):
    rows = [Row(name=n, payload=p) for n, p, _, _ in WAV_CASES]
    df = spark.createDataFrame(rows)
    got = {
        r["name"]: r
        for r in df.select(
            "name",
            media_format_col(F.col("payload")).alias("fmt"),
            media_duration_col(F.col("payload")).alias("dur"),
            media_dims_col(F.col("payload")).alias("dims"),
        ).collect()
    }
    for name, _, fmt, dur in WAV_CASES:
        r = got[name]
        assert r["fmt"] == fmt, name
        assert r["dur"] == dur, name
        assert r["dims"]["width"] is None, name  # audio has no dims


def test_wav_zero_byte_rate_yields_null(spark):
    # a corrupt fmt chunk advertising byte_rate=0 must not divide by zero
    raw = bytearray(_wav(8000, 16000))
    raw[28:32] = b"\x00\x00\x00\x00"
    df = spark.createDataFrame([Row(payload=bytes(raw))])
    r = df.select(media_duration_col(F.col("payload")).alias("d")).first()
    assert r["d"] is None


def test_synth_wav_matches_python_struct(spark):
    """JVM hex assembly byte-identical to the canonical Python WAV builder,
    and the closed forms the oracle uses hold (n = 44 + data_size)."""
    df = spark.createDataFrame([Row(sr=8000, ds=120)])
    b = df.select(
        synth_media_bytes(F.lit("wav"), F.col("sr"), F.col("ds"), F.lit(0)).alias("b")
    ).first()["b"]
    assert bytes(b) == _wav(8000, 120)
    assert len(b) == 44 + 120


def _bmp_encode(pixels, top_down=False):
    """Independent 24-bit BMP writer: BITMAPFILEHEADER + BITMAPINFOHEADER,
    4-byte-padded rows, bottom-up unless top_down."""
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(h):
        row = b"".join(bytes([int(p[2]), int(p[1]), int(p[0])]) for p in pixels[y])
        rows.append(row + b"\x00" * (stride - len(row)))
    if not top_down:
        rows.reverse()
    body = b"".join(rows)
    info = struct.pack("<IiiHHIIiiII", 40, w, (-h if top_down else h), 1,
                       24, 0, len(body), 2835, 2835, 0, 0)
    head = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    return head + info + body


def test_bmp_format_and_dims(spark):
    px = np.zeros((11, 7, 3), dtype=np.uint8)
    cases = [
        ("bmp_up", _bmp_encode(px), "bmp", 7, 11),
        ("bmp_topdown", _bmp_encode(px, top_down=True), "bmp", 7, 11),
        ("bmp_truncated", _bmp_encode(px)[:20], None, None, None),
        ("bmp_text", b"BM but just text, no info header......", None, None, None),
    ]
    rows = [Row(name=n, payload=p) for n, p, _, _, _ in cases]
    got = {
        r["name"]: r
        for r in spark.createDataFrame(rows).select(
            "name",
            media_format_col(F.col("payload")).alias("fmt"),
            media_dims_col(F.col("payload")).alias("dims"),
        ).collect()
    }
    for name, _, fmt, w, h in cases:
        r = got[name]
        assert r["fmt"] == fmt, (name, r["fmt"])
        assert r["dims"]["width"] == w and r["dims"]["height"] == h, name


def test_synth_avi_parses_back_and_counts(spark):
    """The JVM AVI fixture: 100 bytes, dims round-trip, duration = 40ms x
    frames from the header count, the Python mirror agrees, and the Python
    demux agrees there are zero movi frames."""
    from py_stringsimjoin_spark.functions.avi import parse_avi

    df = spark.createDataFrame([Row(w=320, h=176, fr=13)])
    b = df.select(
        synth_media_bytes(F.lit("avi"), F.col("w"), F.col("h"), F.col("fr")).alias("b")
    ).first()["b"]
    assert len(b) == 100
    r = spark.createDataFrame([Row(payload=bytes(b))]).select(
        media_format_col(F.col("payload")).alias("fmt"),
        media_dims_col(F.col("payload")).alias("dims"),
        media_duration_col(F.col("payload")).alias("dur"),
    ).first()
    assert r["fmt"] == "avi"
    assert (r["dims"]["width"], r["dims"]["height"]) == (320, 176)
    assert r["dur"] == 40 * 13
    assert py_container_duration_ms(bytes(b)) == 40 * 13
    info = parse_avi(bytes(b))
    assert info is not None and info["n_frames"] == 0
    assert (info["width"], info["height"], info["hdr_frames"]) == (320, 176, 13)


def test_python_duration_mirror_matches_spark_cases():
    """py_container_duration_ms agrees with the JVM walkers on every WAV,
    MP4 and AVI case, including malformed."""
    for name, payload, _, dur in WAV_CASES + MP4_CASES + AVI_CASES:
        assert py_container_duration_ms(payload) == dur, name
    raw = bytearray(_wav(8000, 16000))
    raw[28:32] = b"\x00\x00\x00\x00"  # zero byte rate
    assert py_container_duration_ms(bytes(raw)) is None
    assert py_container_duration_ms(None) is None
    assert py_container_duration_ms(b"") is None


def test_attach_media_meta_fills_real_dims(spark):
    df = spark.createDataFrame(
        [(1, _png(7, 11)), (2, b"not an image"), (3, None)],
        "id int, payload binary",
    )
    meta = attach_media_meta(df, "payload", "image", fmt="raw")
    assert meta.schema["media_meta"].dataType.fieldNames()[0] == "media_type"
    metas = {r["id"]: r["media_meta"] for r in meta.collect()}
    assert len(metas) == 3
    assert metas[1]["format"] == "png"
    assert (metas[1]["width"], metas[1]["height"]) == (7, 11)
    assert metas[1]["n_bytes"] == 33
    # unrecognized payload falls back to the declared format, NULL dims
    assert metas[2]["format"] == "raw"
    assert metas[2]["width"] is None
    # a NULL payload still gets its row, with only the declared fields set
    assert metas[3]["media_type"] == "image" and metas[3]["format"] == "raw"
    assert metas[3]["n_bytes"] is None and metas[3]["width"] is None


def test_fuzz_jvm_vs_python_duration_mirror(spark):
    """Cross-engine mirror fuzz: random blobs, truncations, and byte
    mutations of valid WAV/MP4 fixtures must parse to the SAME duration in
    the JVM fold and the Python mirror (both may be None — but never
    different, and neither may raise)."""
    rng = random.Random(42)
    blobs = []
    base = [
        _wav(8000, 16000),
        _wav(44100, 500, channels=2, pre_chunks=[(b"LIST", b"\x00" * 9)]),
        _mp4(1000, 2500),
        _mp4(90000, 123456, version=1),
        _mp4(600, 42, pre_boxes=[(b"free", b"\x00" * 5)], moov_largesize=True),
        avi_write([b"\xff\xd8ab"] * 2, 320, 240, fps=25),
    ]
    for payload in base:
        blobs.append(payload)
        for cut in (4, 12, 19, 25, 37, len(payload) - 1):
            blobs.append(payload[:cut])
        for _ in range(40):  # point mutations anywhere in the header
            m = bytearray(payload)
            i = rng.randrange(min(len(m), 64))
            m[i] = rng.randrange(256)
            blobs.append(bytes(m))
    for _ in range(60):  # unstructured noise
        n = rng.randrange(0, 80)
        blobs.append(bytes(rng.randrange(256) for _ in range(n)))

    rows = [Row(i=i, payload=p) for i, p in enumerate(blobs)]
    got = {
        r["i"]: r["d"]
        for r in spark.createDataFrame(rows)
        .select("i", media_duration_col(F.col("payload")).alias("d"))
        .collect()
    }
    mismatches = [
        (i, got[i], py_container_duration_ms(p))
        for i, p in enumerate(blobs)
        if got[i] != py_container_duration_ms(p)
    ]
    assert not mismatches, mismatches[:5]
