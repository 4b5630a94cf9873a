"""JVM tagging of WebM (EBML) and MP3 payloads, checked against
independently built containers."""

from __future__ import annotations

import struct


# --- independent EBML writer ----------------------------------------------

def ebml_size(n: int) -> bytes:
    """Shortest EBML size varint for n."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            v = n | (1 << (7 * length))
            return v.to_bytes(length, "big")
    raise ValueError(n)


def element(eid: int, payload: bytes) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big") \
        + ebml_size(len(payload)) + payload


def webm(duration=None, scale=None, f64=False, unknown_segment=False,
         junk_siblings=True):
    info = b""
    if scale is not None:
        info += element(0x2AD7B1, scale.to_bytes(
            (max(scale.bit_length(), 1) + 7) // 8, "big"))
    if duration is not None:
        info += element(0x4489, struct.pack(">d" if f64 else ">f", duration))
    info += element(0x4D80, b"muxer")        # MuxingApp string sibling
    seg = b""
    if junk_siblings:
        seg += element(0x114D9B74, b"\x00" * 9)   # SeekHead before Info
    seg += element(0x1549A966, info)
    seg += element(0x1F43B675, b"\x00" * 40)      # a Cluster after Info
    head = element(0x1A45DFA3, element(0x4282, b"webm"))
    if unknown_segment:
        segment = (0x18538067).to_bytes(4, "big") + b"\x01" + b"\xff" * 7 + seg
    else:
        segment = element(0x18538067, seg)
    return head + segment


# --- independent MP3 frame builder ----------------------------------------

def mp3_frame_header(ver=3, bri=9, sri=0, mono=False) -> bytes:
    b1 = 0xFF
    b2 = 0xE0 | (ver << 3) | (1 << 1) | 1       # layer III, no CRC
    b3 = (bri << 4) | (sri << 2)
    b4 = 0xC0 if mono else 0x00
    return bytes([b1, b2, b3, b4])


def mp3(frames=None, ver=3, bri=9, sri=0, mono=False, id3_pad=0,
        tag=b"Xing", tail=2000):
    out = b""
    if id3_pad:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
             (id3_pad >> 7) & 0x7F, id3_pad & 0x7F]) + b"\x00" * id3_pad
    out += mp3_frame_header(ver, bri, sri, mono)
    side = (17 if mono else 32) if ver == 3 else (9 if mono else 17)
    out += b"\x00" * side
    if frames is not None:
        out += tag + struct.pack(">I", 1) + struct.pack(">I", frames)
    out += b"\x00" * tail
    return out


def test_jvm_tags_and_probe_chain(spark):
    """media_format_col tags EBML as 'webm' and ID3/raw-sync as 'mp3';
    their durations need unbounded EBML/frame-sync walks, so they stay
    NULL on both engines."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from py_stringsimjoin_spark.functions.media import (
        media_duration_col,
        media_format_col,
        py_container_duration_ms,
    )

    blobs = {1: webm(duration=2500.0), 2: mp3(frames=100, id3_pad=11),
             3: mp3(frames=None, tail=16000)}
    df = spark.createDataFrame([Row(id=k, payload=v) for k, v in blobs.items()])
    rows = {
        r["id"]: (r["f"], r["d"])
        for r in df.select(
            "id",
            media_format_col(F.col("payload")).alias("f"),
            media_duration_col(F.col("payload")).alias("d"),
        ).collect()
    }
    assert rows[1] == ("webm", None)
    assert rows[2] == ("mp3", None) and rows[3] == ("mp3", None)
    assert all(py_container_duration_ms(v) is None for v in blobs.values())

