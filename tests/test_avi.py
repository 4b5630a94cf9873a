"""MJPEG-AVI demux tests against an independent test-side AVI WRITER.

Same mirror strategy as test_jpeg: the test carries its own
RIFF/AVI writer (hdrl with avih+strh+strf, movi with 00dc frame chunks,
word alignment, idx1) built from the AVI spec independently of the demuxer
under test. Frames are real baseline JPEGs from test_jpeg's encoder, so
frame decode is validated end to end against the source pixels.
"""

from __future__ import annotations

import random
import struct

import numpy as np

from py_stringsimjoin_spark.functions.avi import (
    avi_duration_ms,
    avi_frame_bytes,
    decode_avi_frame,
    is_avi,
    parse_avi,
)
from py_stringsimjoin_spark.functions.jpeg import decode_jpeg

from .test_jpeg import _rng_img, encode_jpeg


def _chunk(cid: bytes, data: bytes) -> bytes:
    out = cid + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        out += b"\x00"  # RIFF word alignment
    return out


def _lst(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def avi_write(frames, w, h, fps=10, handler=b"MJPG", with_idx1=True,
              total_frames=None):
    """Canonical MJPEG AVI from JPEG frame blobs. total_frames overrides
    the avih header count (real files often disagree with the chunk count —
    the demuxer must trust the chunks)."""
    n = len(frames)
    usf = 1_000_000 // fps
    avih = struct.pack(
        "<14I", usf, 0, 0, 0x10, total_frames if total_frames is not None
        else n, 0, 1, 0, w, h, 0, 0, 0, 0)
    strh = (b"vids" + handler
            + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, 0, 0, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih)
                + _lst(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi_body = b"movi"
    offsets = []
    for f in frames:
        offsets.append(len(movi_body))
        movi_body += _chunk(b"00dc", f)
    movi = _chunk(b"LIST", movi_body)
    idx1 = b""
    if with_idx1:
        entries = b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, len(f))
            for off, f in zip(offsets, frames))
        idx1 = _chunk(b"idx1", entries)
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _frames(n, seed=5, w=24, h=16, dhtless=False):
    imgs = [_rng_img(h, w, seed + i) for i in range(n)]
    kw = {"tables": "annexk", "emit_dht": False} if dhtless else {}
    return imgs, [encode_jpeg(im, q=1, **kw) for im in imgs]


def test_parse_avi_structure():
    imgs, frames = _frames(4)
    blob = avi_write(frames, 24, 16, fps=10)
    assert is_avi(blob)
    info = parse_avi(blob)
    assert info is not None
    assert (info["width"], info["height"]) == (24, 16)
    assert info["us_per_frame"] == 100_000
    assert info["n_frames"] == 4 and info["hdr_frames"] == 4
    for (off, size), f in zip(info["frames"], frames):
        assert blob[off:off + size] == f
    assert avi_duration_ms(blob) == 400


def test_chunk_count_beats_header_count():
    _, frames = _frames(3)
    blob = avi_write(frames, 24, 16, fps=5, total_frames=999)
    info = parse_avi(blob)
    assert info["n_frames"] == 3 and info["hdr_frames"] == 999
    assert avi_duration_ms(blob) == 600  # 3 frames at 200ms


def test_frame_at_timestamp_and_decode():
    imgs, frames = _frames(5, seed=9)
    blob = avi_write(frames, 24, 16, fps=10)  # 100ms per frame
    for ts, idx in [(0, 0), (99, 0), (100, 1), (250, 2), (499, 4)]:
        assert avi_frame_bytes(blob, ts) == frames[idx], ts
        px = decode_avi_frame(blob, ts)
        np.testing.assert_array_equal(px, decode_jpeg(frames[idx]))
        err = np.abs(px.astype(int) - imgs[idx].astype(int))
        assert err.max() <= 6
    assert avi_frame_bytes(blob, 500) is None  # past the end
    assert avi_frame_bytes(blob, -1) is None


def test_dhtless_mjpeg_frames_decode():
    imgs, frames = _frames(2, seed=31, dhtless=True)
    assert all(b"\xff\xc4" not in f for f in frames)
    blob = avi_write(frames, 24, 16, fps=4)
    px = decode_avi_frame(blob, 0)
    assert px is not None
    err = np.abs(px.astype(int) - imgs[0].astype(int))
    assert err.max() <= 6  # Annex K fallback gives REAL pixels


def test_odd_sized_frames_word_aligned():
    # force odd-length frame chunks to exercise the RIFF pad byte
    _, frames = _frames(3, seed=40)
    frames = [f + b"\xff\xd9"[:1] if len(f) % 2 == 0 else f for f in frames]
    frames = [f if len(f) % 2 else f + b"\x00" for f in frames]  # mix parities
    blob = avi_write(frames, 24, 16)
    info = parse_avi(blob)
    assert info["n_frames"] == 3
    for (off, size), f in zip(info["frames"], frames):
        assert blob[off:off + size] == f


def test_rejects_non_avi_and_fuzz_never_raises():
    assert parse_avi(b"") is None
    assert parse_avi(None) is None
    assert parse_avi(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert avi_duration_ms(b"\x89PNG") is None
    _, frames = _frames(3, seed=77)
    good = avi_write(frames, 24, 16)
    rnd = random.Random(7)
    blobs = [good[:n] for n in range(0, len(good), 101)]
    for _ in range(150):
        mut = bytearray(good)
        for _ in range(rnd.randint(1, 8)):
            mut[rnd.randrange(len(mut))] = rnd.randrange(256)
        blobs.append(bytes(mut))
    for blob in blobs:
        info = parse_avi(blob)  # None or a dict, never an exception
        assert info is None or isinstance(info, dict)
        out = decode_avi_frame(blob, 0)
        assert out is None or out.dtype == np.uint8
        avi_duration_ms(blob)


def test_self_referencing_size_terminates():
    # a LIST whose size points at itself must hit the hop budget, not hang
    evil = b"RIFF" + struct.pack("<I", 1 << 20) + b"AVI "
    evil += (b"LIST" + struct.pack("<I", 0) + b"hdrl") * 200
    assert parse_avi(evil) is None or parse_avi(evil)["n_frames"] == 0
