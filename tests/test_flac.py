"""FLAC decoder (functions/flac.py) vs an INDEPENDENT test-side encoder.

FLAC is lossless integer math, so the oracle is exact: encode known samples
with the encoder below (written from RFC 9639 alone, sharing no code with
the decoder), decode with ``decode_flac``, and require bit-identical
samples. The grid covers every subframe type (constant / verbatim / fixed
0-4 / LPC up to order 32), both rice methods + escape partitions, all four
channel assignments, wasted bits, 8/16/24-bit depths, fixed + variable
blocking, explicit 8/16-bit block-size codes, explicit sample-rate bytes,
and multi-byte UTF-8-style coded numbers.

Reference relevance: py_stringsimjoin has no media support; this backs the
brief's multimodal-decode ask (same tier as tests/test_jpeg.py).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from py_stringsimjoin_spark.functions.flac import (
    decode_flac,
    flac_duration_ms,
    parse_flac_streaminfo,
)

_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}
_BLOCK_CODE = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5, 256: 8, 512: 9,
               1024: 10, 2048: 11, 4096: 12, 8192: 13, 16384: 14, 32768: 15}
_SS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}


class _W:
    """MSB-first bit writer (independent of the decoder's reader)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def w(self, v: int, bits: int):
        v &= (1 << bits) - 1  # two's complement wrap for signed fields
        self.acc = (self.acc << bits) | v
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def unary(self, q: int):
        while q >= 32:
            self.w(0, 32)
            q -= 32
        self.w(1, q + 1)  # q zeros then a 1

    def align(self):
        if self.n:
            self.w(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.out)


def _coded(w: _W, v: int):
    """UTF-8-style coded number (frame/sample index), up to 36 bits."""
    if v < 0x80:
        w.w(v, 8)
        return
    n = 1
    while v >= (1 << (6 + 5 * n)):
        n += 1
    assert n <= 6
    prefix = (0xFF << (7 - n)) & 0xFF  # n+1 one bits then a 0
    w.w(prefix | (v >> (6 * n)), 8)
    for i in range(n - 1, -1, -1):
        w.w(0x80 | ((v >> (6 * i)) & 0x3F), 8)


def _zigzag(v: int) -> int:
    return 2 * v if v >= 0 else -2 * v - 1


def _write_residuals(w: _W, res, order: int, block_size: int, porder: int,
                     params, method: int = 0):
    w.w(method, 2)
    plen = 4 + method
    escape = (1 << plen) - 1
    w.w(porder, 4)
    nparts = 1 << porder
    assert block_size % nparts == 0
    idx = 0
    for p in range(nparts):
        n = (block_size >> porder) - (order if p == 0 else 0)
        param = params[p % len(params)]
        if isinstance(param, tuple):  # ('esc', bits): unencoded partition
            bits = param[1]
            w.w(escape, plen)
            w.w(bits, 5)
            for _ in range(n):
                v = res[idx]
                idx += 1
                if bits:
                    w.w(v, bits)
                else:
                    assert v == 0
        else:
            assert 0 <= param < escape
            w.w(param, plen)
            for _ in range(n):
                zz = _zigzag(res[idx])
                idx += 1
                w.unary(zz >> param)
                if param:
                    w.w(zz & ((1 << param) - 1), param)
    assert idx == len(res)


def _auto_params(res, order: int, block_size: int, porder: int):
    """Adequate rice parameter per partition (quotients stay small)."""
    nparts = 1 << porder
    out, idx = [], 0
    for p in range(nparts):
        n = (block_size >> porder) - (order if p == 0 else 0)
        part = res[idx:idx + n]
        idx += n
        mx = max((_zigzag(v) for v in part), default=0)
        out.append(min(max(mx.bit_length() - 3, 0), 14))
    return out


def _subframe(w: _W, samples, bps: int, kind: str, order: int = 0,
              coefs=None, shift: int = 0, prec: int = 12, porder: int = 0,
              params=None, wasted: int = 0, method: int = 0):
    w.w(0, 1)  # padding bit
    t = {"const": 0, "verbatim": 1}.get(kind)
    if t is None:
        t = 8 + order if kind == "fixed" else 31 + order
    w.w(t, 6)
    if wasted:
        assert all(s % (1 << wasted) == 0 for s in samples)
        w.w(1, 1)
        w.unary(wasted - 1)
        samples = [s >> wasted for s in samples]
    else:
        w.w(0, 1)
    eff = bps - wasted
    bsz = len(samples)
    if kind == "const":
        assert len(set(samples)) == 1
        w.w(samples[0], eff)
        return
    if kind == "verbatim":
        for s in samples:
            w.w(s, eff)
        return
    if kind == "fixed":
        coefs = _FIXED[order]
    for s in samples[:order]:
        w.w(s, eff)
    if kind == "lpc":
        assert 2 <= prec <= 15 and 0 <= shift <= 15 and 1 <= order <= 32
        w.w(prec - 1, 4)
        w.w(shift, 5)
        for c in coefs:
            w.w(c, prec)
    if kind == "fixed":
        res = [samples[i] - sum(c * samples[i - 1 - k]
                                for k, c in enumerate(coefs))
               for i in range(order, bsz)]
    else:
        res = [samples[i] - (sum(c * samples[i - 1 - k]
                                 for k, c in enumerate(coefs)) >> shift)
               for i in range(order, bsz)]
    if params is None:
        params = _auto_params(res, order, bsz, porder)
    _write_residuals(w, res, order, bsz, porder, params, method)


def _streaminfo(rate: int, nch: int, bits: int, total: int,
                extra_block: bytes | None = None) -> bytes:
    d = bytearray()
    d += (4096).to_bytes(2, "big") * 2   # min/max blocksize
    d += b"\x00" * 6                     # min/max framesize unknown
    packed = (rate << 44) | ((nch - 1) << 41) | ((bits - 1) << 36) | total
    d += packed.to_bytes(8, "big")
    d += b"\x00" * 16                    # md5 unset
    out = bytearray(b"fLaC")
    if extra_block is not None:
        out += bytes([0x00]) + len(d).to_bytes(3, "big") + d
        out += bytes([0x80 | 0x01]) + len(extra_block).to_bytes(3, "big")
        out += extra_block               # last block: PADDING (type 1)
    else:
        out += bytes([0x80]) + len(d).to_bytes(3, "big") + d
    return bytes(out)


def _frame(chans, bits: int, frame_no: int, ch_mode: str = "ind",
           sub_kw=None, bs_code=None, sr_code: int = 0, ss_code: int = 0,
           variable: bool = False) -> bytes:
    """One FLAC frame. ``chans`` is [channel][sample] ints; ``sub_kw`` a
    per-channel list of kwargs for ``_subframe`` (kind defaults verbatim)."""
    nch = len(chans)
    bsz = len(chans[0])
    w = _W()
    w.w(0x3FFE, 14)
    w.w(0, 1)
    w.w(1 if variable else 0, 1)
    explicit = None
    if bs_code is None:
        bs_code = _BLOCK_CODE.get(bsz)
        if bs_code is None:
            bs_code = 6 if bsz <= 256 else 7
    if bs_code == 6:
        explicit = (bsz - 1, 8)
    elif bs_code == 7:
        explicit = (bsz - 1, 16)
    else:
        assert _BLOCK_CODE.get(bsz) == bs_code
    w.w(bs_code, 4)
    w.w(sr_code, 4)
    ch_code = {"ind": nch - 1, "ls": 8, "rs": 9, "ms": 10}[ch_mode]
    w.w(ch_code, 4)
    w.w(ss_code, 3)
    w.w(0, 1)
    _coded(w, frame_no)
    if explicit:
        w.w(*explicit)
    if sr_code == 12:
        w.w(0xAB, 8)          # explicit kHz byte (decoder skips)
    elif sr_code in (13, 14):
        w.w(0xABCD, 16)       # explicit Hz/daHz (decoder skips)
    w.w(0, 8)                 # CRC-8 (structurally skipped by the decoder)
    sub_kw = sub_kw or [{} for _ in range(nch)]
    bps = bits if ss_code == 0 else {1: 8, 2: 12, 4: 16, 5: 20,
                                     6: 24, 7: 32}[ss_code]
    if ch_mode == "ind":
        streams = [(chans[c], bps) for c in range(nch)]
    else:
        assert nch == 2
        left, right = chans
        side = [l - r for l, r in zip(left, right)]
        if ch_mode == "ls":
            streams = [(left, bps), (side, bps + 1)]
        elif ch_mode == "rs":
            streams = [(side, bps + 1), (right, bps)]
        else:  # mid/side
            mid = [(l + r) >> 1 for l, r in zip(left, right)]
            streams = [(mid, bps), (side, bps + 1)]
    for (samples, sbps), kw in zip(streams, sub_kw):
        kw = dict(kw)
        kw.setdefault("kind", "verbatim")
        _subframe(w, samples, sbps, **kw)
    w.align()
    w.w(0, 16)                # CRC-16 (structurally skipped)
    return w.bytes()


def _rand_samples(rng: random.Random, n: int, bits: int, smooth: bool = True):
    """Integers in the signed ``bits`` range; smooth walks keep fixed/LPC
    residuals small, pure noise stresses verbatim/escape paths."""
    lim = 1 << (bits - 1)
    if not smooth:
        return [rng.randrange(-lim, lim) for _ in range(n)]
    v, out = 0, []
    for _ in range(n):
        v += rng.randrange(-200, 201)
        v = max(-lim, min(lim - 1, v))
        out.append(v)
    return out


def _encode(chans, rate: int, bits: int, frame_kws) -> bytes:
    total = sum(len(f[0][0]) for f in frame_kws) if frame_kws else 0
    blob = bytearray(_streaminfo(rate, len(chans), bits, total))
    for args in frame_kws:
        fchans, kw = args
        blob += _frame(fchans, bits, **kw)
    return bytes(blob)


def _roundtrip(chans, rate: int, bits: int, **frame_kw):
    """Single-frame encode → decode → exact sample compare."""
    blob = _encode(chans, rate, bits, [(chans, frame_kw)])
    got = decode_flac(blob)
    assert got is not None, "decoder rejected a valid stream"
    arr, got_rate = got
    assert got_rate == rate
    ints = np.rint(arr.astype(np.float64) * (1 << (bits - 1))).astype(np.int64)
    want = np.array(chans, dtype=np.int64).T
    np.testing.assert_array_equal(ints, want)
    return blob


# ---------------------------------------------------------------------------
# subframe-type grid
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("bits", [8, 16, 24])
def test_constant_and_verbatim(bits):
    rng = random.Random(bits)
    const = [-(1 << (bits - 2))] * 192
    noise = _rand_samples(rng, 192, bits, smooth=False)
    _roundtrip([const], 44100, bits, frame_no=0,
               sub_kw=[{"kind": "const"}])
    _roundtrip([noise], 44100, bits, frame_no=0,
               sub_kw=[{"kind": "verbatim"}])


@pytest.mark.parametrize("order", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("bits", [8, 16, 24])
def test_fixed_orders(order, bits):
    rng = random.Random(order * 100 + bits)
    samples = _rand_samples(rng, 576, bits)
    _roundtrip([samples], 22050, bits, frame_no=1,
               sub_kw=[{"kind": "fixed", "order": order, "porder": 2}])


@pytest.mark.parametrize("order,prec,shift", [
    (1, 12, 5), (2, 15, 9), (8, 12, 10), (12, 14, 12), (32, 10, 3),
])
def test_lpc_orders(order, prec, shift):
    rng = random.Random(order)
    samples = _rand_samples(rng, 1024, 16)
    coefs = [rng.randrange(-(1 << (prec - 1)), 1 << (prec - 1))
             for _ in range(order)]
    _roundtrip([samples], 48000, 16, frame_no=2,
               sub_kw=[{"kind": "lpc", "order": order, "coefs": coefs,
                        "shift": shift, "prec": prec, "porder": 1}])


@pytest.mark.parametrize("porder", [0, 1, 2, 3, 4])
def test_partition_orders(porder):
    rng = random.Random(porder)
    samples = _rand_samples(rng, 2048, 16)
    _roundtrip([samples], 32000, 16, frame_no=porder,
               sub_kw=[{"kind": "fixed", "order": 2, "porder": porder}])


def test_rice_method_1_five_bit_params():
    rng = random.Random(7)
    samples = _rand_samples(rng, 512, 24, smooth=False)
    # method 1 (5-bit rice params): params up to 30 are legal
    _roundtrip([samples], 96000, 24, frame_no=3,
               sub_kw=[{"kind": "fixed", "order": 1, "porder": 2,
                        "params": [24, 25, 23, 24], "method": 1}])


def test_escape_partitions():
    rng = random.Random(11)
    samples = _rand_samples(rng, 1024, 16, smooth=False)
    _roundtrip([samples], 44100, 16, frame_no=4,
               sub_kw=[{"kind": "fixed", "order": 0, "porder": 1,
                        "params": [("esc", 17), ("esc", 17)]}])


def test_escape_zero_bits_partition():
    samples = [0] * 512
    _roundtrip([samples], 44100, 16, frame_no=5,
               sub_kw=[{"kind": "fixed", "order": 0, "porder": 0,
                        "params": [("esc", 0)]}])


def test_wasted_bits():
    rng = random.Random(13)
    base = _rand_samples(rng, 576, 12)
    samples = [s << 3 for s in base]  # 3 wasted bits, still fits 16
    _roundtrip([samples], 44100, 16, frame_no=6,
               sub_kw=[{"kind": "fixed", "order": 2, "porder": 1,
                        "wasted": 3}])


# ---------------------------------------------------------------------------
# channel assignments
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("mode", ["ind", "ls", "rs", "ms"])
@pytest.mark.parametrize("bits", [8, 16, 24])
def test_stereo_decorrelation(mode, bits):
    rng = random.Random(hash((mode, bits)) & 0xFFFF)
    left = _rand_samples(rng, 576, bits)
    right = [max(-(1 << (bits - 1)), min((1 << (bits - 1)) - 1,
             l + rng.randrange(-50, 51))) for l in left]
    _roundtrip([left, right], 44100, bits, frame_no=7, ch_mode=mode,
               sub_kw=[{"kind": "fixed", "order": 2, "porder": 1},
                       {"kind": "fixed", "order": 1, "porder": 2}])


def test_eight_channels():
    rng = random.Random(17)
    chans = [_rand_samples(rng, 256, 16) for _ in range(8)]
    _roundtrip(chans, 44100, 16, frame_no=8,
               sub_kw=[{"kind": "fixed", "order": 1} for _ in range(8)])


# ---------------------------------------------------------------------------
# framing: block sizes, multi-frame, variable blocking, coded numbers
# ---------------------------------------------------------------------------

def test_explicit_blocksize_codes():
    rng = random.Random(19)
    # code 6: 8-bit (size-1); code 7: 16-bit (size-1)
    _roundtrip([_rand_samples(rng, 100, 16)], 8000, 16, frame_no=0, bs_code=6)
    _roundtrip([_rand_samples(rng, 3000, 16)], 8000, 16, frame_no=0, bs_code=7)


@pytest.mark.parametrize("sr_code", [12, 13, 14])
def test_explicit_sample_rate_bytes_are_skipped(sr_code):
    rng = random.Random(23)
    samples = _rand_samples(rng, 192, 16)
    _roundtrip([samples], 44100, 16, frame_no=0, sr_code=sr_code)


def test_explicit_sample_size_code_overrides_streaminfo():
    rng = random.Random(29)
    samples = _rand_samples(rng, 192, 12)
    # streaminfo says 16-bit scale; the frame stores 12-bit samples
    blob = _encode([samples], 44100, 16,
                   [([samples], dict(frame_no=0, ss_code=_SS_CODE[12]))])
    arr, rate = decode_flac(blob)
    ints = np.rint(arr.astype(np.float64) * (1 << 15)).astype(np.int64)
    np.testing.assert_array_equal(ints[:, 0], np.array(samples))


def test_multi_frame_mixed_strategies():
    rng = random.Random(31)
    f1 = [_rand_samples(rng, 4096, 16)]
    f2 = [_rand_samples(rng, 1152, 16)]
    f3 = [_rand_samples(rng, 64, 16, smooth=False)]
    blob = _encode([f1[0] + f2[0] + f3[0]], 44100, 16, [
        (f1, dict(frame_no=0, sub_kw=[{"kind": "lpc", "order": 4,
                                       "coefs": [900, -300, 80, -10],
                                       "shift": 9, "prec": 11, "porder": 3}])),
        (f2, dict(frame_no=1, sub_kw=[{"kind": "fixed", "order": 3,
                                       "porder": 2}])),
        (f3, dict(frame_no=2, bs_code=6)),
    ])
    arr, _ = decode_flac(blob)
    ints = np.rint(arr.astype(np.float64) * (1 << 15)).astype(np.int64)
    np.testing.assert_array_equal(ints[:, 0],
                                  np.array(f1[0] + f2[0] + f3[0]))


def test_variable_blocking_multibyte_coded_numbers():
    rng = random.Random(37)
    chans = [_rand_samples(rng, 4096, 16)]
    # sample numbers needing 1..6 continuation bytes
    for sample_no in (0x80, 0x801, 0x12345, 0x1234567, 0x123456789,
                      (1 << 36) - 1):
        blob = _encode(chans, 44100, 16,
                       [(chans, dict(frame_no=sample_no, variable=True))])
        got = decode_flac(blob)
        assert got is not None
        assert got[0].shape == (4096, 1)


def test_unknown_total_samples_streams_to_eof():
    rng = random.Random(41)
    chans = [_rand_samples(rng, 576, 16)]
    blob = _encode(chans, 44100, 16, [(chans, dict(frame_no=0))])
    # rewrite STREAMINFO's total-samples field (36 bits) to 0 = unknown
    b = bytearray(blob)
    packed = int.from_bytes(b[18:26], "big")
    b[18:26] = (packed & ~((1 << 36) - 1)).to_bytes(8, "big")
    arr, _ = decode_flac(bytes(b))
    assert arr.shape == (576, 1)
    assert flac_duration_ms(bytes(b)) is None


def test_extra_metadata_blocks_are_walked():
    rng = random.Random(43)
    chans = [_rand_samples(rng, 192, 16)]
    total = len(chans[0])
    blob = bytearray(_streaminfo(44100, 1, 16, total,
                                 extra_block=b"\x00" * 37))
    blob += _frame(chans, 16, frame_no=0)
    arr, _ = decode_flac(bytes(blob))
    assert arr.shape == (192, 1)
    info = parse_flac_streaminfo(bytes(blob))
    assert info["total_samples"] == total and info["audio_off"] == 83


# ---------------------------------------------------------------------------
# metadata / duration
# ---------------------------------------------------------------------------

def test_streaminfo_and_duration():
    blob = _streaminfo(44100, 2, 24, 441000)
    info = parse_flac_streaminfo(blob)
    assert info == {"sample_rate": 44100, "channels": 2, "bits": 24,
                    "total_samples": 441000, "audio_off": 42}
    assert flac_duration_ms(blob) == 10000
    assert flac_duration_ms(_streaminfo(48000, 1, 16, 48001)) == 1000
    assert flac_duration_ms(b"") is None
    assert flac_duration_ms(b"fLaC") is None
    assert flac_duration_ms(b"RIFF" + b"\x00" * 40) is None


# ---------------------------------------------------------------------------
# rejection + fuzz (malformed bytes are data, never exceptions)
# ---------------------------------------------------------------------------

def _valid_blob():
    rng = random.Random(47)
    chans = [_rand_samples(rng, 576, 16), _rand_samples(rng, 576, 16)]
    return _encode(chans, 44100, 16,
                   [(chans, dict(frame_no=0, ch_mode="ms",
                                 sub_kw=[{"kind": "fixed", "order": 2,
                                          "porder": 1},
                                         {"kind": "lpc", "order": 2,
                                          "coefs": [3000, -1200],
                                          "shift": 11, "prec": 13}]))])


def test_rejects_malformed():
    blob = bytearray(_valid_blob())
    assert decode_flac(bytes(blob[:30])) is None          # truncated header
    bad_sync = bytearray(blob)
    bad_sync[42] = 0x00                                    # break frame sync
    assert decode_flac(bytes(bad_sync)) is None
    w = _W()
    w.w(0x3FFE, 14)
    w.w(0, 2)
    w.w(1, 4)   # block size 192
    w.w(0, 4)
    w.w(0, 4)   # mono
    w.w(0, 3)
    w.w(0, 1)
    w.w(0, 8)   # frame number
    w.w(0, 8)   # crc8
    w.w(0, 1)
    w.w(2, 6)   # reserved subframe type
    w.w(0, 1)
    w.align()
    assert decode_flac(_streaminfo(44100, 1, 16, 192) + w.bytes()) is None


def test_fuzz_never_raises():
    base = _valid_blob()
    rng = random.Random(0xF1AC)
    for i in range(400):
        b = bytearray(base)
        k = rng.randrange(4)
        if k == 0:
            b = b[: rng.randrange(len(b) + 1)]            # truncate
        elif k == 1:
            for _ in range(rng.randrange(1, 6)):          # mutate bytes
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif k == 2:
            b += bytes(rng.randrange(256)
                       for _ in range(rng.randrange(1, 40)))  # junk tail
        else:
            for _ in range(rng.randrange(1, 20)):         # flip bits
                pos = rng.randrange(len(b))
                b[pos] ^= 1 << rng.randrange(8)
        out = decode_flac(bytes(b))                       # must not raise
        if out is not None:
            arr, rate = out
            assert arr.dtype == np.float32 and rate > 0


# ---------------------------------------------------------------------------
# JVM expression walkers (functions/media.py) vs the Python mirror
# ---------------------------------------------------------------------------

def test_synth_flac_fixture_and_attach_media_meta(spark):
    """synth_media_bytes('flac', rate, total) emits a spec-valid 42-byte
    stream head: the full Python block walk, the fixed-offset mirror, and
    the JVM attach_media_meta all agree on rate/duration."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from py_stringsimjoin_spark.functions.media import (
        py_container_duration_ms,
        synth_media_bytes,
    )
    from py_stringsimjoin_spark.operators.multimodal import attach_media_meta

    cases = [(8000, 1), (44100, 441000), (48000, 0), (192000, (1 << 36) - 1)]
    df = spark.createDataFrame([Row(i=i, w=r, h=t)
                                for i, (r, t) in enumerate(cases)])
    media = df.select(
        "i", synth_media_bytes(F.lit("flac"), F.col("w"), F.col("h"),
                               F.lit(0)).alias("payload")
    )
    meta = {
        r["i"]: (r["media_meta"], bytes(r["payload"]))
        for r in attach_media_meta(media, "payload", "audio").collect()
    }
    for i, (rate, total) in enumerate(cases):
        m, payload = meta[i]
        want = (total * 1000) // rate if total else None
        assert len(payload) == 42 and m["n_bytes"] == 42
        assert m["format"] == "flac" and m["width"] is None
        assert m["duration_ms"] == want
        info = parse_flac_streaminfo(payload)
        assert (info["sample_rate"], info["channels"], info["bits"],
                info["total_samples"]) == (rate, 1, 16, total)
        assert flac_duration_ms(payload) == want
        assert py_container_duration_ms(payload) == want


def test_fuzz_jvm_vs_python_flac_duration(spark):
    """Cross-engine mirror fuzz: truncations/mutations/noise over valid
    FLAC heads must yield the SAME duration from the JVM fixed-offset read
    and py_container_duration_ms (both may be None, never different)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from py_stringsimjoin_spark.functions.media import (
        media_duration_col,
        media_format_col,
        py_container_duration_ms,
    )

    rng = random.Random(99)
    base = [
        _streaminfo(44100, 2, 16, 441000),
        _streaminfo(8000, 1, 8, 1),
        _streaminfo(0, 1, 16, 500),        # invalid zero rate
        _streaminfo(1048575, 8, 32, (1 << 36) - 1),
        _valid_blob(),
    ]
    blobs = []
    for payload in base:
        blobs.append(payload)
        for cut in (3, 4, 7, 17, 25, 41, len(payload) - 1):
            blobs.append(payload[:cut])
        for _ in range(40):
            m = bytearray(payload)
            m[rng.randrange(min(len(m), 42))] = rng.randrange(256)
            blobs.append(bytes(m))
    for _ in range(40):
        blobs.append(bytes(rng.randrange(256)
                           for _ in range(rng.randrange(0, 60))))

    rows = [Row(i=i, payload=p) for i, p in enumerate(blobs)]
    got = {
        r["i"]: (r["d"], r["f"])
        for r in spark.createDataFrame(rows)
        .select(
            "i",
            media_duration_col(F.col("payload")).alias("d"),
            media_format_col(F.col("payload")).alias("f"),
        )
        .collect()
    }
    mism = []
    for i, p in enumerate(blobs):
        d, f = got[i]
        if f == "flac" or (p[:4] == b"fLaC" and len(p) >= 42):
            if d != py_container_duration_ms(p):
                mism.append((i, d, py_container_duration_ms(p)))
    assert not mism, mism[:5]
