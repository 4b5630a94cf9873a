"""FLAC audio decoder with ZERO external codec libraries.

FLAC is a fully-specified lossless integer codec (RFC 9639): rice-coded
prediction residuals over constant / verbatim / fixed-polynomial / LPC
subframes with optional inter-channel decorrelation. Everything is exact
integer math, so pure Python + numpy reconstructs the samples
BIT-IDENTICALLY — validated against an independent test-side encoder in
``tests/test_flac.py`` (lossless means roundtrip equality is exact, not
approximate).

Supported: 8/16/24-bit, 1-8 channels, all four subframe types (LPC up to
order 32), both rice residual methods (4- and 5-bit parameters, escape
code), all partition orders, the four channel assignments (independent,
left/side, right/side, mid/side), wasted bits, variable and fixed
blocking, UTF-8-style coded numbers. CRCs are structurally skipped (at
crawl scale a bad checksum is data, and the exactness oracle covers the
math). Rejected as ``None``: anything malformed or truncated, reserved
codes, and sample sizes FLAC cannot express.

Scope: a standalone bytes-in, samples-out function; no operator calls it
and the package root does not export it. The per-bit rice walk is pure
Python — fine for web audio clips, not for bulk decode.

Capability positioning vs the reference: py_stringsimjoin has no media
support; this implements the brief's multimodal-decode ask.
"""

from __future__ import annotations

import numpy as np

# fixed-predictor coefficients per order (RFC 9639 §4.2.2)
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCK_SIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                13: 8192, 14: 16384, 15: 32768}
_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


class _Bits:
    """MSB-first bit reader. Raises ValueError on underrun."""

    __slots__ = ("b", "pos", "bit")

    def __init__(self, b: bytes, pos: int = 0):
        self.b = b
        self.pos = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        while n > 0:
            if self.pos >= len(self.b):
                raise ValueError("bit underrun")
            avail = 8 - self.bit
            take = min(n, avail)
            byte = self.b[self.pos]
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
            n -= take
        return v

    def unary(self) -> int:
        n = 0
        while True:
            if self.read(1):
                return n
            n += 1
            if n > 1 << 24:
                raise ValueError("unary runaway")

    def align(self):
        if self.bit:
            self.bit = 0
            self.pos += 1


def _signed(v: int, bits: int) -> int:
    return v - (1 << bits) if v >= (1 << (bits - 1)) else v


def _coded_number(r: _Bits) -> int:
    """UTF-8-style frame/sample number (up to 7 bytes)."""
    first = r.read(8)
    if first < 0x80:
        return first
    n = 0
    probe = first
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n < 1 or n > 6:
        raise ValueError("bad coded number")
    v = first & (0x3F >> n)
    for _ in range(n):
        c = r.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("bad coded number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _residuals(r: _Bits, block_size: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError("reserved residual method")
    plen = 4 + method          # rice parameter width
    escape = (1 << plen) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if block_size % nparts:
        raise ValueError("bad partition order")
    out = []
    for p in range(nparts):
        n = (block_size >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("bad partition sizes")
        param = r.read(plen)
        if param == escape:
            bits = r.read(5)
            for _ in range(n):
                out.append(_signed(r.read(bits), bits) if bits else 0)
        else:
            for _ in range(n):
                q = r.unary()
                low = r.read(param) if param else 0
                zz = (q << param) | low
                out.append((zz >> 1) ^ -(zz & 1))  # zigzag -> signed
    return out


def _subframe(r: _Bits, block_size: int, bps: int) -> list[int]:
    if r.read(1):
        raise ValueError("subframe padding bit set")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits flag: unary count - 1
        wasted = r.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("all bits wasted")
    if ftype == 0:      # CONSTANT
        v = _signed(r.read(eff), eff)
        samples = [v] * block_size
    elif ftype == 1:    # VERBATIM
        samples = [_signed(r.read(eff), eff) for _ in range(block_size)]
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        if order > block_size:
            raise ValueError("order exceeds block")
        warm = [_signed(r.read(eff), eff) for _ in range(order)]
        res = _residuals(r, block_size, order)
        coefs = _FIXED_COEFS[order]
        samples = list(warm)
        for i in range(order, block_size):
            pred = sum(c * samples[i - 1 - k] for k, c in enumerate(coefs))
            samples.append(res[i - order] + pred)
    elif ftype >= 32:   # LPC order 1-32
        order = ftype - 31
        if order > block_size:
            raise ValueError("order exceeds block")
        warm = [_signed(r.read(eff), eff) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("reserved LPC precision")
        shift = _signed(r.read(5), 5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [_signed(r.read(prec), prec) for _ in range(order)]
        res = _residuals(r, block_size, order)
        samples = list(warm)
        for i in range(order, block_size):
            acc = sum(c * samples[i - 1 - k] for k, c in enumerate(coefs))
            samples.append(res[i - order] + (acc >> shift))
    else:
        raise ValueError("reserved subframe type")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def parse_flac_streaminfo(payload: bytes):
    """dict(sample_rate, channels, bits, total_samples, audio_off) from the
    mandatory leading STREAMINFO block; None when not a FLAC payload.
    ``audio_off`` is the byte offset of the first frame (after all
    metadata blocks)."""
    b = payload or b""
    if len(b) < 42 or b[:4] != b"fLaC":
        return None
    off = 4
    info = None
    for _ in range(128):
        if off + 4 > len(b):
            return None
        last = b[off] & 0x80
        btype = b[off] & 0x7F
        size = int.from_bytes(b[off + 1:off + 4], "big")
        if off + 4 + size > len(b):
            return None
        if btype == 0 and info is None:
            if size < 34:
                return None
            d = b[off + 4:off + 4 + 34]
            rate = (d[10] << 12) | (d[11] << 4) | (d[12] >> 4)
            channels = ((d[12] >> 1) & 0x07) + 1
            bits = (((d[12] & 0x01) << 4) | (d[13] >> 4)) + 1
            total = ((d[13] & 0x0F) << 32) | int.from_bytes(d[14:18], "big")
            info = {"sample_rate": rate, "channels": channels, "bits": bits,
                    "total_samples": total}
        off += 4 + size
        if last:
            break
    if info is None or not info["sample_rate"]:
        return None
    info["audio_off"] = off
    return info


def flac_duration_ms(payload: bytes):
    """total_samples / sample_rate from STREAMINFO; None for non-FLAC or
    streams with unknown (0) length."""
    info = parse_flac_streaminfo(payload)
    if not info or not info["total_samples"]:
        return None
    return (info["total_samples"] * 1000) // info["sample_rate"]


def decode_flac(payload: bytes):
    """(samples float32 [n, channels] in [-1, 1], sample_rate) decoded
    EXACTLY from a FLAC payload; None when not decodable."""
    info = parse_flac_streaminfo(payload)
    if info is None:
        return None
    b = payload
    try:
        r = _Bits(b, info["audio_off"])
        nch = info["channels"]
        chans = [[] for _ in range(nch)]
        total = 0
        want = info["total_samples"]
        while True:
            if want and total >= want:
                break
            if r.pos >= len(b) - 1:
                break
            # frame header
            if r.read(14) != 0x3FFE:
                return None
            r.read(1)           # reserved
            r.read(1)           # blocking strategy
            bs_code = r.read(4)
            sr_code = r.read(4)
            ch_code = r.read(4)
            ss_code = r.read(3)
            r.read(1)           # reserved
            _coded_number(r)
            if bs_code == 0:
                return None
            if bs_code == 6:
                block_size = r.read(8) + 1
            elif bs_code == 7:
                block_size = r.read(16) + 1
            else:
                block_size = _BLOCK_SIZES[bs_code]
            if sr_code == 12:
                r.read(8)
            elif sr_code in (13, 14):
                r.read(16)
            elif sr_code == 15:
                return None
            if ss_code in (0, 3):
                bps = info["bits"]
                if ss_code == 3:
                    return None
            else:
                bps = _SAMPLE_SIZES.get(ss_code)
                if bps is None:
                    return None
            r.read(8)           # header CRC-8 (unverified: data, not errors)
            if ch_code < 8:
                if ch_code + 1 != nch:
                    return None
                subs = [_subframe(r, block_size, bps) for _ in range(nch)]
            elif ch_code in (8, 9, 10):
                if nch != 2:
                    return None
                # the difference channel carries one extra bit
                if ch_code == 8:      # left/side
                    left = _subframe(r, block_size, bps)
                    side = _subframe(r, block_size, bps + 1)
                    subs = [left, [l - s for l, s in zip(left, side)]]
                elif ch_code == 9:    # right/side
                    side = _subframe(r, block_size, bps + 1)
                    right = _subframe(r, block_size, bps)
                    subs = [[rr + s for rr, s in zip(right, side)], right]
                else:                 # mid/side
                    mid = _subframe(r, block_size, bps)
                    side = _subframe(r, block_size, bps + 1)
                    subs = [None, None]
                    lefts, rights = [], []
                    for m, s in zip(mid, side):
                        t = (m << 1) | (s & 1)
                        lefts.append((t + s) >> 1)
                        rights.append((t - s) >> 1)
                    subs = [lefts, rights]
            else:
                return None
            r.align()
            r.pos += 2          # frame CRC-16 (unverified)
            r.bit = 0
            for c in range(nch):
                chans[c].extend(subs[c])
            total += block_size
        if total == 0:
            return None
        if want:
            chans = [c[:want] for c in chans]
        arr = np.array(chans, dtype=np.float64).T
        scale = float(1 << (info["bits"] - 1))
        return (arr / scale).astype(np.float32), info["sample_rate"]
    except (ValueError, IndexError, KeyError, OverflowError):
        # OverflowError: corrupted warmups/coefs make the prediction
        # feedback loop blow past float range (fuzz-found) — data, not error
        return None
