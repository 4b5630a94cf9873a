"""Baseline-JPEG decoder tests against an independent test-side ENCODER.

Mirror strategy: the
test suite carries a minimal baseline JPEG *encoder* — forward DCT,
uniform quantization, canonical Huffman entropy coding, byte stuffing,
restart markers, chroma subsampling — built independently from the decoder
under test. Round-trip near-equality (bounded by quantization error) plus
analytically-exact solid-color cases validate `decode_jpeg` without any
codec library in the container. The encoder embeds its OWN canonical
Huffman tables in DHT (fixed-length DC + two-length AC), so the decoder's
generic table builder is exercised rather than any hard-coded table.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from py_stringsimjoin_spark.functions.jpeg import (
    ZIGZAG,
    build_huffman,
    decode_jpeg,
)

# --- encoder-side canonical Huffman specs (NOT the T.81 Annex K tables:
# any valid DHT is legal JPEG; these exercise the generic builder) ---

# DC: 12 categories, all 4-bit codes
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
# AC: EOB gets a 2-bit code; every run/size symbol + ZRL gets 9 bits
_AC_VALS = [0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
_AC_BITS = [0, 1, 0, 0, 0, 0, 0, 0, len(_AC_VALS)] + [0] * 7
_AC_VALS_FULL = [0x00] + _AC_VALS  # EOB first (len 2), then the 9-bit block


def _enc_table(bits, vals):
    table = build_huffman(bits, vals)
    assert table is not None
    return {sym: (length, code) for (length, code), sym in table.items()}


_DC_ENC = _enc_table(_DC_BITS, _DC_VALS)
_AC_ENC = _enc_table(_AC_BITS, _AC_VALS_FULL)

# forward orthonormal DCT basis (independent derivation from the decoder's:
# computed via np.cos over an outer product, not elementwise loops)
_X, _U = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
_MF = 0.5 * np.cos((2 * _X + 1) * _U * np.pi / 16.0)
_MF[:, 0] /= np.sqrt(2.0)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bit(self, v):
        self.acc = (self.acc << 1) | v
        self.n += 1
        if self.n == 8:
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.acc = 0
            self.n = 0

    def bits(self, val, n):
        for i in reversed(range(n)):
            self.bit((val >> i) & 1)

    def align(self):
        while self.n:
            self.bit(1)


def _mag(v):
    """(category, magnitude-bits) per T.81."""
    s = int(abs(v)).bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _encode_block(w, block, qtab, pred, dc_enc=None, ac_enc=None):
    dc_enc = _DC_ENC if dc_enc is None else dc_enc
    ac_enc = _AC_ENC if ac_enc is None else ac_enc
    # snap the float DCT to 6 decimals first: integer-input DCT coefficients
    # are exact rationals, and without the snap a -1016 DC lands at
    # -1015.9999999 → /q crosses a .5 rounding boundary the wrong way,
    # diverging from the analytic oracle in test_solid_gray_exact
    dct = np.round(_MF.T @ (block - 128.0) @ _MF, 6)
    coeffs = np.round(dct / qtab).astype(np.int64)
    zz = coeffs.flatten()[ZIGZAG]
    s, bits = _mag(int(zz[0]) - pred)
    ln, code = dc_enc[s]
    w.bits(code, ln)
    if s:
        w.bits(bits, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            ln, code = ac_enc[0xF0]
            w.bits(code, ln)
            run -= 16
        s, bits = _mag(v)
        ln, code = ac_enc[(run << 4) | s]
        w.bits(code, ln)
        w.bits(bits, s)
        run = 0
    if run:
        ln, code = ac_enc[0x00]
        w.bits(code, ln)
    return int(zz[0])


def _seg(marker, payload):
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _downsample(plane, fv, fh):
    if fv == 1 and fh == 1:
        return plane
    h, w = plane.shape
    ph, pw = -h % fv, -w % fh
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return p.reshape(p.shape[0] // fv, fv, p.shape[1] // fh, fh).mean(axis=(1, 3))


def encode_jpeg(img, q=1, sub=(1, 1), restart=0, tables="test", emit_dht=True):
    """Minimal baseline JPEG encoder. img: uint8 [h,w,3] RGB or [h,w] gray.
    q: flat quant value (both tables). sub: (H,V) luma sampling factors
    (chroma is 1,1) — (1,1)=4:4:4, (2,1)=4:2:2, (2,2)=4:2:0.
    tables: "test" = this file's own canonical specs, "annexk" = the T.81
    Annex K typical tables. emit_dht=False omits the DHT segments entirely
    (the MJPEG-in-AVI convention: tables are implied, not carried)."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        comps = [(1, 1, 1, 0)]
    else:
        r, g, b = (img[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        sh, sv = sub
        planes = [y, _downsample(cb, sv, sh), _downsample(cr, sv, sh)]
        comps = [(1, sh, sv, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = []
    for p, (_, H, V, _) in zip(planes, comps):
        th, tw = mcus_y * 8 * V, mcus_x * 8 * H
        padded.append(np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                             mode="edge"))
    qtab = np.full((8, 8), float(q))
    out = bytearray(b"\xff\xd8")
    qzz = bytes(qtab.flatten()[ZIGZAG].astype(np.uint8))
    out += _seg(0xDB, bytes([0x00]) + qzz)
    if not gray:
        out += _seg(0xDB, bytes([0x01]) + qzz)
    sofp = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sofp += bytes([len(comps)])
    for cid, H, V, tq in comps:
        sofp += bytes([cid, (H << 4) | V, tq])
    out += _seg(0xC0, sofp)
    if tables == "test":
        specs = {(0, 0): (_DC_BITS, _DC_VALS), (1, 0): (_AC_BITS, _AC_VALS_FULL),
                 (0, 1): (_DC_BITS, _DC_VALS), (1, 1): (_AC_BITS, _AC_VALS_FULL)}
    else:  # the Annex K typical tables, as MJPEG encoders use
        from py_stringsimjoin_spark.functions import jpeg as _J

        specs = {(0, 0): _J._K_DC_LUMA, (1, 0): _J._K_AC_LUMA,
                 (0, 1): _J._K_DC_CHROMA, (1, 1): _J._K_AC_CHROMA}
    enc = {k: _enc_table(*v) for k, v in specs.items()}
    if emit_dht:
        for tid in range(1 if gray else 2):
            for tc in (0, 1):
                bits, vals = specs[(tc, tid)]
                out += _seg(0xC4, bytes([(tc << 4) | tid]) + bytes(bits)
                            + bytes(vals))
    if restart:
        out += _seg(0xDD, restart.to_bytes(2, "big"))
    sosp = bytes([len(comps)])
    for i, (cid, _, _, _) in enumerate(comps):
        tid = 0 if i == 0 else 1
        sosp += bytes([cid, (tid << 4) | tid])
    sosp += bytes([0x00, 0x3F, 0x00])
    out += _seg(0xDA, sosp)
    wtr = _BitWriter()
    preds = [0] * len(comps)
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart and m and m % restart == 0:
            wtr.align()
            out += bytes(wtr.out)
            out += bytes([0xFF, 0xD0 + rst % 8])
            rst += 1
            wtr = _BitWriter()
            preds = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for j, (_, H, V, _) in enumerate(comps):
            for v in range(V):
                for u in range(H):
                    y0, x0 = (my * V + v) * 8, (mx * H + u) * 8
                    tid = 0 if j == 0 else 1
                    preds[j] = _encode_block(
                        wtr, padded[j][y0:y0 + 8, x0:x0 + 8], qtab, preds[j],
                        enc[(0, tid)], enc[(1, tid)])
    wtr.align()
    out += bytes(wtr.out)
    out += b"\xff\xd9"
    return bytes(out)


def _rng_img(h, w, seed, gray=False):
    rng = np.random.RandomState(seed)
    shape = (h, w) if gray else (h, w, 3)
    return rng.randint(0, 256, size=shape, dtype=np.uint8)


def _dc_roundtrip(v, q):
    """Analytic solid-color value through quantized DC-only block."""
    qv = np.round(8.0 * (v - 128.0) / q)
    return qv * q / 8.0 + 128.0


def test_roundtrip_gray_q1():
    img = _rng_img(24, 17, 7, gray=True)
    dec = decode_jpeg(encode_jpeg(img, q=1))
    assert dec is not None and dec.shape == (24, 17, 1)
    err = np.abs(dec[..., 0].astype(int) - img.astype(int))
    assert err.max() <= 4 and err.mean() <= 1.0


def test_roundtrip_rgb_444_q1():
    img = _rng_img(19, 26, 11)
    dec = decode_jpeg(encode_jpeg(img, q=1))
    assert dec is not None and dec.shape == (19, 26, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 6 and err.mean() <= 1.5


def test_roundtrip_smooth_gradient_subsampled():
    yy, xx = np.meshgrid(np.arange(33), np.arange(40), indexing="ij")
    img = np.stack([(yy * 3) % 256, (xx * 2) % 256,
                    ((yy + xx) * 2) % 256], axis=2).astype(np.uint8)
    for sub in [(2, 2), (2, 1), (1, 2)]:
        dec = decode_jpeg(encode_jpeg(img, q=2, sub=sub))
        assert dec is not None and dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int))
        # chroma is downsampled: exactness only up to local chroma averaging
        assert err.mean() <= 6.0, sub


def test_solid_gray_exact():
    for v in [0, 1, 63, 128, 200, 255]:
        for q in [1, 7, 16]:
            img = np.full((16, 9), v, dtype=np.uint8)
            dec = decode_jpeg(encode_jpeg(img, q=q))
            assert dec is not None
            expected = int(np.clip(np.round(_dc_roundtrip(v, q)), 0, 255))
            assert (dec[..., 0] == expected).all(), (v, q)


def test_solid_rgb_420_exact():
    r, g, b = 200, 30, 90
    q = 4
    img = np.zeros((12, 21, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = r, g, b
    dec = decode_jpeg(encode_jpeg(img, q=q, sub=(2, 2)))
    assert dec is not None
    y = _dc_roundtrip(0.299 * r + 0.587 * g + 0.114 * b, q)
    cb = _dc_roundtrip(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b, q)
    cr = _dc_roundtrip(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b, q)
    er = np.clip(np.round(y + 1.402 * (cr - 128.0)), 0, 255)
    eg = np.clip(np.round(y - 0.344136 * (cb - 128.0)
                          - 0.714136 * (cr - 128.0)), 0, 255)
    eb = np.clip(np.round(y + 1.772 * (cb - 128.0)), 0, 255)
    assert (dec[..., 0] == er).all()
    assert (dec[..., 1] == eg).all()
    assert (dec[..., 2] == eb).all()


def test_restart_markers_identical_output():
    img = _rng_img(40, 24, 3)
    plain = decode_jpeg(encode_jpeg(img, q=2))
    rst = decode_jpeg(encode_jpeg(img, q=2, restart=2))
    assert plain is not None and rst is not None
    assert (plain == rst).all()


def test_single_block_and_odd_sizes():
    for h, w in [(8, 8), (1, 1), (9, 8), (7, 23)]:
        img = _rng_img(h, w, h * 100 + w, gray=True)
        dec = decode_jpeg(encode_jpeg(img, q=1))
        assert dec is not None and dec.shape == (h, w, 1)
        err = np.abs(dec[..., 0].astype(int) - img.astype(int))
        assert err.max() <= 4


def test_rejects_malformed_and_friends():
    img = _rng_img(16, 16, 5, gray=True)
    good = encode_jpeg(img, q=1)
    # rewrite SOF0 to SOF2: the SEQUENTIAL scan header (Se=63) is malformed
    # as a progressive DC scan — reject, not crash (real progressive
    # streams are covered in test_jpeg_progressive.py)
    sof_at = good.find(b"\xff\xc0")
    assert sof_at > 0
    prog = good[:sof_at + 1] + b"\xc2" + good[sof_at + 2:]
    assert decode_jpeg(prog) is None
    # 12-bit precision
    twelve = bytearray(good)
    twelve[sof_at + 4] = 12
    assert decode_jpeg(bytes(twelve)) is None
    # truncated mid-scan
    assert decode_jpeg(good[: len(good) // 2]) is None
    # not a JPEG at all / empty
    assert decode_jpeg(b"") is None
    assert decode_jpeg(None) is None
    assert decode_jpeg(b"\x89PNG\r\n\x1a\n") is None


def test_rejects_overfull_huffman_spec():
    # 3 codes of length 1 overflows the prefix space
    assert build_huffman([3] + [0] * 15, [0, 1, 2]) is None


def test_fuzz_mutations_never_raise():
    img = _rng_img(24, 16, 9)
    good = encode_jpeg(img, q=2, sub=(2, 2), restart=3)
    rnd = random.Random(42)
    blobs = [good[:n] for n in range(0, len(good), 37)]
    for _ in range(120):
        mut = bytearray(good)
        for _ in range(rnd.randint(1, 6)):
            mut[rnd.randrange(len(mut))] = rnd.randrange(256)
        blobs.append(bytes(mut))
    for blob in blobs:
        out = decode_jpeg(blob)  # must return an array or None, never raise
        assert out is None or out.dtype == np.uint8


def test_annexk_tables_roundtrip():
    img = _rng_img(21, 18, 13)
    dec = decode_jpeg(encode_jpeg(img, q=1, tables="annexk"))
    assert dec is not None and dec.shape == (21, 18, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 6 and err.mean() <= 1.5


def test_dhtless_mjpeg_frame_decodes_via_annexk_fallback():
    img = _rng_img(16, 24, 17)
    with_dht = encode_jpeg(img, q=2, sub=(2, 2), tables="annexk")
    without = encode_jpeg(img, q=2, sub=(2, 2), tables="annexk",
                          emit_dht=False)
    assert b"\xff\xc4" in with_dht and b"\xff\xc4" not in without
    a, b = decode_jpeg(with_dht), decode_jpeg(without)
    assert a is not None and b is not None
    np.testing.assert_array_equal(a, b)  # implied tables == carried tables


def test_dhtless_with_custom_tables_still_never_raises():
    # a DHT-less stream encoded with NON-standard tables decodes to garbage
    # or None — either is fine, raising is not
    img = _rng_img(16, 16, 19)
    blob = encode_jpeg(img, q=1, tables="test", emit_dht=False)
    out = decode_jpeg(blob)
    assert out is None or out.dtype == np.uint8
