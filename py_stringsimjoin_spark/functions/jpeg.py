"""JPEG decoder (baseline, extended sequential, progressive) with ZERO
external codec libraries.

Huffman JPEG is fully specified by ITU-T T.81: canonical Huffman entropy
coding, zigzag run-length AC coefficients, uniform dequantization, and a
separable 8x8 inverse DCT — all of which numpy + pure Python express
exactly, so JPEG payloads decode to REAL pixels without a codec library.

Supported: baseline DCT (SOF0), extended sequential (SOF1), progressive
(SOF2, full Annex G — spectral selection, successive approximation, DC/AC
first + refinement scans, EOBRUN, per-scan restart markers), 8-bit
precision, 1 or 3 components, any integer chroma subsampling (4:4:4,
4:2:2, 4:2:0, ...), multiple DQT/DHT segments, fill bytes, and DHT-less
streams (MJPEG frames inside AVI conventionally omit DHT and imply the
T.81 Annex K typical tables — the fallback kicks in per missing table id).
Rejected as ``None`` (data, not errors): lossless/arithmetic/hierarchical
SOFs, 12-bit precision, 4-component (CMYK) scans, truncated or corrupt
entropy data.

Scope: a standalone bytes-in, pixels-out function; no operator calls it
and the package root does not export it. The per-bit Huffman walk is pure
Python (fine for thumbnail/web-image payloads, not for bulk decode).

Capability positioning vs the reference: py_stringsimjoin has no media
support (reference scope is string similarity joins); this implements the
brief's multimodal-decode ask.
"""

from __future__ import annotations

import numpy as np

# natural-order index of the k-th zigzag-scan element (T.81 figure A.6)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal 8-point DCT-II basis: spatial = M @ coeffs @ M.T
_M = np.zeros((8, 8), dtype=np.float64)
for _x in range(8):
    for _u in range(8):
        c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
        _M[_x, _u] = 0.5 * c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def build_huffman(bits, vals):
    """Canonical Huffman table from the DHT (BITS, HUFFVAL) lists:
    dict[(code_length, code)] -> symbol. None when the spec is over-full
    (more codes at a length than the prefix space allows)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        n = bits[length - 1]
        if code + n > (1 << length):
            return None
        for _ in range(n):
            if k >= len(vals):
                return None
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over one entropy-coded segment (already
    unstuffed). Raises ValueError past the end — callers map that to None."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("bit underrun")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: magnitude bits -> signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# T.81 Annex K.3.3 "typical" Huffman specs. MJPEG frames inside AVI
# containers conventionally OMIT the DHT segment and imply these tables
# (OpenDML AVI spec); decode_jpeg falls back to them for any table id the
# stream never defined. (BITS, HUFFVAL) per (class, luma|chroma):
_K_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
_K_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12)))
_K_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])
_K_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])

_DEFAULT_HUFF_CACHE: dict = {}


def _default_huff(tc: int, th: int):
    """Annex K table for (class tc, id th): id 0 -> luma, others -> chroma
    (the MJPEG convention). Built once, cached."""
    key = (tc, 1 if th else 0)
    if key not in _DEFAULT_HUFF_CACHE:
        spec = {(0, 0): _K_DC_LUMA, (0, 1): _K_DC_CHROMA,
                (1, 0): _K_AC_LUMA, (1, 1): _K_AC_CHROMA}[key]
        _DEFAULT_HUFF_CACHE[key] = build_huffman(*spec)
    return _DEFAULT_HUFF_CACHE[key]


def _entropy_segments(b: bytes, pos: int):
    """Split the entropy-coded data starting at ``pos`` into restart
    segments (0xFF00 unstuffed, RSTn boundaries). Returns (segments,
    end_index) where end_index is the offset of the 0xFF of the marker
    that terminated the scan; None when the data runs out first."""
    segs = []
    cur = bytearray()
    i = pos
    n = len(b)
    while i < n:
        byte = b[i]
        if byte != 0xFF:
            cur.append(byte)
            i += 1
            continue
        if i + 1 >= n:
            return None
        nxt = b[i + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # real marker: EOI or any next header ends the scan
            segs.append(bytes(cur))
            return segs, i
    return None


def _decode_block(reader, dc_table, ac_table, pred: int):
    """One 8x8 block: (zigzag coeff int32[64], new DC predictor)."""
    coeffs = np.zeros(64, dtype=np.int32)
    s = reader.read_symbol(dc_table)
    if s > 11:
        raise ValueError("bad DC category")
    diff = _extend(reader.read_bits(s), s) if s else 0
    pred += diff
    coeffs[0] = pred
    k = 1
    while k < 64:
        rs = reader.read_symbol(ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if rs == 0xF0:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past block end")
        coeffs[k] = _extend(reader.read_bits(s), s)
        k += 1
    return coeffs, pred


class _ProgState:
    """Accumulated progressive-scan state: one zigzag-indexed int32
    coefficient array per component over the MCU-padded block grid, filled
    in place scan by scan (T.81 Annex G successive approximation works on
    these integers; dequantization + IDCT happen once at EOI)."""

    def __init__(self, sof):
        h, w, comps = sof
        self.h, self.w, self.comps = h, w, comps
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        if any(self.hmax % c[1] or self.vmax % c[2] for c in comps):
            raise ValueError("non-integer upsampling ratio")
        self.mcus_x = -(-w // (8 * self.hmax))
        self.mcus_y = -(-h // (8 * self.vmax))
        self.coeffs = []
        self.bw = []   # non-interleaved scan grid: ceil(comp_dim / 8),
        self.bh = []   # NOT the MCU-padded grid (T.81 A.2.2)
        for _, H, V, _ in comps:
            self.coeffs.append(np.zeros(
                (self.mcus_y * V, self.mcus_x * H, 64), dtype=np.int32))
            cw = -(-w * H // self.hmax)   # component resolution: ceil
            ch = -(-h * V // self.vmax)
            self.bw.append(-(-cw // 8))
            self.bh.append(-(-ch // 8))


def _prog_dc_scan(st, segs, tables, ah, al, ri, ns):
    """DC scan (Ss=Se=0): interleaved over MCUs when ns>1, else row-major
    over the single component's block grid. First pass (Ah=0) decodes
    diffs into bit position Al and up; refinement (Ah>0) appends bit Al."""
    units = (st.mcus_x * st.mcus_y if ns > 1
             else st.bw[tables[0][0]] * st.bh[tables[0][0]])
    seg_idx = 0
    reader = _BitReader(segs[0])
    preds = {j: 0 for j, _ in tables}
    for m in range(units):
        if ri and m and m % ri == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("missing restart segment")
            reader = _BitReader(segs[seg_idx])
            preds = {j: 0 for j, _ in tables}
        if ns > 1:
            my, mx = divmod(m, st.mcus_x)
            for j, t in tables:
                _, H, V, _ = st.comps[j]
                for v in range(V):
                    for u in range(H):
                        _dc_unit(st.coeffs[j], my * V + v, mx * H + u,
                                 reader, t, preds, j, ah, al)
        else:
            j, t = tables[0]
            by, bx = divmod(m, st.bw[j])
            _dc_unit(st.coeffs[j], by, bx, reader, t, preds, j, ah, al)


def _dc_unit(coeff, by, bx, reader, table, preds, j, ah, al):
    if ah == 0:
        s = reader.read_symbol(table)
        if s > 11:
            raise ValueError("bad DC category")
        preds[j] += _extend(reader.read_bits(s), s) if s else 0
        coeff[by, bx, 0] = preds[j] << al
    elif reader.read_bit():
        # the <<Al first pass left bit Al clear, so OR appends it exactly,
        # negative values included (two's complement)
        coeff[by, bx, 0] |= (1 << al)


def _prog_ac_scan(st, segs, j, ac, ss, se, ah, al, ri):
    """AC scan (Ss>0, single component). EOBRUN is scan-level state but
    resets at restart boundaries."""
    coeff = st.coeffs[j]
    bw = st.bw[j]
    seg_idx = 0
    reader = _BitReader(segs[0])
    eobrun = 0
    for m in range(bw * st.bh[j]):
        if ri and m and m % ri == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("missing restart segment")
            reader = _BitReader(segs[seg_idx])
            eobrun = 0
        by, bx = divmod(m, bw)
        blk = coeff[by, bx]
        if ah == 0:
            eobrun = _ac_first(reader, ac, blk, ss, se, al, eobrun)
        else:
            eobrun = _ac_refine(reader, ac, blk, ss, se, al, eobrun)


def _ac_first(reader, ac, blk, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.read_symbol(ac)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:  # EOBn: run of (1<<r)-1+bits MORE all-done blocks
                return (1 << r) - 1 + (reader.read_bits(r) if r else 0)
            k += 16      # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _extend(reader.read_bits(s), s) << al
        k += 1
    return 0


def _ac_refine(reader, ac, blk, ss, se, al, eobrun):
    """T.81 G.1.2.3 correction-bit pass: previously-significant
    coefficients consume one bit each as they are passed over; the run
    length r counts only zero-history positions."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.read_symbol(ac)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    # the run INCLUDES the current block: its remaining
                    # positions still consume correction bits below, then
                    # the decrement counts it off
                    eobrun = (1 << r) + (reader.read_bits(r) if r else 0)
                    break
                val = 0  # ZRL: 16 zero-history positions, no new coeff
            else:
                if s != 1:
                    raise ValueError("bad refinement magnitude")
                val = p1 if reader.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if reader.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # inside an EOB run only correction bits flow
            if blk[k] != 0 and reader.read_bit() and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(b, data_pos, sos, st, qt, huff, ri):
    """Apply one progressive scan to ``st``; returns the byte offset of the
    marker that terminated the scan (the walk resumes there), or None."""
    if len(sos) < 1:
        return None
    ns = sos[0]
    if len(sos) < 1 + 2 * ns + 3:
        return None
    ss, se = sos[1 + 2 * ns], sos[2 + 2 * ns]
    ah, al = sos[3 + 2 * ns] >> 4, sos[3 + 2 * ns] & 0x0F
    sel = []
    for i in range(ns):
        cs, tda = sos[1 + 2 * i], sos[2 + 2 * i]
        match = [j for j, (cid, _, _, _) in enumerate(st.comps) if cid == cs]
        if not match:
            return None
        sel.append((match[0], tda))
    res = _entropy_segments(b, data_pos)
    if res is None or not res[0]:
        return None
    segs, end = res
    if ss == 0:  # DC scan
        if se != 0:
            return None
        tables = []
        for j, tda in sel:
            t = None
            if ah == 0:
                t = huff.get((0, tda >> 4)) or _default_huff(0, tda >> 4)
                if t is None:
                    return None
            tables.append((j, t))
        _prog_dc_scan(st, segs, tables, ah, al, ri, ns)
    else:        # AC scan: single component only (T.81 B.2.3)
        if ns != 1 or se > 63 or ss > se:
            return None
        j, tda = sel[0]
        ac = huff.get((1, tda & 0x0F)) or _default_huff(1, tda & 0x0F)
        if ac is None:
            return None
        _prog_ac_scan(st, segs, j, ac, ss, se, ah, al, ri)
    return end


def _finish_prog(st, qt):
    """Dequantize + batched IDCT of the accumulated coefficient arrays,
    then the shared upsample/convert tail."""
    planes = []
    for j, (_, H, V, tq) in enumerate(st.comps):
        if tq not in qt:
            return None
        q = np.zeros(64, dtype=np.float64)
        q[ZIGZAG] = qt[tq]
        cf = st.coeffs[j].astype(np.float64)       # (BY, BX, 64) zigzag
        nat = np.zeros_like(cf)
        nat[..., ZIGZAG] = cf
        blocks = nat.reshape(*cf.shape[:2], 8, 8) * q.reshape(8, 8)
        spatial = _M @ blocks @ _M.T               # batched over (BY, BX)
        plane = spatial.transpose(0, 2, 1, 3).reshape(
            cf.shape[0] * 8, cf.shape[1] * 8) + 128.0
        planes.append(plane.astype(np.float32))
    return _assemble(planes, st.comps, st.h, st.w, st.hmax, st.vmax)


def decode_jpeg(payload: bytes):
    """uint8 pixel array [h, w, 3] (YCbCr->RGB) or [h, w, 1] (grayscale)
    for an 8-bit Huffman JPEG — baseline (SOF0), extended sequential
    (SOF1), or progressive (SOF2, full Annex G: spectral selection +
    successive approximation, DC/AC first and refinement scans, EOBRUN,
    restart markers); None for anything else (hierarchical/lossless/
    arithmetic, 12-bit, CMYK, truncated, corrupt). Pure stdlib + numpy."""
    b = payload or b""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    qt = {}      # table id -> float64[64] in zigzag order
    huff = {}    # (class 0|1, table id) -> canonical table
    sof = None   # (h, w, [(comp_id, H, V, tq)])
    progressive = False
    prog = None  # _ProgState once the first progressive scan starts
    restart_interval = 0
    pos = 2
    try:
        while pos + 2 <= len(b):
            if b[pos] != 0xFF:
                return None
            # fill bytes: any number of 0xFF before the marker id
            while pos < len(b) and b[pos] == 0xFF:
                pos += 1
            if pos >= len(b):
                return None
            marker = b[pos]
            pos += 1
            if marker == 0xD9:  # EOI: progressive finishes here
                if prog is not None:
                    return _finish_prog(prog, qt)
                return None  # sequential never reaches EOI (scan returns)
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RST
                continue
            if pos + 2 > len(b):
                return None
            seglen = int.from_bytes(b[pos:pos + 2], "big")
            if seglen < 2 or pos + seglen > len(b):
                return None
            seg = b[pos + 2:pos + seglen]
            if marker == 0xDB:  # DQT: one or more tables
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 0x0F
                    if pq not in (0, 1):
                        return None
                    width = 2 if pq else 1
                    end = i + 1 + 64 * width
                    if end > len(seg):
                        return None
                    raw = seg[i + 1:end]
                    if pq:
                        vals = np.frombuffer(raw, dtype=">u2")
                    else:
                        vals = np.frombuffer(raw, dtype=np.uint8)
                    qt[tq] = vals.astype(np.float64)
                    i = end
            elif marker == 0xC4:  # DHT: one or more tables
                i = 0
                while i < len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 0x0F
                    if tc not in (0, 1) or i + 17 > len(seg):
                        return None
                    bits = list(seg[i + 1:i + 17])
                    nv = sum(bits)
                    if i + 17 + nv > len(seg):
                        return None
                    vals = list(seg[i + 17:i + 17 + nv])
                    table = build_huffman(bits, vals)
                    if table is None:
                        return None
                    huff[(tc, th)] = table
                    i += 17 + nv
            elif marker in (0xC0, 0xC1, 0xC2):
                # SOF0 baseline / SOF1 extended sequential (identical
                # Huffman coding process at 8-bit) / SOF2 progressive
                if len(seg) < 6 or seg[0] != 8:
                    return None
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                ncomp = seg[5]
                if ncomp not in (1, 3) or len(seg) < 6 + 3 * ncomp or not (w and h):
                    return None
                comps = []
                for c in range(ncomp):
                    cid = seg[6 + 3 * c]
                    hv = seg[7 + 3 * c]
                    comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + 3 * c]))
                if any(not (1 <= H <= 4 and 1 <= V <= 4) for _, H, V, _ in comps):
                    return None
                sof = (h, w, comps)
                progressive = marker == 0xC2
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless/arithmetic/hierarchical SOFs
            elif marker == 0xDD:  # DRI
                if len(seg) < 2:
                    return None
                restart_interval = int.from_bytes(seg[0:2], "big")
            elif marker == 0xDA:  # SOS
                if sof is None:
                    return None
                if not progressive:  # sequential: one scan, decode + return
                    return _decode_scan(b, pos + seglen, seg, sof, qt, huff,
                                        restart_interval)
                if prog is None:
                    prog = _ProgState(sof)
                nxt = _decode_prog_scan(b, pos + seglen, seg, prog, qt, huff,
                                        restart_interval)
                if nxt is None:
                    return None
                pos = nxt  # resume the walk at the scan-terminating marker
                continue
            # APPn / COM / others: skip
            pos += seglen
        return None
    except (ValueError, IndexError):
        return None


def _decode_scan(b, data_pos, sos, sof, qt, huff, restart_interval):
    h, w, comps = sof
    if len(sos) < 1:
        return None
    ns = sos[0]
    if ns != len(comps) or len(sos) < 1 + 2 * ns + 3:
        return None
    # scan component -> (frame comp index, dc table, ac table)
    order = []
    for i in range(ns):
        cs = sos[1 + 2 * i]
        tda = sos[2 + 2 * i]
        match = [j for j, (cid, _, _, _) in enumerate(comps) if cid == cs]
        if not match:
            return None
        j = match[0]
        dc = huff.get((0, tda >> 4)) or _default_huff(0, tda >> 4)
        ac = huff.get((1, tda & 0x0F)) or _default_huff(1, tda & 0x0F)
        if dc is None or ac is None or comps[j][3] not in qt:
            return None
        order.append((j, dc, ac))
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if any(hmax % c[1] or vmax % c[2] for c in comps):
        return None  # non-integer upsampling ratio
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = [np.zeros((mcus_y * 8 * V, mcus_x * 8 * H), dtype=np.float32)
              for _, H, V, _ in comps]
    # dezigzagged quant table per component, as an 8x8 multiplier
    qtabs = []
    for _, _, _, tq in comps:
        q = np.zeros(64, dtype=np.float64)
        q[ZIGZAG] = qt[tq]
        qtabs.append(q.reshape(8, 8))
    res = _entropy_segments(b, data_pos)
    if res is None or not res[0]:
        return None
    segs = res[0]
    seg_idx = 0
    reader = _BitReader(segs[0])
    preds = [0] * len(comps)
    n_mcus = mcus_x * mcus_y
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                return None
            reader = _BitReader(segs[seg_idx])
            preds = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for j, dc_t, ac_t in order:
            _, H, V, _ = comps[j]
            for v in range(V):
                for u in range(H):
                    coeffs, preds[j] = _decode_block(reader, dc_t, ac_t,
                                                     preds[j])
                    blk = np.zeros(64, dtype=np.float64)
                    blk[ZIGZAG] = coeffs
                    spatial = _M @ (blk.reshape(8, 8) * qtabs[j]) @ _M.T
                    y0 = (my * V + v) * 8
                    x0 = (mx * H + u) * 8
                    planes[j][y0:y0 + 8, x0:x0 + 8] = spatial + 128.0
    return _assemble(planes, comps, h, w, hmax, vmax)


def _assemble(planes, comps, h, w, hmax, vmax):
    """Upsample component planes to the full-resolution grid, crop to
    (h, w), and convert to uint8 grayscale or YCbCr->RGB."""
    full = []
    for j, (_, H, V, _) in enumerate(comps):
        p = planes[j]
        if H != hmax or V != vmax:
            p = p.repeat(vmax // V, axis=0).repeat(hmax // H, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return gray.reshape(h, w, 1)
    y, cb, cr = (f.astype(np.float64) for f in full)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, bl], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
