"""Ogg container demux with ZERO external codec libraries.

Ogg (RFC 3533) is pure framing: 27-byte page headers + a segment lacing
table. Walking pages needs no codec, and the three common audio mappings
publish their clock in the FIRST packet + the LAST page:

* **Vorbis** — id header ``\\x01vorbis``: sample rate at offset 12 (LE32);
  page granule position counts PCM samples.
* **Opus** — ``OpusHead``: pre-skip at offset 10 (LE16); granules are
  ALWAYS 48 kHz ticks regardless of the input rate (RFC 7845 §4).
* **FLAC-in-Ogg** — ``\\x7fFLAC`` mapping (xiph mapping 1.0): the first
  packet carries the native ``fLaC`` + STREAMINFO verbatim at offset 9;
  granules count samples. Because the mapping embeds the NATIVE stream,
  reassembling the packets end-to-end yields bytes functions/flac.py
  decodes bit-exactly — full Ogg-FLAC waveform decode, no codec library.

So duration for all three is header math only, and Ogg-FLAC decodes for
real. Vorbis/Opus AUDIO decode still genuinely needs a codec (MDCT/CELT)
— only their duration/metadata are real here.

Scope: standalone bytes-in functions (same tier as functions/flac.py); no
operator calls them and the package root does not export them. The page
walk is a linear scan of the payload, O(size). The JVM expression walkers cannot express
an unbounded page chain (a 1 h stream has thousands of pages), so Ogg is
Python-probe-only — ``media_format_col`` still tags the magic JVM-side.

Capability positioning vs the reference: py_stringsimjoin has no media
support; this extends the brief's multimodal-decode ask.
"""

from __future__ import annotations


def ogg_pages(b: bytes):
    """Yield (granule, serial, bos, packets_data) per page; packets_data is
    the raw segment payload with the lacing table applied by callers.
    Stops (without raising) at the first malformed page."""
    off = 0
    while off + 27 <= len(b):
        if b[off:off + 4] != b"OggS" or b[off + 4] != 0:
            return
        granule = int.from_bytes(b[off + 6:off + 14], "little", signed=True)
        serial = int.from_bytes(b[off + 14:off + 18], "little")
        bos = bool(b[off + 5] & 0x02)
        nsegs = b[off + 26]
        table = b[off + 27:off + 27 + nsegs]
        if len(table) < nsegs:
            return
        body = off + 27 + nsegs
        size = sum(table)
        if body + size > len(b):
            return
        yield granule, serial, bos, table, b[body:body + size]
        off = body + size


def ogg_packets(payload: bytes, serial: int | None = None):
    """Reassemble the packet stream (lacing: packet ends at a segment
    < 255; 255 continues, possibly across pages). Returns (packets,
    last_granule, serial) for the chosen logical stream (default: the
    first bos stream)."""
    packets, cur = [], bytearray()
    last_granule = None
    for granule, ser, bos, table, body in ogg_pages(payload or b""):
        if serial is None and bos:
            serial = ser
        if ser != serial:
            continue
        if granule != -1:
            last_granule = granule
        pos = 0
        for seg in table:
            cur += body[pos:pos + seg]
            pos += seg
            if seg < 255:
                packets.append(bytes(cur))
                cur = bytearray()
    return packets, last_granule, serial


def parse_ogg_info(payload: bytes):
    """dict(codec, sample_rate, total_samples) from the first packet + the
    last granule; None when the payload is not a recognized Ogg audio
    stream. Opus total_samples is already pre-skip-corrected 48 kHz ticks."""
    b = payload or b""
    if b[:4] != b"OggS":
        return None
    packets, granule, _ = ogg_packets(b)
    if not packets or granule is None or granule < 0:
        return None
    p0 = packets[0]
    if p0[:7] == b"\x01vorbis" and len(p0) >= 16:
        rate = int.from_bytes(p0[12:16], "little")
        if not rate:
            return None
        return {"codec": "vorbis", "sample_rate": rate,
                "total_samples": granule}
    if p0[:8] == b"OpusHead" and len(p0) >= 12:
        pre_skip = int.from_bytes(p0[10:12], "little")
        return {"codec": "opus", "sample_rate": 48000,
                "total_samples": max(granule - pre_skip, 0)}
    if p0[:5] == b"\x7fFLAC" and len(p0) >= 9 + 42:
        from py_stringsimjoin_spark.functions.flac import parse_flac_streaminfo

        info = parse_flac_streaminfo(p0[9:])
        if info is None or not info["sample_rate"]:
            return None
        return {"codec": "flac", "sample_rate": info["sample_rate"],
                "total_samples": granule}
    return None


def ogg_duration_ms(payload: bytes):
    """Stream duration from the last granule position; None for non-Ogg /
    malformed / zero-length streams."""
    info = parse_ogg_info(payload)
    if not info or not info["total_samples"]:
        return None
    return (info["total_samples"] * 1000) // info["sample_rate"]


def decode_ogg_flac(payload: bytes):
    """(samples float32 [n, ch], rate) decoded EXACTLY from an Ogg-FLAC
    stream: the mapping's packets ARE the native stream, so reassembling
    first-packet[9:] + remaining packets verbatim feeds functions/flac.py.
    None when the payload is not Ogg-FLAC or the native decode rejects."""
    b = payload or b""
    if b[:4] != b"OggS":
        return None
    packets, _, _ = ogg_packets(b)
    if not packets or packets[0][:5] != b"\x7fFLAC":
        return None
    from py_stringsimjoin_spark.functions.flac import decode_flac

    return decode_flac(packets[0][9:] + b"".join(packets[1:]))
