"""MJPEG-in-AVI video demux with ZERO external codec libraries.

AVI is a RIFF container: fixed-layout chunk headers, no entropy coding.
Walking the chunk tree needs only byte arithmetic, and when the video
stream is MJPEG (fccHandler 'MJPG' / biCompression 'MJPG'), every frame
chunk IS a baseline JPEG — which ``functions/jpeg.py`` decodes for real.
Together they decode REAL video frames for the one mainstream video format
that needs no external codec (H.264/VP9/AV1 genuinely do).

Scope: standalone bytes-in functions; no operator calls them and the
package root does not export them. Demux is a sequential scan over one
payload; sampling k frames decodes k JPEGs, not all of them.

Capability positioning vs the reference: py_stringsimjoin has no media
support (its scope is string similarity joins); this implements the
brief's multimodal frame-sampling ask.
"""

from __future__ import annotations

from py_stringsimjoin_spark.functions.jpeg import decode_jpeg

# chunk-walk budget: #top-level chunks + #hdrl/strl children + #movi frame
# chunks. Frames dominate; budget scales with payload size instead of a
# fixed hop count so long clips demux while a malformed self-referencing
# size field still terminates.
_MIN_HOPS = 64


def _u32(b: bytes, off: int) -> int:
    return int.from_bytes(b[off:off + 4], "little")


def is_avi(payload: bytes) -> bool:
    b = payload or b""
    return len(b) >= 16 and b[:4] == b"RIFF" and b[8:12] == b"AVI "


def parse_avi(payload: bytes):
    """Demux an AVI payload: dict(width, height, us_per_frame, n_frames,
    frames=[(offset, size), ...]) where each frames[i] spans one video
    chunk's data ('##dc'/'##db'), or None when the payload is not a
    parseable AVI. ``n_frames`` is the COUNTED frame chunks (the avih
    dwTotalFrames header field is reported separately as ``hdr_frames`` —
    real files disagree surprisingly often and the chunks are the truth).
    """
    b = payload or b""
    if not is_avi(b):
        return None
    end = min(_u32(b, 4) + 8, len(b))
    info = {"width": None, "height": None, "us_per_frame": None,
            "hdr_frames": None}
    frames: list[tuple[int, int]] = []
    budget = max(_MIN_HOPS, len(b) // 8)

    def walk(off: int, lim: int, depth: int) -> bool:
        nonlocal budget
        while off + 8 <= lim:
            budget -= 1
            if budget < 0 or depth > 4:
                return False
            cid = b[off:off + 4]
            size = _u32(b, off + 4)
            data_off = off + 8
            if data_off + size > lim:
                return False  # truncated chunk: reject the container
            if cid == b"LIST":
                ltype = b[data_off:data_off + 4]
                if ltype in (b"hdrl", b"strl", b"movi", b"rec "):
                    if not walk(data_off + 4, data_off + size, depth + 1):
                        return False
            elif cid == b"avih" and size >= 40:
                info["us_per_frame"] = _u32(b, data_off)
                info["hdr_frames"] = _u32(b, data_off + 16)
                info["width"] = _u32(b, data_off + 32)
                info["height"] = _u32(b, data_off + 36)
            elif len(cid) == 4 and cid[2:4] in (b"dc", b"db"):
                if cid[:2].isdigit():
                    frames.append((data_off, size))
            off = data_off + size + size % 2  # chunks are word-aligned
        return True

    if not walk(12, end, 0):
        return None
    if info["us_per_frame"] is None:
        return None
    info["n_frames"] = len(frames)
    info["frames"] = frames
    return info


# one-slot demux memo: a caller sampling several timestamps calls
# avi_frame_bytes once per timestamp with the SAME payload object; without
# this the demux scan would be O(frames²) per video. Holding the payload reference keeps `is` comparison sound.
_MEMO: list = [None, None]


def _parse_memo(payload: bytes):
    if _MEMO[0] is payload:
        return _MEMO[1]
    info = parse_avi(payload)
    _MEMO[0], _MEMO[1] = payload, info
    return info


def avi_duration_ms(payload: bytes):
    """Total duration in ms from counted frame chunks x avih frame period;
    None for non-AVI / malformed payloads."""
    info = _parse_memo(payload)
    if not info or not info["us_per_frame"]:
        return None
    return (info["n_frames"] * info["us_per_frame"]) // 1000


def avi_frame_bytes(payload: bytes, ts_ms: int):
    """The raw frame-chunk bytes (one JPEG for MJPEG streams) whose display
    interval covers ``ts_ms``; None when out of range / not an AVI."""
    info = _parse_memo(payload)
    if not info or not info["us_per_frame"] or not info["frames"]:
        return None
    idx = (int(ts_ms) * 1000) // info["us_per_frame"]
    if idx < 0 or idx >= len(info["frames"]):
        return None
    off, size = info["frames"][idx]
    return payload[off:off + size]


def decode_avi_frame(payload: bytes, ts_ms: int):
    """uint8 pixel array for the MJPEG frame at ``ts_ms`` (see
    ``jpeg.decode_jpeg`` for the supported JPEG subset, including DHT-less
    MJPEG frames via the Annex K fallback); None otherwise."""
    frame = avi_frame_bytes(payload, ts_ms)
    if frame is None:
        return None
    return decode_jpeg(frame)
