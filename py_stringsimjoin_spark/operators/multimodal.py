"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with a typed metadata struct.
The metadata comes from the container headers alone (PNG/GIF/JPEG/BMP/AVI
dims, WAV/FLAC/MP4/AVI duration), parsed by pure JVM expressions in
functions/media.py: no codec library and no Python worker. Pixel and
waveform decode is out of scope; a caller that needs features decodes the
``binary`` column with its own codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image|audio|video
        T.StructField("format", T.StringType()),       # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_media_meta(
    df: DataFrame, binary_col: str, media_type: str, fmt: str | None = None
) -> DataFrame:
    """JVM-side metadata from the bytes themselves: n_bytes always; format +
    width/height parsed from PNG/GIF/JPEG/BMP/AVI container headers and
    duration_ms from the WAV RIFF chunk chain, the FLAC STREAMINFO block,
    the AVI main header or the MP4 moov/mvhd box (pure expression walks,
    functions/media.py — no codec library, no Python). ``fmt`` is the
    declared fallback when the magic bytes are unrecognized; duration
    stays NULL for containers whose duration needs an unbounded walk
    (Ogg, WebM, MP3) and for malformed headers."""
    from ..functions.media import (
        media_dims_col,
        media_duration_col,
        media_format_col,
    )

    b = F.col(binary_col)
    dims = media_dims_col(b)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.coalesce(media_format_col(b), F.lit(fmt)).alias("format"),
            dims["width"].alias("width"),
            dims["height"].alias("height"),
            media_duration_col(b).alias("duration_ms"),
            F.length(b).cast("long").alias("n_bytes"),
        ),
    )
