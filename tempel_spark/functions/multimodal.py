"""Multimodal (binary) column plumbing — build-contract requirement.

Image/audio/video payloads are opaque ``binary`` columns + typed
metadata structs. The Spark-side plumbing (schemas, Arrow batch
shapes, partitioning, UDF signatures) is real and tested. Header
DECODE is real too for the common container formats — PNG / GIF /
BMP / JPEG dimensions and WAV sample rate are plain struct reads,
no codec library needed. Pixel/sample decode (which genuinely needs
PIL/ffmpeg, absent in this container) stays behind the deterministic
fallback used for unknown formats; swap `_decode_unknown_stub` for a
real decoder on a cluster and nothing else changes.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MEDIA_SCHEMA",
    "decode_header",
    "attach_media_metadata",
    "image_features",
    "frame_sample",
]

# canonical media-row shape: payload stays opaque; metadata is typed
MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int>"
)


def _decode_unknown_stub(payload: bytes) -> dict:
    """Deterministic fallback for formats without a parser below —
    md5-derived fake dims, clearly marked via format='unknown'.
    Raising would poison whole partitions, so unknowns degrade to a
    stable fake instead; tests assert on determinism only."""
    h = hashlib.md5(payload or b"").digest()
    w, hgt = struct.unpack("<HH", h[:4])
    return {
        "format": "unknown",
        "width": (w % 1920) + 16,
        "height": (hgt % 1080) + 16,
        "n_frames": 1,
        "sample_rate": 0,
    }


# SOF0-15 minus the non-frame markers sharing the 0xC0 block:
# DHT (0xC4), JPG (0xC8), DAC (0xCC)
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _gif_frame_count(p: bytes) -> int:
    """Walk the GIF block structure and count image descriptors.
    Sub-blocks are skipped by their length prefixes, so 0x2C bytes
    inside LZW-compressed data or color tables are never counted.
    Truncated/malformed tails stop the walk (count-so-far, min 1)."""

    def skip_subblocks(i: int) -> int:
        while i < len(p) and p[i] != 0:
            i += 1 + p[i]
        return i + 1  # past the 0x00 terminator

    i = 10
    packed = p[i]
    i = 13  # past logical screen descriptor
    if packed & 0x80:  # global color table
        i += 3 * (2 << (packed & 0x07))
    frames = 0
    while i < len(p):
        b = p[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            i = skip_subblocks(i + 2)
        elif b == 0x2C:  # image descriptor
            frames += 1
            if i + 10 > len(p):
                break
            local = p[i + 9]
            i += 10
            if local & 0x80:
                i += 3 * (2 << (local & 0x07))
            i = skip_subblocks(i + 1)  # past LZW min-code byte
        else:
            break
    return max(1, frames)


def decode_header(payload: bytes) -> dict:
    """Real, dependency-free container-header parse → dict(format,
    width, height, n_frames, sample_rate).

    PNG:  IHDR width/height (big-endian u32 at offset 16).
    GIF:  logical-screen u16le at offset 6; frame count from a real
          block walk (color tables, extension + image-data sub-blocks
          skipped by their length prefixes — a 0x2C inside LZW data is
          never miscounted as a frame).
    BMP:  BITMAPINFOHEADER i32le at offset 18.
    JPEG: first SOF height/width u16be; the marker walk skips 0xFF
          fill bytes and the length-less standalone markers (TEM,
          RST0-7, SOI/EOI) so they cannot derail the scan before SOF.
    WAV:  RIFF/WAVE fmt chunk — channels, sample_rate u32le.
    """
    p = payload or b""
    try:
        if p[:8] == b"\x89PNG\r\n\x1a\n" and len(p) >= 24:
            w, h = struct.unpack(">II", p[16:24])
            return {"format": "png", "width": w, "height": h, "n_frames": 1, "sample_rate": 0}
        if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 13:
            w, h = struct.unpack("<HH", p[6:10])
            return {"format": "gif", "width": w, "height": h,
                    "n_frames": _gif_frame_count(p), "sample_rate": 0}
        if p[:2] == b"BM" and len(p) >= 26:
            w, h = struct.unpack("<ii", p[18:26])
            return {"format": "bmp", "width": w, "height": abs(h), "n_frames": 1, "sample_rate": 0}
        if p[:2] == b"\xff\xd8":  # JPEG SOI; walk markers to SOF
            i = 2
            while i + 1 < len(p):
                if p[i] != 0xFF:
                    break
                # 0xFF fill bytes may pad between segments
                while i + 1 < len(p) and p[i + 1] == 0xFF:
                    i += 1
                marker = p[i + 1]
                # standalone markers carry no length segment
                if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                    i += 2
                    continue
                if marker in _JPEG_SOF_MARKERS:
                    if i + 9 > len(p):
                        break
                    h, w = struct.unpack(">HH", p[i + 5 : i + 9])
                    return {"format": "jpeg", "width": w, "height": h, "n_frames": 1, "sample_rate": 0}
                if i + 4 > len(p):
                    break
                seg = struct.unpack(">H", p[i + 2 : i + 4])[0]
                i += 2 + seg
            return _decode_unknown_stub(p)
        if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
            i = 12
            while i + 8 <= len(p):
                cid = p[i : i + 4]
                size = struct.unpack("<I", p[i + 4 : i + 8])[0]
                if cid == b"fmt " and i + 16 <= len(p):
                    rate = struct.unpack("<I", p[i + 12 : i + 16])[0]
                    return {"format": "wav", "width": 0, "height": 0, "n_frames": 0, "sample_rate": rate}
                i += 8 + size + (size % 2)
    except (struct.error, IndexError):
        pass
    return _decode_unknown_stub(p)


def attach_media_metadata(df: DataFrame) -> DataFrame:
    """mapInPandas pass that decodes ``payload`` headers into the typed
    meta struct — Arrow batches in, one extra struct column out."""

    def gen(batches):
        for pdf in batches:
            metas = [decode_header(p) for p in pdf["payload"]]
            out = pdf.copy()
            out["meta"] = [
                {
                    "width": m["width"],
                    "height": m["height"],
                    "n_frames": m["n_frames"],
                    "sample_rate": m["sample_rate"],
                    "format": m["format"],
                }
                for m in metas
            ]
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(
        gen,
        schema=f"{schema}, meta struct<width:int,height:int,n_frames:int,sample_rate:int,format:string>",
    )


def image_features(df: DataFrame) -> DataFrame:
    """Deterministic fake feature-extraction (8 md5-derived floats of
    ``payload``) with
    the REAL signature a model UDF has: iterator-of-batches in,
    array<float> feature column out, per-executor state would hold the
    model (reference encode stage shape, s05_wikipedia_encode.py)."""

    def gen(batches):
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                h = hashlib.md5(p or b"").digest()
                feats.append([b / 255.0 for b in h[:8]])
            out = pdf[["media_id"]].copy()
            out["features"] = feats
            yield out

    return df.mapInPandas(gen, schema="media_id long, features array<float>")


def frame_sample(df: DataFrame) -> DataFrame:
    """Frame sampling for video rows: explode n_frames into every 10th
    frame index — pure native (sequence + filter), no decode."""
    return df.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(10))),
    )
