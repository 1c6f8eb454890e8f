"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed via Arrow-batched mapInArrow.

The decode step is REAL for images and audio (stdlib codecs in
:mod:`..kernel.mediamini`): PNG decode with full unfiltering + nearest-
neighbor thumbnail, WAV PCM decode with RMS/zero-crossing features.
``synth_media`` emits real PNGs (deterministic gradients) and real
WAVs (seeded sine mixes) so the path runs end-to-end with no external
library. VIDEO decode stays stubbed (real codecs — ffmpeg — are not in
this container, SURVEY.md §0): video rows get hash-derived features,
marked by ``feature_kind='stub'`` so nothing silently pretends.
Undecodable payloads degrade to a ``failure`` value, never an
exception. Full decoders (PIL, ffmpeg) are not in this container
either, so the stdlib decoder is the only one.

Scale notes: binary payloads dominate partition size — size partitions
by bytes (spark.sql.files.maxPartitionBytes), never by row count; keep
metadata in typed columns so filters (kind, width, duration) prune at
scan level without touching payload bytes.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel import mediamini
from ..kernel.mediamini import MediaError
from ..sources.io import row_batcher

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha string, "
    "feature array<float>, feature_kind string, "
    "thumb_w int, thumb_h int, failure string"
)

FEATURE_DIM = 8

#: the (width, height) every image is resized to
THUMB = (32, 32)


def synth_media(spark: SparkSession, n: int = 256, seed: int = 42) -> DataFrame:
    """Deterministic media table: REAL PNG images, REAL WAV audio,
    opaque video bytes (+ typed metadata)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            w, h = 16 + (i % 5) * 8, 12 + (i % 4) * 8
            px = [
                [((x * (i + 3)) % 256, (y * (i + 7)) % 256, (x + y + i) % 256)
                 for x in range(w)]
                for y in range(h)
            ]
            payload = mediamini.png_encode(px)
            meta = {"width": w, "height": h, "sample_rate": None, "duration_ms": None}
        elif kind == "audio":
            sr = 16_000
            dur_ms = 200 + (i % 10) * 50
            freq = 220.0 + (i % 12) * 55.0
            n_samp = sr * dur_ms // 1000
            samples = [
                int(12000 * math.sin(2 * math.pi * freq * t / sr))
                for t in range(n_samp)
            ]
            payload = mediamini.wav_encode(samples, sr)
            meta = {"width": None, "height": None, "sample_rate": sr,
                    "duration_ms": dur_ms}
        else:
            digest = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=32).digest()
            payload = digest * (4 + i % 13)
            meta = {"width": 64, "height": 48, "sample_rate": None,
                    "duration_ms": 1000 + i * 37}
        rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_decode(payload: bytes) -> list[float]:
    """Hash-derived stand-in features (video rows)."""
    digest = hashlib.blake2b(payload, digest_size=FEATURE_DIM * 4).digest()
    return [
        int.from_bytes(digest[i * 4:(i + 1) * 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def _image_features(payload: bytes):
    w, h, nch, rows = mediamini.png_decode(payload)
    n_px = w * h
    sums = [0.0, 0.0, 0.0]
    lum_sum = lum_sq = 0.0
    for row in rows:
        for px in row:
            r = px[0]
            g = px[1] if nch >= 3 else px[0]
            b = px[2] if nch >= 3 else px[0]
            sums[0] += r
            sums[1] += g
            sums[2] += b
            lum = 0.299 * r + 0.587 * g + 0.114 * b
            lum_sum += lum
            lum_sq += lum * lum
    mean_lum = lum_sum / n_px
    var = max(lum_sq / n_px - mean_lum * mean_lum, 0.0)
    feature = [
        sums[0] / n_px / 255.0, sums[1] / n_px / 255.0, sums[2] / n_px / 255.0,
        mean_lum / 255.0, math.sqrt(var) / 255.0,
        w / 4096.0, h / 4096.0, (w / h) / 8.0,
    ]
    mediamini.resize_nearest(rows, *THUMB)  # real resize; bytes not kept
    return feature


def _audio_features(payload: bytes):
    sr, ch, samples = mediamini.wav_decode(payload)
    if not samples:
        raise MediaError("empty audio")
    n = len(samples)
    rms = math.sqrt(sum(s * s for s in samples) / n) / 32768.0
    peak = max(abs(s) for s in samples) / 32768.0
    mean_abs = sum(abs(s) for s in samples) / n / 32768.0
    zcr = sum(
        1 for a, b in zip(samples, samples[1:]) if (a < 0) != (b < 0)
    ) / max(n - 1, 1)
    duration_s = n / ch / sr
    return [rms, peak, mean_abs, zcr, duration_s / 60.0, sr / 48000.0,
            float(ch), 0.0]


def extract_features(df: DataFrame) -> DataFrame:
    """Decode / feature-extract / resize via mapInArrow. One output
    row per input; decode failures land in ``failure``, never raise."""
    to_batch = row_batcher(FEATURE_SCHEMA)

    def one(kind: str, payload: bytes):
        try:
            if kind == "image":
                return _image_features(payload), "real", *THUMB, None
            if kind == "audio":
                return _audio_features(payload), "real", None, None, None
            # video: real decode needs codecs — documented stub
            return _fake_decode(payload), "stub", None, None, None
        except MediaError as exc:
            return None, "none", None, None, f"decode_error: {exc}"
        except Exception:
            return None, "none", None, None, "decode_error"

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            yield to_batch([
                (media_id, kind, len(payload),
                 hashlib.sha256(payload).hexdigest(), *one(kind, payload))
                for media_id, kind, payload in zip(
                    batch.column("media_id").to_pylist(),
                    batch.column("kind").to_pylist(),
                    batch.column("payload").to_pylist(),
                )
            ])

    return df.select("media_id", "kind", "payload").mapInArrow(
        batches, FEATURE_SCHEMA
    )


def frame_sample(df: DataFrame, every_ms: int = 500) -> DataFrame:
    """Video frame-sampling plumbing: explode each video row into frame
    timestamps (decode stubbed — frame payloads are NOT materialized,
    only the plan shape). JVM-side sequence/explode."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )
