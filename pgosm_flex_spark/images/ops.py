"""Multimodal (image) operators over opaque binary columns.

Spark-side plumbing is real and tested: binary columns + typed metadata,
Arrow-batched ``mapInPandas`` with bounded batch sizes, deterministic
outputs. The pixel work uses the engine codecs (zlib-based; see
images/codec.py) — swapping in PIL/libjpeg changes only the codec module.

Audio/video use DETERMINISTIC FAKE codecs (codec.py FAU1/FVI1 containers —
libsndfile/ffmpeg are absent in this container, clearly marked per op); the
Spark plumbing around them (schemas, batching, per-frame explode, random
frame access) is real and tested, and a real codec swap touches only
codec.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pgosm_flex_spark.images import codec

DECODE_STATS_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_lum double, phash long, "
    "phash_ok boolean, decode_ok boolean"
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image; emit per-row stats + phash verification (the
    determinism check standing in for the reference's MD5 verify,
    /root/reference/docker/helpers.py:77-100)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples(index=False):
                try:
                    arr = codec.decode(bytes(r.bytes))
                    ph = codec.phash(arr)
                    rows.append(
                        (r.image_id, arr.shape[1], arr.shape[0], r.fmt,
                         float(arr.mean()), ph, bool(ph == r.phash), True)
                    )
                except Exception:
                    rows.append((r.image_id, None, None, r.fmt, None, None, False, False))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "w", "h", "fmt", "mean_lum", "phash", "phash_ok", "decode_ok"],
            )

    return images.select("image_id", "bytes", "fmt", "phash").mapInPandas(
        run, schema=DECODE_STATS_SCHEMA
    )


AUDIO_STATS_SCHEMA = (
    "audio_id string, sample_rate int, n_samples long, duration_s double, "
    "rms double, peak int, zero_crossings long, decode_ok boolean"
)


def audio_stats(rows: DataFrame) -> DataFrame:
    """Decode every audio payload; emit per-row signal stats — the audio
    analog of decode_stats. CODEC IS A DETERMINISTIC FAKE (codec.py FAU1
    container; libsndfile/ffmpeg absent in this environment) — swapping in a
    real decoder changes only codec.decode_audio_bytes; the Spark plumbing
    (binary column in, Arrow-batched typed stats out) is real and tested."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n = len(b)
            # decode is inherently per-row (variable-length payloads) ...
            pcms: list = [None] * n
            srs = np.zeros(n, dtype=np.int64)
            for i, r in enumerate(b.itertuples(index=False)):
                try:
                    pcm, sr = codec.decode_audio_bytes(bytes(r.bytes))
                    pcms[i] = pcm
                    srs[i] = sr
                except Exception:
                    pass
            # ... but the stats batch across rows of equal length: stack each
            # length group into one 2D array and vectorize rms/peak/zc
            rms = np.full(n, np.nan)
            peak = np.zeros(n, dtype=np.int64)
            zc = np.zeros(n, dtype=np.int64)
            lens = np.zeros(n, dtype=np.int64)
            # a zero-length PCM or sr<=0 is a degenerate decode: excluding it
            # here (not just from the stacks — np.abs(x).max(axis=1) raises on
            # zero-width) keeps the old per-row failure semantics: that row is
            # decode_ok=False, the rest of the batch is unaffected
            groups: dict[int, list[int]] = {}
            for i, p in enumerate(pcms):
                if p is not None and p.shape[0] > 0 and srs[i] > 0:
                    groups.setdefault(p.shape[0], []).append(i)
                else:
                    pcms[i] = None
            for length, idxs in groups.items():
                ii = np.array(idxs)
                xi = np.stack([pcms[i] for i in idxs]).astype(np.int32)
                xf = xi.astype(np.float64)
                rms[ii] = np.sqrt((xf * xf).mean(axis=1))
                peak[ii] = np.abs(xi).max(axis=1)
                zc[ii] = ((xi[:, :-1] ^ xi[:, 1:]) < 0).sum(axis=1)
                lens[ii] = length
            ok = np.array([p is not None for p in pcms])
            df = pd.DataFrame(
                {
                    "audio_id": b["audio_id"].to_numpy(),
                    "sample_rate": srs,
                    "n_samples": lens,
                    "duration_s": np.divide(
                        lens, srs, out=np.full(n, np.nan), where=srs > 0
                    ),
                    "rms": rms,
                    "peak": peak,
                    "zero_crossings": zc,
                    "decode_ok": ok,
                }
            )
            if not ok.all():
                stat_cols = [
                    "sample_rate", "n_samples", "duration_s",
                    "rms", "peak", "zero_crossings",
                ]
                df[stat_cols] = df[stat_cols].astype("object")
                df.loc[~ok, stat_cols] = None
            yield df

    return rows.select("audio_id", "bytes").mapInPandas(run, schema=AUDIO_STATS_SCHEMA)


VIDEO_FRAMES_SCHEMA = (
    "video_id string, frame int, n_frames int, fps int, bytes binary, w int, h int, fmt string"
)


def sample_video_frames(rows: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame sampling: one output row per every_n-th frame, re-encoded as a
    png image payload that the image codec decodes. Random access via the
    container's frame index — only sampled frames are decompressed, which is
    the I/O property that matters at 10^12-frame scale. CODEC IS A DETERMINISTIC
    FAKE (codec.py FVI1; ffmpeg absent) — the sampling plumbing is real."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for r in b.itertuples(index=False):
                data = bytes(r.bytes)
                n_frames, h, w, fps = codec.video_meta(data)
                for fi in range(0, n_frames, every_n):
                    arr = codec.decode_video_frame(data, fi)
                    out.append(
                        (r.video_id, fi, n_frames, fps,
                         codec.encode(arr, "png"), w, h, "png")
                    )
            yield pd.DataFrame(
                out,
                columns=["video_id", "frame", "n_frames", "fps", "bytes", "w", "h", "fmt"],
            )

    return rows.select("video_id", "bytes").mapInPandas(run, schema=VIDEO_FRAMES_SCHEMA)
