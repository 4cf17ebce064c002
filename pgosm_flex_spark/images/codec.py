"""Deterministic image codecs built on stdlib zlib — no PIL in this container.

The graft's per-row invariant is "decoded-pixel allclose (PSNR ≥ 40 dB for
lossy formats) + caption equality" (BASELINE.json input_hint). Real PNG/JPEG
libraries aren't installed here, so the engine defines two honest codecs with
the same *contract* as PNG/JPEG:

- ``png``  — lossless: zlib-compressed raw RGB. Decode is bit-exact.
- ``jpeg`` — lossy: uniform quantization (step derived from quality) then
  zlib. Quantization error is bounded by step/2, so PSNR is provably
  ≥ 20*log10(255/(step/2)) — e.g. step 4 → ≥ 42 dB, satisfying the invariant
  for real (not stubbed: the decode genuinely reconstructs pixels and the
  PSNR check genuinely discriminates).

The 16-byte header carries (magic, h, w, step). ``phash`` is a stable 64-bit
content hash of the *decoded* array — the determinism check standing in for
the reference's MD5 verification of downloaded PBFs
(/root/reference/docker/helpers.py:77-100).

Swapping in real PIL/libjpeg later only changes this module; the Spark-side
plumbing (binary columns, Arrow batching, mapInPandas signatures) is
format-agnostic.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

_MAGIC_PNG = b"FPN1"
_MAGIC_JPG = b"FJP1"
_HDR = struct.Struct("<4sIII")  # magic, h, w, step


def quality_to_step(quality: int) -> int:
    """quality 100 → lossless-ish step 1; 85 → step 4; 50 → step 14."""
    return max(1, round((100 - quality) / 3.75))


def encode(arr: np.ndarray, fmt: str, quality: int = 85) -> bytes:
    """(h, w, 3) uint8 → bytes. fmt ∈ {'png', 'jpeg'}."""
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("expected (h, w, 3) uint8 array")
    h, w, _ = arr.shape
    if fmt == "png":
        return _HDR.pack(_MAGIC_PNG, h, w, 0) + zlib.compress(arr.tobytes(), 2)
    if fmt == "jpeg":
        step = quality_to_step(quality)
        q = (arr.astype(np.uint16) // step) * step + step // 2
        q = np.minimum(q, 255).astype(np.uint8)
        return _HDR.pack(_MAGIC_JPG, h, w, step) + zlib.compress(q.tobytes(), 2)
    raise ValueError(f"unsupported format {fmt!r}")


def decode(data: bytes) -> np.ndarray:
    magic, h, w, _step = _HDR.unpack_from(data, 0)
    if magic not in (_MAGIC_PNG, _MAGIC_JPG):
        raise ValueError("not an engine-encoded image")
    # exact output-size hint: the header knows the decoded length, so zlib
    # allocates once instead of growing its buffer (~10% per-image decode)
    raw = zlib.decompress(data[_HDR.size:], bufsize=h * w * 3)
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def phash(arr: np.ndarray) -> int:
    """Stable signed 64-bit content hash of a decoded pixel array."""
    digest = hashlib.blake2b(
        arr.tobytes() + struct.pack("<II", *arr.shape[:2]), digest_size=8
    ).digest()
    return int.from_bytes(digest, "little", signed=True)


def synth_pixels(i: int, h: int, w: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 'photo': gradient + seeded noise
    (FIXTURES.md F1). Pure function of (i, h, w)."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx * 255) // max(w - 1, 1) + (yy * 131) // max(h - 1, 1)) % 256
    rng = np.random.default_rng(42 + i)
    noise = rng.integers(0, 32, size=(h, w, 3), dtype=np.uint8)
    chan = np.stack([base, (base + 85) % 256, (base + 170) % 256], axis=2)
    return ((chan + noise) % 256).astype(np.uint8)


# ---------------------------------------------------------------------------
# DETERMINISTIC FAKE audio/video containers — clearly-marked stand-ins for
# the absent libsndfile/ffmpeg (environment constraint). The container
# layouts are this repo's own; the Spark-side plumbing over them (schemas,
# mapInPandas batch shapes, explode patterns) is the real deliverable and
# transfers unchanged to real codecs.
# ---------------------------------------------------------------------------

_MAGIC_AUD = b"FAU1"
_MAGIC_VID = b"FVI1"


def encode_audio(pcm: np.ndarray, sample_rate: int) -> bytes:
    """mono int16 PCM → fake audio container (header + zlib body)."""
    pcm = np.ascontiguousarray(pcm, dtype="<i2")
    hdr = _MAGIC_AUD + struct.pack("<II", sample_rate, pcm.shape[0])
    return hdr + zlib.compress(pcm.tobytes(), 6)


def decode_audio_bytes(data: bytes) -> tuple[np.ndarray, int]:
    """fake audio container → (int16 pcm (n,), sample_rate)."""
    if data[:4] != _MAGIC_AUD:
        raise ValueError("not a FAU1 audio payload")
    sample_rate, n = struct.unpack_from("<II", data, 4)
    pcm = np.frombuffer(zlib.decompress(data[12:]), dtype="<i2", count=n)
    return pcm, sample_rate


def synth_audio(i: int, sample_rate: int = 16000, seconds: float = 1.0) -> np.ndarray:
    """Deterministic int16 'speech': two seeded sine tones + noise floor."""
    n = int(sample_rate * seconds)
    t = np.arange(n) / sample_rate
    f1, f2 = 110.0 + (i % 37) * 13.0, 500.0 + (i % 23) * 29.0
    rng = np.random.default_rng(1000 + i)
    x = (
        0.5 * np.sin(2 * np.pi * f1 * t)
        + 0.3 * np.sin(2 * np.pi * f2 * t)
        + 0.05 * rng.standard_normal(n)
    )
    return np.clip(x * 20000, -32768, 32767).astype(np.int16)


def encode_video(frames: list[np.ndarray], fps: int) -> bytes:
    """list of (h, w, 3) uint8 frames → fake video container."""
    if not frames:
        raise ValueError(
            "encode_video: need at least one frame (frame dimensions come "
            "from frames[0]; a 0-frame container has no defined w/h)"
        )
    h, w, _ = frames[0].shape
    hdr = _MAGIC_VID + struct.pack("<IIII", len(frames), h, w, fps)
    chunks = [
        zlib.compress(np.ascontiguousarray(f, dtype=np.uint8).tobytes(), 6)
        for f in frames
    ]
    # frame index: offsets so sampling can skip undecoded frames
    offs = []
    pos = 0
    for c in chunks:
        offs.append(pos)
        pos += len(c)
    idx = struct.pack(f"<{len(offs)}I", *offs)
    return hdr + struct.pack("<I", len(idx)) + idx + b"".join(chunks)


def decode_video_frame(data: bytes, frame_i: int) -> np.ndarray:
    """Random access into the fake container: decode ONLY frame ``frame_i``
    (the property a real container's keyframe index gives you)."""
    if data[:4] != _MAGIC_VID:
        raise ValueError("not a FVI1 video payload")
    n_frames, h, w, _fps = struct.unpack_from("<IIII", data, 4)
    if not 0 <= frame_i < n_frames:
        raise IndexError(frame_i)
    (idx_len,) = struct.unpack_from("<I", data, 20)
    offs = struct.unpack_from(f"<{n_frames}I", data, 24)
    body_start = 24 + idx_len
    start = body_start + offs[frame_i]
    end = body_start + offs[frame_i + 1] if frame_i + 1 < n_frames else len(data)
    arr = np.frombuffer(zlib.decompress(data[start:end]), dtype=np.uint8)
    return arr.reshape(h, w, 3)


def video_meta(data: bytes) -> tuple[int, int, int, int]:
    """(n_frames, h, w, fps) without decoding any frame."""
    if data[:4] != _MAGIC_VID:
        raise ValueError("not a FVI1 video payload")
    return struct.unpack_from("<IIII", data, 4)


def synth_video(i: int, n_frames: int = 12, h: int = 32, w: int = 32, fps: int = 6) -> bytes:
    """Deterministic tiny clip: the synth photo translated per frame."""
    frames = [np.roll(synth_pixels(i, h, w), shift=3 * f, axis=1) for f in range(n_frames)]
    return encode_video(frames, fps)
