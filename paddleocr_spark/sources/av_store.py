"""Deterministic audio/video fixture store + the oracle-checked
multimodal feature queries.

The reference treats media as opaque bytes handed to a codec
(``toddleocr/engine.py:214-216`` for images; GIF frames via
``toddleocr/utils/utility.py:92-104``). A training-data pipeline
generalizes that to audio and video columns: decode, frame, extract
features. This module makes BOTH legs CORRECTNESS-checkable the same
way ``page_store`` does for containers: a tiny store of real files
(RIFF/WAVE PCM, YUV4MPEG2) whose decoded features are ANALYTICALLY
known, with a constant ``VALUES`` DuckDB oracle generated from the
same closed-form formulas — the codecs never run on the oracle side.

Exactness by construction (so the driver's value-hash check is
bit-for-bit, not approximate):

- **Audio**: each RMS frame (frame == hop == 200 samples) is a
  CONSTANT-amplitude block of integer PCM ``a``. The decoded sample is
  the dyadic rational ``a/32768`` (16-bit) or ``(u-128)/128`` (8-bit);
  its square has an integer numerator < 2^53, every pairwise partial
  sum inside ``np.mean`` is exact, ``sum/n`` recovers the square
  exactly, and IEEE-correctly-rounded ``sqrt`` of an exact square of a
  representable value returns that value. Frame RMS is therefore
  EXACTLY ``|a|/32768`` (mono), ``|a0+a1|/65536`` (stereo mixdown), or
  ``|u-128|/128`` (8-bit) — pure literals in the oracle.
- **Video**: every frame is constant-plane YUV, so the mean luma of a
  sampled frame is exactly its integer Y value, and the BT.601
  RGB conversion (``kernels/video.yuv420_to_rgb``) maps constants to
  constants; the oracle generator evaluates the identical IEEE-double
  expression (same literal coefficients, same op order, clip then
  truncate) on plain Python floats.

The Spark queries drive the REAL distributed path: the shared file
loop (``functions/udfs.map_media_store``) reads each file by path on
the worker and runs its per-file function (WAV parse + framed RMS, or
Y4M parse + uniform frame sampling) -> feature rows. This is the exact
plumbing a 100 TB multimodal corpus needs; only the store size is toy.
"""

from __future__ import annotations

import os
import struct

from paddleocr_spark.cachedir import cache_root

__all__ = ["AUDIO_SPEC", "VIDEO_SPEC", "ensure_av_store",
           "audio_features", "video_frames",
           "audio_oracle_sql", "video_oracle_sql"]

_FRAME = 200  # RMS frame == hop (samples): no overlap, no partial tail

# (file_name, bits, channels, n_frames, sample_rate)
_WAVS = [
    ("clip_00.wav", 16, 1, 5, 16000),
    ("clip_01.wav", 16, 2, 3, 8000),
    ("clip_02.wav", 8, 1, 4, 16000),
]

# (file_name, colourspace, n_frames, width, height, k_samples)
_VIDS = [
    ("vid_00.y4m", "420", 10, 32, 24, 4),
    ("vid_01.y4m", "444", 7, 20, 16, 3),
    ("vid_02.y4m", "mono", 5, 16, 12, 2),
]


def _amp(f: int, k: int, c: int) -> int:
    """Integer PCM amplitude of block ``k``, channel ``c`` of 16-bit
    file ``f`` (range keeps |a0+a1| well inside int16)."""
    return ((1234 * f + 517 * k + 291 * c) % 20000) - 10000


def _byte(f: int, k: int) -> int:
    """8-bit PCM byte of block ``k`` of file ``f``."""
    return (37 * f + 19 * k) % 256


def _yuv(f: int, i: int) -> tuple[int, int, int]:
    """Constant (Y, U, V) of frame ``i`` of video file ``f``."""
    return ((23 * f + 17 * i) % 236 + 10,
            (40 + 13 * f + 7 * i) % 200 + 28,
            (90 + 11 * f + 5 * i) % 200 + 28)


def _expected_rms(f: int, bits: int, channels: int, k: int) -> float:
    if bits == 8:
        return abs(_byte(f, k) - 128) / 128.0
    if channels == 1:
        return abs(_amp(f, k, 0)) / 32768.0
    return abs(_amp(f, k, 0) + _amp(f, k, 1)) / 65536.0


# one row per RMS frame of every store file: the analytic expectation
AUDIO_SPEC = [
    (name, k, _expected_rms(f, bits, ch, k), rate, ch)
    for f, (name, bits, ch, n, rate) in enumerate(_WAVS)
    for k in range(n)
]


def _sample_indices(n_frames: int, k: int) -> list[int]:
    # same centers-of-equal-spans policy as video.sample_frame_indices,
    # restated here so the oracle does not import the kernel under test
    import numpy as np

    edges = np.linspace(0, n_frames, min(k, n_frames) + 1)
    return [int((a + b) // 2) for a, b in zip(edges[:-1], edges[1:])]


def _expected_rgb(cs: str, y: int, u: int, v: int) -> tuple[int, int, int]:
    """The BT.601 constants-to-constants map: identical literal
    coefficients / op order / clip-then-truncate as yuv420_to_rgb,
    evaluated on plain Python IEEE doubles."""
    if cs == "mono":
        return y, y, y
    uc, vc = float(u) - 128.0, float(v) - 128.0
    r = float(y) + 1.402 * vc
    g = float(y) - 0.344136 * uc - 0.714136 * vc
    b = float(y) + 1.772 * uc
    return tuple(int(min(255.0, max(0.0, x))) for x in (r, g, b))


# one row per SAMPLED frame of every video file
VIDEO_SPEC = [
    (name, i, n, h, w, float(_yuv(f, i)[0]),
     *_expected_rgb(cs, *_yuv(f, i)))
    for f, (name, cs, n, w, h, k) in enumerate(_VIDS)
    for i in _sample_indices(n, k)
]


def _wav8(f: int, n_frames: int, rate: int) -> bytes:
    """Minimal 8-bit PCM mono RIFF writer (encode_wav is 16-bit-only)."""
    raw = bytes(_byte(f, k) for k in range(n_frames)
                for _ in range(_FRAME))
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raw))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(raw)) + raw)


def ensure_av_store(root: str) -> str:
    """Write the audio/video files under ``root`` (idempotent; DONE
    marker). Driver-side and O(1): 6 tiny files — fixture synthesis,
    not data-plane work."""
    store = os.path.join(root, "avstore_v1")
    marker = os.path.join(store, "_DONE")
    if os.path.exists(marker):
        return store
    import numpy as np

    from paddleocr_spark.kernels.audio import encode_wav
    from paddleocr_spark.kernels.video import encode_y4m

    adir = os.path.join(store, "audio")
    vdir = os.path.join(store, "video")
    os.makedirs(adir, exist_ok=True)
    os.makedirs(vdir, exist_ok=True)
    for f, (name, bits, ch, n, rate) in enumerate(_WAVS):
        if bits == 8:
            data = _wav8(f, n, rate)
        else:
            pcm = np.array([[_amp(f, k, c) for c in range(ch)]
                            for k in range(n)
                            for _ in range(_FRAME)], dtype=np.float64)
            # encode_wav rounds s*32767 back to the exact integer PCM
            data = encode_wav(pcm / 32767.0, rate=rate)
        with open(os.path.join(adir, name), "wb") as fh:
            fh.write(data)
    for f, (name, cs, n, w, h, _k) in enumerate(_VIDS):
        frames = []
        for i in range(n):
            y, u, v = _yuv(f, i)
            fr = {"y": np.full((h, w), y, np.uint8)}
            if cs == "420":
                fr["u"] = np.full((h // 2, w // 2), u, np.uint8)
                fr["v"] = np.full((h // 2, w // 2), v, np.uint8)
            elif cs == "444":
                fr["u"] = np.full((h, w), u, np.uint8)
                fr["v"] = np.full((h, w), v, np.uint8)
            frames.append(fr)
        with open(os.path.join(vdir, name), "wb") as fh:
            fh.write(encode_y4m(frames, cs=cs))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return store


AUDIO_SCHEMA = ("file string, frame long, rms double, sample_rate long, "
                "n_channels long")
VIDEO_SCHEMA = ("file string, frame long, n_frames long, height long, "
                "width long, mean_y double, r long, g long, b long")

_K_BY_FILE = {name: k for name, _, _, _, _, k in _VIDS}


def _audio_rows(path: str, content: bytes):
    """One WAV file → one row per RMS frame (mono mixdown)."""
    from paddleocr_spark.kernels.audio import decode_wav, rms_frames

    samples, rate = decode_wav(content)
    name = os.path.basename(path)
    return [(name, k, float(e), int(rate), samples.shape[1])
            for k, e in enumerate(rms_frames(samples.mean(axis=1),
                                             _FRAME, _FRAME))]


def _video_rows(path: str, content: bytes):
    """One Y4M file → one row per uniformly sampled frame: mean luma
    and the BT.601 RGB of its first pixel."""
    from paddleocr_spark.kernels.video import (
        decode_y4m,
        sample_frame_indices,
        yuv420_to_rgb,
    )

    name = os.path.basename(path)
    frames, meta = decode_y4m(content)
    out = []
    for i in sample_frame_indices(meta["n_frames"], _K_BY_FILE[name]):
        fr = frames[i]
        if "u" in fr:
            rgb = yuv420_to_rgb(fr)
            r, g, b = (int(rgb[0, 0, c]) for c in range(3))
        else:
            r = g = b = int(fr["y"][0, 0])
        out.append((name, i, meta["n_frames"], meta["h"], meta["w"],
                    float(fr["y"].mean()), r, g, b))
    return out


def _store_query(spark, leaf: str, rows_fn, schema: str):
    from paddleocr_spark.functions.udfs import data_rows, map_media_store

    store = ensure_av_store(cache_root())
    return data_rows(map_media_store(spark, os.path.join(store, leaf),
                                     rows_fn, schema))


def audio_features(spark, sf_dir: str):
    """CORRECTNESS query for the audio leg: every WAV of the store
    through the file loop (RIFF parse, mono mixdown, framed RMS) -> one
    row per frame. Store is sf-independent (the operator under test is
    decode+framing, not corpus scaling)."""
    return _store_query(spark, "audio", _audio_rows, AUDIO_SCHEMA)


def video_frames(spark, sf_dir: str):
    """CORRECTNESS query for the video leg: every Y4M of the store
    through the file loop (Y4M parse, uniform temporal sampling,
    per-sampled-frame mean luma + BT.601 RGB) -> one row per sampled
    frame."""
    return _store_query(spark, "video", _video_rows, VIDEO_SCHEMA)


def audio_oracle_sql() -> str:
    """Constant VALUES oracle from the analytic RMS formulas."""
    rows = ",\n  ".join(
        f"('{name}', CAST({k} AS BIGINT), CAST({rms!r} AS DOUBLE), "
        f"CAST({rate} AS BIGINT), CAST({ch} AS BIGINT))"
        for name, k, rms, rate, ch in AUDIO_SPEC)
    return ("SELECT * FROM (VALUES\n  " + rows +
            ") AS t(file, frame, rms, sample_rate, n_channels)")


def video_oracle_sql() -> str:
    """Constant VALUES oracle from the analytic frame formulas."""
    rows = ",\n  ".join(
        f"('{name}', CAST({i} AS BIGINT), CAST({n} AS BIGINT), "
        f"CAST({h} AS BIGINT), CAST({w} AS BIGINT), "
        f"CAST({my!r} AS DOUBLE), CAST({r} AS BIGINT), "
        f"CAST({g} AS BIGINT), CAST({b} AS BIGINT))"
        for name, i, n, h, w, my, r, g, b in VIDEO_SPEC)
    return ("SELECT * FROM (VALUES\n  " + rows +
            ") AS t(file, frame, n_frames, height, width, mean_y, r, g, b)")
