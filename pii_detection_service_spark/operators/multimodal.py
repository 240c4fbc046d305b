"""Multimodal column operators: binary media + typed metadata.

Images/audio/video are opaque ``binary`` columns with typed metadata
(input_hint: bytes/w/h/fmt). All ops are Arrow-batched ``mapInPandas`` —
the Spark-side plumbing (schema, batch shape, partition behavior) is real
and tested. Every codec behind it is a real pure-Python one: images go
through ``sources/imagecodec.decode`` (PNG, baseline/progressive JPEG,
GIF, BMP, WebP), audio through ``sources/wavcodec.py`` (PCM, float32,
G.711) and video frames through ``sources/avicodec.py`` (MJPEG AVI),
animated GIF and animated WebP. Formats outside those codecs (other
video compressions, compressed audio) raise NotImplementedError.

Memory note (matters at 100 TB): binary columns ride inside Arrow record
batches — cap `spark.sql.execution.arrow.maxRecordsPerBatch` and the parquet
`columnarReaderBatchSize` so a batch of images fits executor memory
(empirically: 4 MB-ish images × 4096-row default batches OOM a 1 GB heap).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources import imagecodec, pngcodec

DECODE_STATS_DDL = "image_id string, dec_w int, dec_h int, mean_px double, decode_ok boolean"
FEATURES_DDL = "image_id string, features array<float>"
RESIZE_DDL = "image_id string, bytes binary, w int, h int, fmt string"
FRAMES_DDL = "image_id string, frame_idx int, frame_bytes binary"


def decode_stats(df: DataFrame) -> DataFrame:
    """Decode + per-image stats (the pixel-invariant verification path)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                try:
                    px = imagecodec.decode(bytes(data), fmt)
                    rows.append((iid, px.shape[1], px.shape[0], float(px.mean()), True))
                except Exception:
                    rows.append((iid, 0, 0, 0.0, False))
            yield pd.DataFrame(
                rows, columns=["image_id", "dec_w", "dec_h", "mean_px", "decode_ok"]
            )

    return df.select("image_id", "bytes", "fmt").mapInPandas(fn, DECODE_STATS_DDL)


def extract_features(df: DataFrame, grid: int = 4) -> DataFrame:
    """Feature-extract: grid-mean RGB vector (grid²·3 floats) per image —
    the deterministic stand-in for an embedding model; identical plumbing
    (binary in, array<float> out, Arrow-batched)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                px = imagecodec.to_rgb(
                    imagecodec.decode(bytes(data), fmt)
                ).astype(np.float32)
                h, w, _ = px.shape
                ys = (np.arange(grid + 1) * h) // grid
                xs = (np.arange(grid + 1) * w) // grid
                v = [
                    float(px[ys[i]: ys[i + 1], xs[j]: xs[j + 1], c].mean())
                    for i in range(grid)
                    for j in range(grid)
                    for c in range(3)
                ]
                ids.append(iid)
                feats.append(v)
            yield pd.DataFrame({"image_id": ids, "features": feats})

    return df.select("image_id", "bytes", "fmt").mapInPandas(fn, FEATURES_DDL)


def resize(df: DataFrame, out_size: int) -> DataFrame:
    """Resize (nearest-neighbor, deterministic) and re-encode as PNG."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                px = imagecodec.to_rgb(imagecodec.decode(bytes(data), fmt))
                h, w, _ = px.shape
                yi = (np.arange(out_size) * h) // out_size
                xi = (np.arange(out_size) * w) // out_size
                small = px[yi][:, xi]
                png = pngcodec.encode_png(small, filter_strategy="none")
                rows.append((iid, png, out_size, out_size, "png"))
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt"]
            )

    return df.select("image_id", "bytes", "fmt").mapInPandas(fn, RESIZE_DDL)


# --- audio: real WAV (RIFF/PCM) binary column --------------------------------

# "Saturated" level for clip detection: ≈ 98% of full scale rather than
# exactly 32767, so clipping survives companded/8-bit/float round-trips
# (G.711 µ-law decodes a saturated sample to 32124, A-law to 32256, 8-bit
# PCM to 32512 — an exact-32767 detector would silently report clip_frac
# = 0 for any companded source).
AUDIO_CLIP_LEVEL = 32100

AUDIO_STATS_DDL = (
    "audio_id string, sr int, n_samples int, duration_sec double, "
    "rms double, zero_cross_rate double, clip_frac double, silence_frac double"
)
AUDIO_FEATURES_DDL = "audio_id string, features array<float>"


def audio_stats(df: DataFrame) -> DataFrame:
    """Decode WAV bytes and compute per-clip quality stats — the audio
    analog of decode_stats: duration, RMS level, zero-crossing rate, the
    fraction of clipped (saturated) samples and of near-silent samples.
    These four drive the audio keep/drop heuristics a training-data
    pipeline runs (too-quiet, clipped, too-short). Decode errors propagate
    and fail the query, never a silent partial row: a non-PCM format
    raises NotImplementedError, a truncated or non-WAVE file ValueError."""
    from ..sources import wavcodec

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, data in zip(pdf["audio_id"], pdf["bytes"]):
                s, sr = wavcodec.decode_wav(bytes(data))
                if s.ndim == 2:
                    s = s.mean(axis=1)
                x = s.astype(np.float64) / 32768.0
                n = len(x)
                rms = float(np.sqrt((x * x).mean())) if n else 0.0
                zcr = float((np.diff(np.signbit(x)) != 0).mean()) if n > 1 else 0.0
                # widen before abs: np.abs(int16 -32768) overflows back to
                # -32768 and would drop negative-rail saturation from the count
                clip = (
                    float((np.abs(s.astype(np.float64)) >= AUDIO_CLIP_LEVEL).mean())
                    if n
                    else 0.0
                )
                sil = float((np.abs(x) < 1e-3).mean()) if n else 1.0
                rows.append(
                    (aid, sr, n, n / sr, rms, zcr, clip, sil)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "audio_id", "sr", "n_samples", "duration_sec",
                    "rms", "zero_cross_rate", "clip_frac", "silence_frac",
                ],
            )

    return df.select("audio_id", "bytes").mapInPandas(fn, AUDIO_STATS_DDL)


# --- audio keep/drop heuristics (the audio analog of quality.keep_decision:
# first failing rule wins, '' when kept; rule order is part of the contract) --
AUDIO_MIN_DURATION_SEC = 0.1
AUDIO_MAX_CLIP_FRAC = 0.01
AUDIO_MIN_RMS = 0.01
AUDIO_MAX_SILENCE_FRAC = 0.25


def audio_keep_decision(stats: DataFrame) -> DataFrame:
    """Keep/drop rule chain over :func:`audio_stats` output — the gate a
    training-data pipeline runs on audio clips: too_short (sub-0.1 s),
    clipped (saturated samples), too_quiet (RMS floor), silent (dominant
    near-silence). Pure column expressions (JVM-side); the stats themselves
    come from the Arrow WAV kernel upstream. Output carries only discrete
    and rational columns, so the DuckDB twin is exact with no float
    quantization."""
    import pyspark.sql.functions as F

    reason = (
        F.when(F.col("duration_sec") < AUDIO_MIN_DURATION_SEC, "too_short")
        .when(F.col("clip_frac") > AUDIO_MAX_CLIP_FRAC, "clipped")
        .when(F.col("rms") < AUDIO_MIN_RMS, "too_quiet")
        .when(F.col("silence_frac") > AUDIO_MAX_SILENCE_FRAC, "silent")
        .otherwise("")
    )
    return stats.select(
        "audio_id",
        "sr",
        "n_samples",
        "duration_sec",
        reason.alias("drop_reason"),
    ).withColumn("keep", F.col("drop_reason") == "")


def audio_features(df: DataFrame, n_bands: int = 8) -> DataFrame:
    """Real spectral features via numpy rFFT: log energy in ``n_bands``
    equal-width frequency bands plus the spectral centroid — a
    deterministic stand-in for a learned audio embedding with identical
    plumbing (binary in, array<float> out, Arrow-batched)."""
    from ..sources import wavcodec

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for aid, data in zip(pdf["audio_id"], pdf["bytes"]):
                s, sr = wavcodec.decode_wav(bytes(data))
                if s.ndim == 2:
                    s = s.mean(axis=1)
                x = s.astype(np.float64) / 32768.0
                spec = np.abs(np.fft.rfft(x)) ** 2
                freqs = np.fft.rfftfreq(len(x), 1.0 / sr)
                total = float(spec.sum())
                centroid = float((freqs * spec).sum() / total) if total > 0 else 0.0
                edges = np.linspace(0, len(spec), n_bands + 1).astype(int)
                bands = [
                    float(np.log1p(spec[edges[b] : edges[b + 1]].sum()))
                    for b in range(n_bands)
                ]
                ids.append(aid)
                feats.append(bands + [centroid])
            yield pd.DataFrame({"audio_id": ids, "features": feats})

    return df.select("audio_id", "bytes").mapInPandas(fn, AUDIO_FEATURES_DDL)


def synth_audio_table(spark, n: int) -> DataFrame:
    """Distributed deterministic audio table (audio_id, bytes, sr): real
    WAV bytes generated per partition — same no-driver-materialization
    shape as sources.synth.synth_spark."""
    from ..sources import wavcodec

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "audio_id": [f"aud_{i:08d}" for i in ids],
                    "bytes": [
                        wavcodec.encode_wav(wavcodec.synth_clip(int(i)))
                        for i in ids
                    ],
                    "sr": [16000] * len(ids),
                }
            )

    return spark.range(n).mapInPandas(gen, "audio_id string, bytes binary, sr int")


# --- video-style containers: frame sampling ---------------------------------

def sample_frames(df: DataFrame, every: int = 2) -> DataFrame:
    """Frame-sample: explode every ``every``-th frame from the container
    into its own row (binary) — the mapInPandas row-expanding shape a
    video pipeline uses. Dispatches by magic: REAL MJPEG AVI containers
    (sources/avicodec.mjpeg_payloads) yield their raw per-frame JPEG
    payloads without pixel-decoding anything (sampling is a container
    walk, not a decode) after the decoder's own MJPG and truncation
    checks, so a non-MJPEG stream or a cut-short file raises instead of
    emitting a partial frame; animated GIFs (sources/gifcodec.py) MUST
    decode+composite — a GIF frame is a delta over the prior canvas
    (disposal/transparency), so sampled frames are emitted as standalone
    PNG bytes; anything else raises."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                data = bytes(data)
                if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
                    from ..sources import avicodec

                    frames, _fps = avicodec.mjpeg_payloads(data)
                    for idx, frame in enumerate(frames):
                        if idx % every == 0:
                            rows.append((iid, idx, frame))
                    continue
                if data[:6] in (b"GIF87a", b"GIF89a"):
                    from ..sources import gifcodec

                    for idx, frame in enumerate(gifcodec.decode_gif_frames(data)):
                        if idx % every == 0:
                            png = pngcodec.encode_png(frame, filter_strategy="none")
                            rows.append((iid, idx, png))
                    continue
                if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
                    # animated WebP (ANIM/ANMF): frames are deltas over the
                    # canvas (blend/dispose), composited to standalone PNGs
                    # exactly like the GIF path; still WebP yields 1 frame
                    from ..sources import webpcodec

                    for idx, (frame, _dur) in enumerate(
                        webpcodec.decode_webp_frames(data)
                    ):
                        if idx % every == 0:
                            # composited canvas → standalone RGB PNG (the
                            # GIF-path convention)
                            png = pngcodec.encode_png(
                                frame[..., :3], filter_strategy="none"
                            )
                            rows.append((iid, idx, png))
                    continue
                raise NotImplementedError(
                    "unknown video container (not AVI/MJPEG, GIF or WebP) — "
                    "other formats need a real decoder (ffmpeg)"
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "frame_idx", "frame_bytes"]
            )

    return df.select("image_id", "bytes").mapInPandas(fn, FRAMES_DDL)

