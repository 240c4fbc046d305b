"""Image decode dispatch and pixel helpers, all pure Python (no
PIL/libjpeg needed). ``decode(data, fmt)`` routes to the format's own
codec module, which is also where callers encode:

- PNG: ``pngcodec.py``. Decode covers all five filters, color types
  0/2/3/4/6, bit depths 1-16, Adam7, tRNS and CRC validation — real crawl
  PNGs, not just our own output. The synth corpus encodes with
  ``pngcodec.encode_png(px, filter_strategy="none")``; the corpus and
  every bench cache are keyed on those exact bytes.
- JPEG: ``jpegcodec.py``, a real JFIF codec (baseline and progressive,
  4:4:4 through 4:2:0, 1-component grayscale). The synth corpus calls
  ``encode_baseline_jpeg(px, quality=98)`` (the codec default is 92) so
  noise-heavy synth images hold the 40 dB PSNR invariant from
  BASELINE.json input_hint (worst measured 43.4 dB).
- GIF, BMP and WebP: ``gifcodec.py``, ``bmpcodec.py``, ``webpcodec.py``.

``to_rgb`` normalizes any decoded shape to ``(h, w, 3)`` uint8.
"""

from __future__ import annotations

import numpy as np


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        from . import pngcodec

        return pngcodec.decode_png(data)
    if fmt == "jpeg":
        if data[:2] == b"\xff\xd8":
            from . import jpegcodec

            return jpegcodec.decode_baseline_jpeg(data)
        raise ValueError("jpeg-format bytes without an SOI marker")
    if fmt == "gif":
        from . import gifcodec

        # static view: first composited frame (animated GIFs go through
        # multimodal.sample_frames for the full frame sequence)
        return gifcodec.decode_gif(data)
    if fmt == "bmp":
        from . import bmpcodec

        return bmpcodec.decode_bmp(data)
    if fmt == "webp":
        from . import webpcodec

        # lossless VP8L and lossy VP8 (vp8codec), ALPH alpha included
        return webpcodec.decode_webp(data)
    raise NotImplementedError(
        f"format {fmt!r}: real decoders (libwebp/ffmpeg) are not available "
        "in this container; plug one in here"
    )


def to_rgb(px: np.ndarray) -> np.ndarray:
    """Channel-normalize decoded pixels to (h, w, 3) so downstream
    feature/resize plumbing is shape-stable across 1/2/3/4-component
    sources: grayscale broadcasts, alpha channels are dropped (the
    standard ingest normalization before any vision model — compositing
    would need a background choice the pipeline doesn't make)."""
    if px.ndim == 2:
        return np.repeat(px[..., None], 3, axis=-1)
    if px.shape[-1] == 2:  # gray + alpha
        return np.repeat(px[..., :1], 3, axis=-1)
    if px.shape[-1] == 4:  # RGBA
        return np.ascontiguousarray(px[..., :3])
    return px


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def average_hash(pixels: np.ndarray, grid: int = 8) -> int:
    """Deterministic 64-bit perceptual-style hash: grid-mean luma vs global
    mean. Drives phash-bucket partitioning; int64 (signed) for Spark."""
    lum = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = lum.shape
    ys = (np.arange(grid + 1) * h) // grid
    xs = (np.arange(grid + 1) * w) // grid
    cells = np.empty((grid, grid))
    for i in range(grid):
        for j in range(grid):
            cells[i, j] = lum[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
    bits = (cells > cells.mean()).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    # two's-complement into signed int64
    return v - (1 << 64) if v >= (1 << 63) else v
