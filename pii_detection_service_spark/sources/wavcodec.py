"""Pure-Python WAV (RIFF) codec — the audio leg of the multimodal
binary-column family. Like jpegcodec.py this is a REAL container format:
output plays in any audio tool, and the decoder parses the chunk layout
from the file rather than assuming it. Chunks are packed and walked by
``riff.py``: an odd-length ``data`` chunk gets its pad byte, and a wrong
form type, a chunk cut short, or a missing fmt/data chunk raises
ValueError instead of returning part of the clip.

Supported encodings (both directions):
- PCM 16-bit (audioFormat 1, bits 16) — the canonical in-memory form;
- PCM 8-bit unsigned (audioFormat 1, bits 8);
- IEEE float32 (audioFormat 3);
- G.711 µ-law (audioFormat 7) and A-law (audioFormat 6), the standard
  telephony companders (ITU-T G.711) — 8 bits/sample, log-quantized.
Mono or stereo, any sample rate. Every decode NORMALIZES to int16, so the
downstream stats/feature kernels are encoding-agnostic. Honest seams:
actually-compressed formats (mp3/aac/adpcm tags) raise NotImplementedError;
a production cluster plugs ffmpeg in behind the same signatures and the
Spark-side plumbing (binary column, Arrow batches, numpy kernels) is
unchanged.
"""

from __future__ import annotations

import struct

import numpy as np

from . import riff

# --- G.711 companders -------------------------------------------------------
# Vectorized transliterations of the CCITT reference implementation (the
# one audioop/sox/libg711 all derive from): µ-law companding operates on
# the 14-bit domain (x >> 2), A-law on the 13-bit domain (x >> 3), with
# the canonical segment tables. Encoders are byte-exact vs CPython's
# audioop over the full int16 range (pinned by test); decoders are the
# standard expansions.
_ULAW_BIAS14 = 0x84 >> 2  # 33 in the 14-bit domain
_ULAW_CLIP14 = 8159
_SEG_UEND = np.array([0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF])
_SEG_AEND = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF])


def ulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 → µ-law uint8 (G.711, CCITT reference semantics)."""
    v = x.astype(np.int32) >> 2  # arithmetic shift → 14-bit domain
    mask = np.where(v < 0, 0x7F, 0xFF)
    v = np.minimum(np.abs(v), _ULAW_CLIP14) + _ULAW_BIAS14
    seg = np.digitize(v, _SEG_UEND, right=True)  # first seg with v <= end
    mantissa = (v >> (seg + 1)) & 0x0F
    uval = (seg << 4) | mantissa
    return (np.where(seg >= 8, 0x7F, uval) ^ mask).astype(np.uint8)


def ulaw_decode(u: np.ndarray) -> np.ndarray:
    """µ-law uint8 → int16 (G.711)."""
    u = (~u.astype(np.int32)) & 0xFF
    e = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + 0x84) << e) - 0x84
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 → A-law uint8 (G.711, CCITT reference semantics)."""
    v = x.astype(np.int32) >> 3  # arithmetic shift → 13-bit domain
    mask = np.where(v >= 0, 0xD5, 0x55)  # A-law marks positive + 0x55 flip
    v = np.where(v < 0, -v - 1, v)
    seg = np.digitize(v, _SEG_AEND, right=True)
    mantissa = np.where(seg < 2, (v >> 1) & 0x0F, (v >> seg) & 0x0F)
    aval = (seg << 4) | mantissa
    return (np.where(seg >= 8, 0x7F, aval) ^ mask).astype(np.uint8)


def alaw_decode(a: np.ndarray) -> np.ndarray:
    """A-law uint8 → int16 (G.711)."""
    a = a.astype(np.int32) ^ 0x55
    e = (a >> 4) & 0x07
    mantissa = a & 0x0F
    mag = np.where(
        e == 0, (mantissa << 4) + 8, ((mantissa << 4) + 0x108) << (e - 1)
    )
    return np.where(a & 0x80, mag, -mag).astype(np.int16)


_FMT_PCM, _FMT_FLOAT, _FMT_ALAW, _FMT_ULAW = 1, 3, 6, 7


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16000, encoding: str = "pcm16"
) -> bytes:
    """Encode int16 samples — shape (n,) mono or (n, 2) stereo — as WAV.
    ``encoding``: pcm16 (lossless), pcm8 (top byte), float32 (x/32768),
    ulaw / alaw (G.711 companding, lossy by design)."""
    assert samples.dtype == np.int16
    n_channels = 1 if samples.ndim == 1 else samples.shape[1]
    if encoding == "pcm16":
        tag, bits, data = _FMT_PCM, 16, samples.astype("<i2").tobytes()
    elif encoding == "pcm8":
        tag, bits = _FMT_PCM, 8
        data = (((samples.astype(np.int32) >> 8) + 128).astype(np.uint8)).tobytes()
    elif encoding == "float32":
        tag, bits = _FMT_FLOAT, 32
        data = (samples.astype(np.float32) / 32768.0).astype("<f4").tobytes()
    elif encoding == "ulaw":
        tag, bits, data = _FMT_ULAW, 8, ulaw_encode(samples).tobytes()
    elif encoding == "alaw":
        tag, bits, data = _FMT_ALAW, 8, alaw_encode(samples).tobytes()
    else:
        raise ValueError(f"unknown encoding {encoding!r}")
    block_align = n_channels * bits // 8
    byte_rate = sample_rate * block_align
    fmt = struct.pack(
        "<HHIIHH", tag, n_channels, sample_rate, byte_rate, block_align, bits
    )
    return riff.form(b"WAVE", riff.chunk(b"fmt ", fmt) + riff.chunk(b"data", data))


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a WAV file to (int16 samples [(n,) or (n, 2)], sample_rate).
    Walks the chunk chain (extra chunks like LIST/INFO are skipped)."""
    fmt = None
    raw = None
    for tag, payload in riff.read(data, b"WAVE"):
        if tag == b"fmt ":
            if len(payload) < 16:
                raise ValueError(f"fmt chunk of {len(payload)} bytes, need 16")
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif tag == b"data":
            raw = payload
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format == _FMT_PCM and bits == 16:
        samples = np.frombuffer(raw, dtype="<i2").copy()
    elif audio_format == _FMT_PCM and bits == 8:
        # 8-bit WAV is unsigned; widen to int16
        samples = (
            (np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128) << 8
        ).astype(np.int16)
    elif audio_format == _FMT_FLOAT and bits == 32:
        f = np.frombuffer(raw, dtype="<f4").astype(np.float64)
        samples = np.clip(np.round(f * 32768.0), -32768, 32767).astype(np.int16)
    elif audio_format == _FMT_ULAW and bits == 8:
        samples = ulaw_decode(np.frombuffer(raw, dtype=np.uint8))
    elif audio_format == _FMT_ALAW and bits == 8:
        samples = alaw_decode(np.frombuffer(raw, dtype=np.uint8))
    else:
        raise NotImplementedError(
            f"audioFormat {audio_format} / {bits}-bit: PCM(8/16), "
            "float32, µ-law and A-law are decoded here — actually-"
            "compressed audio needs a real decoder (ffmpeg)"
        )
    if n_channels == 2:
        samples = samples.reshape(-1, 2)
    elif n_channels != 1:
        raise NotImplementedError("only mono/stereo")
    return samples, sample_rate


def synth_clip(i: int, sr: int = 16000, seconds: float = 0.25) -> np.ndarray:
    """Deterministic synthetic clip: seeded sine mix + noise; every 7th
    clip has a silent tail and every 11th clips (saturates) — planted
    structure for the stats/feature kernels."""
    rng = np.random.default_rng(987654321 + i)
    n = int(sr * seconds)
    t = np.arange(n) / sr
    f1, f2 = float(rng.integers(100, 2000)), float(rng.integers(2000, 7000))
    x = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.2 * np.sin(2 * np.pi * f2 * t)
    x += rng.normal(0, 0.03, n)
    if i % 7 == 0:
        x[2 * n // 3 :] = 0.0  # silence tail
    gain = 3.0 if i % 11 == 0 else 0.8  # clipping cluster
    return np.clip(x * gain * 32767, -32768, 32767).astype(np.int16)
