"""Pure-Python AVI/MJPEG video container codec — the video leg of the
multimodal binary-column family (PNG/JPEG images → pngcodec/jpegcodec,
WAV audio → wavcodec, AVI video here).

MJPEG-in-AVI is a REAL, playable format: each frame is a baseline JFIF
JPEG (encoded by jpegcodec) stored as a '00dc' chunk inside the RIFF
'movi' list, with a standard 'hdrl' (avih + strh/strf) header block and
an 'idx1' keyframe index. Any mainstream player opens the output.

Chunks are packed and walked by ``riff.py``; this module recurses into
the LIST chunks and collects the '00dc'/'00db' frame payloads
(``mjpeg_payloads``, which frame sampling uses without decoding pixels),
then ``decode_avi_mjpeg`` hands them to jpegcodec.decode_baseline_jpeg.
A truncated chunk or a wrong form type raises ValueError. Honest seam:
non-MJPG video streams (biCompression other than 'MJPG') raise
NotImplementedError — plugging in ffmpeg behind the same functions is the
production path.
"""

from __future__ import annotations

import struct

import numpy as np

from . import riff


def _list(tag: bytes, payload: bytes) -> bytes:
    return riff.chunk(b"LIST", tag + payload)


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 10, quality: int = 92
) -> bytes:
    """Encode (h, w, 3) uint8 RGB frames as an MJPEG AVI."""
    from . import jpegcodec

    assert frames, "need at least one frame"
    h, w, _ = frames[0].shape
    jpegs = [jpegcodec.encode_baseline_jpeg(f, quality=quality) for f in frames]
    max_bytes = max(len(j) for j in jpegs)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,        # dwMicroSecPerFrame
        max_bytes * fps,         # dwMaxBytesPerSec
        0,                       # dwPaddingGranularity
        0x10,                    # dwFlags: AVIF_HASINDEX
        len(jpegs),              # dwTotalFrames
        0, 1,                    # dwInitialFrames, dwStreams
        max_bytes,               # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0,        # dwWidth, dwHeight, reserved×4
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<10I", 0, 0, 0, 1, fps, 0, len(jpegs), max_bytes, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    strl = _list(b"strl", riff.chunk(b"strh", strh) + riff.chunk(b"strf", strf))
    hdrl = _list(b"hdrl", riff.chunk(b"avih", avih) + strl)

    movi_payload = b""
    index = b""
    for j in jpegs:
        offset = 4 + len(movi_payload)  # from start of 'movi' list data
        movi_payload += riff.chunk(b"00dc", j)
        index += b"00dc" + struct.pack("<III", 0x10, offset, len(j))
    movi = _list(b"movi", movi_payload)
    idx1 = riff.chunk(b"idx1", index)

    return riff.form(b"AVI ", hdrl + movi + idx1)


def mjpeg_payloads(data: bytes) -> tuple[list[bytes], int]:
    """The raw JPEG payloads of an MJPEG AVI's frame chunks, and its fps.
    Walks the chunk tree without decoding pixels."""
    fps = 0
    compression = None
    frames: list[bytes] = []

    def walk(chunks):
        nonlocal fps, compression
        for tag, payload in chunks:
            if tag == b"LIST":
                walk(riff.chunks(payload, 4))  # skip the list type fourcc
            elif tag == b"avih":
                if len(payload) < 4:
                    raise ValueError(f"avih chunk of {len(payload)} bytes, need 4")
                # dwMicroSecPerFrame == 0 in a foreign/corrupt AVI must not
                # ZeroDivisionError past the codec's honest-seam contract
                uspf = struct.unpack_from("<I", payload)[0]
                fps = 1_000_000 // uspf if uspf else 0
            elif tag == b"strf" and len(payload) >= 20:
                compression = payload[16:20]
            elif tag in (b"00dc", b"00db"):
                frames.append(payload)

    walk(riff.read(data, b"AVI "))
    if compression is not None and compression not in (b"MJPG", b"mjpg"):
        raise NotImplementedError(
            f"video compression {compression!r}: only MJPEG is decoded here — "
            "other codecs need a real decoder (ffmpeg)"
        )
    return frames, fps


def decode_avi_mjpeg(data: bytes) -> tuple[list[np.ndarray], int]:
    """Decode an MJPEG AVI to ([frames], fps)."""
    from . import jpegcodec

    payloads, fps = mjpeg_payloads(data)
    return [jpegcodec.decode_baseline_jpeg(f) for f in payloads], fps


def synth_video(i: int, n_frames: int = 6, size: int = 24) -> list[np.ndarray]:
    """Deterministic frame sequence: the seeded base image of clip ``i``
    translated one pixel per frame (real motion for frame-diff kernels)."""
    from . import synth

    base = synth.pixels_for(i, size)
    return [np.roll(base, shift=f, axis=1) for f in range(n_frames)]
