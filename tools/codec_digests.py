"""Digests and timing of the JPEG and VP8 codecs over fixed corpora.

Usage: python tools/codec_digests.py

Run it from the root of two checkouts (a change, and a ``git archive`` copy
of its parent) and diff the outputs: a codec change that keeps its outputs
prints the same digest lines.

Each section prints three kinds of lines:

- ``key sha256(encoder bytes) sha256(decoded planes)`` for every file of
  its corpus; a layout the checkout cannot encode prints
  ``NotImplementedError``;
- ``prefixes key {outcome: count} sha256``: the outcome over every strict
  prefix of a few files (decoded, or the exception type) and one sha256
  over the (length, planes) of the prefixes that decode;
- ``<codec>_encode_s`` / ``<codec>_decode_s``: single-thread wall time of
  encoding and of decoding the section's timed files, the median of
  ``REPEAT`` passes.

JPEG: ``synth.pixels_for(i, size)`` for four (i, size) pairs, encoded at
quality 50 and 92 as a grayscale plane (the green channel) and at 4:4:4 /
4:2:0 / 4:2:2 / 4:4:0, in both scan layouts at restart intervals 0-3, plus
``encode_progressive_jpeg`` at every color sampling. The timed files are
the ones every layout can encode (restart intervals only in interleaved
color scans).

VP8: ``synth.pixels_for(i, size)`` for three (i, size) pairs, as is
("noisy": mostly B_PRED) and posterized to 4 levels ("flat": 16x16 modes
and skipped macroblocks), through ``VP8Encoder`` in five configurations at
qi 0, 18 and 60 (planes: ``decode_vp8``), plus ``encode_webp_vp8`` of the
noisy pixels with an alpha ramp (planes: ``webpcodec.decode_webp``). The
timed files are the qi 18 encoder streams.
"""

from __future__ import annotations

import collections
import hashlib
import statistics
import sys
import time

sys.path.insert(0, ".")

import numpy as np  # noqa: E402

from pii_detection_service_spark.sources import (  # noqa: E402
    jpegcodec,
    synth,
    vp8codec,
    webpcodec,
)

REPEAT = 5

SUBSAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}
JPEG_PREFIX_KEYS = (
    "0/24/92/444/interleaved/0",
    "0/24/50/420/interleaved/2",
    "0/24/50/gray/interleaved/0",
    "0/24/50/422/per_component/0",
    "0/24/50/420/progressive/0",
)

VP8_CONFIGS = {
    "default": {},
    "force_bpred": {"force_bpred": True},
    "skip": {"use_skip": True},
    "skip_parts8": {"use_skip": True, "log2_parts": 3},
    "no_bpred_skip": {"allow_bpred": False, "use_skip": True},
}
VP8_PREFIX_KEYS = (
    "vp8/0/24/noisy/18/default",
    "vp8/5/29/flat/18/skip_parts8",
    "vp8/9/40/flat/60/no_bpred_skip",
)


def jpeg_corpus():
    """(key, timed, encode thunk, planes decoder) for every JPEG file."""
    for i, size in ((0, 24), (5, 29), (7, 33), (9, 40)):
        px = synth.pixels_for(i, size=size)
        for q in (50, 92):
            for name in ("gray", *SUBSAMPLING):
                img = px[..., 1].copy() if name == "gray" else px
                sub = SUBSAMPLING.get(name, (1, 1))
                for layout in ("interleaved", "per_component"):
                    for ri in range(4):
                        timed = not ri or (layout == "interleaved" and name != "gray")
                        yield f"{i}/{size}/{q}/{name}/{layout}/{ri}", timed, (
                            lambda img=img, q=q, sub=sub, ri=ri, layout=layout:
                            jpegcodec.encode_baseline_jpeg(
                                img, q, subsampling=sub, restart_interval=ri,
                                scan_layout=layout,
                            )
                        ), jpegcodec._decode_jpeg_planes
                if name != "gray":
                    yield f"{i}/{size}/{q}/{name}/progressive/0", True, (
                        lambda px=px, q=q, sub=sub: jpegcodec.encode_progressive_jpeg(
                            px, q, subsampling=sub
                        )
                    ), jpegcodec._decode_jpeg_planes


def _webp_rgba(data: bytes):
    return [webpcodec.decode_webp(data)]


def vp8_corpus():
    """(key, timed, encode thunk, planes decoder) for every VP8 file."""
    for i, size in ((0, 24), (5, 29), (9, 40)):
        noisy = synth.pixels_for(i, size=size)
        for look, px in (("noisy", noisy), ("flat", noisy // 64 * 64 + 32)):
            y, u, v = vp8codec.rgb_to_yuv(px)
            for q in (0, 18, 60):
                for name, kw in VP8_CONFIGS.items():
                    yield f"vp8/{i}/{size}/{look}/{q}/{name}", q == 18, (
                        lambda y=y, u=u, v=v, q=q, kw=kw:
                        vp8codec.VP8Encoder(y, u, v, qi=q, **kw).encode()
                    ), vp8codec.decode_vp8
        alpha = np.add.outer(np.arange(size), np.arange(size)) * 255 // (2 * size)
        rgba = np.dstack([noisy, alpha]).astype(np.uint8)
        yield f"vp8/{i}/{size}/alpha/4/webp", False, (
            lambda rgba=rgba: vp8codec.encode_webp_vp8(rgba, qi=4)
        ), _webp_rgba


def planes_sha(decode, data: bytes) -> str:
    return hashlib.sha256(b"".join(p.tobytes() for p in decode(data))).hexdigest()


def section(codec: str, corpus, prefix_keys) -> None:
    files, timed = {}, []
    for key, is_timed, encode, decode in corpus:
        try:
            data = encode()
        except NotImplementedError:
            print(key, "NotImplementedError")
            continue
        files[key] = data, decode
        print(key, hashlib.sha256(data).hexdigest(), planes_sha(decode, data))
        if is_timed:
            timed.append((encode, decode))

    for key in prefix_keys:
        (data, decode), ok = files[key], hashlib.sha256()
        outcomes = collections.Counter()
        for n in range(len(data)):
            try:
                sha = planes_sha(decode, data[:n])
            except Exception as e:  # noqa: BLE001 - the type is the outcome
                outcomes[type(e).__name__] += 1
                continue
            outcomes["decoded"] += 1
            ok.update(f"{n}:{sha}".encode())
        print("prefixes", key, dict(sorted(outcomes.items())), ok.hexdigest())

    encoded = [(encode(), decode) for encode, decode in timed]
    enc_s, dec_s = [], []
    for _ in range(REPEAT):
        t = time.perf_counter()
        for encode, _ in timed:
            encode()
        enc_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        for data, decode in encoded:
            decode(data)
        dec_s.append(time.perf_counter() - t)
    n = len(timed)
    for name, runs in (("encode", enc_s), ("decode", dec_s)):
        print(f"{codec}_{name}_s {statistics.median(runs):.3f} ({n} files, median of {REPEAT})")


def main() -> int:
    section("jpeg", jpeg_corpus(), JPEG_PREFIX_KEYS)
    section("vp8", vp8_corpus(), VP8_PREFIX_KEYS)
    return 0


if __name__ == "__main__":
    sys.exit(main())
