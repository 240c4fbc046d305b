"""Digests and timing of the JPEG codec over a fixed corpus.

Usage: python tools/jpeg_digests.py

Run it from the root of two checkouts (a change, and a ``git archive`` copy
of its parent) and diff the outputs: a codec change that keeps its outputs
prints the same digest lines.

The corpus is ``synth.pixels_for(i, size)`` for four (i, size) pairs,
encoded at quality 50 and 92 as a grayscale plane (the green channel) and
at 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0, in both scan layouts at restart
intervals 0-3, plus ``encode_progressive_jpeg`` at every color sampling.
Each file prints ``key sha256(encoder bytes) sha256(decoded planes)``; a
layout the checkout cannot encode prints ``NotImplementedError``.

Five 24x24 files then print the outcome counts over every strict prefix
(decoded, or the exception type) and one sha256 over the (length, planes)
of the prefixes that decode.

The last two lines are the single-thread wall time of encoding and of
decoding the files every layout can encode (restart intervals only in
interleaved color scans), the median of ``REPEAT`` passes.
"""

from __future__ import annotations

import collections
import hashlib
import statistics
import sys
import time

sys.path.insert(0, ".")

from pii_detection_service_spark.sources import jpegcodec, synth  # noqa: E402

SUBSAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}
PREFIX_KEYS = (
    "0/24/92/444/interleaved/0",
    "0/24/50/420/interleaved/2",
    "0/24/50/gray/interleaved/0",
    "0/24/50/422/per_component/0",
    "0/24/50/420/progressive/0",
)
REPEAT = 5


def corpus():
    """(key, timed, encode thunk) for every file of the corpus."""
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
                        )
                if name != "gray":
                    yield f"{i}/{size}/{q}/{name}/progressive/0", True, (
                        lambda px=px, q=q, sub=sub: jpegcodec.encode_progressive_jpeg(
                            px, q, subsampling=sub
                        )
                    )


def planes_sha(data: bytes) -> str:
    planes = jpegcodec._decode_jpeg_planes(data)
    return hashlib.sha256(b"".join(p.tobytes() for p in planes)).hexdigest()


def main() -> int:
    files, timed = {}, []
    for key, is_timed, encode in corpus():
        try:
            data = encode()
        except NotImplementedError:
            print(key, "NotImplementedError")
            continue
        files[key] = data
        print(key, hashlib.sha256(data).hexdigest(), planes_sha(data))
        if is_timed:
            timed.append(encode)

    for key in PREFIX_KEYS:
        data, ok, outcomes = files[key], hashlib.sha256(), collections.Counter()
        for n in range(len(data)):
            try:
                sha = planes_sha(data[:n])
            except Exception as e:  # noqa: BLE001 - the type is the outcome
                outcomes[type(e).__name__] += 1
                continue
            outcomes["decoded"] += 1
            ok.update(f"{n}:{sha}".encode())
        print("prefixes", key, dict(sorted(outcomes.items())), ok.hexdigest())

    encoded = [encode() for encode in timed]
    enc_s, dec_s = [], []
    for _ in range(REPEAT):
        t = time.perf_counter()
        for encode in timed:
            encode()
        enc_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        for data in encoded:
            jpegcodec._decode_jpeg_planes(data)
        dec_s.append(time.perf_counter() - t)
    n = len(timed)
    print(f"encode_s {statistics.median(enc_s):.3f} ({n} files, median of {REPEAT})")
    print(f"decode_s {statistics.median(dec_s):.3f} ({n} files, median of {REPEAT})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
