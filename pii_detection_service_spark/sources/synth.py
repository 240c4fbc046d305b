"""Deterministic synthetic image+caption table (BASELINE.json ``input_hint``).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash int64). Everything derives from the row index and a
fixed seed — the same row is bit-identical whether generated in a test
process or inside a distributed ``mapInPandas`` task, so golden expectations
hold across parallelism levels.

Planted structure (all seeded):
- ~70% English captions (the dominant-language cluster the north rule's
  salted repartition is for), the rest es/de/fr/degenerate.
- PII planted into a fixed fraction (emails, phones, gazetteer names,
  street addresses, URLs, usernames, SSN-style ids).
- Degenerate captions exercising every keep/drop rule.
- A small cluster of exact-duplicate images (same pixels → same phash) for
  dedup operators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import imagecodec, jpegcodec, pngcodec

SEED = 20240816

INPUT_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
_INPUT_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)

_NOUNS = "person dog cat table room tree car house bird flower street city beach mountain book".split()
_ADJS = "small large red quiet bright old modern wooden happy busy".split()
_VERBS = "sitting standing running sleeping reading walking playing waiting".split()

_ES = "una foto de la persona con el perro en la mesa de los arboles por la calle".split()
_DE = "ein foto von der person mit dem hund auf das tisch und die strasse für alle".split()
_FR = "une photo de la personne avec le chien sur les tables est pour des rues".split()

_PII_SNIPPETS = [
    "contact Alice Johnson at alice.j@example.com for details",
    "call Robert Smith on 212-555-1234 about this",
    "sent by Maria Lopez from 456 Elm St yesterday",
    "uploaded by @carlos_v see http://carlos.example.net/pics",
    "owner SSN 123-45-6789 on file with Dr. Robert Smith",
    "reach Gilberto Gamboa at (555) 123-4567 tonight",
]

_DEGENERATE = [
    "tiny",                                   # too_short
    "x " * 1200,                              # too_long (>2048 chars)
    "onlytwo words",                          # too_few_words
    "$$$ ### @@@ !!! %%% ^^^ &&&",            # symbol_heavy
    "spam spam spam spam spam spam",          # repetitive
]


def _words(rng: np.random.Generator, pool: list[str], n: int) -> str:
    return " ".join(pool[i] for i in rng.integers(0, len(pool), n))


def caption_for(i: int) -> str:
    """Deterministic caption for row i."""
    rng = np.random.default_rng(SEED * 1_000_003 + i)
    r = rng.random()
    if r < 0.10:
        return _DEGENERATE[int(rng.integers(0, len(_DEGENERATE)))]
    if r < 0.17:
        return "la foto de " + _words(rng, _ES, 8)
    if r < 0.24:
        return "das foto von " + _words(rng, _DE, 8)
    if r < 0.30:
        return "une photo de " + _words(rng, _FR, 8)
    base = (
        f"a photo of the {_ADJS[int(rng.integers(0, len(_ADJS)))]} "
        f"{_NOUNS[int(rng.integers(0, len(_NOUNS)))]} "
        f"{_VERBS[int(rng.integers(0, len(_VERBS)))]} near the "
        f"{_NOUNS[int(rng.integers(0, len(_NOUNS)))]} and the "
        f"{_NOUNS[int(rng.integers(0, len(_NOUNS)))]}"
    )
    if r < 0.42:  # plant PII into ~12% of rows
        return base + ", " + _PII_SNIPPETS[int(rng.integers(0, len(_PII_SNIPPETS)))]
    if r < 0.47:  # plant toxicity into ~5% (scrub-masked, not dropped)
        return base + ", what a stupid damn scene honestly"
    return base


def pixels_for(i: int, size: int = 24) -> np.ndarray:
    """Deterministic pixel content. Rows with i % 11 == 0 (~9%) share one
    image — an exact-duplicate cluster that (a) feeds the dedup operators
    and (b) concentrates one phash bucket, so the stage's salted
    repartition is exercised by genuinely skewed data."""
    key = 0 if i % 11 == 0 else i
    rng = np.random.default_rng(SEED * 7_000_003 + key)
    yy, xx = np.mgrid[0:size, 0:size]
    # per-image gradient direction/frequency so average-hash bits vary
    # across images (a pure vertical gradient makes every phash collide)
    a = int(rng.integers(1, 8))
    b = int(rng.integers(0, 8))
    base = ((yy * a + xx * b) * 255 // size + int(rng.integers(0, 97)))[
        ..., None
    ] * np.array([1, 2, 3]) // 3
    noise = rng.integers(0, 64, (size, size, 3))
    return ((base + noise) % 256).astype(np.uint8)


def make_row(i: int, size: int = 24) -> dict:
    px = pixels_for(i, size)
    fmt = "png" if i % 3 else "jpeg"
    data = (
        pngcodec.encode_png(px, filter_strategy="none")
        if fmt == "png"
        else jpegcodec.encode_baseline_jpeg(px, quality=98)
    )
    return {
        "image_id": f"img_{i:08d}",
        "bytes": data,
        "w": size,
        "h": size,
        "fmt": fmt,
        "caption": caption_for(i),
        "phash": imagecodec.average_hash(px),
    }


def make_row_mixed(i: int, size: int = 24) -> dict:
    """Like :func:`make_row` but cycling through the real-corpus format mix:
    PNG, baseline color JPEG, GRAYSCALE (1-component) JPEG, 4:2:0 color
    JPEG, palette GIF, 24-bit BMP, lossless WebP (VP8L), and lossy WebP
    (VP8 key frame, r5) — the layouts a 100 TB crawl actually contains.
    Deliberately a separate generator so the main synth table (and every
    bench cache keyed on it) stays byte-stable."""
    px = pixels_for(i, size)
    variant = i % 8
    if variant == 0:
        fmt, data = "png", pngcodec.encode_png(px, filter_strategy="none")
    elif variant == 1:
        fmt, data = "jpeg", jpegcodec.encode_baseline_jpeg(px, quality=98)
    elif variant == 2:
        # luma plane per the encoder's own color transform (BT.601)
        luma = np.clip(
            np.round(px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])),
            0, 255,
        ).astype(np.uint8)
        fmt, data = "jpeg", jpegcodec.encode_baseline_jpeg(luma, quality=98)
    elif variant == 3:
        fmt, data = "jpeg", jpegcodec.encode_baseline_jpeg(
            px, quality=98, subsampling=(2, 2)
        )
    elif variant == 4:
        from . import gifcodec

        # posterize to 4 levels/channel (≤64 colors) so the exact-palette
        # GIF writer never overflows 256 entries on noise content; the
        # posterized pixels ARE the ground truth (palette GIF is lossless)
        fmt, data = "gif", gifcodec.encode_gif((px >> 6) << 6)
    elif variant == 5:
        from . import bmpcodec

        fmt, data = "bmp", bmpcodec.encode_bmp(px)
    elif variant == 6:
        from . import webpcodec

        # VP8L is lossless: the source pixels ARE the ground truth
        fmt, data = "webp", webpcodec.encode_webp_lossless(
            px, subtract_green=True, lz77=True
        )
    else:
        from . import vp8codec

        # lossy WebP: VP8 key frame at the near-lossless quantizer
        fmt, data = "webp", vp8codec.encode_webp_vp8(px, qi=4)
    return {
        "image_id": f"img_{i:08d}",
        "bytes": data,
        "w": size,
        "h": size,
        "fmt": fmt,
        "caption": caption_for(i),
        "phash": imagecodec.average_hash(px),
    }


def synth_spark_mixed(spark, n: int, size: int = 24):
    """Distributed mixed-format table (see make_row_mixed)."""
    return _synth_spark(spark, n, make_row_mixed, size)


def synth_pandas(n: int, size: int = 24, start: int = 0) -> pd.DataFrame:
    df = pd.DataFrame([make_row(i, size) for i in range(start, start + n)])
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    df["phash"] = df["phash"].astype("int64")
    return df


def synth_spark(spark, n: int, size: int = 24, num_partitions: int | None = None):
    """Distributed generation: spark.range → mapInPandas; each task generates
    only its own row span (no driver-side materialization → scales to any n)."""
    return _synth_spark(spark, n, make_row, size, num_partitions)


def _synth_spark(spark, n: int, row_fn, size: int, num_partitions: int | None = None):
    """spark.range(n) → mapInPandas of ``row_fn(i, size)`` over each task's
    own id span, in the INPUT_COLUMNS schema."""

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame([row_fn(int(i), size) for i in pdf["id"]])
            out["w"] = out["w"].astype("int32")
            out["h"] = out["h"].astype("int32")
            yield out[INPUT_COLUMNS]

    rng_df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=_INPUT_DDL)


_NAME_ONSETS = "b br c ch d f g gr h j k l m n p r s sh t th v w".split()
_NAME_NUCLEI = "a e i o u ai ei ia io".split()
_NAME_CODAS = ["", "n", "r", "l", "s", "m", "t", "k", "ra", "na", "la"]


def synth_gazetteer(n: int = 20000) -> frozenset:
    """Deterministic ≥n-entry given-name gazetteer for artifact-scale
    tests/benches (the builtin FIRST_NAMES is ~50 names; a production
    pipeline broadcasts 10⁴-10⁵). Names are CV(C) syllable products —
    pronounceable-ish, lowercase (the tagger folds case), disjoint from
    ordinary caption vocabulary with overwhelming likelihood, and always a
    SUPERSET of the builtin set so golden behavior is preserved when used
    as extra_names. 22×9×11 two-syllable stems × suffix variants ≥ 20k."""
    from ..functions.tagger import FIRST_NAMES

    names = set(FIRST_NAMES)
    syll = [
        o + v + c for o in _NAME_ONSETS for v in _NAME_NUCLEI for c in _NAME_CODAS
    ]
    i = 0
    while len(names) < n:
        a = syll[i % len(syll)]
        b = syll[(i * 7 + i // len(syll)) % len(syll)]
        names.add(a + b)
        i += 1
    return frozenset(names)
