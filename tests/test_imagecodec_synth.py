"""Codec round-trip + synth determinism + input_hint invariants."""

import numpy as np

from pii_detection_service_spark.sources import imagecodec, pngcodec, synth


def test_png_roundtrip_lossless():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    out = pngcodec.decode_png(pngcodec.encode_png(px, filter_strategy="none"))
    assert np.array_equal(px, out)
    assert imagecodec.psnr(px, out) == float("inf")


def test_average_hash_deterministic_and_sensitive():
    px = synth.pixels_for(5)
    assert imagecodec.average_hash(px) == imagecodec.average_hash(px.copy())
    assert imagecodec.average_hash(synth.pixels_for(5)) != imagecodec.average_hash(
        synth.pixels_for(6)
    )


def test_synth_deterministic_rows():
    a = synth.make_row(123)
    b = synth.make_row(123)
    assert a == b
    df = synth_df = synth.synth_pandas(50)
    assert list(df.columns) == synth.INPUT_COLUMNS
    assert df["image_id"].is_unique
    # duplicate-image cluster shares phash (skew cluster: i % 11 == 0)
    ph = synth_df.set_index("image_id")["phash"]
    assert ph["img_00000000"] == ph["img_00000011"] == ph["img_00000044"]
    assert ph["img_00000001"] != ph["img_00000000"]


def test_synth_decode_matches_source_pixels():
    for i in [0, 1, 2, 3]:
        row = synth.make_row(i)
        px = synth.pixels_for(i)
        dec = imagecodec.decode(row["bytes"], row["fmt"])
        assert imagecodec.psnr(px, dec) >= 40.0
        if row["fmt"] == "png":
            assert np.array_equal(px, dec)


def test_caption_mix_covers_all_rule_paths():
    from pii_detection_service_spark.functions import quality, tagger

    caps = [synth.caption_for(i) for i in range(400)]
    reasons = set()
    n_pii = 0
    for c in caps:
        lang = quality.langid_stopword(c)
        keep, reason = quality.keep_decision(c, lang, quality.perplexity(c))
        reasons.add(reason)
        if tagger.find_pii_spans(c):
            n_pii += 1
    assert {"", "too_short", "too_few_words", "symbol_heavy", "repetitive"} <= reasons
    assert n_pii >= 20  # PII actually planted
